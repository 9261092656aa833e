"""Stage 1: clips → signatures.

One ``mapInPandas`` pass per input partition computes, per clip:
- ``content_key``: 128-bit blake2b digest of (normalized transcript, raw
  bytes) — the exact-dup short-circuit key (identical content ⇒ duplicate
  without pairwise verification; generalizes the reference's
  identical-signature fast path). 128 bits keeps the expected collision count
  ≈ n²/2¹²⁹ ≈ 10⁻¹⁵ even at the north-star 10¹² clips; a collision would be
  an unverified false merge, so the digest is sized to make that impossible
  in practice rather than "verified later",
- MinHash signature + per-band keys over transcript k-shingles,
- bottom-k shingle sketch (substring-containment candidates),
- audio fingerprint + SRP/SimHash table keys (the reference's hashing scheme,
  ``src/lsh.h:65-107``, bit-packed),
- bookkeeping: n_shingles, transcript length.

``bytes`` is decoded exactly once here and **never leaves the scan partition**
(SURVEY.md §7.3.5): the output schema carries only fixed-width signatures, so
every downstream shuffle moves kilobytes per row, not audio.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.kernels.audio import decode_pcm16_wav, fingerprint
from srpr_lsh_spark.kernels.hashing import (
    band_hashes,
    bottom_k_sketch,
    minhash_signatures,
    shingle_hashes,
    srp_keys,
    srp_planes,
)
from srpr_lsh_spark.kernels.text import normalize_transcript


def signatures_schema() -> StructType:
    return StructType(
        [
            StructField("clip_id", StringType(), False),
            StructField("content_key", BinaryType(), False),
            StructField("n_shingles", IntegerType(), False),
            StructField("tr_len", IntegerType(), False),
            StructField("minhash", ArrayType(LongType(), False), True),
            StructField("band_keys", ArrayType(LongType(), False), True),
            StructField("sketch", ArrayType(LongType(), False), True),
            StructField("fp", ArrayType(FloatType(), False), True),
            StructField("sim_keys", ArrayType(LongType(), False), True),
            # ~1 ms-stride decimated PCM: lets the verifier estimate pair SNR
            # without re-shipping audio bytes (prefix-stable within a sample
            # rate, so trimmed-prefix duplicates keep the prefix property)
            StructField("pcm_sketch", ArrayType(FloatType(), False), True),
        ]
    )


def _content_key(transcript_norm: str, blob: "bytes | None") -> bytes:
    h = hashlib.blake2b(digest_size=16)
    h.update(transcript_norm.encode("utf-8"))
    h.update(b"\x00")
    h.update(blob or b"")
    return h.digest()


def compute_signatures(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript) → signatures."""
    planes = srp_planes(cfg.fingerprint_dim, cfg.sim_tables, cfg.sim_bits, cfg.seed)
    bplanes = clips.sparkSession.sparkContext.broadcast(planes)
    k, n_perm, bands, rows = cfg.k_shingle, cfg.n_perm, cfg.bands, cfg.rows
    bottom_k, seed, dim = cfg.bottom_k, cfg.seed, cfg.fingerprint_dim
    tables, bits = cfg.sim_tables, cfg.sim_bits
    sketch_points = cfg.sketch_points

    def gen(batches):
        pl = bplanes.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            texts = normalize_transcript(pdf["transcript"].tolist())
            flat, off = shingle_hashes(texts, k=k, seed=seed)
            sig = minhash_signatures(flat, off, n_perm=n_perm, seed=seed)
            bh = band_hashes(sig, bands=bands, rows=rows, seed=seed)
            skf, sko = bottom_k_sketch(flat, off, k=bottom_k)
            fps = np.zeros((n, dim), dtype=np.float32)
            sketches: list[np.ndarray] = []
            blobs = pdf["bytes"].tolist()
            codecs = pdf["codec"].tolist()
            srs = pdf["sr_hz"].tolist()
            empty_sketch = np.empty(0, dtype=np.float32)
            for i, blob in enumerate(blobs):
                if blob is not None and len(blob) > 0:
                    pcm = decode_pcm16_wav(bytes(blob), codec=codecs[i])
                    fps[i] = fingerprint(pcm, dim=dim)
                    # NULL sr_hz reaches pandas as NaN, and NaN is TRUTHY —
                    # `int(sr or 16000)` raises on it, and one malformed row
                    # must not kill a 10¹²-row scan (caught by
                    # tests/test_pipeline.py::test_null_fields...). The
                    # ``sr > 0`` keeps the historical 0→16000 fallback so
                    # degenerate rows get the same stride under both rules
                    # (r5 ADVICE #2).
                    sr = srs[i]
                    sr = int(sr) if sr is not None and sr == sr and sr > 0 else 16000
                    stride = max(1, sr // 1000)
                    sketches.append(
                        pcm[:: stride][:sketch_points].astype(np.float32)
                    )
                else:
                    sketches.append(empty_sketch)
            skeys = srp_keys(fps, pl, tables=tables, bits=bits)
            sig_i64 = sig.view(np.int64)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"].astype(str),
                    "content_key": [
                        _content_key(texts[i], bytes(blobs[i]) if blobs[i] is not None else None)
                        for i in range(n)
                    ],
                    "n_shingles": (off[1:] - off[:-1]).astype(np.int32),
                    "tr_len": np.array([len(t) for t in texts], dtype=np.int32),
                    "minhash": [sig_i64[i] for i in range(n)],
                    "band_keys": [bh[i] for i in range(n)],
                    "sketch": [skf[sko[i] : sko[i + 1]] for i in range(n)],
                    "fp": [fps[i] for i in range(n)],
                    "sim_keys": [skeys[i] for i in range(n)],
                    "pcm_sketch": sketches,
                }
            )

    cols = ["clip_id", "bytes", "codec", "sr_hz", "transcript"]
    # NB: no repartition here — audio bytes must never shuffle (SURVEY §7.3.5).
    # Scan parallelism for this CPU-heavy stage is controlled by the input
    # split size instead (run_dedup pins spark.sql.files.maxPartitionBytes).
    return clips.select(*cols).mapInPandas(gen, schema=signatures_schema())


def shingle_sets(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """clips → (clip_id, hs): each transcript's sorted-unique k-shingle
    hashes, from ONE kernel pass over the slim (clip_id, transcript)
    projection. The per-clip shingle frame behind the containment index."""
    k, seed = cfg.k_shingle, cfg.seed
    schema = StructType(
        [
            StructField("clip_id", StringType(), False),
            StructField("hs", ArrayType(LongType(), False), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            texts = normalize_transcript(pdf["transcript"].tolist())
            flat, off = shingle_hashes(texts, k=k, seed=seed)
            flat_i = flat.view(np.int64)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"].astype(str),
                    "hs": [flat_i[off[i] : off[i + 1]] for i in range(len(texts))],
                }
            )

    return clips.select("clip_id", "transcript").mapInPandas(gen, schema=schema)
