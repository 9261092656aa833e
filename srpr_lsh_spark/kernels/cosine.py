"""Fingerprint-lookup cosine kernels for the audio verify stage's phase 1.

Why this exists (the round-3 scaling gap): the previous phase-1 plan attached
the ``(clip_id, fp)`` lookup to the candidate-pair frame via TWO broadcast
equi-joins, and the adaptive plan built 3+ separate ~100 MB BroadcastExchanges
with zero ReusedExchange — ~60 s of driver-side serialization per run that did
not shrink with cores (measured: verify stage speedup 1.04× at 4× cores,
NOTES.md round-3 saga). On a real cluster the driver re-serializing the same
lookup per plan branch is the coordinator bottleneck at every job.

The replacement: collect the slim lookup ONCE on the driver, write it ONCE as
three ``.npy`` files (``save_fp_lookup``), ship them as files (``sc.addFile``
on cluster masters, the source paths directly on local masters), and let each
worker ``np.memmap`` them (``load_fp_lookup_mmap``). Phase 1 is then a single
``mapInPandas`` over the candidate frame — no joins, one build, one
page-cache copy per node, no per-worker unpickle.

Two-tier evaluation inside the kernel (the int8 prefilter):

1. quantized pass — fingerprints are L2-normalized at creation, so
   ``q = round(127·fp)`` (``quantize``) stores each vector in d bytes;
   ``(q_a·q_b)/127²`` approximates the exact dot within ``quant_margin(d)``.
   The bulk of the candidate mass (near-parallel non-duplicates, hot-band
   star pairs) dies here touching 4× less lookup memory per row than float32
   would.
2. exact pass — survivors only: float32 rows promoted to float64, per-row
   ``einsum`` dot (sequential per-row summation ⇒ deterministic and
   partitioning-invariant). This is bit-compatible with the semantics of the
   previous JVM ``aggregate(zip_with(...))`` double-precision dot.

Scale boundary: the collected lookup must fit the driver collect budget,
``spark.driver.maxResultSize`` (~7M clips at the 1 GiB default; see
``operators/verify.py::use_lookup``); beyond it the verify stage falls back to
the join-based plan, which is what a 10¹²-clip corpus needs anyway
(sort-merge on a bucketed signatures table). The reference's analogue of this whole stage is
the exact-cosine re-rank over LSH candidates (``src/lsh.h:132-145``); the
zero-magnitude guard mirrors ``src/lsh.h:151-155``.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import numpy as np

_QSCALE = 127.0


def quantize(fp: np.ndarray) -> np.ndarray:
    """int8 image ``round(127·fp)`` of unit-norm (or zero) fingerprint rows —
    the prefilter representation ``pair_cosines`` dots first."""
    return np.clip(np.rint(fp * _QSCALE), -_QSCALE, _QSCALE).astype(np.int8)


def save_fp_lookup(ids, fps: np.ndarray, out_dir: "str | None" = None):
    """Driver-side: write the lookup as three ``.npy`` files for file-shipped
    (``sc.addFile`` + worker ``np.memmap``) distribution.

    Why files instead of a Python broadcast (the r5 process-shape fix):
    PySpark *unpickles the broadcast payload once per Python worker process* —
    at 16 workers × a multi-hundred-MB lookup that is GBs of duplicated RSS
    and 16 serialized unpickle passes, and it measurably ANTI-scales in
    process-isolated executor mode (NOTES.md r5: verify 196→274 s at 4
    executors). A file shipped via ``addFile`` is fetched once per NODE and
    memory-mapped by every worker on it: one page-cache copy, zero unpickle,
    identical semantics on a real multi-executor cluster.

    Rows are sorted by utf-8-encoded id so the worker-side probe is a
    ``searchsorted`` on the memmapped fixed-width id array — no per-worker
    index build at all. Returns ``(prefix, paths)``; pass each path to
    ``sc.addFile`` and give workers ``prefix`` (they resolve via
    ``SparkFiles.get``)."""
    ids_s, order = sorted_ids(ids)
    fp = np.ascontiguousarray(np.asarray(fps, dtype=np.float32)[order])
    return write_lookup("fplk", out_dir, {"ids": ids_s, "fp": fp, "q": quantize(fp)})


def sorted_ids(ids) -> "tuple[np.ndarray, np.ndarray]":
    """Driver-side: ``(sorted fixed-width utf-8 id array, order)`` — the
    probe key of a memmapped lookup; ``order`` re-lays the payload rows."""
    enc = [(s if isinstance(s, str) else str(s)).encode("utf-8")
           for s in np.asarray(ids, dtype=object)]
    if any(b"\x00" in b for b in enc):
        # the fixed-width S dtype pads with NULs, so an id ENDING in one would
        # compare equal to its padded shorter sibling — make the precondition
        # explicit instead of silently false-matching (r5 ADVICE #3)
        raise ValueError("clip ids must not contain NUL bytes (S-dtype padding)")
    w = max((len(b) for b in enc), default=1)
    ids_s = np.array(enc, dtype=f"S{w}") if enc else np.empty(0, dtype=f"S{w}")
    order = np.argsort(ids_s, kind="stable")
    return ids_s[order], order


def write_lookup(kind: str, out_dir: "str | None", arrays: dict):
    """Driver-side: save each named array as ``<prefix>_<name>.npy`` under a
    fresh ``<kind>_<uuid>`` prefix (in a new temp dir when ``out_dir`` is
    None). Returns ``(prefix, paths)``."""
    prefix = f"{kind}_{uuid.uuid4().hex}"
    out_dir = out_dir or tempfile.mkdtemp(prefix=f"{kind}_")
    paths = []
    for name, arr in arrays.items():
        p = os.path.join(out_dir, f"{prefix}_{name}.npy")
        np.save(p, arr)
        paths.append(p)
    return prefix, paths


# worker-side: one open memmap set per process, keyed by prefix. Kept to the
# most recent lookup — stale entries would pin deleted files' disk blocks for
# the worker's lifetime across bench reps / repeated serving runs.
_MMAP_CACHE: dict = {}


def load_fp_lookup_mmap(prefix: str, get_path) -> dict:
    """Worker-side: open (or reuse) the memmapped lookup written by
    ``save_fp_lookup``. ``get_path`` maps a shipped basename to a local path
    (``pyspark.SparkFiles.get`` on executors; a plain ``os.path.join`` in
    tests). The arrays are read-only memmaps: fancy-indexed gathers copy only
    the probed rows into memory."""
    lk = _MMAP_CACHE.get(prefix)
    if lk is None:
        lk = {
            "ids_sorted": np.load(get_path(f"{prefix}_ids.npy"), mmap_mode="r"),
            "fp": np.load(get_path(f"{prefix}_fp.npy"), mmap_mode="r"),
            "q": np.load(get_path(f"{prefix}_q.npy"), mmap_mode="r"),
        }
        _MMAP_CACHE.clear()
        _MMAP_CACHE[prefix] = lk
    return lk


def _indexer(lookup: dict, ids) -> np.ndarray:
    """id → row positions (−1 = absent): binary search over a memmapped
    lookup's sorted fixed-width id array."""
    srt = lookup["ids_sorted"]
    n = len(srt)
    if n == 0:
        return np.full(len(ids), -1, dtype=np.int64)
    w = srt.dtype.itemsize
    enc = [s.encode("utf-8") if isinstance(s, str) else bytes(s) for s in ids]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    # dtype=S{w} TRUNCATES longer ids — which could falsely match a stored
    # prefix — so over-width queries are forced to miss explicitly
    qry = np.array(enc, dtype=f"S{w}") if enc else np.empty(0, dtype=f"S{w}")
    pos = np.searchsorted(srt, qry)
    posc = np.minimum(pos, n - 1)
    hit = (srt[posc] == qry) & (lens <= w)
    return np.where(hit, posc, -1)


def quant_margin(dim: int) -> float:
    """Upper bound on |cos_q − cos_exact| for the int8 prefilter.

    Per-component rounding error ≤ 0.5/127 ⇒ vector error ‖e‖ ≤ √d/254;
    first-order perturbation of the dot of unit vectors ≤ ‖e_a‖ + ‖e_b‖ =
    2√d/254. The extra 10% covers the second-order term (≈‖e‖², two orders
    smaller). Pinned by the property test in tests/test_kernels.py."""
    return 2.2 * float(np.sqrt(dim)) / 254.0


def pair_cosines(
    lookup: dict,
    a_ids,
    b_ids,
    threshold: float,
    margin: float,
) -> "tuple[np.ndarray, np.ndarray, int]":
    """For M candidate pairs, return (kept_positions, exact_cosines,
    n_int8_pass).

    ``kept_positions`` indexes into the input pair arrays: the pairs whose
    EXACT float dot ≥ ``threshold``. The int8 pass first drops everything
    below ``threshold − margin`` (sound because |cos_q − cos| ≤ margin, so no
    pair at/above threshold can be dropped early). ``n_int8_pass`` is the
    count surviving the quantized pass — the candidate-mass-reduction
    diagnostic. Ids absent from the lookup (no signature row) are dropped,
    matching the previous inner-join semantics."""
    ia = _indexer(lookup, a_ids)
    ib = _indexer(lookup, b_ids)
    valid = np.flatnonzero((ia >= 0) & (ib >= 0))
    ia, ib = ia[valid], ib[valid]

    q = lookup["q"]
    qa = q[ia].astype(np.int32)
    qb = q[ib].astype(np.int32)
    cos_q = np.einsum("ij,ij->i", qa, qb).astype(np.float64) / (_QSCALE * _QSCALE)
    cand = np.flatnonzero(cos_q >= threshold - margin)

    fp = lookup["fp"]
    fa = fp[ia[cand]].astype(np.float64)
    fb = fp[ib[cand]].astype(np.float64)
    cos = np.einsum("ij,ij->i", fa, fb)
    keep = np.flatnonzero(cos >= threshold)
    return valid[cand[keep]], cos[keep], int(cand.size)
