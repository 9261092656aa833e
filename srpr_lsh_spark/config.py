"""Pipeline configuration.

Every constant the reference hard-codes (seeds, table counts, hash bits,
top-k — see SURVEY.md §6 / BASELINE.md) becomes an explicit config field here.
The config hash keys checkpoints, mirroring the reference's parameter-keyed
binary cache filename (``src/DataManager.h:50``): same config ⇒ same results ⇒
resumable; changed config ⇒ stages recompute.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass


def tune_allocator_env() -> None:
    """Raise glibc malloc's mmap/trim thresholds for this process and every
    child (the JVM and the Python workers it forks inherit the env).

    Why: numpy/Arrow per-batch buffers above the default 128 KB threshold are
    mmap'd and returned to the OS on free, so every batch re-faults fresh
    zero pages. On this host, first-touch page faults serialize under
    concurrency (measured: 16 procs × fresh 30 MB buffers run at the SAME
    throughput as 4 procs; with these thresholds raised, 16 procs scale
    ~linearly — see BENCH/VARIANCE.md). Arena reuse trades resident memory
    for allocation locality, the right trade for a long-lived worker. On a
    real cluster set the same via ``spark.executorEnv.MALLOC_MMAP_THRESHOLD_``.
    """
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    # one BLAS thread per python worker (r6): numpy links openblas64, whose
    # default pool spawns one thread PER CORE per process and busy-spins at
    # sync points. Each worker is already one of N parallel Spark tasks, so
    # nested BLAS parallelism is pure oversubscription — measured at 200k
    # clips/32 workers it inflated the signatures stage to ~1600 CPU-s
    # (vs a ~260 CPU-s single-thread floor for the same math) through
    # spin-wait cycles in every `@`/GEMM call (srp_keys, cosine kernels).
    # Same rule on a real cluster: spark.executorEnv.OPENBLAS_NUM_THREADS=1.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # pyarrow's default jemalloc pool madvises pages back per batch —
    # measured 7× slower than the system pool on this host AND fault-bound
    # under concurrency (BENCH/VARIANCE.md). Workers import pyarrow after
    # fork, so they pick this up as long as it's set before the JVM starts.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


# band_id layout for the combined LSH bucket space: MinHash bands occupy
# [0, bands); SRP/SimHash table t maps to SRP_BAND_OFFSET + t. ONE constant
# shared by every producer of band ids (operators/banding.py) — two divergent
# offsets was r5 VERDICT "what's wrong" #2.
SRP_BAND_OFFSET = 10_000


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / MinHash (transcript near-dup path) ---
    k_shingle: int = 5          # char k-grams over normalized transcript
    n_perm: int = 128           # MinHash permutations; n_perm = bands * rows
    bands: int = 32             # b
    rows: int = 4               # r
    jaccard_threshold: float = 0.8   # exact-verify acceptance
    # --- SimHash / SRP (audio fingerprint path) ---
    # L tables x b bits (packed into one int64 key per table). The reference
    # uses L=12, b=6 over learned 32-d vectors (main.cpp:64-65); audio
    # fingerprints of true duplicates are nearly parallel (cos >= 0.9995 at
    # the 30 dB SNR acceptance bound), so far wider tables keep audio-path
    # recall >= 0.999 while cutting accidental near-parallel candidates ~20x.
    sim_tables: int = 8         # L
    sim_bits: int = 40          # b per table
    fingerprint_dim: int = 32   # D — matches the reference embedding dim (main.cpp:62)
    cosine_threshold: float = 0.997  # exact-verify acceptance on fingerprints
    snr_db_threshold: float = 30.0   # decoded-PCM pair SNR acceptance (input_hint)
    # verify phase-3 decodes BOTH sides of each pair to float64 PCM; a full
    # 2048-row Arrow batch holds ~1.5 GB of decode temps per worker (and the
    # long-lived arena — tune_allocator_env — retains that high-water mark
    # forever, which at 8-16 workers fed this host's reclaim storm in the r5
    # 400k study). The UDF therefore re-chunks each incoming batch to this
    # many rows: per-task memory stays bounded in CLIP SIZE, not row count —
    # the property a 100 TB corpus with MB-scale clips needs anyway.
    verify_decode_slice_rows: int = 192
    sketch_points: int = 512         # decimated-PCM sketch length (~1 ms stride)
    sketch_margin_db: float = 3.0    # sketch-SNR prefilter slack vs full check
    # --- substring (suffix-array) path ---
    bottom_k: int = 32          # bottom-k shingle sketch size for containment
                                # candidates (r3: 16 → 32 — at 100k clips the
                                # hot-shingle cut gutted ~18 contained rows'
                                # sketches below containment_min_matches, a
                                # ~1e-5 recall floor; doubling the sketch keeps
                                # ≥3 informative hashes on those rows)
    containment_min_matches: int = 3  # sketch-hash matches needed to form a candidate
    min_substr_shingles: int = 8     # ignore ultra-short transcripts for containment
    # --- skew handling (SURVEY.md §4.3.2) ---
    # buckets larger than this use two-anchor star pairing, not all-pairs.
    # Recall trade (measured, tests/test_components.py::
    # TestOverCapDisjointFamilies): a single over-cap bucket holding k
    # DISJOINT distinct-signature families recovers only the two anchor
    # families from that band — floor 2/k — so per-band recall of capped
    # buckets is probabilistic; cross-band/table redundancy (L chances) and
    # the full-signature collapse carry the rest. Raising the cap buys
    # recall at O(bucket²) cost; at 10¹² clips keep it low and rely on L.
    bucket_pair_cap: int = 64
    hot_shingle_cap: int = 128  # drop bottom-k sketch hashes shared by more rows than this
    # signatures-stage chunking for partition-granularity resume (>1 splits
    # the input FILE LIST into this many groups, each written + manifested
    # independently — a failed run resumes re-reading only incomplete
    # chunks' files). Requires clips to be an unfiltered file scan; 1 = the
    # single-snapshot stage (default). Layout-only: same rows either way.
    signatures_chunks: int = 1
    # --- determinism ---
    seed: int = 42              # reference seed discipline: lsh.h:80, MatrixFactorization.h:44
    # --- layout ---
    # sizes only harness sessions (bench.py, perfbench, tests); run_dedup
    # never reads it — a run's shuffle width is the session's
    # spark.sql.shuffle.partitions
    shuffle_partitions: int = 32
    cc_max_iters: int = 25
    # input split size for the decode/signature scan: audio rows are wide, the
    # UDF is CPU-bound, so splits should be small enough to use every core
    # (bytes are NEVER shuffled to fix parallelism — SURVEY §7.3.5)
    input_split_bytes: int = 32 << 20
    # AQE advisory post-shuffle partition size WHILE the dedup pipeline runs
    # (set/restored by run_dedup exactly like input_split_bytes). The 64 MB
    # default targets shuffle-bound stages (guide §2.2); the dedup's pair
    # shuffles are NARROW-row CPU-bound aggregations — at 200k clips the
    # ~180 MB pair dedup coalesces to 3 tasks and serializes 1-3 s of hash-agg
    # work per stage wave on any executor shape (measured: candidate_pairs
    # 10.0→6.7 s at 32 cores). 8 MB keeps partition count near the configured
    # ceiling for these stages without creating more partitions than
    # shuffle_partitions anywhere (AQE only coalesces DOWN). On a real
    # cluster size it to (per-core work quantum × rows/byte), not to 64 MB.
    aqe_advisory_bytes: int = 8 << 20

    def __post_init__(self) -> None:
        if self.n_perm != self.bands * self.rows:
            raise ValueError(
                f"n_perm ({self.n_perm}) must equal bands*rows "
                f"({self.bands}*{self.rows}={self.bands * self.rows})"
            )
        if self.sim_bits > 63:
            raise ValueError("sim_bits must fit a signed int64 bucket key")
        if self.bands >= SRP_BAND_OFFSET:
            # MinHash band ids live in [0, bands); SRP table ids at
            # SRP_BAND_OFFSET+t. Overlap would silently merge the two LSH
            # spaces' bucket key spaces (r5 VERDICT finding #2).
            raise ValueError(
                f"bands ({self.bands}) must stay below SRP_BAND_OFFSET "
                f"({SRP_BAND_OFFSET}) so the band-id key spaces are disjoint"
            )

    # knobs that change the physical plan but never the result; they must not
    # invalidate checkpoints (outputs are partitioning-invariant by design)
    _LAYOUT_FIELDS = (
        "shuffle_partitions",
        "cc_max_iters",
        "input_split_bytes",
        "aqe_advisory_bytes",  # post-shuffle layout, never the result
        "verify_decode_slice_rows",  # batch re-chunking, identical rows
        "signatures_chunks",  # chunk layout, identical rows
    )

    def config_hash(self) -> str:
        """Deterministic 16-hex-digit hash of every semantics-bearing field."""
        d = asdict(self)
        for f_ in self._LAYOUT_FIELDS:
            d.pop(f_, None)
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
