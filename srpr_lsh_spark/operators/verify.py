"""Stage 3: exact verification — "LSH proposes, exact disposes".

Mirrors the role of the reference's exact-cosine re-rank over LSH candidates
(``src/lsh.h:132-145``): false positives from banding are eliminated exactly;
only missed candidates can cost recall.

- text pairs: exact k-shingle Jaccard on the two normalized transcripts,
  accepted at ``jaccard_threshold``;
- audio pairs: two-phase — cheap fingerprint cosine from the signatures table
  first (this is where the zero-fingerprint hot-band star pairs die without
  ever touching audio), then decoded-PCM pair SNR ≥ ``snr_db_threshold`` on
  the survivors (the BASELINE.json per-row invariant).

``bytes`` is fetched via a semi-join-shrunken projection of the clips table,
so audio bytes move only for rows that still matter. Each branch is one join
plan; the only size-dependent choice is the broadcast hint on phase 1's fp
side (``fits_collect_budget``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.kernels.audio import batch_pair_snr_db, decode_pcm16_wav
from srpr_lsh_spark.kernels.hashing import shingle_hashes
from srpr_lsh_spark.kernels.text import batch_jaccard, normalize_transcript


def _attach(
    pairs: DataFrame,
    lookup: DataFrame,
    cols: "dict[str, str]",
    on: str,
    shrink: bool = True,
) -> DataFrame:
    """Join ``lookup`` columns onto ``pairs`` for side ``on`` ('a' or 'b').

    ``shrink=True`` first semi-joins ``lookup`` down to the referenced ids so
    wide columns (audio bytes) never shuffle for unreferenced rows — worth two
    extra shuffles only when the payload dwarfs them. Narrow lookups
    (fingerprints, sketches, transcripts) join directly."""
    slim = lookup
    if shrink:
        ids = pairs.select(F.col(on).alias("clip_id")).distinct()
        slim = lookup.join(ids, "clip_id", "left_semi")
    slim = slim.select(
        F.col("clip_id").alias(on), *[F.col(src).alias(dst) for src, dst in cols.items()]
    )
    return pairs.join(slim, on)


def _spread(pairs: DataFrame) -> DataFrame:
    """Repartition a candidate-pair frame by ROW COUNT before a CPU-bound
    Python verify stage.

    AQE coalesces shuffles toward a target of shuffle *bytes* — a few MB of
    (a, b) id pairs collapses to one partition, which then serializes minutes
    of per-row Python work onto one core. Pair rows are tiny, so this extra
    shuffle is noise at any scale, while the verify stage becomes
    embarrassingly parallel again."""
    return pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)


# Estimated driver-side bytes of one clip id in a collected or broadcast row:
# a string (4 B offset + up to 16 chars; the synthetic ids are 13) and a 4 B
# list offset. A phase-1 fp row adds 4·fingerprint_dim B of float32 (an
# Arrow collect of it measured 149 B/row at d=32).
ID_BYTES = 24


def collect_budget_bytes(sc) -> int:
    """Bytes one driver collect or broadcast build may bring back:
    ``spark.driver.maxResultSize`` (Spark aborts a job whose serialized task
    results exceed it; 1 GiB by default), or the driver JVM's max heap when
    it is 0 (unlimited). The only reader of that setting."""
    limit = sc._jsc.sc().conf().getSizeAsBytes("spark.driver.maxResultSize", "1g")
    return limit if limit > 0 else sc._jvm.java.lang.Runtime.getRuntime().maxMemory()


def fits_collect_budget(rows: DataFrame, row_bytes: int, n_rows: "int | None" = None) -> bool:
    """Whether ``n_rows × row_bytes`` fits ``collect_budget_bytes``: the one
    size-dependent choice in ``operators/``, answered as "put ``F.broadcast``
    on this narrow join side or not" (audio phase 1's fp side, containment's
    sketch-hash union). ``n_rows`` is a driver-known count (warehouse
    manifest); when ``None``, one ``rows.count()`` decides.

    Why a hint at all: under Spark's default 10 MB
    ``autoBroadcastJoinThreshold`` a 100k-clip fp side falls to a sort-merge
    join: phase 1 measured 5.6 s / 20.2 CPU-s there against 3.6 s /
    12.6 CPU-s with the hint, on a 4-CPU host. Why the bound: a broadcast
    build is collected to the driver, so beyond ``spark.driver.maxResultSize``
    a forced hint aborts the job; without the hint the join runs on Spark's
    own choice (sort-merge at 10¹² clips). A hint changes no rows, so the
    choice moves cost, never results."""
    if n_rows is None:
        n_rows = rows.count()
    return n_rows * row_bytes <= collect_budget_bytes(rows.sparkSession.sparkContext)


TEXT_SCHEMA = StructType(
    [
        StructField("a", StringType(), False),
        StructField("b", StringType(), False),
        StructField("source", StringType(), False),
        StructField("jaccard", DoubleType(), False),
    ]
)


def verify_text_pairs(
    pairs: DataFrame, clips: DataFrame, cfg: DedupConfig,
    n_candidates: "int | None" = None,  # unused; perfbench/layers.py passes it
    n_rows: "int | None" = None,  # unused; perfbench/layers.py passes it
) -> DataFrame:
    """(a, b, source) + clips → verified (a, b, source, jaccard) at threshold.

    One plan: both transcripts joined onto each pair, normalized, shingled and
    compared by exact Jaccard in one ``mapInPandas``. No broadcast hint: the
    transcript side's width is unknown until it is read, and the plain join
    beat a driver-collected shingle lookup at 1k, 20k and 100k clips on a
    4-CPU host, at both the 10 MB and 512 MB broadcast thresholds."""
    pairs = _spread(pairs)
    t = clips.select("clip_id", "transcript")
    withz = _attach(pairs, t, {"transcript": "ta"}, "a", shrink=False)
    withz = _attach(withz, t, {"transcript": "tb"}, "b", shrink=False)
    k, seed, thr = cfg.k_shingle, cfg.seed, cfg.jaccard_threshold

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ta = normalize_transcript(pdf["ta"].tolist())
            tb = normalize_transcript(pdf["tb"].tolist())
            fa, oa = shingle_hashes(ta, k=k, seed=seed)
            fb, ob = shingle_hashes(tb, k=k, seed=seed)
            js = batch_jaccard(fa, oa, fb, ob)
            keep = js >= thr
            out = pdf.loc[keep, ["a", "b", "source"]].copy()
            out["jaccard"] = js[keep]
            yield out

    return withz.mapInPandas(gen, schema=TEXT_SCHEMA)


PRE_SCHEMA = StructType(
    [
        StructField("a", StringType(), False),
        StructField("b", StringType(), False),
        StructField("source", StringType(), False),
        StructField("cosine", DoubleType(), False),
    ]
)


def _phase1_cosine(
    pairs: DataFrame, signatures: DataFrame, cfg: DedupConfig,
    n_signatures: "int | None" = None,
) -> DataFrame:
    """Phase-1 fingerprint cosine: two equi-joins attach the ``(clip_id, fp)``
    rows and the dot runs JVM-side in whole-stage codegen, summed left to
    right in float64 (deterministic and partitioning-invariant). The fp side
    carries ``F.broadcast`` while ``n_signatures × (4·fingerprint_dim +
    ID_BYTES)`` fits the driver collect budget (``fits_collect_budget``), so
    the plan is a broadcast hash join whatever Spark's own threshold says;
    beyond the budget it is Spark's choice (sort-merge at 10¹² clips).
    Fingerprints are L2-normalized at creation; a zero vector (silence) gives
    dot = 0.0 — NOT null — so such pairs are dropped only because
    cosine_threshold > 0. That positive threshold is the zero-magnitude guard
    here (the reference's explicit branch is lsh.h:151-155); don't set
    cosine_threshold ≤ 0."""
    fp_side = signatures.select("clip_id", "fp")
    if fits_collect_budget(signatures, 4 * cfg.fingerprint_dim + ID_BYTES, n_signatures):
        fp_side = F.broadcast(fp_side)
    withf = _attach(pairs, fp_side, {"fp": "fa"}, "a", shrink=False)
    withf = _attach(withf, fp_side, {"fp": "fb"}, "b", shrink=False)
    dot = F.aggregate(
        F.zip_with("fa", "fb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        withf.withColumn("cosine", dot)
        .filter(F.col("cosine") >= cfg.cosine_threshold)
        .select("a", "b", "source", "cosine")
    )


def verify_audio_pairs(
    pairs: DataFrame, clips: DataFrame, signatures: DataFrame, cfg: DedupConfig,
    stats: "dict | None" = None,  # unused; perfbench/layers.py passes it
    n_candidates: "int | None" = None,  # unused; perfbench/layers.py passes it
    n_signatures: "int | None" = None,
) -> DataFrame:
    """(a, b, source) → verified (a, b, source, cosine, snr_db).

    Three phases, each shrinking the set before the next gets more expensive:
    1. fingerprint cosine (``_phase1_cosine``) — kills the giant hot-band
       star pairs and the mass of near-parallel non-duplicates;
    2. decimated-PCM sketch SNR from signatures, survivors only — kills
       "fingerprint twins" without touching bytes (threshold is
       ``snr_db_threshold - sketch_margin_db``: the sketch is an estimator);
    3. full decoded-PCM pair SNR (the BASELINE.json per-row invariant) — the
       authoritative check, now on a set bounded by the true duplicate count,
       so audio bytes are only ever joined for rows that are almost certainly
       duplicates.

    ``n_signatures`` is the driver-known signatures row count (the pipeline
    reads it from the warehouse manifest: parquet footer metadata, zero Spark
    jobs); it sizes phase 1's broadcast hint. Without it (standalone use) one
    ``signatures.count()`` runs."""
    sketch_thr = cfg.snr_db_threshold - cfg.sketch_margin_db
    phase1 = _phase1_cosine(pairs, signatures, cfg, n_signatures)
    # survivors are tiny (≈ true-dup count); materialize once EAGERLY — the
    # phase-2 shrink semi-joins and the phase-3 broadcast builds reference
    # this frame from CONCURRENT driver threads (BroadcastExchange builds run
    # in parallel), and a LAZY checkpoint lets those threads race to compute
    # the same partitions simultaneously: the bonus-window lazy variant
    # measured 548 CPU-s cold for the isolated audio ladder at 200k vs
    # 256 CPU-s eager (A/B, one session — the duplicated phase-1 work is
    # exactly the cache race). Eager costs serial driver wall between phases
    # but each phase computes once, which is also what a real cluster's
    # coordinator should pay (r6; reverts the bonus-window eager=False).
    cos_pass = phase1.localCheckpoint(eager=True)

    # phase 2: decimated-PCM sketch SNR on the cosine survivors only — kills
    # "fingerprint twins" (different clips whose spectra coincide) without
    # ever touching audio bytes: their waveforms disagree, so sketch SNR ≈ 0.
    # shrink=True: the sketch side is ~2 KB/row over the whole corpus — a
    # fixed couple-hundred-MB shuffle if joined raw; semi-joined down to the
    # survivor ids it broadcasts instead
    sk_side = signatures.select("clip_id", "pcm_sketch")
    withs = _attach(cos_pass, sk_side, {"pcm_sketch": "sa"}, "a")
    withs = _attach(withs, sk_side, {"pcm_sketch": "sb"}, "b")

    def sketch_filter(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            snr = batch_pair_snr_db(pdf["sa"].to_numpy(), pdf["sb"].to_numpy())
            yield pdf.iloc[np.flatnonzero(snr >= sketch_thr)][
                ["a", "b", "source", "cosine"]
            ]

    # eager for the same race reason as cos_pass: referenced by the phase-3
    # ids-union broadcast build AND the spread scan, from parallel threads
    survivors = withs.mapInPandas(sketch_filter, schema=PRE_SCHEMA).localCheckpoint(eager=True)

    # phase 3: authoritative decoded-PCM SNR; bytes join only for survivors
    # (spread again: the survivor frame is small in bytes but each row costs
    # two full PCM decodes). r6: ONE clips scan — the two per-side semi-joins
    # each re-scanned (and re-decoded) the whole clips parquet to fetch a few
    # tens of thousands of rows (measured 7.3 s / 116 CPU-s of the stage at
    # 200k); the union of both sides' ids is semi-joined once and the slim
    # bytes frame is materialized for both attaches.
    ids = survivors.select(
        F.explode(F.array("a", "b")).alias("clip_id")
    ).distinct()
    # eager: the two per-side attaches each build their own broadcast of this
    # frame in parallel driver threads — lazy blocks would make both threads
    # scan the clips parquet concurrently, re-paying the second full scan the
    # one-scan design exists to remove
    blobs = (
        clips.select("clip_id", "bytes", "codec")
        .join(ids, "clip_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    withb = _attach(_spread(survivors), blobs, {"bytes": "ba", "codec": "ca"}, "a",
                    shrink=False)
    withb = _attach(withb, blobs, {"bytes": "bb", "codec": "cb"}, "b",
                    shrink=False)
    snr_thr = cfg.snr_db_threshold
    slice_rows = max(1, cfg.verify_decode_slice_rows)

    schema = StructType(
        [
            StructField("a", StringType(), False),
            StructField("b", StringType(), False),
            StructField("source", StringType(), False),
            StructField("cosine", DoubleType(), False),
            StructField("snr_db", DoubleType(), False),
        ]
    )

    def gen(batches):
        empty = np.empty(0)
        for full in batches:
            # Re-chunk the Arrow batch: both sides decode to float64 PCM, so
            # a full 2048-row batch peaks at ~1.5 GB of temps per worker (and
            # the worker's arena keeps that high-water forever —
            # cfg.verify_decode_slice_rows rationale). Slicing bounds the
            # peak without changing any output row.
            for start in range(0, len(full), slice_rows):
                pdf = full.iloc[start : start + slice_rows]
                if not len(pdf):
                    continue
                # decode is per-row (one frombuffer per blob — no per-sample
                # Python); the SNR math is one vectorized batch pass. Symmetric
                # min keeps the pair relation order-independent.
                pas, pbs = [], []
                for ba, ca, bb, cb in zip(pdf["ba"], pdf["ca"], pdf["bb"], pdf["cb"]):
                    if ba is None or bb is None:
                        pas.append(empty)
                        pbs.append(empty)
                        continue
                    pas.append(decode_pcm16_wav(bytes(ba), codec=ca))
                    pbs.append(decode_pcm16_wav(bytes(bb), codec=cb))
                snrs = batch_pair_snr_db(pas, pbs)
                keep = snrs >= snr_thr
                out = pdf.loc[keep, ["a", "b", "source", "cosine"]].copy()
                out["snr_db"] = np.clip(snrs[keep], -1e9, 1e9)
                yield out

    return withb.mapInPandas(gen, schema=schema)
