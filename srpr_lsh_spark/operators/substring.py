"""Stage 2b: exact-substring duplicate pass (suffix-array verified).

Containment is invisible to plain MinHash banding when the length ratio is
small (Jaccard of a 40% substring is ≈ 0.4 — below band sensitivity), so this
pass has its own candidate generator:

- candidates: the contained side's **bottom-k shingle sketch** is joined
  against an inverted index of ALL shingle hashes (every shingle of a
  contained transcript occurs in its container, so all sketch hashes must
  hit). The index is O(total transcript chars) rows — linear in corpus size,
  the same asymptotics as corpus-wide suffix-array construction. Shingles
  occurring in more than ``hot_shingle_cap`` clips are dropped from both sides
  (prefix-filtering-style stopword cut) to bound join fan-out.
- verification: per container group, ONE suffix array of the container's
  normalized transcript is built and each candidate substring is binary-
  searched (``kernels.text.suffix_array`` / ``sa_contains``) — exact, no
  false positives.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.kernels.hashing import shingle_hashes
from srpr_lsh_spark.kernels.text import normalize_transcript, sa_contains, suffix_array
from srpr_lsh_spark.operators.verify import use_lookup

# broadcast bytes per distinct sketch hash in the keep-set: (h long, df_ long)
KEEP_SET_HASH_BYTES = 16


def _shingle_index(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """clips → (clip_id, h) inverted index of every distinct shingle hash."""
    k, seed, min_sh = cfg.k_shingle, cfg.seed, cfg.min_substr_shingles

    schema = StructType(
        [StructField("clip_id", StringType(), False), StructField("h", LongType(), False)]
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            texts = normalize_transcript(pdf["transcript"].tolist())
            flat, off = shingle_hashes(texts, k=k, seed=seed)
            counts = off[1:] - off[:-1]
            ids = np.repeat(pdf["clip_id"].to_numpy(), counts)
            yield pd.DataFrame({"clip_id": ids, "h": flat.view(np.int64)})

    return clips.select("clip_id", "transcript").mapInPandas(gen, schema=schema)


def _shingle_df_counts(clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Per-shingle PARTIAL document-frequency rows ``(h, cnt)``, one set per
    Arrow batch — each clip contributes at most one occurrence per hash (its
    shingle set is distinct), so summing the batch counts gives the exact df.
    Vocabulary sharing bounds the emitted rows at (distinct shingles per
    batch) ≈ a small multiple of the corpus vocabulary, so the df aggregation
    never materializes the full per-clip index (guide §2.3 "aggregate before
    you shuffle", done inside the kernel)."""
    k, seed = cfg.k_shingle, cfg.seed
    schema = StructType(
        [StructField("h", LongType(), False), StructField("cnt", LongType(), False)]
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            texts = normalize_transcript(pdf["transcript"].tolist())
            flat, _off = shingle_hashes(texts, k=k, seed=seed)
            hs, cnts = np.unique(flat.view(np.int64), return_counts=True)
            yield pd.DataFrame({"h": hs, "cnt": cnts.astype(np.int64)})

    return clips.select("transcript").mapInPandas(gen, schema=schema)


def containment_candidates(
    clips: DataFrame, signatures: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """→ (short, long) candidate containment pairs.

    Plan (r6): only index rows whose hash occurs in some contained-side
    sketch can ever produce a match, and of those only the NON-hot ones
    survive the stopword cut — so the inverted index is joined (map-side,
    broadcast) against ``keep = distinct(sketch hashes) ∖ hot`` right at the
    kernel boundary instead of flowing 39M rows (at 200k clips) through a
    hot groupBy + anti-join shuffle; only ~3.3M informative rows continue.
    ``hot`` df counts come from a partial-aggregation kernel pass
    (``_shingle_df_counts``) that never materializes per-clip rows. All of it
    is LAZY — the single driver action is the distinct-count gate below, so
    inside the candidates stage these subtrees run concurrently with the LSH
    banding subgraph. Restricting the index by hash VALUE changes no df
    count and no match count, so the output is row-identical to the
    unrestricted plan (pytest-pinned). Corpora whose keep-set broadcast
    (distinct sketch hashes × ``KEEP_SET_HASH_BYTES``) exceeds the driver
    collect budget (``use_lookup``, guide §3.2) fall back to the former
    join-everything plan, row-identical too (pytest-pinned)."""
    eligible = signatures.filter(F.col("n_shingles") >= cfg.min_substr_shingles)
    sketch = eligible.select(
        F.col("clip_id").alias("short"),
        F.col("tr_len").alias("short_len"),
        F.explode("sketch").alias("h"),
    )
    lens = signatures.select(F.col("clip_id").alias("long"), F.col("tr_len").alias("long_len"))
    t_expr = F.greatest(
        F.lit(cfg.containment_min_matches), F.ceil(F.col("sk_n") * 0.8)
    )

    # one small sketch-side job (the distinct count) gates the broadcast plan
    # (no transcript scan)
    if not use_lookup(sketch.select("h").distinct(), KEEP_SET_HASH_BYTES, cfg):
        # fallback: the former join-everything plan (sketch union too large
        # to broadcast — guide §3.2's cost caveat)
        index = _shingle_index(clips, cfg)
        hot = (
            index.groupBy("h").agg(F.count("*").alias("df_"))
            .filter(F.col("df_") > cfg.hot_shingle_cap)
            .select("h")
        )
        index = index.join(hot, "h", "left_anti")
        sketch = sketch.join(hot, "h", "left_anti")
        sk_size = sketch.groupBy("short", "short_len").agg(F.count("*").alias("sk_n"))
        hits = (
            sketch.join(index.withColumnRenamed("clip_id", "long"), "h")
            .filter(F.col("short") != F.col("long"))
            .groupBy("short", "long")
            .agg(F.count("*").alias("matches"))
        )
        return (
            hits.join(sk_size, "short")
            .join(lens, "long")
            .filter(F.col("short_len") < F.col("long_len"))
            # a sketch gutted by the hot-shingle filter carries no evidence:
            # with fewer than ``containment_min_matches`` informative hashes,
            # chance co-occurrence of one rare shingle would flood the
            # verifier (measured ~340k false candidates at 100k docs)
            .filter(F.col("sk_n") >= F.lit(cfg.containment_min_matches))
            .filter(F.col("matches") >= t_expr)
            .select("short", "long")
        )

    # (h, df) for every kept (non-hot) sketch hash; the lazy checkpoint makes
    # the kernel pass run once even though hot-cut and rarity both read it
    # eager (r6): keep_df is broadcast by TWO joins whose builds run in
    # parallel driver threads — a lazy checkpoint lets both race to compute
    # the kernel pass twice (A/B at 200k: candidates stage 578 → 307 CPU-s
    # cold with eager checkpoints throughout this subgraph)
    df_agg = (
        _shingle_df_counts(clips, cfg)
        .groupBy("h").agg(F.sum("cnt").alias("df_"))
        .localCheckpoint(eager=True)
    )
    keep_df = (
        sketch.select("h").distinct()
        .join(df_agg.filter(F.col("df_") <= cfg.hot_shingle_cap), "h")
    )
    # map-side keep-filter at the kernel boundary: only informative index
    # rows (h in some sketch AND not hot) survive — 3.3M of 39M at 200k.
    # Eager checkpoint (r6): the filtered index feeds both long_arrs and the
    # generation join, whose stages the scheduler runs CONCURRENTLY — lazy
    # blocks let both recompute the transcript-scan kernel (same A/B as
    # df_agg above)
    index = (
        _shingle_index(clips, cfg)
        .join(F.broadcast(keep_df), "h")
        .select("clip_id", "h")
        .localCheckpoint(eager=True)
    )
    sketch = sketch.join(F.broadcast(keep_df), "h")  # brings df_ for rarity

    # per-short kept-sketch arrays, rarest-first. sk_n and the match
    # threshold t are exactly the fallback plan's values; shorts with
    # sk_n < containment_min_matches are dropped here (the fallback drops
    # them in its final filter — no pair they generate can survive it).
    short_arrs = (
        sketch.groupBy("short", "short_len")
        .agg(F.sort_array(F.collect_list(F.struct("df_", "h"))).alias("dh"))
        .withColumn("sk_n", F.size("dh"))
        .filter(F.col("sk_n") >= F.lit(cfg.containment_min_matches))
        .withColumn("sh_arr", F.transform("dh", lambda s: s["h"]))
        # pigeonhole generation set: a pair with matches ≥ t misses at most
        # sk_n − t sketch hashes, so ANY (sk_n − t + 1)-subset contains a
        # matching hash; taking the RAREST (lowest df) hashes minimizes the
        # generation join's fan-out (prefix-filtering, guide §3.2 in spirit)
        .withColumn(
            "gen",
            F.transform(
                F.slice("dh", 1, (F.col("sk_n") - t_expr + 1).cast("int")),
                lambda s: s["h"],
            ),
        )
        .drop("dh")
    )
    # per-long kept-shingle arrays (bounded by one transcript's vocabulary)
    long_arrs = index.groupBy(F.col("clip_id").alias("long")).agg(
        F.collect_list("h").alias("lh")
    )

    cand = (
        short_arrs.select("short", F.explode("gen").alias("h"))
        .join(index.withColumnRenamed("clip_id", "long"), "h")
        .filter(F.col("short") != F.col("long"))
        .select("short", "long")
        .dropDuplicates(["short", "long"])
    )
    # exact match count via set intersection of the two kept-hash arrays —
    # identical to the fallback's per-hash join count, but only for generated
    # candidates (the 48M-row hits join at 200k becomes ~1-2M array ops)
    return (
        cand.join(short_arrs.select("short", "short_len", "sk_n", "sh_arr"), "short")
        .join(long_arrs, "long")
        .join(lens, "long")
        .withColumn("matches", F.size(F.array_intersect("sh_arr", "lh")))
        .filter(F.col("short_len") < F.col("long_len"))
        .filter(F.col("matches") >= t_expr)
        .select("short", "long")
    )


def verify_containment(cands: DataFrame, clips: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Suffix-array verification → (a, b, source='substr') true containments.

    Runs as ``mapInPandas`` over a ROUND-ROBIN-repartitioned candidate frame,
    grouping by container WITHIN each Arrow batch — not ``groupBy(long)
    .applyInPandas``: the group-shuffle's AQE coalescing targets shuffle
    BYTES, and a few MB of candidate rows collapse to 2-3 partitions that
    then serialize ~14 s of suffix-array CPU onto as many cores (measured at
    200k clips, flat from 4 to 16 cores — the NOTES.md gotcha #7 shape).
    Splitting a container's group across batches only costs rebuilding its
    (small) suffix array per fragment; correctness is per-candidate."""
    t = clips.select("clip_id", "transcript")
    withs = cands.join(
        t.select(F.col("clip_id").alias("short"), F.col("transcript").alias("ts")), "short"
    ).join(
        t.select(F.col("clip_id").alias("long"), F.col("transcript").alias("tl")), "long"
    )
    withs = withs.repartition(withs.sparkSession.sparkContext.defaultParallelism)

    schema = StructType(
        [
            StructField("a", StringType(), False),
            StructField("b", StringType(), False),
            StructField("source", StringType(), False),
        ]
    )

    def check_batch(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_a, out_b = [], []
            for _long, grp in pdf.groupby("long", sort=False):
                # one suffix array per container fragment; candidates
                # normalized in one batch, then each probed with an
                # O(|ts| log |tl|) binary search (the search itself is
                # inherently per-candidate — it IS the work, not overhead)
                tl = normalize_transcript([grp["tl"].iloc[0]])[0].encode("utf-8")
                sa = suffix_array(tl)
                tss = normalize_transcript(grp["ts"].tolist())
                for short, long_, ts in zip(grp["short"], grp["long"], tss):
                    tsb = ts.encode("utf-8")
                    if len(tsb) and sa_contains(tl, sa, tsb):
                        lo, hi = sorted([short, long_])
                        out_a.append(lo)
                        out_b.append(hi)
            yield pd.DataFrame({"a": out_a, "b": out_b, "source": "substr"})

    return withs.mapInPandas(check_batch, schema=schema)
