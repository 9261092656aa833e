"""Stage 2b: exact-substring duplicate pass (suffix-array verified).

Containment is invisible to plain MinHash banding when the length ratio is
small (Jaccard of a 40% substring is ≈ 0.4 — below band sensitivity), so this
pass has its own candidate generator:

- candidates: the contained side's **bottom-k shingle sketch** is matched
  against an inverted index of the shingle hashes (every shingle of a
  contained transcript occurs in its container, so all sketch hashes must
  hit). The index comes from one shingle pass (``shingle_sets``) and keeps
  only hashes that occur in some sketch; each hash's document frequency is
  its row count there. Sketch hashes occurring in more than
  ``hot_shingle_cap`` clips are dropped (prefix-filtering-style stopword cut)
  to bound join fan-out.
- verification: per container group, ONE suffix array of the container's
  normalized transcript is built and each candidate substring is binary-
  searched (``kernels.text.suffix_array`` / ``sa_contains``) — exact, no
  false positives.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.kernels.text import normalize_transcript, sa_contains, suffix_array
from srpr_lsh_spark.operators.signatures import shingle_sets
from srpr_lsh_spark.operators.verify import fits_collect_budget

# broadcast bytes per distinct sketch hash in the union's hashed relation
# (h long plus build-side overhead); a signature row holds at most bottom_k
UNION_HASH_BYTES = 16


def containment_candidates(
    clips: DataFrame, signatures: DataFrame, cfg: DedupConfig,
    n_signatures: "int | None" = None,
) -> DataFrame:
    """→ (short, long) candidate containment pairs.

    One plan. Only a hash in some contained-side sketch can produce a match,
    so the inverted index is semi-joined to the distinct sketch hashes (the
    "union") right after the one shingle pass (``shingle_sets``): it then
    holds every ``(clip, h)`` row of exactly those hashes, and a hash's
    document frequency is its row count there — no separate df pass. The
    stopword cut keeps the hashes with df ≤ ``hot_shingle_cap``, on both
    the sketches and the index.

    The only size-dependent choice is the broadcast hint on the union: it is
    set while ``n_signatures × bottom_k × UNION_HASH_BYTES`` fits the driver
    collect budget (``fits_collect_budget``); ``n_signatures`` is the
    manifest row count when the caller has it, else one
    ``signatures.count()`` runs."""
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

    union = sketch.select("h").distinct()
    if fits_collect_budget(signatures, cfg.bottom_k * UNION_HASH_BYTES, n_signatures):
        union = F.broadcast(union)
    # eager (r6): the index feeds the df count, long_arrs and the generation
    # join, whose stages the scheduler runs CONCURRENTLY — a lazy checkpoint
    # lets them race to recompute the transcript-scan kernel (A/B at 200k:
    # candidates stage 578 → 307 CPU-s cold with eager checkpoints here)
    index = (
        shingle_sets(clips, cfg)
        .select("clip_id", F.explode("hs").alias("h"))
        .join(union, "h", "left_semi")
        .localCheckpoint(eager=True)
    )
    keep = (
        index.groupBy("h").agg(F.count("*").alias("df_"))
        .filter(F.col("df_") <= cfg.hot_shingle_cap)
    )
    sketch = sketch.join(keep, "h")  # brings df_ for rarity
    # hot-hash rows never count (every compared hash is kept) but would still
    # flow through long_arrs and the generation join: at 20k clips they are
    # 2.1M of the index's 3.0M rows
    index = index.join(keep.select("h"), "h", "left_semi")

    # per-short kept-sketch arrays, rarest-first; a sketch gutted by the hot
    # cut (sk_n < containment_min_matches) carries no evidence: chance
    # co-occurrence of one rare shingle would flood the verifier (measured
    # ~340k false candidates at 100k docs)
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
    # per-long kept-hash arrays (bounded by one transcript's vocabulary)
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
    # exact match count |kept sketch ∩ long's shingles| via set intersection,
    # only for generated candidates (the 48M-row per-hash hits join at 200k
    # becomes ~1-2M array ops)
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
