"""Stage 2b: exact-substring duplicate pass (suffix-array verified).

Containment is invisible to plain MinHash banding when the length ratio is
small (Jaccard of a 40% substring is ≈ 0.4 — below band sensitivity), so this
pass has its own candidate generator:

- candidates: every shingle of a contained transcript occurs in its
  container, so the contained side's **bottom-k shingle sketch** must hit
  the container's shingle set. Two shuffles, two numpy kernels (see
  ``containment_candidates``); hashes held by more than ``hot_shingle_cap``
  clips are cut (a prefix-filtering-style stopword cut).
- verification: per container group, ONE suffix array of the container's
  normalized transcript is built and each candidate substring is binary-
  searched (``kernels.text.suffix_array`` / ``sa_contains``) — exact, no
  false positives.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.kernels.text import normalize_transcript, sa_contains, suffix_array
from srpr_lsh_spark.operators.banding import whole_partition
from srpr_lsh_spark.operators.signatures import shingle_sets


def sketch_hits(rows: pa.Table, cap: int) -> pa.RecordBatch:
    """Kernel 1: ``rows(clip_id, h, tr_len, sketch)`` → ``(short, longs)``.

    ``sketch`` marks a bottom-k sketch row of an eligible short, else the
    row is a posting (the clip's shingle set holds ``h``); a clip has at
    most one row of each kind per hash. A hash's df is its posting count.
    For every sketch row whose hash has df ≤ ``cap``, emits the short and
    the posting clips of that hash with a longer transcript (possibly
    none: the row still counts toward the short's kept-sketch size). Hashes
    no sketch holds emit nothing. ``rows`` must hold whole hashes."""
    ids = pc.dictionary_encode(rows.column("clip_id").combine_chunks())
    code = ids.indices.to_numpy()
    h = rows.column("h").to_numpy()
    ln = rows.column("tr_len").to_numpy().astype(np.int64)
    sk = rows.column("sketch").to_numpy()

    # postings by (hash, length): each hash's clips are a run, ascending
    o = np.lexsort((ln[~sk], h[~sk]))
    ph, pl, pcode = h[~sk][o], ln[~sk][o], code[~sk][o]
    sh, sl, scode = h[sk], ln[sk], code[sk]
    first, end = np.searchsorted(ph, sh, "left"), np.searchsorted(ph, sh, "right")
    keep = end - first <= cap
    first, end, sl, scode = first[keep], end[keep], sl[keep], scode[keep]

    # (run start, length) orders the postings too, so one searchsorted finds
    # each sketch row's first longer posting in its hash's run
    m = ln.max() + 2
    lo = np.searchsorted(np.searchsorted(ph, ph) * m + pl, first * m + sl, side="right")
    n = np.maximum(end - lo, 0)
    off = np.r_[0, np.cumsum(n)]
    take = np.arange(off[-1]) + np.repeat(lo - off[:-1], n)
    return pa.RecordBatch.from_arrays(
        [ids.dictionary.take(pa.array(scode)),
         pa.ListArray.from_arrays(pa.array(off, pa.int32()),
                                  ids.dictionary.take(pa.array(pcode[take])))],
        names=["short", "longs"],
    )


def containment_pairs(rows: pa.Table, min_matches: int) -> pa.RecordBatch:
    """Kernel 2: ``rows(short, longs)``, one row per kept sketch hash of each
    short → the ``(short, long)`` pairs with matches ≥ t.

    sk_n is a short's row count, t = max(``min_matches``, ⌈0.8·sk_n⌉) and a
    pair's matches is the number of the short's rows listing the long. As
    matches ≤ sk_n, t also enforces sk_n ≥ ``min_matches``: a sketch gutted
    by the hot cut carries no evidence (chance co-occurrence of one rare
    shingle would flood the verifier — measured ~340k false candidates at
    100k docs). ``rows`` must hold whole shorts."""
    shorts = pc.dictionary_encode(rows.column("short").combine_chunks())
    lists = rows.column("longs").combine_chunks()
    longs = pc.dictionary_encode(lists.flatten())
    s = shorts.indices.to_numpy().astype(np.int64)
    sk_n = np.bincount(s, minlength=len(shorts.dictionary))
    t = np.maximum(min_matches, np.ceil(sk_n * 0.8))
    n_long = max(len(longs.dictionary), 1)
    key = np.repeat(s * n_long, pc.list_value_length(lists).to_numpy())
    k, matches = np.unique(key + longs.indices.to_numpy(), return_counts=True)
    a, b = np.divmod(k, n_long)
    ok = matches >= t[a]
    return pa.RecordBatch.from_arrays(
        [shorts.dictionary.take(pa.array(a[ok])), longs.dictionary.take(pa.array(b[ok]))],
        names=["short", "long"],
    )


def containment_candidates(clips: DataFrame, signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """→ (short, long) candidate containment pairs: a short with at least
    ``min_substr_shingles`` shingles, its kept sketch S′ (the sketch hashes
    held by ≤ ``hot_shingle_cap`` clips) of size sk_n, and a long with a
    longer transcript holding ≥ max(``containment_min_matches``,
    ⌈0.8·sk_n⌉) of S′. One lazy plan: sketch and posting rows ``(clip_id,
    h, tr_len)`` → ``repartition(n, "h")`` → ``sketch_hits`` →
    ``repartition(n, "short")`` → ``containment_pairs``. The ``h`` task
    holds every posting row of each of its hashes, hot ones included."""
    id_type = signatures.schema["clip_id"].dataType
    sketch = signatures.filter(F.col("n_shingles") >= cfg.min_substr_shingles).select(
        "clip_id", F.explode("sketch").alias("h"), "tr_len", F.lit(True).alias("sketch")
    )
    postings = shingle_sets(clips, cfg).select(
        "clip_id", F.explode("hs").alias("h"), "tr_len", F.lit(False).alias("sketch")
    )
    # n = the session's shuffle width, so AQE does not coalesce: by bytes it
    # packs these narrow rows into one or two tasks, and each worker that
    # runs the largest keeps its heap high-water (glibc trim threshold, see
    # config.tune_allocator_env). dedup-1k on 4 CPUs: summed worker RSS
    # 691 MB coalesced, 642 MB not
    n = int(signatures.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    hits = sketch.unionByName(postings).repartition(n, "h").mapInArrow(
        partial(whole_partition, kernel=partial(sketch_hits, cap=cfg.hot_shingle_cap)),
        StructType([StructField("short", id_type), StructField("longs", ArrayType(id_type))]),
    )
    return hits.repartition(n, "short").mapInArrow(
        partial(whole_partition, kernel=partial(
            containment_pairs, min_matches=cfg.containment_min_matches)),
        StructType([StructField("short", id_type), StructField("long", id_type)]),
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
