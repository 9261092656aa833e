"""Approximate nearest neighbors over an embedding column.

Two paths, mirroring the reference's evaluation design (brute force as oracle,
LSH as the fast path — ``main.cpp:122-166``):

- brute-force cosine top-k: DataFrame crossJoin + window (the oracle; also the
  DuckDB-checked ``embedding_cosine_topk`` parity query),
- SRP-LSH-bucketed top-k: explode SRP table keys (the reference's L-table
  scheme, ``src/lsh.h:27-44``), bucket-join query and candidate sides, exact
  cosine re-rank on the candidate union, top-k with total-order tie-break
  (UNROUNDED score desc, id desc — the reference's ``sort(rbegin, rend)``
  over (score, id) pairs, ``main.cpp:36``). The same order is used by the
  brute-force oracles in plans/documents.py and plans/sweep.py, so ties can
  never inject artificial recall noise into the eval.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from srpr_lsh_spark.kernels.hashing import srp_keys, srp_planes


def _with_srp_keys(
    df: DataFrame, vec_col: str, id_col: str, dim: int, tables: int, bits: int, seed: int
) -> DataFrame:
    planes = srp_planes(dim, tables, bits, seed)
    b = df.sparkSession.sparkContext.broadcast(planes)

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, False),
            StructField("keys", ArrayType(LongType(), False), False),
        ]
    )

    def gen(batches):
        pl = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            keys = srp_keys(vecs, pl, tables=tables, bits=bits)
            yield pd.DataFrame({"id": pdf[id_col], "keys": list(keys)})

    return df.select(F.col(id_col).alias(id_col), F.col(vec_col)).mapInPandas(
        gen, schema=schema
    )


def norm_expr(col):
    """JVM-side L2 norm of a float array column (double math). Pair-scoring
    plans hoist each side's norm into a per-VECTOR projection and divide
    ``dot_expr`` by the product, instead of re-folding it per pair (r6,
    guide §1.2): ~3× less higher-order-function work per scored pair."""
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def dot_expr(a: str, b: str):
    """JVM-side double-precision dot of two float array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lsh_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    tables: int = 12,
    bits: int = 8,
    seed: int = 42,
    query_id_col: "str | None" = None,
    query_vec_col: "str | None" = None,
) -> DataFrame:
    """The LSH bucket-probe join (src/lsh.h:34-44) + candidate union across
    tables (:36-43): → distinct (query_id, cand_id).

    ``query_id_col``/``query_vec_col`` name the QUERY frame's columns when
    they differ from the item side's (e.g. user vectors probing an item
    index) — so no caller has to alias a user id as ``item_id`` (the r3
    schema pun, VERDICT #6). Default: same names as the item side."""
    keys_all = _with_srp_keys(vectors, vec_col, id_col, dim, tables, bits, seed)
    keys_q = _with_srp_keys(
        queries, query_vec_col or vec_col, query_id_col or id_col,
        dim, tables, bits, seed,
    )
    idx = keys_all.select("id", F.posexplode("keys").alias("t", "key"))
    qx = keys_q.select(
        F.col("id").alias("query_id"), F.posexplode("keys").alias("t", "key")
    )
    joined = qx.join(idx, ["t", "key"])
    if query_id_col is None:
        # query ids live in the ITEM id space (self-retrieval eval): drop the
        # trivial self match. With a distinct query entity (users probing an
        # item index) a numeric id coincidence is NOT a self match — keep it.
        joined = joined.filter(F.col("query_id") != F.col("id"))
    return joined.select("query_id", F.col("id").alias("cand_id")).distinct()


def rerank_topk(
    cands: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    query_id_col: "str | None" = None,
    query_vec_col: "str | None" = None,
) -> DataFrame:
    """Exact cosine re-rank of (query_id, cand_id) candidates → top-k.

    ``F.broadcast(qv)`` assumes a bounded query set (top-k serving / eval, the
    reference's usage) — for all-vs-all workloads use the dedup pipeline's
    banded self-join instead; broadcasting an unbounded query side would not
    survive scale."""
    # per-vector norms hoisted into each side's projection (r6): the scored
    # frame then folds only the dot per pair — bit-identical cosine
    qv = queries.select(
        F.col(query_id_col or id_col).alias("query_id"),
        F.col(query_vec_col or vec_col).alias("qv"),
    ).withColumn("nq", norm_expr("qv"))
    cv = vectors.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
    ).withColumn("nc", norm_expr("cv"))
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select(
            "query_id", "cand_id",
            (dot_expr("qv", "cv") / (F.col("nq") * F.col("nc"))).alias("cosine"),
        )
    )
    # rank on the UNROUNDED score with id-desc tie-break — identical to the
    # brute-force oracle's order (main.cpp:36), so LSH-vs-oracle comparisons
    # differ only by bucketing, never by tie resolution
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id").desc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("cosine", F.round("cosine", 4))
    )


def brute_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id_col: "str | None" = None,
    query_vec_col: "str | None" = None,
) -> DataFrame:
    """Brute-force cosine top-k (``main.cpp:30-44``): score EVERY item for
    each query, rank desc with id-desc tie-break (the ``sort(rbegin, rend)``
    order on (score, item) pairs). Returns (query_id, cand_id, cosine, rnk).

    The query side is broadcast — bounded query sets only (serving / eval),
    same boundary as ``rerank_topk``."""
    # norms hoisted per side, as in rerank_topk (r6) — bit-identical cosine
    qv = queries.select(
        F.col(query_id_col or id_col).alias("query_id"),
        F.col(query_vec_col or vec_col).alias("qv"),
    ).withColumn("nq", norm_expr("qv"))
    cv = vectors.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
    ).withColumn("nc", norm_expr("cv"))
    scored = cv.crossJoin(F.broadcast(qv)).select(
        "query_id", "cand_id",
        (dot_expr("qv", "cv") / (F.col("nq") * F.col("nc"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").desc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("cosine", F.round("cosine", 4))
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    tables: int = 12,
    bits: int = 8,
    seed: int = 42,
    query_id_col: "str | None" = None,
    query_vec_col: "str | None" = None,
) -> DataFrame:
    """SRP-LSH top-k: bucket-probe join → candidate union → exact re-rank.

    ``queries`` is a subset of ``vectors`` (the reference's self-retrieval
    eval) or any frame whose id/vec columns are named by
    ``query_id_col``/``query_vec_col`` (user vectors probing an item index —
    no self-exclusion then). Returns (query_id, cand_id, cosine, rnk ≤ k).
    """
    cands = lsh_candidates(
        vectors, queries, id_col, vec_col, dim, tables, bits, seed,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    return rerank_topk(
        cands, vectors, queries, id_col, vec_col, k,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
