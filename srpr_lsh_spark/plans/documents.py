"""Text-only dedup over the driver's ``documents`` table + rows-only queries.

``documents(doc_id, text, ...)`` is the transcript stand-in (TESTDATA.md): the
adapter maps it onto the clips schema with no audio, and the MinHash side of
the pipeline runs unchanged. These power the non-SQL-expressible ``queries()``
entries (LSH stages get rows-only driver checks; their exactness is pinned by
the pytest oracles instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.operators.ann import lsh_topk
from srpr_lsh_spark.operators.banding import (
    SOURCE_MINHASH,
    combined_candidates,
    explode_bands,
)
from srpr_lsh_spark.operators.signatures import compute_signatures
from srpr_lsh_spark.operators.verify import verify_text_pairs


def documents_as_clips(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("sr_hz"),
        F.lit(None).cast("int").alias("dur_ms"),
        F.lit("none").alias("codec"),
        F.col("text").alias("transcript"),
    )


def doc_signatures(spark: SparkSession, sf_dir: str, cfg: DedupConfig) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the documents table is a single small parquet file → one input split;
    # text rows carry no audio bytes, so a row-count repartition is cheap and
    # lets the CPU-bound signature UDF use every core
    clips = documents_as_clips(docs).repartition(spark.sparkContext.defaultParallelism)
    return compute_signatures(clips, cfg)


def minhash_signature_table(spark: SparkSession, sf_dir: str, cfg: DedupConfig) -> DataFrame:
    """(doc_id, n_shingles, first 4 minhash components) — deterministic."""
    sigs = doc_signatures(spark, sf_dir, cfg)
    return sigs.select(
        F.col("clip_id").cast("long").alias("doc_id"),
        "n_shingles",
        F.col("minhash")[0].alias("mh0"),
        F.col("minhash")[1].alias("mh1"),
        F.col("minhash")[2].alias("mh2"),
        F.col("minhash")[3].alias("mh3"),
    )


def band_bucket_histogram(spark: SparkSession, sf_dir: str, cfg: DedupConfig) -> DataFrame:
    """Histogram of MinHash band bucket sizes — the LSH table load profile."""
    sigs = doc_signatures(spark, sf_dir, cfg)
    bands = explode_bands(sigs, cfg).filter(F.col("source") == SOURCE_MINHASH)
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("bucket_size"))
    return sizes.groupBy("bucket_size").agg(F.count("*").alias("n_buckets"))


def near_dup_pairs_documents(
    spark: SparkSession, sf_dir: str, cfg: DedupConfig, threshold: float = 0.5
) -> DataFrame:
    """Flagship text path: shingle → MinHash → bands → candidates → exact
    Jaccard ≥ threshold."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clips = documents_as_clips(docs).repartition(
        spark.sparkContext.defaultParallelism
    )
    import dataclasses

    vcfg = dataclasses.replace(cfg, jaccard_threshold=threshold)
    # one localCheckpoint, on signatures: the uncheckpointed DAG would
    # recompute the signature UDF once per downstream branch (bucket sizes,
    # pair join, two verify attaches) — measured 36 s → ~8 s on 500 docs.
    # The candidate frame itself is NOT checkpointed: verify consumes it once,
    # and identical subplans inside the single job are covered by
    # ReusedExchange — one fewer eager driver action per call.
    sigs = compute_signatures(clips, vcfg).localCheckpoint(eager=True)
    cands = combined_candidates(sigs, vcfg, sources=(SOURCE_MINHASH,))
    # n_rows from the (already materialized) signature blocks — a metadata-
    # cheap count that lets verify pick the shingle-lookup plan (r6) without
    # scanning documents again
    verified = verify_text_pairs(cands, clips, vcfg, n_rows=sigs.count())
    return verified.select(
        F.col("a").cast("long").alias("doc_a"),
        F.col("b").cast("long").alias("doc_b"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def ann_lsh_topk_embeddings(spark: SparkSession, sf_dir: str, cfg: DedupConfig) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(
        emb, queries, id_col="vec_id", vec_col="embedding",
        dim=64, k=10, tables=12, bits=8, seed=cfg.seed,
    )


def ann_eval_embeddings(
    spark: SparkSession, sf_dir: str, cfg: DedupConfig, k: int = 10, n_queries: int = 50
) -> DataFrame:
    """The reference's evaluation loop (main.cpp:122-166) end-to-end: LSH
    retrieval scored against the brute-force cosine oracle — one row of
    macro-averaged precision/recall/MAP/nDCG@k plus the reference's
    ``avg_nrecall`` (recall of max-"rated" items over Umax users only;
    ratings here are cosine quantized to the 1..5 MovieLens grade scale, so
    grade 5 = the near-parallel items — the analogue of a 5-star rating)."""
    from srpr_lsh_spark.functions.metrics import (
        average_metrics,
        nrecall_at_k,
        retrieval_metrics,
    )
    from srpr_lsh_spark.operators.ann import dot_expr, norm_expr
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < n_queries)
    # oracle: brute-force cosine top-k with total-order tie-break (main.cpp:36)
    # — per-vector norms hoisted out of the cross join (r6, bit-identical)
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).withColumn("nq", norm_expr("qv"))
    cv = emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("cv")
    ).withColumn("nc", norm_expr("cv"))
    sims = (
        qv.crossJoin(cv)
        .filter(F.col("query_id") != F.col("item_id"))
        .select(
            "query_id", "item_id",
            (dot_expr("qv", "cv") / (F.col("nq") * F.col("nc"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("item_id").desc())
    truth = (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "item_id")
    )
    lsh = lsh_topk(
        emb, queries, id_col="vec_id", vec_col="embedding",
        dim=64, k=k, tables=12, bits=8, seed=cfg.seed,
    ).select("query_id", F.col("cand_id").alias("item_id"), "rnk")
    # cosine → 1..5 grade by per-user QUINTILE (grade 5 = the user's top 20%
    # of items by cosine): the MAX_RATING_VALUE=5.0 max-rated set of
    # main.cpp:68, derived deterministically from geometry. An absolute
    # cosine threshold would leave the grade-5 set empty on near-orthogonal
    # random embeddings; ranks always populate it.
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").asc(), F.col("item_id").asc())
    ratings = sims.select(
        "query_id",
        "item_id",
        F.ntile(5).over(wq).cast("double").alias("rating"),
    )
    nrec = nrecall_at_k(lsh, ratings, max_rating_value=5.0, k=k).agg(
        F.round(F.avg("n_recall_at_k"), 4).alias("avg_nrecall"),
        F.count("*").alias("n_umax_queries"),
    )
    return average_metrics(retrieval_metrics(lsh, truth, k=k)).crossJoin(nrec)
