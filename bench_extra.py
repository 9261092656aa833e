#!/usr/bin/env python
"""Isolation benchmarks for the round-6 optimization work (guide §1.4).

Times sub-parts of the dedup pipeline against a pre-synthesized corpus with
the noop sink, so each operator's cost is measured without the sink and
without stage coupling. Separate from the FROZEN bench.py (round-6 brief).

    python bench_extra.py --data-dir /root/scratch/corpus200k --parts sig,cand
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import DEFAULT_CPUS, _proc_group_cpu, _session


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label: str, fn, out: dict) -> None:
    spark.sparkContext.setJobDescription(label)
    t0, c0 = time.time(), _proc_group_cpu()
    fn()
    t1, c1 = time.time(), _proc_group_cpu()
    out[label] = {"wall_s": round(t1 - t0, 2),
                  "cpu_s": round((c1 - c0), 1) if c0 is not None else None}
    print(json.dumps({label: out[label]}), flush=True)
    spark.sparkContext.setJobDescription(None)


def time_queries(sf_dir: str, cpus: int, reps: int, names: "list[str] | None" = None) -> None:
    """Per-query noop timing at an arbitrary sf dir (reps interleaved so a
    slow host window hits all queries equally, per NOTES 'environment quirks'
    #2; report min + all samples)."""
    from bench import BENCH_QUERIES

    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    qs = em.queries()
    names = names or list(BENCH_QUERIES)
    samples: dict = {n: [] for n in names}
    try:
        for rep in range(reps):
            for name in names:
                spark.sparkContext.setJobDescription(f"q:{name}:rep{rep}")
                t0 = time.time()
                qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                samples[name].append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
        print(json.dumps({"sf_dir": sf_dir, "cpus": cpus,
                          "min": {n: min(v) for n, v in samples.items()},
                          "samples": samples}))
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)))
    ap.add_argument("--parts", default="sig,cand,sub,verify,cc")
    ap.add_argument("--queries", action="store_true",
                    help="time the bench queries at --sf-dir instead of dedup stages")
    ap.add_argument("--only", default=None, help="comma list of query names for --queries")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if args.queries:
        time_queries(args.sf_dir, args.cpus, args.reps,
                     args.only.split(",") if args.only else None)
        return
    if not args.data_dir:
        ap.error("--data-dir required unless --queries")
    parts = set(args.parts.split(","))

    from pyspark.sql import functions as F

    from srpr_lsh_spark.config import DedupConfig
    from srpr_lsh_spark.operators.banding import combined_candidates, exact_content_edges
    from srpr_lsh_spark.operators.components import connected_components
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.substring import containment_candidates, verify_containment
    from srpr_lsh_spark.operators.verify import verify_audio_pairs, verify_text_pairs
    from srpr_lsh_spark.operators.banding import SOURCE_MINHASH, SOURCE_SIMHASH

    cfg = DedupConfig(shuffle_partitions=max(args.cpus * 2, 8))
    spark = _session(args.cpus, cfg.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}

    full = spark.read.parquet(f"{args.data_dir}/clips_full")
    clips = full.drop("cluster_id", "role")

    old_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(cfg.input_split_bytes))
    if "sig" in parts:
        timed(spark, "signatures_noop", lambda: noop(compute_signatures(clips, cfg)), out)
    # materialized signatures for downstream isolation
    sigs = compute_signatures(clips, cfg).localCheckpoint(eager=True)
    if old_split is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
    n_sigs = sigs.count()
    print(f"# sigs materialized: {n_sigs}", flush=True)

    if "cand" in parts:
        for r in (1, 2):
            timed(spark, f"lsh_candidates_noop_r{r}",
                  lambda: noop(combined_candidates(sigs, cfg)), out)
    if "sub" in parts:
        for r in (1, 2):
            timed(spark, f"containment_candidates_noop_r{r}",
                  lambda: noop(containment_candidates(clips, sigs, cfg)), out)

    if "verify" in parts or "cc" in parts:
        lsh = combined_candidates(sigs, cfg)
        sub = containment_candidates(clips, sigs, cfg).select(
            F.col("short").alias("a"), F.col("long").alias("b"),
            F.lit("substr").alias("source"))
        cands = lsh.unionByName(sub).localCheckpoint(eager=True)
        n_cands = cands.count()
        print(f"# candidates materialized: {n_cands}", flush=True)
        out["n_candidates"] = n_cands

    if "verify" in parts:
        timed(spark, "verify_text_noop",
              lambda: noop(verify_text_pairs(
                  cands.filter(F.col("source") == SOURCE_MINHASH), clips, cfg)), out)
        timed(spark, "verify_audio_noop",
              lambda: noop(verify_audio_pairs(
                  cands.filter(F.col("source") == SOURCE_SIMHASH), clips, sigs, cfg,
                  n_signatures=n_sigs)), out)
        timed(spark, "verify_substr_noop",
              lambda: noop(verify_containment(
                  cands.filter(F.col("source") == "substr").select(
                      F.col("a").alias("short"), F.col("b").alias("long")),
                  clips, cfg)), out)
        timed(spark, "exact_edges_noop", lambda: noop(exact_content_edges(sigs)), out)

    if "cc" in parts:
        from srpr_lsh_spark.plans.pipeline import _pad

        exact = _pad(exact_content_edges(sigs))
        text = _pad(verify_text_pairs(
            cands.filter(F.col("source") == SOURCE_MINHASH), clips, cfg))
        audio = _pad(verify_audio_pairs(
            cands.filter(F.col("source") == SOURCE_SIMHASH), clips, sigs, cfg,
            n_signatures=n_sigs))
        subv = _pad(verify_containment(
            cands.filter(F.col("source") == "substr").select(
                F.col("a").alias("short"), F.col("b").alias("long")), clips, cfg))
        verified = exact.unionByName(text).unionByName(audio).unionByName(subv) \
            .localCheckpoint(eager=True)
        print(f"# verified materialized: {verified.count()}", flush=True)
        timed(spark, "cc_noop",
              lambda: noop(connected_components(
                  verified.select("a", "b"), sigs.select("clip_id"),
                  max_iters=cfg.cc_max_iters)), out)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
