#!/usr/bin/env python
"""Benchmark driver.

Default mode (what the per-round driver runs): one JSON line with the headline
end-to-end dedup time on a deterministic synthetic clips corpus scaled to the
target sf, plus per-query seconds for representative relational queries at
``$SPARK_GRAFT_SF_DIR``.

    python bench.py                       # sf from $SPARK_GRAFT_SF_DIR, local[$SPARK_GRAFT_CPUS]
    python bench.py --cpus 8              # pin parallelism
    python bench.py --executors 4 --cpus 4  # local-cluster[4,4,8g]: separate executor JVMs
    python bench.py --scaling             # N vs 4N EXECUTOR study (local-cluster[1,4,8g]
                                          # vs local-cluster[4,4,8g]) → writes BENCH/BASELINE.md

Scaling evidence (BASELINE.json north_rule; no real cluster in this sandbox):
the identical job on the identical input at 1 vs 4 process-isolated executor
JVMs, reporting throughput at both, per-stage decomposition, and
efficiency = (T_1 / T_4) / 4.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
def _default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` when set; otherwise HALF the hardware threads.

    Every CPU-bound Python-UDF task occupies TWO schedulable threads — its
    JVM task thread and its forked python worker process — so ``local[all
    cores]`` runs 2× oversubscribed exactly on the decode/verify stages that
    dominate this job. Measured back-to-back at 20k clips on the 32-core
    sandbox (r5): local[32] = 40–60 s e2e at ~915–967 CPU-s per rep vs
    local[16] = 29 s at ~330 CPU-s per rep — 3× less CPU burned for ~2× less
    wall (the 27 s "verify floor" of BENCH_r04 was this, not the verify
    plan). Same rule on a real cluster: size ``spark.executor.cores`` to
    physical cores / 2 for Arrow-UDF-heavy stages, or cut
    ``spark.sql.shuffle.partitions`` accordingly.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return max(4, (os.cpu_count() or 16) // 2)


DEFAULT_CPUS = _default_cpus()

BENCH_QUERIES = (
    "pricing_summary",
    "join_dims",
    "topk_per_group",
    "dcg",
    "exact_dedup",
    "ngram_jaccard",
    "embedding_cosine_topk",
    "near_dup_pairs_documents",
)


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _scratch_dir() -> str:
    # tmpfs when available: the bench corpus is synthetic scratch, and the
    # host's disk adds noise that swamps scaling measurements
    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _proc_group_cpu() -> "float | None":
    """CPU-seconds of this process tree — the bench python driver, the
    py4j-launched JVM and its python workers (``hoststat.tree_cpu_s``). This
    is the measurement the scaling report's CPU column makes its
    stall-vs-work argument with."""
    from srpr_lsh_spark.hoststat import tree_cpu_s

    return tree_cpu_s()


def _driver_heap_mb() -> int:
    """local-mode driver heap: a quarter of ``MemTotal``, 1-24 GiB, so the
    JVM, its off-heap buffers and the Python workers fit beside it."""
    from srpr_lsh_spark.hoststat import mem_total_mb

    return min(24576, max(1024, (mem_total_mb() or 8192) // 4))


def _session(cpus: int, shuffle_partitions: "int | None" = None,
             executors: "int | None" = None, exec_mem_mb: int = 8192):
    """local[cpus] session, or — when ``executors`` is set — a process-isolated
    ``local-cluster[executors, cpus, exec_mem_mb]`` session: each executor is
    its OWN JVM with its own heap, GC, allocator arenas, and python workers.
    This is the sandbox's honest stand-in for an N-executor cluster (the
    north_rule's scaling criterion), unlike local[N] threads which share one
    JVM and so conflate GC/allocator contention with true shuffle cost."""
    from pyspark.sql import SparkSession

    from srpr_lsh_spark.config import tune_allocator_env

    tune_allocator_env()  # before JVM launch: python workers inherit it
    # standalone-mode executors take their scratch dirs from SPARK_LOCAL_DIRS,
    # not spark.local.dir (Spark warns exactly this) — set both
    scratch = os.path.join(_scratch_dir(), f"spark_local_{executors or 0}x{cpus}")
    os.environ["SPARK_LOCAL_DIRS"] = scratch

    if executors is None:
        master = f"local[{cpus}]"
    else:
        master = f"local-cluster[{executors},{cpus},{exec_mem_mb}]"
    total_cores = cpus * (executors or 1)

    b = (
        SparkSession.builder.master(master)
        .appName(f"srpr-lsh-bench-{master}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(total_cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide binary rows: bound each python worker's per-batch buffer
        # (2048 clips ≈ 60 MB in + decode scratch). With the allocator tuning
        # (config.tune_allocator_env) batches this size recycle arena pages
        # instead of re-faulting fresh mmap'd ones every batch.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # the verify-stage join sides (fingerprints/sketches) are
        # ~0.5 KB/clip — broadcasting them removes the candidate-pair
        # shuffles. At 200k clips the fingerprint side (~100 MB) once crossed
        # the old 128m threshold and the phase-1 attach joins silently flipped
        # to sort-merge (the verify stage ANTI-scaled, 0.8× at 4× cores).
        # Phase 1's fp side now carries a broadcast hint while it fits
        # spark.driver.maxResultSize (operators/verify.py::fits_collect_budget),
        # so that cliff no longer depends on this setting; 512m keeps the
        # other narrow join sides broadcast at bench scales.
        .config("spark.sql.autoBroadcastJoinThreshold", "512m")
        # isolated mode keeps the TOTAL footprint small: this host's reclaim
        # daemon starts fault-storming around ~60 GB resident (VARIANCE.md
        # round 3). Executor heap stays 8g at BOTH levels — the 1-exec level
        # holds every localCheckpoint block alone, exactly as a real
        # cluster's per-executor share would demand — and the study keeps
        # total resident under the storm threshold via corpus size instead.
        .config("spark.driver.memory",
                f"{_driver_heap_mb()}m" if executors is None else "6g")
        .config("spark.local.dir", scratch)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if executors is not None:
        # executor JVMs are launched by the in-process standalone Worker;
        # make the allocator env + python interpreter explicit rather than
        # relying on transitive env inheritance
        b = (
            b.config("spark.executor.memory", f"{exec_mem_mb}m")
            .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
            .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
            .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
            .config("spark.pyspark.python", sys.executable)
        )
    spark = b.getOrCreate()
    if executors is not None:
        # executor python workers run in the executor's work dir, not the
        # repo — ship the package the way a real cluster submit would
        # (spark-submit --py-files, north_rule): zip srpr_lsh_spark and
        # distribute it to every executor's sys.path.
        spark.sparkContext.addPyFile(_package_zip())
    return spark


def _package_zip() -> str:
    """Zip srpr_lsh_spark into the scratch dir (idempotent per process)."""
    import zipfile

    repo = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(repo, "srpr_lsh_spark")
    out = os.path.join(_scratch_dir(), f"srpr_lsh_spark_{os.getpid()}.zip")
    if not os.path.exists(out):
        with zipfile.ZipFile(out, "w") as z:
            for root, _dirs, files in os.walk(pkg):
                for fn in files:
                    if fn.endswith(".py"):
                        p = os.path.join(root, fn)
                        z.write(p, os.path.relpath(p, repo))
    return out


def _pair_quality(clusters_df, oracle_df) -> dict:
    """Cluster-level dup-pair recall/precision vs the planted oracle,
    computed relationally (pair-counting over the contingency table) — no
    driver-side O(|cluster|²) enumeration, so a 10⁶-member skew cluster costs
    one small groupBy, not 10¹² python pairs.

    agree = Σ_cells C(n,2); got = Σ_g C(n_g,2); want = Σ_w C(n_w,2) where the
    cells are (got_cluster, want_cluster) intersections over the joined
    assignments. recall = agree/want, precision = agree/got.
    """
    from pyspark.sql import functions as F

    j = clusters_df.select("clip_id", F.col("cluster_id").alias("g")).join(
        oracle_df.select("clip_id", F.col("cluster_id").alias("w")), "clip_id"
    )
    cells = j.groupBy("g", "w").agg(F.count("*").alias("n")).localCheckpoint(eager=True)
    c2 = lambda c: F.sum(F.col(c) * (F.col(c) - 1) / 2)
    agree = cells.agg(c2("n").alias("x")).first()["x"] or 0.0
    got = cells.groupBy("g").agg(F.sum("n").alias("n")).agg(c2("n").alias("x")).first()["x"] or 0.0
    want = cells.groupBy("w").agg(F.sum("n").alias("n")).agg(c2("n").alias("x")).first()["x"] or 0.0
    recall = agree / max(want, 1.0)
    precision = agree / max(got, 1.0)
    return {
        "dup_pair_recall": round(recall, 5),
        "dup_pair_precision": round(precision, 5),
        "oracle_pairs": int(want),
    }


def bench_once(sf_dir: str, cpus: int, n_clips: "int | None" = None,
               shuffle_partitions: "int | None" = None,
               skip_queries: bool = False,
               data_dir: "str | None" = None,
               executors: "int | None" = None,
               bench_reps: int = 1) -> dict:
    from srpr_lsh_spark.config import DedupConfig
    from srpr_lsh_spark.plans.pipeline import run_dedup
    from srpr_lsh_spark.sources.synth import SynthParams, synthesize_clips

    sf = _sf_of(sf_dir)
    if n_clips is None:
        n_clips = max(2000, int(sf * 200_000))  # sf0.1 → 20k clips
    total_cores = cpus * (executors or 1)
    shuffle_partitions = shuffle_partitions or max(total_cores * 2, 8)
    spark = _session(cpus, shuffle_partitions, executors=executors)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig(shuffle_partitions=shuffle_partitions)
    tmp = tempfile.mkdtemp(prefix="srpr_bench_", dir=_scratch_dir())
    out: dict = {"sf": sf, "cpus": cpus, "n_clips": n_clips,
                 "executors": executors, "total_cores": total_cores}
    try:
        t0 = time.time()
        if data_dir:
            # pre-synthesized shared corpus (scaling studies: both
            # parallelism levels must read the IDENTICAL input)
            full = spark.read.parquet(f"{data_dir}/clips_full")
            clips = full.drop("cluster_id", "role")
            oracle = full.select("clip_id", "cluster_id", "role")
        else:
            params = SynthParams(
                n_clips=n_clips, block_size=250, seed=42,
                min_dur_ms=300, max_dur_ms=1200,
            )
            clips, oracle = synthesize_clips(spark, params, out_dir=f"{tmp}/data")
        out["synth_sec"] = round(time.time() - t0, 2)

        # ``bench_reps`` > 1: rerun the identical dedup (fresh warehouse each
        # time) and report min + median + raw runs — this host's wall clock
        # varies multi-× between identical runs minutes apart (VARIANCE.md),
        # so cross-round deltas need their own spread (VERDICT r3 #7)
        runs: list[dict] = []
        cpu0 = _proc_group_cpu()
        for rep in range(max(1, bench_reps)):
            t0 = time.time()
            res = run_dedup(spark, clips, cfg,
                            warehouse_dir=f"{tmp}/wh{rep}", resume=False)
            n_clusters = res["clusters"].select("cluster_id").distinct().count()
            runs.append({
                "dedup_sec": round(time.time() - t0, 2),
                "stage_secs": res.get("stage_secs", {}),
                "stage_cpu_secs": res.get("stage_cpu_secs", {}),
                "verify_stats": res.get("verify_stats", {}),
                "n_clusters": n_clusters,
                "res": res,
            })
        cpu1 = _proc_group_cpu()
        if cpu0 is not None and cpu1 is not None:
            # dedup-window CPU of the whole live process tree (JVM + python
            # workers + driver), averaged per rep so it pairs with dedup_sec
            out["cpu_sec"] = round((cpu1 - cpu0) / max(1, bench_reps), 1)
        best = min(runs, key=lambda r: r["dedup_sec"])
        secs = sorted(r["dedup_sec"] for r in runs)
        out["dedup_sec"] = best["dedup_sec"]
        out["dedup_sec_median"] = secs[len(secs) // 2]
        out["dedup_runs_sec"] = [r["dedup_sec"] for r in runs]
        out["reps"] = len(runs)
        out["clips_per_sec"] = round(n_clips / best["dedup_sec"], 1)
        out["n_clusters"] = best["n_clusters"]
        out["stage_secs"] = best["stage_secs"]
        # per-stage process-group CPU of the best rep (wall+CPU per stage at
        # two parallelism levels = the per-stage stall-vs-work table the
        # scaling report prints)
        out["stage_cpu_secs"] = best["stage_cpu_secs"]
        # candidate-mass reduction through the verify ladder: {} until a
        # per-run report fills it (ROADMAP item 1); the key stays because
        # downstream parsers read it. AT-LEAST-ONCE evidence when filled
        # (accumulators updated in a transformation — task retries inflate
        # them; ADVICE r4 #2).
        out["verify_stats"] = best["verify_stats"]
        if best["verify_stats"]:
            out["verify_stats"]["semantics"] = "at-least-once"
        # BASELINE.json acceptance metric: dup-pair recall / precision vs the
        # planted oracle clusters (computed outside the timed window)
        out.update(_pair_quality(best["res"]["clusters"], oracle))

        # relational queries at the driver's sf dir (skipped in scaling runs:
        # they time fixed small-data work that only adds noise exposure there)
        out["queries"] = {}
        if not skip_queries:
            import __spark_entry__ as em

            qs = em.queries()
            for name in BENCH_QUERIES:
                t0 = time.time()
                qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                out["queries"][name] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    return out


def _one_scaling_run(sf_dir: str, n_exec: "int | None", cores: int,
                     n_clips: int, data_dir: str) -> dict:
    """One fresh-process run. ``n_exec=None`` → thread mode (local[cores]);
    else local-cluster[n_exec,cores,8g]."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--sf-dir", sf_dir, "--cpus", str(cores),
        "--n-clips", str(n_clips), "--json-only",
        "--shuffle-partitions", "64", "--skip-queries",
        "--data-dir", data_dir, "--bench-reps", "1",
    ]
    if n_exec is not None:
        cmd += ["--executors", str(n_exec)]
    # CPU-seconds alongside wall time: the evidence that separates "less
    # parallel speedup because the work serialized" from "because the socket
    # ran out of memory bandwidth" — equal CPU at both levels + longer wall
    # = stall time (VERDICT r4 #1). The sub-run measures its own process
    # tree via /proc (see _proc_group_cpu); the RUSAGE_CHILDREN delta here
    # is only a /proc-less fallback (it misses the JVM grandchild entirely).
    import resource

    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    proc = subprocess.run(cmd, capture_output=True, text=True)
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(
            f"scaling sub-run failed (exec={n_exec}, cores={cores}); stderr tail above"
        )
    line = [
        l for l in proc.stdout.strip().splitlines()
        if l.startswith("{") and '"metric"' in l
    ][-1]
    out = json.loads(line)
    # the sub-run's own /proc process-group measurement (JVM + workers) is
    # authoritative; the RUSAGE_CHILDREN delta only sees the python child
    # (the JVM is a grandchild that is never waited on) and remains as a
    # fallback for hosts without /proc
    if out.get("cpu_sec") is None:
        out["cpu_sec"] = round(
            (ru1.ru_utime + ru1.ru_stime) - (ru0.ru_utime + ru0.ru_stime), 1
        )
    return out


def _synthesize_shared_corpus(sf_dir: str, n_clips: int) -> str:
    """One corpus for the whole study, synthesized once at high parallelism.

    Written to REAL DISK (default tmpdir), not tmpfs: a tmpfs-resident corpus
    plus shuffle scratch plus per-worker broadcast copies pushed total
    resident past this host's ~60 GB reclaim-storm threshold at 500k clips
    and poisoned every r4 measurement (BENCH/study_r4_500k_reclaim_storm.md).
    Disk-backed input pages live in the page cache, which evicts cleanly
    under pressure instead of fault-storming; only worker scratch stays on
    /dev/shm.

    Runs in a SUBPROCESS: ``SparkContext.stop()`` does not terminate the py4j
    gateway JVM — it lives (with its full retained heap) until the owning
    python process exits. The r5 400k study measured that leak at 12.4 GB RSS
    squatting through every sub-run. A subprocess takes the JVM with it."""
    data_dir = tempfile.mkdtemp(prefix="srpr_scaling_data_")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--synth-only",
         "--n-clips", str(n_clips), "--data-dir", data_dir],
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError("corpus synthesis subprocess failed; stderr tail above")
    return data_dir


def _synth_only(n_clips: int, data_dir: str) -> None:
    """Subprocess body for ``_synthesize_shared_corpus``."""
    from srpr_lsh_spark.sources.synth import SynthParams, synthesize_clips

    spark = _session(16, 64)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        params = SynthParams(n_clips=n_clips, block_size=250, seed=42,
                             min_dur_ms=300, max_dur_ms=1200)
        synthesize_clips(spark, params, out_dir=data_dir)
    finally:
        spark.stop()


STAGE_ORDER = ("signatures", "candidates", "verified_pairs", "clusters")


def _run_shape(sf_dir: str, data_dir: str, n_clips: int, cores: int,
               n_lo: int, n_hi: int, reps: int, mode: str = "process",
               label: "str | None" = None) -> dict:
    """One N-vs-4N study. ``mode="threads"``: levels are local[n_lo*cores] vs
    local[n_hi*cores] (one JVM, in-process shuffle — the round brief's
    sanctioned parallelism stand-in). ``mode="process"``: levels are
    local-cluster[n_lo,cores,8g] vs local-cluster[n_hi,cores,8g] (separate
    executor JVMs). Returns runs + best-per-level + efficiency + stage table
    + Amdahl split."""
    ratio = n_hi / n_lo
    runs: dict[int, list] = {n_lo: [], n_hi: []}
    for _ in range(reps):
        for n_exec in (n_lo, n_hi):
            if mode == "threads":
                r = _one_scaling_run(
                    sf_dir, None, n_exec * cores, n_clips, data_dir)
            else:
                r = _one_scaling_run(sf_dir, n_exec, cores, n_clips, data_dir)
            runs[n_exec].append(r)
    best = {c: min(rs, key=lambda r: r["value"]) for c, rs in runs.items()}
    t_lo, t_hi = best[n_lo]["value"], best[n_hi]["value"]
    eff = (t_lo / t_hi) / ratio
    stage_rows = []
    for st in STAGE_ORDER:
        a = best[n_lo].get("stage_secs", {}).get(st)
        b = best[n_hi].get("stage_secs", {}).get(st)
        if a is not None and b is not None:
            ca = best[n_lo].get("stage_cpu_secs", {}).get(st)
            cb = best[n_hi].get("stage_cpu_secs", {}).get(st)
            stage_rows.append((st, a, b, (a / b) if b else float("inf"), ca, cb))
    frac = max(0.0, min(1.0, (1.0 - t_hi / t_lo) * ratio / (ratio - 1.0)))
    return {"cores": cores, "mode": mode, "n_lo": n_lo, "n_hi": n_hi, "ratio": ratio,
            "runs": runs, "best": best, "t_lo": t_lo, "t_hi": t_hi,
            "eff": eff, "frac": frac, "stage_rows": stage_rows,
            "label": label or ""}


def _shape_section(s: dict) -> "list[str]":
    cores, n_lo, n_hi = s["cores"], s["n_lo"], s["n_hi"]
    if s["mode"] == "threads":
        lvl = lambda n: f"local[{n * cores}]"
        title = (f"## {s['label'] or 'Study T'}: thread mode, {n_lo * cores} vs "
                 f"{n_hi * cores} cores (one JVM)")
    else:
        lvl = lambda n: f"local-cluster[{n},{cores},8g]"
        title = (f"## {s['label'] or 'Study P'}: process-isolated executors, "
                 f"shape = {cores} cores, {n_lo} vs {n_hi} executors")
    cpu = lambda n: s["best"][n].get("cpu_sec")
    lines = [
        title,
        "",
        "| executors | master | dedup wall (s) | clips/sec | process-tree CPU (s) |",
        "|---|---|---|---|---|",
        f"| {n_lo} | `{lvl(n_lo)}` | {s['t_lo']} | "
        f"{s['best'][n_lo]['clips_per_sec']} | {cpu(n_lo)} |",
        f"| {n_hi} | `{lvl(n_hi)}` | {s['t_hi']} | "
        f"{s['best'][n_hi]['clips_per_sec']} | {cpu(n_hi)} |",
        "",
        "(CPU column = /proc process-group CPU-seconds across the dedup "
        "window, per rep: JVM + python workers + driver of the sub-run; "
        "equal CPU at both levels with sub-linear wall speedup = "
        "stall/bandwidth, not extra work.)",
        "",
        f"**Scaling efficiency (T_{n_lo}exec / T_{n_hi}exec) / "
        f"{s['ratio']:.0f} = {s['eff']:.3f}** (target ≥ 0.8); measured Amdahl "
        f"parallel fraction p = {s['frac']:.3f}.",
        "",
        f"Recall/precision vs planted oracle: "
        f"{s['best'][n_lo]['dup_pair_recall']} / "
        f"{s['best'][n_lo]['dup_pair_precision']} ({n_lo} exec), "
        f"{s['best'][n_hi]['dup_pair_recall']} / "
        f"{s['best'][n_hi]['dup_pair_precision']} ({n_hi} exec).",
        "",
        f"| stage | {n_lo} exec wall (s) | {n_hi} exec wall (s) | speedup "
        f"| {n_lo} exec CPU (s) | {n_hi} exec CPU (s) |",
        "|---|---|---|---|---|---|",
    ]
    fmt = lambda c: "n/a" if c is None else f"{c}"
    for st, a, b_, sp, ca, cb in s["stage_rows"]:
        lines.append(f"| {st} | {a} | {b_} | {sp:.2f}× | {fmt(ca)} | {fmt(cb)} |")
    lines.append(
        "\n(per-stage CPU = process-group CPU-seconds across that stage's "
        "wall window, best rep of each level. Flat CPU + sub-linear wall "
        "speedup = OFF-cpu waits: scheduling floors, page-fault/IO stalls. "
        "CPU inflated at the higher level = ON-cpu cycles the extra "
        "threads spend not advancing the job: spin, spill re-work, or "
        "DRAM-stall cycles — a memory-bandwidth-stalled thread still "
        "accrues CPU time, so inflation is the signature of threads "
        "sharing one socket's bandwidth. A stage that is both fast AND "
        "flat-CPU at 4x threads — signatures, whose kernel is L2-blocked "
        "by design — is the control proving the instrument.)")
    lines.append("")
    return lines


def run_scaling(sf_dir: str, n_clips: int = 20000, n_lo: int = 1, n_hi: int = 4,
                cores: "int | None" = None, reps: int = 3,
                out_path: str = "BENCH/BASELINE.md",
                which: str = "TBP") -> None:
    """The north_rule's N → 4N scaling criterion on ONE shared corpus, two
    studies in one machine-written report:

    - Study T (headline): thread mode, local[N·c] vs local[4N·c] — the round
      brief's sanctioned parallelism stand-in; in-process shuffle, so the
      comparison measures the job, not the host's cross-JVM kernel tax.
    - Study P: process-isolated local-cluster[N,c,8g] vs [4N,c,8g] executor
      JVMs with addPyFile package shipping (the spark-submit --py-files
      deployment path) — architecture evidence that outputs and recall are
      identical under real multi-executor execution. On this host its high
      level pays a measured kernel-side tmpfs/loopback fault tax that real
      clusters (own kernel, disks, NICs per node) do not.

    Runs alternate between levels; each level takes best of ``reps`` (this
    host's page reclaim makes identical runs vary multi-×; VARIANCE.md).
    efficiency = (T_lo / T_hi) / (n_hi / n_lo)."""
    data_dir = _synthesize_shared_corpus(sf_dir, n_clips)
    studies = []
    failed: list[str] = []
    # Study T (HEADLINE): thread mode, 2 vs 8 cores in one JVM — the
    # round brief's sanctioned stand-in ("e.g. local[8] and local[32],
    # or N and 4N cores"). The 2→8 shape keeps BOTH levels well under
    # the socket's memory-bandwidth capacity, so the comparison measures
    # the JOB's scaling rather than the single-box artifact where adding
    # threads divides per-core DRAM bandwidth (a real cluster adds
    # bandwidth with every executor; r3 kernel probes measured 0.83
    # ceiling at 16 workers even for cache-blocked kernels).
    #
    # Study B: thread mode, 4 vs 16 cores — the bandwidth-STRESS shape
    # (16 worker threads + python workers saturate the socket). Reported
    # with per-stage decomposition so the gap to Study T is attributable.
    #
    # Study P: process-isolated executor JVMs — demonstrates the
    # multi-executor deployment path (addPyFile shipping, cross-JVM
    # shuffle, identical outputs); on THIS host its 4-executor level
    # pays a measured kernel tax no real cluster pays, so it is
    # supporting evidence, not the headline.
    shapes = tuple(
        sh for sh in (
            dict(cores=cores or 2, reps=reps, mode="threads",
                 label="Study T (headline)"),
            dict(cores=4, reps=max(1, reps - 1), mode="threads",
                 label="Study B (bandwidth stress)"),
            dict(cores=cores or 4, reps=max(1, reps - 2), mode="process",
                 label="Study P (architecture)"),
        ) if sh["label"].split(" ", 2)[1][0] in which.upper()
    )
    if not shapes:
        shutil.rmtree(data_dir, ignore_errors=True)
        raise SystemExit(f"--studies {which!r} selects no study shape")
    try:
        for sh in shapes:
            # a failing shape (e.g. the 1-executor level OOMing at a corpus
            # the thread levels handle) must not lose the completed studies
            try:
                studies.append(_run_shape(
                    sf_dir, data_dir, n_clips, sh["cores"], n_lo, n_hi,
                    sh["reps"], mode=sh["mode"], label=sh["label"]))
            except Exception as e:  # noqa: BLE001 — report what survived
                failed.append(f"{sh['label']}: {e}")
                sys.stderr.write(f"shape failed, continuing: {sh['label']}: {e}\n")
        if not studies:
            raise RuntimeError(f"every study shape failed: {failed}")
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)

    # headline by LABEL, not position: if Study T failed on this host, the
    # report must say the headline is a fallback rather than silently
    # promoting the bandwidth-stress or process shape (ADVICE r4 #3)
    head = next(
        (s for s in studies if s["label"].startswith("Study T")), studies[0]
    )
    head_note = (
        "" if head["label"].startswith("Study T")
        else f" — **FALLBACK**: Study T did not complete on this host; "
             f"headline taken from {head['label']}"
    )
    lines = [
        "# BENCH — N vs 4N executor scaling evidence "
        "(machine-generated by `python bench.py --scaling`)",
        "",
        "End-to-end dedup (signatures → banding/candidates → verify → connected",
        f"components; synthesis excluded) on ONE shared pre-synthesized corpus",
        f"of {n_clips} deterministic clips, at TWO parallelism levels, N and",
        "4N (north_rule; no real cluster in this sandbox — the round brief's",
        "sanctioned stand-in is the same job at N vs 4N cores on the same",
        "input). Runs alternate between levels; each level takes its best of",
        f"{reps} (shared-host noise; raw runs below).",
        "",
        "Three studies, one corpus:",
        "",
        "- **Study T (headline)** — thread mode, 2 vs 8 cores in one JVM.",
        "  In-process shuffle, both levels well under the socket's memory",
        "  bandwidth, so the comparison measures the JOB's scaling. On a",
        "  real cluster each added executor brings its OWN memory bandwidth;",
        "  on one box added threads DIVIDE it — keeping the high level at 8",
        "  cores is what makes the single-box stand-in faithful.",
        "- **Study B (bandwidth stress)** — thread mode, 4 vs 16 cores. The",
        "  16-thread level (plus python workers) saturates the socket's",
        "  DRAM bandwidth: r3 kernel-level probes measured a 0.83 ceiling at",
        "  16 workers even for cache-blocked kernels. Reported with the",
        "  per-stage decomposition so the gap to Study T is attributable to",
        "  the host artifact, not the plan.",
        "- **Study P** — process-isolated executor JVMs (1 vs 4 executors,",
        "  separate heap/GC/malloc arenas/python workers, package shipped",
        "  via addPyFile = the spark-submit --py-files path). Demonstrates",
        "  the real multi-executor deployment; on THIS host its 4-executor",
        "  level pays a measured kernel-side tax (30% of the machine in",
        "  system time: tmpfs shuffle page faults + loopback fetch through",
        "  a fault path that serializes under concurrency — VARIANCE.md",
        "  round 3) that a real cluster, where executors bring their own",
        "  kernel/disks/NICs, does not pay. Study P is therefore",
        "  architecture evidence, not the scaling headline.",
        "",
        f"**HEADLINE scaling efficiency ({head['label'] or 'Study T'}, "
        f"{head['n_lo'] * head['cores']} → {head['n_hi'] * head['cores']} "
        f"cores): {head['eff']:.3f}** (target ≥ 0.8){head_note}",
        "",
    ]
    for s in studies:
        lines += _shape_section(s)
    for f_ in failed:
        lines += [f"**Shape did not complete on this host:** {f_}", ""]
    lines += [
        "## Reproduce",
        "",
        "```",
        f"python bench.py --scaling --n-clips {n_clips} --reps {reps}"
        "   # writes this file",
        "python bench.py          # driver's per-round single-line bench",
        "```",
        "",
        "All raw runs:",
        "```json",
        json.dumps(
            {(s["label"] or s["mode"]): s["runs"] for s in studies}, indent=2
        ),
        "```",
        "",
    ]
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({
        "scaling_efficiency": round(head["eff"], 3),
        "headline_study": head["label"],
        "parallel_fraction": round(head["frac"], 3),
        "studies": {
            (s["label"] or s["mode"]): {
                "eff": round(s["eff"], 3),
                "t_lo": s["t_lo"], "t_hi": s["t_hi"],
            } for s in studies
        },
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--n-clips", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--json-only", action="store_true")
    ap.add_argument("--skip-queries", action="store_true")
    ap.add_argument("--data-dir", default=None)
    ap.add_argument("--executors", type=int, default=None,
                    help="run as local-cluster[N,cpus,8g]: N separate executor JVMs")
    ap.add_argument("--bench-reps", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")),
                    help="default-mode dedup repetitions (min + median + raw "
                         "runs reported; 3 by default so the per-round line "
                         "carries its own error bar — VERDICT r4 #3)")
    ap.add_argument("--cores", type=int, default=None,
                    help="scaling study: cores per executor (the executor "
                         "'shape'); default runs BOTH the 2-core headline "
                         "and 4-core stress shapes")
    ap.add_argument("--out", default="BENCH/BASELINE.md")
    ap.add_argument("--synth-only", action="store_true",
                    help="internal: synthesize the shared scaling corpus to "
                         "--data-dir and exit (run as a subprocess so the "
                         "gateway JVM's retained heap dies with it)")
    ap.add_argument("--studies", default="TBP",
                    help="scaling study shapes to run, by letter: T (2v8 "
                         "thread headline), B (4v16 bandwidth stress), P "
                         "(process-isolated executors). Default all three.")
    args = ap.parse_args()

    if args.synth_only:
        if not args.data_dir or args.n_clips is None:
            raise SystemExit("--synth-only requires --data-dir and --n-clips")
        _synth_only(args.n_clips, args.data_dir)
        return

    if args.scaling:
        run_scaling(args.sf_dir, n_clips=args.n_clips or 20000, reps=args.reps,
                    cores=args.cores, out_path=args.out, which=args.studies)
        return

    r = bench_once(args.sf_dir, args.cpus, n_clips=args.n_clips,
                   shuffle_partitions=args.shuffle_partitions,
                   skip_queries=args.skip_queries, data_dir=args.data_dir,
                   executors=args.executors, bench_reps=args.bench_reps)
    line = {
        "metric": "e2e_dedup_sec",
        "value": r["dedup_sec"],
        "unit": "sec",
        "queries": r["queries"],
        "sf": r["sf"],
        "clips_per_sec": r["clips_per_sec"],
        "n_clips": r["n_clips"],
        "cpus": r["cpus"],
        "executors": r.get("executors"),
        "synth_sec": r["synth_sec"],
        "n_clusters": r["n_clusters"],
        "stage_secs": r.get("stage_secs", {}),
        "stage_cpu_secs": r.get("stage_cpu_secs", {}),
        "cpu_sec": r.get("cpu_sec"),
        "reps": r.get("reps"),
        "dedup_sec_median": r.get("dedup_sec_median"),
        "dedup_runs_sec": r.get("dedup_runs_sec"),
        "verify_stats": r.get("verify_stats", {}),
        "dup_pair_recall": r.get("dup_pair_recall"),
        "dup_pair_precision": r.get("dup_pair_precision"),
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
