#!/usr/bin/env python3
"""The repo benchmark: drives ``srpr_lsh_spark`` from outside and prints one
JSON result line.

    python3 perfbench/run.py --workload dedup-1k --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --self-check

``--trace 0`` times whole dedup passes (``run_dedup(resume=False)`` until the
clusters' distinct ``cluster_id`` count returns) for ``--seconds`` after
set-up (session start, corpus load, warm-up passes) and prints the
end-to-end metrics. ``--trace 1`` is a separate run: one untraced pass as
in ``--trace 0``, then a new Spark context in the same JVM with the event
log on, one signatures job to start its Python workers, and one traced
pass split into a span per pipeline stage (``run_dedup(stop_after=<stage>,
resume=True)`` on a shared warehouse); then every operator in isolation,
the numpy kernels and the query set. It prints the per-layer metrics. Either mode prints a result
line with ``"correct": false`` when a pass fails. Run from the root of a
checkout; everything the run writes goes under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

STAGES = ("signatures", "candidates", "verified_pairs", "clusters")
MIN_RECALL = 0.99
MIN_PRECISION = 0.99
# untimed passes in set-up: the first is cold (JVM JIT, Python worker
# start) and the second still ~10% slower and 3x as variable as the third
WARM_PASSES = 2
# self-check: the traced stage self-times may differ from the untraced
# wall by this share of it (stop_after splits, resume reads, noise)
SPAN_SUM_TOLERANCE = 0.3


class PassFailed(Exception):
    """A pass finished with a wrong or out-of-shape result."""


def _imports():
    """The program under test; fails when the checkout does not hold it."""
    sys.path.insert(1, ROOT)
    import srpr_lsh_spark.plans.pipeline  # noqa: F401
    import srpr_lsh_spark.sources.synth  # noqa: F401


def pair_quality(got: "dict[str, str]", want: "dict[str, str]") -> "tuple[float, float]":
    """Dup-pair (recall, precision) of cluster labels ``got`` against the
    planted ``want``, by pair counting over the contingency table."""
    from collections import Counter

    c2 = lambda n: n * (n - 1) // 2
    cells = Counter((got[c], want[c]) for c in want if c in got)
    agree = sum(c2(n) for n in cells.values())
    g, w = Counter(), Counter()
    for (a, b), n in cells.items():
        g[a] += n
        w[b] += n
    n_got, n_want = sum(c2(n) for n in g.values()), sum(c2(n) for n in w.values())
    return agree / max(n_want, 1), agree / max(n_got, 1)


class Bench:
    def __init__(self, workload, seed: int, trace: bool, tag: str):
        import host

        self.w, self.seed, self.trace = workload, seed, trace
        self.cores = host.nproc()
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.out_dir = os.path.join(WORK, "out", tag)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.out_dir, exist_ok=True)
        self.passes: list[dict] = []
        # every pass that finished its timed window, correct or not
        self.timed_passes: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.n_pass = 0
        self.spark = self.pin = self.prep_s = self.setup_s = None

    # -- preparation (never timed) -------------------------------------------
    def prepare(self) -> None:
        import pyarrow.parquet as pq

        import corpus

        t0 = time.time()
        cache = os.path.join(WORK, "cache")
        self.params = self.w.synth_params(self.seed)
        self.corpus_dir = corpus.clips_corpus(cache, self.params, n_files=2 * self.cores)
        self.query_dir = corpus.query_tables(cache, self.seed) if self.trace else None
        t = pq.read_table(os.path.join(self.corpus_dir, "clips_full"),
                          columns=["clip_id", "cluster_id"])
        self.oracle = dict(zip(t.column("clip_id").to_pylist(),
                               t.column("cluster_id").to_pylist()))
        # the n_clusters pin of (workload, seed): the planted cluster count
        self.pin = len(set(self.oracle.values()))
        self.cfg = self.w.config(self.cores)
        self.prep_s = time.time() - t0

    # -- set-up: session, corpus load, warm-up --------------------------------
    def setup(self) -> None:
        t0 = time.time()
        self._start()
        for _ in range(WARM_PASSES):
            self.dedup_pass(check=False)
        self.setup_s = time.time() - t0

    def _start(self, event_log: "str | None" = None) -> None:
        import host

        self.spark = host.session(self.run_dir, event_log=event_log)
        self.clips = self.spark.read.parquet(
            os.path.join(self.corpus_dir, "clips_full")).drop("cluster_id", "role")
        self.clips.count()

    def _wh(self) -> str:
        self.n_pass += 1
        return os.path.join(self.run_dir, f"wh{self.n_pass}")

    def dedup_pass(self, check: bool = True, sampler=None) -> "dict | None":
        """One whole pass, timed; returns its record, or None if it failed."""
        import host
        from srpr_lsh_spark.plans.pipeline import run_dedup

        wh = self._wh()
        if sampler is not None:
            sampler.reset()
        self.attempted += 1
        try:
            c0, t0 = host.tree_cpu_s(), time.time()
            res = run_dedup(self.spark, self.clips, self.cfg, warehouse_dir=wh, resume=False)
            n_clusters = res["clusters"].select("cluster_id").distinct().count()
            rec = {"dedup_s": time.time() - t0, "cpu_s": host.tree_cpu_s() - c0,
                   "n_clusters": n_clusters, "stage_s": res.get("stage_secs")}
            if sampler is not None:
                sampler.sample()
                rec["peak_worker_rss_mb"] = sampler.worker_peak_mb
            if check:
                self.timed_passes.append(rec)
                self.check(rec, res)
        except Exception as e:  # noqa: BLE001 — a failed pass is a failed operation
            traceback.print_exc()
            self.failures.append(f"pass raised {type(e).__name__}: {e}"[:500])
            return None
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        return rec

    def check(self, rec: dict, res: dict) -> None:
        """Correctness and shape of one pass, outside its timed window."""
        from workloads import check_guard

        got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
        rec["recall"], rec["precision"] = pair_quality(got, self.oracle)
        sizes: dict = {}
        for c in got.values():
            sizes[c] = sizes.get(c, 0) + 1
        rec["largest_cluster"] = max(sizes.values())
        rec["candidates"] = res["warehouse"].manifest("candidates")["rows"]
        problems = []
        if rec["n_clusters"] != self.pin:
            problems.append(f"n_clusters {rec['n_clusters']} != pinned {self.pin}")
        if rec["recall"] < MIN_RECALL:
            problems.append(f"recall {rec['recall']:.5f} < {MIN_RECALL}")
        if rec["precision"] < MIN_PRECISION:
            problems.append(f"precision {rec['precision']:.5f} < {MIN_PRECISION}")
        shape = check_guard(self.w, self.cfg, rec["candidates"], rec["largest_cluster"])
        if shape:
            problems.append(f"shape guard: {shape}")
        if problems:
            raise PassFailed("; ".join(problems))
        self.passes.append(rec)

    # -- timed run -------------------------------------------------------------
    def timed(self, seconds: float) -> dict:
        import host

        sampler = host.RssSampler().start()
        t0 = time.time()
        n = 0
        while n < 1 or time.time() - t0 < seconds:
            n += 1
            self.dedup_pass(sampler=sampler)
        sampler.stop()
        return self.e2e()

    def e2e(self) -> dict:
        """Medians over the correct passes; when none was correct, over the
        passes that were timed (the result then says ``correct: false``)."""
        ps = self.passes or self.timed_passes
        vals = lambda k: [p[k] for p in ps if k in p]
        med = lambda k: statistics.median(vals(k)) if vals(k) else None
        worst = lambda k: min(vals(k), default=None)
        return {
            "dedup_s": med("dedup_s"),
            "cpu_s": med("cpu_s"),
            "peak_worker_rss_mb": med("peak_worker_rss_mb"),
            "setup_s": self.setup_s,
            "dup_pair_recall": worst("recall"),
            "dup_pair_precision": worst("precision"),
        }

    # -- traced run -------------------------------------------------------------
    def traced(self) -> dict:
        import host
        import layers
        from srpr_lsh_spark.operators.signatures import compute_signatures

        # tracing off, exactly as a --trace 0 pass: no event log, no spans
        sampler = host.RssSampler().start()
        untraced = self.dedup_pass(sampler=sampler)
        sampler.stop()
        if untraced is None:
            return {}
        # the event log is fixed at context start: restart the context in
        # the same JVM, which keeps its JIT state, with the log on, and start
        # the new context's Python workers with one signatures job
        self.spark.stop()
        self._start(event_log=os.path.join(self.run_dir, "events"))
        layers.noop(compute_signatures(self.clips, self.cfg))
        sampler = host.RssSampler().start()
        try:
            return self._traced_pass(sampler, untraced["dedup_s"])
        finally:
            sampler.stop()

    def _traced_pass(self, sampler, untraced_s: float) -> dict:
        import host
        import layers
        from srpr_lsh_spark.plans.pipeline import run_dedup
        from spans import Tracer, fold_window, read_event_log

        tr = Tracer()
        wh = self._wh()
        self.attempted += 1
        built = {}  # the pipeline's own timing of each stage it built
        with tr.span("dedup"):
            for s in STAGES:
                with tr.span(f"stage.{s}", self.spark):
                    res = run_dedup(self.spark, self.clips, self.cfg, warehouse_dir=wh,
                                    resume=True, stop_after=s)
                built[s] = res["stage_secs"][s]
            with tr.span("n_clusters", self.spark):
                n_clusters = res["clusters"].select("cluster_id").distinct().count()
        rec = {"dedup_s": tr.wall("dedup"), "cpu_s": tr.cpu("dedup"),
               "n_clusters": n_clusters, "peak_worker_rss_mb": sampler.worker_peak_mb}
        self.timed_passes.append(rec)
        try:
            self.check(rec, res)
        except PassFailed as e:
            self.failures.append(f"traced pass: {e}")

        m: dict = {"trace.overhead_s": rec["dedup_s"] - untraced_s}
        whs = res["warehouse"]
        stages = {s: res[s] for s in STAGES}
        stages["rows"] = {s: whs.manifest(s)["rows"] for s in STAGES}
        for s in STAGES:
            man = whs.manifest(s)
            m[f"stage.{s}.wall_s"] = tr.wall(f"stage.{s}")
            m[f"stage.{s}.cpu_s"] = tr.cpu(f"stage.{s}")
            m[f"stage.{s}.rows_out"] = man["rows"]
            m[f"checkpoint.{s}.write_s"] = man["ms"] / 1e3
            m[f"checkpoint.{s}.mb"] = _du_mb(os.path.join(wh, s))

        op_stats = layers.run_operators(self.spark, tr, self.clips, stages, self.cfg)
        rows, cands_in = layers.operator_rows(stages)
        for o in layers.OPERATORS:
            m[f"op.{o}.wall_s"] = tr.wall(f"op.{o}")
            m[f"op.{o}.cpu_s"] = tr.cpu(f"op.{o}")
            m[f"op.{o}.rows_out"] = rows[o]
        for o, n_in in cands_in.items():
            m[f"op.{o}.yield"] = rows[o] / n_in if n_in else 0.0
        # accumulators exist only on the lookup plans (0 = plan not taken)
        m["op.verify_audio.pairs_in"] = op_stats.get("pairs_in", 0)
        m["op.verify_audio.int8_pass"] = op_stats.get("int8_pass", 0)

        pairs = [(r["a"], r["b"]) for r in
                 stages["candidates"].select("a", "b").orderBy("a", "b").limit(200_000).collect()]
        with tr.span("kernels"):
            kern = layers.time_kernels(self.corpus_dir, pairs, self.cfg, self.seed,
                                       self.run_dir)
        for k, v in kern.items():
            m[f"kernel.{k}_us"] = v
        kernel_cpu = sum(kern[k] for k in layers.SIGNATURE_KERNELS) * rows["signatures"] / 1e6
        m["op.signatures.boundary_cpu_s"] = m["op.signatures.cpu_s"] - kernel_cpu

        layers.run_queries(self.spark, tr, self.query_dir)
        for q in layers.QUERIES:
            m[f"query.{q}_s"] = tr.wall(f"query.{q}")
        m["rss.jvm_peak_mb"] = sampler.jvm_peak_mb

        host.shutdown(self.spark)
        self.spark = None
        jobs, tasks = read_event_log(os.path.join(self.run_dir, "events"))
        for s in STAGES:
            sp = tr.get(f"stage.{s}")
            for k, v in fold_window(jobs, tasks, sp["start"], sp["end"], self.cores).items():
                m[f"stage.{s}.{k}"] = v
        tr.dump(os.path.join(self.out_dir, "spans.json"))
        self.spans, self.built = tr, built
        return m

    def close(self) -> None:
        import host

        if getattr(self, "spark", None) is not None:
            host.shutdown(self.spark)
            self.spark = None
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _du_mb(path: str) -> float:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed: int, seconds: float, trace: bool, tag: str) -> "tuple[dict, Bench]":
    """Returns ({metric: value}, bench) for one run."""
    import host
    from srpr_lsh_spark.sources.synth import SYNTH_VERSION

    b = Bench(workload, seed, trace, tag)
    metrics: dict = {}
    try:
        b.prepare()
        b.setup()
        metrics = b.traced() if trace else b.timed(seconds)
    except Exception as e:  # noqa: BLE001 — reported as a failed operation
        traceback.print_exc()
        b.failures.append(f"run raised {type(e).__name__}: {e}"[:500])
    finally:
        b.close()
    info = {"workload": workload.name, "seed": seed, "trace": int(trace),
            "nproc": host.nproc(), "mem_total_mb": host.mem_total_mb(),
            "synth_version": SYNTH_VERSION, "n_clips": workload.n_clips,
            "pin": b.pin, "prep_s": b.prep_s, "setup_s": b.setup_s, "passes": b.passes,
            "failures": b.failures}
    with open(os.path.join(b.out_dir, "result.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics}, f, indent=1)
    print(json.dumps(info))
    return metrics, b


def result_line(metrics: dict, wanted: "list[dict]", b: Bench) -> str:
    """The last output line; a metric a failed run could not measure is null."""
    failed = len(b.failures)
    return json.dumps({
        "correct": failed == 0 and bool(b.passes),
        "attempted": max(b.attempted, failed, 1),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"]), "unit": m["unit"]}
                    for m in wanted},
    })


def self_check() -> int:
    """Fast check on a tiny corpus: every metric is emitted with its unit,
    every workload is listed with its reason, the traced run's span
    accounting adds up, and the n_clusters pin holds."""
    from workloads import TINY, WORKLOADS

    s = spec()
    problems = []
    listed = {w["name"]: w["why"] for w in s["workloads"]}
    if listed != {n: w.why for n, w in WORKLOADS.items()}:
        problems.append(f"BENCHMARK.json workloads {sorted(listed)} != runner's")
    metrics, b = run(TINY, 42, 0, True, "self-check")
    e2e = b.e2e()
    for m in s["end_to_end"]:
        if m["name"] not in e2e:
            problems.append(f"end-to-end metric {m['name']} not emitted")
    for m in s["per_layer"]:
        if m["name"] not in metrics:
            problems.append(f"per-layer metric {m['name']} not emitted")
    extra = set(metrics) - {m["name"] for m in s["per_layer"]}
    if extra:
        problems.append(f"emitted but not in BENCHMARK.json: {sorted(extra)}")
    for m in s["end_to_end"] + s["per_layer"]:
        if not m.get("unit"):
            problems.append(f"{m['name']} has no unit")
    # span accounting, against walls measured apart from the spans: the
    # stage self-times sum to the traced wall minus the reported overhead
    # (that is, the untraced pass's wall) within SPAN_SUM_TOLERANCE, and each
    # stage span covers the time the pipeline itself took to build the stage
    tr = getattr(b, "spans", None)
    stage_self = traced_wall = None
    if tr is None:
        problems.append("the traced run did not finish")
    else:
        stage_self = sum(tr.self_time(tr.get(f"stage.{st}")) for st in STAGES)
        traced_wall = tr.wall("dedup")
        want = traced_wall - metrics["trace.overhead_s"]
        if abs(stage_self - want) > SPAN_SUM_TOLERANCE * want:
            problems.append(f"stage self-times {stage_self:.2f} s vs traced wall - "
                            f"overhead {want:.2f} s: off by more than "
                            f"{SPAN_SUM_TOLERANCE:.0%}")
        for st in STAGES:
            # stage_secs is rounded to 10 ms
            if tr.self_time(tr.get(f"stage.{st}")) < b.built[st] - 0.01:
                problems.append(f"stage.{st} span misses pipeline time: "
                                f"{tr.wall(f'stage.{st}'):.2f} s < {b.built[st]:.2f} s")
    if not b.passes or any(p["n_clusters"] != b.pin for p in b.passes):
        problems.append(f"n_clusters pin {b.pin} broken: {[p['n_clusters'] for p in b.passes]}")
    problems += b.failures
    for p in problems:
        print("SELF-CHECK FAIL:", p, file=sys.stderr)
    print(json.dumps({"self_check": "fail" if problems else "ok",
                      "stage_self_s": stage_self, "traced_wall_s": traced_wall,
                      "overhead_s": metrics.get("trace.overhead_s"),
                      "pipeline_stage_s": getattr(b, "built", None)}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    # before numpy loads: one BLAS thread, as in the Spark Python workers
    # (kernels are timed here), and no BLAS thread pool when prep forks
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    _imports()
    if args.self_check:
        return self_check()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    s = spec()
    metrics, b = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
                     f"{args.workload}-s{args.seed}-t{args.trace}")
    for f in b.failures:
        print("FAILED:", f, file=sys.stderr)
    print(result_line(metrics, s["per_layer" if args.trace else "end_to_end"], b))
    return 0


if __name__ == "__main__":
    sys.exit(main())
