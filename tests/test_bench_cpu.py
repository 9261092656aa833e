"""Unit pins for the process-tree CPU meter (``hoststat.tree_cpu_s``, which
bench._proc_group_cpu and run_dedup's ``stage_cpu_secs`` read) — the
measurement the scaling report's CPU column makes its stall-vs-work argument
with. The property under test is "live CPU of this process and everything
below it is captured": the driver's own burn, and a burn inside a PySpark
Python worker, which the daemon runs in a process group of its own."""

import time

import bench
from srpr_lsh_spark.hoststat import tree_cpu_s


def test_proc_group_cpu_returns_positive_float():
    got = bench._proc_group_cpu()
    assert isinstance(got, float)
    assert got > 0.0  # this very test process has burned some CPU


def test_proc_group_cpu_sees_own_burn():
    before = bench._proc_group_cpu()
    t0 = time.process_time()
    x = 0
    while time.process_time() - t0 < 0.6:  # burn ~0.6 CPU-seconds
        x += 1
    burned = time.process_time() - t0
    delta = bench._proc_group_cpu() - before
    # delta includes any sibling activity in the group, so it is a lower
    # bound modulo clock-tick granularity (1/HZ)
    assert delta >= burned - 0.1, (before, delta, burned)


def test_tree_cpu_counts_python_worker_burn(spark):
    def run(secs):
        def burn(batches):
            import pandas as pd

            t0 = time.process_time()
            while time.process_time() - t0 < secs:
                pass
            for _ in batches:
                pass
            yield pd.DataFrame({"burned": [time.process_time() - t0]})

        df = spark.range(1, numPartitions=1).mapInPandas(burn, "burned double")
        return df.collect()[0]["burned"]

    run(0.0)  # JIT and worker start-up stay out of the measured window
    before = tree_cpu_s()
    burned = run(1.5)  # 1.5 CPU-seconds inside the Python worker
    delta = tree_cpu_s() - before
    assert burned >= 1.5
    # driver + JVM + worker: at least the worker's burn, modulo 1/HZ ticks
    assert delta >= burned - 0.1, (delta, burned)


def test_default_cpus_honors_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert bench._default_cpus() == 7


def test_default_cpus_halves_hardware_threads(monkeypatch):
    # unset env → half the visible cores (each Python-UDF task occupies a
    # JVM thread AND a python worker process), floored at 4
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    want = max(4, (os.cpu_count() or 16) // 2)
    assert bench._default_cpus() == want
