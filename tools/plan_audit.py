#!/usr/bin/env python
"""Mechanical re-run of the query-side PLANS.md physical-plan checks (1–3).

    python tools/plan_audit.py            # prints the three-row table, exits
                                          # non-zero if any check fails

Each check inspects the EXECUTED plan (post-AQE where applicable) of the same
query PLANS.md documents, so CI can re-verify the plan claims without reading
git history (VERDICT r4 #8). The checks are structural (pushdown, pruning,
join strategy), not timing. They read the sf tables under
``SPARK_GRAFT_SF_DIR``; the dedup checks 4–6 need only a synthetic corpus and
run in tier-1 as ``tests/test_plan_audit.py``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _simple(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    from pyspark.sql import SparkSession

    from srpr_lsh_spark.config import tune_allocator_env

    tune_allocator_env()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "512m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    qs = em.queries()
    rows: list[tuple[str, str, bool, str]] = []

    # 1 + 2: pricing_summary — pushdown + pruning ---------------------------
    ps = qs["pricing_summary"](spark, SF_DIR)
    ps.write.format("noop").mode("overwrite").save()
    plan = _formatted(ps)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    ok = bool(pushed and "l_shipdate" in pushed.group(1))
    rows.append(("predicate pushdown", "pricing_summary", ok,
                 f"PushedFilters: [{pushed.group(1) if pushed else 'NONE'}]"))

    read = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [c.split(":")[0] for c in read.group(1).split(",")] if read else []
    ok = bool(cols) and len(cols) <= 7 and "l_comment" not in cols
    rows.append(("column pruning", "pricing_summary", ok,
                 f"ReadSchema = {len(cols)} cols: {','.join(cols)}"))

    # 3: join_dims — both dims broadcast ------------------------------------
    jd = qs["join_dims"](spark, SF_DIR)
    jd.write.format("noop").mode("overwrite").save()
    plan = _simple(jd)
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    ok = n_bhj >= 2 and n_smj == 0
    rows.append(("broadcast joins", "join_dims", ok,
                 f"{n_bhj}x BroadcastHashJoin, {n_smj}x SortMergeJoin"))

    width = max(len(r[0]) for r in rows)
    failures = 0
    print(f"\n{'check'.ljust(width)} | query | result")
    print("-" * (width + 60))
    for name, query, ok, detail in rows:
        mark = "PASS" if ok else "FAIL"
        failures += 0 if ok else 1
        print(f"{name.ljust(width)} | {query} | {mark}: {detail}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
