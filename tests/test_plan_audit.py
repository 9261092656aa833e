"""The dedup half of the PLANS.md physical-plan audit (checks 4–6).

Each check inspects the planned physical plan of the same frame PLANS.md
documents, on a small synthetic clips corpus read back from parquet so scans
are prunable. The checks are structural (shuffle contents, scan pruning,
join strategy), not timing. Checks 1–3 read the sf tables and stay in
``tools/plan_audit.py``."""

import re

import pytest
from pyspark.sql import functions as F

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.operators.banding import SOURCE_SIMHASH, combined_candidates
from srpr_lsh_spark.operators.signatures import compute_signatures
from srpr_lsh_spark.plans.pipeline import run_dedup
from srpr_lsh_spark.sources.synth import SynthParams, synthesize_clips

CFG = DedupConfig(shuffle_partitions=8)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("plan_audit")
    params = SynthParams(n_clips=400, block_size=100, seed=42,
                         min_dur_ms=300, max_dur_ms=900)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp / "data"))
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(tmp / "wh"),
                    resume=False, stop_after="candidates")
    return clips, res


def test_candidates_exchanges_carry_no_audio_bytes(corpus):
    """Audio isolation: no Exchange of the candidates BUILD plan carries the
    ``bytes`` column. The warehouse frame is a checkpoint read-back (scan
    only), so compose the un-checkpointed signatures→banding plan: it starts
    at the clips scan (bytes included) and must decode in the scan stage."""
    clips, _ = corpus
    sigs = compute_signatures(clips, CFG)
    cands = combined_candidates(sigs, CFG)
    blocks = re.split(r"\n\n", _formatted(cands))
    exch = [b for b in blocks
            if re.match(r"\(\d+\) (Exchange|BroadcastExchange)", b.strip())]
    assert exch
    assert not [b.splitlines()[0] for b in exch if re.search(r"\bbytes#", b)]


def test_containment_prunes_clips_scan(corpus):
    """Containment's one transcript-scanning kernel reads only (clip_id,
    transcript) from the clips parquet — inspected on the LIVE
    ``shingle_sets`` frame, since the composed containment plan hides it
    behind the eager index checkpoint."""
    from srpr_lsh_spark.operators.signatures import shingle_sets
    from srpr_lsh_spark.operators.substring import containment_candidates

    clips, res = corpus
    frames = [
        shingle_sets(clips, CFG),
        containment_candidates(clips, res["signatures"], CFG),
    ]
    scans = [s for f in frames
             for s in re.findall(r"ReadSchema: struct<([^>]*)>", _formatted(f))]
    clip_scans = [s for s in scans if "transcript" in s]
    assert clip_scans == ["clip_id:string,transcript:string"], scans


def test_verify_phase1_broadcasts_fp_side(spark, corpus, monkeypatch):
    """Phase 1 plans both fp attaches as BroadcastHashJoin by their hint
    (no SortMergeJoin), even at Spark's default 10 MB threshold; its fp-side
    scan of the warehouse signatures reads only (clip_id, fp); with a zero
    collect budget neither attach carries the hint."""
    from srpr_lsh_spark.operators import verify

    _, res = corpus
    cands = res["candidates"].filter(F.col("source") == SOURCE_SIMHASH)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "10MB")
    try:
        phase1 = verify._phase1_cosine(cands, res["signatures"], CFG)
        plan = phase1._jdf.queryExecution().executedPlan().toString()
        hints = phase1._jdf.queryExecution().optimizedPlan().toString()
        monkeypatch.setattr(verify, "collect_budget_bytes", lambda sc: 0)
        bare = verify._phase1_cosine(cands, res["signatures"], CFG)
        bare_hints = bare._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert plan.count("BroadcastHashJoin") == 2 and "SortMergeJoin" not in plan, plan
    fp_scans = {s for s in re.findall(r"ReadSchema: (\S+)", _formatted(phase1)) if "fp:" in s}
    assert fp_scans == {"struct<clip_id:string,fp:array<float>>"}, fp_scans
    assert hints.count("strategy=broadcast") == 2, hints
    assert "strategy=broadcast" not in bare_hints, bare_hints
