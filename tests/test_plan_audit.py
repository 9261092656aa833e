"""The dedup half of the PLANS.md physical-plan audit (checks 4–8).

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
    at the clips scan (bytes included) and must decode in the scan stage.
    That scan reads exactly the four columns the signatures kernel uses."""
    clips, _ = corpus
    sigs = compute_signatures(clips, CFG)
    cands = combined_candidates(sigs, CFG)
    plan = _formatted(cands)
    clip_scans = {s for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
                  if "bytes:" in s}
    assert clip_scans == {"clip_id:string,bytes:binary,codec:string,transcript:string"}, \
        clip_scans
    blocks = re.split(r"\n\n", plan)
    exch = [b for b in blocks
            if re.match(r"\(\d+\) (Exchange|BroadcastExchange)", b.strip())]
    assert exch
    assert not [b.splitlines()[0] for b in exch if re.search(r"\bbytes#", b)]


def test_containment_prunes_clips_scan(corpus):
    """Containment's one transcript-scanning kernel (``shingle_sets``) reads
    only (clip_id, transcript) from the clips parquet, read off the composed
    containment plan."""
    from srpr_lsh_spark.operators.substring import containment_candidates

    clips, res = corpus
    plan = _formatted(containment_candidates(clips, res["signatures"], CFG))
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
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


def test_candidates_plan_is_one_bucket_shuffle(corpus):
    """The LSH candidates plan is the band rows' bucket shuffle, the pair
    kernel and the pair dedup: exactly two shuffles, no broadcast, no join
    and no checkpoint read-back, so it adds no job beyond its own stages."""
    clips, _ = corpus
    plan = _formatted(combined_candidates(compute_signatures(clips, CFG), CFG))
    blocks = [b.strip() for b in re.split(r"\n\n", plan)]
    ops = [m.group(1) for b in blocks if (m := re.match(r"\(\d+\) (\w+)", b))]
    shuffles = [b for b in blocks if re.match(r"\(\d+\) Exchange\b", b)]
    assert len(shuffles) == 2, ops
    assert sum(bool(re.search(r"hashpartitioning\(band_id#\d+L?, band_hash#\d+L?, ", b))
               for b in shuffles) == 1, shuffles
    assert "BroadcastExchange" not in ops, ops
    assert not [op for op in ops if "Join" in op], ops
    assert "ExistingRDD" not in plan, ops


def test_containment_plan_is_two_shuffles(corpus):
    """The containment candidates plan is the hash shuffle into the hit
    kernel and the short shuffle into the count kernel: exactly two shuffle
    Exchanges, ``hashpartitioning(h…)`` and ``hashpartitioning(short…)``,
    with no broadcast, no join and no checkpoint read-back."""
    from srpr_lsh_spark.operators.substring import containment_candidates

    clips, _ = corpus
    plan = _formatted(containment_candidates(clips, compute_signatures(clips, CFG), CFG))
    blocks = [b.strip() for b in re.split(r"\n\n", plan)]
    ops = [m.group(1) for b in blocks if (m := re.match(r"\(\d+\) (\w+)", b))]
    shuffles = [b for b in blocks if re.match(r"\(\d+\) Exchange\b", b)]
    keys = sorted(re.search(r"hashpartitioning\((\w+)#\d+L?, ", b).group(1)
                  for b in shuffles if "hashpartitioning" in b)
    assert len(shuffles) == 2 and keys == ["h", "short"], shuffles
    assert "BroadcastExchange" not in ops, ops
    assert not [op for op in ops if "Join" in op], ops
    assert "ExistingRDD" not in plan, ops
