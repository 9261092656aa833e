"""End-to-end pipeline tests: cluster parity vs planted oracle (recall ≥ 0.99,
zero false positives), checkpoint resume, lineage (FIXTURES.md §4)."""

import json
import os

import pandas as pd
import pytest

from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.plans.pipeline import run_dedup
from srpr_lsh_spark.sources.synth import SynthParams, synthesize_clips

CFG = DedupConfig(shuffle_partitions=8)
PARAMS = SynthParams(n_clips=600, block_size=200, seed=42, min_dur_ms=300, max_dur_ms=1500)


def _canon(assign: "dict[str, str]") -> "dict[str, str]":
    groups: dict[str, list] = {}
    for k, v in assign.items():
        groups.setdefault(v, []).append(k)
    return {m: min(ms) for ms in groups.values() for m in ms}


def _pairs(assign: "dict[str, str]") -> set:
    groups: dict[str, list] = {}
    for k, v in assign.items():
        groups.setdefault(v, []).append(k)
    out = set()
    for ms in groups.values():
        ms = sorted(ms)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("wh")
    clips, oracle = synthesize_clips(spark, PARAMS, out_dir=str(root / "data"))
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(root / "wh"))
    got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    want = {r["clip_id"]: r["cluster_id"] for r in oracle.collect()}
    return res, got, want, root, clips


def test_all_clips_labeled(result):
    res, got, want, *_ = result
    assert set(got) == set(want)


def test_cluster_parity_and_recall(result):
    res, got, want, *_ = result
    gp, wp = _pairs(got), _pairs(want)
    missing = wp - gp
    extra = gp - wp
    recall = 1 - len(missing) / max(len(wp), 1)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f}; missing e.g. {sorted(missing)[:5]}"
    assert not extra, f"false-positive pairs: {sorted(extra)[:5]}"


def test_exact_parity_canonical(result):
    """At this config the clustering should be *exactly* the oracle."""
    res, got, want, *_ = result
    assert _canon(got) == _canon(want)


def test_lineage_written(result):
    res, *_ = result
    lin = res["warehouse"].lineage().toPandas()
    assert set(lin["stage"]) >= {"signatures", "candidates", "verified_pairs", "clusters"}
    assert (lin["rows_out"] > 0).any()
    assert (lin["config_hash"] == CFG.config_hash()).all()


def test_resume_skips_completed_stages(result, spark):
    res, got, want, root, clips = result
    # rerun over the same warehouse: every stage must be restored, output equal
    res2 = run_dedup(spark, clips, CFG, warehouse_dir=str(root / "wh"))
    assert sorted(res2["skipped"]) == sorted(
        ["signatures", "candidates", "verified_pairs", "clusters"]
    )
    got2 = {r["clip_id"]: r["cluster_id"] for r in res2["clusters"].collect()}
    assert got2 == got


def test_resume_after_partial_run(spark, tmp_path):
    params = SynthParams(n_clips=200, block_size=100, seed=43, min_dur_ms=300, max_dur_ms=900)
    clips, oracle = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    wdir = str(tmp_path / "wh")
    # simulate a crash after the candidates stage
    partial = run_dedup(spark, clips, CFG, warehouse_dir=wdir, stop_after="candidates")
    assert "clusters" not in partial
    sig_manifest = json.load(open(os.path.join(wdir, "signatures._manifest.json")))
    # resume to completion: early stages skipped, not recomputed
    full = run_dedup(spark, clips, CFG, warehouse_dir=wdir)
    assert "signatures" in full["skipped"] and "candidates" in full["skipped"]
    sig_manifest2 = json.load(open(os.path.join(wdir, "signatures._manifest.json")))
    assert sig_manifest["run_id"] == sig_manifest2["run_id"]  # untouched on disk
    # and a config change invalidates resume
    cfg2 = DedupConfig(shuffle_partitions=8, jaccard_threshold=0.85)
    res3 = run_dedup(spark, clips, cfg2, warehouse_dir=wdir, stop_after="signatures")
    assert res3["skipped"] == []


def test_resume_invalidated_by_different_input(spark, tmp_path):
    """Same warehouse dir + same config but a DIFFERENT corpus must not serve
    stale stage outputs (resume is keyed by input identity, not just config)."""
    params_a = SynthParams(n_clips=200, block_size=100, seed=45, min_dur_ms=300, max_dur_ms=800)
    params_b = SynthParams(n_clips=200, block_size=100, seed=46, min_dur_ms=300, max_dur_ms=800)
    clips_a, _ = synthesize_clips(spark, params_a, out_dir=str(tmp_path / "da"))
    clips_b, _ = synthesize_clips(spark, params_b, out_dir=str(tmp_path / "db"))
    wdir = str(tmp_path / "wh")
    run_dedup(spark, clips_a, CFG, warehouse_dir=wdir, stop_after="signatures")
    res_b = run_dedup(spark, clips_b, CFG, warehouse_dir=wdir, stop_after="signatures")
    assert res_b["skipped"] == []
    sigs_ids = {r["clip_id"] for r in res_b["signatures"].select("clip_id").collect()}
    clips_b_ids = {r["clip_id"] for r in clips_b.select("clip_id").collect()}
    assert sigs_ids == clips_b_ids


def test_parallelism_invariance(spark, tmp_path):
    """FIXTURES.md §4.6: identical clusters regardless of partitioning —
    min-id labels + total-order tie-breaks + seeded hashing make the output a
    pure function of the data."""
    params = SynthParams(n_clips=200, block_size=100, seed=44, min_dur_ms=300, max_dur_ms=800)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    outs = []
    for i, parts in enumerate((3, 13)):
        cfg = DedupConfig(shuffle_partitions=parts)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            res = run_dedup(
                spark, clips.repartition(parts), cfg,
                warehouse_dir=str(tmp_path / f"wh{i}"), resume=False,
            )
            outs.append(
                {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    assert outs[0] == outs[1]


def test_verified_pair_evidence_columns(result):
    res, *_ = result
    vp = res["verified_pairs"].toPandas()
    assert set(vp["source"]) >= {"exact", "minhash"}
    mh = vp[vp["source"] == "minhash"]
    assert (mh["jaccard"] >= CFG.jaccard_threshold).all()
    sh = vp[vp["source"] == "simhash"]
    if len(sh):
        assert (sh["cosine"] >= CFG.cosine_threshold).all()
        assert (sh["snr_db"] >= CFG.snr_db_threshold).all()


def test_g711_reencode_dedups_against_pcm_original(spark, tmp_path):
    """A μ-law/A-law re-encode of a clip (same audio, different codec —
    byte-unequal, so the exact-content path can't link it) must still dedup
    against the PCM16 original through the audio path: near-parallel
    fingerprints → same SRP buckets → cosine + SNR verify (G.711 round trip
    keeps SNR ≥ ~35 dB, above the 30 dB threshold)."""
    import numpy as np

    from srpr_lsh_spark.kernels.audio import encode_g711_wav, encode_pcm16_wav
    from srpr_lsh_spark.sources.readers import clips_schema

    rng = np.random.default_rng(17)
    t = np.arange(8000) / 16000.0

    def tone(f1, f2):
        return 0.4 * np.sin(2 * np.pi * f1 * t) + 0.2 * np.sin(2 * np.pi * f2 * t)

    x = tone(523.0, 1777.0)
    other = tone(211.0, 941.0) + 0.05 * rng.normal(size=t.size)
    rows = [
        ("orig", encode_pcm16_wav(x, 16000), 16000, 500, "pcm_s16le", "alpha words"),
        ("mulaw", encode_g711_wav(x, 16000, "pcm_mulaw"), 16000, 500, "pcm_mulaw",
         "beta text"),
        ("alaw", encode_g711_wav(x, 16000, "pcm_alaw"), 16000, 500, "pcm_alaw",
         "gamma talk"),
        ("other", encode_pcm16_wav(other, 16000), 16000, 500, "pcm_s16le",
         "delta speech"),
    ]
    clips = spark.createDataFrame(
        [(cid, bytearray(b), sr, d, c, tr) for cid, b, sr, d, c, tr in rows],
        clips_schema(),
    )
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(tmp_path / "wh"),
                    resume=False, input_key="g711_test")
    got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert got["orig"] == got["mulaw"] == got["alaw"]
    assert got["other"] != got["orig"]


def _force_join_plans(monkeypatch):
    """Shrink the driver collect budget to 0 bytes: every lookup-vs-join
    choice (``use_lookup``) then takes its beyond-budget join plan."""
    from srpr_lsh_spark.operators import verify

    monkeypatch.setattr(verify, "collect_budget_bytes", lambda sc: 0)


def test_phase1_join_fallback_matches_broadcast_plan(spark, tmp_path, monkeypatch):
    """The two phase-1 plans — the memmapped fp lookup (within the driver
    collect budget) and the join-based beyond-budget fallback — must verify
    the SAME pairs with the SAME cosines: the int8 prefilter is sound (margin
    bound), so plan choice can never change results."""
    from srpr_lsh_spark.operators.banding import SOURCE_SIMHASH, combined_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import verify_audio_pairs

    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=400, block_size=100, seed=7, min_dur_ms=300, max_dur_ms=900),
        out_dir=str(tmp_path / "d"),
    )
    cfg = CFG
    sigs = compute_signatures(clips, cfg).localCheckpoint(eager=True)
    cands = combined_candidates(
        sigs, cfg, sources=(SOURCE_SIMHASH,)).localCheckpoint(eager=True)

    def rows(df):
        return sorted(
            (r["a"], r["b"], r["source"], round(r["cosine"], 9), round(r["snr_db"], 6))
            for r in df.collect()
        )

    stats_lookup, stats_join = {}, {}
    got_lookup = rows(verify_audio_pairs(cands, clips, sigs, cfg, stats=stats_lookup))
    _force_join_plans(monkeypatch)
    got_join = rows(verify_audio_pairs(cands, clips, sigs, cfg, stats=stats_join))
    assert got_lookup == got_join
    assert len(got_lookup) > 0
    # only the lookup plan records its accumulators: each call took its plan
    assert "pairs_in" in stats_lookup and not stats_join


def test_text_lookup_plan_matches_join_plan(spark, tmp_path, monkeypatch):
    """The two text-verify plans — memmapped shingle-CSR lookup (r6) and the
    transcript-join fallback — must verify the SAME pairs with the SAME
    jaccard values: the size-bound prefilter is exact (J ≤ min/max), so plan
    choice can never change results. Also pins the gating: a small candidate
    count or an over-budget CSR selects the join plan."""
    from srpr_lsh_spark.operators.banding import SOURCE_MINHASH, combined_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import (
        CSR_ROW_BYTES, _verify_text_join, use_lookup, verify_text_pairs,
    )

    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=300, block_size=100, seed=9, min_dur_ms=300, max_dur_ms=900),
        out_dir=str(tmp_path / "d"),
    )
    cfg = CFG
    sigs = compute_signatures(clips, cfg).localCheckpoint(eager=True)
    n = sigs.count()
    cands = combined_candidates(
        sigs, cfg, sources=(SOURCE_MINHASH,)).localCheckpoint(eager=True)
    gate = cfg.verify_small_join_max_pairs

    def rows(df):
        return sorted(
            (r["a"], r["b"], r["source"], r["jaccard"]) for r in df.collect()
        )

    def lookup_taken(n_candidates):
        return use_lookup(clips, CSR_ROW_BYTES, cfg, n_rows=n, n_candidates=n_candidates)

    got_join = rows(_verify_text_join(cands, clips, cfg))
    # n_candidates above the small-join gate → lookup plan
    assert lookup_taken(gate + 1) and not lookup_taken(gate - 1)
    got_lookup = rows(verify_text_pairs(cands, clips, cfg, n_candidates=gate + 1, n_rows=n))
    assert got_lookup == got_join
    assert len(got_join) > 0
    # an over-budget CSR falls back to the join plan, same rows
    _force_join_plans(monkeypatch)
    assert not lookup_taken(gate + 1)
    got_fallback = rows(verify_text_pairs(cands, clips, cfg, n_candidates=gate + 1, n_rows=n))
    assert got_fallback == got_join


def _containment_reference(clip_rows, sig_rows, cfg) -> list:
    """(short, long) containment candidates from the definition, in plain
    Python: df over every clip's shingle set; the kept sketch S′ (sketch
    hashes with df ≤ ``hot_shingle_cap``) of each short with at least
    ``min_substr_shingles`` shingles; sk_n = |S′| ≥
    ``containment_min_matches``; t = max(``containment_min_matches``,
    ⌈0.8·sk_n⌉); short_len < long_len; |S′ ∩ shingles(long)| ≥ t."""
    import math
    from collections import Counter

    from srpr_lsh_spark.kernels.hashing import shingle_hashes
    from srpr_lsh_spark.kernels.text import normalize_transcript

    ids = [r["clip_id"] for r in clip_rows]
    flat, off = shingle_hashes(
        normalize_transcript([r["transcript"] for r in clip_rows]),
        k=cfg.k_shingle, seed=cfg.seed,
    )
    flat = flat.view("int64")
    shingles = {c: set(flat[off[i]:off[i + 1]].tolist()) for i, c in enumerate(ids)}
    df = Counter(h for hs in shingles.values() for h in hs)
    tr_len = {r["clip_id"]: r["tr_len"] for r in sig_rows}
    out = []
    for r in sig_rows:
        if r["n_shingles"] < cfg.min_substr_shingles:
            continue
        kept = {h for h in r["sketch"] if df[h] <= cfg.hot_shingle_cap}
        sk_n = len(kept)
        if sk_n < cfg.containment_min_matches:
            continue
        t = max(cfg.containment_min_matches, math.ceil(sk_n * 0.8))
        short = r["clip_id"]
        out += [
            (short, long_) for long_, hs in shingles.items()
            if tr_len[short] < tr_len[long_] and len(kept & hs) >= t
        ]
    return sorted(out)


def test_containment_matches_bruteforce_reference(spark, tmp_path, monkeypatch):
    """``containment_candidates`` emits exactly the candidate set its
    definition gives (``_containment_reference``), with and without the
    union's broadcast hint, with and without hot shingles cut from the
    sketches."""
    import dataclasses

    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.substring import containment_candidates

    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=400, block_size=100, seed=13, min_dur_ms=300, max_dur_ms=600),
        out_dir=str(tmp_path / "d"),
    )
    sigs = compute_signatures(clips, CFG).localCheckpoint(eager=True)
    cfgs = [CFG, dataclasses.replace(CFG, hot_shingle_cap=4)]
    clip_rows = clips.select("clip_id", "transcript").collect()
    sig_rows = sigs.select("clip_id", "n_shingles", "tr_len", "sketch").collect()
    want = [_containment_reference(clip_rows, sig_rows, cfg) for cfg in cfgs]
    assert all(want)

    def rows(cfg):
        return sorted(map(tuple, containment_candidates(clips, sigs, cfg).collect()))

    assert [rows(cfg) for cfg in cfgs] == want
    _force_join_plans(monkeypatch)
    assert [rows(cfg) for cfg in cfgs] == want


_OVER_BUDGET_TEXT_VERIFY = """
import json, sys
from pyspark.sql import SparkSession
from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.operators.verify import verify_text_pairs

data, limit, n_rows, out = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.maxResultSize", limit)
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
cfg = DedupConfig(shuffle_partitions=8)
clips = spark.read.parquet(data + "/clips_full").drop("cluster_id", "role")
cands = spark.read.parquet(data + "/cands")
got = verify_text_pairs(cands, clips, cfg,
                        n_candidates=cfg.verify_small_join_max_pairs + 1, n_rows=n_rows)
json.dump([list(r) for r in got.collect()], open(out, "w"))
spark.stop()
"""


def test_text_verify_over_budget_takes_join_plan(spark, tmp_path):
    """A shingle CSR larger than ``spark.driver.maxResultSize`` must take the
    join plan, not abort the job on the driver result-size check. Runs in a
    fresh session whose limit sits below the corpus's CSR bytes but above
    every other collect or broadcast of the call (the transcript side of the
    join plan and the verified rows)."""
    import subprocess
    import sys

    from srpr_lsh_spark.operators.banding import SOURCE_MINHASH, combined_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import CSR_ROW_BYTES, _verify_text_join

    data = tmp_path / "d"
    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=400, block_size=100, seed=11, min_dur_ms=300, max_dur_ms=600),
        out_dir=str(data),
    )
    sigs = compute_signatures(clips, CFG).localCheckpoint(eager=True)
    n = sigs.count()
    combined_candidates(sigs, CFG, sources=(SOURCE_MINHASH,)).write.parquet(
        str(data / "cands"))
    cands = spark.read.parquet(str(data / "cands"))
    want = sorted((r["a"], r["b"], r["source"], r["jaccard"])
                  for r in _verify_text_join(cands, clips, CFG).collect())
    assert want

    limit = 256 << 10
    assert n * CSR_ROW_BYTES > limit
    out = tmp_path / "rows.json"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", _OVER_BUDGET_TEXT_VERIFY, str(data), str(limit), str(n),
         str(out)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = sorted(tuple(r) for r in json.load(open(out)))
    assert got == want


def test_chunked_signatures_partition_resume(spark, tmp_path):
    """Partition-granularity resume for the expensive scan (SURVEY §4.3.5 /
    VERDICT r4 #7): with signatures_chunks=4, each chunk of the input FILE
    LIST writes + manifests independently. Simulate a crash that lost one
    chunk (its manifest + data deleted, parent manifest absent): the rerun
    must recompute ONLY that chunk — the other three keep their run_ids —
    and the final signatures must equal the single-snapshot stage's rows."""
    import dataclasses
    import shutil

    params = SynthParams(n_clips=400, block_size=50, seed=44,
                         min_dur_ms=300, max_dur_ms=800)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    assert len(clips.inputFiles()) >= 4, "fixture needs >=4 input files"
    cfg = dataclasses.replace(CFG, signatures_chunks=4)
    wdir = str(tmp_path / "wh")

    res = run_dedup(spark, clips, cfg, warehouse_dir=wdir, stop_after="signatures")
    assert res["signature_chunks_skipped"] == []
    sig_rows = sorted(
        (r["clip_id"], r["content_key"]) for r in
        res["signatures"].select("clip_id", "content_key").collect()
    )

    # single-snapshot parity: chunking is layout-only
    res_plain = run_dedup(spark, clips, CFG, warehouse_dir=str(tmp_path / "wh2"),
                          stop_after="signatures")
    plain_rows = sorted(
        (r["clip_id"], r["content_key"]) for r in
        res_plain["signatures"].select("clip_id", "content_key").collect()
    )
    assert sig_rows == plain_rows

    # simulate the crash: chunk 2 torn away, parent manifest gone
    os.remove(os.path.join(wdir, "signatures.chunk-00002._manifest.json"))
    shutil.rmtree(os.path.join(wdir, "signatures", "chunk-00002"))
    os.remove(os.path.join(wdir, "signatures._manifest.json"))
    before = {
        i: json.load(open(os.path.join(
            wdir, f"signatures.chunk-{i:05d}._manifest.json")))["run_id"]
        for i in (0, 1, 3)
    }

    res2 = run_dedup(spark, clips, cfg, warehouse_dir=wdir, stop_after="signatures")
    assert sorted(res2["signature_chunks_skipped"]) == [0, 1, 3]
    after = {
        i: json.load(open(os.path.join(
            wdir, f"signatures.chunk-{i:05d}._manifest.json")))["run_id"]
        for i in (0, 1, 3)
    }
    assert before == after  # untouched on disk
    sig_rows2 = sorted(
        (r["clip_id"], r["content_key"]) for r in
        res2["signatures"].select("clip_id", "content_key").collect()
    )
    assert sig_rows2 == sig_rows

    # and a fully-complete chunked stage skips wholesale on the next run
    res3 = run_dedup(spark, clips, cfg, warehouse_dir=wdir, stop_after="signatures")
    assert sorted(res3["signature_chunks_skipped"]) == [0, 1, 2, 3]
    assert "signatures" in res3["skipped"]

    # chunk lineage rows carry the chunk input's footer row counts (r5
    # VERDICT #6: chunked stages meet the per-partition lineage rule too)
    lin = res3["warehouse"].lineage().filter("stage like 'signatures/chunk-%'")
    assert lin.count() > 0
    assert lin.filter("rows_in IS NULL").count() == 0


def test_chunked_signatures_rejects_transformed_input(spark, tmp_path):
    """The chunked rebuild re-reads raw FILES, so a filter on the input frame
    would be silently dropped. r5 VERDICT #1: that precondition is now a
    guard, not a docstring — a filtered input must (a) fall back to the
    single-snapshot stage, (b) produce signatures honoring the filter, and
    (c) get a DIFFERENT resume fingerprint than the bare scan over the same
    files (so warehouses can never cross-serve stale stages)."""
    import dataclasses

    from pyspark.sql import functions as F

    from srpr_lsh_spark.plans.checkpoint import (
        input_fingerprint,
        is_projected_file_scan,
    )

    params = SynthParams(n_clips=400, block_size=50, seed=45,
                         min_dur_ms=300, max_dur_ms=800)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    assert is_projected_file_scan(clips)
    filtered = clips.filter(F.col("dur_ms") >= 500)
    assert not is_projected_file_scan(filtered)
    assert input_fingerprint(clips) != input_fingerprint(filtered)
    # attribute-only projection is still a bare scan (shares the stage key)
    assert is_projected_file_scan(clips.select(*clips.columns))

    cfg = dataclasses.replace(CFG, signatures_chunks=4)
    res = run_dedup(spark, filtered, cfg, warehouse_dir=str(tmp_path / "wh"),
                    stop_after="signatures")
    assert "signature_chunks_skipped" not in res  # single-snapshot fallback
    n_filtered = filtered.count()
    assert res["signatures"].count() == n_filtered
    assert n_filtered < clips.count()


def test_combined_candidates_row_identical_to_per_space(spark, tmp_path):
    """The r5 one-pass bucket join over both LSH spaces must emit EXACTLY the
    rows of the union of the one-space passes (the band-id key spaces are
    disjoint)."""
    from srpr_lsh_spark.operators.banding import (
        SOURCE_MINHASH, SOURCE_SIMHASH, combined_candidates,
    )
    from srpr_lsh_spark.operators.signatures import compute_signatures

    params = SynthParams(n_clips=300, block_size=100, seed=46,
                         min_dur_ms=300, max_dur_ms=900)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    sigs = compute_signatures(clips, CFG).localCheckpoint(eager=True)
    rows = lambda df: sorted(map(tuple, df.collect()))
    want = rows(
        combined_candidates(sigs, CFG, sources=(SOURCE_MINHASH,)).unionByName(
            combined_candidates(sigs, CFG, sources=(SOURCE_SIMHASH,)))
    )
    assert rows(combined_candidates(sigs, CFG)) == want


def test_null_fields_survive_the_pipeline(spark, tmp_path):
    """Rows a 10^12-clip corpus will certainly contain — NULL transcript,
    NULL bytes, NULL sr_hz, all-NULL payload — must flow through every stage
    without poisoning a task, every clip must come out labeled, and the
    evidence rules must still hold:

    - two all-NULL-payload rows are byte-identical (empty) content → the
      exact-content path links them (the synth corpus's skew group is the
      planted version of exactly this);
    - a NULL-transcript row with REAL audio still dedups against the same
      audio under a different transcript via the SimHash→SNR path;
    - a NULL-bytes row with a unique transcript stays a singleton.
    """
    import numpy as np

    from srpr_lsh_spark.kernels.audio import encode_pcm16_wav
    from srpr_lsh_spark.sources.readers import clips_schema

    t = np.arange(8000) / 16000.0
    x = 0.4 * np.sin(2 * np.pi * 523.0 * t) + 0.2 * np.sin(2 * np.pi * 1777.0 * t)
    wav = encode_pcm16_wav(x, 16000)
    rows = [
        ("nt_audio", bytearray(wav), 16000, 500, "pcm_s16le", None),
        ("tr_audio", bytearray(wav), None, None, "pcm_s16le",
         "completely different words here"),
        ("nb_text", None, None, 500, None, "a unique transcript nothing shares"),
        ("allnull_1", None, None, None, None, None),
        ("allnull_2", None, None, None, None, None),
    ]
    clips = spark.createDataFrame(rows, clips_schema())
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(tmp_path / "wh"),
                    resume=False, input_key="null_fields_test")
    got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert set(got) == {r[0] for r in rows}          # every clip labeled
    assert got["allnull_1"] == got["allnull_2"]      # empty content = exact dup
    assert got["nt_audio"] == got["tr_audio"]        # same audio links sans text
    assert got["nb_text"] not in (got["nt_audio"], got["allnull_1"])  # singleton
