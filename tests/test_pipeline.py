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


def _zero_collect_budget(monkeypatch):
    """Shrink the driver collect budget to 0 bytes: no join side then carries
    a broadcast hint (``fits_collect_budget``)."""
    from srpr_lsh_spark.operators import verify

    monkeypatch.setattr(verify, "collect_budget_bytes", lambda sc: 0)


def _sequential_dot(fa, fb) -> float:
    """float32 components promoted to float64 (Spark hands them to Python as
    floats, exactly), multiplied and summed left to right from 0.0."""
    s = 0.0
    for x, y in zip(fa, fb):
        s += x * y
    return s


def test_phase1_cosine_matches_sequential_dot_reference(spark, tmp_path, monkeypatch):
    """Phase 1 keeps exactly the candidate pairs whose sequential float64
    fingerprint dot reaches ``cosine_threshold``, with that dot bit for bit
    as the cosine, with and without the fp side's broadcast hint. The
    verified rows are exactly the phase-1 pairs whose driver-side SNR over
    the decoded bytes reaches ``snr_db_threshold``, with that dot and that
    SNR as their values."""
    import numpy as np

    from srpr_lsh_spark.kernels.audio import batch_pair_snr_db, decode_pcm16_wav
    from srpr_lsh_spark.operators.banding import SOURCE_SIMHASH, combined_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import _phase1_cosine, verify_audio_pairs

    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=400, block_size=100, seed=7, min_dur_ms=300, max_dur_ms=900),
        out_dir=str(tmp_path / "d"),
    )
    cfg = CFG
    sigs = compute_signatures(clips, cfg).localCheckpoint(eager=True)
    cands = combined_candidates(
        sigs, cfg, sources=(SOURCE_SIMHASH,)).localCheckpoint(eager=True)
    fp = {r["clip_id"]: r["fp"] for r in sigs.select("clip_id", "fp").collect()}
    dots = {(a, b): _sequential_dot(fp[a], fp[b]) for a, b, _ in cands.collect()
            if fp[a] is not None and fp[b] is not None}
    want = sorted((a, b, SOURCE_SIMHASH, d) for (a, b), d in dots.items()
                  if d >= cfg.cosine_threshold)
    assert want

    def phase1():
        return sorted(map(tuple, _phase1_cosine(cands, sigs, cfg).collect()))

    assert phase1() == want
    pcm = {r["clip_id"]: decode_pcm16_wav(bytes(r["bytes"]), codec=r["codec"])
           for r in clips.select("clip_id", "bytes", "codec").collect()}
    snrs = {(a, b): float(np.clip(batch_pair_snr_db([pcm[a]], [pcm[b]])[0], -1e9, 1e9))
            for a, b, _, _ in want}
    want_verified = sorted((a, b, src, d, snrs[a, b]) for a, b, src, d in want
                           if snrs[a, b] >= cfg.snr_db_threshold)
    assert want_verified
    verified = verify_audio_pairs(cands, clips, sigs, cfg).collect()
    assert sorted(map(tuple, verified)) == want_verified
    _zero_collect_budget(monkeypatch)
    assert phase1() == want


def test_audio_verify_keeps_pair_with_noise_in_its_prefix(spark):
    """The decoded-PCM SNR over the whole clip decides: a 2 s duplicate whose
    noise sits in its first 0.5 s scores ~31 dB (≥ the 30 dB rule) and must
    verify. A decimated sketch of the clip's first half second (1 ms stride,
    512 points) would read ~25 dB on this pair, since all the noise falls
    inside it — so no such estimator may stand between phase 1 and the SNR."""
    import numpy as np

    from srpr_lsh_spark.kernels.audio import encode_pcm16_wav
    from srpr_lsh_spark.operators.banding import SOURCE_SIMHASH
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import verify_audio_pairs
    from srpr_lsh_spark.sources.readers import clips_schema

    sr = 16000
    t = np.arange(2 * sr) / sr
    x = 0.4 * np.sin(2 * np.pi * 523.0 * t) + 0.2 * np.sin(2 * np.pi * 1777.0 * t)
    noise = np.zeros_like(x)
    noise[: sr // 2] = np.random.default_rng(3).normal(size=sr // 2)
    noise *= np.sqrt(np.mean(x * x) / np.mean(noise * noise) * 10 ** (-31 / 10))
    rows = [
        ("clean", bytearray(encode_pcm16_wav(x, sr)), sr, 2000, "pcm_s16le", "one"),
        ("noisy", bytearray(encode_pcm16_wav(x + noise, sr)), sr, 2000, "pcm_s16le", "two"),
    ]
    clips = spark.createDataFrame(rows, clips_schema())
    sigs = compute_signatures(clips, CFG)
    pairs = spark.createDataFrame([("clean", "noisy", SOURCE_SIMHASH)],
                                  "a string, b string, source string")
    got = verify_audio_pairs(pairs, clips, sigs, CFG).collect()
    assert [(r["a"], r["b"]) for r in got] == [("clean", "noisy")]
    assert CFG.snr_db_threshold <= got[0]["snr_db"] < 32


def test_text_verify_matches_jaccard_reference(spark, tmp_path):
    """``verify_text_pairs`` keeps exactly the candidate pairs whose scalar
    Jaccard (``kernels.text.jaccard`` over each side's normalized transcript
    shingle set) reaches ``jaccard_threshold``, with that value exactly."""
    from srpr_lsh_spark.kernels.hashing import shingle_hashes
    from srpr_lsh_spark.kernels.text import jaccard, normalize_transcript
    from srpr_lsh_spark.operators.banding import SOURCE_MINHASH, combined_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import verify_text_pairs

    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=300, block_size=100, seed=9, min_dur_ms=300, max_dur_ms=900),
        out_dir=str(tmp_path / "d"),
    )
    cfg = CFG
    sigs = compute_signatures(clips, cfg).localCheckpoint(eager=True)
    cands = combined_candidates(
        sigs, cfg, sources=(SOURCE_MINHASH,)).localCheckpoint(eager=True)
    rows = clips.select("clip_id", "transcript").collect()
    flat, off = shingle_hashes(
        normalize_transcript([r["transcript"] for r in rows]), k=cfg.k_shingle, seed=cfg.seed)
    sets = {r["clip_id"]: flat[off[i]:off[i + 1]] for i, r in enumerate(rows)}
    js = {(a, b): jaccard(sets[a], sets[b]) for a, b, _ in cands.collect()}
    want = sorted((a, b, SOURCE_MINHASH, j) for (a, b), j in js.items()
                  if j >= cfg.jaccard_threshold)
    assert want
    got = sorted(map(tuple, verify_text_pairs(cands, clips, cfg).collect()))
    assert got == want


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


def test_containment_matches_bruteforce_reference(spark, tmp_path):
    """``containment_candidates`` emits exactly the candidate set its
    definition gives (``_containment_reference``), with and without hot
    shingles cut from the sketches."""
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


def test_containment_candidates_independent_of_partition_shape(spark, tmp_path):
    """Both containment kernels group per partition, not per Arrow batch:
    with 3-row input batches, one or seven (uncoalesced) shuffle partitions
    give the definition's rows (``_containment_reference``)."""
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.substring import containment_candidates

    params = SynthParams(n_clips=200, block_size=100, seed=48,
                         min_dur_ms=300, max_dur_ms=600)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    sigs = compute_signatures(clips, CFG).localCheckpoint(eager=True)
    want = _containment_reference(
        clips.select("clip_id", "transcript").collect(),
        sigs.select("clip_id", "n_shingles", "tr_len", "sketch").collect(), CFG)
    assert want

    keys = ("spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for parts in ("1", "7"):
            for k, v in zip(keys, ("3", parts, "false")):
                spark.conf.set(k, v)
            got = sorted(map(tuple, containment_candidates(clips, sigs, CFG).collect()))
            assert got == want, parts
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_OVER_BUDGET_PHASE1 = """
import json, sys
from pyspark.sql import SparkSession
from srpr_lsh_spark.config import DedupConfig
from srpr_lsh_spark.operators import verify

data, limit, n_rows, out = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.maxResultSize", limit)
         .config("spark.sql.autoBroadcastJoinThreshold", "-1")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
cfg = DedupConfig(shuffle_partitions=8)
clips = spark.read.parquet(data + "/clips_full").drop("cluster_id", "role")
sigs = spark.read.parquet(data + "/sigs")
cands = spark.read.parquet(data + "/cands")
run = lambda: verify.verify_audio_pairs(cands, clips, sigs, cfg, n_signatures=n_rows).collect()
rows = [list(r) for r in run()]
# the same call with the fp side's broadcast hint forced on
verify.collect_budget_bytes = lambda sc: 1 << 62
try:
    run()
    aborted = None
except Exception as e:
    aborted = str(e)
json.dump({"rows": rows, "aborted": aborted}, open(out, "w"))
spark.stop()
"""


def test_phase1_over_budget_drops_fp_hint(spark, tmp_path):
    """An fp side larger than ``spark.driver.maxResultSize`` must not carry
    the broadcast hint: with Spark's own broadcasts off, audio verify then
    completes with the in-process rows, while the same call with the hint
    forced on aborts the job on the driver result-size check. Runs in a
    fresh session whose limit sits below the fp side's bytes but above the
    verified rows' collect."""
    import subprocess
    import sys

    from srpr_lsh_spark.operators.banding import SOURCE_SIMHASH, combined_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.verify import ID_BYTES, verify_audio_pairs

    data = tmp_path / "d"
    clips, _ = synthesize_clips(
        spark,
        SynthParams(n_clips=400, block_size=100, seed=11, min_dur_ms=300, max_dur_ms=600),
        out_dir=str(data),
    )
    compute_signatures(clips, CFG).write.parquet(str(data / "sigs"))
    sigs = spark.read.parquet(str(data / "sigs"))
    n = sigs.count()
    combined_candidates(sigs, CFG, sources=(SOURCE_SIMHASH,)).write.parquet(
        str(data / "cands"))
    cands = spark.read.parquet(str(data / "cands"))
    want = sorted(tuple(r) for r in verify_audio_pairs(cands, clips, sigs, CFG).collect())
    assert want

    limit = 32 << 10
    assert n * (4 * CFG.fingerprint_dim + ID_BYTES) > limit
    out = tmp_path / "rows.json"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", _OVER_BUDGET_PHASE1, str(data), str(limit), str(n),
         str(out)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.load(open(out))
    assert sorted(tuple(r) for r in got["rows"]) == want
    assert "spark.driver.maxResultSize" in (got["aborted"] or ""), got["aborted"]


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


def test_combined_candidates_independent_of_partition_shape(spark, tmp_path):
    """The pair kernel groups per partition, not per Arrow batch: with
    3-row input batches, one or seven (uncoalesced) bucket partitions give
    the rows of the default layout."""
    from srpr_lsh_spark.operators.banding import combined_candidates
    from srpr_lsh_spark.operators.signatures import compute_signatures

    params = SynthParams(n_clips=200, block_size=100, seed=47,
                         min_dur_ms=300, max_dur_ms=900)
    clips, _ = synthesize_clips(spark, params, out_dir=str(tmp_path / "d"))
    sigs = compute_signatures(clips, CFG).localCheckpoint(eager=True)
    rows = lambda: sorted(map(tuple, combined_candidates(sigs, CFG).collect()))
    want = rows()
    assert any(s == "minhash" for _, _, s in want)
    assert any(s == "simhash" for _, _, s in want)

    keys = ("spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for parts in ("1", "7"):
            for k, v in zip(keys, ("3", parts, "false")):
                spark.conf.set(k, v)
            assert rows() == want, parts
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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
    - a NULL-bytes row with a unique transcript stays a singleton;
    - so does a row whose bytes cannot be decoded (a truncated WAV header,
      an unknown codec): it has no audio, like NULL bytes.
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
        ("trunc_wav", bytearray(wav[:30]), 16000, 500, "pcm_s16le",
         "a header cut short before the data chunk"),
        ("bad_codec", bytearray(wav), 16000, 500, "opus",
         "bytes in a codec this build cannot decode"),
    ]
    clips = spark.createDataFrame(rows, clips_schema())
    res = run_dedup(spark, clips, CFG, warehouse_dir=str(tmp_path / "wh"),
                    resume=False, input_key="null_fields_test")
    got = {r["clip_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert set(got) == {r[0] for r in rows}          # every clip labeled
    assert got["allnull_1"] == got["allnull_2"]      # empty content = exact dup
    assert got["nt_audio"] == got["tr_audio"]        # same audio links sans text
    sizes = pd.Series(got).value_counts()
    for cid in ("nb_text", "trunc_wav", "bad_codec"):             # singletons
        assert sizes[got[cid]] == 1, cid
