"""Layer probes for the traced run: operators in isolation, numpy kernels,
and the query surface.

Operators run on the traced pipeline's materialized stage outputs with the
noop sink, as ``bench_extra.py`` does. Kernels are timed in this process on
a fixed, seeded sample of the workload's rows and candidate pairs.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

OPERATORS = ("signatures", "lsh_candidates", "containment_candidates",
             "exact_edges", "verify_text", "verify_audio", "verify_substr",
             "components")
PAIR_KERNELS = ("pair_cosine", "pair_jaccard", "pair_snr")
# bench.BENCH_QUERIES: the query set the repo's bench times
QUERIES = ("pricing_summary", "join_dims", "topk_per_group", "dcg",
           "exact_dedup", "ngram_jaccard", "embedding_cosine_topk",
           "near_dup_pairs_documents")
# kernels the signatures operator calls once per row
SIGNATURE_KERNELS = ("decode", "fingerprint", "shingle", "minhash", "band",
                     "bottomk", "srp")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_operators(spark, tracer, clips, stages: dict, cfg) -> dict:
    """Time each operator in its own span; returns extra per-operator facts
    (the audio verify accumulators)."""
    from pyspark.sql import functions as F

    from srpr_lsh_spark.operators.banding import (
        SOURCE_MINHASH, SOURCE_SIMHASH, combined_candidates, exact_content_edges)
    from srpr_lsh_spark.operators.components import connected_components
    from srpr_lsh_spark.operators.signatures import compute_signatures
    from srpr_lsh_spark.operators.substring import (
        containment_candidates, verify_containment)
    from srpr_lsh_spark.operators.verify import verify_audio_pairs, verify_text_pairs

    sigs, cands, verified = (stages["signatures"], stages["candidates"],
                             stages["verified_pairs"])
    n_sigs, n_cands = stages["rows"]["signatures"], stages["rows"]["candidates"]
    by = lambda src: cands.filter(F.col("source") == src)
    substr = by("substr").select(F.col("a").alias("short"), F.col("b").alias("long"))
    audio_stats: dict = {}
    split_key = "spark.sql.files.maxPartitionBytes"

    def signatures():
        old = spark.conf.get(split_key)
        spark.conf.set(split_key, str(cfg.input_split_bytes))
        try:
            noop(compute_signatures(clips, cfg))
        finally:
            spark.conf.set(split_key, old)

    ops = {
        "signatures": signatures,
        "lsh_candidates": lambda: noop(combined_candidates(sigs, cfg)),
        "containment_candidates": lambda: noop(containment_candidates(clips, sigs, cfg)),
        "exact_edges": lambda: noop(exact_content_edges(sigs)),
        "verify_text": lambda: noop(verify_text_pairs(
            by(SOURCE_MINHASH), clips, cfg, n_candidates=n_cands, n_rows=n_sigs)),
        "verify_audio": lambda: noop(verify_audio_pairs(
            by(SOURCE_SIMHASH), clips, sigs, cfg, stats=audio_stats,
            n_candidates=n_cands, n_signatures=n_sigs)),
        "verify_substr": lambda: noop(verify_containment(substr, clips, cfg)),
        "components": lambda: noop(connected_components(
            verified.select("a", "b"), sigs.select("clip_id"),
            max_iters=cfg.cc_max_iters)),
    }
    for name in OPERATORS:
        with tracer.span(f"op.{name}", spark):
            ops[name]()
    return {k: int(v.value) for k, v in audio_stats.items()}


def operator_rows(stages: dict) -> "tuple[dict, dict]":
    """(rows out per operator, candidate rows in per verify source), from the
    traced pipeline's checkpoints: each operator computes the same function
    on the same input as the pipeline branch whose rows it is."""
    from pyspark.sql import functions as F

    cnt = lambda df: {r["source"]: r["n"] for r in
                      df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    c, v = cnt(stages["candidates"]), cnt(stages["verified_pairs"])
    rows = {
        "signatures": stages["rows"]["signatures"],
        "lsh_candidates": c.get("minhash", 0) + c.get("simhash", 0),
        "containment_candidates": c.get("substr", 0),
        "exact_edges": v.get("exact", 0),
        "verify_text": v.get("minhash", 0),
        "verify_audio": v.get("simhash", 0),
        "verify_substr": v.get("substr", 0),
        "components": stages["rows"]["clusters"],
    }
    cands_in = {"verify_text": c.get("minhash", 0), "verify_audio": c.get("simhash", 0),
                "verify_substr": c.get("substr", 0)}
    return rows, cands_in


def _per_item_us(fn, n: int, reps: int = 5) -> float:
    """Median over ``reps`` calls of ``fn()``'s wall time per item, in µs."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts) / max(n, 1) * 1e6


def time_kernels(corpus_dir: str, pairs, cfg, seed: int, work: str,
                 n_rows: int = 256, n_pairs: int = 512) -> dict:
    """µs per row (per pair for ``pair_*``) of each kernel on a seeded sample.
    ``pairs`` is a list of (a, b) clip ids from the workload's candidates."""
    import pyarrow.parquet as pq

    from srpr_lsh_spark.kernels import audio, hashing, text
    from srpr_lsh_spark.kernels import cosine

    tbl = pq.read_table(os.path.join(corpus_dir, "clips_full"),
                        columns=["clip_id", "bytes", "codec", "transcript"])
    ids = tbl.column("clip_id").to_pylist()
    pos = {c: i for i, c in enumerate(ids)}
    blobs, codecs = tbl.column("bytes"), tbl.column("codec")
    trs = tbl.column("transcript")
    rng = np.random.default_rng((seed, 99))
    rows = sorted(rng.choice(len(ids), min(n_rows, len(ids)), replace=False).tolist())
    blob = lambda i: blobs[i].as_py() or b""
    sample_blobs = [(blob(i), codecs[i].as_py()) for i in rows]
    texts = text.normalize_transcript([trs[i].as_py() or "" for i in rows])
    n = len(rows)
    out = {}

    pcms = [audio.decode_pcm16_wav(b, codec=c) for b, c in sample_blobs if b]
    out["decode"] = _per_item_us(
        lambda: [audio.decode_pcm16_wav(b, codec=c) for b, c in sample_blobs if b],
        len(pcms))
    fps = np.stack([audio.fingerprint(p, dim=cfg.fingerprint_dim) for p in pcms])
    out["fingerprint"] = _per_item_us(
        lambda: [audio.fingerprint(p, dim=cfg.fingerprint_dim) for p in pcms], len(pcms))
    flat, off = hashing.shingle_hashes(texts, k=cfg.k_shingle, seed=cfg.seed)
    out["shingle"] = _per_item_us(
        lambda: hashing.shingle_hashes(texts, k=cfg.k_shingle, seed=cfg.seed), n)
    sig = hashing.minhash_signatures(flat, off, n_perm=cfg.n_perm, seed=cfg.seed)
    out["minhash"] = _per_item_us(
        lambda: hashing.minhash_signatures(flat, off, n_perm=cfg.n_perm, seed=cfg.seed), n)
    out["band"] = _per_item_us(
        lambda: hashing.band_hashes(sig, bands=cfg.bands, rows=cfg.rows, seed=cfg.seed), n)
    out["bottomk"] = _per_item_us(lambda: hashing.bottom_k_sketch(flat, off, k=cfg.bottom_k), n)
    planes = hashing.srp_planes(cfg.fingerprint_dim, cfg.sim_tables, cfg.sim_bits, cfg.seed)
    out["srp"] = _per_item_us(
        lambda: hashing.srp_keys(fps, planes, tables=cfg.sim_tables, bits=cfg.sim_bits),
        len(fps))
    tb = [t.encode() for t in texts if t]
    out["suffix_array"] = _per_item_us(lambda: [text.suffix_array(t) for t in tb], len(tb), 3)

    # pairs: a seeded sample of candidate pairs, probed the way verify does
    pairs = [p for p in pairs if p[0] in pos and p[1] in pos]
    if len(pairs) > n_pairs:
        pairs = [pairs[i] for i in sorted(rng.choice(len(pairs), n_pairs, replace=False))]
    involved = sorted({c for p in pairs for c in p})
    a_ids = np.array([p[0] for p in pairs], dtype=object)
    b_ids = np.array([p[1] for p in pairs], dtype=object)
    m = len(pairs)
    if m:
        inv_pcm = {c: audio.decode_pcm16_wav(blob(pos[c]), codec=codecs[pos[c]].as_py())
                   if blob(pos[c]) else np.zeros(0) for c in involved}
        inv_fp = np.stack([audio.fingerprint(inv_pcm[c], dim=cfg.fingerprint_dim)
                           if inv_pcm[c].size else np.zeros(cfg.fingerprint_dim, np.float32)
                           for c in involved])
        lk_dir = os.path.join(work, "kernel_lookup")
        os.makedirs(lk_dir, exist_ok=True)
        get = lambda name: os.path.join(lk_dir, name)
        prefix, _ = cosine.save_fp_lookup(involved, inv_fp, out_dir=lk_dir)
        fl = cosine.load_fp_lookup_mmap(prefix, get)
        margin = cosine.quant_margin(cfg.fingerprint_dim)
        out["pair_cosine"] = _per_item_us(lambda: cosine.pair_cosines(
            fl, a_ids, b_ids, cfg.cosine_threshold, margin), m)
        inv_txt = text.normalize_transcript([trs[pos[c]].as_py() or "" for c in involved])
        sflat, soff = hashing.shingle_hashes(inv_txt, k=cfg.k_shingle, seed=cfg.seed)
        prefix, _ = text.save_shingle_lookup(involved, sflat, soff, out_dir=lk_dir)
        tl = text.load_shingle_lookup_mmap(prefix, get)
        out["pair_jaccard"] = _per_item_us(
            lambda: text.pair_jaccards(tl, a_ids, b_ids, cfg.jaccard_threshold), m)
        sa = [inv_pcm[p[0]] for p in pairs]
        sb = [inv_pcm[p[1]] for p in pairs]
        out["pair_snr"] = _per_item_us(lambda: audio.batch_pair_snr_db(sa, sb), m)
    else:
        out.update({k: 0.0 for k in PAIR_KERNELS})
    return out


def run_queries(spark, tracer, sf_dir: str) -> None:
    """Each query of ``QUERIES`` once through ``__spark_entry__.queries()``,
    noop sink, one span each."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in QUERIES:
        with tracer.span(f"query.{name}", spark):
            noop(qs[name](spark, sf_dir))
