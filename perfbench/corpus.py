"""Input preparation: the clips corpus and the query tables, made from a seed.

Both are written with pyarrow, without a Spark session, into a cache
directory keyed by everything that determines their content, so a
repeated (workload, seed) reuses them and their generation never counts
toward any timed window. ``srpr_lsh_spark.sources.synth`` is the clips
generator; the corpus is the concatenation of its blocks, as
``synthesize_clips`` writes it.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CLIPS_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ("cluster_id", pa.string()), ("role", pa.string()),
])


def _key(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:12]


def _cached(root: str, what: dict, build) -> str:
    """``root/<key>`` holding ``build(dir)``'s output; built once per key."""
    out = os.path.join(root, _key(what))
    if os.path.exists(os.path.join(out, "_done.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_done.json"), "w") as f:
        json.dump(what, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _write_blocks(path: str, blocks, params, vocab) -> None:
    from srpr_lsh_spark.sources.synth import generate_block

    frames = [generate_block(int(b), params, vocab) for b in blocks]
    pq.write_table(pa.concat_tables(
        pa.Table.from_pandas(f, schema=CLIPS_SCHEMA, preserve_index=False)
        for f in frames if len(f)), path)


def clips_corpus(root: str, params, n_files: int) -> str:
    """Write ``params``' corpus as ``n_files`` parquet files under
    ``<dir>/clips_full`` (clips columns plus the planted ``cluster_id`` and
    ``role``); returns ``<dir>``."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    from srpr_lsh_spark.sources.synth import SYNTH_VERSION, _vocab

    def build(d: str) -> None:
        vocab = _vocab(params.seed)
        out = os.path.join(d, "clips_full")
        os.makedirs(out)
        groups = np.array_split(np.arange(params.n_blocks), min(n_files, params.n_blocks))
        # one file per task; blocks are independent, so generation fans out.
        # fork, not spawn: this runs before the process starts any thread,
        # and spawn would leave a resource-tracker process running
        with ProcessPoolExecutor(min(len(groups), len(os.sched_getaffinity(0))),
                                 mp_context=multiprocessing.get_context("fork")) as pool:
            done = [pool.submit(_write_blocks, os.path.join(out, f"part-{i:05d}.parquet"),
                                g.tolist(), params, vocab) for i, g in enumerate(groups)]
            for f in done:
                f.result()

    what = {"clips": dataclasses.asdict(params), "synth_version": SYNTH_VERSION,
            "n_files": n_files}
    return _cached(root, what, build)


# ---------------------------------------------------------------------------
# query tables: the tables bench.BENCH_QUERIES read, in the shape of the sf0.1
# test tables (row counts, key ranges, value distributions, document mix)
# ---------------------------------------------------------------------------

# sf0.1's row counts; part, supplier, region and events are left out because
# none of the eight queries reads them
QUERY_SCALE = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000,
               "documents": 5_000, "embeddings": 2_000}
# sf0.1's document vocabulary: 30 words drawn uniformly, 10-100 per document
_WORDS = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_LANGS, _LANG_P = ["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]
_N_SOURCES = 20
NEAR_DUP_SHARE = 0.05  # documents rewritten as another document + " dup"


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D").astype(np.int64), np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _documents(rng, n: int) -> dict:
    """Uniform word salad; then a 5% share of documents, picked at random, is
    overwritten one by one with a random other document plus " dup". Two
    rewrites of the same source become exact copies, a rewrite of a rewrite
    carries "dup dup"."""
    words = np.array(_WORDS)
    texts = [" ".join(rng.choice(words, int(k))) for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, int(NEAR_DUP_SHARE * n), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % _N_SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def query_tables(root: str, seed: int) -> str:
    """Write the query tables for ``seed``; returns their directory (an
    ``sf_dir`` in the queries' sense)."""

    def build(d: str) -> None:
        rng = np.random.default_rng((seed, 4242))
        s = QUERY_SCALE
        w = lambda name, cols: pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))
        uniform = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
        pick = lambda values, n: pa.array(rng.choice(values, n), pa.string())
        w("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
        nc = s["customer"]
        w("customer", {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": uniform(-999.99, 9999.99, nc),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], nc)})
        no = s["orders"]
        w("orders", {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": pick(["O", "F", "P"], no),
            "o_totalprice": uniform(1000, 500_000, no),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], no)})
        # lines pick their order and line number at random, as in sf0.1
        # (about 4 lines per order; (order, line) is not unique)
        nl = s["lineitem"]
        w("lineitem", {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, 20_000, nl)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": uniform(900, 105_000, nl),
            "l_discount": uniform(0, 0.1, nl),
            "l_tax": uniform(0, 0.08, nl),
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
        w("documents", _documents(rng, s["documents"]))
        nv = s["embeddings"]
        emb = rng.standard_normal((nv, 64)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        w("embeddings", {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))})

    return _cached(root, {"query_tables": QUERY_SCALE, "seed": seed, "format": 2}, build)
