"""Connected components vs a union-find oracle on random graphs, plus the
adversarial over-cap star-bucket fixture (VERDICT r1 #8)."""

import dataclasses
from functools import partial

import numpy as np
import pytest

from srpr_lsh_spark.operators.components import connected_components, star_forest


def _uf_oracle(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _run(spark, nodes, edges, max_iters=25):
    ndf = spark.createDataFrame([(n,) for n in nodes], ["clip_id"])
    if edges:
        edf = spark.createDataFrame(list(edges), ["a", "b"])
    else:
        edf = ndf.select(
            ndf.clip_id.alias("a"), ndf.clip_id.alias("b")
        ).limit(0)
    got = {
        r["clip_id"]: r["cluster_id"]
        for r in connected_components(edf, ndf, max_iters=max_iters).collect()
    }
    return got


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rng = np.random.default_rng(seed)
    n = 120
    nodes = [f"n{i:04d}" for i in range(n)]
    m = int(rng.integers(30, 140))
    edges = {
        tuple(sorted((nodes[int(rng.integers(0, n))], nodes[int(rng.integers(0, n))])))
        for _ in range(m)
    }
    edges = {(a, b) for a, b in edges if a != b}
    assert _run(spark, nodes, edges) == _uf_oracle(nodes, edges)


def test_long_chain(spark):
    """A path graph — worst-case diameter — must still converge in O(log n)."""
    n = 64
    nodes = [f"c{i:03d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    got = _run(spark, nodes, edges, max_iters=12)
    assert set(got.values()) == {nodes[0]}


def test_no_edges_all_singletons(spark):
    nodes = [f"s{i}" for i in range(10)]
    got = _run(spark, nodes, [])
    assert got == {x: x for x in nodes}


def test_giant_star(spark):
    """The exact-content short-circuit shape: one hub, many leaves."""
    nodes = [f"h{i:05d}" for i in range(200)]
    edges = [(nodes[0], x) for x in nodes[1:]]
    got = _run(spark, nodes, edges)
    assert set(got.values()) == {nodes[0]}


@pytest.fixture
def no_coalesce(spark):
    """AQE keeps every shuffle partition, so components span partitions and
    the contraction leaves work for the star loop."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    yield spark
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_long_chain_spanning_partitions(no_coalesce):
    spark = no_coalesce
    n = 64
    nodes = [f"c{i:03d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, nodes, edges, max_iters=0)
    got = _run(spark, nodes, edges, max_iters=12)
    assert got == _uf_oracle(nodes, edges)


@pytest.mark.parametrize("seed", [3, 4])
def test_random_graphs_spanning_partitions(no_coalesce, seed):
    spark = no_coalesce
    rng = np.random.default_rng(seed)
    n = 120
    nodes = [f"n{i:04d}" for i in range(n)]
    edges = {
        tuple(sorted((nodes[int(rng.integers(0, n))], nodes[int(rng.integers(0, n))])))
        for _ in range(int(rng.integers(60, 140)))
    }
    edges = {(a, b) for a, b in edges if a != b}
    assert _run(spark, nodes, edges) == _uf_oracle(nodes, edges)


def test_contraction_alone_labels_coalesced_path(spark):
    """AQE coalesces a small edge shuffle into one partition, whose
    union-find is the whole answer: the fixpoint probe holds with no star
    cycle at all."""
    n = 64
    nodes = [f"c{i:03d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    got = _run(spark, nodes, edges, max_iters=0)
    assert set(got.values()) == {nodes[0]}


def test_star_forest_matches_union_find():
    rng = np.random.default_rng(5)
    for trial in range(50):
        n = int(rng.integers(1, 80))
        ids = np.array([f"k{i}" for i in rng.permutation(n)], dtype=object)
        m = int(rng.integers(0, 120))
        a, b = ids[rng.integers(0, n, m)], ids[rng.integers(0, n, m)]
        member, root = star_forest(a, b)
        assert len(set(member)) == len(member)
        assert (member > root).all()
        seen = sorted(set(a) | set(b))
        got = {x: x for x in seen} | dict(zip(member, root))
        assert got == _uf_oracle(seen, list(zip(a, b))), trial


def _bucket_groups(rows):
    """``{(band_id, band_hash): {group: [ids]}}``; a row without ``sh`` is
    its own group."""
    buckets = {}
    for cid, sh, bid, bh in rows:
        group = ("id", cid) if sh is None else ("sh", sh)
        buckets.setdefault((bid, bh), {}).setdefault(group, []).append(cid)
    return buckets


def _bucket_pairs_reference(rows, cap):
    """Plain-Python pair kernel: per bucket, collapse identical ``sh`` to the
    min id, then all pairs of the group reps, or the two-anchor star when
    there are more than ``cap``."""
    from srpr_lsh_spark.config import SRP_BAND_OFFSET

    out = set()
    for (bid, _), groups in _bucket_groups(rows).items():
        src = "minhash" if bid < SRP_BAND_OFFSET else "simhash"
        for g in groups.values():
            out |= {(min(g), m, src) for m in g if m != min(g)}
        reps = sorted(min(g) for g in groups.values())
        if len(reps) <= cap:
            out |= {(a, b, src) for i, a in enumerate(reps) for b in reps[i + 1:]}
        else:
            out |= {(reps[0], m, src) for m in reps[1:]}
            out |= {(m, reps[-1], src) for m in reps[:-1]}
    return out


def test_bucket_pairs_matches_reference():
    """The numpy pair kernel against the plain-Python reference on random
    band layouts, which cover buckets of 1, cap and cap + 1 groups,
    multi-member ``sh`` groups in over-cap buckets, both band-id spaces and
    rows with and without ``sh``."""
    import pyarrow as pa

    from srpr_lsh_spark.config import SRP_BAND_OFFSET
    from srpr_lsh_spark.operators.banding import bucket_pairs

    rng = np.random.default_rng(7)
    seen = set()
    for trial in range(50):
        cap = int(rng.integers(2, 7))
        n = int(rng.integers(1, 40))
        ids = [f"k{i}" for i in rng.permutation(n)]
        sh = [int(s) if rng.random() < 0.6 and trial % 3 else None
              for s in rng.integers(0, n // 3 + 1, n)]
        band_ids = rng.choice([0, 1, SRP_BAND_OFFSET, SRP_BAND_OFFSET + 3],
                              size=int(rng.integers(1, 4)), replace=False)
        rows = []
        for cid, s in zip(ids, sh):
            for bid in band_ids:
                # identical full signatures share every band key
                h = hash((s, int(bid))) % 3 if s is not None else int(rng.integers(0, 3))
                rows.append((cid, s, int(bid), h - 1))
        rows = [rows[i] for i in rng.permutation(len(rows))]
        table = pa.table({
            "clip_id": pa.array([r[0] for r in rows], pa.string()),
            "sh": pa.array([r[1] for r in rows], pa.int64()),
            "band_id": pa.array([r[2] for r in rows], pa.int32()),
            "band_hash": pa.array([r[3] for r in rows], pa.int64()),
        })
        got = list(zip(*bucket_pairs(table, cap).to_pydict().values()))
        assert len(got) == len(set(got)), trial
        assert set(got) == _bucket_pairs_reference(rows, cap), trial

        for (bid, _), groups in _bucket_groups(rows).items():
            seen.add({1: "size 1", cap: "size cap", cap + 1: "size cap+1"}.get(len(groups)))
            seen.add("srp" if bid >= SRP_BAND_OFFSET else "minhash")
            if len(groups) > cap and max(map(len, groups.values())) > 1:
                seen.add("over-cap sh group")
        seen |= {"sh" if s is not None else "no sh" for s in sh}
    assert seen >= {"size 1", "size cap", "size cap+1", "over-cap sh group",
                    "minhash", "srp", "sh", "no sh"}, seen


def _containment_kernels_reference(shingles, sketches, tr_len, cap, min_matches):
    """Plain-Python containment count: df over the shingle sets; per short,
    its kept sketch (df ≤ ``cap``), sk_n, t = max(``min_matches``,
    ⌈0.8·sk_n⌉), and every longer clip holding ≥ t kept hashes."""
    import math
    from collections import Counter

    df = Counter(h for hs in shingles.values() for h in hs)
    out = set()
    for short, sketch in sketches.items():
        kept = {h for h in sketch if df[h] <= cap}
        if len(kept) < min_matches:
            continue
        t = max(min_matches, math.ceil(len(kept) * 0.8))
        out |= {(short, long_) for long_, hs in shingles.items()
                if tr_len[short] < tr_len[long_] and len(kept & hs) >= t}
    return out


def test_containment_kernels_match_reference():
    """``sketch_hits`` then ``containment_pairs``, each run through
    ``whole_partition`` over 3-row batches of hash- and short-partitioned
    rows, against a plain-Python count on random layouts, which cover hashes
    with df = cap and cap + 1, hashes no sketch holds, shorts with sk_n =
    min_matches − 1 and min_matches, and equal transcript lengths."""
    import math
    from collections import Counter

    import pyarrow as pa

    from srpr_lsh_spark.operators.banding import whole_partition
    from srpr_lsh_spark.operators.substring import containment_pairs, sketch_hits

    def run(kernel, table, key, parts):
        """One shuffle: every key's rows to one random partition of ``parts``."""
        part = {k: int(rng.integers(parts)) for k in sorted(set(key))}
        out = []
        for p in range(parts):
            rows = table.filter(pa.array([part[k] == p for k in key], pa.bool_()))
            out += list(whole_partition(rows.to_batches(max_chunksize=3), kernel))
        return pa.Table.from_batches(out, schema=out[0].schema) if out else None

    rng = np.random.default_rng(11)
    min_matches = 3
    seen = set()
    for trial in range(60):
        cap = int(rng.integers(2, 6))
        n = int(rng.integers(2, 14))
        ids = [f"k{i}" for i in rng.permutation(n)]
        pool = rng.integers(-2**63, 2**63 - 1, size=int(rng.integers(4, 16)))
        shingles = {c: set(rng.choice(pool, int(rng.integers(0, len(pool))), replace=False)
                           .tolist()) for c in ids}
        for want_df in (cap, cap + 1):  # plant hashes with df = cap and cap + 1
            h = int(rng.integers(-2**63, 2**63 - 1))
            for c in rng.choice(ids, min(want_df, n), replace=False):
                shingles[c].add(h)
        tr_len = {c: int(rng.integers(5, 9)) for c in ids}
        sketches = {c: set(rng.choice(sorted(hs), int(rng.integers(0, len(hs) + 1)),
                                      replace=False).tolist())
                    for c, hs in shingles.items() if hs and rng.random() < 0.7}
        rows = [(c, h, tr_len[c], False) for c, hs in shingles.items() for h in hs]
        rows += [(c, h, tr_len[c], True) for c, hs in sketches.items() for h in hs]
        rows = [rows[i] for i in rng.permutation(len(rows))]
        table = pa.table({
            "clip_id": pa.array([r[0] for r in rows], pa.string()),
            "h": pa.array([r[1] for r in rows], pa.int64()),
            "tr_len": pa.array([r[2] for r in rows], pa.int32()),
            "sketch": pa.array([r[3] for r in rows], pa.bool_()),
        })
        parts = int(rng.integers(1, 4))
        hits = run(partial(sketch_hits, cap=cap), table, table.column("h").to_pylist(), parts)
        got = []
        if hits is not None:
            pairs = run(partial(containment_pairs, min_matches=min_matches), hits,
                        hits.column("short").to_pylist(), parts)
            got = list(zip(*pairs.to_pydict().values())) if pairs is not None else []
        assert len(got) == len(set(got)), trial
        assert set(got) == _containment_kernels_reference(
            shingles, sketches, tr_len, cap, min_matches), trial

        df = Counter(h for hs in shingles.values() for h in hs)
        held = set().union(*sketches.values()) if sketches else set()
        seen |= {{cap: "df cap", cap + 1: "df cap+1"}.get(df[h]) for h in held}
        seen |= {"no sketch" for h in df if h not in held}
        for short, sketch in sketches.items():
            kept = {h for h in sketch if df[h] <= cap}
            seen.add({min_matches - 1: "sk_n min-1", min_matches: "sk_n min"}.get(len(kept)))
            t = max(min_matches, math.ceil(len(kept) * 0.8))
            if len(kept) >= min_matches and any(
                    c != short and tr_len[c] == tr_len[short] and len(kept & hs) >= t
                    for c, hs in shingles.items()):
                seen.add("equal tr_len")
    assert seen >= {"df cap", "df cap+1", "no sketch", "sk_n min-1", "sk_n min",
                    "equal tr_len"}, seen


class TestOverCapStarBucket:
    """Adversarial hot-bucket fixture: a >cap bucket whose MIN anchor is
    dissimilar to every true member. With single-anchor star pairing the
    whole family would be stranded (every (min, member) edge fails exact
    verification); the two-anchor star recovers it via the max anchor."""

    IDS = [f"c{i:02d}" for i in range(20)]

    def _pairs(self, spark, cap=8):
        from srpr_lsh_spark.config import DedupConfig
        from srpr_lsh_spark.operators.banding import candidate_pairs

        cfg = dataclasses.replace(DedupConfig(shuffle_partitions=8), bucket_pair_cap=cap)
        bands = spark.createDataFrame(
            [(i, 0, 42, "minhash") for i in self.IDS],
            ["clip_id", "band_id", "band_hash", "source"],
        )
        return candidate_pairs(bands, cfg), cfg

    def test_edges_to_both_anchors_linear_count(self, spark):
        pairs, _ = self._pairs(spark)
        got = {(r["a"], r["b"]) for r in pairs.collect()}
        for m in self.IDS[1:]:
            assert ("c00", m) in got, f"missing min-anchor edge for {m}"
        for m in self.IDS[:-1]:
            assert (m, "c19") in got, f"missing max-anchor edge for {m}"
        # O(n) star edges, not the O(n²) all-pairs join
        assert len(got) == 2 * (len(self.IDS) - 1) - 1
        assert len(got) < len(self.IDS) * (len(self.IDS) - 1) / 2

    def test_family_recovered_despite_junk_min_anchor(self, spark):
        from srpr_lsh_spark.operators.verify import verify_text_pairs

        pairs, cfg = self._pairs(spark)
        family = (
            "the quick brown fox jumps over the lazy dog again and again "
            "while the band keeps playing the same old song all night long"
        )
        texts = {"c00": "zzz completely unrelated gibberish qqq www eee rrr ttt yyy"}
        for m in self.IDS[1:]:
            texts[m] = family
        clips = spark.createDataFrame(
            [(i, texts[i]) for i in self.IDS], ["clip_id", "transcript"]
        )
        verified = verify_text_pairs(pairs, clips, cfg)
        nodes = spark.createDataFrame([(i,) for i in self.IDS], ["clip_id"])
        labels = {
            r["clip_id"]: r["cluster_id"]
            for r in connected_components(
                verified.select("a", "b"), nodes
            ).collect()
        }
        # the junk min anchor stays a singleton; the 19 true members cluster
        assert labels["c00"] == "c00"
        family_labels = {labels[m] for m in self.IDS[1:]}
        assert family_labels == {"c01"}


class TestOverCapDisjointFamilies:
    """The case the banding docstring admits CAN strand members (VERDICT r4
    #6): ONE over-cap bucket containing k disjoint near-dup families whose
    members are neither the bucket min nor max. The two-anchor star only
    emits member↔lo and member↔hi edges, so after exact verification kills
    the cross-family edges, only the families containing an anchor survive —
    a measured within-family pair-recall floor of exactly

        recall_floor = (families holding an anchor) / k = 2/k

    when the k families are equal-sized and anchor-disjoint. This pins the
    cap's recall trade quantitatively: at 10¹²-clip scale, a bucket that
    overflows ``bucket_pair_cap`` with MANY DISTINCT-signature families is
    recovered only for the anchor families by this band — recovery of the
    rest must come from other bands/tables (likely, since disjoint families
    that collide in ALL L bands are overwhelmingly improbable for honest
    hash functions) or from a larger cap (all-pairs: recall 1.0, cost
    O(n²)). The full-signature collapse already removes the common mass case
    (identical signatures never reach the capped regime)."""

    K_FAMILIES = 5
    FAMILY_SIZE = 6  # 30 members total, cap below that

    def _ids(self):
        return [
            f"f{f}_m{m:02d}"
            for f in range(self.K_FAMILIES)
            for m in range(self.FAMILY_SIZE)
        ]

    def _recall(self, spark, cap):
        """Within-family pair recall through candidate_pairs + an exact
        verify stand-in (same-family ⇔ passes verification) + CC."""
        from srpr_lsh_spark.config import DedupConfig
        from srpr_lsh_spark.operators.banding import candidate_pairs

        cfg = dataclasses.replace(DedupConfig(shuffle_partitions=8),
                                  bucket_pair_cap=cap)
        ids = self._ids()
        bands = spark.createDataFrame(
            [(i, 0, 7, "simhash") for i in ids],
            ["clip_id", "band_id", "band_hash", "source"],
        )
        fam = lambda cid: cid.split("_")[0]
        pairs = [(r["a"], r["b"]) for r in candidate_pairs(bands, cfg).collect()]
        verified = [(a, b) for a, b in pairs if fam(a) == fam(b)]
        nodes = spark.createDataFrame([(i,) for i in ids], ["clip_id"])
        if verified:
            edges = spark.createDataFrame(verified, ["a", "b"])
        else:
            edges = nodes.select(
                nodes.clip_id.alias("a"), nodes.clip_id.alias("b")
            ).limit(0)
        labels = {
            r["clip_id"]: r["cluster_id"]
            for r in connected_components(edges, nodes).collect()
        }
        # pair recall over the planted within-family pairs
        want = got = 0
        for f in range(self.K_FAMILIES):
            members = [i for i in ids if fam(i) == f"f{f}"]
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    want += 1
                    got += labels[members[x]] == labels[members[y]]
        return got / want

    def test_recall_floor_is_two_over_k_under_cap(self, spark):
        floor = self._recall(spark, cap=8)  # bucket size 30 > cap
        assert floor == pytest.approx(2 / self.K_FAMILIES), (
            "two-anchor star must recover exactly the two anchor families "
            f"in the adversarial disjoint-family bucket; measured {floor}"
        )

    def test_cap_above_bucket_size_recovers_all(self, spark):
        assert self._recall(spark, cap=64) == 1.0
