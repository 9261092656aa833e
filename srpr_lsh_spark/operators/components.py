"""Stage 4: connected components → cluster ids.

One contraction pass, then large-star / small-star (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond") only if it is still needed:

- **Contraction.** The edges are hash-partitioned on one endpoint (AQE
  coalesces the shuffle) and each partition runs a union-find over all of
  its Arrow batches in one ``mapInPandas``. It emits ``(member, local
  component min)`` for every non-root node: a spanning star forest of the
  partition's components, never more rows than the partition's edges, so
  global connectivity is unchanged. The result is checkpointed once.
- **Fixpoint probe first.** ``_is_star_fixpoint`` runs on the contracted
  edges before any star cycle. Dedup graphs are mostly stars, and at the
  sizes whose shuffle AQE coalesces into one partition the contraction is
  already the whole answer, so the common case runs zero cycles.
- **Star loop otherwise.** Components that span partitions converge in
  O(log n) rounds of the pure DataFrame star algebra — each round a
  ``groupBy().min()`` (map-side combinable, skew-safe) plus an equi-join
  (AQE splits residual skew) — with a ``localCheckpoint`` per cycle to
  truncate lineage (SURVEY.md §7.3.3).

Cluster id = min clip_id of the component — a total, partitioning-invariant
labeling, which is what makes the local[8] vs local[32] runs byte-identical
(SURVEY.md §7.3.2). The reference has no clustering stage; its analogue is the
candidate-set union across tables (``src/lsh.h:36-43``) whose transitive
closure this computes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def star_forest(u: np.ndarray, v: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
    """Spanning star forest of the graph with edges ``(u[i], v[i])``:
    ``(member, component min)`` for every node that is not the minimum of
    its component.

    Vectorized union-find over node indices: ``pd.factorize(sort=True)``
    numbers the nodes in value order (Python order for strings, which is
    Spark's UTF-8 byte order) and hooks only ever point to a smaller index,
    so every tree's root is its minimum. Each round hooks every root to the
    smallest root across its crossing edges, then jumps pointers until each
    node points at its root. A tree that no hook touches in one round has
    only larger-rooted neighbours, which all hook onto smaller roots, so it
    hooks in the next: the tree count per component halves every two
    rounds."""
    codes, nodes = pd.factorize(np.concatenate([u, v]), sort=True)
    a, b = codes[: len(u)], codes[len(u):]
    idx = np.arange(len(nodes))
    p = idx.copy()
    while True:
        ra, rb = p[a], p[b]
        cross = ra != rb
        if not cross.any():
            break
        a, b, ra, rb = a[cross], b[cross], ra[cross], rb[cross]
        lo = np.minimum(ra, rb)
        np.minimum.at(p, ra, lo)
        np.minimum.at(p, rb, lo)
        while True:
            q = p[p]
            if np.array_equal(q, p):
                break
            p = q
    member = p != idx
    return nodes[member], nodes[p[member]]


def _contract_partition(batches):
    """``mapInPandas`` body: one union-find over every batch of the partition,
    emitting its star forest (u = member > v = local min)."""
    us, vs = [], []
    for pdf in batches:
        us.append(pdf["u"].to_numpy())
        vs.append(pdf["v"].to_numpy())
    if us:
        member, root = star_forest(np.concatenate(us), np.concatenate(vs))
        yield pd.DataFrame({"u": member, "v": root})


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}).

    Emits duplicates (no ``distinct``, r5): every downstream consumer is
    either a ``groupBy().min()`` (duplicate-blind) or the next star round's
    join (duplicates multiply bytes, never results), and the end-of-cycle
    ``_small_star(dedup=True)`` restores the canonical set before the
    checksum. Dropping the dedup here removes one full shuffle per round from
    the measured corpus-size-independent clusters floor (VERDICT r4 #3/#5)."""
    em = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = em.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        em.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Orient edges (u = max endpoint, v = min); connect each small neighbor
    and u itself to the group min.

    ``dedup=False`` on intermediate rounds (duplicate edges are semantically
    inert in the star algebra — see ``_large_star``); the last round of each
    checkpoint cycle keeps ``dedup=True`` so the convergence checksum
    (count + hash-xor) sees the canonical edge set."""
    e2 = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = e2.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        e2.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
    )
    return out.distinct() if dedup else out


def _is_star_fixpoint(edges: DataFrame) -> bool:
    """True iff ``edges`` is a fixpoint of the star alternation — detected
    STRUCTURALLY, not by comparing consecutive iterations (r5).

    A deduped, small-star-oriented edge set (every row has u > v) is a
    fixpoint exactly when (a) every u carries exactly one edge and (b) no
    node appears both as a u (member) and a v (center): that makes it a
    forest of depth-1 stars whose center is the component min, and both
    ``_large_star`` and ``_small_star`` map such a set to itself. The
    checksum-comparison scheme this replaces could only detect convergence
    one full cycle LATE (the fixpoint had to reproduce itself to be seen),
    so star-shaped edge sets — the common case for dedup graphs, which are
    mostly collapse/exact-dup stars already — paid 2 cycles where 1
    suffices. ``connected_components`` probes the contracted edges before
    any cycle, so a graph the contraction already turned into a star forest
    runs none. Cost: one shuffle over 2|E| endpoint rows per probe; an empty
    edge set is a fixpoint."""
    ends = edges.select(
        F.col("u").alias("n"), F.lit(1).alias("au"), F.lit(0).alias("av")
    ).unionByName(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("au"), F.lit(1).alias("av"))
    )
    bad = (
        ends.groupBy("n")
        .agg(F.sum("au").alias("au"), F.sum("av").alias("av"))
        .filter((F.col("au") > 1) | ((F.col("au") > 0) & (F.col("av") > 0)))
    )
    return bad.isEmpty()


def connected_components(
    edges: DataFrame, nodes: DataFrame, max_iters: int = 25
) -> DataFrame:
    """edges(a, b) + nodes(clip_id) → clusters(clip_id, cluster_id).

    Every node gets a label; nodes without surviving edges label themselves.
    Raises if the contracted edges are not a star-forest fixpoint after
    ``max_iters`` star rounds (components of diameter D converge in O(log D)
    alternations; ``max_iters=0`` requires the contraction alone to finish).
    """
    uv = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).filter(
        F.col("u") != F.col("v"))
    e = (
        uv.repartition("u")
        .mapInPandas(_contract_partition, uv.schema)
        .localCheckpoint(eager=True)
    )

    # two star alternations per checkpoint, then the fixpoint probe. Under
    # AQE the lazy (eager=False) checkpoint still runs every query stage of
    # the cycle as its own job at the call; the probe then reads the blocks.
    rounds = 0
    while not _is_star_fixpoint(e):
        if rounds >= max_iters:
            raise RuntimeError(
                f"connected components did not converge in {max_iters} rounds")
        # fused cycle (r5): only the LAST small-star of the cycle dedups —
        # 4 distinct-shuffles per cycle become 1
        e = _small_star(_large_star(e), dedup=False)
        e = _small_star(_large_star(e), dedup=True)
        rounds += 2
        e = e.localCheckpoint(eager=False)

    # a fixpoint has exactly one edge (member, component min) per member;
    # roots and singletons appear only as v or not at all
    labels = e.select(F.col("u").alias("clip_id"), F.col("v").alias("cluster_id"))
    return (
        nodes.select("clip_id")
        .join(labels, "clip_id", "left")
        .select(
            "clip_id", F.coalesce("cluster_id", "clip_id").alias("cluster_id")
        )
    )
