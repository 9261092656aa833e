"""Stage 2: banding + candidate-pair generation with explicit skew handling.

The exploded ``bands(clip_id, band_id, band_hash)`` frame IS the LSH hash
table (the reference's ``vector<unordered_map<string, unordered_set<int>>>``,
``src/lsh.h:55``, re-expressed relationally — SURVEY.md §1.1.5). Candidates
are rows sharing ``(band_id, band_hash)``; dedup across bands is a
``dropDuplicates`` (the reference's candidate-set union, ``src/lsh.h:36-43``).

Plan: the band rows of both LSH spaces are hash-partitioned on the bucket key
``(band_id, band_hash)``, one ``mapInArrow`` numpy kernel per partition
(``bucket_pairs``) emits the pairs of every bucket it holds, and one
``dropDuplicates`` merges the partitions — two shuffles, no join.

Skew design (SURVEY.md §4.3.2) — a naive self-join is O(|bucket|²), fatal for
hot bands (near-identical mass content, zero fingerprints):
- full-signature collapse: each band row carries ``sh``, the hash of its
  space's FULL signature. Identical signatures give identical band keys, so a
  whole ``sh`` group always lands in the same buckets, where the kernel
  collapses it to its min clip_id (star edges rep ↔ member) before pairing.
  A signature family of m rows costs m star edges instead of O(L·m²) bucket
  pairs, and capped buckets contain only DISTINCT signatures, so the over-cap
  regime can never strand a family whose members share a signature;
- buckets with ≤ ``bucket_pair_cap`` distinct signatures emit every a < b pair
  of their representatives;
- larger buckets emit STAR pairs to TWO anchors (every representative ↔ the
  bucket's min clip_id AND ↔ its max clip_id): O(n) edges. Recall
  preservation here is a high-probability heuristic, not a guarantee — a
  member whose similarity to BOTH anchors falls below the verify threshold
  (while passing against other members) is stranded. The collapse above and
  the mutual similarity of a true near-dup family make that rare; the
  residual gap is measured, not assumed: tests/test_components.py plants an
  adversarial over-cap bucket whose min anchor is dissimilar to half the
  members.
- memory: a bucket is never split, so one task holds at least its largest
  bucket's band rows (twin rows included — their mass collapses inside that
  task, not before the shuffle).

Ids: the kernel numbers a partition's ids in string order
(``pd.factorize(sort=True)``, as ``components.star_forest`` does), so every
min/max anchor, collapse representative and a < b decision is the string-order
decision; the pairs leave the kernel as the input id type.
"""

from __future__ import annotations

from functools import partial, reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from srpr_lsh_spark.config import SRP_BAND_OFFSET, DedupConfig

# band_id layout: [0, bands) = MinHash bands; SRP table t at SRP_BAND_OFFSET+t
SOURCE_MINHASH = "minhash"
SOURCE_SIMHASH = "simhash"


def _band_rows(df: DataFrame, source: str, *keep: str) -> DataFrame:
    """One LSH space's ``(clip_id, *keep, band_id, band_hash)`` rows, on the
    band-id layout: MinHash band i at i, SRP table t at SRP_BAND_OFFSET + t.

    Empty-transcript rows (band key sentinel -1) are excluded from the MinHash
    space: no shingles ⇒ no Jaccard evidence ⇒ only the exact-content path may
    link them. Zero fingerprints are NOT excluded from the SRP space — they
    are the planted hot band the cap must absorb."""
    if source == SOURCE_MINHASH:
        return df.select(
            "clip_id", *keep, F.posexplode("band_keys").alias("band_id", "band_hash")
        ).filter(F.col("band_hash") != F.lit(-1))
    if source == SOURCE_SIMHASH:
        return df.select(
            "clip_id", *keep, F.posexplode("sim_keys").alias("t", "band_hash")
        ).select(
            "clip_id", *keep,
            (F.col("t") + F.lit(SRP_BAND_OFFSET)).alias("band_id"),
            "band_hash",
        )
    raise ValueError(source)


def explode_bands(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures → bands(clip_id, band_id, band_hash, source), both spaces."""
    return _band_rows(signatures, SOURCE_MINHASH).unionByName(
        _band_rows(signatures, SOURCE_SIMHASH)
    ).withColumn("source", _source_of_band())


def _source_of_band() -> "F.Column":
    """``source`` is fully determined by the band id: MinHash bands occupy
    [0, SRP_BAND_OFFSET) and SRP tables sit above it (the band-id layout
    invariant ``DedupConfig.__post_init__`` asserts), so band rows need not
    carry the string. ``bucket_pairs`` applies the same rule in numpy."""
    return F.when(
        F.col("band_id") < F.lit(SRP_BAND_OFFSET), F.lit(SOURCE_MINHASH)
    ).otherwise(F.lit(SOURCE_SIMHASH))


def bucket_pairs(rows: pa.Table, cap: int) -> pa.RecordBatch:
    """The pair kernel: ``rows(clip_id, sh, band_id, band_hash)`` → the
    distinct ``(a, b, source)`` pairs, a < b, of every bucket in ``rows``.

    Inside each ``(band_id, band_hash)`` bucket, rows sharing ``sh`` collapse
    to their min id (star edges rep → member); a row with NULL ``sh`` is its
    own group. A bucket with 2..``cap`` representatives emits all their
    pairs, a larger one the two-anchor star (every representative with the
    min and with the max). ``rows`` must hold whole buckets."""
    ids = rows.column("clip_id")
    code, uniq = pd.factorize(ids.to_numpy(zero_copy_only=False), sort=True)
    sh = rows.column("sh")
    own = sh.is_null().to_numpy(zero_copy_only=False)
    key = np.where(own, code, sh.fill_null(0).to_numpy())
    bid = rows.column("band_id").to_numpy()
    bh = rows.column("band_hash").to_numpy()
    # by bucket, then group, then id: each group's first row is its min id
    o = np.lexsort((code, key, own, bh, bid))
    code, key, own, bid, bh = code[o], key[o], own[o], bid[o], bh[o]

    new_bucket = np.r_[True, (bid[1:] != bid[:-1]) | (bh[1:] != bh[:-1])]
    first = np.flatnonzero(
        new_bucket | np.r_[True, (key[1:] != key[:-1]) | (own[1:] != own[:-1])])
    rep = np.repeat(code[first], np.diff(np.r_[first, len(code)]))
    a, b, band = [rep], [code], [bid]

    # one row per group, re-sorted by id inside its bucket
    bucket = np.cumsum(new_bucket)[first]
    o = np.lexsort((code[first], bucket))
    r, rb, bucket = code[first][o], bid[first][o], bucket[o]
    start = np.flatnonzero(np.r_[True, bucket[1:] != bucket[:-1]])
    size = np.diff(np.r_[start, len(r)])
    for s in np.unique(size[(size >= 2) & (size <= cap)]):
        st = start[size == s][:, None]
        i, j = np.triu_indices(s, 1)
        a.append(r[st + i].ravel())
        b.append(r[st + j].ravel())
        band.append(np.repeat(rb[st[:, 0]], len(i)))
    big = size > cap
    if big.any():
        n = size[big]
        member = np.arange(n.sum()) + np.repeat(start[big] - (np.cumsum(n) - n), n)
        lo, hi = np.repeat(r[start[big]], n), np.repeat(r[start[big] + n - 1], n)
        a += [lo, r[member]]
        b += [r[member], hi]
        band += [rb[member]] * 2

    a, b = np.concatenate(a), np.concatenate(b)
    simhash = np.concatenate(band) >= SRP_BAND_OFFSET
    # (a, b, source) packed into one int64: drops the star edges each band
    # repeats and the self edges in one unique
    k = np.unique(((a * len(uniq) + b) * 2 + simhash)[a < b])
    a, b = np.divmod(k // 2, len(uniq))
    uniq = pa.array(uniq, type=ids.type)
    return pa.RecordBatch.from_arrays(
        [uniq.take(a), uniq.take(b),
         pa.array(np.array([SOURCE_MINHASH, SOURCE_SIMHASH], dtype=object)[k % 2],
                  type=pa.string())],
        names=["a", "b", "source"],
    )


def whole_partition(batches, kernel):
    """``mapInArrow`` body: a shuffle key's rows (a bucket, a hash, a short)
    can span Arrow batches, so ``kernel`` runs once over all of the
    partition's rows, as one ``pa.Table``."""
    batches = [rb for rb in batches if rb.num_rows]
    if batches:
        yield kernel(pa.Table.from_batches(batches))


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """bands(clip_id, [sh,] band_id, band_hash) → candidate_pairs(a, b,
    source) with a < b, distinct; ``source`` derived from the band-id layout
    (``_source_of_band``) — an attached source column, if present, is
    ignored. Without ``sh`` every row is its own collapse group. Id-type
    agnostic: ``a``/``b`` have ``clip_id``'s type. See the module docstring
    for the plan."""
    if "sh" not in bands.columns:
        bands = bands.withColumn("sh", F.lit(None).cast("long"))
    rows = bands.select("clip_id", "sh", "band_id", "band_hash")
    id_type = rows.schema["clip_id"].dataType
    schema = StructType([
        StructField("a", id_type), StructField("b", id_type),
        StructField("source", StringType()),
    ])
    return (
        rows.repartition("band_id", "band_hash")
        .mapInArrow(partial(whole_partition, kernel=partial(
            bucket_pairs, cap=cfg.bucket_pair_cap)), schema)
        .dropDuplicates(["a", "b", "source"])
    )


def _keyed_bands(signatures: DataFrame, source: str) -> DataFrame:
    """One LSH space's band rows, each carrying ``sh``, the hash of the row's
    FULL signature in that space (all minhash components / all SRP table
    keys) — the key of the kernel's in-bucket collapse."""
    if source == SOURCE_MINHASH:
        eligible = signatures.filter(F.col("n_shingles") > 0)
        sh = F.xxhash64("minhash")
    elif source == SOURCE_SIMHASH:
        eligible, sh = signatures, F.xxhash64("sim_keys")
    else:
        raise ValueError(source)
    return _band_rows(eligible.withColumn("sh", sh), source, "sh")


def combined_candidates(
    signatures: DataFrame, cfg: DedupConfig,
    sources: "tuple[str, ...]" = (SOURCE_MINHASH, SOURCE_SIMHASH),
) -> DataFrame:
    """Candidate pairs of the given LSH spaces through ONE bucket shuffle.

    With both spaces it is row-identical to the union of the one-space calls
    (pytest-pinned): the band-id key spaces are disjoint ([0, bands) vs
    SRP_BAND_OFFSET+table), so buckets never mix across spaces, and
    ``source`` is part of the dedup key. Builds a lazy plan: no job runs
    until the result is consumed."""
    bands = reduce(DataFrame.unionByName, (_keyed_bands(signatures, s) for s in sources))
    return candidate_pairs(bands, cfg)


def exact_content_edges(signatures: DataFrame) -> DataFrame:
    """Exact-dup short-circuit: identical ``content_key`` ⇒ duplicate, no
    pairwise verification. Emits star edges (group min ↔ member): O(n) per
    group even for the giant byte-identical skew group.

    Generalizes the reference's parameter-keyed cache identity discipline and
    the trivial identical-signature case. The key is a 128-bit blake2b digest:
    expected collisions ≈ n²/2¹²⁹ ≈ 10⁻¹⁵ even at 10¹² clips, so exact edges
    are accepted without further verification — the digest is sized to make a
    false merge impossible in practice, not mitigated downstream.
    """
    w_min = F.min("clip_id")
    reps = signatures.groupBy("content_key").agg(
        w_min.alias("a"), F.count("*").alias("csz")
    ).filter(F.col("csz") >= 2)
    return (
        signatures.join(reps.select("content_key", "a"), "content_key")
        .filter(F.col("clip_id") != F.col("a"))
        .select("a", F.col("clip_id").alias("b"), F.lit("exact").alias("source"))
    )
