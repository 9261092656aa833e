"""Text kernels: transcript normalization, exact Jaccard, suffix array.

The suffix array (prefix-doubling, O(n log² n), numpy argsort-based) powers the
exact-substring pass: candidate groups concatenate their transcripts with
sentinel separators, build one suffix array, and binary-search each member's
full text to find true containments — "LSH proposes, exact disposes", the same
division of labor as the reference's exact cosine re-rank (``src/lsh.h:132-145``).
"""

from __future__ import annotations

import numpy as np


def normalize_transcript(texts) -> "list[str]":
    """Lowercase + collapse runs of whitespace. Applied before shingling AND
    before exact verification so both see the same string space."""
    return [" ".join(t.lower().split()) if t is not None else "" for t in texts]


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-unique hash arrays. Empty∪empty → 0.0
    (shingle-less rows carry no Jaccard evidence; only the exact-content path
    may link them)."""
    if a.size == 0 and b.size == 0:
        return 0.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return inter / union if union else 0.0


def batch_jaccard(
    fa: np.ndarray, oa: np.ndarray, fb: np.ndarray, ob: np.ndarray
) -> np.ndarray:
    """Exact Jaccard for a whole batch of row pairs in CSR layout: row i
    compares ``fa[oa[i]:oa[i+1]]`` with ``fb[ob[i]:ob[i+1]]`` (both sorted
    unique, the ``shingle_hashes`` contract). Returns float64[n].

    Intersection per row is one ``searchsorted`` of the smaller side into the
    larger (binary probes only) — ~2× less work than sort-based
    ``intersect1d`` on the concatenation and no per-pair temporaries beyond
    the probe index array. Semantics match ``jaccard`` exactly, including
    empty∪empty → 0.0.

    Measured r4: a fully-flat rewrite (all probes of the batch through one
    vectorized branch-free bisect, zero per-pair Python) ran 3.5× SLOWER warm
    (0.72 s vs 0.20 s, 20k pairs × ~150 shingles) and paid a 6.7 s cold
    first-touch penalty — the ~15 multi-MB temporaries per bisect iteration
    are memory-traffic-bound, while this loop's ~150-element segments stay
    cache-resident and each iteration is one C ``searchsorted``. Same lesson
    as the r3 shingle dedup: on per-row small arrays, the Python loop
    overhead (~10 µs/pair) is cheaper than global-array traffic.
    """
    n = oa.size - 1
    out = np.zeros(n, dtype=np.float64)
    for i in range(n):
        a = fa[oa[i] : oa[i + 1]]
        b = fb[ob[i] : ob[i + 1]]
        if a.size > b.size:
            a, b = b, a
        if a.size == 0:
            continue  # empty ∩ anything = 0; union>0 ⇒ 0.0, empty∪empty ⇒ 0.0
        idx = np.searchsorted(b, a)
        idx[idx == b.size] = b.size - 1
        inter = int(np.count_nonzero(b[idx] == a))
        out[i] = inter / (a.size + b.size - inter)
    return out


def save_shingle_lookup(ids, flat: np.ndarray, offsets: np.ndarray,
                        out_dir: "str | None" = None):
    """Write a CSR shingle-set lookup as ``.npy`` files for ``np.memmap``
    readers — the text analogue of ``kernels.cosine.save_fp_lookup``.

    No pipeline stage calls this: text verify joins both transcripts onto
    each pair (``operators/verify.py::verify_text_pairs``), which beat a
    driver-collected lookup built from these kernels at 1k, 20k and 100k
    clips on a 4-CPU host. It stays, with ``load_shingle_lookup_mmap`` and
    ``pair_jaccards``, because ``perfbench/layers.py`` times the per-pair
    Jaccard kernel through it (``kernel.pair_jaccard_us``).

    ``flat``/``offsets``: the ``shingle_hashes`` CSR (sorted-unique uint64
    per row). Rows are re-laid-out by utf-8-encoded id order so the probe is
    a ``searchsorted`` on the fixed-width id array (no per-reader index
    build). Returns ``(prefix, paths)``."""
    from srpr_lsh_spark.kernels.cosine import sorted_ids, write_lookup

    ids_s, order = sorted_ids(ids)
    offsets = np.asarray(offsets, dtype=np.int64)
    flat = np.asarray(flat).view(np.uint64)
    lens = offsets[1:] - offsets[:-1]
    l_ord = lens[order]
    new_off = np.zeros(len(order) + 1, dtype=np.int64)
    np.cumsum(l_ord, out=new_off[1:])
    # vectorized CSR permutation: global positions of each row's span
    if flat.size:
        starts_new = new_off[:-1]
        gather = (
            np.arange(new_off[-1], dtype=np.int64)
            - np.repeat(starts_new, l_ord)
            + np.repeat(offsets[:-1][order], l_ord)
        )
        new_flat = flat[gather]
    else:
        new_flat = flat
    return write_lookup("txlk", out_dir, {"ids": ids_s, "vals": new_flat, "offs": new_off})


# worker-side single-slot memmap cache (same policy as cosine._MMAP_CACHE)
_TXT_MMAP_CACHE: dict = {}


def load_shingle_lookup_mmap(prefix: str, get_path) -> dict:
    """Worker-side: open (or reuse) the memmapped CSR lookup written by
    ``save_shingle_lookup``."""
    lk = _TXT_MMAP_CACHE.get(prefix)
    if lk is None:
        lk = {
            "ids_sorted": np.load(get_path(f"{prefix}_ids.npy"), mmap_mode="r"),
            "vals": np.load(get_path(f"{prefix}_vals.npy"), mmap_mode="r"),
            "offs": np.load(get_path(f"{prefix}_offs.npy"), mmap_mode="r"),
        }
        _TXT_MMAP_CACHE.clear()
        _TXT_MMAP_CACHE[prefix] = lk
    return lk


def pair_jaccards(
    lookup: dict, a_ids, b_ids, threshold: float
) -> "tuple[np.ndarray, np.ndarray]":
    """For M candidate pairs, return (kept_positions, jaccards ≥ threshold).

    Exact-set Jaccard probed from the memmapped CSR lookup. Ids absent from
    the lookup are dropped (the former inner-join semantics; in practice every
    pair id has a clips row). Before touching any hash array, pairs are
    pruned by the EXACT size bound J ≤ min(|A|,|B|)/max(|A|,|B|) (classic
    length filtering — zero false drops), so the per-pair intersection loop
    only runs on size-compatible pairs. The intersection itself matches
    ``batch_jaccard`` exactly (searchsorted of the smaller side into the
    larger; empty∪empty → 0.0)."""
    from srpr_lsh_spark.kernels.cosine import _indexer

    ia = _indexer(lookup, a_ids)
    ib = _indexer(lookup, b_ids)
    valid = np.flatnonzero((ia >= 0) & (ib >= 0))
    ia, ib = ia[valid], ib[valid]
    offs = lookup["offs"]
    sa, ea = offs[ia], offs[ia + 1]
    sb, eb = offs[ib], offs[ib + 1]
    la, lb = ea - sa, eb - sb
    mx = np.maximum(la, lb)
    ub = np.where(mx > 0, np.minimum(la, lb) / np.maximum(mx, 1), 0.0)
    cand = np.flatnonzero(ub >= threshold)
    vals = lookup["vals"]
    out = np.zeros(cand.size, dtype=np.float64)
    for j, i in enumerate(cand):
        a = np.asarray(vals[sa[i] : ea[i]])
        b = np.asarray(vals[sb[i] : eb[i]])
        if a.size > b.size:
            a, b = b, a
        if a.size == 0:
            continue
        idx = np.searchsorted(b, a)
        idx[idx == b.size] = b.size - 1
        inter = int(np.count_nonzero(b[idx] == a))
        out[j] = inter / (a.size + b.size - inter)
    keep = np.flatnonzero(out >= threshold)
    return valid[cand[keep]], out[keep]


def suffix_array(s: bytes) -> np.ndarray:
    """Suffix array via prefix doubling with numpy lexsort — O(n log² n).

    Returns int64 positions of suffixes in ascending lexicographic order.
    """
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.frombuffer(s, dtype=np.uint8).astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while k < n:
        # sort key: (rank[i], rank[i+k] or -1)
        second = np.full(n, -1, dtype=np.int64)
        second[: n - k] = rank[k:]
        order = np.lexsort((second, rank))
        # recompute ranks: new rank increments where either key changes
        r1 = rank[order]
        r2 = second[order]
        change = np.ones(n, dtype=np.int64)
        change[1:] = (r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])
        new_rank = np.cumsum(change) - 1
        tmp[order] = new_rank
        rank, sa = tmp.copy(), order
        if rank[sa[-1]] == n - 1:  # all distinct — fully sorted
            break
        k <<= 1
    return sa.astype(np.int64)


def sa_contains(text: bytes, sa: np.ndarray, pattern: bytes) -> "list[int]":
    """All start positions of ``pattern`` in ``text`` using its suffix array.

    Standard O(m log n) double binary search over the suffix array.
    """
    n, m = len(text), len(pattern)
    if m == 0 or m > n:
        return []
    lo, hi = 0, n
    # lower bound: first suffix >= pattern
    while lo < hi:
        mid = (lo + hi) // 2
        if text[sa[mid] : sa[mid] + m] < pattern:
            lo = mid + 1
        else:
            hi = mid
    start = lo
    hi = n
    # upper bound: first suffix whose m-char prefix > pattern
    while lo < hi:
        mid = (lo + hi) // 2
        if text[sa[mid] : sa[mid] + m] > pattern:
            hi = mid
        else:
            lo = mid + 1
    return sorted(int(sa[i]) for i in range(start, lo))
