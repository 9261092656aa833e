"""Fingerprint-lookup cosine kernels: a memmapped ``(clip_id, fp)`` lookup
probed pair by pair, with an int8 prefilter.

No pipeline stage calls these. Audio verify's phase 1 is a JVM equi-join
plan (``operators/verify.py::_phase1_cosine``), which beat a driver-collected
lookup built from these kernels at every shape measured on a 4-CPU host
(1k to 100k clips). They stay because ``perfbench/layers.py`` times them as
the per-pair cosine kernel (``kernel.pair_cosine_us``).

The lookup: ``save_fp_lookup`` writes the slim ``(clip_id, fp)`` rows once as
three ``.npy`` files sorted by id, and ``load_fp_lookup_mmap`` lets each
reader ``np.memmap`` them (one page-cache copy per node, no unpickle).

Two-tier evaluation inside ``pair_cosines`` (the int8 prefilter):

1. quantized pass — fingerprints are L2-normalized at creation, so
   ``q = round(127·fp)`` (``quantize``) stores each vector in d bytes;
   ``(q_a·q_b)/127²`` approximates the exact dot within ``quant_margin(d)``.
   The bulk of the candidate mass (near-parallel non-duplicates, hot-band
   star pairs) dies here touching 4× less lookup memory per row than float32
   would.
2. exact pass — survivors only: float32 rows promoted to float64, per-row
   ``einsum`` dot (deterministic and partitioning-invariant). It is NOT
   bit-compatible with phase 1's JVM ``aggregate(zip_with(...))`` dot:
   ``einsum`` sums in a different order, so a cosine can differ by a few
   ulp (up to 3 measured on a 1k-clip corpus).

The reference's analogue of phase 1 is the exact-cosine re-rank over LSH
candidates (``src/lsh.h:132-145``); the zero-magnitude guard mirrors
``src/lsh.h:151-155``.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import numpy as np

_QSCALE = 127.0


def quantize(fp: np.ndarray) -> np.ndarray:
    """int8 image ``round(127·fp)`` of unit-norm (or zero) fingerprint rows —
    the prefilter representation ``pair_cosines`` dots first."""
    return np.clip(np.rint(fp * _QSCALE), -_QSCALE, _QSCALE).astype(np.int8)


def save_fp_lookup(ids, fps: np.ndarray, out_dir: "str | None" = None):
    """Write the lookup as three ``.npy`` files for ``np.memmap`` readers
    (``load_fp_lookup_mmap``): one page-cache copy per host, no unpickle.

    Rows are sorted by utf-8-encoded id so the probe is a ``searchsorted``
    on the memmapped fixed-width id array — no per-reader index build at
    all. Returns ``(prefix, paths)``."""
    ids_s, order = sorted_ids(ids)
    fp = np.ascontiguousarray(np.asarray(fps, dtype=np.float32)[order])
    return write_lookup("fplk", out_dir, {"ids": ids_s, "fp": fp, "q": quantize(fp)})


def sorted_ids(ids) -> "tuple[np.ndarray, np.ndarray]":
    """Driver-side: ``(sorted fixed-width utf-8 id array, order)`` — the
    probe key of a memmapped lookup; ``order`` re-lays the payload rows."""
    enc = [(s if isinstance(s, str) else str(s)).encode("utf-8")
           for s in np.asarray(ids, dtype=object)]
    if any(b"\x00" in b for b in enc):
        # the fixed-width S dtype pads with NULs, so an id ENDING in one would
        # compare equal to its padded shorter sibling — make the precondition
        # explicit instead of silently false-matching (r5 ADVICE #3)
        raise ValueError("clip ids must not contain NUL bytes (S-dtype padding)")
    w = max((len(b) for b in enc), default=1)
    ids_s = np.array(enc, dtype=f"S{w}") if enc else np.empty(0, dtype=f"S{w}")
    order = np.argsort(ids_s, kind="stable")
    return ids_s[order], order


def write_lookup(kind: str, out_dir: "str | None", arrays: dict):
    """Driver-side: save each named array as ``<prefix>_<name>.npy`` under a
    fresh ``<kind>_<uuid>`` prefix (in a new temp dir when ``out_dir`` is
    None). Returns ``(prefix, paths)``."""
    prefix = f"{kind}_{uuid.uuid4().hex}"
    out_dir = out_dir or tempfile.mkdtemp(prefix=f"{kind}_")
    paths = []
    for name, arr in arrays.items():
        p = os.path.join(out_dir, f"{prefix}_{name}.npy")
        np.save(p, arr)
        paths.append(p)
    return prefix, paths


# worker-side: one open memmap set per process, keyed by prefix. Kept to the
# most recent lookup — stale entries would pin deleted files' disk blocks for
# the worker's lifetime across bench reps / repeated serving runs.
_MMAP_CACHE: dict = {}


def load_fp_lookup_mmap(prefix: str, get_path) -> dict:
    """Worker-side: open (or reuse) the memmapped lookup written by
    ``save_fp_lookup``. ``get_path`` maps a file basename to a local path.
    The arrays are read-only memmaps: fancy-indexed gathers copy only the
    probed rows into memory."""
    lk = _MMAP_CACHE.get(prefix)
    if lk is None:
        lk = {
            "ids_sorted": np.load(get_path(f"{prefix}_ids.npy"), mmap_mode="r"),
            "fp": np.load(get_path(f"{prefix}_fp.npy"), mmap_mode="r"),
            "q": np.load(get_path(f"{prefix}_q.npy"), mmap_mode="r"),
        }
        _MMAP_CACHE.clear()
        _MMAP_CACHE[prefix] = lk
    return lk


def _indexer(lookup: dict, ids) -> np.ndarray:
    """id → row positions (−1 = absent): binary search over a memmapped
    lookup's sorted fixed-width id array."""
    srt = lookup["ids_sorted"]
    n = len(srt)
    if n == 0:
        return np.full(len(ids), -1, dtype=np.int64)
    w = srt.dtype.itemsize
    enc = [s.encode("utf-8") if isinstance(s, str) else bytes(s) for s in ids]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    # dtype=S{w} TRUNCATES longer ids — which could falsely match a stored
    # prefix — so over-width queries are forced to miss explicitly
    qry = np.array(enc, dtype=f"S{w}") if enc else np.empty(0, dtype=f"S{w}")
    pos = np.searchsorted(srt, qry)
    posc = np.minimum(pos, n - 1)
    hit = (srt[posc] == qry) & (lens <= w)
    return np.where(hit, posc, -1)


def quant_margin(dim: int) -> float:
    """Upper bound on |cos_q − cos_exact| for the int8 prefilter.

    Per-component rounding error ≤ 0.5/127 ⇒ vector error ‖e‖ ≤ √d/254;
    first-order perturbation of the dot of unit vectors ≤ ‖e_a‖ + ‖e_b‖ =
    2√d/254. The extra 10% covers the second-order term (≈‖e‖², two orders
    smaller). Pinned by the property test in tests/test_kernels.py."""
    return 2.2 * float(np.sqrt(dim)) / 254.0


def pair_cosines(
    lookup: dict,
    a_ids,
    b_ids,
    threshold: float,
    margin: float,
) -> "tuple[np.ndarray, np.ndarray, int]":
    """For M candidate pairs, return (kept_positions, exact_cosines,
    n_int8_pass).

    ``kept_positions`` indexes into the input pair arrays: the pairs whose
    EXACT float dot ≥ ``threshold``. The int8 pass first drops everything
    below ``threshold − margin`` (sound because |cos_q − cos| ≤ margin, so no
    pair at/above threshold can be dropped early). ``n_int8_pass`` is the
    count surviving the quantized pass — the candidate-mass-reduction
    diagnostic. Ids absent from the lookup (no signature row) are dropped,
    matching the previous inner-join semantics."""
    ia = _indexer(lookup, a_ids)
    ib = _indexer(lookup, b_ids)
    valid = np.flatnonzero((ia >= 0) & (ib >= 0))
    ia, ib = ia[valid], ib[valid]

    q = lookup["q"]
    qa = q[ia].astype(np.int32)
    qb = q[ib].astype(np.int32)
    cos_q = np.einsum("ij,ij->i", qa, qb).astype(np.float64) / (_QSCALE * _QSCALE)
    cand = np.flatnonzero(cos_q >= threshold - margin)

    fp = lookup["fp"]
    fa = fp[ia[cand]].astype(np.float64)
    fb = fp[ib[cand]].astype(np.float64)
    cos = np.einsum("ij,ij->i", fa, fb)
    keep = np.flatnonzero(cos >= threshold)
    return valid[cand[keep]], cos[keep], int(cand.size)
