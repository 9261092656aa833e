"""Kernel unit tests (pure numpy, no Spark) — SURVEY.md §5.2 tier 1."""

import numpy as np
import pytest

from srpr_lsh_spark.kernels import (
    band_hashes,
    bottom_k_sketch,
    decode_pcm16_wav,
    encode_pcm16_wav,
    fingerprint,
    jaccard,
    minhash_signatures,
    normalize_transcript,
    pair_snr_db,
    sa_contains,
    shingle_hashes,
    srp_keys,
    srp_planes,
    suffix_array,
)


def _sets_from_csr(flat, off, i):
    return set(flat[off[i] : off[i + 1]].tolist())


class TestShingles:
    def test_basic_counts(self):
        flat, off = shingle_hashes(["abcdef"], k=5)
        assert off.tolist() == [0, 2]  # 'abcde', 'bcdef'

    def test_short_text_empty(self):
        flat, off = shingle_hashes(["abc", ""], k=5)
        assert off.tolist() == [0, 0, 0]

    def test_deterministic_and_set_semantics(self):
        f1, o1 = shingle_hashes(["the cat sat on the mat"], k=5)
        f2, o2 = shingle_hashes(["the cat sat on the mat"], k=5)
        assert np.array_equal(f1, f2)
        # repeated shingles dedupe: 'aaaaaaa' has one distinct 5-gram
        f3, o3 = shingle_hashes(["aaaaaaa"], k=5)
        assert o3[1] - o3[0] == 1

    def test_batch_matches_single(self):
        texts = ["hello world foo", "another transcript here"]
        fb, ob = shingle_hashes(texts, k=5)
        for i, t in enumerate(texts):
            fs, os_ = shingle_hashes([t], k=5)
            assert _sets_from_csr(fb, ob, i) == set(fs.tolist())


class TestMinHash:
    def test_collision_prob_approximates_jaccard(self):
        """P(minhash_j(A) == minhash_j(B)) ≈ J(A,B) — Broder 1997."""
        rng = np.random.default_rng(7)
        universe = np.unique(rng.integers(0, 2**62, size=500, dtype=np.uint64))[:400]
        a = universe[:300]
        b = universe[100:400]  # |A∩B|=200, |A∪B|=400 → J=0.5
        flat = np.concatenate([np.unique(a), np.unique(b)])
        off = np.array([0, 300, 600])
        sig = minhash_signatures(flat, off, n_perm=512, seed=42)
        agree = (sig[0] == sig[1]).mean()
        assert abs(agree - 0.5) < 0.07

    def test_identical_sets_identical_signatures(self):
        flat, off = shingle_hashes(["same text here ok", "same text here ok"], k=4)
        sig = minhash_signatures(flat, off, n_perm=64)
        assert np.array_equal(sig[0], sig[1])

    def test_empty_set_sentinel(self):
        flat, off = shingle_hashes(["", "abcdefgh"], k=5)
        sig = minhash_signatures(flat, off, n_perm=16)
        assert (sig[0] == np.iinfo(np.uint64).max).all()
        assert not (sig[1] == np.iinfo(np.uint64).max).all()

    def test_cache_blocking_is_invisible(self):
        """Signatures must be identical for ANY chunk size — the L2 blocking
        is a pure layout optimization; includes a row bigger than the chunk,
        empty rows, and chunk boundaries landing mid-row."""
        rng = np.random.default_rng(3)
        lens = [0, 7, 120, 5000, 0, 33, 900, 64, 1]
        off = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        flat = rng.integers(0, 2**63, off[-1], dtype=np.uint64)
        want = minhash_signatures(flat, off, n_perm=32, chunk_elems=flat.size)
        for ce in (1, 64, 1000, 4096):
            got = minhash_signatures(flat, off, n_perm=32, chunk_elems=ce)
            assert np.array_equal(got, want), ce


class TestBandHashes:
    def test_shape_and_determinism(self):
        rng = np.random.default_rng(0)
        sig = rng.integers(0, 2**63, size=(10, 128)).astype(np.uint64)
        bh = band_hashes(sig, bands=32, rows=4)
        assert bh.shape == (10, 32)
        assert np.array_equal(bh, band_hashes(sig, bands=32, rows=4))

    def test_equal_band_iff_equal_rows(self):
        sig = np.zeros((2, 8), dtype=np.uint64)
        sig[1] = np.arange(8)
        sig[1, :4] = 0  # band 0 equal, band 1 differs
        bh = band_hashes(sig, bands=2, rows=4)
        assert bh[0, 0] == bh[1, 0]
        assert bh[0, 1] != bh[1, 1]

    def test_empty_sentinel_maps_to_minus_one(self):
        sig = np.full((1, 8), np.iinfo(np.uint64).max, dtype=np.uint64)
        assert (band_hashes(sig, bands=2, rows=4) == -1).all()


class TestSRP:
    def test_bit_agreement_matches_angle(self):
        """E[bit agreement] = 1 − θ/π — Charikar 2002 / reference Eq. 9
        (src/SRPRModel.h:149-156)."""
        rng = np.random.default_rng(3)
        d, nbits = 32, 4096
        planes = srp_planes(d, tables=1, bits=1, seed=42)
        # build many planes manually for the statistic
        planes = np.random.default_rng(42).standard_normal((nbits, d)).astype(np.float32)
        u = rng.standard_normal(d)
        for theta in [0.2, 0.7, 1.3]:
            v_orth = rng.standard_normal(d)
            v_orth -= v_orth @ u * u / (u @ u)
            v = np.cos(theta) * u / np.linalg.norm(u) + np.sin(theta) * v_orth / np.linalg.norm(v_orth)
            signs = (np.stack([u / np.linalg.norm(u), v]) @ planes.T) >= 0
            agree = (signs[0] == signs[1]).mean()
            assert abs(agree - (1 - theta / np.pi)) < 0.03

    def test_keys_shape_packing(self):
        planes = srp_planes(8, tables=3, bits=16, seed=42)
        x = np.random.default_rng(1).standard_normal((5, 8)).astype(np.float32)
        keys = srp_keys(x, planes, tables=3, bits=16)
        assert keys.shape == (5, 3)
        assert (keys >= 0).all() and (keys < 2**16).all()

    def test_zero_vector_all_ones_key(self):
        """sign(0) → bit 1, the reference's tie rule (src/plane.h:16-22)."""
        planes = srp_planes(4, tables=2, bits=8, seed=42)
        keys = srp_keys(np.zeros((1, 4), dtype=np.float32), planes, tables=2, bits=8)
        assert (keys == 2**8 - 1).all()

    def test_identical_vectors_identical_keys(self):
        planes = srp_planes(32, tables=12, bits=16, seed=42)
        x = np.random.default_rng(2).standard_normal((1, 32)).astype(np.float32)
        k1 = srp_keys(x, planes, 12, 16)
        k2 = srp_keys(x.copy(), planes, 12, 16)
        assert np.array_equal(k1, k2)


class TestAudio:
    def test_wav_roundtrip(self):
        t = np.linspace(0, 1, 8000, endpoint=False)
        sig = 0.5 * np.sin(2 * np.pi * 440 * t)
        blob = encode_pcm16_wav(sig, 8000)
        out = decode_pcm16_wav(blob)
        assert out.size == 8000
        assert np.allclose(out, sig, atol=1.0 / 32767)

    def test_unknown_codec_raises(self):
        with pytest.raises(NotImplementedError):
            decode_pcm16_wav(b"\x00" * 100, codec="opus")

    def test_snr_of_planted_noise(self):
        rng = np.random.default_rng(5)
        t = np.linspace(0, 1, 16000, endpoint=False)
        base = 0.4 * np.sin(2 * np.pi * 220 * t)
        noise = rng.standard_normal(16000)
        noise *= np.sqrt((base @ base) / (noise @ noise)) * 10 ** (-40 / 20)
        snr = pair_snr_db(base, base + noise)
        assert 39 < snr < 41

    def test_snr_identical_is_inf(self):
        x = np.ones(100) * 0.3
        assert pair_snr_db(x, x) == float("inf")

    def test_batch_snr_matches_scalar(self):
        """batch_pair_snr_db ≡ min(pair_snr_db(a,b), pair_snr_db(b,a)) on
        random variable-length pairs, including the edge cases (empty, zero
        power, identical)."""
        from srpr_lsh_spark.kernels.audio import batch_pair_snr_db

        rng = np.random.default_rng(11)
        pairs = []
        for n in (0, 1, 17, 512, 777):
            a = rng.standard_normal(n)
            b = a + rng.standard_normal(n) * 0.01
            pairs.append((a, b))
            pairs.append((a, rng.standard_normal(max(n - 3, 0))))  # length mismatch
        pairs.append((np.zeros(50), rng.standard_normal(50)))  # zero-power ref
        pairs.append((np.ones(50), np.ones(50)))                # identical → inf
        got = batch_pair_snr_db([p[0] for p in pairs], [p[1] for p in pairs])
        for i, (a, b) in enumerate(pairs):
            want = min(pair_snr_db(a, b), pair_snr_db(b, a))
            if want in (float("inf"), float("-inf")):
                assert got[i] == want, (i, got[i], want)
            else:
                assert got[i] == pytest.approx(want), (i, got[i], want)

    def test_fingerprint_near_dup_high_cosine(self):
        rng = np.random.default_rng(9)
        t = np.linspace(0, 1, 16000, endpoint=False)
        base = 0.3 * np.sin(2 * np.pi * 300 * t) + 0.2 * np.sin(2 * np.pi * 1200 * t)
        noise = rng.standard_normal(16000) * 1e-3
        f1, f2 = fingerprint(base), fingerprint(base + noise)
        assert float(f1 @ f2) > 0.999
        # a different signal should be clearly separated
        other = 0.3 * np.sin(2 * np.pi * 2500 * t)
        assert float(f1 @ fingerprint(other)) < 0.9

    def test_fingerprint_silence_is_zero(self):
        assert (fingerprint(np.zeros(4000)) == 0).all()


class TestTextKernels:
    def test_jaccard_exact(self):
        a = np.array([1, 2, 3, 4], dtype=np.uint64)
        b = np.array([3, 4, 5, 6], dtype=np.uint64)
        assert jaccard(a, b) == pytest.approx(2 / 6)
        assert jaccard(a, a) == 1.0
        assert jaccard(np.empty(0, np.uint64), np.empty(0, np.uint64)) == 0.0

    def test_batch_jaccard_matches_scalar(self):
        """batch_jaccard ≡ per-pair jaccard on every row, including empty
        sides, disjoint sets, identical sets, and size-skewed pairs."""
        from srpr_lsh_spark.kernels.text import batch_jaccard, jaccard

        rng = np.random.default_rng(11)
        rows_a, rows_b = [], []
        for na, nb in [(0, 0), (0, 5), (5, 0), (3, 3), (200, 10), (50, 50), (1, 400)]:
            u = np.unique(rng.integers(0, 2**62, size=na + nb + 20, dtype=np.uint64))
            rows_a.append(np.sort(rng.choice(u, size=na, replace=False)))
            rows_b.append(np.sort(rng.choice(u, size=nb, replace=False)))
        rows_a.append(rows_b[-1].copy())  # identical sets → 1.0
        rows_b.append(rows_b[-1].copy())
        oa = np.concatenate([[0], np.cumsum([r.size for r in rows_a])]).astype(np.int64)
        ob = np.concatenate([[0], np.cumsum([r.size for r in rows_b])]).astype(np.int64)
        fa = np.concatenate(rows_a) if rows_a else np.empty(0, dtype=np.uint64)
        fb = np.concatenate(rows_b) if rows_b else np.empty(0, dtype=np.uint64)
        got = batch_jaccard(fa, oa, fb, ob)
        want = [jaccard(a, b) for a, b in zip(rows_a, rows_b)]
        np.testing.assert_allclose(got, want)
        assert got[-1] == 1.0

    def test_normalize(self):
        assert normalize_transcript(["  Hello\t WORLD \n", None]) == ["hello world", ""]

    def test_shingle_lookup_pair_jaccards_match_batch(self, tmp_path):
        """The memmapped CSR lookup (r6 text-verify plan) reproduces
        batch_jaccard exactly: same kept set, same float64 values — including
        empty rows, absent ids (dropped, the inner-join semantics), and the
        exact size-bound prefilter never dropping a qualifying pair."""
        from srpr_lsh_spark.kernels.text import (
            batch_jaccard,
            load_shingle_lookup_mmap,
            pair_jaccards,
            save_shingle_lookup,
        )

        rng = np.random.default_rng(7)
        ids, rows = [], []
        for i in range(40):
            n = int(rng.integers(0, 60))
            u = np.unique(rng.integers(0, 2**63, size=n, dtype=np.uint64))
            ids.append(f"doc{i:03d}")
            rows.append(np.sort(u))
        offsets = np.concatenate([[0], np.cumsum([r.size for r in rows])]).astype(np.int64)
        flat = (
            np.concatenate(rows) if rows else np.empty(0, dtype=np.uint64)
        )
        prefix, paths = save_shingle_lookup(ids, flat, offsets, out_dir=str(tmp_path))
        lk = load_shingle_lookup_mmap(prefix, lambda b: str(tmp_path / b))

        a_idx = rng.integers(0, 40, size=200)
        b_idx = rng.integers(0, 40, size=200)
        a_ids = np.array([ids[i] for i in a_idx], dtype=object)
        b_ids = np.array([ids[i] for i in b_idx], dtype=object)
        # reference: batch_jaccard over the same pair rows
        oa = np.concatenate([[0], np.cumsum([rows[i].size for i in a_idx])]).astype(np.int64)
        ob = np.concatenate([[0], np.cumsum([rows[i].size for i in b_idx])]).astype(np.int64)
        fa = np.concatenate([rows[i] for i in a_idx]) if len(a_idx) else np.empty(0, np.uint64)
        fb = np.concatenate([rows[i] for i in b_idx]) if len(b_idx) else np.empty(0, np.uint64)
        want = batch_jaccard(fa, oa, fb, ob)
        for thr in (0.0, 0.2, 0.5, 0.8, 1.0):
            kept, js = pair_jaccards(lk, a_ids, b_ids, thr)
            want_kept = np.flatnonzero(want >= thr)
            np.testing.assert_array_equal(kept, want_kept)
            np.testing.assert_array_equal(js, want[want_kept])  # exact, not approx

        # absent ids drop the pair entirely
        kept, js = pair_jaccards(
            lk, np.array(["doc000", "nope"], dtype=object),
            np.array(["doc001", "doc002"], dtype=object), 0.0,
        )
        assert list(kept) == [0]

    def test_suffix_array_matches_naive(self):
        rng = np.random.default_rng(11)
        for _ in range(10):
            n = int(rng.integers(1, 200))
            s = bytes(rng.integers(97, 100, size=n).tolist())  # small alphabet → repeats
            sa = suffix_array(s)
            naive = sorted(range(len(s)), key=lambda i: s[i:])
            assert sa.tolist() == naive

    def test_sa_contains(self):
        s = b"the cat sat on the mat, the cat ran"
        sa = suffix_array(s)
        assert sa_contains(s, sa, b"the cat") == [0, 24]
        assert sa_contains(s, sa, b"dog") == []
        assert sa_contains(s, sa, b"") == []

    def test_bottom_k(self):
        flat, off = shingle_hashes(["a longer transcript with many shingles in it"], k=4)
        bk, bo = bottom_k_sketch(flat, off, k=8)
        assert bo[1] - bo[0] == 8
        assert np.array_equal(
            np.sort(bk.view(np.uint64)), np.sort(flat)[:8]
        )


class TestCosineLookup:
    """kernels/cosine.py — the verify stage's one-build phase-1 kernel, probed
    through the file-shipped memmap lookup the pipeline uses."""

    @staticmethod
    def _unit_rows(rng, n, d):
        m = rng.normal(size=(n, d)).astype(np.float32)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return m

    @staticmethod
    def _lookup(tmp_path, ids, m):
        """save_fp_lookup → load_fp_lookup_mmap, resolving in ``tmp_path``."""
        import os

        from srpr_lsh_spark.kernels.cosine import load_fp_lookup_mmap, save_fp_lookup

        prefix, _ = save_fp_lookup(ids, m, out_dir=str(tmp_path))
        return load_fp_lookup_mmap(
            prefix, lambda name: os.path.join(str(tmp_path), name)
        )

    def test_quant_margin_bound_holds(self):
        """|cos_q − cos_exact| ≤ quant_margin(d) over random unit pairs,
        including near-parallel ones (the regime the threshold lives in) —
        the soundness condition that lets the int8 prefilter drop pairs
        below threshold − margin without costing recall."""
        from srpr_lsh_spark.kernels.cosine import quant_margin, quantize

        rng = np.random.default_rng(7)
        d = 32
        base = self._unit_rows(rng, 500, d)
        # near-parallel partners: tiny perturbations of the same rows
        near = base + rng.normal(scale=0.01, size=base.shape).astype(np.float32)
        near /= np.linalg.norm(near, axis=1, keepdims=True)
        m = np.vstack([base, near])
        q = quantize(m).astype(np.float64) / 127.0
        ia = rng.integers(0, len(m), size=4000)
        ib = rng.integers(0, len(m), size=4000)
        ia = np.concatenate([ia, np.arange(500)])          # near-parallel pairs
        ib = np.concatenate([ib, np.arange(500) + 500])
        exact = np.einsum("ij,ij->i", m[ia].astype(np.float64), m[ib].astype(np.float64))
        approx = np.einsum("ij,ij->i", q[ia], q[ib])
        assert np.abs(approx - exact).max() < quant_margin(d)

    def test_pair_cosines_matches_bruteforce(self, tmp_path):
        """pair_cosines ≡ exact-dot filter: same kept set, same cosines, for
        thresholds straddling the duplicate/non-duplicate boundary."""
        from srpr_lsh_spark.kernels.cosine import pair_cosines, quant_margin

        rng = np.random.default_rng(13)
        d = 32
        m = self._unit_rows(rng, 300, d)
        # plant near-duplicates above the 0.997 threshold
        dup = m[:60] + rng.normal(scale=0.002, size=(60, d)).astype(np.float32)
        dup /= np.linalg.norm(dup, axis=1, keepdims=True)
        m = np.vstack([m, dup, np.zeros((2, d), dtype=np.float32)])  # + silence
        ids = np.array([f"c{i}" for i in range(len(m))], dtype=object)
        lk = self._lookup(tmp_path, ids, m)
        ia = np.concatenate([np.arange(60), rng.integers(0, len(m), size=2000)])
        ib = np.concatenate([np.arange(60) + 300, rng.integers(0, len(m), size=2000)])
        thr = 0.997
        keep, cos, n_int8 = pair_cosines(
            lk, ids[ia], ids[ib], thr, quant_margin(d)
        )
        exact = np.einsum(
            "ij,ij->i", m[ia].astype(np.float64), m[ib].astype(np.float64)
        )
        want = np.flatnonzero(exact >= thr)
        np.testing.assert_array_equal(keep, want)
        np.testing.assert_allclose(cos, exact[want], rtol=0, atol=0)
        assert n_int8 >= want.size          # prefilter is a superset
        assert want.size >= 60              # every planted dup survived
        # ids missing from the lookup are dropped (inner-join semantics)
        keep2, _, _ = pair_cosines(
            lk, np.array(["c0", "nope"], dtype=object),
            np.array(["c300", "c1"], dtype=object), thr, quant_margin(d),
        )
        np.testing.assert_array_equal(keep2, [0])

    def test_memmap_lookup_misses_absent_and_overwidth_ids(self, tmp_path):
        """The memmapped lookup's fixed-width id probe misses cleanly on ids
        it does not hold, including ids longer than the stored width (the
        silent-S-truncation false-match trap), while unsorted, varying-width
        stored ids still hit."""
        from srpr_lsh_spark.kernels.cosine import pair_cosines, quant_margin

        rng = np.random.default_rng(29)
        d = 32
        m = self._unit_rows(rng, 240, d)
        # deliberately NOT sorted, varying widths
        ids = np.array([f"clip_{i * 7 % 240}" for i in range(len(m))], dtype=object)
        lk = self._lookup(tmp_path, ids, m)
        # missing id and over-width id (would prefix-match "clip_1" if the
        # S-cast truncation went unguarded) both miss
        probes_a = np.array(["clip_1", "clip_1_but_much_longer", "absent"], dtype=object)
        probes_b = np.array(["clip_8", "clip_8", "clip_8"], dtype=object)
        keep, _, _ = pair_cosines(lk, probes_a, probes_b, -1.0, quant_margin(d))
        np.testing.assert_array_equal(keep, [0])

    def test_zero_fingerprints_never_pass(self, tmp_path):
        """Silence (all-zero fp) must never link: dot = 0 < threshold — the
        zero-magnitude guard (reference lsh.h:151-155) as a threshold."""
        from srpr_lsh_spark.kernels.cosine import pair_cosines, quant_margin

        z = np.zeros((4, 32), dtype=np.float32)
        ids = np.array(["a", "b", "c", "d"], dtype=object)
        lk = self._lookup(tmp_path, ids, z)
        keep, _, _ = pair_cosines(
            lk, ids[:2], ids[2:], 0.997, quant_margin(32)
        )
        assert keep.size == 0


class TestG711:
    """ITU-T G.711 μ-law / A-law decode LUTs + WAV round trip."""

    def test_mulaw_spec_literals(self):
        from srpr_lsh_spark.kernels.audio import _G711_LUTS

        lut = _G711_LUTS["pcm_mulaw"]
        # canonical ulaw2linear values (CCITT G.711 reference code)
        assert lut[0xFF] == 0          # smallest positive code
        assert lut[0x7F] == 0          # smallest negative code (negative zero)
        assert lut[0x00] == -32124     # most negative
        assert lut[0x80] == 32124      # most positive
        assert int(lut.max()) == 32124 and int(lut.min()) == -32124

    def test_alaw_spec_literals(self):
        from srpr_lsh_spark.kernels.audio import _G711_LUTS

        lut = _G711_LUTS["pcm_alaw"]
        # canonical alaw2linear values
        assert lut[0x55] == -8         # code 0x55 → smallest negative step
        assert lut[0xD5] == 8          # sign bit SET is positive in A-law
        assert lut[0x2A] == -32256     # most negative
        assert lut[0xAA] == 32256      # most positive
        assert int(lut.max()) == 32256 and int(lut.min()) == -32256

    @pytest.mark.parametrize("law", ["pcm_mulaw", "pcm_alaw"])
    def test_wav_roundtrip_snr(self, law):
        """Companded 8-bit round trip keeps SNR ≥ 33 dB on a speech-level
        tone — above the pipeline's 30 dB duplicate threshold, so G.711
        re-encodes of a clip still verify as duplicates."""
        from srpr_lsh_spark.kernels.audio import (
            decode_pcm16_wav, encode_g711_wav, pair_snr_db,
        )

        t = np.arange(4000) / 8000.0
        x = 0.5 * np.sin(2 * np.pi * 440.0 * t) + 0.1 * np.sin(2 * np.pi * 1333.0 * t)
        blob = encode_g711_wav(x, 8000, law)
        y = decode_pcm16_wav(blob, codec=law)
        assert y.size == x.size
        assert pair_snr_db(x, y) >= 33.0

    def test_g711_encode_is_nearest_code(self):
        """The LUT-inverse encoder picks the code whose decoded value is
        closest — quantization error bounded by half the local step."""
        from srpr_lsh_spark.kernels.audio import _G711_LUTS, g711_encode

        rng = np.random.default_rng(3)
        x = rng.uniform(-1, 1, size=2000)
        for law in ("pcm_mulaw", "pcm_alaw"):
            lut = _G711_LUTS[law].astype(np.float64) / 32768.0
            got = lut[g711_encode(x, law)]
            brute = lut[np.argmin(np.abs(lut[None, :] - x[:, None]), axis=1)]
            np.testing.assert_allclose(np.abs(got - x), np.abs(brute - x))
