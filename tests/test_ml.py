"""Model-training tests: kernel math pinned by hand computation + finite
differences, distributed trainer convergence, vectors-io round-trip —
the reference's training half (``src/MatrixFactorization.h``,
``src/SRPRModel.h``) re-expressed Spark-first."""

import math

import numpy as np
import pytest

from srpr_lsh_spark.kernels.srpr_math import (
    bpr_triplet_grads,
    gamma_uij,
    norm_cdf,
    norm_pdf,
    p_srp,
    p_srp_from_cos,
    sigmoid,
    srpr_triplet_grads,
)


class TestSrprMathKernels:
    def test_sigmoid_values(self):
        assert sigmoid(np.array([0.0]))[0] == pytest.approx(0.5)
        assert sigmoid(np.array([2.0]))[0] == pytest.approx(1 / (1 + math.exp(-2)))
        # stable at extremes
        assert sigmoid(np.array([-800.0]))[0] == pytest.approx(0.0)
        assert sigmoid(np.array([800.0]))[0] == pytest.approx(1.0)

    def test_p_srp_hand_values(self):
        """Eq. 9 (SRPRModel.h:149-156): acos(cos)/π."""
        assert p_srp_from_cos(np.array([1.0]))[0] == pytest.approx(0.0)
        assert p_srp_from_cos(np.array([-1.0]))[0] == pytest.approx(1.0)
        assert p_srp_from_cos(np.array([0.0]))[0] == pytest.approx(0.5)
        v1 = np.array([[1.0, 0.0]])
        v2 = np.array([[1.0, 1.0]])  # 45°
        assert p_srp(v1, v2)[0] == pytest.approx(0.25)
        # zero-magnitude convention → 0.5
        assert p_srp(np.zeros((1, 2)), v2)[0] == pytest.approx(0.5)

    def test_gamma_hand_value(self):
        """Eq. 5 (SRPRModel.h:159-166)."""
        p_ui, p_uj = 0.2, 0.4
        want = (0.4 - 0.2) / math.sqrt(0.2 * 0.8 + 0.4 * 0.6)
        assert gamma_uij(np.array([p_ui]), np.array([p_uj]))[0] == pytest.approx(want)

    def test_normal_cdf_pdf(self):
        assert norm_cdf(np.array([0.0]))[0] == pytest.approx(0.5)
        assert norm_cdf(np.array([1.96]))[0] == pytest.approx(0.975, abs=1e-3)
        assert norm_pdf(np.array([0.0]))[0] == pytest.approx(1 / math.sqrt(2 * math.pi))

    def test_bpr_grads_hand_computed(self):
        """Single triplet, d=2 (MatrixFactorization.h:70-88)."""
        xu = np.array([[1.0, 2.0]])
        yi = np.array([[0.5, -1.0]])
        yj = np.array([[1.0, 1.0]])
        x_uij = (1 * 0.5 + 2 * -1) - (1 * 1 + 2 * 1)  # -1.5 - 3 = -4.5
        common = 1 - 1 / (1 + math.exp(4.5))
        gxu, gyi, gyj, ll = bpr_triplet_grads(xu, yi, yj)
        np.testing.assert_allclose(gxu[0], common * (yi[0] - yj[0]))
        np.testing.assert_allclose(gyi[0], common * xu[0])
        np.testing.assert_allclose(gyj[0], -common * xu[0])
        assert ll[0] == pytest.approx(math.log(1 / (1 + math.exp(4.5))))

    def _num_grad(self, f, v, eps=1e-6):
        g = np.zeros_like(v)
        for k in range(v.size):
            vp, vm = v.copy(), v.copy()
            vp[k] += eps
            vm[k] -= eps
            g[k] = (f(vp) - f(vm)) / (2 * eps)
        return g

    def test_srpr_grads_match_finite_differences(self):
        """The analytic Eq.5/Eq.9 chain rule (SRPRModel.h:80-123) equals the
        numerical gradient of L = ln(Φ(√b γ) + 1e-12) on random vectors."""
        rng = np.random.default_rng(3)
        b = 8

        def loss(xu, yi, yj):
            p_ui = p_srp(xu[None, :], yi[None, :])[0]
            p_uj = p_srp(xu[None, :], yj[None, :])[0]
            z = math.sqrt(b) * gamma_uij(np.array([p_ui]), np.array([p_uj]))[0]
            return math.log(norm_cdf(np.array([z]))[0] + 1e-12)

        for _ in range(5):
            xu = rng.standard_normal(4)
            yi = rng.standard_normal(4)
            yj = rng.standard_normal(4)
            gxu, gyi, gyj, ll = srpr_triplet_grads(
                xu[None, :], yi[None, :], yj[None, :], b
            )
            assert ll[0] == pytest.approx(loss(xu, yi, yj), rel=1e-6)
            np.testing.assert_allclose(
                gxu[0], self._num_grad(lambda v: loss(v, yi, yj), xu), rtol=1e-4, atol=1e-7
            )
            np.testing.assert_allclose(
                gyi[0], self._num_grad(lambda v: loss(xu, v, yj), yi), rtol=1e-4, atol=1e-7
            )
            np.testing.assert_allclose(
                gyj[0], self._num_grad(lambda v: loss(xu, yi, v), yj), rtol=1e-4, atol=1e-7
            )

    def test_srpr_grads_degenerate_rows_zero(self):
        gxu, gyi, gyj, ll = srpr_triplet_grads(
            np.zeros((1, 4)), np.ones((1, 4)), np.ones((1, 4)), 8
        )
        assert np.all(gxu == 0) and np.all(gyi == 0) and np.all(gyj == 0)
        # loglik still counted (reference `continue` after accumulating it)
        assert np.isfinite(ll[0])


@pytest.fixture(scope="module")
def planted(spark):
    """Low-rank planted preference structure → training triplets + a handle
    to score pairwise accuracy."""
    rng = np.random.default_rng(7)
    n_u, n_i, lat = 20, 30, 4
    pu = rng.standard_normal((n_u, lat))
    qi = rng.standard_normal((n_i, lat))
    s = pu @ qi.T
    rows = []
    for u in range(n_u):
        items = rng.choice(n_i, size=12, replace=False)
        for a in range(len(items)):
            for b_ in range(a + 1, len(items)):
                i, j = int(items[a]), int(items[b_])
                if s[u, i] - s[u, j] > 0.5:
                    rows.append((u, i, j))
                elif s[u, j] - s[u, i] > 0.5:
                    rows.append((u, j, i))
    trip = spark.createDataFrame(rows, ["user_id", "pos_item", "neg_item"])
    return trip, rows


def _pairwise_acc(model, rows, use_cos=False):
    tp = np.array(rows)
    ui = np.searchsorted(model.user_ids, tp[:, 0])
    ii = np.searchsorted(model.item_ids, tp[:, 1])
    ji = np.searchsorted(model.item_ids, tp[:, 2])
    if use_cos:
        def cosm(a, b):
            return np.einsum("md,md->m", a, b) / (
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            )
        x = cosm(model.U[ui], model.V[ii]) - cosm(model.U[ui], model.V[ji])
    else:
        x = np.einsum("md,md->m", model.U[ui], model.V[ii]) - np.einsum(
            "md,md->m", model.U[ui], model.V[ji]
        )
    return (x > 0).mean()


class TestTrainers:
    def test_bpr_converges(self, spark, planted):
        from srpr_lsh_spark.ml.trainer import train_bpr

        trip, rows = planted
        m = train_bpr(spark, trip, d=8, epochs=12, learning_rate=0.05, lam=0.01)
        lls = [h["avg_loglik"] for h in m.history]
        assert lls[-1] > lls[0] + 0.3  # the curve moved, a lot
        assert all(b >= a - 1e-9 for a, b in zip(lls, lls[1:]))  # monotone ascent
        assert _pairwise_acc(m, rows) >= 0.95
        assert m.history[-1]["n_triplets"] == len(rows)

    def test_bpr_deterministic(self, spark, planted):
        from srpr_lsh_spark.ml.trainer import train_bpr

        trip, _ = planted
        m1 = train_bpr(spark, trip, d=4, epochs=2, learning_rate=0.05, lam=0.01)
        m2 = train_bpr(spark, trip.repartition(5), d=4, epochs=2,
                       learning_rate=0.05, lam=0.01)
        # full-batch ascent is partition-invariant up to float summation order
        np.testing.assert_allclose(m1.U, m2.U, rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(m1.V, m2.V, rtol=1e-8, atol=1e-10)

    def test_high_degree_entity_does_not_diverge(self, spark):
        """Weight-decay regression: an entity touched by cnt > 1/(lr·λ)
        triplets per epoch must still contract, not sign-flip and diverge.
        One mega-popular neg item appears in every triplet (cnt=600 >
        1/(0.05·0.05)=400); with the naive full-batch decay factor
        (1 − lr·λ·cnt) = −0.5 its norm would double-ish per epoch."""
        from srpr_lsh_spark.ml.trainer import train_bpr

        rows = [(u, 1 + (t % 40), 0) for u in range(10) for t in range(60)]
        trip = spark.createDataFrame(rows, ["user_id", "pos_item", "neg_item"])
        m = train_bpr(spark, trip, d=4, epochs=8, learning_rate=0.05, lam=0.05)
        hot = m.item_vector(0)
        assert np.all(np.isfinite(hot)) and np.linalg.norm(hot) < 5.0
        assert np.isfinite(m.history[-1]["loglik"])

    def test_srpr_converges(self, spark, planted):
        from srpr_lsh_spark.ml.trainer import train_srpr

        trip, rows = planted
        m = train_srpr(spark, trip, d=8, b=8, epochs=12, learning_rate=0.05, lam=0.001)
        lls = [h["avg_loglik"] for h in m.history]
        assert lls[-1] > lls[0] + 0.2
        # SRPR optimizes ANGLES (Eq.9 is a function of cos θ only) — score
        # with cosine, the geometry it actually trains
        assert _pairwise_acc(m, rows, use_cos=True) >= 0.85


class TestAngleGeometrySweep:
    def test_srpr_beats_bpr_on_angle_geometry(self, spark):
        """The claim the reference repo exists to demonstrate (main.cpp:122-166):
        on preferences whose ranking signal lives in ANGLES (cosine-graded
        embedding triplets), SRPR's ranking accuracy survives b-bit SRP
        hashing better than BPR's — lower hash_degradation, and at the most
        aggressive (2 tables, 4 bits) budget, higher absolute hashed accuracy.
        On the easy orders fixture BPR can win (NOTES.md r2 soft spot); this
        is the harder geometry where the ordering must flip."""
        from srpr_lsh_spark.config import DEFAULT_CONFIG
        from srpr_lsh_spark.plans.training import embedding_hash_sweep

        rows = embedding_hash_sweep(
            spark, "/root/testdata/sf0.01", DEFAULT_CONFIG
        ).collect()
        deg = {(r["model"], r["tables"], r["bits"]): r["hash_degradation"] for r in rows}
        acc = {(r["model"], r["tables"], r["bits"]): r["acc_hashed"] for r in rows}
        for tables, bits in ((2, 4), (4, 8), (8, 8)):
            assert deg[("srpr", tables, bits)] < deg[("bpr", tables, bits)], (tables, bits)
        assert acc[("srpr", 2, 4)] > acc[("bpr", 2, 4)]


class TestServing:
    def test_recommend_payload(self, spark, planted):
        """The /api/recommend payload (app.cpp:205-272): 4 retrieval groups
        (bpr/srpr × brute/lsh), rnk 1..k in each, per-group timing, LSH
        metrics vs its model's brute ground truth, and the brute top-k
        matching a numpy cosine re-computation exactly."""
        from srpr_lsh_spark.ml.trainer import train_bpr, train_srpr
        from srpr_lsh_spark.plans.serving import recommend

        trip, _ = planted
        models = {
            "bpr": train_bpr(spark, trip, d=4, epochs=3, learning_rate=0.05, lam=0.01),
            "srpr": train_srpr(spark, trip, d=4, b=8, epochs=3,
                               learning_rate=0.05, lam=0.001),
        }
        k = 5
        user = int(models["bpr"].user_ids[0])
        rows = recommend(spark, models, user, k=k, tables=6, bits=4).collect()
        groups = {}
        for r in rows:
            groups.setdefault((r["model"], r["method"]), []).append(r)
        assert set(groups) == {("bpr", "brute"), ("bpr", "lsh"),
                               ("srpr", "brute"), ("srpr", "lsh")}
        for key, g in groups.items():
            assert [r["rnk"] for r in sorted(g, key=lambda r: r["rnk"])] == list(
                range(1, len(g) + 1)
            )
            assert len(g) <= k and g[0]["elapsed_ms"] > 0
            is_lsh = key[1] == "lsh"
            for r in g:
                assert (r["precision_at_k"] is not None) == is_lsh
                assert (r["recall_at_k"] is not None) == is_lsh
        # brute bpr top-k == numpy cosine ranking (score desc, id desc)
        m = models["bpr"]
        uv = m.user_vector(user)
        cos = (m.V @ uv) / (np.linalg.norm(m.V, axis=1) * np.linalg.norm(uv))
        order = sorted(
            zip(cos, m.item_ids), key=lambda t: (-t[0], -t[1])
        )[:k]
        want_ids = [int(i) for _c, i in order]
        got = [r["item_id"] for r in sorted(groups[("bpr", "brute")],
                                            key=lambda r: r["rnk"])]
        assert got == want_ids


class TestVectorsIO:
    def test_round_trip(self, tmp_path):
        from srpr_lsh_spark.ml.vectors_io import load_vectors, save_vectors

        rng = np.random.default_rng(1)
        u = rng.standard_normal((3, 4))
        v = rng.standard_normal((5, 4))
        p = str(tmp_path / "vecs.txt")
        save_vectors(p, u, v)
        with open(p) as f:
            assert f.readline().strip() == "3 5 4"
        got = load_vectors(p, 3, 5, 4)
        assert got is not None
        # 8-decimal text round-trip (MatrixFactorization.h:110)
        np.testing.assert_allclose(got[0], u, atol=1e-8)
        np.testing.assert_allclose(got[1], v, atol=1e-8)

    def test_dims_mismatch_triggers_recompute(self, tmp_path):
        """The reference's retrain fallback (MatrixFactorization.h:136-141):
        any header mismatch → None → caller recomputes."""
        from srpr_lsh_spark.ml.vectors_io import load_vectors, save_vectors

        p = str(tmp_path / "vecs.txt")
        save_vectors(p, np.zeros((3, 4)), np.zeros((5, 4)))
        assert load_vectors(p, 3, 5, 4) is not None
        assert load_vectors(p, 3, 5, 8) is None   # d mismatch
        assert load_vectors(p, 4, 5, 4) is None   # n_users mismatch
        assert load_vectors(str(tmp_path / "absent.txt"), 3, 5, 4) is None

    def test_corrupt_file_triggers_recompute(self, tmp_path):
        """Unreadable content (non-numeric header / malformed rows) is a
        recompute trigger too, not a crash (MatrixFactorization.h:129-141)."""
        from srpr_lsh_spark.ml.vectors_io import load_vectors

        p = tmp_path / "bad_header.txt"
        p.write_text("three 5 4\n0 0 0 0\n")
        assert load_vectors(str(p), 3, 5, 4) is None
        p2 = tmp_path / "bad_rows.txt"
        p2.write_text("1 1 4\n0.1 garbage 0.3 0.4\n0.1 0.2 0.3 0.4\n")
        assert load_vectors(str(p2), 1, 1, 4) is None
