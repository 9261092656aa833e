"""Distributed BPR / SRPR training over a triplet DataFrame.

Re-expresses the reference's sequential in-memory SGD loops
(``src/MatrixFactorization.h:58-98``, ``src/SRPRModel.h:60-133``) in Spark's
execution model as **synchronous full-batch gradient ascent**:

- the (small) factor matrices are broadcast to executors each epoch;
- one ``mapInPandas`` pass over the triplets computes every per-triplet
  gradient with the vectorized kernels (``kernels/srpr_math.py``) and
  pre-combines them per (entity, partition) in numpy;
- per-entity gradient sums and the epoch log-likelihood reduce JVM-side
  (``groupBy().sum()`` per dimension — map-side combinable, no skew risk
  because the partials are already per-partition-unique);
- the driver applies ``θ ← θ·(1−lr·λ)^touches + lr · Σgrad`` — the compounded
  full-batch equivalent of the reference's per-triplet ``θ += lr(grad − λθ)``
  (always contractive, unlike the naive ``1 − lr·λ·touches`` factor which
  flips sign for entities touched by more than ``1/(lr·λ)`` triplets).

Why not a literal sequential SGD: order-dependent updates can't parallelize
without either giving up determinism (hogwild) or serializing on the driver.
Full-batch ascent keeps the EXACT same gradient field and regularizer, is
deterministic and partition-invariant (up to float summation order), and at
cluster scale the per-epoch cost is one shuffle of (entities × d) partial
sums — no parameter server needed below ~10⁷ entities × d ≤ 64.

Epoch log-likelihood (``SRPRModel.h:80,133``) is accumulated in the same pass
and reported per epoch in the returned history.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from srpr_lsh_spark.kernels.srpr_math import bpr_triplet_grads, srpr_triplet_grads

_K_USER, _K_ITEM, _K_LOSS = 0, 1, 2


@dataclass
class FactorModel:
    """Trained factors + id dictionaries (dense row ↔ original id)."""

    user_ids: np.ndarray  # sorted original user ids; row k of U is user_ids[k]
    item_ids: np.ndarray
    U: np.ndarray  # (n_users, d) float64
    V: np.ndarray  # (n_items, d) float64
    history: "list[dict]"  # per-epoch {epoch, loglik, avg_loglik, n_triplets}

    @property
    def d(self) -> int:
        return self.U.shape[1]

    def user_vector(self, user_id) -> np.ndarray:
        return self.U[int(np.searchsorted(self.user_ids, user_id))]

    def item_vector(self, item_id) -> np.ndarray:
        return self.V[int(np.searchsorted(self.item_ids, item_id))]

    def item_factors_df(self, spark) -> DataFrame:
        """Item factors as (item_id, embedding) — the frame the ANN/LSH
        operators index (the reference hashes exactly these vectors)."""
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        rows = [
            (int(i), [float(x) for x in v])
            for i, v in zip(self.item_ids, self.V.astype(np.float32))
        ]
        schema = StructType(
            [
                StructField("item_id", LongType(), False),
                StructField("embedding", ArrayType(FloatType(), False), False),
            ]
        )
        return spark.createDataFrame(rows, schema)


def init_factors(n: int, d: int, seed: int, offset: int = 0) -> np.ndarray:
    """Seeded N(0, 0.1) init — the reference's ``mt19937(42)`` +
    ``normal_distribution(0, 0.1)`` discipline (MatrixFactorization.h:44-52);
    numpy's generator replaces the C++ engine, same distribution + fixed seed.
    ``offset`` decorrelates the user and item draws."""
    return np.random.default_rng(seed + offset).normal(0.0, 0.1, size=(n, d))


def _dense_index(triplets: DataFrame) -> "tuple[np.ndarray, np.ndarray]":
    """Sorted distinct user/item id arrays (collected — the factor tables
    live on the driver by design; see module docstring for the scale bound)."""
    users = (
        triplets.select(F.col("user_id").cast("long").alias("id"))
        .distinct()
        .toPandas()["id"]
        .to_numpy()
    )
    items = (
        triplets.select(F.col("pos_item").cast("long").alias("id"))
        .unionByName(triplets.select(F.col("neg_item").cast("long").alias("id")))
        .distinct()
        .toPandas()["id"]
        .to_numpy()
    )
    return np.sort(users), np.sort(items)


def _combine_partials(u, i, j, gxu, gyi, gyj, ll) -> "pd.DataFrame":
    """Per-partition gradient combine: unique entities only leave the worker;
    the epoch log-likelihood partial rides along as a sentinel row
    (zero-padded to d: ANSI mode rejects short-array indexing in the
    per-dimension sum aggregation)."""
    out_kind, out_idx, out_cnt, out_g = [], [], [], []
    uq, uinv = np.unique(u, return_inverse=True)
    gu = np.zeros((uq.size, gxu.shape[1]))
    np.add.at(gu, uinv, gxu)
    out_kind.append(np.full(uq.size, _K_USER, dtype=np.int32))
    out_idx.append(uq)
    out_cnt.append(np.bincount(uinv))
    out_g.extend(list(gu))
    iq, iinv = np.unique(np.concatenate([i, j]), return_inverse=True)
    gi = np.zeros((iq.size, gyi.shape[1]))
    np.add.at(gi, iinv, np.concatenate([gyi, gyj]))
    out_kind.append(np.full(iq.size, _K_ITEM, dtype=np.int32))
    out_idx.append(iq)
    out_cnt.append(np.bincount(iinv))
    out_g.extend(list(gi))
    out_kind.append(np.array([_K_LOSS], dtype=np.int32))
    out_idx.append(np.array([0]))
    out_cnt.append(np.array([len(u)]))
    loss_row = np.zeros(gxu.shape[1])
    loss_row[0] = float(ll.sum())
    out_g.append(loss_row)
    return pd.DataFrame(
        {
            "kind": np.concatenate(out_kind),
            "idx": np.concatenate(out_idx).astype(np.int64),
            "cnt": np.concatenate(out_cnt).astype(np.int64),
            "g": out_g,
        }
    )


def _epoch(spark, mapped: DataFrame, U, V, kernel, d: int, lr: float, lam: float):
    """One synchronous epoch: broadcast → gradient pass → JVM reduce → apply.
    Returns (new_U, new_V, loglik_sum, n_triplets)."""
    sc = spark.sparkContext
    bu, bv = sc.broadcast(U), sc.broadcast(V)

    schema = StructType(
        [
            StructField("kind", IntegerType(), False),
            StructField("idx", LongType(), False),
            StructField("cnt", LongType(), False),
            StructField("g", ArrayType(DoubleType(), False), False),
        ]
    )

    def gen(batches):
        Ub, Vb = bu.value, bv.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = pdf["u_idx"].to_numpy()
            i = pdf["i_idx"].to_numpy()
            j = pdf["j_idx"].to_numpy()
            gxu, gyi, gyj, ll = kernel(Ub[u], Vb[i], Vb[j])
            yield _combine_partials(u, i, j, gxu, gyi, gyj, ll)

    partials = mapped.mapInPandas(gen, schema=schema)
    sums = (
        partials.groupBy("kind", "idx")
        .agg(
            F.sum("cnt").alias("cnt"),
            *[F.sum(F.col("g")[k]).alias(f"g{k}") for k in range(d)],
        )
        .toPandas()
    )
    bu.unpersist()
    bv.unpersist()

    gcols = [f"g{k}" for k in range(d)]
    loss_rows = sums[sums["kind"] == _K_LOSS]
    loglik = float(loss_rows["g0"].sum())
    n_triplets = int(loss_rows["cnt"].sum())

    U2, V2 = U.copy(), V.copy()
    for kind, block in ((_K_USER, U2), (_K_ITEM, V2)):
        part = sums[sums["kind"] == kind]
        idx = part["idx"].to_numpy()
        grads = part[gcols].to_numpy(dtype=np.float64)
        cnt = part["cnt"].to_numpy(dtype=np.float64)[:, None]
        # compounded per-triplet decay: the reference applies θ←θ(1−lrλ)+lr·g
        # once per touching triplet, so cnt touches contract by (1−lrλ)^cnt.
        # The naive full-batch form θ += lr(Σg − λ·cnt·θ) has factor
        # (1 − lr·λ·cnt), which goes NEGATIVE (and diverges) for entities with
        # cnt > 1/(lr·λ) — e.g. ~5000 touches at BPR defaults — exactly the
        # popular-item skew a large corpus produces.
        block[idx] = block[idx] * (1.0 - lr * lam) ** cnt + lr * grads
    return U2, V2, loglik, n_triplets


def _train(
    spark,
    triplets: DataFrame,
    kernel,
    d: int,
    epochs: int,
    learning_rate: float,
    lam: float,
    seed: int,
) -> FactorModel:
    user_ids, item_ids = _dense_index(triplets)
    U = init_factors(len(user_ids), d, seed)
    V = init_factors(len(item_ids), d, seed, offset=1)

    # map original ids → dense rows once, JVM-side, and materialize so the
    # per-epoch passes rescan a narrow cached frame instead of the source plan
    bu_ids = spark.sparkContext.broadcast(user_ids)
    bi_ids = spark.sparkContext.broadcast(item_ids)

    idx_schema = StructType(
        [
            StructField("u_idx", LongType(), False),
            StructField("i_idx", LongType(), False),
            StructField("j_idx", LongType(), False),
        ]
    )

    def to_idx(batches):
        uu, ii = bu_ids.value, bi_ids.value
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "u_idx": np.searchsorted(uu, pdf["user_id"].to_numpy()),
                    "i_idx": np.searchsorted(ii, pdf["pos_item"].to_numpy()),
                    "j_idx": np.searchsorted(ii, pdf["neg_item"].to_numpy()),
                }
            )

    mapped = (
        triplets.select(
            F.col("user_id").cast("long"),
            F.col("pos_item").cast("long"),
            F.col("neg_item").cast("long"),
        )
        .mapInPandas(to_idx, schema=idx_schema)
        .localCheckpoint(eager=True)
    )

    history = []
    for epoch in range(1, epochs + 1):
        U, V, loglik, n = _epoch(spark, mapped, U, V, kernel, d, learning_rate, lam)
        history.append(
            {
                "epoch": epoch,
                "loglik": loglik,
                "avg_loglik": loglik / max(n, 1),
                "n_triplets": n,
            }
        )
    return FactorModel(user_ids=user_ids, item_ids=item_ids, U=U, V=V, history=history)


def train_bpr(
    spark,
    triplets: DataFrame,
    d: int = 32,
    epochs: int = 20,
    learning_rate: float = 0.02,
    lam: float = 0.01,
    seed: int = 42,
) -> FactorModel:
    """BPR matrix factorization (MatrixFactorization.h:58-98; defaults from
    main.cpp:87). ``triplets``: (user_id, pos_item, neg_item)."""
    return _train(spark, triplets, bpr_triplet_grads, d, epochs, learning_rate, lam, seed)


def train_srpr(
    spark,
    triplets: DataFrame,
    d: int = 32,
    b: int = 8,
    epochs: int = 8,
    learning_rate: float = 0.03,
    lam: float = 0.001,
    seed: int = 42,
) -> FactorModel:
    """SRPR model (SRPRModel.h:60-133; defaults from main.cpp:98) — optimizes
    ln Φ(√b γ) so the learned vectors survive b-bit SRP hashing (the paper's
    core claim, pinned by tests/test_ml.py::test_srpr_beats_bpr_after_hashing)."""
    kernel = lambda xu, yi, yj: srpr_triplet_grads(xu, yi, yj, b)
    return _train(spark, triplets, kernel, d, epochs, learning_rate, lam, seed)


def epoch_history_df(spark, model: FactorModel) -> DataFrame:
    """Per-epoch training curve as a DataFrame (epoch, loglik, avg_loglik,
    n_triplets) — the reference's per-epoch console line (SRPRModel.h:126-131)
    as a queryable table."""
    return spark.createDataFrame(
        pd.DataFrame(model.history),
        "epoch int, loglik double, avg_loglik double, n_triplets long",
    )
