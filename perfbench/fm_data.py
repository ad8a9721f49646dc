"""MovieLens-shaped sparse rating data with labels planted by a seeded FM,
and a NumPy evaluation of the FM formula for checking predictions.

Feature layout of one rating (a 330,629-dim sparse vector, 2-3 active
entries): the user's one-hot slot in [0, 671), the item's one-hot slot
in [671, 671 + 9,066), and for about half the ratings one of 4 one-hot
context slots at the top of the space.  Item popularity
is Zipf-distributed.  Labels lie in [0, 1]: a planted FM (global bias,
user, item and context biases, rank-4 user-item interaction) plus
Gaussian noise, clipped.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

N_USERS = 671
N_ITEMS = 9066
DIM = 330_629
N_CTX = 4
CTX_EFFECT = 0.2
CTX_BASE = DIM - N_CTX
ZIPF_A = 1.0
PLANT_RANK = 4


@dataclass
class Planted:
    """The seeded generator: planted FM parameters and item popularity."""

    rng: np.random.Generator
    w0: float
    b_user: np.ndarray
    b_item: np.ndarray
    p_user: np.ndarray
    q_item: np.ndarray
    b_ctx: np.ndarray
    item_p: np.ndarray

    @classmethod
    def from_seed(cls, seed: int) -> "Planted":
        rng = np.random.default_rng(seed)
        popularity = 1.0 / np.arange(1, N_ITEMS + 1) ** ZIPF_A
        item_p = np.empty(N_ITEMS)
        item_p[rng.permutation(N_ITEMS)] = popularity / popularity.sum()
        return cls(rng=rng, w0=0.55,
                   b_user=rng.normal(0.0, 0.08, N_USERS),
                   b_item=rng.normal(0.0, 0.15, N_ITEMS),
                   p_user=rng.normal(0.0, 0.25, (N_USERS, PLANT_RANK)),
                   q_item=rng.normal(0.0, 0.25, (N_ITEMS, PLANT_RANK)),
                   b_ctx=CTX_EFFECT * rng.permutation(
                       np.resize([1.0, -1.0], N_CTX)),
                   item_p=item_p)

    def items(self, n: int, replace: bool = True) -> np.ndarray:
        return self.rng.choice(N_ITEMS, n, replace=replace, p=self.item_p)

    def label(self, users, items, ctx, ctx_val) -> np.ndarray:
        ctx_term = np.where(ctx >= 0, self.b_ctx[np.maximum(ctx, CTX_BASE)
                                                 - CTX_BASE] * ctx_val, 0.0)
        y = (self.w0 + self.b_user[users] + self.b_item[items] + ctx_term
             + np.einsum("ij,ij->i", self.p_user[users], self.q_item[items])
             + self.rng.normal(0.0, 0.08, len(users)))
        return np.clip(y, 0.0, 1.0)

    def contexts(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """(feature id or -1, value) per row; about half the rows get one."""
        has = self.rng.random(n) < 0.5
        ids = self.rng.integers(CTX_BASE, DIM, n)
        return np.where(has, ids, -1), np.ones(n)

    def ratings(self, n: int) -> dict[str, np.ndarray]:
        users = self.rng.integers(0, N_USERS, n)
        items = self.items(n)
        ctx, ctx_val = self.contexts(n)
        return {"user": users, "item": items, "ctx": ctx, "ctx_val": ctx_val,
                "label": self.label(users, items, ctx, ctx_val)}


def feature_lists(user: int, item: int, ctx: int, ctx_val: float):
    """Sorted (indices, values) of one rating's sparse feature vector."""
    idx = [int(user), N_USERS + int(item)]
    val = [1.0, 1.0]
    if ctx >= 0:
        idx.append(int(ctx))
        val.append(float(ctx_val))
    return idx, val


def to_rows(r: dict[str, np.ndarray]) -> list[tuple]:
    """(label, SparseVector) rows for spark.createDataFrame."""
    from pyspark.ml.linalg import SparseVector

    rows = []
    for u, i, c, cv, y in zip(r["user"], r["item"], r["ctx"], r["ctx_val"],
                              r["label"]):
        idx, val = feature_lists(u, i, c, cv)
        rows.append((float(y), SparseVector(DIM, idx, val)))
    return rows


def rating_schema():
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType([StructField("label", DoubleType(), False),
                       StructField("features", VectorUDT(), False)])


def fm_predict(w0: float, strength: dict, factors: dict, idx, val,
               lo: float | None, hi: float | None) -> float:
    """The FM formula over the features present in both parameter
    tables (unlearned features contribute nothing), clamped."""
    lin, vx, v2x2 = 0.0, None, 0.0
    for i, x in zip(idx, val):
        if i not in strength or i not in factors:
            continue
        v = np.asarray(factors[i], dtype=float)
        lin += strength[i] * x
        vx = v * x if vx is None else vx + v * x
        v2x2 += float(np.sum(v * v)) * x * x
    pred = w0 + lin
    if vx is not None:
        pred += 0.5 * (float(np.sum(vx * vx)) - v2x2)
    if lo is not None:
        pred = max(pred, lo)
    if hi is not None:
        pred = min(pred, hi)
    return pred
