"""KLL quantile sketch (Karnin–Lang–Liberty) with deterministic coins.

Companion to the t-digest (operators/tdigest.py): where t-digest keeps
*adaptive-width centroids* (tight tails, approximate everywhere), KLL
keeps *actual sample items* at power-of-two weights — uniform rank
guarantee ~O(1/k) across the whole range, and the estimator always
returns a value that occurred in the data. Production engines ship
both (DataSketches KLL vs t-digest); the shootout gate
(queries/gates.py::kll_tdigest_shootout_gate) pins their agreement.

Structure: levels of buffers; an item at level i carries weight 2^i.
When level i overflows its capacity k·c^(H−i) (c = 2/3), the buffer
is sorted and every other item — offset alternating via a per-sketch
compaction counter, NOT a random coin — is promoted to level i+1; the
rest are discarded. The deterministic coin trades the randomized
worst-case guarantee for bit-reproducibility (a re-run or a
repartition cannot change the sketch), which is the property the
hash-checked gates need; the measured rank error at the test SFs
stays well inside the gate tolerance.

Distributed layout is tdigest_quantiles' own build
(``tdigest.two_level_quantiles``): per (group, shard) sketches
(shards minted from the data, so the sketch is partitioning-invariant),
then a deterministic shard-ordered merge per group. Retained items
are O(k·log(n/k)) per group regardless of input size. Pure numpy; Arrow-batched at the boundary.
"""

from __future__ import annotations

import numpy as np

_C = 2.0 / 3.0


class KLL:
    def __init__(self, k: int = 200):
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.flips = 0  # deterministic compaction coin

    def _cap(self, i: int) -> int:
        """Capacity of level i given current height H (top level is
        the largest): k·c^(H−i), floored at 2."""
        h = len(self.levels) - 1
        return max(2, int(round(self.k * _C ** (h - i))))

    def _compact(self) -> None:
        i = 0
        while i < len(self.levels):
            buf = self.levels[i]
            if len(buf) <= self._cap(i):
                i += 1
                continue
            buf = np.sort(buf, kind="mergesort")
            off = self.flips % 2
            self.flips += 1
            promoted = buf[off::2]
            self.levels[i] = np.empty(0, dtype=np.float64)
            if i + 1 >= len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[i + 1] = np.concatenate([self.levels[i + 1], promoted])
            # capacities shrink for lower levels when H grows; restart
            # the scan so every level re-checks against its new cap
            i = 0

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        # feed in sorted order so the sketch is input-order-invariant
        v = np.sort(v, kind="mergesort")
        cap0 = self._cap(0)
        for start in range(0, len(v), cap0):
            self.levels[0] = np.concatenate(
                [self.levels[0], v[start:start + cap0]]
            )
            self._compact()

    def merge(self, other: "KLL") -> None:
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for i, buf in enumerate(other.levels):
            self.levels[i] = np.concatenate([self.levels[i], buf])
        self.flips += other.flips
        self._compact()

    def items_weights(self):
        items = np.concatenate(self.levels)
        weights = np.concatenate(
            [np.full(len(b), 2.0 ** i) for i, b in enumerate(self.levels)]
        )
        return items, weights

    def n_retained(self) -> int:
        return int(sum(len(b) for b in self.levels))

    def total_weight(self) -> float:
        return float(sum(len(b) * 2.0 ** i for i, b in enumerate(self.levels)))

    def quantile(self, q: float) -> float:
        items, weights = self.items_weights()
        if len(items) == 0:
            return float("nan")
        order = np.argsort(items, kind="mergesort")
        items, weights = items[order], weights[order]
        cum = np.cumsum(weights)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(items[min(i, len(items) - 1)])

    def serialize(self):
        """Flatten to parallel (item, level) arrays for Arrow transfer."""
        items = np.concatenate(self.levels)
        levels = np.concatenate(
            [np.full(len(b), i, dtype=np.int32) for i, b in enumerate(self.levels)]
        )
        return items.tolist(), levels.tolist(), self.flips

    @classmethod
    def deserialize(cls, items, levels, flips, k: int = 200) -> "KLL":
        sk = cls(k=k)
        items = np.asarray(items, dtype=np.float64)
        levels_arr = np.asarray(levels, dtype=np.int32)
        h = int(levels_arr.max()) if len(levels_arr) else 0
        sk.levels = [
            np.sort(items[levels_arr == i], kind="mergesort")
            for i in range(h + 1)
        ]
        sk.flips = int(flips)
        return sk


def kll_quantiles(
    df,
    group_col: str,
    value_col: str,
    shard_col,
    qs=(0.5, 0.9, 0.99),
    k: int = 200,
):
    """Distributed two-level KLL build → per-group quantile estimates.
    Same contract as tdigest_quantiles: ``shard_col`` is a
    deterministic data-derived integer Column, shard digests merge in
    shard order, output one row per group with the estimates plus the
    sketch's retained-item count and total weight.
    """
    from pyspark.sql import functions as F

    from .tdigest import two_level_quantiles

    return two_level_quantiles(df, group_col, F.col(value_col), shard_col, qs, _KLLParts(k))


class _KLLParts:
    """KLL's parts for ``tdigest.two_level_quantiles``."""

    dtype = "double"
    parts = "items array<double>, levels array<int>, flips long"
    size = "n_retained"

    def __init__(self, k: int):
        self.k = k

    def shard(self, values: np.ndarray) -> dict:
        sk = KLL(k=self.k)
        sk.update_batch(values)
        return dict(zip(("items", "levels", "flips"), sk.serialize()))

    def merge(self, shards) -> KLL:
        sk = KLL(k=self.k)
        for items, levels, flips in zip(shards["items"], shards["levels"], shards["flips"]):
            sk.merge(KLL.deserialize(items, levels, flips, k=self.k))
        return sk

    def summary(self, sk: KLL, qs) -> list:
        return [sk.quantile(q) for q in qs] + [sk.n_retained(), sk.total_weight()]
