"""q-digest: the quantile sketch for bounded INTEGER domains.

Third member of the quantile-sketch family (exact A6, GK A3, t-digest,
KLL): q-digest (Shrivastava et al., SenSys'04) keeps counts on the
dyadic tree over a fixed universe [0, 2^B), merging a node into its
parent whenever count(v) + count(sibling) + count(parent) < ⌊n/k⌋.
Properties the float sketches don't have, pinned by the gate
(queries/gates.py::qdigest_quantile_gate):

- EXACT weight conservation: compression only moves counts to
  ancestors, so total weight equals the true row count, always
  (KLL conserves only to odd-buffer rounding).
- Hard deterministic bounds: size ≤ 3k nodes, rank error ≤ log2(U)/k
  — no coins anywhere, so the sketch is trivially reproducible.
- Lossless merge rule: digests merge by adding counts nodewise and
  recompressing under the combined threshold.

The price: values must be pre-quantized to the integer universe
(here: clamped 16-bit domains like value-cents), and the quantile
estimate returns a dyadic-range UPPER bound, not an observed value.

Node ids use heap numbering (root=1, children 2i/2i+1, leaves
[U, 2U)); a shard's leaf map is bounded by min(shard_rows, U) —
at most U entries regardless of corpus size, which is what makes the
per-shard build safe at 100 TB. Pure-python dicts over bounded id
sets; Arrow-batched at the Spark boundary.
"""

from __future__ import annotations


class QDigest:
    def __init__(self, bits: int = 16, k: int = 1024):
        self.bits = bits
        self.universe = 1 << bits
        self.k = k
        self.counts: dict[int, int] = {}
        self.n = 0

    def update_batch(self, values) -> None:
        u = self.universe
        for v in values:
            iv = int(v)
            if iv < 0:
                iv = 0
            elif iv >= u:
                iv = u - 1
            leaf = u + iv
            self.counts[leaf] = self.counts.get(leaf, 0) + 1
            self.n += 1
        self.compress()

    def compress(self) -> None:
        """Bottom-up sibling-pair merge under the ⌊n/k⌋ threshold.
        Deterministic: levels descend, pairs scan in sorted id order."""
        thr = self.n // self.k
        if thr <= 0:
            return
        c = self.counts
        for level in range(self.bits, 0, -1):
            lo, hi = 1 << level, 1 << (level + 1)
            ids = sorted(i for i in c if lo <= i < hi)
            seen = set()
            for i in ids:
                left = i & ~1
                if left in seen:
                    continue
                seen.add(left)
                sib = left | 1
                parent = left >> 1
                total = c.get(left, 0) + c.get(sib, 0) + c.get(parent, 0)
                if total < thr:
                    if total > 0:
                        c[parent] = total
                    c.pop(left, None)
                    c.pop(sib, None)

    def merge(self, other: "QDigest") -> None:
        assert other.bits == self.bits
        for i, w in other.counts.items():
            self.counts[i] = self.counts.get(i, 0) + w
        self.n += other.n
        self.compress()

    def n_nodes(self) -> int:
        return len(self.counts)

    def total_weight(self) -> int:
        return sum(self.counts.values())

    def _ranges(self):
        """Nodes as (hi, lo, count), sorted ascending by hi with
        smaller ranges first — the canonical q-digest rank order."""
        out = []
        for i, w in self.counts.items():
            level = i.bit_length() - 1
            span = self.universe >> level
            lo = (i - (1 << level)) * span
            out.append((lo + span - 1, -lo, w))
        out.sort()
        return out

    def quantile(self, q: float) -> int:
        """Rank-q estimate: walk nodes in (hi, smaller-range-first)
        order, report the hi of the node where the cumulative count
        crosses q·n. Guaranteed within log2(U)/k rank error."""
        target = q * self.n
        cum = 0
        last_hi = self.universe - 1
        for hi, _neg_lo, w in self._ranges():
            cum += w
            last_hi = hi
            if cum >= target:
                return int(hi)
        return int(last_hi)

    def serialize(self):
        ids = sorted(self.counts)
        return ids, [self.counts[i] for i in ids], self.n

    @classmethod
    def deserialize(cls, ids, weights, n, bits: int = 16, k: int = 1024):
        sk = cls(bits=bits, k=k)
        sk.counts = {int(i): int(w) for i, w in zip(ids, weights)}
        sk.n = int(n)
        return sk


def qdigest_quantiles(
    df,
    group_col: str,
    value_col,
    shard_col,
    qs=(0.5, 0.9, 0.99),
    bits: int = 16,
    k: int = 1024,
):
    """Distributed two-level q-digest build over a pre-quantized
    integer Column → per-group quantile estimates (integer upper
    bounds), node count, and exact total weight. Same shard contract
    as the t-digest/KLL wrappers: data-derived shard, shard-ordered
    merge, partitioning-invariant result.
    """
    from .tdigest import two_level_quantiles

    return two_level_quantiles(df, group_col, value_col, shard_col, qs, _QDigestParts(bits, k))


class _QDigestParts:
    """The q-digest's parts for ``tdigest.two_level_quantiles``."""

    dtype = "long"
    parts = "ids array<long>, weights array<long>, n long"
    size = "n_nodes"

    def __init__(self, bits: int, k: int):
        self.bits, self.k = bits, k

    def shard(self, values) -> dict:
        sk = QDigest(bits=self.bits, k=self.k)
        sk.update_batch(values)
        return dict(zip(("ids", "weights", "n"), sk.serialize()))

    def merge(self, shards) -> QDigest:
        sk = QDigest(bits=self.bits, k=self.k)
        for ids, weights, n in zip(shards["ids"], shards["weights"], shards["n"]):
            sk.merge(QDigest.deserialize(ids, weights, n, bits=self.bits, k=self.k))
        return sk

    def summary(self, sk: QDigest, qs) -> list:
        return [sk.quantile(q) for q in qs] + [sk.n_nodes(), sk.total_weight()]
