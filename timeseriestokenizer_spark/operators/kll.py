"""Mergeable KLL quantile-sketch tiers — rank-error-bounded percentiles
that CASCADE by sketch merge.

The fixed-bin histogram tier (rollup.histogram_rollup_tier) bounds
percentile error by BIN WIDTH, which degrades on heavy tails unless the
value range is known a priori (the repo's quantile-accuracy study measured
46.7x value-per-rank spacing at p95 — BENCH/BASELINE.md). The KLL sketch
(Karnin, Lang, Liberty, FOCS 2016) bounds error by RANK instead:
~O(1/k) rank error regardless of the value distribution, with
O(k log(n/k)) items of state per bucket. Like the HLL distinct tier, the
sketch state is built once at the finest tier and every coarser tier —
and every incremental day refresh — is a cheap merge of compact state,
never a re-scan of raw values.

Reference parity note: the reference engine has no quantile sketch at all
(its quantile path is a full sort in numpy — utils/discretisize.py); this
module is graft-new scale machinery, cited against the published KLL
algorithm, not reference code.

Design choices for ENGINE-GRADE determinism (classic KLL flips a random
coin per compaction; an engine whose tiers change between identical runs
is untestable):

- Every level is kept SORTED at all times (canonical state), and the
  merge step sorts its partial sketches by a canonical key before
  folding — so the nondeterministic arrival order of shuffle partials
  cannot leak into the state: identical runs give identical tiers even
  in the compacted regime.
- The compaction offset bit alternates via a carried ``coins`` counter
  (bit = coins & 1) instead of an RNG. Deterministic, and still cycles
  even/odd picks so systematic bias cancels across compactions — the
  variance argument of the paper survives with any balanced bit sequence.
- EXACT SMALL REGIME: while a bucket holds <= k values the sketch is just
  the sorted values at weight 1 and every query is EXACT — and merges of
  exact sketches stay exact until capacity forces a compaction. The
  contract row lives in this regime (same proof shape as distinct_rollup:
  exact where the oracle can check equality, pytest-bounded beyond it).

Spark shapes (mirrors the map-side-combine the JVM does for sums):

  raw --mapInPandas--> PARTIAL sketches per (bucket, arrow-batch)
      --groupBy(bucket) + collect_list + mapInPandas--> tier state
  tier --groupBy(coarser bucket) + collect_list + mapInPandas--> coarser

No collect_list over raw VALUES ever crosses a shuffle wider than one
Arrow batch: the partial-build step bounds memory at batch size, and the
merge steps move only sketches (<= ~k doubles each). The read-time
percentile (kll_percentile) is PURE CATALYST: posexplode the levels,
weight = 2^level, cumulative-weight window, min value at the target rank
— no Python in the query path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
import pyspark.sql.types as T

from .rollup import bucket_ts

DEFAULT_K = 512


class KllSketch:
    """Deterministic KLL sketch over float64 items.

    ``levels[i]`` is a sorted float64 array whose items each represent
    2**i original values; ``n`` is the exact total count; ``coins`` the
    compaction counter driving the alternating offset bit."""

    __slots__ = ("k", "n", "coins", "levels")

    def __init__(self, k: int = DEFAULT_K):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = int(k)
        self.n = 0
        self.coins = 0
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]

    # -- capacities: top level gets k, each lower level 2/3 of the one
    #    above (floored at 2) — the standard KLL geometric schedule
    def _capacity(self, level: int) -> int:
        depth = len(self.levels) - 1 - level
        cap = self.k
        for _ in range(depth):
            cap = max(2, int(np.ceil(cap * 2.0 / 3.0)))
        return cap

    def _compact_as_needed(self) -> None:
        lvl = 0
        while lvl < len(self.levels):
            items = self.levels[lvl]
            if len(items) <= self._capacity(lvl):
                lvl += 1
                continue
            if lvl + 1 == len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
                # growing the hierarchy changes every capacity; re-check
                # from this level with the new schedule before compacting
                continue
            # compact an EVEN number of items so total weight is conserved
            # (promoting ceil of an odd count would mint weight): an odd
            # level retains its smallest item at the current weight
            if len(items) & 1:
                retain, compactable = items[:1], items[1:]
            else:
                retain, compactable = items[:0], items
            offset = self.coins & 1
            self.coins += 1
            promoted = compactable[offset::2]
            self.levels[lvl + 1] = np.sort(
                np.concatenate([self.levels[lvl + 1], promoted])
            )
            self.levels[lvl] = retain
            lvl += 1

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.n += len(v)
        self.levels[0] = np.sort(np.concatenate([self.levels[0], v]))
        self._compact_as_needed()

    def merge(self, other: "KllSketch") -> "KllSketch":
        if other.k != self.k:
            raise ValueError("cannot merge sketches with different k")
        self.n += other.n
        self.coins += other.coins
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for i, items in enumerate(other.levels):
            if len(items):
                self.levels[i] = np.sort(np.concatenate([self.levels[i], items]))
        self._compact_as_needed()
        return self

    def quantile(self, p: float) -> float:
        """Smallest item whose cumulative weight reaches p * n (the same
        `cum >= rank, take min` convention as histogram_percentile and the
        DuckDB oracles). Exact while no compaction has occurred."""
        if self.n == 0:
            return float("nan")
        items = np.concatenate(
            [lv for lv in self.levels if len(lv)] or [np.empty(0)]
        )
        weights = np.concatenate(
            [
                np.full(len(lv), 1 << i, dtype=np.int64)
                for i, lv in enumerate(self.levels)
                if len(lv)
            ]
            or [np.empty(0, dtype=np.int64)]
        )
        order = np.argsort(items, kind="stable")
        items, weights = items[order], weights[order]
        cum = np.cumsum(weights)
        rank = p * self.n
        idx = int(np.searchsorted(cum, rank, side="left"))
        if idx >= len(items):
            idx = len(items) - 1
        return float(items[idx])

    def rank_of(self, value: float) -> float:
        """Estimated normalized rank of ``value`` (weight at or below)."""
        if self.n == 0:
            return float("nan")
        total = 0
        for i, lv in enumerate(self.levels):
            if len(lv):
                total += int(np.searchsorted(lv, value, side="right")) * (1 << i)
        return total / self.n

    # -- columnar (de)serialization for the Spark state rows ----------
    def to_row(self) -> tuple[int, int, list[list[float]]]:
        return self.n, self.coins, [lv.tolist() for lv in self.levels]

    @classmethod
    def from_row(cls, k: int, n: int, coins: int, levels) -> "KllSketch":
        sk = cls(k)
        sk.n = int(n)
        sk.coins = int(coins)
        sk.levels = [np.asarray(lv, dtype=np.float64) for lv in levels]
        if not sk.levels:
            sk.levels = [np.empty(0, dtype=np.float64)]
        return sk


_KLL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket_ts", T.TimestampType()),
        T.StructField("n", T.LongType()),
        T.StructField("coins", T.LongType()),
        T.StructField("levels", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


def kll_rollup_tier(
    signals: DataFrame,
    tier: str,
    val_col: str = "latency_s",
    k: int = DEFAULT_K,
) -> DataFrame:
    """Finest KLL tier: (bucket_ts, n, coins, levels).

    Two-phase map-side-combine build — phase 1 (mapInPandas over the raw
    stream) folds each Arrow batch into one PARTIAL sketch per bucket it
    saw, so no task ever holds more than a batch of raw values; phase 2
    merges the partials per bucket. The shuffle moves sketches, not
    values: at 100 TB a hot minute with 10^8 points crosses the wire as
    (#map-tasks) kilobyte rows instead of 10^8 doubles."""
    kk = int(k)

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_b, out_n, out_c, out_l = [], [], [], []
            for b, grp in pdf.groupby("bucket_ts", sort=True):
                sk = KllSketch(kk)
                sk.update_batch(grp["v"].to_numpy(dtype=np.float64))
                if sk.n == 0:
                    continue
                n, coins, levels = sk.to_row()
                out_b.append(b); out_n.append(n)
                out_c.append(coins); out_l.append(levels)
            yield pd.DataFrame(
                {"bucket_ts": out_b, "n": out_n, "coins": out_c, "levels": out_l}
            )

    partials = (
        signals.filter(F.col(val_col).isNotNull())
        .select(
            bucket_ts(tier).alias("bucket_ts"),
            F.col(val_col).cast("double").alias("v"),
        )
        .mapInPandas(_partials, _KLL_STATE_SCHEMA)
    )
    return kll_merge(partials, kk)


def kll_merge(state: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Merge sketch rows per bucket_ts: groupBy -> collect_list(sketch) ->
    batched merge (the cascade, refresh and stream path alike). Arrival
    order of the collected sketches is shuffle-nondeterministic, and once
    compaction engages a KLL merge IS order-dependent (which items
    survive depends on the compaction sequence) — so the partials are
    first sorted by a canonical key, making the output state a pure
    function of the MULTISET of inputs: identical runs produce identical
    tier state, compacted regime included (pytest-pinned)."""

    def _canon(part):
        return (part["n"], part["coins"], tuple(map(tuple, part["levels"])))

    def _merge(batches):
        for pdf in batches:
            out_b, out_n, out_c, out_l = [], [], [], []
            for b, parts in zip(pdf["bucket_ts"], pdf["parts"]):
                acc = KllSketch(k)
                for part in sorted(parts, key=_canon):
                    acc.merge(
                        KllSketch.from_row(
                            k, part["n"], part["coins"], part["levels"]
                        )
                    )
                n, coins, levels = acc.to_row()
                out_b.append(b); out_n.append(n)
                out_c.append(coins); out_l.append(levels)
            yield pd.DataFrame(
                {"bucket_ts": out_b, "n": out_n, "coins": out_c, "levels": out_l}
            )

    return (
        state.groupBy("bucket_ts")
        .agg(F.collect_list(F.struct("n", "coins", "levels")).alias("parts"))
        .mapInPandas(_merge, _KLL_STATE_SCHEMA)
    )


def kll_percentile(kll_df: DataFrame, p: float) -> DataFrame:
    """Read-time percentile from KLL state — PURE CATALYST (no Python):
    explode (level, items) to weighted points, cumulative-weight window
    per bucket, smallest value whose cumulative weight reaches p * n (the
    histogram_percentile / oracle convention). Exact when the state never
    compacted; rank error ~O(1/k) otherwise."""
    from pyspark.sql import Window as W

    pts = (
        kll_df.select(
            "bucket_ts", "n", F.posexplode("levels").alias("lvl", "items")
        )
        .filter(F.size("items") > 0)
        .select(
            "bucket_ts",
            "n",
            F.expr("shiftleft(1L, lvl)").alias("w"),
            F.explode("items").alias("v"),
        )
    )
    w = W.partitionBy("bucket_ts").orderBy("v")
    ranked = (
        pts.withColumn("cum", F.sum("w").over(w))
        .withColumn("rank", F.lit(float(p)) * F.col("n"))
        .filter(F.col("cum") >= F.col("rank"))
    )
    return ranked.groupBy("bucket_ts").agg(
        F.min("v").alias(f"p{int(p * 100)}_est"),
        F.max("n").alias("n"),
    )
