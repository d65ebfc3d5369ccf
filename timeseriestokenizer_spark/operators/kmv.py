"""KMV distinct-set sketches — the set-OPERATION sketch the HLL tier can't
provide, kept as Spark's native DataSketches theta sketches (the KMV /
bottom-k sketch generalised: Bar-Yossef et al., RANDOM 2002; Dasgupta et
al., "A Framework for Estimating Stream Expression Cardinalities",
ICDT 2016).

HLL estimates |A| and |A ∪ B| but not |A ∩ B| (inclusion-exclusion on two
noisy estimates explodes for small overlaps). A theta sketch keeps the
smallest key hashes below a threshold, so it supports all three: the
union and the intersection of two sketches are sketches again
(``theta_union`` / ``theta_intersection``), and a per-bucket sketch merges
to coarser buckets with ``theta_union_agg``.

Every sketch here has ``LG_NOM_ENTRIES`` = 7, i.e. 128 nominal entries
(relative standard error ~1/sqrt(128) = 8.8%). Build and merge use the
same size on purpose: a merge at that size is byte-identical to a direct
build over the same keys, whatever the input partitioning — the tier
store's incremental == from-scratch invariant (pytest-pinned). Exact
regime: a sketch of at most 128 distinct keys holds all of them, so its
estimate, and the estimates of unions and intersections of such sketches,
are exact distinct counts (how the contract rows are proven against
DuckDB ``count(DISTINCT ...)``).

The build is one aggregate per bucket (partial sketches map-side, only
sketch bytes shuffle); pairwise overlap and bucket-over-bucket retention
work on the stored sketches alone, never on raw keys. PURE Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# log2 of the nominal entries of every sketch: 128 (RSE ~8.8%, exact
# through 128 distinct keys). Not 64: there the day-over-day
# intersections of the sf0.01 test data (~130 of the same 150 users a day)
# reach 53% relative error, outside test_kmv's 50% retention band; at 128
# the worst is 6%.
LG_NOM_ENTRIES = 7


def kmv_build(
    df: DataFrame,
    key_col: str,
    bucket_cols: list[str] | None = None,
) -> DataFrame:
    """(bucket..., sketch): one theta sketch of ``key_col`` per bucket (a
    single row without buckets). NULL keys are not counted."""
    b = list(bucket_cols or [])
    return df.groupBy(*b).agg(
        F.theta_sketch_agg(key_col, LG_NOM_ENTRIES).alias("sketch")
    )


def kmv_merge(cells: DataFrame, bucket_cols: list[str] | None = None) -> DataFrame:
    """Merge sketches to a coarser bucketing (order-insensitive, equal to
    a direct build over the union of the keys)."""
    b = list(bucket_cols or [])
    return cells.groupBy(*b).agg(
        F.theta_union_agg("sketch", LG_NOM_ENTRIES).alias("sketch")
    )


def kmv_estimate(cells: DataFrame, bucket_cols: list[str] | None = None) -> DataFrame:
    """(bucket..., est): the distinct-count estimate (bigint) of each
    sketch — exact in the small regime."""
    b = list(bucket_cols or [])
    return cells.select(*b, F.theta_sketch_estimate("sketch").alias("est"))


def _set_estimates(a: str, b: str) -> list:
    """union_est / inter_est (bigint) and jaccard_est = inter / union for
    two sketch columns."""
    union = F.theta_sketch_estimate(F.theta_union(a, b, LG_NOM_ENTRIES))
    inter = F.theta_sketch_estimate(F.theta_intersection(a, b))
    return [
        union.alias("union_est"),
        inter.alias("inter_est"),
        (inter.cast("double") / union.cast("double")).alias("jaccard_est"),
    ]


def kmv_overlap_pairs(df: DataFrame, key_col: str, seg_col: str) -> DataFrame:
    """Pairwise segment overlap from sketches alone: for every unordered
    segment pair (seg_a < seg_b), union / intersection / Jaccard
    estimates of the two key sets. Segments are dimension-sized (event
    types, sources, days); only one sketch per segment crosses the pair
    list."""
    sk = kmv_build(df, key_col, [seg_col])
    a = sk.select(F.col(seg_col).alias("seg_a"), F.col("sketch").alias("a"))
    b = sk.select(F.col(seg_col).alias("seg_b"), F.col("sketch").alias("b"))
    return (
        a.crossJoin(b)
        .filter(F.col("seg_a") < F.col("seg_b"))
        .select("seg_a", "seg_b", *_set_estimates("a", "b"))
    )


def kmv_rollup_tier(signals: DataFrame, tier: str, key: str = "conv_id") -> DataFrame:
    """Finest KMV tier over the rollup bucketing: (bucket_ts, sketch) —
    the tier that answers bucket-over-bucket OVERLAP questions
    (returning-series retention, audience intersection) which the
    hll_{tier} cardinality state cannot."""
    from .rollup import bucket_ts

    return kmv_build(
        signals.select(bucket_ts(tier).alias("bucket_ts"), key), key, ["bucket_ts"]
    )


def kmv_retention_series(cells: DataFrame, step: str = "INTERVAL 1 DAY") -> DataFrame:
    """Bucket-over-bucket returning-key estimates from KMV TIER STATE
    alone (no raw re-scan — the drift_series doctrine applied to set
    overlap): for each bucket pair (b, b+step) present in ``cells``
    (bucket_ts, sketch), union / intersection / Jaccard estimates of the
    two key sets, keyed by the EARLIER bucket. Pairs where either bucket
    is absent are omitted (no fake zeros)."""
    a = cells.select("bucket_ts", F.col("sketch").alias("a"))
    b = cells.select(
        (F.col("bucket_ts") - F.expr(step)).alias("bucket_ts"),
        F.col("sketch").alias("b"),
    )
    return a.join(b, "bucket_ts").select("bucket_ts", *_set_estimates("a", "b"))
