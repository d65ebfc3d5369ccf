"""Tiered continuous aggregates (1m/5m/1h/1d retention tiers).

The engine's rollup keeps *reaggregatable* state per bucket — counts and sums
rather than averages — so every coarser tier derives **exactly** from the
finer one without touching raw data (a cascade, like continuous aggregates in
a time-series store). Averages are exposed as sum/count at read time.

At 100TB scale this matters: the 1m rollup is the only pass over raw data;
5m/1h/1d are cheap shuffles over already-tiny tiers, and each tier's groupBy
keys are (conv_id, bucket_ts) which Spark partial-aggregates map-side before
the shuffle. Skewed hot conversations go through operators/salting.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIERS = {"1m": "minute", "5m": None, "1h": "hour", "1d": "day"}
TIER_SECONDS = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}

def _state_aggs():
    """Reaggregatable state kept per (conv_id, bucket) — built lazily (column
    expressions need an active SparkContext)."""
    return [
        ("n_turns", F.count(F.lit(1))),
        ("n_lat", F.count("latency_s")),
        ("sum_lat", F.sum("latency_s")),
        ("min_lat", F.min("latency_s")),
        ("max_lat", F.max("latency_s")),
        ("sum_chars", F.sum("n_chars")),
        ("sum_tokens", F.sum("n_tokens")),
        ("n_tool_calls", F.sum(F.col("is_tool_call").cast("long"))),
    ]


def bucket_ts(tier: str, col="ts"):
    """Tier bucket timestamp. 1m/1h/1d via date_trunc; 5m via epoch floor
    (date_trunc has no 5-minute unit)."""
    if tier == "5m":
        return F.timestamp_seconds(F.floor(F.unix_timestamp(F.col(col) if isinstance(col, str) else col) / 300) * 300)
    return F.date_trunc(TIERS[tier], col)


def rollup_tier(signals: DataFrame, tier: str, key: str = "conv_id") -> DataFrame:
    """Roll per-turn signals into one tier directly from raw signals."""
    return (
        signals.withColumn("bucket_ts", bucket_ts(tier))
        .groupBy(key, "bucket_ts")
        .agg(*[expr.alias(name) for name, expr in _state_aggs()])
    )


def rebucket(state: DataFrame, tier: str) -> DataFrame:
    """Tier state with ``bucket_ts`` moved to its (coarser) ``tier`` bucket:
    the rows a family's merge then folds into one per new bucket."""
    return state.withColumn("bucket_ts", bucket_ts(tier, "bucket_ts"))


def rollup_merge(state: DataFrame, key: str = "conv_id") -> DataFrame:
    """Merge base state rows per (key, bucket_ts): counts and sums add,
    min/max fold."""
    return state.groupBy(key, "bucket_ts").agg(
        F.sum("n_turns").alias("n_turns"),
        F.sum("n_lat").alias("n_lat"),
        F.sum("sum_lat").alias("sum_lat"),
        F.min("min_lat").alias("min_lat"),
        F.max("max_lat").alias("max_lat"),
        F.sum("sum_chars").alias("sum_chars"),
        F.sum("sum_tokens").alias("sum_tokens"),
        F.sum("n_tool_calls").alias("n_tool_calls"),
    )


def rollup_from_finer(finer: DataFrame, tier: str, key: str = "conv_id") -> DataFrame:
    """Derive a coarser tier exactly from a finer tier's state (cascade)."""
    return rollup_merge(rebucket(finer, tier), key)


# ---------------------------------------------------------------------------
# Distinct-cardinality tiers (mergeable HLL sketch state)
# ---------------------------------------------------------------------------

def distinct_rollup_tier(
    signals: DataFrame, tier: str, key: str = "conv_id", lg_k: int = 12
) -> DataFrame:
    """Per-bucket DISTINCT cardinality ("active conversations per minute")
    kept as a Datasketches HLL sketch (binary column), not a number.

    Counts and sums cascade by addition; exact distinct counts do NOT
    (distinct-per-hour ≠ sum of distinct-per-minute — the same conv_id
    appears in many minutes). At 100 TB an exact countDistinct per tier is
    a full reshuffle of raw keys PER TIER; the sketch is built once at the
    finest tier and every coarser tier — and every incremental refresh of a
    new day's partition — is a cheap hll_union_agg over kilobyte blobs.
    lg_k=12 → ~1.6%/sqrt stderr ≈ ±2.5%, 4 KiB dense."""
    return (
        signals.withColumn("bucket_ts", bucket_ts(tier))
        .groupBy("bucket_ts")
        .agg(F.hll_sketch_agg(key, F.lit(lg_k)).alias("key_hll"))
    )


def hll_merge(state: DataFrame) -> DataFrame:
    """Merge HLL sketch rows per bucket_ts by UNION (register-max is
    associative, so cascaded unions equal a direct build from raw —
    tested in test_rollup)."""
    return state.groupBy("bucket_ts").agg(F.hll_union_agg("key_hll").alias("key_hll"))


def with_distinct_estimate(tier_df: DataFrame, out_col: str = "n_distinct") -> DataFrame:
    """Read-time estimate from the sketch state."""
    return tier_df.withColumn(out_col, F.hll_sketch_estimate("key_hll"))


def with_derived_metrics(tier_df: DataFrame) -> DataFrame:
    """Read-time metrics derived from the reaggregatable state."""
    return (
        tier_df.withColumn("avg_lat", F.col("sum_lat") / F.col("n_lat"))
        .withColumn("avg_chars", F.col("sum_chars") / F.col("n_turns"))
        .withColumn("tool_call_rate", F.col("n_tool_calls") / F.col("n_turns"))
    )


def m4_downsample(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    tier: str = "1h",
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, bucket) keep
    exactly the four points a pixel column can show — min, max, first, last.
    THE published error-free line-visualization reduction: any width-w chart
    drawn from the M4 rows is pixel-identical to one drawn from raw data,
    at 4 rows per bucket instead of millions.

    One hash aggregation, fully JVM-side: first/last ride a lexicographic
    struct((ts, value)) min/max — portable tie semantics (DuckDB's
    arg_min/arg_max leave duplicate-ts ties unspecified; the struct
    ordering pins them identically on both engines)."""
    ts_c = F.col(ts_col).cast("timestamp")
    pair = F.struct(ts_c.alias("t"), F.col(val_col).alias("v"))
    return df.groupBy(key, bucket_ts(tier, ts_col).alias("bucket_ts")).agg(
        F.min(val_col).alias("v_min"),
        F.max(val_col).alias("v_max"),
        F.min(pair).getField("v").alias("v_first"),
        F.max(pair).getField("v").alias("v_last"),
    )


# ---------------------------------------------------------------------------
# Histogram tiers (mergeable quantile state)
# ---------------------------------------------------------------------------

def histogram_rollup_tier(
    signals: DataFrame,
    tier: str,
    val_col: str = "latency_s",
    edges: list[float] | None = None,
) -> DataFrame:
    """Per-bucket value HISTOGRAM in long format (bucket_ts, bin, n) — the
    mergeable quantile state the sum/count tier cannot express.

    Percentiles do not cascade (p95-per-hour is not a function of
    p95-per-minute), and Spark's percentile_approx state is not a storable
    column. Fixed-BIN counts are: binning is pointwise, so bin counts sum
    exactly under any regrouping — coarser tiers and incremental day
    refreshes merge by addition, like the counts/sums state, and a
    read-time interpolation (histogram_percentile) serves p50/p95/p99 per
    bucket with error bounded by bin width. The classic Prometheus-
    histogram design, here as engine tier state.

    ``edges`` are the INTERIOR bin boundaries (ascending); values < first
    edge fall in bin 0, >= last edge in bin len(edges). NULLs are skipped
    (they carry no latency). Long format keeps the oracle and the cascade
    pure GROUP BYs."""
    if edges is None:
        edges = DEFAULT_LATENCY_EDGES
    v = F.col(val_col)
    # bin index = number of interior edges <= v  (width_bucket semantics)
    bin_expr = F.aggregate(
        F.array(*[F.lit(float(e)) for e in edges]),
        F.lit(0),
        lambda acc, e: acc + F.when(v >= e, 1).otherwise(0),
    )
    return (
        signals.filter(v.isNotNull())
        .withColumn("bucket_ts", bucket_ts(tier))
        .groupBy("bucket_ts", bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


DEFAULT_LATENCY_EDGES = [1.0, 2.0, 5.0, 10.0, 30.0, 60.0, 120.0, 300.0, 1800.0]


def histogram_merge(state: DataFrame) -> DataFrame:
    """Merge histogram rows per (bucket_ts, bin) by addition (exact —
    binning is pointwise, so cascaded == direct; pytest-pinned)."""
    return state.groupBy("bucket_ts", "bin").agg(F.sum("n").alias("n"))


def histogram_percentile(
    hist: DataFrame, p: float, edges: list[float] | None = None
) -> DataFrame:
    """Read-time percentile estimate per bucket_ts from long-format
    histogram state: find the bin holding the p-quantile rank via a
    cumulative window, then interpolate linearly inside it. Error is
    bounded by the bin's width; the open-ended tail bins report their
    finite boundary (the Prometheus histogram_quantile convention).

    One window + one aggregate, both partitioned by bucket_ts."""
    from pyspark.sql import Window as W

    if edges is None:
        edges = DEFAULT_LATENCY_EDGES
    lo = F.array(*[F.lit(float(x)) for x in [0.0] + list(edges)])
    hi = F.array(*[F.lit(float(x)) for x in list(edges) + [edges[-1]]])
    w = W.partitionBy("bucket_ts").orderBy("bin")
    wtot = W.partitionBy("bucket_ts")
    ranked = (
        hist.withColumn("cum", F.sum("n").over(w))
        .withColumn("total", F.sum("n").over(wtot))
        .withColumn("rank", F.lit(float(p)) * F.col("total"))
        .filter(F.col("cum") >= F.col("rank"))
    )
    first = ranked.groupBy("bucket_ts").agg(
        F.min_by(F.struct("bin", "cum", "n", "rank"), "bin").alias("s")
    )
    b = first["s.bin"].cast("int")
    frac = (first["s.rank"] - (first["s.cum"] - first["s.n"])) / first["s.n"]
    est = F.element_at(lo, b + 1) + frac * (
        F.element_at(hi, b + 1) - F.element_at(lo, b + 1)
    )
    return first.select(
        "bucket_ts", F.round(est, 6).alias(f"p{int(p * 100)}_est")
    )
