"""Deterministic hash-based sampling and train/test splitting.

The 100 TB story: `df.sample()` draws from a per-partition RNG — the result
changes with partition layout, retries, and AQE re-planning, so a pipeline
re-run selects a DIFFERENT sample (poison for training-data reproducibility
and for join-ability of two independently-sampled tables). Content-hash
sampling fixes all of it:

* membership depends ONLY on (key columns, seed) — stable across reruns,
  partitionings, engines, and cluster sizes;
* no shuffle: the predicate is a row-local Catalyst expression, pushed
  into the scan's data filters;
* two tables sampled with the same keys+seed select ALIGNED rows (the
  "consistent sampling" property — preds and trues stay joinable);
* the hash is md5 (identical in Spark and DuckDB), so the driver's oracle
  reproduces the exact row set, not a statistical lookalike.

Bucketing: u = first 15 hex digits of md5(key || ':' || seed) as an integer
uniform in [0, 16^15); keep iff u < fraction * 16^15. 60 bits of hash →
fraction resolution ~1e-18.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 16 ** 15  # md5 15-hex-digit prefix, < 2^63


def _hash_u(key_cols: list[str], seed: int):
    """Uniform 60-bit integer from the row's key columns + seed (portable:
    md5 and string concat behave identically in Spark and DuckDB)."""
    parts: list = []
    for c in key_cols:
        parts.append(F.col(c).cast("string"))
        parts.append(F.lit(":"))
    parts.append(F.lit(str(seed)))
    return F.conv(F.substring(F.md5(F.concat(*parts)), 1, 15), 16, 10).cast("long")



def _uniform_hash_splits(df, num_partitions: int | None) -> list[int]:
    """Bucket boundaries for a ``_hash_u`` order column, as literals: the
    hash is uniform on [0, 16^15), so equal-width splits balance buckets in
    expectation with ZERO extra jobs (vs. the quantile sketch pass the
    generic _range_pid pays for unknown distributions)."""
    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return [i * _HASH_SPACE // n_parts for i in range(1, n_parts)]


def deterministic_sample(
    df: DataFrame, key_cols: list[str], fraction: float, seed: int = 42
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by content hash."""
    return df.filter(_hash_u(key_cols, seed) < int(fraction * _HASH_SPACE))


def with_hash_split(
    df: DataFrame,
    key_cols: list[str],
    test_fraction: float = 0.2,
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Add 'train'/'test' labels, stable under reruns and repartitioning —
    an example's split NEVER changes when data is added or the cluster is
    resized (only on a seed change), the property training pipelines need
    to avoid test-set leakage across runs."""
    return df.withColumn(
        out_col,
        F.when(
            _hash_u(key_cols, seed) < int(test_fraction * _HASH_SPACE), F.lit("test")
        ).otherwise(F.lit("train")),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_cols: list[str],
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample 'en' to 10% but
    keep 100% of low-resource languages). The per-stratum thresholds ride a
    literal CASE expression — no join, no shuffle, scan-local."""
    thresh = F.lit(int(default_fraction * _HASH_SPACE))
    for k, frac in fractions.items():
        thresh = F.when(
            F.col(strata_col) == F.lit(k), F.lit(int(frac * _HASH_SPACE))
        ).otherwise(thresh)
    return df.filter(_hash_u(key_cols, seed) < thresh)


def weighted_sample_topk(
    df: DataFrame,
    key_cols: list[str],
    weight_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis-Spirakis A-Res scheme, hash-determinized: each row draws
    u in (0, 1] from its content hash and keeps exp-key
    -ln(u) / w; the k SMALLEST keys are the sample, which is distributed
    exactly like sequential weighted draws without replacement. The
    training-data use: sample documents proportional to quality/length
    without an RNG, so reruns, retries, and repartitions pick the SAME
    rows (same property as deterministic_sample, extended to weights).

    Scale shape: the key is a row-local expression; orderBy+limit compiles
    to TakeOrderedAndProject — per-partition top-k heaps merged on the
    driver side of the exchange, no global sort. Rows with w <= 0 are
    excluded (they'd have infinite keys anyway). The emitted sample_key is
    rounded to 9 dp with a content tie-break so the DuckDB oracle's ln()
    ulps cannot flip the selection order."""
    u = (_hash_u(key_cols, seed) + 1).cast("double") / float(_HASH_SPACE + 1)
    key = -F.log(u) / F.col(weight_col).cast("double")
    ranked = (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", F.round(key, 9))
        .orderBy("sample_key", *key_cols)
        .limit(int(k))
    )
    return ranked


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-mixing plan (Dolma/Pile-style): given target mixture
    ``weights`` per source and a total ``token_budget``, compute each
    source's available whitespace tokens and the deterministic sampling
    rate that hits its share of the budget — rate = min(1, target/avail),
    where target = budget · w/Σw is a Python-side literal (part of the
    plan's identity) and avail is the exact BIGINT corpus count. A source
    smaller than its target keeps everything (rate 1) rather than
    upsampling — honest undershoot, reported via the rate column.

    The float contract: target is a literal, avail is exact, rate is
    least(1.0, literal/CAST(avail AS DOUBLE)) — one IEEE division, bit-
    identical in any engine. Sources absent from ``weights`` get rate 0
    (dropped), mirroring stratified_sample's default.

    Scale shape: one map-side-combined groupBy(source) — the plan table
    is #sources rows, made to be broadcast."""
    total_w = float(sum(weights.values()))
    target = F.lit(0.0)
    for src in sorted(weights):
        target = F.when(
            F.col(source_col) == F.lit(src),
            F.lit(float(token_budget) * float(weights[src]) / total_w),
        ).otherwise(target)
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    return (
        docs.select(F.col(source_col), n_tok.alias("_nt"))
        .groupBy(source_col)
        .agg(F.sum("_nt").alias("avail_tokens"))
        .select(
            F.col(source_col),
            F.col("avail_tokens"),
            target.alias("target_tokens"),
            F.least(
                F.lit(1.0),
                target / F.col("avail_tokens").cast("double"),
            ).alias("rate"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    key_cols: list[str] | None = None,
    source_col: str = "source",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Deterministic corpus-mixture sampling: keep each doc iff its
    content hash falls under its source's mixture_plan rate. Membership
    depends only on (keys, seed, weights, budget) — stable across reruns,
    partitionings, and engines (the deterministic_sample property,
    extended to data-dependent per-source rates), so two pipeline runs
    build the SAME training mix.

    Emits the kept docs with (n_tok, rate) for downstream budget
    accounting. Expected kept tokens per source = rate · avail ≈ target;
    the exact realized count is one aggregation away.

    Scale shape: the #sources-row plan broadcasts onto the doc stream —
    the ONLY exchange is the plan's own tiny aggregate; the doc-side
    filter is row-local and the text column dies at the projection."""
    keys = list(key_cols) if key_cols else ["doc_id"]
    plan = mixture_plan(docs, weights, token_budget, source_col, text_col)
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    annotated = docs.select(
        *[F.col(c) for c in dict.fromkeys([*keys, source_col])],
        n_tok.alias("n_tok"),
        _hash_u(keys, seed).cast("double").alias("_u"),
    )
    return (
        annotated.join(F.broadcast(plan.select(source_col, "rate")), source_col)
        .filter(F.col("_u") < F.col("rate") * F.lit(float(_HASH_SPACE)))
        .drop("_u")
    )


def stratified_take(
    df: DataFrame,
    group_col: str,
    k: int,
    key_cols: list[str] | None = None,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exactly ``k`` rows per group (fewer if the group is smaller),
    chosen deterministically: the k hash-smallest rows. The count-quota
    member of the sampling family — rate (stratified_sample), token quota
    (mixture_take), row quota (this) — with the same reproducibility
    contract: the selection depends only on (keys, seed, k) plus which
    rows exist in the group.

    Balanced eval-set assembly is the use case: "500 docs from every
    source", immune to source skew and to rerun/partitioning noise.

    Scale shape: rank-within-group via the same range-partitioned
    two-pass as mixture_take (weight 1 turns the grouped running total
    into the group rank), so a handful of huge groups never serialize
    into one window task each. Emits the input columns plus ``take_rank``
    (1-based hash-order rank). Release the intermediate cache with
    ``session.release_held()`` after the consuming action."""
    from ..operators.packing import with_grouped_running_total

    keys = list(key_cols) if key_cols else ["doc_id"]
    annotated = df.select(
        "*",
        _hash_u(keys, seed).alias("_u"),
        F.lit(1).cast("long").alias("_one"),
    )
    ranked = with_grouped_running_total(
        annotated, group_col, "_u", "_one", out_col="take_rank",
        num_partitions=num_partitions, tie_cols=keys,
        splits=_uniform_hash_splits(df, num_partitions),
    )
    return ranked.filter(F.col("take_rank") <= F.lit(int(k))).drop("_u", "_one")


def mixture_take(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    key_cols: list[str] | None = None,
    source_col: str = "source",
    text_col: str = "text",
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT token-quota corpus mixing — the hard-budget twin of
    ``mixture_sample``. Rate sampling hits each source's target in
    EXPECTATION; quota filling hits it exactly: docs are taken in
    content-hash order (a deterministic shuffle — hash order is
    data-independent, so the prefix is an unbiased sample) until the
    source's token target is reached. A doc is kept iff the tokens taken
    BEFORE it fall short of the target, so the first doc is always kept
    and overshoot is bounded by one document's length. Sources absent
    from ``weights`` get target 0 (dropped).

    Membership depends only on (keys, seed, weights, budget) — the same
    reproducibility contract as mixture_sample — PLUS the corpus content
    itself (adding docs can displace hash-later docs; that is inherent to
    an exact quota).

    Scale shape: per-source cumulative fill via
    ``with_grouped_running_total`` — range-partitioned two-pass, so 20
    heavy sources do NOT become 20 single-task windows; parallelism
    tracks partition count. The kept-tokens comparison is exact: the
    cumsum is BIGINT, the target a double literal (long < double promotes
    exactly below 2^53). Release the intermediate cache with
    ``session.release_held()`` after the consuming action."""
    from ..operators.packing import with_grouped_running_total

    keys = list(key_cols) if key_cols else ["doc_id"]
    total_w = float(sum(weights.values()))
    target = F.lit(0.0)
    for src in sorted(weights):
        target = F.when(
            F.col(source_col) == F.lit(src),
            F.lit(float(token_budget) * float(weights[src]) / total_w),
        ).otherwise(target)
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    annotated = docs.select(
        *[F.col(c) for c in dict.fromkeys([*keys, source_col])],
        n_tok.alias("n_tok"),
        _hash_u(keys, seed).alias("_u"),
    )
    totaled = with_grouped_running_total(
        annotated, source_col, "_u", "n_tok", out_col="cum_tok",
        num_partitions=num_partitions, tie_cols=keys,
        splits=_uniform_hash_splits(docs, num_partitions),
    )
    return totaled.filter((F.col("cum_tok") - F.col("n_tok")) < target).drop("_u")
