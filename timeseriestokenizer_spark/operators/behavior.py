"""Behavioral analytics over event streams: hour-of-week seasonal
profile, cohort retention, and ordered funnel completion.

Graft-new warehouse operators (the reference has no user-behavior
surface; SURVEY.md §2 marks monitoring/report analytics as the engine's
own). They read the same events shape every other operator does.

Float contract: counts/sums/extrema are exact BIGINTs; the only float
is the profile mean — ONE division of two exact integers, emitted
unrounded (engine-identical). Funnel state folds over exact epoch-µs
with (ts, id) lexicographic order so duplicate timestamps resolve
identically everywhere."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def weekly_profile(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Per (key, weekday, hour): event count, exact sum, mean, min/max —
    the calendar-phase seasonal fingerprint (which hours of which days
    is this series hot?) that complements the time-bucket rollup tiers.
    weekday is ISO Monday=0 (F.weekday == DuckDB isodow−1 — engines
    disagree on bare dayofweek's week start, so never use it).

    One aggregation, map-side partial combine; group arity is fixed
    (≤ 7·24 rows per key) so the shuffle is tiny regardless of input."""
    ts = F.col(ts_col).cast("timestamp")
    v = F.col(val_col)
    return (
        df.select(
            F.col(key),
            F.weekday(ts).alias("weekday"),
            F.hour(ts).alias("hour"),
            v.alias("v"),
        )
        .groupBy(key, "weekday", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            (F.sum("v").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mean"
            ),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
    )


def cohort_retention(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by first-active
    date, counted on each later active date as (cohort_date,
    offset_days, n_active, n_events). offset 0 row carries the cohort
    size; n_active/cohort-size over offsets is the retention curve.

    Shape: first-active via a window on ``key`` (one exchange), then
    the distinct-user count per (cohort, offset) — the second exchange
    is on the (cohort, offset, key) triple, which AQE can coalesce; no
    self-join back to activity (the window carries the cohort date)."""
    ts = F.col(ts_col).cast("timestamp")
    d = F.to_date(ts)
    w = W.partitionBy(key)
    acts = df.select(
        F.col(key), d.alias("day")
    ).withColumn("cohort_date", F.min("day").over(w))
    per_user_day = (
        acts.groupBy(key, "cohort_date", "day")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .select(
            F.col("cohort_date"),
            F.datediff(F.col("day"), F.col("cohort_date"))
            .cast("long")
            .alias("offset_days"),
            F.col(key),
            F.col("n_ev"),
        )
    )
    return per_user_day.groupBy("cohort_date", "offset_days").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum("n_ev").alias("n_events"),
    )


def funnel_steps(
    df: DataFrame,
    stages: Sequence[int],
    key: str = "conv_id",
    ts_col: str = "ts",
    stage_col: str = "stage",
    id_col: str = "event_id",
) -> DataFrame:
    """Ordered funnel per key: walk events in (ts, id) order and
    greedily match the stage sequence (earliest occurrence of stage 1,
    then the earliest stage 2 AFTER it, ...). Greedy-earliest is the
    standard funnel semantics and yields the earliest possible
    completion. Returns (key, stages_reached, completed,
    completed_ts_us) for EVERY key (zero-progress keys included).

    Shape: ONE exchange — series → time-ordered (us, id, stage)
    structs, then a row-local ``aggregate`` fold; state freezes once
    the last stage completes. Stage count bounds the fold state, series
    length bounds the array (the bounded-series doctrine)."""
    if not stages:
        raise ValueError("stages must be non-empty")
    n_stages = len(stages)
    stage_arr = "array(" + ", ".join(str(int(s)) for s in stages) + ")"
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
                F.col(id_col).alias("id"),
                F.col(stage_col).alias("stage"),
            )
        )
    )
    fold = f"""
      aggregate(
        evs,
        named_struct('r', 0, 't', CAST(NULL AS BIGINT)),
        (st, x) -> CASE
            WHEN st.r < {n_stages}
                 AND x.stage = element_at({stage_arr}, st.r + 1)
            THEN named_struct('r', st.r + 1,
                              't', CASE WHEN st.r + 1 = {n_stages}
                                        THEN x.us ELSE st.t END)
            ELSE st END)
    """
    base = df.groupBy(key).agg(ordered.alias("evs"))
    return base.select(F.col(key), F.expr(fold).alias("_f")).select(
        F.col(key),
        F.col("_f.r").alias("stages_reached"),
        (F.col("_f.r") == F.lit(n_stages)).alias("completed"),
        F.col("_f.t").alias("completed_ts_us"),
    )


def seasonal_deviation(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-event deviation from the key's own hour-of-week baseline —
    the seasonal-anomaly companion to ``weekly_profile``: "is this
    value unusual FOR THIS HOUR OF THIS WEEKDAY", which a global
    z-score mis-states for any series with calendar seasonality.

    JOIN-FREE: the baseline mean is a window aggregate over
    (key, weekday, hour), not a profile-table join back — one exchange,
    and the grouping arity (≤ 168 cells per key) keeps every frame
    small regardless of history length.

    Float contract: count/sum are exact BIGINTs; mean is ONE division
    of exact operands; dev is ONE subtraction of that quotient from an
    exact integer — both correctly-rounded single IEEE ops, so emitted
    unrounded (the weekly_profile doctrine)."""
    ts = F.col(ts_col).cast("timestamp")
    wd = F.weekday(ts)
    hr = F.hour(ts)
    base = df.select(
        F.col(key),
        F.col(id_col),
        wd.alias("weekday"),
        hr.alias("hour"),
        F.col(val_col).alias("v"),
    )
    wcell = W.partitionBy(key, "weekday", "hour")
    n = F.count(F.lit(1)).over(wcell)
    total = F.sum("v").over(wcell)
    mean = total.cast("double") / n.cast("double")
    return base.select(
        F.col(key),
        F.col(id_col),
        F.col("weekday"),
        F.col("hour"),
        F.col("v").alias(val_col),
        n.alias("base_n"),
        total.alias("base_total"),
        mean.alias("base_mean"),
        (F.col("v").cast("double") - mean).alias("dev"),
    )


def activity_gini(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day traffic-concentration report over per-key event counts:
    Gini coefficient, Herfindahl–Hirschman index, and top-key share —
    the skew monitor that quantifies WHEN the heavy-hitter tier's
    salting decision (operators/salting.py) is worth paying for: a day
    with Gini ≈ 0 shuffles evenly no matter what.

    Exactness: with counts sorted ascending, Gini = 2·Σ(i·cᵢ)/(n·S)
    − (n+1)/n — every Σ is an exact BIGINT (tie order can't matter:
    tied blocks contribute a fixed rank-sum), then two exact-operand
    divisions and one subtraction, emitted unrounded. HHI = Σc²/S²
    (exact integer operands; Σc² stays in BIGINT while per-key daily
    counts are < ~3e9 — document-scale safe, noted for the extreme).

    Shape: exchange on (day, key) for the counts, then ONE exchange on
    day that both the rank window and the day aggregate share."""
    day = F.to_date(F.col(ts_col).cast("timestamp"))
    counts = (
        df.select(day.alias("day"), F.col(key).alias("k"))
        .groupBy("day", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wday = W.partitionBy("day").orderBy(F.col("c"), F.col("k"))
    ranked = counts.withColumn("rk", F.row_number().over(wday))
    agg = ranked.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_events"),
        F.sum(F.col("rk") * F.col("c")).alias("_a"),
        F.sum(F.col("c") * F.col("c")).alias("_sq"),
        F.max("c").alias("_cmax"),
    )
    n = F.col("n_keys").cast("double")
    s = F.col("n_events").cast("double")
    return agg.select(
        F.col("day"),
        F.col("n_keys"),
        F.col("n_events"),
        (
            (F.lit(2.0) * F.col("_a").cast("double"))
            / (F.col("n_keys") * F.col("n_events")).cast("double")
            - (F.col("n_keys") + F.lit(1)).cast("double") / n
        ).alias("gini"),
        (
            F.col("_sq").cast("double")
            / (F.col("n_events") * F.col("n_events")).cast("double")
        ).alias("hhi"),
        (F.col("_cmax").cast("double") / s).alias("top_share"),
    )


def rfm_segments(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    k: int = 5,
) -> DataFrame:
    """RFM segmentation: per key, Recency (days since last activity,
    anchored to the dataset's max day), Frequency (event count) and
    Monetary (exact sum), each scored into ``k`` exact SQL-NTILE
    buckets. Quintile k = most recent / most frequent / highest value
    (ascending metric order with descending recency, the usual RFM
    orientation); key breaks ties so the buckets are run-deterministic
    and engine-identical.

    Shape: one groupBy(key) exchange to the per-key table (events
    collapse 3–5 orders of magnitude), the anchor day as a broadcast
    1-row join (never a single-partition global window), then one fused
    ``global_ntile_multi`` pass for the three scores — the two-pass
    deterministic-bucket rank, never ``NTILE() OVER (ORDER BY ...)``'s
    one-task funnel. Bucket boundaries are driver literals
    (packing._range_pid), so the result is identical even if the cache is
    evicted mid-query; the caller releases it with
    ``session.release_held()`` after the consuming action."""
    from .packing import global_ntile_multi

    ts = F.col(ts_col).cast("timestamp")
    per_key = df.groupBy(key).agg(
        F.max(F.to_date(ts)).alias("last_day"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(val_col).alias("total"),
    )
    anchor = df.select(F.max(F.to_date(ts)).alias("_anchor"))
    base = per_key.join(F.broadcast(anchor)).select(
        F.col(key),
        F.datediff(F.col("_anchor"), F.col("last_day")).alias("recency_days"),
        F.col("n_events"),
        F.col("total"),
    )
    # one fused pass for all three scores: shared quantile + histogram jobs
    # (global_ntile_multi) instead of three sequential two-pass ntiles
    staged = base.withColumn("_mr", -F.col("recency_days"))
    return global_ntile_multi(
        staged,
        [
            (["_mr", key], "r_score"),
            (["n_events", key], "f_score"),
            (["total", key], "m_score"),
        ],
        k,
    ).drop("_mr")


def transition_concentration(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Markov next-step predictability per (series, source state) — the
    behavioral question behind bot/loop screening ("given a tool call,
    how deterministic is what happens next?"): over the series' bigram
    transition counts c_ab,

        concentration_a = Σ_b c_ab² / n_a²          (n_a = Σ_b c_ab)

    is the probability two independently drawn next-steps from state a
    agree — 1 = fully deterministic, 1/k = uniform over k targets. The
    Simpson-concentration form instead of conditional entropy is
    deliberate (the doc_diversity doctrine: Σ p·ln p is order-dependent
    transcendental accumulation; Σc² is an exact BIGINT and the single
    division is engine-identical, emitted UNROUNDED). ``top_next`` is
    the modal target (ties → lexicographically smallest).

    Shape: NO joins, ONE exchange — the bigram lag window partitions by
    ``key`` and both later clusterings ((key, prev) groupBy-free window
    form) are satisfied by HashPartitioning(key).
    """
    order = [F.col(ts_col), F.col(id_col)]
    wrun = W.partitionBy(key).orderBy(*order)
    pairs = (
        df.select(
            F.col(key),
            F.lag(type_col).over(wrun).alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy(key, "prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = W.partitionBy(key, "prev_type")
    wtop = W.partitionBy(key, "prev_type").orderBy(
        F.col("c").desc(), F.col("next_type").asc()
    )
    staged = pairs.select(
        F.col(key),
        F.col("prev_type"),
        F.col("next_type"),
        F.sum("c").over(wp).alias("n_trans"),
        F.sum(F.col("c") * F.col("c")).over(wp).alias("ss"),
        F.count(F.lit(1)).over(wp).alias("n_targets"),
        F.row_number().over(wtop).alias("_rn"),
    ).where(F.col("_rn") == 1)
    return staged.select(
        F.col(key),
        F.col("prev_type"),
        F.col("n_trans"),
        F.col("n_targets"),
        (
            F.col("ss").cast("double")
            / (F.col("n_trans") * F.col("n_trans")).cast("double")
        ).alias("concentration"),
        F.col("next_type").alias("top_next"),
    )
