"""Per-series anomaly screens: CUSUM change detection and median/MAD
robust outliers.

Graft-new (the reference processes series for tokenization only; it has
no anomaly operator — SURVEY.md §2 marks monitoring analytics as the
engine's own surface). Both operators are pure Catalyst — window + agg
expressions, zero Python — and both keep ONE hash exchange on the series
key (every window/agg partitions by the same key, so
``HashPartitioning(key)`` is reused across the whole plan, the rollup
cascade precedent).

Float contract (the integer-exact trick, new here):

* ``cusum_changepoints`` never divides or averages in the recurrence.
  The textbook reflected CUSUM ``s_t = max(0, s_{t-1} + (x_t - mean - k))``
  has a closed form over the prefix sums:

      s_t = cum_t - min(0, min_{j<=t} cum_j),   cum_t = sum_{i<=t} d_i

  so it IS window-expressible (running sum + running min) despite the
  max() recurrence looking sequential. Scaling d by n (the series
  length) clears the mean's division: d_i = n*x_i - S - n*k. Feed an
  integer-valued column (e.g. cents) and every intermediate is an exact
  BIGINT on any engine — the contract row hash-matches DuckDB with no
  rounding anywhere. Feed raw doubles and the same plan degrades
  gracefully to ordinary float windows.
* ``mad_outliers`` uses exact linear-interpolation percentiles
  (Spark ``percentile`` == DuckDB ``quantile_cont``: on integer input
  the even-n midpoint is an exact .5, representable). abs-dev and the
  3*1.4826*MAD threshold are single identical float ops on identical
  inputs — bit-equal across engines, emitted UNROUNDED (the ewma
  precedent: rounding is what breaks parity, not the arithmetic).

Scale notes: both are per-series windows over the tier/series key — the
same shuffle shape as the 1m rollup, linear in rows, no join, no
collect. At 10^8 series the percentile windows are per-partition sorts,
bounded by the longest single series (see operators/rollup.py notes).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .series import map_series, ts_micros


def cusum_changepoints(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    allowance: float = 0,
    threshold: float = 4.0,
) -> DataFrame:
    """Two-sided reflected CUSUM per series, via the prefix-sum closed
    form (module docstring). ``allowance`` (slack k) and ``threshold``
    (h) are in ``val_col`` units; h is compared in the n-scaled integer
    domain (``s > h*n``) so integer inputs stay exact end-to-end.

    Returns one row per input point: (id, value, cusum_pos, cusum_neg —
    the n-normalized statistics, i.e. in val_col units — and
    alarm_pos / alarm_neg booleans).
    """
    order = [F.col(ts_col), F.col(id_col)]
    wall = W.partitionBy(key)  # whole-series frame (n, S)
    wrun = W.partitionBy(key).orderBy(*order)  # running frames
    n = F.count(val_col).over(wall)
    s_tot = F.sum(val_col).over(wall)
    # d_i = n*(x_i - mean - k) without the division; n*k keeps integer
    # inputs integral when allowance is integral (contract passes 0).
    # Windows stack in three SELECT stages (Spark forbids nesting window
    # functions inside one another) — all three cluster on `key`, so
    # Catalyst still plans ONE exchange and chained Window nodes.
    s1 = df.select(
        F.col(key),
        *order,
        F.col(id_col).alias("_id"),
        F.col(val_col).alias("value_in"),
        n.alias("n"),
        (F.col(val_col) * n - s_tot - F.lit(allowance) * n).alias("d"),
    )
    s2 = s1.withColumn("cum", F.sum("d").over(wrun))
    s3 = s2.withColumn(
        "run_min", F.least(F.lit(0), F.min("cum").over(wrun))
    ).withColumn("run_max", F.greatest(F.lit(0), F.max("cum").over(wrun)))
    s_pos = F.col("cum") - F.col("run_min")
    s_neg = F.col("run_max") - F.col("cum")
    hn = F.lit(float(threshold)) * F.col("n")
    return s3.select(
        F.col("_id").alias(id_col),
        F.col("value_in"),
        (s_pos / F.col("n")).cast("double").alias("cusum_pos"),
        (s_neg / F.col("n")).cast("double").alias("cusum_neg"),
        (s_pos > hn).alias("alarm_pos"),
        (s_neg > hn).alias("alarm_neg"),
    )


def median_filter(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    window_rows: int = 5,
) -> DataFrame:
    """Rolling median smoother (the denoising classic — kills isolated
    spikes a moving average smears): each point is replaced by the exact
    median of the centered ``window_rows`` frame of its own series;
    series edges use the truncated frame (median of what exists), the
    scipy.signal.medfilt alternative convention, documented.

    ``percentile`` evaluates as a window aggregate over a ROWS frame —
    exact linear interpolation, so integer input yields exact .5-grid
    doubles (engine-identical, unrounded). One exchange on ``key``."""
    half = int(window_rows) // 2
    order = [F.col(ts_col), F.col(id_col)]
    w = W.partitionBy(key).orderBy(*order).rowsBetween(-half, half)
    return df.select(
        F.col(id_col),
        F.col(val_col).alias("value_in"),
        F.percentile(F.col(val_col), F.lit(0.5)).over(w).alias("median_smooth"),
    )


def mad_outliers(
    df: DataFrame,
    key: str = "conv_id",
    val_col: str = "value",
    id_col: str = "event_id",
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Robust per-series outliers: flag points whose absolute deviation
    from the series MEDIAN exceeds ``n_sigmas * 1.4826 * MAD`` (1.4826
    scales MAD to sigma under normality). Join-free: both percentiles
    are window aggregates over the same ``partitionBy(key)`` — Catalyst
    plans ONE exchange and two Window nodes, no shuffle between them.

    MAD == 0 (over half the series at one value) degrades to flagging
    any point off the median — deterministic, documented behavior.
    """
    wall = W.partitionBy(key)
    med = F.percentile(F.col(val_col), F.lit(0.5)).over(wall)
    stage = df.select(
        F.col(key),
        F.col(id_col),
        F.col(val_col).alias("value_in"),
        med.alias("med"),
        F.abs(F.col(val_col) - med).alias("abs_dev"),
    )
    mad = F.percentile(F.col("abs_dev"), F.lit(0.5)).over(wall)
    thresh = F.lit(float(n_sigmas)) * F.lit(1.4826) * mad
    return stage.select(
        F.col(id_col),
        F.col("value_in"),
        F.col("med"),
        F.col("abs_dev"),
        mad.alias("mad"),
        (F.col("abs_dev") > thresh).alias("is_outlier"),
    )


def winsorize(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Winsorization: clip each series at its own lower/upper percentile
    ORDER STATISTICS — the robust-preprocessing step before moment-based
    ops (scaler_fit, trend_fit) that one wild sensor reading would
    otherwise dominate.

    Percentile convention: the 1-based lower order statistic at index
    floor((n−1)·p) + 1 (numpy interpolation='lower') — a VALUE the
    series contains, never interpolated, so integer input stays exact
    (the theil_sen lower-median doctrine). floor((n−1)·p) is one IEEE
    double multiply+floor of identical operands on any engine. Clipped
    output is pure BIGINT least/greatest.

    One exchange: the value-rank window, the per-key count, the two
    bound extractions (max over CASE WHEN rank = idx), and the final
    projection all cluster on ``key``."""
    wv = W.partitionBy(key).orderBy(F.col("v"), F.col("_id"))
    wk = W.partitionBy(key)
    base = df.select(
        F.col(key),
        F.col(id_col).alias("_id"),
        F.col(val_col).alias("v"),
    ).select(
        F.col(key),
        F.col("_id"),
        F.col("v"),
        F.row_number().over(wv).alias("_rk"),
        F.count(F.lit(1)).over(wk).alias("_n"),
    )
    def _idx(p):
        return (
            F.floor((F.col("_n") - 1).cast("double") * F.lit(float(p)))
            .cast("long") + 1
        )
    lo_val = F.max(F.when(F.col("_rk") == _idx(p_lo), F.col("v"))).over(wk)
    hi_val = F.max(F.when(F.col("_rk") == _idx(p_hi), F.col("v"))).over(wk)
    return base.select(
        F.col(key),
        F.col("_id").alias(id_col),
        F.col("v").alias(val_col),
        lo_val.alias("lo_bound"),
        hi_val.alias("hi_bound"),
        F.least(F.greatest(F.col("v"), lo_val), hi_val).alias("clipped"),
        (F.col("v") < lo_val).alias("clipped_lo"),
        (F.col("v") > hi_val).alias("clipped_hi"),
    )


def weighted_percentile(
    df: DataFrame,
    key: str,
    val_col: str,
    weight_col: str,
    p: float = 0.95,
    tie_col: str | None = None,
) -> DataFrame:
    """Exact WEIGHTED percentile per key: the smallest value v whose
    cumulative weight (over value-ascending order) reaches p of the total
    weight — "the latency under which 95% of REQUESTS fall" when each row
    carries a request count, where the unweighted percentile would answer
    the per-row question instead.

    Exactness: weights must be integral (LONG); the cumulative and total
    weights are exact BIGINTs and the single threshold test is
    cum >= p * total — one long-vs-double comparison, exact below 2^53
    (p stays a literal). The answer is always a value the key CONTAINS,
    never interpolated, so integer inputs emit exactly. Rows with
    non-positive weight are ignored (they carry no mass).

    One exchange: the value-order cumsum window, the total window and the
    final aggregate all cluster on ``key``. The selected value is
    tie-safe by construction — rows tied on value share it, so the
    crossing row's tie order cannot change the answer (``tie_col`` only
    pins the plan's sort)."""
    order = [F.col("_v").asc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    base = df.filter(F.col(weight_col) > 0).select(
        F.col(key),
        *( [F.col(tie_col)] if tie_col else [] ),
        F.col(val_col).alias("_v"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    w_cum = (
        W.partitionBy(key).orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy(key)
    ranked = base.select(
        F.col(key),
        F.col("_v"),
        F.sum("_w").over(w_cum).alias("_cum"),
        F.sum("_w").over(w_tot).alias("_tot"),
    )
    return (
        ranked.filter(F.col("_cum") >= F.lit(float(p)) * F.col("_tot"))
        .groupBy(key)
        .agg(
            F.min("_v").alias(f"wp{int(round(p * 100))}"),
            F.first("_tot").alias("w_total"),
        )
    )


def best_changepoint(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "cents",
    id_col: str = "event_id",
) -> DataFrame:
    """Single best changepoint per series — the binary-segmentation step
    (Scott & Knott 1974; the primitive PELT/BinSeg iterate): the split
    k that maximizes the between-segments sum of squares. n²-scaled to
    clear both means' divisions (the cusum convention):

        score_k = (n·S_k − k·S_n)² / (k·(n−k)),   S_k = prefix sum

    Float contract: with integer input (cents) the numerator base
    A = n·S_k − k·S_n is an exact BIGINT; A² and the divide are single
    correctly-rounded IEEE ops on identical operands, so score is
    BIT-IDENTICAL across engines and emitted UNROUNDED. Ties break to the
    smallest k (identical doubles ⇒ the tie set is identical on both
    engines). left/right means are single exact-integer divisions.

    Pure Catalyst, ONE exchange: running-sum window, full-frame window,
    rank window and the final filter all cluster on the series key.
    Series with n < 2 have no valid split and are omitted. Emits
    (key, n_points, split_k, score, left_mean, right_mean)."""
    ordw = W.partitionBy(key).orderBy(ts_col, id_col)
    runf = ordw.rowsBetween(W.unboundedPreceding, W.currentRow)
    full = W.partitionBy(key).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    base = df.select(
        key, ts_col, id_col, F.col(val_col).cast("long").alias("v")
    )
    pref = base.select(
        key,
        F.row_number().over(ordw).alias("rn"),
        F.sum("v").over(runf).alias("s_k"),
        F.count(F.lit(1)).over(full).alias("n"),
        F.sum("v").over(full).alias("s_n"),
    ).filter(F.col("rn") < F.col("n"))
    a = F.col("n") * F.col("s_k") - F.col("rn") * F.col("s_n")
    score = (a.cast("double") * a.cast("double")) / (
        F.col("rn") * (F.col("n") - F.col("rn"))
    ).cast("double")
    scored = pref.withColumn("score", score)
    rankw = W.partitionBy(key).orderBy(F.col("score").desc(), F.col("rn"))
    return (
        scored.withColumn("pick", F.row_number().over(rankw))
        .filter(F.col("pick") == 1)
        .select(
            key,
            F.col("n").cast("long").alias("n_points"),
            F.col("rn").cast("long").alias("split_k"),
            "score",
            (
                F.col("s_k").cast("double") / F.col("rn").cast("double")
            ).alias("left_mean"),
            (
                (F.col("s_n") - F.col("s_k")).cast("double")
                / (F.col("n") - F.col("rn")).cast("double")
            ).alias("right_mean"),
        )
    )


def pettitt_changepoint(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Pettitt's nonparametric changepoint test per series — the
    rank-based companion to ``best_changepoint`` (that one maximizes a
    between-segment mean gap, so one fat outlier can drag it; Pettitt's
    statistic only sees ranks, so it finds LEVEL shifts under heavy
    tails).

    Entirely INTEGER-exact, no floats anywhere: with doubled midranks
    r2_i = rank_asc_i + (n + 1 - rank_desc_i)  (= 2·midrank, an exact
    integer even under ties), the Mann-Whitney-style statistic at each
    candidate split k is

        U_k = Σ_{i<=k} r2_i  -  k·(n+1)          (exact BIGINT)

    and the changepoint is argmax_k |U_k| over k = 1..n-1 (k = n is
    excluded: U_n ≡ 0 by construction). Ties on |U_k| break to the
    smallest k — both engines compare the same integers.

    One hash exchange on ``key``: the two value-rank windows, the
    running-sum window, and the final pick-the-max window all partition
    by the series key (different orderings re-sort within partitions but
    never reshuffle).

    Returns one row per series: (key, n_points, k_star [1-based
    position of the last pre-change point], u_abs, change_ts).
    """
    order = [F.col(ts_col), F.col(id_col)]
    wall = W.partitionBy(key)
    w_asc = W.partitionBy(key).orderBy(F.col(val_col).asc())
    w_desc = W.partitionBy(key).orderBy(F.col(val_col).desc())
    wrun = W.partitionBy(key).orderBy(*order)
    n = F.count(val_col).over(wall)
    s1 = df.select(
        F.col(key),
        *order,
        n.alias("n"),
        (
            F.rank().over(w_asc) + n + F.lit(1) - F.rank().over(w_desc)
        ).alias("r2"),
    )
    s2 = s1.select(
        F.col(key),
        F.col(ts_col),
        F.col("n"),
        F.row_number().over(wrun).alias("_pos"),
        (
            F.sum("r2").over(wrun) - F.row_number().over(wrun) * (F.col("n") + 1)
        ).alias("u_k"),
    ).where(F.col("_pos") < F.col("n"))
    wpick = W.partitionBy(key).orderBy(
        F.abs(F.col("u_k")).desc(), F.col("_pos").asc()
    )
    return (
        s2.select(
            F.col(key),
            F.col("n").alias("n_points"),
            F.col("_pos").alias("k_star"),
            F.abs(F.col("u_k")).alias("u_abs"),
            F.col(ts_col).alias("change_ts"),
            F.row_number().over(wpick).alias("_rn"),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def sample_entropy(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    m: int = 2,
    r: int = 10000,
    cell_budget: int = 8_000_000,
) -> DataFrame:
    """Sample entropy (Richman & Moorman 2000, "Physiological time-series
    analysis using approximate entropy and sample entropy") per series —
    the regularity screen: low SampEn = repetitive cadence (a bot, a
    retry loop), high = irregular. SampEn = -ln(A/B) where B counts
    template pairs of length ``m`` within Chebyshev distance ``r`` and A
    the same pairs extended to length m+1 (both over i<j ≤ n-m, the
    standard convention — the pair factor cancels in the ratio).

    Exactness: with an INTEGER ``val_col`` and integer ``r`` every match
    test is a BIGINT comparison, so A and B are exact counts on any
    engine; the one float step -ln(A/B) is rounded to 6 dp on both sides
    (the lm_doc_score precedent: ln is libm-dependent in the last ulp).
    A=0 or B=0 yields NULL sampen (the counts still publish).

    Scale shape: one-exchange batched-arrays (the swinging_door form);
    the O(n²) pair scan runs as numpy broadcasting inside the Arrow
    batch — bounded-series doctrine (≤ ~10⁴ points per series; rollup
    tiers first for longer). The quadratic NEVER hits a join or a
    shuffle.
    """
    if m != 2:
        raise NotImplementedError("sample_entropy implements m=2 (standard)")
    rr = int(r)
    budget = int(cell_budget)

    def _sampen(k, vals):
        # chunk the pair scan so one long series can't materialize an
        # (n-2)x(n-2) matrix (the CLAUDE.md padded-matrix gotcha: three
        # full 10^4-square int64 matrices = GBs); the cell budget keeps
        # every transient under ~64 MB regardless of series length
        x = np.asarray(vals, dtype=np.int64)
        n = len(x)
        b_cnt = a_cnt = 0
        if n >= 4:  # need at least two m+1 templates
            nt = n - 2  # templates i = 0..nt-1 (length 2 and 3)
            step = max(1, budget // nt)
            for i0 in range(0, nt - 1, step):
                i1 = min(i0 + step, nt - 1)
                rows = np.arange(i0, i1)
                d0 = np.abs(x[rows, None] - x[None, :nt])
                d1 = np.abs(x[rows + 1, None] - x[None, 1 : nt + 1])
                bm = np.maximum(d0, d1) <= rr
                # strict upper triangle: j > i only
                bm &= np.arange(nt)[None, :] > rows[:, None]
                b_cnt += int(bm.sum())
                d2 = np.abs(x[rows + 2, None] - x[None, 2 : nt + 2])
                a_cnt += int((bm & (d2 <= rr)).sum())
        sampen = -float(np.log(a_cnt / b_cnt)) if a_cnt > 0 and b_cnt > 0 else None
        return {key: [k], "n_points": [n], "b_count": [b_cnt],
                "a_count": [a_cnt], "sampen": [sampen]}

    schema = T.StructType(
        [
            T.StructField(key, df.schema[key].dataType),
            T.StructField("n_points", T.LongType()),
            T.StructField("b_count", T.LongType()),
            T.StructField("a_count", T.LongType()),
            T.StructField("sampen", T.DoubleType()),
        ]
    )
    # a NULL value is skipped, as ewma does: it is no point of the series
    # (cast to int64 it would read as INT64_MIN); an all-NULL series has no row
    return map_series(
        df.filter(F.col(val_col).isNotNull()), F.col(key),
        [ts_micros(ts_col), F.col(id_col)], [F.col(val_col).cast("long")], _sampen, schema,
    ).withColumn("sampen", F.round(F.col("sampen"), 6))
