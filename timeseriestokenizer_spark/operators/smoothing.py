"""Exponential smoothing (EWMA) per series.

y_0 = x_0, y_i = alpha * x_i + (1 - alpha) * y_{i-1} — inherently
sequential per series, so it cannot be a Catalyst window expression.
Every operator here runs through ``series.map_series``: series collapse
to sorted arrays JVM-side (ONE exchange on key), Python steps whole
series per Arrow batch, and the carried id column reassembles the output
without a posexplode. EWMA uses pandas' C-implemented
``Series.ewm(alpha, adjust=False).mean()``.

Float contract: with adjust=False pandas computes
``((1-a)*y + a*x) / ((1-a) + a)``. At DYADIC alpha (0.5, 0.25, ...) the
multiplies are exact exponent shifts and the denominator is exactly 1.0,
so the result is BIT-IDENTICAL to any engine's naive recurrence — the
contract row runs alpha=0.5 against a DuckDB recursive-CTE oracle and
hash-matches. At non-dyadic alpha the two formulations drift in the last
ulps per step (documented; engine-tested against an explicit Python
recurrence at 1e-9 tolerance instead).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
import pyspark.sql.types as T

from .series import map_series, ts_micros


def _per_point(df, key, ts_col, val_col, id_col, step, fields):
    """Run ``step(xs) -> {field: list}`` over each series' values (sorted
    by ts, then id, then value; NULL reads as NaN) and emit one
    ``(id_col, *fields)`` row per input point. ``fields`` is
    ``[(name, DataType)]``."""
    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [T.StructField(n, t) for n, t in fields]
    )
    return map_series(
        df,
        F.col(key),
        [ts_micros(ts_col)],
        [F.col(id_col), F.col(val_col).cast("double")],
        lambda k, ids, vals: {id_col: ids, **step(vals.tolist())},
        schema,
    )


def _hw_step(xs, a, bcf, g, m):
    """Step the additive Holt-Winters recurrence (see ``holt_winters``)
    over one series; return the per-point level, trend and season lists
    and the final season ring."""
    l = xs[0]
    b = xs[1] - xs[0] if len(xs) >= 2 else 0.0
    seas = [0.0] * m
    l_all, b_all, s_all = [l], [b], [0.0]
    for t in range(1, len(xs)):
        x = xs[t]
        s_old = seas[t % m]
        l_new = a * (x - s_old) + (1.0 - a) * (l + b)
        b = bcf * (l_new - l) + (1.0 - bcf) * b
        s_new = g * (x - l_new) + (1.0 - g) * s_old
        seas[t % m] = s_new
        l = l_new
        l_all.append(l); b_all.append(b); s_all.append(s_new)
    return l_all, b_all, s_all, seas


def ewma(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-series EWMA; returns (id_col, ewma) rows, unrounded (see below).
    Ordering inside a series is (ts, id) — deterministic under ties."""
    a = float(alpha)

    def _step(xs):
        y = pd.Series(xs, dtype="float64").ewm(alpha=a, adjust=False).mean()
        return {"ewma": y.to_numpy()}

    # deliberately UNROUNDED: at dyadic alpha the smoothed doubles are
    # bit-identical across engines (pandas ewm == naive recurrence ==
    # recursive SQL, verified), while ROUNDING breaks parity — dyadic
    # smoothing of 2-dp inputs lands exactly on 5e-7 boundaries, where
    # Spark (BigDecimal HALF_UP on the shortest decimal string) and
    # DuckDB (nearest on the binary value) disagree. The usual
    # round-both-sides rule is for order-dependent aggregates; here the
    # raw value IS deterministic.
    return _per_point(
        df, key, ts_col, val_col, id_col, _step, [("ewma", T.DoubleType())]
    )


def holt(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) per series:

        l_0 = x_0,  b_0 = x_1 - x_0  (0 for singleton series)
        l_i = a*x_i + (1-a)*(l_{i-1} + b_{i-1})
        b_i = b_coef*(l_i - l_{i-1}) + (1-b_coef)*b_{i-1}

    Returns (id_col, holt_level, holt_trend) — UNROUNDED, same float
    contract as ewma: at DYADIC alpha/beta every multiply is an exact
    exponent shift, so the recurrence is bit-identical across engines and
    the contract oracle (a DuckDB recursive CTE stepping the same
    formulas) hash-matches without rounding; at non-dyadic coefficients
    formulations drift in last ulps (engine-tested with tolerance).
    Same one-exchange batched-arrays shape as ewma."""
    a, bcf = float(alpha), float(beta)

    def _step(xs):
        l = xs[0]
        b = xs[1] - xs[0] if len(xs) >= 2 else 0.0
        l_all, b_all = [l], [b]
        for x in xs[1:]:
            l_new = a * x + (1.0 - a) * (l + b)
            b = bcf * (l_new - l) + (1.0 - bcf) * b
            l = l_new
            l_all.append(l); b_all.append(b)
        return {"holt_level": l_all, "holt_trend": b_all}

    return _per_point(
        df, key, ts_col, val_col, id_col, _step,
        [("holt_level", T.DoubleType()), ("holt_trend", T.DoubleType())],
    )


def holt_winters(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    period: int = 4,
) -> DataFrame:
    """Holt-Winters TRIPLE exponential smoothing (additive seasonality,
    period ``m``) per series — the seasonal extension the reference's
    hourly/10-min datasets call for (reference
    docs/EXPERIMENT_DESIGN.md:106-120: ETTh1, weather are explicitly
    seasonal; reference has no smoothing operator at all — graft-new).

        l_0 = x_0,  b_0 = x_1 - x_0 (0 for singletons),  s_{<0} = 0
        s_old_t = s_{t-m}            (0.0 while t < m — cold-start init)
        l_t = a*(x_t - s_old_t) + (1-a)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
        s_t = g*(x_t - l_t) + (1-g)*s_old_t

    Seasonal init convention: the pre-history season slots are ZERO (the
    first period's seasonal indices are learned through gamma, not
    pre-fit) — chosen because it is exactly replicable in a recursive-CTE
    oracle carrying the season ring as a LIST column; a mean-of-first-
    period init would add an engine-ordered summation to the contract.
    Note s_0 is emitted as exactly 0.0 (g*(x_0 - l_0) == 0).

    Float contract (same as ewma/holt): the recurrence is written with
    IDENTICAL operation order on both engines, so every step is the same
    IEEE-754 double sequence and the outputs are bit-identical —
    UNROUNDED on purpose (rounding is what breaks parity, not the
    arithmetic). Same one-exchange batched-arrays shape as ewma: series
    collapse to sorted arrays JVM-side, Python steps batches via
    map_series, no grouped-map dispatch tax, no per-row Python."""
    a, bcf, g, m = float(alpha), float(beta), float(gamma), int(period)
    if m < 1:
        raise ValueError("period must be >= 1")

    def _step(xs):
        l_all, b_all, s_all, _ = _hw_step(xs, a, bcf, g, m)
        return {"hw_level": l_all, "hw_trend": b_all, "hw_season": s_all}

    return _per_point(
        df, key, ts_col, val_col, id_col, _step,
        [("hw_level", T.DoubleType()), ("hw_trend", T.DoubleType()),
         ("hw_season", T.DoubleType())],
    )


def ewm_band(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.25,
    z: float = 3.0,
) -> DataFrame:
    """EW control band (EWMA control chart): per point, the running
    exponentially-weighted mean AND variance, plus a breach flag testing
    the point against the band its PRIOR state predicted (a spike must
    not widen the band that judges it):

        d_i    = x_i - m_{i-1}
        breach = v_{i-1} > 0  AND  |d_i| > z * sqrt(v_{i-1})
        step   = alpha * d_i
        m_i    = m_{i-1} + step
        v_i    = (1-alpha) * (v_{i-1} + step * d_i)

    (West 1979 incremental EW variance; m_0 = x_0, v_0 = 0, first point
    never breaches.) The self-tuning alerting primitive: the band adapts
    to each series' own level and noise, no global threshold to pick.

    Float contract: every step is a FIXED IEEE op sequence (one subtract,
    one scale, one add, one multiply-accumulate-scale; the lone sqrt is
    correctly rounded by IEEE 754, and z stays a literal) — so a DuckDB
    recursive CTE stepping the identical order reproduces all columns
    bit-exactly, the holt_smoothing proof shape. At dyadic alpha the
    *step* scaling is additionally exact, but bit-parity only needs the
    identical order. Returns (id_col, ewm_mean, ewm_var, breach)
    UNROUNDED. Same one-exchange batched-arrays shape as ewma."""
    a, zz = float(alpha), float(z)

    def _step(xs):
        m, v = xs[0], 0.0
        m_all, v_all, br_all = [m], [v], [False]
        for x in xs[1:]:
            d = x - m
            br_all.append(v > 0.0 and abs(d) > zz * math.sqrt(v))
            step = a * d
            m = m + step
            v = (1.0 - a) * (v + step * d)
            m_all.append(m); v_all.append(v)
        return {"ewm_mean": m_all, "ewm_var": v_all, "breach": br_all}

    return _per_point(
        df, key, ts_col, val_col, id_col, _step,
        [("ewm_mean", T.DoubleType()), ("ewm_var", T.DoubleType()),
         ("breach", T.BooleanType())],
    )


def kalman_level(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    q: float = 0.25,
    r: float = 1.0,
) -> DataFrame:
    """Kalman filter for the local-level (random-walk + noise) model per
    series — the optimal-gain generalization of EWMA: where EWMA's alpha
    is fixed, the Kalman gain STARTS high (trust early observations) and
    converges to the steady-state alpha the q/r ratio implies, so the
    filter self-tunes its warm-up. Recurrence per series, in this exact
    IEEE op order (one add, one divide, one multiply-add, one multiply
    per step — an engine replaying the same order is bit-identical; the
    divide makes the values non-dyadic, so tests pin bit-equality against
    an explicit same-order oracle rather than a closed form):

        x_0 = z_0, P_0 = r
        P~  = P + q
        K   = P~ / (P~ + r)
        x   = x + K * (z - x)
        P   = (1 - K) * P~

    Emits (id_col, kf_mean, kf_var, kf_gain) — kf_var is the POSTERIOR
    state variance (shrinks toward the Riccati fixed point), kf_gain the
    gain used at that step (gain 0 for the first point: the prior IS the
    observation). Same one-exchange batched-arrays shape as ewma/holt."""
    qf, rf = float(q), float(r)

    def _step(zs):
        x, p = zs[0], rf
        x_all, p_all, k_all = [x], [p], [0.0]
        for z in zs[1:]:
            p_pred = p + qf
            gain = p_pred / (p_pred + rf)
            x = x + gain * (z - x)
            p = (1.0 - gain) * p_pred
            x_all.append(x); p_all.append(p); k_all.append(gain)
        return {"kf_mean": x_all, "kf_var": p_all, "kf_gain": k_all}

    return _per_point(
        df, key, ts_col, val_col, id_col, _step,
        [("kf_mean", T.DoubleType()), ("kf_var", T.DoubleType()),
         ("kf_gain", T.DoubleType())],
    )


def holt_winters_forecast(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    period: int = 4,
    horizon: int = 4,
) -> DataFrame:
    """h-step-ahead Holt-Winters forecasts from each series' FINAL state:

        yhat(t+h) = l_t + h*b_t + s[(t+h) mod m]

    with (l, b, season ring) stepped by the exact holt_winters recurrence
    (same zero-seasonal cold start, same IEEE op order; see holt_winters's
    float contract). The forecast itself is one multiply and two adds of
    bit-identical state, so yhat is emitted UNROUNDED and hash-matches a
    recursive-CTE oracle that carries the ring to the last row. Singleton
    series forecast flat at x_0 (b = 0, ring all zero).

    Output (key, h, yhat) for h = 1..horizon — the rollup-tier companion
    ("what do the next h buckets look like") to the smoothing filters.
    Same one-exchange batched-arrays shape."""
    a, bcf, g = float(alpha), float(beta), float(gamma)
    m, H = int(period), int(horizon)
    if m < 1 or H < 1:
        raise ValueError("period and horizon must be >= 1")
    hs = list(range(1, H + 1))

    def _forecast(k, vals):
        l_all, b_all, _, seas = _hw_step(vals.tolist(), a, bcf, g, m)
        l, b, t_last = l_all[-1], b_all[-1], len(vals) - 1
        return {
            key: [k] * H,
            "h": hs,
            "yhat": [l + float(h) * b + seas[(t_last + h) % m] for h in hs],
        }

    schema = T.StructType(
        [
            T.StructField(key, df.schema[key].dataType),
            T.StructField("h", T.IntegerType()),
            T.StructField("yhat", T.DoubleType()),
        ]
    )
    return map_series(
        df, F.col(key), [ts_micros(ts_col), F.col(id_col)],
        [F.col(val_col).cast("double")], _forecast, schema,
    )
