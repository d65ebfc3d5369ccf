"""LTTB downsampling (Steinarsson, "Downsampling Time Series for Visual
Representation", 2013) — the perceptual companion to the pixel-exact M4
reduction (operators/rollup.m4_downsample): pick ``n_out`` points per
series that preserve the line's visual shape by maximizing triangle areas.

Semantics (deterministic, engine- and oracle-pinned):
* points sort by (ts, value); first and last are always kept;
* interior points map to ``n_out - 2`` equal-count buckets via the INVERSE
  index map bucket(j) = floor(j * (n_out-2) / n_interior) — self-consistent
  on both engines, monotone, covers all points (LTTB variants differ only
  in this boundary convention; ours is pinned by the oracle);
* buckets resolve left to right: each keeps the point with the LARGEST
  triangle area against the previously selected point and the NEXT
  bucket's centroid (the final point for the last bucket); area ties break
  to the earliest timestamp.

Spark shape: series collapse to sorted arrays (collect_list struct — ONE
exchange) and stream through Arrow batches (``series.map_series``), the
same grouped-dispatch-free pattern as gorilla/TPE (CLAUDE.md gotcha:
per-group applyInPandas costs ~25 ms/group). The greedy recurrence is
sequential per series but two-at-a-time vectorized per bucket in numpy.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .series import map_series, ts_micros

LTTB_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("sel_idx", T.IntegerType()),  # 0-based output rank
    ]
)


def lttb_select(xs: np.ndarray, ys: np.ndarray, n_out: int) -> np.ndarray:
    """Indices of the selected points (ascending). xs/ys sorted by x."""
    n = len(xs)
    if n_out >= n or n <= 2:
        return np.arange(n)
    if n_out < 3:
        return np.array([0, n - 1])
    nb = n_out - 2
    interior = n - 2
    # inverse map: interior point j (0-based) → bucket floor(j*nb/interior)
    bucket = (np.arange(interior, dtype=np.int64) * nb) // interior
    starts = np.searchsorted(bucket, np.arange(nb), side="left") + 1
    ends = np.searchsorted(bucket, np.arange(nb), side="right") + 1
    sel = [0]
    for i in range(nb):
        lo, hi = starts[i], ends[i]
        if i + 1 < nb:
            nlo, nhi = starts[i + 1], ends[i + 1]
            cx = xs[nlo:nhi].mean()
            cy = ys[nlo:nhi].mean()
        else:
            cx, cy = xs[n - 1], ys[n - 1]
        ax, ay = xs[sel[-1]], ys[sel[-1]]
        bx, by = xs[lo:hi], ys[lo:hi]
        area = np.abs((ax - cx) * (by - ay) - (ax - bx) * (cy - ay))
        sel.append(lo + int(np.argmax(area)))  # first max → earliest ts
    sel.append(n - 1)
    return np.asarray(sel)


def lttb_downsample(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    n_out: int = 100,
) -> DataFrame:
    """Per-series LTTB to ``n_out`` points. One exchange (the collect_list
    group-by); the per-series greedy loop runs inside Arrow batches."""

    def _run(sid, ts, ys):
        # x = epoch µs MINUS the series' first µs: keeps every x (and
        # every partial sum inside a bucket mean) below 2^53, so the
        # arithmetic is EXACT and bit-identical to the SQL oracle's
        # epoch_us(ts) - min(...) regardless of either engine's
        # summation order (the raw-ns form is not even
        # double-representable)
        xi = ts.astype(np.int64)
        sel = lttb_select((xi - xi[0]).astype(np.float64), ys, n_out)
        return {
            "series_id": [sid] * len(sel),
            "ts": ts[sel],
            "value": ys[sel],
            "sel_idx": np.arange(len(sel)),
        }

    return map_series(
        df,
        F.col(key).cast("string"),
        [],
        [F.col(ts_col).cast("timestamp"), F.col(val_col).cast("double")],
        _run,
        LTTB_SCHEMA,
    )


# ---------------------------------------------------------------------------
# PAA + SAX (Lin, Keogh, Lonardi, Chiu 2003: "A Symbolic Representation of
# Time Series") — the canonical time-series-to-tokens reduction: z-normalize
# per series, average into S equal segments (PAA), map each segment mean to
# a letter via standard-normal breakpoints (SAX). The reference tokenizes by
# value-quantile bins; SAX is the published symbolic cousin a time-series
# engine is expected to serve (motif/novelty search, cheap indexing).
# Graft-new: the reference has no symbolic representation.
# ---------------------------------------------------------------------------

# standard-normal quantiles at i/a (the published SAX breakpoint table)
SAX_BREAKPOINTS = {
    3: [-0.4307272993, 0.4307272993],
    4: [-0.6744897502, 0.0, 0.6744897502],
    5: [-0.8416212336, -0.2533471031, 0.2533471031, 0.8416212336],
    6: [-0.9674215661, -0.4307272993, 0.0, 0.4307272993, 0.9674215661],
    7: [-1.0675705242, -0.5659488219, -0.1800123698,
        0.1800123698, 0.5659488219, 1.0675705242],
    8: [-1.1503493804, -0.6744897502, -0.3186393639, 0.0,
        0.3186393639, 0.6744897502, 1.1503493804],
}


def paa_sax(
    df,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    n_segments: int = 16,
    alphabet: int = 4,
):
    """Per-series PAA + SAX, entirely in Catalyst (two window passes + one
    groupBy; no Python anywhere):

      z_i   = (x_i - mean_series) / stddev_pop_series   (0 std -> 1.0)
      seg_i = (rank_i * S) div n                        (0-based, exact ints)
      paa_s = round(avg(z_i in seg), 6)
      sym_s = letter[#breakpoints <= paa_s]

    The symbol derives from the ROUNDED segment mean so the letter is a
    pure function of the emitted paa column (engines' last-ulp summation
    differences cannot flip a letter without flipping the recorded paa
    first — the contract-row float rule for order-dependent aggregates).
    Returns (key, segment, paa, n_pts, symbol), S rows per series: the
    n/S-fold reduction that makes symbolic indexes cheap at 100 TB."""
    from pyspark.sql import Window as W

    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {sorted(SAX_BREAKPOINTS)}")
    S = int(n_segments)
    wk = W.partitionBy(key)
    wo = wk.orderBy(ts_col, val_col)
    z = (
        df.withColumn("_mu", F.avg(val_col).over(wk))
        .withColumn(
            "_sd",
            F.when(F.stddev_pop(val_col).over(wk) == 0.0, F.lit(1.0)).otherwise(
                F.stddev_pop(val_col).over(wk)
            ),
        )
        .withColumn("_rn", F.row_number().over(wo) - 1)
        .withColumn("_n", F.count(F.lit(1)).over(wk))
        .select(
            key,
            ((F.col(val_col) - F.col("_mu")) / F.col("_sd")).alias("_z"),
            F.expr(f"(_rn * {S}) div _n").cast("int").alias("segment"),
        )
    )
    seg = z.groupBy(key, "segment").agg(
        F.round(F.avg("_z"), 6).alias("paa"),
        F.count(F.lit(1)).alias("n_pts"),
    )
    bps = SAX_BREAKPOINTS[alphabet]
    letters = "abcdefgh"[:alphabet]
    bin_expr = F.aggregate(
        F.array(*[F.lit(float(b)) for b in bps]),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("paa") >= b, 1).otherwise(0),
    )
    return seg.withColumn(
        "symbol", F.substring(F.lit(letters), bin_expr + 1, 1)
    )


def sax_motifs(
    df,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    n_segments: int = 16,
    alphabet: int = 4,
    word_len: int = 4,
    min_count: int = 2,
):
    """Motif discovery over the SAX layer (the query SAX exists for — Lin
    et al. 2003 §4): slide a ``word_len``-letter window over each series'
    symbol string, then count each word's occurrences and the number of
    DISTINCT series containing it across the whole corpus. A word shared
    by many series is a recurring shape (a motif) found without a single
    pairwise comparison — the symbolic index turns similarity search into
    a groupBy, which is what makes it tractable at 10^8 series.

    All JVM: paa_sax -> per-series ordered symbol array (array_sort of
    (segment, symbol) structs, ONE exchange on key) -> sliding-window
    concat via transform(sequence) -> explode -> one global word groupBy.
    Returns (word, n_series, n_occurrences), every word with
    n_occurrences >= min_count (a threshold, not a top-N — top-N truncates
    nondeterministically on count ties; the threshold set is exact)."""
    from pyspark.sql import functions as F

    sax = paa_sax(df, key, ts_col, val_col, n_segments, alphabet)
    seqs = sax.groupBy(key).agg(
        F.expr("array_sort(collect_list(struct(segment, symbol)))").alias("sq")
    ).select(
        key, F.expr("transform(sq, x -> x.symbol)").alias("syms")
    )
    w = int(word_len)
    words = seqs.select(
        key,
        F.explode(
            F.when(
                F.size("syms") >= w,
                F.expr(
                    f"transform(sequence(1, size(syms) - {w} + 1), "
                    f"i -> concat_ws('', slice(syms, i, {w})))"
                ),
            ).otherwise(F.array())
        ).alias("word"),
    )
    return (
        words.groupBy("word")
        .agg(
            F.countDistinct(key).alias("n_series"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= int(min_count))
    )


def sdt_door(ta, va, min_hi, max_lo, tp, vp, t, v, E):
    """One swinging-door step (see ``swinging_door``): point (t, v)
    against anchor (ta, va), running doors min_hi / max_lo and the point
    before it, (tp, vp). Returns (closed, ta, va, min_hi, max_lo); when
    the doors close, (tp, vp) is archived and is the new anchor. Shared
    with the streaming twin (streaming/sdt_stream.py), so both replay the
    same IEEE op order."""
    dt = t - ta
    if dt < 1:
        dt = 1
    hi = (v + E - va) / float(dt)
    lo = (v - E - va) / float(dt)
    nh = hi if hi < min_hi else min_hi
    nl = lo if lo > max_lo else max_lo
    if nl > nh:  # not `<=`: a NaN door must leave the doors open
        d2 = t - tp
        if d2 < 1:
            d2 = 1
        return True, tp, vp, (v + E - vp) / float(d2), (v - E - vp) / float(d2)
    return False, ta, va, nh, nl


def swinging_door(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    comp_dev: float = 15.0,
) -> DataFrame:
    """Swinging-door trending (SDT) compression — the process-historian
    archival filter (Bristol, "Swinging door trending: adaptive trend
    recording", ISA 1990; the algorithm behind OSIsoft PI compression,
    public knowledge). Keeps a point only when the line from the current
    anchor can no longer stay within ±``comp_dev`` of every skipped point:
    two "door" slopes per candidate —

        hi = (v + E - v_anchor) / dt,   lo = (v - E - v_anchor) / dt

    — tighten running min(hi) / max(lo); when max(lo) > min(hi) the doors
    close, the PREVIOUS point is archived and becomes the new anchor, and
    the current point re-evaluates against it (one re-evaluation suffices:
    a single point can never close its own doors for E > 0). First and
    last points are always kept. dt is exact-µs BIGINT clamped to >= 1
    (strictly increasing timestamps make the clamp a no-op; it exists so a
    pathological duplicate can't divide by zero on either engine).

    Emits (id_col, kept int) for EVERY input point. Float contract: the
    recurrence is two adds and one correctly-rounded IEEE divide per door,
    with min/max/compare (no further arithmetic) — a DuckDB recursive CTE
    stepping the same op order is bit-identical, so the kept set needs no
    tolerance (the pending contract row `swinging_door_keep` hash-matches).

    Scale shape: same one-exchange batched-arrays form as ewma/kalman —
    series collapse to sorted arrays JVM-side, Python sees Arrow batches
    of whole series, no per-group dispatch, no driver state. At 100 TB
    this is the retention-tier compressor that runs BEFORE gorilla packing
    (SDT decides which points survive; gorilla encodes the survivors)."""
    E = float(comp_dev)
    if not E > 0:
        raise ValueError(f"comp_dev must be positive, got {comp_dev}")

    def _sdt(k, ts_us, ids, vals):
        ts, vs = ts_us.tolist(), vals.tolist()
        n = len(ts)
        kept = [0] * n
        kept[0] = 1
        kept[n - 1] = 1
        ta, va, min_hi, max_lo = ts[0], vs[0], 1e308, -1e308
        for i in range(1, n):
            closed, ta, va, min_hi, max_lo = sdt_door(
                ta, va, min_hi, max_lo, ts[i - 1], vs[i - 1], ts[i], vs[i], E
            )
            if closed:
                kept[i - 1] = 1
        return {id_col: ids, "kept": kept}

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("kept", T.IntegerType()),
        ]
    )
    return map_series(
        df, F.col(key), [],
        [ts_micros(ts_col), F.col(id_col), F.col(val_col).cast("double")],
        _sdt, schema,
    )


def rdp_keep(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    epsilon: int = 2000,
) -> DataFrame:
    """Ramer–Douglas–Peucker polyline simplification over the
    position-indexed INTEGER series — the shape-preserving member of the
    downsample family (LTTB fixes the output COUNT; SDT bounds the
    reconstruction error in value units per anchor line; RDP bounds the
    PERPENDICULAR deviation of the whole curve, the classic cartography/
    trajectory criterion).

    Entirely integer-exact, zero floats: for the segment (lo, hi) with
    dx = hi - lo, dy = y_hi - y_lo, an interior point's perpendicular
    distance to the chord satisfies  d² = cross² / len²  with

        cross = dx·(y_j - y_lo) - dy·(j - lo)        (exact BIGINT)
        len²  = dx² + dy²                            (exact BIGINT)

    so the split test  max_j cross²  >  ε²·len²  and the argmax itself
    (ties → smallest j) are pure BIGINT comparisons — the DuckDB oracle
    replays them with a recursive segment frontier and hash-matches the
    kept set with no tolerance. First/last points always survive; a
    series of ≤ 2 points is kept whole.

    Emits (id_col, kept int) for EVERY input point, the swinging_door
    contract shape. ``epsilon`` is in the same integer units as
    ``val_col`` (pass cents with an integer-cents column).

    Scale shape: the same one-exchange batched-arrays form as
    swinging_door/ewma — series collapse to sorted arrays JVM-side,
    Python sees Arrow batches of whole series (bounded-series doctrine:
    pre-downsample series beyond ~5·10⁴ points via the rollup tiers;
    RDP's argmax scan is O(n·depth) per series). Integer bound for the
    SQL-oracle side (the Python side is arbitrary-precision): |cross| ≤
    2·n·max|y| for signed values, so n·max|y| < ~2²⁹·⁵ ≈ 7.6·10⁸ keeps
    cross² under 2⁶³.
    """
    eps = int(epsilon)
    if eps < 0:
        raise ValueError(f"epsilon must be non-negative, got {epsilon}")
    eps2 = eps * eps

    def _rdp(k, ids, vals):
        n = len(ids)
        ys = [int(v) for v in vals]  # Python ints: no int64 wrap
        kept = [0] * n
        kept[0] = 1
        kept[n - 1] = 1
        stack = [(0, n - 1)]
        while stack:
            lo, hi = stack.pop()
            if hi - lo < 2:
                continue
            dx, dy = hi - lo, ys[hi] - ys[lo]
            best_c2, best_j = -1, -1
            for j in range(lo + 1, hi):
                cross = dx * (ys[j] - ys[lo]) - dy * (j - lo)
                c2 = cross * cross
                if c2 > best_c2:  # strict: first max wins
                    best_c2, best_j = c2, j
            if best_c2 > eps2 * (dx * dx + dy * dy):
                kept[best_j] = 1
                stack.append((lo, best_j))
                stack.append((best_j, hi))
        return {id_col: ids, "kept": kept}

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("kept", T.IntegerType()),
        ]
    )
    return map_series(
        df, F.col(key), [ts_micros(ts_col)],
        [F.col(id_col), F.col(val_col).cast("long")], _rdp, schema,
    )
