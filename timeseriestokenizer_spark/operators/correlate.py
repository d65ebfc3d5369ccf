"""Cross-series correlation — the align-and-compare analytics every
rollup store serves ("which conversations' latency moves together?").

Graft-new (the reference processes each series independently; it has no
cross-series operator). Two shapes, chosen for scale honesty:

* ``correlate_to``: ONE series against the whole corpus — linear. The
  target's bucket vector broadcasts into a hash join against everyone
  else's tier rows; at 10^8 series this is the shape you actually run.
* ``correlate_pairs``: all-pairs within an explicit key subset — the
  per-bucket self-join is quadratic in the subset size BY DEFINITION, so
  the subset is a required argument when the corpus is large (pass
  ``keys=None`` only when the series count itself is bounded, as in the
  contract fixture). The candidates-to-verify pattern from the dedup
  family applies upstream: use SAX words / MinHash to choose the subset.

Float contract: Pearson r from EXPLICIT power sums (n, Σa, Σb, Σab, Σa²,
Σb²) — the rolling_zscore precedent: both engines aggregate the same
terms and evaluate the identical closed form, with the result rounded to
6 dp on both sides (engine summation-order ulps live below that). Zero
variance on either side yields NULL (guarded division, portable).

Alignment: series are first bucketed to a tier (default 1h, avg value
per bucket rounded to 6 dp so the joined inputs are already
engine-identical), then joined on bucket_ts. A pair's r uses only
buckets BOTH series occupy; pairs with fewer than ``min_overlap``
buckets are dropped (corr over 2 points is noise, and the filter keeps
the output deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..session import hold
from .rollup import bucket_ts


def _bucketed(df: DataFrame, key: str, ts_col: str, val_col: str, tier: str):
    return (
        df.filter(F.col(val_col).isNotNull())
        .groupBy(
            F.col(key).cast("string").alias("k"),
            bucket_ts(tier, ts_col).alias("bucket_ts"),
        )
        .agg(F.round(F.avg(val_col), 6).alias("v"))
    )


def _corr_from_pairs(joined: DataFrame, min_overlap: int) -> DataFrame:
    agg = joined.groupBy("key_a", "key_b").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.sum("va").alias("sa"),
        F.sum("vb").alias("sb"),
        F.sum(F.col("va") * F.col("vb")).alias("sab"),
        F.sum(F.col("va") * F.col("va")).alias("sa2"),
        F.sum(F.col("vb") * F.col("vb")).alias("sb2"),
    )
    n = F.col("n_overlap").cast("double")
    cov = n * F.col("sab") - F.col("sa") * F.col("sb")
    var_a = n * F.col("sa2") - F.col("sa") * F.col("sa")
    var_b = n * F.col("sb2") - F.col("sb") * F.col("sb")
    denom = F.sqrt(var_a) * F.sqrt(var_b)
    return (
        agg.filter(F.col("n_overlap") >= int(min_overlap))
        .select(
            "key_a",
            "key_b",
            "n_overlap",
            F.round(
                F.when(denom > 0.0, cov / denom).otherwise(F.lit(None)), 6
            ).alias("corr"),
        )
    )


_TIER_SECONDS = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}

_PAIR_SUMS_SCHEMA = (
    "key_a string, key_b string, n_overlap long, "
    "sa double, sb double, sab double, sa2 double, sb2 double"
)


def _pair_sums_vs_all(bc, min_overlap: int):
    """mapInPandas factory: each task computes its slice of series against
    the WHOLE broadcast vector matrix — one copy of the matrix per
    executor, never one per pair row. (A plain broadcast self-join ships
    both 27-double vectors on EVERY pair row: at 15k series that is ~48 GB
    of Arrow traffic for a 3 MB matrix; this shape finishes the same 10x
    corpus in a fraction of the time, while the round-start per-bucket
    self-join fills the disk and dies.)

    Per (a, b) pair the arithmetic is element-for-element what the pairwise
    form computed: mask where BOTH present, zero-fill, axis-1 sums — numpy
    applies the same pairwise reduction over the same contiguous axis, so
    the power sums are bit-identical. Pair ordering key_a < key_b uses
    UTF-8 byte order (bytes comparison), exactly Spark's UTF8String
    ordering; the min_overlap filter is applied here so sub-threshold
    pairs never cross the Arrow boundary."""
    import numpy as np
    import pandas as pd

    from bisect import bisect_right

    def _fn(it):
        # keys/matrix sorted by UTF-8 encoded key: the key_b > key_a
        # selection is a bisect suffix, not a per-row scan
        keys, enc, M = bc.value
        Mm = ~np.isnan(M)
        for pdf in it:
            for a_key, a_vec in zip(pdf["k"], pdf["vec"]):
                a = np.asarray(a_vec, dtype=np.float64)
                i = bisect_right(enc, a_key.encode("utf-8"))
                if i >= len(keys):
                    continue
                B = M[i:]
                m = ~np.isnan(a)[None, :] & Mm[i:]
                A0 = np.where(m, a[None, :], 0.0)
                B0 = np.where(m, B, 0.0)
                n = m.sum(1)
                keep = n >= min_overlap
                if not keep.any():
                    continue
                yield pd.DataFrame(
                    {
                        "key_a": a_key,
                        "key_b": [k for k, g in zip(keys[i:], keep) if g],
                        "n_overlap": n[keep],
                        "sa": A0.sum(1)[keep],
                        "sb": B0.sum(1)[keep],
                        "sab": (A0 * B0).sum(1)[keep],
                        "sa2": (A0 * A0).sum(1)[keep],
                        "sb2": (B0 * B0).sum(1)[keep],
                    }
                )

    return _fn


def _corr_from_sums(sums: DataFrame, min_overlap: int) -> DataFrame:
    """Pearson r from precomputed power sums — the identical closed form
    (and rounding) as _corr_from_pairs, minus the aggregation."""
    n = F.col("n_overlap").cast("double")
    cov = n * F.col("sab") - F.col("sa") * F.col("sb")
    var_a = n * F.col("sa2") - F.col("sa") * F.col("sa")
    var_b = n * F.col("sb2") - F.col("sb") * F.col("sb")
    denom = F.sqrt(var_a) * F.sqrt(var_b)
    return sums.filter(F.col("n_overlap") >= int(min_overlap)).select(
        "key_a",
        "key_b",
        "n_overlap",
        F.round(
            F.when(denom > 0.0, cov / denom).otherwise(F.lit(None)), 6
        ).alias("corr"),
    )


def correlate_pairs(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    tier: str = "1h",
    min_overlap: int = 10,
    keys: list[str] | None = None,
) -> DataFrame:
    """All-pairs Pearson correlation within ``keys`` (or all series when
    None — bounded corpora only; see module docstring). Returns
    (key_a < key_b, n_overlap, corr)."""
    b = _bucketed(df, key, ts_col, val_col, tier)
    if keys is not None:
        b = b.filter(F.col("k").isin([str(x) for x in keys]))
    # Pair the SERIES, not the bucket rows. The former per-bucket self-join
    # expanded to n_series² rows PER BUCKET and then hash-aggregated them —
    # and because every pair occurs in every bucket partition, the partial
    # aggregate emitted ~(pairs × partitions) rows, so the agg dominated
    # wall time (26.7M joined rows → 4.2 s at sf0.1; at 10x the shape
    # fills local disk and dies). Instead collapse each series to ONE
    # dense bucket-indexed vector (same spine idea as gap_fill's calendar
    # sequence; the global extent rides a broadcast 1-row anchor), ship
    # the sorted vector matrix once per executor, and compute each task's
    # slice of pairs against it in vectorized numpy (guide §4.2/§8: move
    # the lightweight proxy once, never per pair). Every pair is computed
    # exactly once — no n²-row shuffle, no hash agg, no per-pair vector
    # copies.
    # The dense spine is n_series × n_buckets, the same bound the bucketed
    # table already has for the bounded subsets this operator contracts for
    # (see module docstring: pass ``keys`` when the corpus is large).
    step = _TIER_SECONDS[tier]
    ext = b.agg(F.min("bucket_ts").alias("t0"), F.max("bucket_ts").alias("t1")).select(
        "t0",
        ((F.unix_timestamp("t1") - F.unix_timestamp("t0")) / step + 1)
        .cast("int")
        .alias("nb"),
    )
    withi = b.crossJoin(F.broadcast(ext)).select(
        "k",
        "v",
        ((F.unix_timestamp("bucket_ts") - F.unix_timestamp("t0")) / step)
        .cast("int")
        .alias("i"),
        "nb",
    )
    # held: the collect below and the final pair pass both read vecs, which
    # would otherwise be aggregated twice (release with
    # session.release_held() after the consuming action)
    vecs = hold(withi.groupBy("k").agg(
        F.first("nb").alias("nb"),
        F.map_from_entries(F.collect_list(F.struct("i", "v"))).alias("m"),
    ).select("k", F.expr("transform(sequence(0, nb-1), j -> m[j])").alias("vec")))
    # One copy of the vector matrix per executor via an explicit broadcast —
    # the SAME rows a broadcast self-join would pull to the driver anyway,
    # but without re-shipping both vectors on every pair row (n² × 2
    # vector copies of Arrow traffic; the subset-bounded contract above is
    # what keeps this matrix dimension-sized).
    import numpy as np

    rows = vecs.collect()
    order = sorted(range(len(rows)), key=lambda j: rows[j]["k"].encode("utf-8"))
    keys = [rows[j]["k"] for j in order]
    enc = [k.encode("utf-8") for k in keys]
    mat = (
        np.array([np.asarray(rows[j]["vec"], dtype=np.float64) for j in order])
        if rows
        else np.zeros((0, 0))
    )
    bc = df.sparkSession.sparkContext.broadcast((keys, enc, mat))
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    sums = vecs.repartition(n_parts).mapInPandas(
        _pair_sums_vs_all(bc, int(min_overlap)), _PAIR_SUMS_SCHEMA
    )
    return _corr_from_sums(sums, min_overlap)


def correlate_to(
    df: DataFrame,
    target_key: str,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    tier: str = "1h",
    min_overlap: int = 10,
) -> DataFrame:
    """ONE series vs the whole corpus — the linear production shape: the
    target's bucket vector (tier-sized, tiny) broadcasts into an equi-join
    on bucket_ts against everyone else's tier rows. Returns
    (key_a = target, key_b, n_overlap, corr)."""
    b = _bucketed(df, key, ts_col, val_col, tier)
    target = b.filter(F.col("k") == str(target_key)).select(
        F.col("k").alias("key_a"), "bucket_ts", F.col("v").alias("va")
    )
    rest = b.filter(F.col("k") != str(target_key)).select(
        F.col("k").alias("key_b"), "bucket_ts", F.col("v").alias("vb")
    )
    joined = rest.join(F.broadcast(target), "bucket_ts")
    return _corr_from_pairs(joined, min_overlap)


def ccf(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    x_col: str = "x",
    y_col: str = "y",
    max_lag: int = 3,
    min_points: int = 10,
) -> DataFrame:
    """Cross-correlation function between two INTEGER signals of the same
    series at signed lags -max_lag..max_lag — the lead/lag detector a
    transcript store runs ("does a long silence precede a large turn?":
    positive best_lag ⇒ x leads y).

    Same-division-free doctrine as ``decompose.acf``: center both signals
    exactly as c = n·v - Σv (BIGINT), so every lagged product-sum is an
    exact integer; the norms Σcx², Σcy² are exact; the only float ops are
    two IEEE sqrt's, one multiply, and one divide — the identical
    sequence on identical inputs on any engine, emitted unrounded.

        r_k = Σ_t cx_t · cy_{t+k} / (√Σcx² · √Σcy²),  k ∈ [-L, L]

    (positive k shifts y forward: x_t pairs with the LATER y_{t+k}).
    Products at the series edge (no overlap partner) drop out of the sum
    on both engines. ``best_lag`` is the lag maximizing |r_k| (NULL r
    sorts last, ties break to the smallest lag) — constant on all of a
    series' rows.

    Integer-exactness bound (documented, the mann_kendall pattern):
    n³·max|x|·max|y| must stay under 2⁶³ — at 10³-row series with
    ~10⁴·10⁵ magnitude products that holds with ~100× slack, but 10⁴
    rows at 10⁵·10⁵ does NOT (10²² ≫ 2⁶³): longer/larger series
    pre-downsample via the rollup tiers or rescale one signal first.

    One hash exchange on ``key``: the centering window, the shift
    window, the final groupBy, and the best-lag window all cluster on
    the series key.
    """
    order = [F.col(ts_col), F.col(id_col)]
    wall = W.partitionBy(key)
    wrun = W.partitionBy(key).orderBy(*order)
    n = F.count(x_col).over(wall)
    lags = list(range(-int(max_lag), int(max_lag) + 1))
    s1 = df.select(
        F.col(key),
        *order,
        n.alias("n"),
        (F.col(x_col) * n - F.sum(x_col).over(wall)).alias("cx"),
        (F.col(y_col) * n - F.sum(y_col).over(wall)).alias("cy"),
    ).where(F.col("n") >= int(min_points))
    shifted = s1.select(
        F.col(key),
        F.col("n"),
        F.col("cx"),
        F.col("cy"),
        *[
            (
                F.lead("cy", k).over(wrun) if k >= 0 else F.lag("cy", -k).over(wrun)
            ).alias(f"cy_{k + max_lag}")
            for k in lags
        ],
    )
    aggd = shifted.groupBy(key).agg(
        F.first("n").alias("n_points"),
        F.sum(F.col("cx") * F.col("cx")).alias("nx"),
        F.sum(F.col("cy") * F.col("cy")).alias("ny"),
        *[
            F.sum(F.col("cx") * F.col(f"cy_{k + max_lag}")).alias(f"num_{k + max_lag}")
            for k in lags
        ],
    )
    denom = F.sqrt(F.col("nx").cast("double")) * F.sqrt(F.col("ny").cast("double"))
    pairs = ", ".join(f"{k}, num_{k + max_lag}" for k in lags)
    stacked = aggd.select(
        F.col(key),
        F.col("n_points"),
        denom.alias("denom"),
        F.expr(f"stack({len(lags)}, {pairs}) AS (lag, numer)"),
    ).select(
        F.col(key),
        F.col("lag"),
        F.col("n_points"),
        F.when(
            F.col("denom") > 0.0, F.col("numer").cast("double") / F.col("denom")
        ).alias("ccf"),
    )
    wbest = W.partitionBy(key).orderBy(
        F.when(F.col("ccf").isNull(), F.lit(-2.0))
        .otherwise(F.abs(F.col("ccf")))
        .desc(),
        F.col("lag").asc(),
    )
    return stacked.select(
        F.col(key),
        F.col("lag"),
        F.col("n_points"),
        F.col("ccf"),
        F.first("lag").over(wbest).alias("best_lag"),
    )
