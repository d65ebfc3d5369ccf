"""Detokenize-and-score pipeline — the Spark twin of the reference's
process_all_results.py entry point (SURVEY §3.3):

    preds ⋈ trues on (series, pos)  [J2 — never row order]
    → ceiling (float tokens → int, NaN → 0 placeholder)  [F8]
    → dequantize against the fitted edges table  [F3]
    → per-series error metrics  [A11]

The reference pairs preds/trues by DataFrame index and aligns columns by
name (J1); the engine keys everything on (series_id, pos). Every step is a
Catalyst join or expression: no Python in the plan, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_ceiling(df: DataFrame, token_col: str = "token") -> DataFrame:
    """np.ceil(...).astype('Int64') twin; NaN → 0 placeholder
    (process_all_results.py:258-270 + destokenize NaN handling :215-226)."""
    return df.withColumn(
        token_col,
        F.coalesce(F.ceil(F.col(token_col)).cast("long"), F.lit(0)),
    )


def score_predictions(
    preds: DataFrame,
    trues: DataFrame,
    edges_df: DataFrame,
    key: str = "series_id",
    pos_col: str = "pos",
    token_col: str = "token",
) -> DataFrame:
    """Full pipeline: ceil → dequantize both sides against ``edges_df``
    (a ``fit_edges_df`` table) → equi-join on (series, pos) → per-series
    MSE/RMSE/MAE/MAPE/MSPE/R2 with NaN-pair masking and the
    zero-denominator guard (process_all_results.py:273-319). A series with
    no fitted edges drops out of the score."""
    from ..functions.quantize import dequantize_with_edges

    def decode(df, out_col):
        return dequantize_with_edges(df, edges_df, key, token_col, out_col).select(
            key, pos_col, out_col
        )

    p = decode(apply_ceiling(preds, token_col), "pred")
    t = decode(trues, "true")
    # a pair with a NULL decode (negative token) or a NaN one is masked
    j = p.join(t, [key, pos_col]).dropna(subset=["pred", "true"])
    err = F.col("true") - F.col("pred")
    denom = F.when(F.col("true") != 0, F.col("true")).otherwise(F.lit(1.0))
    g = j.groupBy(key).agg(
        F.avg(err * err).alias("MSE"),
        F.avg(F.abs(err)).alias("MAE"),
        (F.avg(F.abs(err / denom)) * 100).alias("MAPE"),
        # explicit multiply, not pow(x, 2): Math.pow is not guaranteed
        # bit-equal to x*x, and oracle parity compares the rounded result
        (F.avg((err / denom) * (err / denom)) * 100).alias("MSPE"),
        F.sum(err * err).alias("_ss_res"),
        F.sum("true").alias("_sv"),
        F.sum(F.col("true") * F.col("true")).alias("_svv"),
        F.count(F.lit(1)).alias("valid_samples"),
    )
    ss_tot = F.col("_svv") - F.col("_sv") * F.col("_sv") / F.col("valid_samples")
    return g.select(
        key,
        "MSE",
        F.sqrt("MSE").alias("RMSE"),
        "MAE",
        "MAPE",
        "MSPE",
        F.when(ss_tot != 0, F.lit(1) - F.col("_ss_res") / ss_tot).alias("R2"),
        "valid_samples",
    )
