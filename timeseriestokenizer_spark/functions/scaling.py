"""Per-series StandardScaler registry as a table: fit as a distributed agg,
apply as a join inside Catalyst.

Reference: one pickled sklearn StandardScaler per (dataset, column)
(transform_files_into_tokens.py:173-183). sklearn uses population std
(ddof=0) and maps zero scale to 1.0 — so the fit is
``groupBy(series).agg(avg, stddev_pop)`` (SURVEY.md §2.4 A1, §4.3.7).

The fitted table ``scalers(series_id, mean, std)`` is the artifact; both
directions (`scale_expr`, `inverse_scale_expr`) join it back in and compute
in-line, so the registry never reaches the driver and the plan holds no
Python stage. No broadcast hint: AQE broadcasts the table when it is
dimension-sized and shuffles both sides when the registry itself is data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_scalers(df: DataFrame, key: str, value_col: str) -> DataFrame:
    """scalers(series_id, mean, std) with ddof=0 std; zero/null std -> 1.0."""
    return df.groupBy(F.col(key).alias("series_id")).agg(
        F.avg(value_col).alias("mean"),
        F.coalesce(
            F.when(F.stddev_pop(value_col) == 0.0, 1.0).otherwise(
                F.stddev_pop(value_col)
            ),
            F.lit(1.0),
        ).alias("std"),
    )


def _join_scalers(df: DataFrame, scalers: DataFrame, key: str) -> DataFrame:
    sc = scalers.select(
        F.col("series_id").alias("_sk"), F.col("mean").alias("_mean"),
        F.col("std").alias("_std"),
    )
    return df.join(sc, F.col(key) == F.col("_sk"), "left")


def scale_expr(df: DataFrame, scalers: DataFrame, key: str, value_col: str,
               out_col: str = "scaled") -> DataFrame:
    """z = (x - mean) / std: left-join the scalers table and scale in-line.
    A series with no fitted row keeps its rows and gets a NULL ``out_col``."""
    return (
        _join_scalers(df, scalers, key)
        .withColumn(out_col, (F.col(value_col) - F.col("_mean")) / F.col("_std"))
        .drop("_sk", "_mean", "_std")
    )


def inverse_scale_expr(df: DataFrame, scalers: DataFrame, key: str, value_col: str,
                       out_col: str = "value") -> DataFrame:
    """x = z * std + mean through the same join shape as `scale_expr`
    (docs/WORKFLOW.md:336-342). A series with no fitted row gets NULL."""
    return (
        _join_scalers(df, scalers, key)
        .withColumn(out_col, F.col(value_col) * F.col("_std") + F.col("_mean"))
        .drop("_sk", "_mean", "_std")
    )
