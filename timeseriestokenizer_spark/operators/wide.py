"""Wide series tables (the reference's Experiment-1 shape): a `date` column
plus K numeric value columns, processed column-at-a-time — each column is an
independent series/"language" (transform_files_into_tokens.py:160-166).

Spark mapping (SURVEY §1.3): melt wide → long (series_id = column name), then
ONE ``series.map_series`` pass runs the reference's exact per-column chain on
each column's time-sorted values:

    StandardScaler fit+transform (ddof=0)            [A1/F11]
    <PAD>/<EBOS> marking on the calendar spine       [F4/W2/W3]
    equal-width discretize (N - #specials edges)     [F1, digitize right=True]
    special-token INSERT with the reference's
      raw-index drift semantics                      [§4.3.5]
    TPE train to target vocab + encode               [B2/B3]

Parallelism unit = column (intra-column work is sequential by TPE's nature —
same as the reference, but K columns run concurrently across the cluster).
The pass emits one artifact row per column: scaler, edges, marked
base tokens, merge table, encoded tokens — the Iceberg-able artifact tables.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle import numpy_oracle as O
from .series import map_series, ts_micros

WIDE_ARTIFACT_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("std", T.DoubleType()),
        T.StructField("edges", T.ArrayType(T.DoubleType())),
        T.StructField("base_tokens", T.ArrayType(T.IntegerType())),
        T.StructField(
            "merges",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("left", T.IntegerType()),
                        T.StructField("right", T.IntegerType()),
                        T.StructField("id", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("encoded_tokens", T.ArrayType(T.IntegerType())),
        T.StructField("compression", T.DoubleType()),
    ]
)


def melt_wide(wide: DataFrame, id_col: str = "date", value_cols: list[str] | None = None) -> DataFrame:
    """Wide → long: (series_id, ts, value) via stack (single scan, no UDF)."""
    value_cols = value_cols or [c for c in wide.columns if c != id_col]
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    return wide.select(
        F.col(id_col).alias("ts"),
        F.expr(f"stack({len(value_cols)}, {pairs}) as (series_id, value)"),
    ).select("series_id", "ts", "value")


def tokenize_wide(
    wide: DataFrame,
    N: int = 50,
    target_vocab: int = 600,
    hour_toks: int = 24,
    freq_seconds: int = 3600,
    id_col: str = "date",
    use_specials: bool = True,
) -> DataFrame:
    """Full per-column reference chain as one per-series pass.

    Special ids: {'<PAD>': N-1, '<EBOS>': N} (transform_files_into_tokens.py:47-48);
    discretization uses N - 2 edges when specials are on.
    """
    long = melt_wide(wide, id_col)
    pad_id, ebos_id = N - 1, N

    def _tokenize(sid, ts_us, raw):
        mean, std = O.fit_scaler(raw)
        scaled = O.scale(raw, mean, std)

        n_bins = N - 2 if use_specials else N
        edges = O.equal_width_edges(scaled, n_bins)
        symbols = O.digitize_tokens(scaled, edges)

        if use_specials:
            ts_s = ts_us // 10**6
            spine, is_pad, is_ebos = O.mark_special_tokens_spine(
                ts_s, freq_seconds, hour_toks
            )
            # gap-free regime (the one the reference actually exercises,
            # SURVEY §4.3.5): spine positions == row positions
            special_at = {}
            for pos in np.nonzero(is_pad)[0]:
                special_at[int(pos)] = pad_id
            for pos in np.nonzero(is_ebos)[0]:
                special_at[int(pos)] = ebos_id
            base = O.insert_special_tokens(symbols, special_at)
        else:
            base = [int(s) for s in symbols]

        model = O.TpeModel(N)
        encoded = model.train(base, target_vocab)
        merges = [
            {"left": int(l), "right": int(r), "id": int(i)}
            for (l, r), i in model.merges.items()
        ]
        return {
            "series_id": [sid],
            "mean": [mean],
            "std": [std],
            "edges": [list(map(float, edges))],
            "base_tokens": [base],
            "merges": [merges],
            "encoded_tokens": [encoded],
            "compression": [len(base) / len(encoded) if encoded else 0.0],
        }

    return map_series(
        long, F.col("series_id"), [], [ts_micros("ts"), F.col("value").cast("double")], _tokenize,
        WIDE_ARTIFACT_SCHEMA,
    )
