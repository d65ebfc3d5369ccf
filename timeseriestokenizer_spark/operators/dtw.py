"""Dynamic Time Warping distance — elastic series similarity.

Graft-new (the reference compares series only pointwise; DTW is the
standard elastic measure for "same shape, different pacing" — warping
alignment absorbs phase drift that Euclidean/Pearson punish). The shape
here is ``dtw_to``: ONE target series against the whole corpus — linear
in series count, the correlate_to precedent. All-pairs DTW is quadratic
BY DEFINITION; at scale you shortlist candidates first (SAX words /
[[sax_motifs]], MinHash on PAA symbols) and run DTW only on the
shortlist, exactly like the dedup family's candidates-then-verify.

Execution shape (the ewma/gorilla batched-arrays pattern,
``series.map_series``): series collapse JVM-side to sorted arrays (ONE
exchange on key), the target's array rides into the Python workers as a
closure constant (it is one series — metadata-sized, like the scaler
registry; PAA-reduce upstream if your series are long: DTW cost is
O(n*m) per pair regardless of engine), and the DP runs over Arrow
batches of whole series with no per-row Python dispatch.

Float contract: with integer input (cents) and L1 cost |a-b|, every DP
cell is an exact int64 — min/add of integers — so the emitted distance
hash-matches the DuckDB recursive-CTE oracle (which carries the DP row
as a LIST and folds the within-row recurrence with list_reduce)
exactly, no rounding anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
import pyspark.sql.types as T

from .series import map_series, ts_micros


def _dtw_dist(a: np.ndarray, b: np.ndarray) -> float:
    """Classic full-window DTW with L1 cost; int64-exact on int input."""
    n, m = len(a), len(b)
    prev = np.empty(m, dtype=a.dtype)
    prev[0] = abs(a[0] - b[0])
    for j in range(1, m):
        prev[j] = prev[j - 1] + abs(a[0] - b[j])
    cur = np.empty_like(prev)
    for i in range(1, n):
        cur[0] = prev[0] + abs(a[i] - b[0])
        for j in range(1, m):
            cur[j] = abs(a[i] - b[j]) + min(prev[j], prev[j - 1], cur[j - 1])
        prev, cur = cur, prev
    return prev[m - 1]


def dtw_to(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    target_key=None,
) -> DataFrame:
    """DTW distance from every series to ``target_key``'s series
    (default: the minimum key — deterministic). Returns
    (key, n_points, m_points, dtw_dist); the target itself scores 0."""
    if target_key is None:
        target_key = df.agg(F.min(key)).first()[0]
    order = [ts_micros(ts_col), F.col(id_col)]
    # the target's rows sort driver-side, in the series order map_series uses
    tgt_rows = sorted(
        df.filter(F.col(key) == F.lit(target_key)).select(*order, val_col).collect()
    )
    if not tgt_rows:
        raise ValueError(f"target key {target_key!r} has no rows")
    integral = df.schema[val_col].dataType.typeName() in ("long", "integer", "short")
    np_t = np.int64 if integral else np.float64
    b = np.asarray([r[-1] for r in tgt_rows], dtype=np_t)

    def _compute(k, vals):
        a = np.asarray(vals, dtype=np_t)
        return {key: [k], "n_points": [len(a)], "m_points": [len(b)],
                "dtw_dist": [_dtw_dist(a, b)]}

    schema = T.StructType(
        [
            T.StructField(key, df.schema[key].dataType),
            T.StructField("n_points", T.LongType()),
            T.StructField("m_points", T.LongType()),
            T.StructField("dtw_dist", T.LongType() if integral else T.DoubleType()),
        ]
    )
    return map_series(df, F.col(key), order, [F.col(val_col)], _compute, schema)
