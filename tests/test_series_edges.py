"""Edge cases for the per-series operators that run on
``operators.series.map_series``: empty input, a single-point series, and a
series with one NULL value. A NaN a kernel computes must come back as NULL.
The expected rows are the outputs of the mapInPandas implementations these
operators replaced, except the NULL-series rows of ``rdp_keep``,
``tpe_train`` and ``tpe_roundtrip_tokens``: those implementations failed
the task, and these operators skip the NULL value instead."""

import datetime as dt

import pytest
from pyspark.errors import PythonException

from timeseriestokenizer_spark.operators import anomaly, downsample, dtw, gorilla, smoothing, tpe

SCHEMA = "conv_id string, ts timestamp, value double, event_id long, pos long, token int"
T0 = dt.datetime(2026, 1, 1)


def _frame(spark, vals):
    """One series 'a', one point per minute; token = value mod 7."""
    rows = [
        ("a", T0 + dt.timedelta(minutes=j), v, j + 1, j, None if v is None else int(v) % 7)
        for j, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, SCHEMA)


# op -> (build, empty-input columns or the ValueError message, single-point
# rows, NULL-series rows)
CASES = {
    "ewma": (
        smoothing.ewma,
        ["event_id", "ewma"],
        [(1, 5.0)],
        [(1, 1.0), (2, 1.0), (3, 2.3333333333333335), (4, 2.166666666666667)],
    ),
    "holt": (
        smoothing.holt,
        ["event_id", "holt_level", "holt_trend"],
        [(1, 5.0, 0.0)],
        [(1, 1.0, None), (2, None, None), (3, None, None), (4, None, None)],
    ),
    "holt_winters": (
        lambda d: smoothing.holt_winters(d, period=2),
        ["event_id", "hw_level", "hw_trend", "hw_season"],
        [(1, 5.0, 0.0, 0.0)],
        [(1, 1.0, None, 0.0), (2, None, None, None), (3, None, None, None),
         (4, None, None, None)],
    ),
    "ewm_band": (
        lambda d: smoothing.ewm_band(d, z=1.0),
        ["event_id", "ewm_mean", "ewm_var", "breach"],
        [(1, 5.0, 0.0, False)],
        [(1, 1.0, 0.0, False), (2, None, None, False), (3, None, None, False),
         (4, None, None, False)],
    ),
    "kalman_level": (
        smoothing.kalman_level,
        ["event_id", "kf_mean", "kf_var", "kf_gain"],
        [(1, 5.0, 1.0, 0.0)],
        [(1, 1.0, 1.0, 0.0), (2, None, 0.5555555555555556, 0.5555555555555556),
         (3, None, 0.4461538461538462, 0.4461538461538462),
         (4, None, 0.4104308390022676, 0.41043083900226757)],
    ),
    "holt_winters_forecast": (
        lambda d: smoothing.holt_winters_forecast(d, period=2, horizon=2),
        ["conv_id", "h", "yhat"],
        [("a", 1, 5.0), ("a", 2, 5.0)],
        [("a", 1, None), ("a", 2, None)],
    ),
    "swinging_door": (
        lambda d: downsample.swinging_door(d, key="conv_id", comp_dev=0.5),
        ["event_id", "kept"],
        [(1, 1)],
        [(1, 1), (2, 0), (3, 1), (4, 1)],
    ),
    "rdp_keep": (
        lambda d: downsample.rdp_keep(d, key="conv_id", epsilon=1),
        ["event_id", "kept"],
        [(1, 1)],
        [(1, 1), (3, 1), (4, 1)],  # the NULL value is skipped, as in ewma
    ),
    "lttb_downsample": (
        lambda d: downsample.lttb_downsample(d, n_out=3),
        ["series_id", "ts", "value", "sel_idx"],
        [("a", T0, 5.0, 0)],
        [("a", T0, 1.0, 0), ("a", T0 + dt.timedelta(minutes=1), None, 1),
         ("a", T0 + dt.timedelta(minutes=3), 2.0, 2)],
    ),
    "dtw_to": (
        dtw.dtw_to,
        "target key None has no rows",
        [("a", 1, 1, 0.0)],
        [("a", 4, 4, None)],
    ),
    "sample_entropy": (
        lambda d: anomaly.sample_entropy(d, r=1),
        ["conv_id", "n_points", "b_count", "a_count", "sampen"],
        [("a", 1, 0, 0, None)],
        [("a", 3, 0, 0, None)],  # the NULL value is skipped, as in ewma
    ),
    "gorilla_pack": (
        lambda d: gorilla.gorilla_pack(d, "conv_id", "ts", "value"),
        ["series_id", "n_points", "raw_bytes", "packed_bytes", "blob"],
        [("a", 1, 16, 20, bytearray(b"\x00\x00\x00\x01\x00\x06GHF @\x00@\x14" + bytes(6)))],
        [("a", 4, 64, 36, bytearray(
            b"\x00\x00\x00\x04\x00\x06GHF @\x00?\xf0" + bytes(6)
            + b"\xf0\x00\x00\x00\x0098p\x0c\x11\x90\x02\x9f\xf9\x00\x08"))],
    ),
    "tpe_train": (
        lambda d: tpe.tpe_train(d, "conv_id", "token", "pos", 12, 7),
        ["series_id", "actual_vocab_size", "merges", "in_len", "out_len"],
        [("a", 7, [], 1, 1)],
        [("a", 7, [(1, 3, 8), (8, 2, 9)], 3, 1)],  # the NULL token is skipped
    ),
    "tpe_roundtrip_tokens": (
        lambda d: tpe.tpe_roundtrip_tokens(d, "conv_id", "token", "pos", 12, 7),
        ["series_id", "pos", "token"],
        [("a", 0, 5)],
        [("a", 0, 1), ("a", 2, 3), ("a", 3, 2)],  # the NULL token is skipped
    ),
}


@pytest.mark.parametrize("op", sorted(CASES))
def test_edge_cases(spark, op):
    build, empty_cols, single, with_null = CASES[op]

    def rows(vals):
        return sorted(tuple(r) for r in build(_frame(spark, vals)).collect())

    if isinstance(empty_cols, str):  # fails with a clear message instead
        with pytest.raises(ValueError, match=empty_cols):
            build(_frame(spark, []))
    else:
        out = build(_frame(spark, []))
        assert out.columns == empty_cols
        assert out.collect() == []
    assert rows([5.0]) == single
    assert rows([1.0, None, 3.0, 2.0]) == with_null


def test_kernel_columns_of_unequal_length_raise(spark):
    """A kernel whose output columns differ in length for one series fails
    the task (a TPE roundtrip that decodes to the wrong length raises)."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.series import map_series

    schema = T.StructType(
        [T.StructField("pos", T.LongType()), T.StructField("token", T.IntegerType())]
    )
    out = map_series(
        _frame(spark, [1.0, 2.0, 3.0]), F.col("conv_id"), [], [F.col("pos"), F.col("token")],
        lambda k, pos, toks: {"pos": pos, "token": toks[:-1]}, schema,
    )
    with pytest.raises(PythonException, match="differ in length"):
        out.collect()
