"""signals_narrow must equal derive_signals on the rollup-facing columns —
the shuffle-lean projection is a pure optimization, not a semantic change."""

import pandas as pd

from timeseriestokenizer_spark.functions.signals import derive_signals, signals_narrow
from timeseriestokenizer_spark.plans.incremental import cascade


COLS = ["conv_id", "turn_idx", "ts", "latency_s", "n_chars", "n_tokens", "is_tool_call"]


def test_narrow_equals_full(spark, transcripts):
    a = (
        derive_signals(transcripts)
        .select(*COLS)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        signals_narrow(transcripts)
        .select(*COLS)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_narrow_rollup_equals_full_rollup(spark, transcripts):
    ta = cascade("", derive_signals(transcripts))["1h"]
    tb = cascade("", signals_narrow(transcripts))["1h"]
    a = ta.toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    b = tb.toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_narrow_plan_drops_text_before_shuffle(spark, transcripts):
    """The physical plan's Exchange must not carry the text column."""
    plan = signals_narrow(transcripts)._jdf.queryExecution().executedPlan().toString()
    exchange_idx = plan.find("Exchange")
    assert exchange_idx != -1
    # everything below the Exchange (printed after it) is the pre-shuffle
    # side; 'text' may appear there (scan/project) but the window/exchange
    # output attribute list above must not reference text
    above = plan[:exchange_idx]
    assert "length(text" not in above  # text already reduced to counts


def test_counter_rate_reset_semantics(spark):
    """Counter resets: a drop means restart-from-zero, so the post-reset
    value is the increase; normal increments diff; first row NULL."""
    import pandas as pd
    from timeseriestokenizer_spark.functions.signals import counter_rate

    base = pd.Timestamp("2024-01-01")
    rows = [
        ("c", base, 100.0, 0),
        ("c", base + pd.Timedelta(seconds=10), 150.0, 1),   # +50 over 10s
        ("c", base + pd.Timedelta(seconds=20), 30.0, 2),    # RESET → delta 30
        ("c", base + pd.Timedelta(seconds=30), 31.0, 3),    # +1
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "ts", "value", "event_id"])
    )
    out = counter_rate(df, key="conv_id", order_cols=["event_id"])
    got = {r["event_id"]: (r["counter_delta"], r["rate_per_s"]) for r in out.collect()}
    assert got[0] == (None, None)
    assert got[1] == (50.0, 5.0)
    assert got[2] == (30.0, 3.0)
    assert got[3] == (1.0, 0.1)


def test_rolling_zscore_window_semantics(spark):
    """Self-excluded preceding window: a spike scores high without masking
    itself; warm-up rows and constant-window rows are NULL."""
    import math

    import pandas as pd
    from timeseriestokenizer_spark.functions.signals import rolling_zscore

    base = pd.Timestamp("2024-01-01")
    vals = [10.0, 10.0, 12.0, 8.0, 50.0]  # spike at the end
    rows = [
        ("c", base + pd.Timedelta(seconds=i), v, i) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "ts", "value", "event_id"])
    )
    out = rolling_zscore(df, key="conv_id", window_rows=10, order_cols=["event_id"])
    got = {r["event_id"]: r["zscore"] for r in out.collect()}
    assert got[0] is None            # empty window
    assert got[1] is None            # single point → undefined variance
    assert got[2] is None            # window [10, 10] → zero variance
    # window for row 4: [10, 10, 12, 8]: mean 10, var 8/3
    assert got[4] == round((50.0 - 10.0) / math.sqrt(8.0 / 3.0), 4)
    assert got[4] > 10  # the spike is loud
