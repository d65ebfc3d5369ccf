"""operators/behavior.py: handcrafted fixtures for the weekly profile
(ISO weekday convention), cohort retention (two planted cohorts), and
funnel matching (order sensitivity, duplicate-timestamp tiebreak, state
freeze after completion, zero-progress rows)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.operators.behavior import (
    cohort_retention,
    funnel_steps,
    weekly_profile,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_weekly_profile_math(spark):
    # 2024-01-01 is a Monday → ISO weekday 0
    rows = [
        (1, "2024-01-01 09:00", 10), (1, "2024-01-08 09:30", 30),  # same cell
        (1, "2024-01-02 09:00", 5),   # Tuesday
        (1, "2024-01-07 23:00", 7),   # Sunday → weekday 6
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "ts", "v"]).assign(
            ts=lambda d: pd.to_datetime(d.ts)
        )
    )
    got = {
        (r["weekday"], r["hour"]): r
        for r in weekly_profile(df, key="k", val_col="v").collect()
    }
    mon9 = got[(0, 9)]
    assert (mon9["n"], mon9["total"], mon9["mean"]) == (2, 40, 20.0)
    assert (mon9["vmin"], mon9["vmax"]) == (10, 30)
    assert got[(1, 9)]["n"] == 1 and got[(6, 23)]["total"] == 7


def test_cohort_retention_matrix(spark):
    rows = [
        # cohort A (day 1): two users; one returns day 2, one day 3
        (1, "2024-01-01"), (2, "2024-01-01"),
        (1, "2024-01-02"), (1, "2024-01-02"),  # two events same day
        (2, "2024-01-03"),
        # cohort B (day 2): one user, never returns
        (3, "2024-01-02"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "ts"]).assign(
            ts=lambda d: pd.to_datetime(d.ts)
        )
    )
    got = {
        (str(r["cohort_date"]), r["offset_days"]): (r["n_active"], r["n_events"])
        for r in cohort_retention(df, key="k").collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2)
    assert got[("2024-01-01", 1)] == (1, 2)  # user 1 with 2 events
    assert got[("2024-01-01", 2)] == (1, 1)
    assert got[("2024-01-02", 0)] == (1, 1)
    assert len(got) == 4


@pytest.fixture(scope="module")
def funnel_df(spark):
    base = pd.Timestamp("2024-01-01")
    rows = [
        # user 1: clean 0 → 1 → 2
        (10, 1, 0, 0), (11, 1, 1, 1), (12, 1, 2, 2),
        # user 2: 1 before 0 → the early 1 must NOT count; reaches stage 2 only
        (20, 2, 0, 1), (21, 2, 1, 0), (22, 2, 2, 1),
        # user 3: zero progress (only stage 2 events)
        (30, 3, 0, 2), (31, 3, 1, 2),
        # user 4: completes, then later events must not change the state
        (40, 4, 0, 0), (41, 4, 1, 1), (42, 4, 2, 2), (43, 4, 3, 0),
        # user 5: duplicate timestamp — stage 0 at id 50, stage 1 at SAME ts,
        # larger id → (ts, id) order makes it count
        (50, 5, 0, 0), (51, 5, 0, 1),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "k", "mins", "stage"])
    pdf["ts"] = base + pd.to_timedelta(pdf.pop("mins"), unit="m")
    return spark.createDataFrame(pdf)


def test_funnel_semantics(spark, funnel_df):
    got = {
        r["k"]: r
        for r in funnel_steps(
            funnel_df, stages=[0, 1, 2], key="k", stage_col="stage"
        ).collect()
    }
    assert len(got) == 5  # every key, zero-progress included
    assert got[1]["stages_reached"] == 3 and got[1]["completed"]
    us = 60_000_000
    epoch = pd.Timestamp("2024-01-01").value // 1000
    assert got[1]["completed_ts_us"] == epoch + 2 * us
    assert got[2]["stages_reached"] == 2 and not got[2]["completed"]
    assert got[2]["completed_ts_us"] is None
    assert got[3]["stages_reached"] == 0
    assert got[4]["stages_reached"] == 3
    assert got[4]["completed_ts_us"] == epoch + 2 * us  # frozen at completion
    assert got[5]["stages_reached"] == 2  # same-ts tiebreak by id


def test_funnel_plan_and_args(spark, funnel_df):
    res = funnel_steps(funnel_df, stages=[0, 1], key="k", stage_col="stage")
    plan = _plan(res)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Python" not in plan
    with pytest.raises(ValueError):
        funnel_steps(funnel_df, stages=[], key="k", stage_col="stage")


def test_seasonal_deviation_math(spark):
    from timeseriestokenizer_spark.operators.behavior import seasonal_deviation

    # 2024-01-01 is a Monday; cell (Mon, 9h) holds 10 and 30 → mean 20
    rows = [
        (0, 1, "2024-01-01 09:00", 10), (1, 1, "2024-01-08 09:30", 30),
        (2, 1, "2024-01-02 09:00", 5),   # lone Tuesday cell: dev 0
        (3, 2, "2024-01-01 09:10", 100),  # other key, same cell: isolated
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "k", "ts", "v"]).assign(
            ts=lambda d: pd.to_datetime(d.ts)
        )
    )
    got = {
        r["event_id"]: r
        for r in seasonal_deviation(df, key="k", val_col="v").collect()
    }
    assert (got[0]["base_n"], got[0]["base_mean"], got[0]["dev"]) == (2, 20.0, -10.0)
    assert got[1]["dev"] == 10.0
    assert got[2]["dev"] == 0.0 and got[2]["base_n"] == 1
    assert got[3]["base_mean"] == 100.0  # keys never mix
    # join-free: one exchange, JVM only
    plan = _plan(seasonal_deviation(df, key="k", val_col="v"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Python" not in plan


def test_activity_gini_oracle(spark):
    from timeseriestokenizer_spark.operators.behavior import activity_gini

    # day 1: four users with equal counts → gini exactly 0
    # day 2: counts 1,1,1,7 → sorted ranks: A = 1+2+3+28 = 34, n=4, S=10
    rows = []
    for u in range(4):
        rows += [(u, "2024-01-01")] * 3
    rows += [(0, "2024-01-02"), (1, "2024-01-02"), (2, "2024-01-02")]
    rows += [(3, "2024-01-02")] * 7
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "ts"]).assign(
            ts=lambda d: pd.to_datetime(d.ts)
        )
    )
    got = {str(r["day"]): r for r in activity_gini(df).collect()}
    d1, d2 = got["2024-01-01"], got["2024-01-02"]
    assert d1["gini"] == 0.0 and d1["top_share"] == 0.25
    assert d2["gini"] == 2.0 * 34 / (4 * 10) - 5.0 / 4  # = 0.45
    assert d2["hhi"] == (1 + 1 + 1 + 49) / 100.0
    assert d2["top_share"] == 0.7
    assert (d1["n_keys"], d1["n_events"], d2["n_keys"], d2["n_events"]) == (4, 12, 4, 10)


def test_global_ntile_matches_sql_semantics(spark):
    from timeseriestokenizer_spark.operators.packing import (
        global_ntile, release_running_total_cache,
    )

    def ref_ntile(n, k):
        q, r = divmod(n, k)
        out = []
        for i in range(1, n + 1):
            if i <= r * (q + 1):
                out.append((i - 1) // (q + 1) + 1)
            else:
                out.append(r + (i - 1 - r * (q + 1)) // max(q, 1) + 1)
        return out

    for n, k in [(10, 5), (13, 5), (4, 5), (7, 3), (1, 4)]:
        df = spark.createDataFrame(
            pd.DataFrame({"x": list(range(n))[::-1], "id": range(n)})
        )
        scored = global_ntile(df, ["x", "id"], k, num_partitions=3)
        got = [r["ntile"] for r in scored.orderBy("x").collect()]
        release_running_total_cache(scored)
        assert got == ref_ntile(n, k), (n, k)
    # the scalable shape: parallel deterministic-bucket windows, never a
    # global ntile window's single-partition funnel
    df = spark.createDataFrame(pd.DataFrame({"x": range(20), "id": range(20)}))
    scored = global_ntile(df, ["x", "id"], 4, num_partitions=3)
    plan = _plan(scored)
    release_running_total_cache(scored)
    assert "singlepartition" not in plan.lower()
    assert "_pid" in plan  # windows cluster on the literal-derived bucket
    assert "ntile(" not in plan.lower()  # no NTILE window function anywhere


def test_rfm_segments_releases_its_cache(spark):
    """rfm_segments' result carries its cache handle: after the consuming
    action and release_running_total_cache, no persistent RDD is left."""
    from timeseriestokenizer_spark.operators.behavior import rfm_segments
    from timeseriestokenizer_spark.operators.packing import (
        release_running_total_cache,
    )

    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    events = pd.DataFrame(
        [(u, 7 * u + e, e) for u in range(12) for e in range(u % 4 + 1)],
        columns=["user_id", "h", "value"],
    )
    events["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(events.h, unit="h")
    df = spark.createDataFrame(events.drop(columns="h"))
    scored = rfm_segments(df, k=3)
    assert scored.count() == 12
    release_running_total_cache(scored)
    assert jsc.getPersistentRDDs().size() == baseline


def test_rfm_segments_oracle(spark):
    from timeseriestokenizer_spark.operators.behavior import rfm_segments
    from timeseriestokenizer_spark.operators.packing import (
        release_running_total_cache,
    )

    rng = pd.DataFrame({
        "user_id": [u for u in range(10) for _ in range(u + 1)],
    })
    rng["event_id"] = range(len(rng))
    rng["ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        (rng.user_id * 17 + rng.event_id) % 240, unit="h"
    )
    rng["v"] = (rng.user_id * 31 + rng.event_id * 7) % 100
    df = spark.createDataFrame(rng)
    scored = rfm_segments(df, key="user_id", val_col="v", k=3)
    got = scored.orderBy("user_id").toPandas()
    release_running_total_cache(scored)

    per = rng.groupby("user_id").agg(
        last=("ts", "max"), n_events=("event_id", "count"), total=("v", "sum")
    ).reset_index()
    anchor = rng.ts.max().normalize()
    per["recency_days"] = (anchor - per["last"].dt.normalize()).dt.days

    def ref_ntile_over(frame, keys, k=3):
        srt = frame.sort_values(keys, kind="mergesort").reset_index()
        n = len(srt); q, r = divmod(n, k)
        bucket = {}
        for pos, idx in enumerate(srt["index"], start=1):
            if pos <= r * (q + 1):
                bucket[idx] = (pos - 1) // (q + 1) + 1
            else:
                bucket[idx] = r + (pos - 1 - r * (q + 1)) // max(q, 1) + 1
        return frame.index.map(bucket)

    per["neg_r"] = -per.recency_days
    per["r_score"] = ref_ntile_over(per, ["neg_r", "user_id"])
    per["f_score"] = ref_ntile_over(per, ["n_events", "user_id"])
    per["m_score"] = ref_ntile_over(per, ["total", "user_id"])
    for c in ["recency_days", "n_events", "total", "r_score", "f_score", "m_score"]:
        assert list(got[c]) == list(per[c]), c
