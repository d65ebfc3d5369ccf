"""Heavy-hitter (Misra-Gries) tier: exact small regime, eviction-regime
error bound and guaranteed presence, order-insensitive merge, the Spark
build/merge/top-k path, and the salting hook (operators/heavy.py)."""

import numpy as np
import pandas as pd

from timeseriestokenizer_spark.operators.heavy import (
    _shrink,
    heavy_rollup_tier,
    heavy_topk,
    hot_keys,
)
from timeseriestokenizer_spark.plans.incremental import cascade


def test_shrink_exact_and_eviction():
    c, d = _shrink({"a": 5, "b": 3}, 4)
    assert (c, d) == ({"a": 5, "b": 3}, 0)
    # 5 keys, k=3: d = 4th largest = 2; survivors lose 2, <=0 dropped
    c, d = _shrink({"a": 9, "b": 7, "c": 4, "d": 2, "e": 1}, 3)
    assert d == 2 and c == {"a": 7, "b": 5, "c": 2}


def test_mg_bound_and_presence():
    """Zipf stream, k far under the distinct count: every reported count
    underestimates by <= err, err <= n/(k+1), and every key with true
    frequency > n/(k+1) is present (the MG guarantee)."""
    rng = np.random.RandomState(5)
    keys = [f"u{z}" for z in rng.zipf(1.3, 100_000) if z < 5000]
    n = len(keys)
    true = pd.Series(keys).value_counts().to_dict()
    k = 50
    # fold in batches through the same shrink rule the tier uses
    total: dict[str, int] = {}
    err = 0
    for chunk in np.array_split(np.asarray(keys, dtype=object), 37):
        vc = pd.Series(chunk).value_counts()
        part, d0 = _shrink({str(i): int(v) for i, v in vc.items()}, k)
        for key, c in part.items():
            total[key] = total.get(key, 0) + c
        total, d = _shrink(total, k)
        err += d0 + d
    assert err <= n / (k + 1) * 2  # summed shrinks stay near the bound
    for key, est in total.items():
        assert est <= true[key] <= est + err, key
    for key, t in true.items():
        if t > err:
            assert key in total, (key, t, err)


def test_merge_order_insensitive():
    """Sum-then-shrink makes the merged summary a pure function of the
    part multiset — any arrival order gives identical state."""
    rng = np.random.RandomState(7)
    parts = []
    for i in range(5):
        vc = pd.Series(rng.zipf(1.5, 3000)).value_counts()
        c, d = _shrink({str(k): int(v) for k, v in vc.items()}, 32)
        parts.append((c, d))

    def fold(order):
        total: dict[str, int] = {}
        err = 0
        for i in order:
            c, d0 = parts[i]
            err += d0
            for k, v in c.items():
                total[k] = total.get(k, 0) + v
        out, d = _shrink(total, 32)
        return sorted(out.items()), err + d

    assert fold([0, 1, 2, 3, 4]) == fold([4, 2, 0, 3, 1]) == fold([3, 0, 4, 1, 2])


def test_spark_exact_regime_topk_and_cascade(spark):
    """Spark path in the exact regime: cascaded 1d top-k == exact pandas
    top-k; direct 1d build == cascaded state."""
    rng = np.random.RandomState(11)
    base = pd.Timestamp("2026-07-01")
    rows = [
        (
            (base + pd.Timedelta(seconds=int(rng.randint(0, 2 * 86400)))).to_pydatetime(),
            f"c{int(rng.zipf(1.5)) % 40}",
        )
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, conv_id string")
    tiers = cascade("heavy", df)
    got = {
        (r["bucket_ts"], r["rank"]): (r["key"], r["est_count"], r["err"])
        for r in heavy_topk(tiers["1d"], 5).collect()
    }
    pdf = pd.DataFrame(rows, columns=["ts", "k"])
    pdf["day"] = pdf["ts"].dt.floor("D")
    for day, grp in pdf.groupby("day"):
        vc = sorted(
            grp["k"].value_counts().items(), key=lambda kv: (-kv[1], kv[0])
        )[:5]
        for i, (key, cnt) in enumerate(vc, start=1):
            assert got[(day.to_pydatetime(), i)] == (key, cnt, 0), (day, i)
    direct = heavy_rollup_tier(df, "1d", "conv_id", "ts", k=256)
    a = sorted(tuple(r) for r in tiers["1d"].collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b  # exact regime + canonical order: state identical


def test_hot_keys_feeds_salting(spark):
    """hot_keys surfaces exactly the keys above the frequency floor —
    the input to operators/salting.with_salt."""
    base = pd.Timestamp("2026-07-01")
    rows = []
    for i in range(900):
        rows.append(((base + pd.Timedelta(seconds=i)).to_pydatetime(), "whale"))
    for i in range(100):
        rows.append(((base + pd.Timedelta(seconds=i)).to_pydatetime(), f"m{i}"))
    df = spark.createDataFrame(rows, "ts timestamp, conv_id string")
    tier = heavy_rollup_tier(df, "1d", "conv_id", "ts", k=256)
    hot = hot_keys(tier, min_frac=0.05).collect()
    assert [r["key"] for r in hot] == ["whale"]
    assert hot[0]["est_count"] == 900 and hot[0]["n"] == 1000


def test_topk_query_is_jvm_only(spark):
    """Read-time top-k adds no Python stage beyond the two tier-build
    mapInPandas stages (partial + merge)."""
    rows = [(pd.Timestamp("2026-07-01").to_pydatetime(), f"c{i % 7}") for i in range(50)]
    df = spark.createDataFrame(rows, "ts timestamp, conv_id string")
    plan = (
        heavy_topk(heavy_rollup_tier(df, "1h", "conv_id", "ts"), 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInPandas") == 2
