"""Retention policy: hot/expired TTL splits per tier, expired points packed
cold and exactly recoverable (north_star 'rollup + downsample + retention')."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from timeseriestokenizer_spark.functions.signals import derive_signals
from timeseriestokenizer_spark.operators.gorilla import gorilla_unpack
from timeseriestokenizer_spark.operators.retention import (
    apply_retention,
    cold_pack_expired,
    split_expired,
)
from timeseriestokenizer_spark.plans.incremental import cascade


def test_split_expired_partitions_rows(spark, transcripts):
    tiers = cascade("", derive_signals(transcripts))
    t1h = tiers["1h"].cache()
    now = t1h.agg(F.max("bucket_ts")).first()[0]
    hot, expired = split_expired(t1h, now, keep_seconds=3 * 86400)
    n_hot, n_exp, n_all = hot.count(), expired.count(), t1h.count()
    assert n_hot + n_exp == n_all
    assert n_hot > 0 and n_exp > 0  # fixture spans ~30 days
    cutoff = pd.Timestamp(now) - pd.Timedelta(seconds=3 * 86400)
    assert hot.agg(F.min("bucket_ts")).first()[0] >= cutoff
    assert expired.agg(F.max("bucket_ts")).first()[0] < cutoff
    t1h.unpersist()


def test_policy_none_keeps_everything(spark, transcripts):
    tiers = cascade("", derive_signals(transcripts))
    now = tiers["1d"].agg(F.max("bucket_ts")).first()[0]
    out = apply_retention(
        {"1d": tiers["1d"]}, now, policy={"1d": None}
    )
    assert out["1d"]["expired"].count() == 0
    assert out["1d"]["hot"].count() == tiers["1d"].count()


def test_cold_pack_roundtrip(spark, transcripts):
    """Expired 1h points move to Gorilla blobs; unpack reproduces every
    (series, bucket_ts, value) point exactly."""
    tiers = cascade("", derive_signals(transcripts))
    t1h = tiers["1h"].filter(F.col("sum_lat").isNotNull()).cache()
    now = t1h.agg(F.max("bucket_ts")).first()[0]
    _, expired = split_expired(t1h, now, keep_seconds=5 * 86400)
    packed = cold_pack_expired(expired).cache()
    assert packed.count() > 0
    back = gorilla_unpack(packed).toPandas()
    exp = expired.select(
        F.concat("conv_id", F.lit("|"), F.to_date("bucket_ts").cast("string")).alias("series_id"),
        F.col("bucket_ts").alias("ts"),
        F.col("sum_lat").alias("value"),
    ).toPandas()
    back = back.sort_values(["series_id", "ts"]).reset_index(drop=True)
    exp = exp.sort_values(["series_id", "ts"]).reset_index(drop=True)
    assert len(back) == len(exp)
    assert np.array_equal(
        back["ts"].astype("datetime64[us]").to_numpy(),
        exp["ts"].astype("datetime64[us]").to_numpy(),
    )
    assert np.array_equal(back["value"].to_numpy(), exp["value"].to_numpy())
    t1h.unpersist()
    packed.unpersist()


def test_compact_store_crash_recovery(spark, tmp_path):
    """Simulated compact_store crash states: a hidden `.day=D.compact.old`
    with its visible partition missing is restored on the next pass; stale
    tmp/old debris next to an intact partition is removed; and the hidden
    names are invisible to Spark partition discovery (the round-5 ADVICE
    bug: the old `day=D.compact.tmp` name WAS discovered and
    double-counted)."""
    import os
    import shutil

    from timeseriestokenizer_spark.plans.incremental import compact_store

    root = tmp_path / "store" / "1m"
    root.mkdir(parents=True)
    df = spark.range(10).selectExpr("cast(id as string) conv_id", "id sum_lat")
    df.write.parquet(str(root / "day=2026-01-01"))
    df.write.parquet(str(root / "day=2026-01-02"))

    # crash window: old renamed aside, new never renamed in
    os.rename(str(root / "day=2026-01-01"), str(root / ".day=2026-01-01.compact.old"))
    # plus stale debris next to the intact day 2
    shutil.copytree(str(root / "day=2026-01-02"), str(root / ".day=2026-01-02.compact.tmp"))
    shutil.copytree(str(root / "day=2026-01-02"), str(root / ".day=2026-01-02.compact.old"))

    # hidden dirs are NOT partitions: discovery sees only day 2 right now
    seen = spark.read.parquet(str(root)).select("day").distinct().count()
    assert seen == 1

    compact_store(spark, str(tmp_path / "store"))
    days = sorted(
        d for d in os.listdir(str(root)) if d.startswith("day=")
    )
    assert days == ["day=2026-01-01", "day=2026-01-02"]
    assert not any(d.startswith(".day=") for d in os.listdir(str(root)))
    assert spark.read.parquet(str(root)).count() == 20  # nothing lost or doubled


def test_retention_crash_leaves_no_double_count(spark, tmp_path):
    """Simulated retention_sweep crash between cold finalize and hot drop:
    both copies of the day exist on disk, and read_tier_with_cold must
    return the day exactly once (hot wins)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.gorilla import gorilla_pack
    from timeseriestokenizer_spark.plans.incremental import read_tier_with_cold

    store = tmp_path / "store"
    day = "2026-01-01"
    rows = [
        ("c1", pd.Timestamp("2026-01-01 00:01:00").to_pydatetime(), float(i))
        for i in range(10)
    ]
    hot = spark.createDataFrame(rows, "conv_id string, bucket_ts timestamp, sum_lat double")
    hot.write.parquet(str(store / "1m" / f"day={day}"))
    packed = gorilla_pack(
        hot.withColumn("_day", F.lit(day)), ["conv_id", "_day"], "bucket_ts", "sum_lat"
    )
    packed.write.parquet(str(store / "cold_1m" / f"day={day}"))

    out = read_tier_with_cold(spark, str(store), "1m").collect()
    assert len(out) == 10                       # once, not twice
    assert all(not r["is_cold"] for r in out)   # the hot copy won


def test_retention_sweep_sdt_lossy_cold_pack(spark, tmp_path):
    """Opt-in swinging-door pre-filter in the cold-pack path: the cold
    blob keeps fewer points, endpoints survive, every dropped point is
    within the 2E interpolation envelope of the kept ones — and the
    default path (sdt_comp_dev=None) stays exact/lossless."""
    import os

    import pandas as pd

    from timeseriestokenizer_spark.plans.incremental import retention_sweep

    def build_store(name):
        store = tmp_path / name
        root = store / "1m"
        root.mkdir(parents=True)
        base = pd.Timestamp("2026-01-01")
        rows = []
        for i in range(240):
            # smooth ramp with one spike: SDT should drop most ramp points
            v = 10.0 + 0.25 * i + (300.0 if i == 120 else 0.0)
            rows.append(("a", (base + pd.Timedelta(minutes=i)).to_pydatetime(), float(v)))
        df = spark.createDataFrame(
            rows, "conv_id string, bucket_ts timestamp, sum_lat double"
        )
        df.write.parquet(str(root / "day=2026-01-01"))
        df.write.parquet(str(root / "day=2026-03-01"))  # recent: survives
        return store, {(r[0], r[1]): r[2] for r in rows}

    # lossy sweep
    store, orig = build_store("lossy")
    retention_sweep(
        spark, str(store), "2026-03-02", policy={"1m": 30 * 86400},
        sdt_comp_dev=5.0,
    )
    assert not os.path.isdir(str(store / "1m" / "day=2026-01-01"))
    assert os.path.isdir(str(store / "1m" / "day=2026-03-01"))
    packed = spark.read.parquet(str(store / "cold_1m" / "day=2026-01-01"))
    back = gorilla_unpack(packed).toPandas().sort_values("ts")
    kept = list(zip(back["ts"].astype("datetime64[us]"), back["value"]))
    n_orig = 240
    assert 2 < len(kept) < n_orig  # genuinely compressed
    # spike survives
    assert any(v > 200 for _, v in kept)
    # every original point within 2E of interpolation between kept points
    kt = [(t.timestamp(), v) for t, v in kept]
    for (cid, ts), v in orig.items():
        x = pd.Timestamp(ts).timestamp()
        for (t0, v0), (t1, v1) in zip(kt, kt[1:]):
            if t0 <= x <= t1:
                interp = v0 if t1 == t0 else v0 + (x - t0) / (t1 - t0) * (v1 - v0)
                assert abs(v - interp) <= 2 * 5.0 + 1e-9
                break

    # default sweep stays lossless
    store2, _ = build_store("lossless")
    retention_sweep(
        spark, str(store2), "2026-03-02", policy={"1m": 30 * 86400}
    )
    packed2 = spark.read.parquet(str(store2 / "cold_1m" / "day=2026-01-01"))
    assert gorilla_unpack(packed2).count() == 240
