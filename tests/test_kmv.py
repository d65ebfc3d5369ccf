"""KMV theta sketches: estimator accuracy above the exact regime, exact
small regime, merge == direct build, and union/intersection estimates
against exact set sizes."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from timeseriestokenizer_spark.operators.kmv import (
    LG_NOM_ENTRIES,
    kmv_build,
    kmv_estimate,
    kmv_merge,
    kmv_overlap_pairs,
    kmv_retention_series,
)


def _evk(spark, sf="sf0.01"):
    ev = spark.read.parquet(f"/root/testdata/{sf}/events.parquet")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.withColumn("k", ((cents % 1000) + 1000) % 1000)


def test_estimate_within_kmv_error_band(spark):
    """~860 distinct keys per event type, far above the nominal entries:
    every estimate within 3 sigma (RSE 1/sqrt(nominal entries)) of the
    exact countDistinct."""
    evk = _evk(spark)
    true = {
        r["event_type"]: r["n"]
        for r in evk.groupBy("event_type").agg(F.countDistinct("k").alias("n")).collect()
    }
    assert min(true.values()) > 500
    est = kmv_estimate(kmv_build(evk, "k", ["event_type"]), ["event_type"]).collect()
    assert {r["event_type"] for r in est} == set(true)
    for r in est:
        n = true[r["event_type"]]
        assert abs(r["est"] - n) / n < 3 / math.sqrt(1 << LG_NOM_ENTRIES), (r, n)


def test_exact_below_k(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    row = kmv_estimate(kmv_build(ev, "event_type")).collect()[0]
    assert row["est"] == 5
    # exact through the nominal entries, any partitioning
    nominal = 1 << LG_NOM_ENTRIES
    for n in (nominal - 1, nominal):
        for parts in (1, 3):
            sk = kmv_build(spark.range(n).repartition(parts), "id")
            assert kmv_estimate(sk).collect()[0]["est"] == n


def test_merge_equals_direct_exactly(spark):
    """Per-day sketches merged equal the direct build byte for byte."""
    evk = _evk(spark).withColumn(
        "day", F.date_trunc("day", F.col("ts").cast("timestamp"))
    )
    direct = kmv_build(evk, "k").collect()[0]["sketch"]
    merged = kmv_merge(kmv_build(evk, "k", ["day"])).collect()[0]["sketch"]
    assert bytes(direct) == bytes(merged)


def test_jaccard_estimate_tracks_truth(spark):
    evk = _evk(spark)
    pairs = kmv_overlap_pairs(evk, "k", "event_type").collect()
    assert len(pairs) == 10
    sets = {
        r["event_type"]: set(
            x["k"] for x in evk.filter(F.col("event_type") == r["event_type"])
            .select("k").distinct().collect()
        )
        for r in evk.select("event_type").distinct().collect()
    }
    for p in pairs:
        a, b = sets[p["seg_a"]], sets[p["seg_b"]]
        true_j = len(a & b) / len(a | b)
        assert abs(p["jaccard_est"] - true_j) < 0.25, (p, true_j)
        true_i = len(a & b)
        assert abs(p["inter_est"] - true_i) / max(true_i, 1) < 0.5


def test_retention_series_tracks_truth(spark):
    """kmv_retention_series vs exact day-over-day overlap on real data;
    pairs exist only where both days exist; estimates inside the band the
    k=64 bottom-k sketch kept."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("bucket_ts"),
        "user_id",
    )
    cells = kmv_build(ev, "user_id", ["bucket_ts"])
    got = {r["bucket_ts"]: r for r in kmv_retention_series(cells).collect()}
    days = sorted(r["bucket_ts"] for r in ev.select("bucket_ts").distinct().collect())
    sets = {
        d: {r["user_id"] for r in ev.filter(F.col("bucket_ts") == d)
            .select("user_id").distinct().collect()}
        for d in days
    }
    expected_pairs = {
        d for d in days if (d + dt.timedelta(days=1)) in sets
    }
    assert set(got) == expected_pairs and got
    for d in expected_pairs:
        a, b = sets[d], sets[d + dt.timedelta(days=1)]
        true_j = len(a & b) / len(a | b)
        assert abs(got[d]["jaccard_est"] - true_j) < 0.25
        true_i = len(a & b)
        assert abs(got[d]["inter_est"] - true_i) / max(true_i, 1) < 0.5
