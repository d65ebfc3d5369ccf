"""Incremental tier refresh (plans/incremental.py): appending days and
refreshing only their partitions must reproduce the from-scratch cascade
EXACTLY — including cross-midnight latencies via the conv-state watermark
snapshots — and late data on the newest day must be absorbed by replaying
just that day."""

import os

import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.datagen import transcripts_df
from timeseriestokenizer_spark.functions.signals import derive_signals
from timeseriestokenizer_spark.plans.incremental import (
    _families,
    cascade,
    compact_store,
    completed_days,
    read_tier,
    refresh_tiers,
    stale_days,
)
from timeseriestokenizer_spark.plans.manifest import read_manifest

TIERS = ["1m", "5m", "1h", "1d"]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _assert_store_equals_scratch(spark, store, full_raw, family_rows):
    """Every family's stored tiers equal its from-scratch ``cascade`` over
    the full raw rows (HLL by estimate, the rest by all columns)."""
    sig = derive_signals(full_raw).cache()
    for prefix in _families():
        # each cached tier feeds the next one's scratch build
        scratch = {t: df.cache() for t, df in cascade(prefix, sig).items()}
        for tier in TIERS:
            name = f"{prefix}_{tier}" if prefix else tier
            got = family_rows(prefix, read_tier(spark, store, name))
            assert got == family_rows(prefix, scratch[tier]), f"{name} diverged from scratch"
        for df in scratch.values():
            df.unpersist()
    sig.unpersist()


def _assert_day_rows_equal_raw(spark, store, raw):
    """Each completed day's latest ``_day`` row (counts only grow under
    append ingest) records that day's raw row count."""
    want = {
        str(r["d"]): r["n"]
        for r in raw.groupBy(F.to_date("ts").alias("d")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {}
    m = read_manifest(spark, os.path.join(store, "_manifest"))
    for r in m.filter(F.col("tier") == "_day").collect():
        got[r["part_key"]] = max(got.get(r["part_key"], 0), r["n_rows"])
    assert got == want


def test_incremental_store_equals_from_scratch(spark, tmp_path, family_rows):
    raw = transcripts_df(spark, C=40, seed=7).cache()
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 4  # conv starts spread over ~30 days
    store = str(tmp_path / "store")

    # initial ingest: all but the last two days — auto mode takes the
    # BATCH path (one cascade, dynamic day-partition overwrite)
    head = raw.filter(F.to_date("ts") <= F.lit(days[-3]))
    stats = refresh_tiers(spark, head, store)
    assert len(stats) == 1 and stats[0]["mode"] == "batch"
    assert stats[0]["days"] == days[:-2]
    assert completed_days(spark, store) == days[:-2]

    # append day -2, then a PARTIAL day -1 (late rows withheld) — two new
    # days, auto mode takes the per-day path (snapshot per day)
    part = raw.filter(
        (F.to_date("ts") <= F.lit(days[-2]))
        | ((F.to_date("ts") == F.lit(days[-1])) & (F.crc32("conv_id") % 2 == 0))
    )
    stats = refresh_tiers(spark, part, store)
    assert [s["days"] for s in stats] == [[d] for d in days[-2:]]
    # before the late-data replay rewrites day -1: its run must have read
    # the snapshot through day -2, written by the run just before it
    _assert_store_equals_scratch(spark, store, part, family_rows)
    _assert_day_rows_equal_raw(spark, store, part)

    # late data lands for the newest day: stale_days flags ONLY that day
    # (its raw count changed), and one replay absorbs it
    stale = stale_days(spark, raw, store)
    assert stale == [days[-1]]
    refresh_tiers(spark, raw, store)
    assert stale_days(spark, raw, store) == []

    _assert_store_equals_scratch(spark, store, raw, family_rows)
    _assert_day_rows_equal_raw(spark, store, raw)
    raw.unpersist()


def test_incremental_cross_midnight_latency_exact(spark, tmp_path):
    """A conversation dormant across a >1-day gap (datagen injects 100000 s
    gaps) must get the exact cross-boundary latency from the watermark
    state, not NULL — the case a fixed 1-day lookback would miss."""
    raw = transcripts_df(spark, C=40, seed=7)
    sig = derive_signals(raw)
    crossers = (
        sig.filter(
            (F.to_date("ts") != F.to_date(F.col("ts") - F.expr("INTERVAL 1 SECOND") * F.col("latency_s")))
            & F.col("latency_s").isNotNull()
        )
        .count()
    )
    assert crossers > 0  # fixture really exercises the boundary


def test_forward_only_guard(spark, tmp_path):
    raw = transcripts_df(spark, C=10, seed=3)
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    store = str(tmp_path / "store2")
    refresh_tiers(spark, raw, store, days=days[:2], with_cms=False, with_kmv=False)
    with pytest.raises(ValueError, match="forward-only"):
        refresh_tiers(spark, raw, store, days=[days[0]], with_cms=False, with_kmv=False)


def test_store_layout_prunes_by_day(spark, tmp_path):
    """Each tier is physically partitioned by day — reading one day's
    partition touches one subdirectory (the scan-pruning layout the
    north-rule retention engine requires)."""
    raw = transcripts_df(spark, C=10, seed=3)
    store = str(tmp_path / "store3")
    stats = refresh_tiers(spark, raw, store, with_cms=False, with_kmv=False)  # auto → batch for a fresh load
    some_day = stats[0]["days"][0]
    assert os.path.isdir(os.path.join(store, "1h", f"day={some_day}"))
    one = spark.read.parquet(os.path.join(store, "1h", f"day={some_day}"))
    assert one.count() > 0
    total = sum(
        spark.read.parquet(os.path.join(store, "1h", d)).count()
        for d in os.listdir(os.path.join(store, "1h"))
        if d.startswith("day=")
    )
    assert total == stats[0]["tiers"]["1h"]


def test_per_day_run_appends_once_and_needs_no_compaction(spark, tmp_path):
    """A one-day refresh commits all its manifest rows in ONE append and
    writes its partitions at the compaction target, so compact_store has
    nothing to rewrite for it."""
    raw = transcripts_df(spark, C=10, seed=3)
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    store = str(tmp_path / "one")
    manifest = os.path.join(store, "_manifest")

    def manifest_files():
        return len([f for f in os.listdir(manifest) if f.endswith(".parquet")])

    refresh_tiers(spark, raw, store, days=[days[0]])
    before = manifest_files()
    refresh_tiers(spark, raw, store, days=[days[1]], mode="per_day")
    assert manifest_files() == before + 1
    assert completed_days(spark, store) == days[:2]
    assert compact_store(spark, store) == {}


def test_corrupt_manifest_raises(spark, tmp_path):
    """A manifest file that is not parquet fails the read instead of
    passing for "no completed days" (which would bypass the forward-only
    guard and recompute every day)."""
    manifest = tmp_path / "store" / "_manifest"
    manifest.mkdir(parents=True)
    (manifest / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="not a Parquet file"):
        completed_days(spark, str(tmp_path / "store"))


def test_batch_equals_per_day_equals_scratch(spark, tmp_path, family_rows):
    """The bulk-load batch path (one cascade, dynamic partition overwrite)
    must produce the same store as the per-day path for every family —
    and both the same base/HLL tiers as the from-scratch cascade."""
    raw = transcripts_df(spark, C=25, seed=13)
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    raw = raw.filter(F.to_date("ts") <= F.lit(days[4])).cache()
    sig = derive_signals(raw)
    crossers = sig.filter(
        (F.to_date("ts") != F.to_date(F.col("ts") - F.expr("INTERVAL 1 SECOND") * F.col("latency_s")))
        & F.col("latency_s").isNotNull()
    ).count()
    assert crossers > 0  # the slice's lag window really spans a midnight

    s_batch, s_daily = str(tmp_path / "b"), str(tmp_path / "d")
    out_b = refresh_tiers(spark, raw, s_batch, mode="batch")
    assert [(o["mode"], o["days"]) for o in out_b] == [("batch", days[:5])]
    out_d = refresh_tiers(spark, raw, s_daily, mode="per_day")
    assert [o["days"] for o in out_d] == [[d] for d in days[:5]]
    families = list(_families())
    for fam in families:
        for tier in TIERS:
            name = f"{fam}_{tier}" if fam else tier
            got_b = family_rows(fam, read_tier(spark, s_batch, name))
            got_d = family_rows(fam, read_tier(spark, s_daily, name))
            assert got_b and got_b == got_d, f"{name}: batch != per_day"

    def manifest_rows(store):
        m = read_manifest(spark, os.path.join(store, "_manifest"))
        return _rows(m, ["tier", "part_key", "n_rows"])

    got = manifest_rows(s_batch)
    assert got == manifest_rows(s_daily)
    assert {t for t, _, _ in got} == {
        f"{f}_{t}" if f else t for f in families for t in TIERS
    } | {"_day"}
    _assert_store_equals_scratch(spark, s_batch, raw, family_rows)
    raw.unpersist()


def test_batch_snapshot_gap_guard(spark, tmp_path):
    """After a batch load (only the LAST day's conv-state snapshot exists),
    replaying an INTERIOR day must refuse with a replay instruction, not
    silently compute wrong cross-midnight latencies from stale state."""
    raw = transcripts_df(spark, C=15, seed=9)
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 4
    store = str(tmp_path / "g")
    refresh_tiers(spark, raw, store, mode="batch", with_cms=False, with_kmv=False)
    with pytest.raises(ValueError, match="replay"):
        refresh_tiers(spark, raw, store, days=days[-2:-1], mode="per_day", with_cms=False, with_kmv=False)


def test_batch_rejects_holes(spark, tmp_path):
    raw = transcripts_df(spark, C=15, seed=9)
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    with pytest.raises(ValueError, match="skips raw day"):
        refresh_tiers(
            spark, raw, str(tmp_path / "h"), days=[days[0], days[2]], mode="batch"
        )


def test_incremental_histogram_tiers(spark, tmp_path):
    """Histogram tier state refreshes incrementally by the same day-
    partition scheme; union of day partitions == direct build from all
    signals (counts merge by addition)."""
    from timeseriestokenizer_spark.operators.rollup import histogram_rollup_tier

    raw = transcripts_df(spark, C=20, seed=21).cache()
    store = str(tmp_path / "hist")
    refresh_tiers(spark, raw, store, with_hll=False, with_cms=False, with_kmv=False)
    direct = histogram_rollup_tier(derive_signals(raw), "1h")
    got = _rows(read_tier(spark, store, "hist_1h"), ["bucket_ts", "bin", "n"])
    exp = _rows(direct, ["bucket_ts", "bin", "n"])
    assert got == exp
    raw.unpersist()


def test_retention_sweep_store(spark, tmp_path):
    """Store-level TTL enforcement: expired 1m day partitions are Gorilla-
    packed then DROPPED as whole directories; coarser tiers keep history
    per policy; cold blobs unpack to the exact expired points; side states
    expire with their base tier; the manifest records every retirement."""
    import os as _os

    from timeseriestokenizer_spark.operators.gorilla import gorilla_unpack
    from timeseriestokenizer_spark.plans.incremental import retention_sweep

    raw = transcripts_df(spark, C=20, seed=17).cache()
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 5
    store = str(tmp_path / "ret")
    refresh_tiers(spark, raw, store, mode="batch", with_cms=False, with_kmv=False)

    full_1m = _rows(
        read_tier(spark, store, "1m"), ["conv_id", "bucket_ts", "sum_lat"]
    )
    # policy: 1m keeps 2 days, 5m keeps 4, 1h/1d forever
    keep_1m = 2 * 86400
    policy = {"1m": keep_1m, "5m": 4 * 86400, "1h": None, "1d": None}
    retired = retention_sweep(spark, store, days[-1], policy=policy)

    import pandas as pd
    cut_1m = (pd.Timestamp(days[-1]) - pd.Timedelta(seconds=keep_1m)).strftime("%Y-%m-%d")
    expect_retired = [d for d in days if d < cut_1m]
    assert retired["1m"] == expect_retired
    assert retired.get("hist_1m") == expect_retired  # side state expires too
    left = sorted(
        d.split("=", 1)[1] for d in _os.listdir(_os.path.join(store, "1m"))
        if d.startswith("day=")
    )
    assert left == [d for d in days if d >= cut_1m]
    assert _os.path.isdir(_os.path.join(store, "1h"))  # keep-forever intact
    assert sorted(
        d.split("=", 1)[1] for d in _os.listdir(_os.path.join(store, "1h"))
        if d.startswith("day=")
    ) == days

    # cold blobs unpack to EXACTLY the expired (conv, bucket_ts, sum_lat)
    cold = spark.read.option(
        "basePath", _os.path.join(store, "cold_1m")
    ).parquet(_os.path.join(store, "cold_1m"))
    unpacked = gorilla_unpack(cold).select(
        F.split("series_id", r"\|")[0].alias("conv_id"),
        F.col("ts").alias("bucket_ts"),
        F.col("value").alias("sum_lat"),
    )
    hot = read_tier(spark, store, "1m").select("conv_id", "bucket_ts", "sum_lat")
    merged = sorted(
        tuple(r) for r in unpacked.unionByName(hot).collect()
    )
    # sum_lat can be NULL for single-turn minutes — gorilla packs doubles;
    # compare on the non-null subset both ways
    full_nonnull = [t for t in full_1m if t[2] is not None]
    merged_nonnull = [t for t in merged if t[2] is not None]
    assert merged_nonnull == full_nonnull

    m = read_manifest(spark, _os.path.join(store, "_manifest"))
    rows = m.filter(F.col("tier") == "retired_1m").select("part_key", "n_rows").collect()
    assert sorted(r["part_key"] for r in rows) == expect_retired
    # retirement counts rows from parquet footers; the refresh counted them in Spark
    refreshed = {
        r["part_key"]: r["n_rows"]
        for r in m.filter(F.col("tier") == "1m").select("part_key", "n_rows").collect()
    }
    assert {r["part_key"]: r["n_rows"] for r in rows} == {
        d: refreshed[d] for d in expect_retired
    }
    raw.unpersist()


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_base_tier_schema_is_what_spark_infers(spark, tmp_path, ts_type):
    """retention_sweep reads the expiring 1m day with a declared schema: it
    must be the one Spark infers for a freshly written day, whichever
    timestamp type the raw ``ts`` has, and the read runs no Spark job."""
    from timeseriestokenizer_spark.plans.incremental import _BASE_TIER_SCHEMA

    raw = transcripts_df(spark, C=4, seed=17).withColumn("ts", F.col("ts").cast(ts_type))
    assert dict(raw.dtypes)["ts"] == ts_type
    day = str(raw.select(F.min(F.to_date("ts"))).first()[0])
    store = str(tmp_path / "st")
    refresh_tiers(spark, raw, store, days=[day], mode="per_day", with_hll=False,
                  with_hist=False, with_kll=False, with_heavy=False, with_cms=False,
                  with_kmv=False)
    part = os.path.join(store, "1m", f"day={day}")

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "declared-schema-read")
    try:
        declared = spark.read.schema(_BASE_TIER_SCHEMA).parquet(part).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("declared-schema-read")) == []
    assert declared == spark.read.parquet(part).schema


def test_compact_store(spark, tmp_path):
    """Compaction rewrites many-file day partitions to the target file
    count with identical rows, skips already-compact days (idempotent)."""
    import os as _os

    from timeseriestokenizer_spark.plans.incremental import compact_store

    raw = transcripts_df(spark, C=15, seed=19)
    store = str(tmp_path / "cmp")
    refresh_tiers(spark, raw, store, with_hll=False, with_hist=False, with_cms=False, with_kmv=False)
    before = _rows(read_tier(spark, store, "1m"), ["conv_id", "bucket_ts", "n_turns"])
    n_files_before = {}
    for d in _os.listdir(_os.path.join(store, "1m")):
        if d.startswith("day="):
            n_files_before[d] = len([
                f for f in _os.listdir(_os.path.join(store, "1m", d))
                if f.endswith(".parquet")
            ])
    assert any(v > 1 for v in n_files_before.values())  # fixture really fragmented

    report = compact_store(spark, store, target_bytes=1 << 30, tiers=("1m",))
    assert report["1m"]  # something compacted
    for day, (nb, na) in report["1m"].items():
        assert na == 1 and nb > 1
        files = [
            f for f in _os.listdir(_os.path.join(store, "1m", f"day={day}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1
    after = _rows(read_tier(spark, store, "1m"), ["conv_id", "bucket_ts", "n_turns"])
    assert after == before
    assert compact_store(spark, store, target_bytes=1 << 30, tiers=("1m",)) == {}


def test_read_tier_with_cold(spark, tmp_path):
    """After a sweep, the full-history read (hot ∪ unpacked cold) returns
    every non-null 1m sum_lat point the store ever held."""
    from timeseriestokenizer_spark.plans.incremental import (
        read_tier_with_cold,
        retention_sweep,
    )

    raw = transcripts_df(spark, C=15, seed=23).cache()
    days = sorted(
        str(r["d"]) for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    store = str(tmp_path / "rc")
    refresh_tiers(spark, raw, store, mode="batch", with_hll=False, with_hist=False, with_cms=False, with_kmv=False)
    full = [
        t for t in _rows(read_tier(spark, store, "1m"),
                         ["conv_id", "bucket_ts", "sum_lat"])
        if t[2] is not None
    ]
    retention_sweep(
        spark, store, days[-1],
        policy={"1m": 3 * 86400, "5m": None, "1h": None, "1d": None},
    )
    got = read_tier_with_cold(spark, store, "1m")
    rows = [
        t for t in sorted(
            tuple(r) for r in got.select("conv_id", "bucket_ts", "sum_lat").collect()
        )
        if t[2] is not None
    ]
    assert rows == full
    assert got.filter("is_cold").count() > 0  # sweep really moved data cold
    raw.unpersist()

def test_incremental_kll_tiers(spark, tmp_path):
    """KLL quantile tiers refresh incrementally: the refreshed kll_1h /
    kll_1d state answers the same p95 as a from-scratch cascade, and
    in the small (exact) regime the same p95 as the true rank selection
    over raw latencies."""
    import numpy as np

    from timeseriestokenizer_spark.operators.kll import kll_percentile

    store = str(tmp_path / "store")
    raw = transcripts_df(spark, C=25, seed=5)
    refresh_tiers(spark, raw, store, with_hll=False, with_hist=False, with_cms=False, with_kmv=False)

    scratch = cascade("kll", derive_signals(raw))
    for tier in ("1h", "1d"):
        got = _rows(
            kll_percentile(read_tier(spark, store, f"kll_{tier}"), 0.95),
            ["bucket_ts", "p95_est", "n"],
        )
        exp = _rows(kll_percentile(scratch[tier], 0.95), ["bucket_ts", "p95_est", "n"])
        assert got == exp, f"kll tier {tier} p95 diverged from scratch"

    # exact-regime ground truth straight from the raw latencies
    lat = (
        derive_signals(raw)
        .filter(F.col("latency_s").isNotNull())
        .select(F.date_trunc("day", "ts").alias("d"), "latency_s")
        .collect()
    )
    by_day = {}
    for r in lat:
        by_day.setdefault(r["d"], []).append(r["latency_s"])
    got_1d = {
        r["bucket_ts"]: (r["p95_est"], r["n"])
        for r in kll_percentile(read_tier(spark, store, "kll_1d"), 0.95).collect()
    }
    assert set(got_1d) == set(by_day)
    for d, vals in by_day.items():
        srt = np.sort(np.asarray(vals))
        n = len(srt)
        idx = int(np.searchsorted(np.arange(1, n + 1), 0.95 * n, side="left"))
        assert got_1d[d] == (float(srt[min(idx, n - 1)]), n), d

def test_incremental_heavy_tiers(spark, tmp_path):
    """Heavy-hitter tiers refresh incrementally: refreshed heavy_1d state
    answers the same top-5 as a from-scratch cascade, exactly, in the
    no-eviction regime."""
    from timeseriestokenizer_spark.operators.heavy import heavy_topk

    store = str(tmp_path / "store")
    raw = transcripts_df(spark, C=25, seed=9)
    refresh_tiers(spark, raw, store, with_hll=False, with_hist=False, with_kll=False, with_cms=False, with_kmv=False)

    scratch = cascade("heavy", raw)
    got = _rows(
        heavy_topk(read_tier(spark, store, "heavy_1d"), 5),
        ["bucket_ts", "key", "est_count", "rank", "n", "err"],
    )
    exp = _rows(
        heavy_topk(scratch["1d"], 5),
        ["bucket_ts", "key", "est_count", "rank", "n", "err"],
    )
    assert got == exp and got
    assert all(r[5] == 0 for r in got)  # exact regime: err == 0


def test_incremental_cms_kmv_tiers(spark, tmp_path):
    """CMS and KMV tiers refresh incrementally: refreshed day partitions
    equal the from-scratch cascade cell for cell, and in the exact small
    regime the kmv_1d sketch recovers the true distinct-conv count while
    cms_1d point estimates equal true per-conv counts."""
    from timeseriestokenizer_spark.operators.cms import cms_point_estimate
    from timeseriestokenizer_spark.operators.kmv import kmv_estimate

    store = str(tmp_path / "store")
    raw = transcripts_df(spark, C=25, seed=5)
    refresh_tiers(
        spark, raw, store,
        with_hll=False, with_hist=False, with_kll=False, with_heavy=False,
    )
    sig = derive_signals(raw)

    cms, kmv = cascade("cms", sig), cascade("kmv", sig)
    for tier in ("1h", "1d"):
        got = _rows(read_tier(spark, store, f"cms_{tier}"), ["bucket_ts", "row", "col", "cnt"])
        exp = _rows(cms[tier], ["bucket_ts", "row", "col", "cnt"])
        assert got == exp, f"cms tier {tier} diverged from scratch"
        gotk = _rows(read_tier(spark, store, f"kmv_{tier}"), ["bucket_ts", "sketch"])
        expk = _rows(kmv[tier], ["bucket_ts", "sketch"])
        assert gotk == expk, f"kmv tier {tier} diverged from scratch"

    # exact small regime on the 1d tier: 25 convs < 128 nominal entries and width=256
    day_truth = {
        (r["d"], r["conv_id"]): r["n"]
        for r in sig.groupBy(
            F.date_trunc("day", "ts").alias("d"), "conv_id"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_distinct = {}
    for (d, c), _n in day_truth.items():
        n_distinct[d] = n_distinct.get(d, 0) + 1
    kmv_1d = kmv_estimate(read_tier(spark, store, "kmv_1d"), ["bucket_ts"])
    for r in kmv_1d.collect():
        assert r["est"] == n_distinct[r["bucket_ts"]]

    cms_1d = read_tier(spark, store, "cms_1d")
    days = [r["bucket_ts"] for r in cms_1d.select("bucket_ts").distinct().collect()]
    convs = sig.select("conv_id").distinct()
    for d in days:
        est = {
            r["k"]: r["est"]
            for r in cms_point_estimate(
                cms_1d.filter(F.col("bucket_ts") == d).drop("bucket_ts"),
                convs, key_col="conv_id",
            ).collect()
        }
        for c, e in est.items():
            true = day_truth.get((d, c), 0)
            assert e >= true
            if true > 0:
                assert e == true  # 25 keys into 256 cells: no collisions here


def test_refresh_rejects_bottom_k_kmv_store(spark, tmp_path):
    """A kmv_<tier> directory of bottom-k (bucket_ts, h, rank) rows, as
    stores built before the theta sketches hold, stops a refresh with the
    KMV family on before it writes anything."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "store" / "kmv_1d" / "day=2024-01-01"
    part.mkdir(parents=True)
    pq.write_table(
        pa.table({"bucket_ts": [dt.datetime(2024, 1, 1)], "h": [7], "rank": [1]}),
        str(part / "part-0.parquet"),
    )
    raw = transcripts_df(spark, C=5, seed=1)
    with pytest.raises(ValueError, match="predate the theta sketches"):
        refresh_tiers(spark, raw, str(tmp_path / "store"))
    assert sorted(os.listdir(tmp_path / "store")) == ["kmv_1d"]
