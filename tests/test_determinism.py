"""Determinism across parallelism (SURVEY §5.2.7): the same job at different
shuffle widths / partition layouts produces identical rolled-up points and
token sequences. (The cross-JVM local[8]-vs-local[32] run is
tools/bench_scaling.py, which also checks identical tier counts.)"""

import pandas as pd

from timeseriestokenizer_spark.datagen import transcripts_df
from timeseriestokenizer_spark.functions.signals import derive_signals
from timeseriestokenizer_spark.plans.incremental import cascade
from timeseriestokenizer_spark.operators.tpe import models_to_registry, tpe_train


def _with_shuffle(spark, n, fn):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        return fn()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_rollup_identical_across_shuffle_widths(spark, transcripts):
    def run(parts, repart):
        def _job():
            t = transcripts.repartition(repart)
            tiers = cascade("", derive_signals(t))
            return (
                tiers["1h"]
                .toPandas()
                .sort_values(["conv_id", "bucket_ts"])
                .reset_index(drop=True)
            )

        return _with_shuffle(spark, parts, _job)

    a = run(4, 3)
    b = run(32, 17)
    pd.testing.assert_frame_equal(a, b)


def test_tpe_models_identical_across_partitioning(spark, transcripts):
    """TPE training happens inside one group regardless of partitioning —
    merge tables must be bit-identical at any shuffle width."""
    from pyspark.sql import functions as F

    sig = derive_signals(transcripts).filter(F.col("latency_s").isNotNull())
    tok = sig.select(
        "conv_id",
        F.col("turn_idx").alias("pos"),
        (F.least(F.col("latency_s"), F.lit(120.0)) / 10).cast("int").alias("token"),
    )

    def run(parts, repart):
        def _job():
            return models_to_registry(
                tpe_train(tok.repartition(repart), "conv_id", "token", "pos", 30, 13)
            )

        return _with_shuffle(spark, parts, _job)

    a = run(4, 5)
    b = run(16, 11)
    assert set(a) == set(b)
    for k in a:
        assert a[k].merges == b[k].merges
        assert a[k].actual_vocab_size == b[k].actual_vocab_size


def test_dedup_and_sketch_ops_identical_across_partitioning(spark):
    """The round-3 corpus ops are pure functions of content: near-dup pairs,
    contamination fractions, and HLL distinct estimates must not change with
    partition layout or shuffle width."""
    import random

    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.dedup import (
        ngram_contamination,
        ngram_jaccard_pairs,
    )
    from timeseriestokenizer_spark.operators.rollup import with_distinct_estimate

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 16))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(repart, width):
        def _job():
            d = docs.repartition(repart)
            return sorted(
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in ngram_jaccard_pairs(d, "doc_id", threshold=0.4).collect()
            )
        return _with_shuffle(spark, width, _job)

    assert pairs(2, 4) == pairs(13, 32)

    def contam(repart, width):
        def _job():
            d = docs.repartition(repart)
            return sorted(
                (r["doc_id"], r["contamination"])
                for r in ngram_contamination(
                    d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"), "doc_id"
                ).collect()
            )
        return _with_shuffle(spark, width, _job)

    assert contam(2, 4) == contam(13, 32)

    ev = spark.createDataFrame(
        [(f"c{i % 37}", f"2024-01-01 0{i % 10}:0{i % 6}:00") for i in range(500)],
        "conv_id string, ts_s string",
    ).select("conv_id", F.col("ts_s").cast("timestamp").alias("ts"))

    def hll(repart, width):
        def _job():
            tiers = cascade("hll", ev.repartition(repart))
            return sorted(
                (r["bucket_ts"], r["n_distinct"])
                for r in with_distinct_estimate(tiers["1h"]).collect()
            )
        return _with_shuffle(spark, width, _job)

    assert hll(2, 4) == hll(13, 32)


def test_asof_join_semantics_and_plan(spark):
    """As-of semantics on handcrafted data: equal-timestamp right rows ARE
    matched (at-or-before), gaps carry the older value forward, rows before
    the first right row stay NULL — and the plan contains no nested-loop /
    inequality join (the whole point of the union+window form)."""
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", "2024-01-01 00:00", 1), ("a", "2024-01-02 12:00", 2),
         ("a", "2024-01-05 00:00", 3), ("b", "2024-01-01 00:00", 4)],
        "key string, ts_s string, row_id int",
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"), "row_id")
    right = spark.createDataFrame(
        [("a", "2024-01-01 00:00", 10.0),   # equal ts as left row 1 → matched
         ("a", "2024-01-03 00:00", 20.0),   # left row 3 (Jan 5) carries this
         ("b", "2024-06-01 00:00", 99.0)],  # after b's only left row → NULL
        "key string, ts_s string, level double",
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"), "level")

    out = asof_join(left, right, "key")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    got = {r["row_id"]: r["asof_level"] for r in out.collect()}
    assert got == {1: 10.0, 2: 10.0, 3: 20.0, 4: None}


def test_range_join_tiling_exact(spark):
    """Tiled range join: inclusive boundaries, intervals spanning many
    tiles, events outside every interval dropped — and a hash-join plan
    (the BETWEEN-only form nested-loops)."""
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.asof import range_join

    ev = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", 1),   # == start (inclusive)
         ("u", "2024-01-01 04:59:59", 2),   # inside, 5 tiles later
         ("u", "2024-01-01 05:00:00", 3),   # == end (inclusive)
         ("u", "2024-01-01 05:00:01", 4),   # just outside
         ("v", "2024-01-01 01:00:00", 5)],  # other key, no interval
        "user_id string, ts_s string, event_id int",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_id")
    win = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", "2024-01-01 05:00:00")],
        "user_id string, s string, e string",
    ).select(
        "user_id",
        F.col("s").cast("timestamp").alias("start_ts"),
        F.col("e").cast("timestamp").alias("end_ts"),
    )
    out = range_join(ev, win, keys=["user_id"], granularity_s=3600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 3]


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-check against an INDEPENDENT reference
    implementation: pandas.merge_asof(direction='backward',
    allow_exact_matches=True) on 3 keys x 40 left rows x irregular right
    rows must agree exactly with the union+window form."""
    import numpy as np
    import pandas as pd

    from timeseriestokenizer_spark.operators.asof import asof_join

    rng = np.random.RandomState(9)
    base = pd.Timestamp("2024-01-01")
    left_rows, right_rows = [], []
    rid = 0
    for k in ("a", "b", "c"):
        lt = np.sort(rng.choice(np.arange(0, 10_000), 40, replace=False))
        rt = np.sort(rng.choice(np.arange(-50, 9_000), 15, replace=False))
        for t in lt:
            left_rows.append((k, base + pd.Timedelta(seconds=int(t)), rid))
            rid += 1
        for t in rt:
            right_rows.append(
                (k, base + pd.Timedelta(seconds=int(t)), float(rng.randint(0, 1000)))
            )
    lpdf = pd.DataFrame(left_rows, columns=["key", "ts", "row_id"])
    rpdf = pd.DataFrame(right_rows, columns=["key", "ts", "level"])

    expected = pd.merge_asof(
        lpdf.sort_values("ts"), rpdf.sort_values("ts"),
        on="ts", by="key", direction="backward", allow_exact_matches=True,
    ).set_index("row_id")["level"]

    out = asof_join(
        spark.createDataFrame(lpdf), spark.createDataFrame(rpdf), "key"
    )
    got = {r["row_id"]: r["asof_level"] for r in out.collect()}
    assert len(got) == len(lpdf)
    for rid_, exp in expected.items():
        g = got[rid_]
        assert (g is None and pd.isna(exp)) or g == exp, (rid_, g, exp)


def test_asof_join_null_right_field_is_verbatim(spark):
    """The matched right row's values must be returned VERBATIM — a NULL in
    one value column of the latest right row must NOT fall back to an older
    row's value for that column (ADVICE r3: per-column last(ignorenulls)
    stitched output from different right rows; the struct carry fixes it)."""
    from timeseriestokenizer_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 160, 1), ("k", 200, 2)], "key string, ts long, row_id int"
    )
    # at ts=150: level=5.0, note='old'; at ts=180: level=NULL, note='new'
    right = spark.createDataFrame(
        [("k", 150, 5.0, "old"), ("k", 180, None, "new")],
        "key string, ts long, level double, note string",
    )
    out = {
        r["row_id"]: (r["asof_level"], r["asof_note"])
        for r in asof_join(left, right, "key").collect()
    }
    assert out[1] == (5.0, "old")
    # ts=200 matches the ts=180 row: level must be NULL (not 5.0 from ts=150)
    assert out[2] == (None, "new")


def test_asof_join_forward_direction(spark):
    """direction='forward' pairs each left row with the EARLIEST right row
    at-or-after it (ties included), NULL when no later right row exists."""
    from timeseriestokenizer_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 100, 1), ("k", 150, 2), ("k", 300, 3)],
        "key string, ts long, row_id int",
    )
    right = spark.createDataFrame(
        [("k", 150, 1.5), ("k", 200, 2.0)], "key string, ts long, level double"
    )
    out = {
        r["row_id"]: r["asof_level"]
        for r in asof_join(left, right, "key", direction="forward").collect()
    }
    assert out == {1: 1.5, 2: 1.5, 3: None}  # tie at 150 included; 300 → none
    # backward on the same data, for contrast
    back = {
        r["row_id"]: r["asof_level"]
        for r in asof_join(left, right, "key", direction="backward").collect()
    }
    assert back == {1: None, 2: 1.5, 3: 2.0}


def test_range_anti_join_semantics_and_plan(spark):
    """Exclusion twin of range_join: boundary-inclusive exclusion, events
    outside all intervals kept, plan stays hash-join (no nested loop)."""
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.asof import range_anti_join

    ev = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", 1),   # == start → excluded
         ("u", "2024-01-01 05:00:00", 2),   # == end → excluded
         ("u", "2024-01-01 05:00:01", 3),   # just outside → kept
         ("v", "2024-01-01 01:00:00", 4)],  # other key → kept
        "user_id string, ts_s string, event_id int",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_id")
    win = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", "2024-01-01 05:00:00")],
        "user_id string, s string, e string",
    ).select(
        "user_id",
        F.col("s").cast("timestamp").alias("start_ts"),
        F.col("e").cast("timestamp").alias("end_ts"),
    )
    out = range_anti_join(ev, win, keys=["user_id"], granularity_s=3600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert sorted(r["event_id"] for r in out.collect()) == [3, 4]


def test_asof_join_forward_matches_pandas_merge_asof(spark):
    """Forward-direction randomized cross-check: pandas.merge_asof
    (direction='forward', allow_exact_matches=True) must agree exactly
    with the reversed-sort union+window form."""
    import numpy as np

    from timeseriestokenizer_spark.operators.asof import asof_join

    rng = np.random.RandomState(21)
    base = pd.Timestamp("2024-01-01")
    left_rows, right_rows = [], []
    rid = 0
    for k in ("a", "b", "c"):
        lt = np.sort(rng.choice(np.arange(0, 10_000), 40, replace=False))
        rt = np.sort(rng.choice(np.arange(500, 12_000), 15, replace=False))
        for t in lt:
            left_rows.append((k, base + pd.Timedelta(seconds=int(t)), rid))
            rid += 1
        for t in rt:
            right_rows.append(
                (k, base + pd.Timedelta(seconds=int(t)), float(rng.randint(0, 1000)))
            )
    lpdf = pd.DataFrame(left_rows, columns=["key", "ts", "row_id"])
    rpdf = pd.DataFrame(right_rows, columns=["key", "ts", "level"])

    expected = pd.merge_asof(
        lpdf.sort_values("ts"), rpdf.sort_values("ts"),
        on="ts", by="key", direction="forward", allow_exact_matches=True,
    ).set_index("row_id")["level"]

    out = asof_join(
        spark.createDataFrame(lpdf), spark.createDataFrame(rpdf), "key",
        direction="forward",
    )
    got = {r["row_id"]: r["asof_level"] for r in out.collect()}
    assert len(got) == len(lpdf)
    for rid_, exp in expected.items():
        g = got[rid_]
        assert (g is None and pd.isna(exp)) or g == exp, (rid_, g, exp)
