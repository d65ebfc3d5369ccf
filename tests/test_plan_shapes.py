"""Plan-shape regression tests — the scale claims in BENCH/PLANS.md must not
silently regress."""

import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.datagen import transcripts_df
from timeseriestokenizer_spark.functions.signals import signals_narrow
from timeseriestokenizer_spark.plans.incremental import cascade


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cascade_single_exchange(spark):
    """The whole 1m→5m→1h→1d cascade must reuse the window's conv_id
    partitioning: exactly ONE Exchange in the 1d plan."""
    t = transcripts_df(spark, C=5, seed=2)
    plan = _plan(cascade("", signals_narrow(t))["1d"])
    assert plan.count("Exchange") == 1, plan


def test_scan_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_extendedprice" not in plan  # column pruning reached the scan


def test_broadcast_join_for_dims(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .count()
    )
    plan = _plan(j)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_gorilla_pack_single_exchange(spark):
    """Batched gorilla pack = collapse agg + mapInArrow: exactly ONE
    Exchange (the groupBy), no FlatMapGroupsInPandas per-group dispatch."""
    from timeseriestokenizer_spark.operators.gorilla import gorilla_pack

    df = spark.createDataFrame(
        [("a", "2026-01-01 00:00:00", 1.0)], "uid string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _plan(gorilla_pack(df, "uid", "ts", "value"))
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan


def test_tpe_roundtrip_tokens_single_exchange(spark):
    """Fused TPE roundtrip: one exchange, batched Python, no model collect
    (the plan contains no broadcast of a collected registry)."""
    from timeseriestokenizer_spark.operators.tpe import tpe_roundtrip_tokens

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2)], "uid string, pos long, token int"
    )
    plan = _plan(tpe_roundtrip_tokens(df, "uid", "token", "pos", 10, 4))
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan


def test_gapfill_single_exchange(spark):
    """The whole gap-fill (dedup → spine → left join → LOCF window) must
    reuse ONE hash(key) exchange: every stage demands only clustering by
    key (HashPartitioning(key) satisfies the (key, slot_ts) join and the
    dedup/LOCF windows)."""
    from timeseriestokenizer_spark.operators.gapfill import gap_fill

    df = spark.createDataFrame(
        [("a", "2026-01-01 00:00:00", 1.0), ("a", "2026-01-01 02:00:00", 2.0)],
        "uid string, hts string, v double",
    ).withColumn("hts", F.col("hts").cast("timestamp"))
    plan = _plan(gap_fill(df, "uid", "hts", ["v"], 3600))
    n_exchange = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchange == 1, plan


def test_simhash_near_pairs_is_equi_join(spark):
    """Block-combination blocking (4x8-bit bands at 32 bits, 6C3 keys at
    60) must compile to a hash equi-join — the OR-of-band-equalities
    predicate form regressed to an O(n²) BroadcastNestedLoopJoin
    (VERDICT r2 #1)."""
    from timeseriestokenizer_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    for n_bits, n_blocks in [(32, 4), (60, 6)]:
        plan = _plan(
            simhash_near_pairs(df, "doc_id", n_bits=n_bits, n_blocks=n_blocks)
        )
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "Join" in plan  # and it IS a join (hash-based)


def test_simhash_band_blocking_recall(spark):
    """A Hamming-2 pair whose flipped bits straddle BOTH 16-bit halves (the
    2-half-band blocking's blind spot) must be found by the 4-band form."""
    import numpy as np

    from timeseriestokenizer_spark.operators.dedup import simhash_near_pairs

    # craft two texts whose simhashes differ in bit 3 (low half) and bit 29
    # (high half): search small word soups until the property holds
    from timeseriestokenizer_spark.oracle.numpy_oracle import simhash32_py

    base_words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    found = None
    for extra in ["w%d" % i for i in range(4000)]:
        a = " ".join(base_words)
        b = " ".join(base_words + [extra])
        ha, hb = simhash32_py(a), simhash32_py(b)
        d = bin(ha ^ hb).count("1")
        lo_diff = (ha ^ hb) & 0xFFFF
        hi_diff = (ha ^ hb) >> 16
        if 1 <= d <= 3 and lo_diff != 0 and hi_diff != 0:
            found = (a, b, d)
            break
    assert found, "no cross-half near pair found in search space"
    a, b, d = found
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = simhash_near_pairs(df, "doc_id", max_hamming=3).collect()
    assert len(rows) == 1 and rows[0]["hamming"] == d


def test_quantize_catalyst_stays_in_codegen(spark):
    """Join-path quantize over an edges table: whole plan JVM-side."""
    from timeseriestokenizer_spark.functions.quantize import (
        fit_edges_df,
        quantize_with_edges,
    )

    ev = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0)], "event_id long, uid string, value double"
    )
    plan = _plan(quantize_with_edges(ev, fit_edges_df(ev, "uid", "value", 8), "uid", "value"))
    # JVM-side throughout: no Arrow/Python eval nodes, no Python UDF exec
    assert "EvalPython" not in plan and "Python" not in plan, plan


def test_quantize_closed_form_path_is_pinned(spark, tmp_path):
    """Equal-width edges quantize through the closed-form CASE tree over
    (lo, hi), never the interpreted ``aggregate`` fold over the edges array:
    for the two registry rows, and for an edges table that was filtered,
    cached or written to parquet first (the bin count is column metadata
    of ``edges``, so it survives all three)."""
    from timeseriestokenizer_spark import contract
    from timeseriestokenizer_spark.functions.quantize import (
        dequantize_with_edges,
        fit_edges_df,
        quantize_with_edges,
    )

    spark.createDataFrame(
        [(i, i % 3, float((i * 37) % 101)) for i in range(60)],
        "event_id long, user_id long, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))

    def closed_form(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return "CASE WHEN" in plan and "aggregate(" not in plan

    for row in ("quantize_catalyst", "chronos_rebin_tokens"):
        assert closed_form(contract.QUERIES[row](spark, str(tmp_path))), row

    ev = contract.load(spark, str(tmp_path), "events").withColumn(
        "uid", F.col("user_id").cast("string")
    )
    edges = fit_edges_df(ev, "uid", "value", 50)
    edges.write.parquet(str(tmp_path / "edges.parquet"))
    want = quantize_with_edges(ev, edges, "uid", "value").collect()
    for variant in (
        edges.filter(F.col("hi") >= F.col("lo")),
        edges.filter(F.col("hi") >= F.col("lo")).cache(),
        spark.read.parquet(str(tmp_path / "edges.parquet")),
    ):
        for mode in ("reference", "chronos"):
            assert closed_form(quantize_with_edges(ev, variant, "uid", "value", mode=mode))
        tokd = quantize_with_edges(ev, variant, "uid", "value")
        assert closed_form(dequantize_with_edges(tokd, variant, "uid", "token"))
        assert sorted(tokd.collect()) == sorted(want)
    # without the extents the closed form cannot apply: the fold remains
    folded = quantize_with_edges(ev, edges.drop("lo", "hi"), "uid", "value")
    assert not closed_form(folded)
    assert sorted(folded.collect()) == sorted(want)


@pytest.mark.parametrize("row", ["zscore_roundtrip", "detokenize_score"])
def test_table_artifact_rows_build_without_jobs(spark, row):
    """Building these rows fires no Spark job: their scalers and bin edges
    are tables joined in when the query runs, never collected to the
    driver while the DataFrame is built."""
    from timeseriestokenizer_spark import contract

    sf_dir = "/root/testdata/sf0.001"
    # the first read of a parquet file runs one schema-inference job; the
    # builder reuses the memoized handle
    contract.load(spark, sf_dir, "events")
    sc = spark.sparkContext
    group = f"build-{row}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = contract.QUERIES[row](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "Python" not in _plan(df)


def test_reconcile_with_batch_has_no_join(spark):
    """The lambda read path (streaming tail + batch days) must compile to
    two day-pruned filters and a union — any Join node means the scale
    claim (no shuffle) is broken."""
    import pandas as pd

    from timeseriestokenizer_spark.streaming.rollup_stream import (
        reconcile_with_batch,
    )

    cols = ["conv_id", "bucket_ts", "n_turns", "sum_chars", "sum_tokens", "n_tool_calls"]
    pdf = pd.DataFrame(
        [("c", pd.Timestamp("2026-01-01 00:01:00"), 1, 10, 2, 0)], columns=cols
    )
    stream_sink = spark.createDataFrame(pdf)
    batch = spark.createDataFrame(pdf)
    plan = (
        reconcile_with_batch(stream_sink, batch, ["2026-01-01"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Exchange" not in plan


def test_round4_rows_stay_join_free(spark):
    """The round-4 contract rows' scale claims, pinned: the histogram rows
    and both as-of directions must contain NO join (they are aggregation/
    window forms), and the exchange counts must not grow."""
    from timeseriestokenizer_spark import contract

    budgets = {  # (max joins, max exchanges)
        "value_histogram": (0, 1),
        "hist_p95_cascade": (0, 3),
        "asof_join_nulls": (0, 2),
        "asof_join_forward": (0, 2),
    }
    for name, (max_j, max_x) in budgets.items():
        df = contract.QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Join") <= max_j, (name, plan.count("Join"))
        assert plan.count("Exchange") <= max_x, (name, plan.count("Exchange"))


def test_weighted_sample_is_take_ordered(spark):
    """weighted_sample_topk must compile to TakeOrderedAndProject —
    per-partition top-k heaps, never a global sort."""
    from timeseriestokenizer_spark import contract

    df = contract.QUERIES["weighted_sample"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_session3_rows_stay_join_free(spark):
    """The session-3 rows' scale claims, pinned: every one is an
    aggregation/window form — NO join anywhere — and the docstrings'
    exchange budgets hold (ccf/pettitt/dft/predict_linear cluster
    everything on the series key; the two drift rows spend one extra
    exchange on the map-side-combined (key, value) histogram)."""
    from timeseriestokenizer_spark import contract

    budgets = {  # (max joins, max exchanges)
        "ccf_lead_lag": (0, 1),
        "pettitt_changepoint": (0, 1),
        "dft_dominant": (0, 1),
        "predict_linear": (0, 1),
        "ks_drift": (0, 2),
        "rank_sum_shift": (0, 2),
        "rdp_keep": (0, 1),
        "sample_entropy": (0, 1),
        "seasonal_mk": (0, 1),
        "asof_lerp": (0, 2),
        "hurst_var": (0, 1),
        "pacf": (0, 1),
        "ljung_box": (0, 1),
        "ou_halflife": (0, 1),
        "runs_test": (0, 1),
        "turning_points": (0, 1),
        "variance_ratio": (0, 1),
        "transition_concentration": (0, 1),
        "benford_deviation": (0, 1),
    }
    for name, (max_j, max_x) in budgets.items():
        df = contract.QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_x = plan.count("Exchange") - plan.count("ReusedExchange")
        assert plan.count("Join") <= max_j, (name, plan.count("Join"))
        assert n_x <= max_x, (name, n_x, plan)
