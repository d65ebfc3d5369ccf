"""Deterministic hash sampling / splitting (functions/sampling.py):
stability under repartitioning, per-stratum rates, consistent-sampling
alignment, and the no-shuffle plan claim."""

import numpy as np
from pyspark.sql import functions as F

from timeseriestokenizer_spark.functions.sampling import (
    deterministic_sample,
    stratified_sample,
    with_hash_split,
)


def _events(spark, n=4000):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("lang"), (F.col("id") % 3).cast("string")).alias("lang"),
    )


def test_split_stable_under_repartition_and_rerun(spark):
    df = _events(spark)
    a = {r["event_id"]: r["split"] for r in with_hash_split(df, ["event_id"]).collect()}
    b = {
        r["event_id"]: r["split"]
        for r in with_hash_split(df.repartition(17), ["event_id"]).collect()
    }
    c = {r["event_id"]: r["split"] for r in with_hash_split(df, ["event_id"]).collect()}
    assert a == b == c
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.15 < frac < 0.25


def test_split_membership_never_changes_when_data_grows(spark):
    """Adding rows must not move any existing example across the split —
    THE leakage property (df.sample would reshuffle everything)."""
    small = {r["event_id"]: r["split"]
             for r in with_hash_split(_events(spark, 1000), ["event_id"]).collect()}
    big = {r["event_id"]: r["split"]
           for r in with_hash_split(_events(spark, 4000), ["event_id"]).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_deterministic_sample_rate_and_consistency(spark):
    df = _events(spark)
    got = deterministic_sample(df, ["event_id"], 0.3, seed=5)
    n = got.count()
    assert 0.25 * 4000 < n < 0.35 * 4000
    # consistent sampling: a second table sampled with the same keys+seed
    # selects the ALIGNED rows (joinability of independently sampled tables)
    other = df.withColumn("extra", F.col("event_id") * 2)
    got2 = deterministic_sample(other, ["event_id"], 0.3, seed=5)
    assert got.select("event_id").exceptAll(got2.select("event_id")).count() == 0
    assert got2.count() == n


def test_stratified_rates(spark):
    df = _events(spark, 9000)
    out = (
        stratified_sample(df, "lang", {"lang0": 1.0, "lang1": 0.2}, ["event_id"], seed=3)
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
    )
    assert out.get("lang2", 0) == 0  # default fraction 0 drops the stratum
    assert out["lang0"] == 3000  # fraction 1.0 keeps everything
    assert 0.15 * 3000 < out["lang1"] < 0.25 * 3000


def test_sampling_plan_is_scan_local(spark):
    """No shuffle: membership is a row-local expression."""
    plan = (
        deterministic_sample(_events(spark), ["event_id"], 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_oracle_parity_hash_bucket(spark):
    """The md5 bucket matches DuckDB's arithmetic exactly (the contract rows
    hash_split/stratified_sample rely on the same construct)."""
    import duckdb

    df = _events(spark, 500)
    got = {r["event_id"]: r["split"] for r in with_hash_split(df, ["event_id"]).collect()}
    con = duckdb.connect()
    thresh = int(0.2 * 16 ** 15)
    exp = dict(
        con.execute(
            f"""
            SELECT i, CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':', '42')), 1, 15)) AS BIGINT)
                           < {thresh} THEN 'test' ELSE 'train' END
            FROM range(500) t(i)
            """
        ).fetchall()
    )
    assert got == exp


def test_weighted_sample_topk_properties(spark):
    """Weighted sampling: deterministic across repartition, excludes
    non-positive weights, exact k, and heavier rows are sampled more often
    across seeds (statistical sanity on a 10x weight skew)."""
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.functions.sampling import weighted_sample_topk

    rows = [(i, 100 if i < 50 else 10) for i in range(500)] + [(999, 0)]
    df = spark.createDataFrame(rows, "doc_id long, w long")

    a = sorted(
        r["doc_id"]
        for r in weighted_sample_topk(df, ["doc_id"], "w", 40).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in weighted_sample_topk(df.repartition(13), ["doc_id"], "w", 40).collect()
    )
    assert a == b and len(a) == 40 and 999 not in a

    heavy_hits = 0
    for seed in range(5):
        got = {
            r["doc_id"]
            for r in weighted_sample_topk(df, ["doc_id"], "w", 40, seed=seed).collect()
        }
        heavy_hits += sum(1 for d in got if d < 50)
    # heavy rows are 10% of the population but 53% of total weight; across
    # 5 seeds they must dominate well beyond their population share
    assert heavy_hits / (5 * 40) > 0.3


def _mix_docs(spark):
    """Three sources: 'big' (way over its target), 'tiny' (under target →
    rate-1 keep-everything), 'unlisted' (absent from weights → dropped)."""
    rows = []
    for i in range(2000):
        rows.append((i, "big", "w " * 20))          # 20 tokens each
    for i in range(2000, 2010):
        rows.append((i, "tiny", "w " * 5))          # 50 tokens total
    for i in range(3000, 3050):
        rows.append((i, "unlisted", "w " * 8))
    return spark.createDataFrame(
        [(d, s, t.strip()) for d, s, t in rows], "doc_id long, source string, text string"
    )


def test_mixture_plan_rates(spark):
    from timeseriestokenizer_spark.functions.sampling import mixture_plan

    plan = {
        r["source"]: r
        for r in mixture_plan(
            _mix_docs(spark), {"big": 3.0, "tiny": 1.0}, token_budget=4000
        ).collect()
    }
    # targets: big 3000, tiny 1000; avails: big 40000, tiny 50
    assert plan["big"]["avail_tokens"] == 40000
    assert plan["big"]["target_tokens"] == 3000.0
    assert plan["big"]["rate"] == 3000.0 / 40000.0
    # under-target source keeps everything — honest undershoot, never upsample
    assert plan["tiny"]["rate"] == 1.0
    # unlisted source gets rate 0 (dropped), mirroring stratified_sample
    assert plan["unlisted"]["rate"] == 0.0


def test_mixture_sample_budget_and_determinism(spark):
    from timeseriestokenizer_spark.functions.sampling import mixture_sample

    df = _mix_docs(spark)
    kept = mixture_sample(df, {"big": 3.0, "tiny": 1.0}, 4000, ["doc_id"]).cache()
    by_src = {
        r["source"]: (r["n"], r["tok"])
        for r in kept.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_tok").alias("tok"))
        .collect()
    }
    # rate-1 source keeps every row; unlisted source is gone entirely
    assert by_src["tiny"][0] == 10
    assert "unlisted" not in by_src
    # realized kept tokens track the 3000-token target (hash sampling noise)
    assert 2000 < by_src["big"][1] < 4000
    # membership is content-hash determined: repartitioning changes nothing
    again = mixture_sample(
        df.repartition(13), {"big": 3.0, "tiny": 1.0}, 4000, ["doc_id"]
    )
    assert kept.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    assert again.count() == kept.count()
    kept.unpersist()


def test_mixture_sample_plan_broadcasts(spark):
    """The #sources-row plan must broadcast onto the doc stream — never a
    sort-merge join shuffling the corpus by source."""
    from timeseriestokenizer_spark.functions.sampling import mixture_sample

    plan = (
        mixture_sample(_mix_docs(spark), {"big": 1.0}, 1000, ["doc_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_take_exact_quota(spark):
    """Exact fill: kept tokens reach the target and overshoot by less than
    one doc; keep set is a hash-order prefix; unlisted sources drop."""
    from timeseriestokenizer_spark.functions.sampling import mixture_take
    from timeseriestokenizer_spark.session import release_held

    df = _mix_docs(spark)
    kept = mixture_take(df, {"big": 3.0, "tiny": 1.0}, 4000, ["doc_id"])
    rows = kept.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    # big: target 3000 of 40000 avail -> filled to >= 3000, overshoot < one
    # doc (every doc is 20 tokens)
    big_tok = sum(r["n_tok"] for r in by_src["big"])
    assert 3000 <= big_tok < 3000 + 20
    # tiny: target 1000 > avail 50 -> keeps everything
    assert len(by_src["tiny"]) == 10
    assert "unlisted" not in by_src
    # cum_tok is the inclusive per-source fill level in hash order
    assert max(r["cum_tok"] for r in by_src["big"]) == big_tok
    release_held()
    # determinism under repartitioning
    again = mixture_take(df.repartition(11), {"big": 3.0, "tiny": 1.0}, 4000,
                         ["doc_id"])
    ids_a = sorted(r["doc_id"] for r in rows)
    ids_b = sorted(r["doc_id"] for r in again.collect())
    assert ids_a == ids_b


def test_stratified_take_exact_k(spark):
    """Row-quota sampling: exactly k per group (all rows when the group is
    smaller), equal to the plain row_number window reference, stable under
    repartitioning."""
    from pyspark.sql import Window as W

    from timeseriestokenizer_spark.functions.sampling import (
        _hash_u,
        stratified_take,
    )
    from timeseriestokenizer_spark.session import release_held

    df = _mix_docs(spark).select("doc_id", "source")
    got = stratified_take(df, "source", 7, ["doc_id"])
    rows = got.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src["big"]) == 7
    assert len(by_src["unlisted"]) == 7
    assert len(by_src["tiny"]) == 7  # tiny has 10 rows >= 7
    assert sorted(r["take_rank"] for r in by_src["big"]) == list(range(1, 8))
    release_held()

    # reference: plain window over the same hash order
    ref = (
        df.withColumn("_u", _hash_u(["doc_id"], 42))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy("_u", "doc_id")
            ),
        )
        .filter(F.col("rn") <= 7)
    )
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in ref.collect()
    )

    again = stratified_take(df.repartition(9), "source", 7, ["doc_id"])
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in rows
    )
