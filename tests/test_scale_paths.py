"""Scale-path (table) twins of the tokenizer artifacts must equal the numpy
reference, and must not collect registries to the driver (VERDICT round 1,
"What's wrong" #3):

* fit_edges_df == fit_edges dict == the numpy edge fits
* quantize_with_edges/dequantize_with_edges (Catalyst join)
  == make_quantize_udf/make_dequantize_udf (Arrow UDF over the dict)
* tpe_encode_with_models/tpe_decode_with_models (cogroup vs the models
  TABLE) == TpeModel.encode/decode on the collected models
* scale_expr/inverse_scale_expr == numpy arithmetic on the fitted scalers
* tpe_roundtrip_tokens (fused one-exchange train→encode→decode) reproduces
  the input stream exactly (decode∘encode = id)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.functions.quantize import (
    dequantize_with_edges,
    fit_edges,
    fit_edges_df,
    make_dequantize_udf,
    make_quantize_udf,
    quantize_with_edges,
)


def _events(spark, n_users=7, n=400, seed=11):
    rng = np.random.RandomState(seed)
    rows = [
        (int(i), str(i % n_users), float(rng.standard_normal() * (1 + i % n_users)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "event_id long, uid string, value double")


@pytest.mark.parametrize("kind", ["equal_width", "adaptive"])
def test_fit_edges_df_matches_dict(spark, kind):
    """The table, its collected dict and the numpy fit agree bit-for-bit:
    equal_width is the same linspace arithmetic, adaptive runs the same
    numpy loop (both are order-independent)."""
    from timeseriestokenizer_spark.oracle import numpy_oracle as O

    ev = _events(spark)
    dict_edges = fit_edges(ev, "uid", "value", 16, kind=kind)
    df_edges = {
        r["series_id"]: np.asarray(r["edges"])
        for r in fit_edges_df(ev, "uid", "value", 16, kind=kind).collect()
    }
    values = {}
    for r in ev.collect():
        values.setdefault(r["uid"], []).append(r["value"])
    assert set(dict_edges) == set(df_edges) == set(values)
    for k, v in values.items():
        if kind == "equal_width":
            want = O.equal_width_edges(np.asarray(v), 16)
        else:
            want, _, _ = O.adaptive_bins_discretize(np.asarray(v), N=16)
        np.testing.assert_array_equal(dict_edges[k], want)
        np.testing.assert_array_equal(df_edges[k], want)


def test_quantize_join_path_equals_udf_path(spark):
    ev = _events(spark)
    n_bins = 16
    dict_edges = fit_edges(ev, "uid", "value", n_bins)
    q = make_quantize_udf(spark, dict_edges)
    dq = make_dequantize_udf(spark, dict_edges)
    udf_out = {
        r["event_id"]: (r["token"], r["recon"])
        for r in ev.withColumn("token", q("uid", "value"))
        .withColumn("recon", dq("uid", "token"))
        .collect()
    }

    edges_df = fit_edges_df(ev, "uid", "value", n_bins)
    joined = dequantize_with_edges(
        quantize_with_edges(ev, edges_df, "uid", "value"), edges_df, "uid", "token"
    )
    join_out = {
        r["event_id"]: (r["token"], r["recon"]) for r in joined.collect()
    }
    assert udf_out == join_out


def test_quantize_join_path_has_no_python_in_plan(spark):
    """The Catalyst path must stay JVM-side: no Arrow/Python eval nodes and
    no per-series driver collect feeding a broadcast variable."""
    ev = _events(spark)
    edges_df = fit_edges_df(ev, "uid", "value", 16)
    plan = (
        quantize_with_edges(ev, edges_df, "uid", "value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dequantize_join_extrapolation_branches(spark):
    """Out-of-range tokens follow the reference extrapolation rules
    (utils/discretisize.py:246-279): s==0 → below-lo half-bin, s>=len(edges)
    → above-hi half-bin."""
    ev = spark.createDataFrame(
        [(1, "a", 0.0), (2, "a", 10.0)], "event_id long, uid string, value double"
    )
    edges_df = fit_edges_df(ev, "uid", "value", 5)  # edges 0,2.5,5,7.5,10
    toks = spark.createDataFrame(
        [(1, "a", 0), (2, "a", 5), (3, "a", 2)], "event_id long, uid string, token int"
    )
    out = {
        r["event_id"]: r["recon"]
        for r in dequantize_with_edges(toks, edges_df, "uid", "token").collect()
    }
    assert out[1] == pytest.approx(-1.25)  # 0 - 2.5/2
    assert out[2] == pytest.approx(11.25)  # 10 + 2.5/2
    assert out[3] == pytest.approx(3.75)  # center of [2.5, 5]


def test_tpe_models_table_paths_match_oracle(spark):
    """Cogroup encode/decode against the models table equal TpeModel's own
    encode/decode with the same merges, and decode∘encode = identity."""
    from timeseriestokenizer_spark.operators.tpe import (
        models_to_registry,
        tpe_decode_with_models,
        tpe_encode_with_models,
        tpe_train,
    )

    rng = np.random.RandomState(3)
    rows = [
        (str(u), int(p), int(rng.randint(1, 9)))
        for u in range(5)
        for p in range(120)
    ]
    tok = spark.createDataFrame(rows, "uid string, pos long, token int")
    models = tpe_train(tok, "uid", "token", "pos", 20, 8).cache()
    reg = models_to_registry(models)
    orig = {}
    for u, _, t in sorted(rows, key=lambda r: (r[0], r[1])):
        orig.setdefault(u, []).append(t)

    enc_tbl_df = tpe_encode_with_models(tok, models, "uid", "token", "pos")
    enc_tbl = {r["series_id"]: list(r["tokens"]) for r in enc_tbl_df.collect()}
    assert enc_tbl == {u: reg[u].encode(seq) for u, seq in orig.items()}
    assert any(len(enc_tbl[u]) < len(orig[u]) for u in orig)  # merges applied

    dec_tbl = {
        r["series_id"]: list(r["tokens"])
        for r in tpe_decode_with_models(enc_tbl_df, models).collect()
    }
    assert dec_tbl == {u: reg[u].decode(enc_tbl[u]) for u in orig}
    assert dec_tbl == orig
    models.unpersist()


def test_tpe_models_table_missing_series_raises(spark):
    from timeseriestokenizer_spark.operators.tpe import (
        tpe_encode_with_models,
        tpe_train,
    )

    tok = spark.createDataFrame(
        [("a", i, 1 + i % 3) for i in range(30)], "uid string, pos long, token int"
    )
    models = tpe_train(
        tok.filter(F.col("uid") != "a"), "uid", "token", "pos", 10, 4
    )
    with pytest.raises(Exception, match="no trained TPE model"):
        tpe_encode_with_models(tok, models, "uid", "token", "pos").collect()


def test_tpe_roundtrip_tokens_identity(spark):
    from timeseriestokenizer_spark.operators.tpe import tpe_roundtrip_tokens

    rng = np.random.RandomState(7)
    rows = [
        (str(u), int(100 + p * 3), int(rng.randint(1, 6)))
        for u in range(4)
        for p in range(200)
    ]
    tok = spark.createDataFrame(rows, "uid string, pos long, token int")
    rt = tpe_roundtrip_tokens(tok, "uid", "token", "pos", 15, 5)
    got = {(r["series_id"], r["pos"]): r["token"] for r in rt.collect()}
    want = {(u, p): t for u, p, t in rows}
    assert got == want


def test_quantile_edges_approx_vs_exact(spark):
    """fit_edges(kind='quantile') uses percentile_approx (the only form that
    distributes at scale); document its delta against exact interpolated
    percentiles: approx returns actual data values, so each edge is within
    one inter-point gap of the exact quantile."""
    import numpy as np
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.functions.quantize import fit_edges

    rng = np.random.RandomState(2)
    vals = rng.standard_normal(4000)
    df = spark.createDataFrame(
        [("a", float(v)) for v in vals], "uid string, value double"
    )
    approx = fit_edges(df, "uid", "value", 8, kind="quantile")["a"]
    exact = np.quantile(vals, np.linspace(0, 1, 9))
    # max adjacent gap bounds the approx-vs-exact error for order-statistic
    # approximations at this accuracy
    gap = np.diff(np.sort(vals)).max()
    assert np.all(np.abs(approx - exact) <= gap + 1e-12)


def test_scale_join_path_matches_numpy_and_plan(spark):
    """The scale/inverse join path (scale_expr + inverse_scale_expr) equals
    numpy arithmetic on the fitted scalers table bit-for-bit on every row,
    with ZERO Python stages, whether AQE broadcasts the table or (with
    broadcasting off, the registry-as-data case) shuffles both sides. A
    series with no fitted row keeps its rows with NULL outputs."""
    from timeseriestokenizer_spark.functions.scaling import (
        fit_scalers,
        inverse_scale_expr,
        scale_expr,
    )

    rng = np.random.RandomState(23)
    rows = [
        (f"u{i % 7}", float(v), i)
        for i, v in enumerate(rng.uniform(-50, 50, 500))
    ]
    rows.append(("const", 4.0, 500))  # std=0 -> 1.0 branch
    rows.append(("const", 4.0, 501))
    df = spark.createDataFrame(rows, "uid string, value double, rid long")
    scalers = fit_scalers(df, "uid", "value")
    fitted = {r["series_id"]: (r["mean"], r["std"]) for r in scalers.collect()}
    assert fitted["const"] == (4.0, 1.0)

    want = {}
    for uid, v, rid in rows:
        mean, std = fitted[uid]
        z = (np.float64(v) - mean) / std
        want[rid] = (float(z), float(z * std + mean))
    want[502] = (None, None)  # no fitted row: NULL, not dropped

    df = df.union(spark.createDataFrame([("unfitted", 1.0, 502)], df.schema))

    def roundtrip():
        out = inverse_scale_expr(
            scale_expr(df, scalers, "uid", "value", out_col="z"),
            scalers, "uid", "z", out_col="recon",
        )
        return out, {r["rid"]: (r["z"], r["recon"]) for r in out.collect()}

    join_df, got = roundtrip()
    assert got == want  # same IEEE ops -> bit-identical
    plan = join_df._jdf.queryExecution().executedPlan().toString()
    for py_stage in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "FlatMapGroupsInPandas"):
        assert py_stage not in plan, py_stage

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled, got = roundtrip()
        assert got == want
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
