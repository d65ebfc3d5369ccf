"""Scaler table + quantize/dequantize (table joins and UDFs) vs the NumPy
oracle: the full scale→quantize→dequantize→inverse-scale chain reconstructs
the bin-center values exactly (SURVEY §5.2.2)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from timeseriestokenizer_spark.functions.quantize import (
    dequantize_with_edges,
    fit_edges,
    fit_edges_df,
    make_quantize_udf,
    quantize_sql_expr,
    quantize_with_edges,
)
from timeseriestokenizer_spark.functions.scaling import (
    fit_scalers,
    inverse_scale_expr,
    scale_expr,
)
from timeseriestokenizer_spark.oracle import numpy_oracle as O


def _series_df(spark, n=400, n_series=3, seed=7):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "series_id": np.repeat([f"s{i}" for i in range(n_series)], n),
            "pos": np.tile(np.arange(n), n_series),
            "v": np.concatenate(
                [rng.normal(i * 10, 1 + i, n) for i in range(n_series)]
            ),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _scalers(scalers_df) -> dict:
    return {r["series_id"]: (r["mean"], r["std"]) for r in scalers_df.collect()}


def test_scaler_fit_matches_oracle(spark):
    df, pdf = _series_df(spark)
    reg = _scalers(fit_scalers(df, "series_id", "v"))
    for sid, grp in pdf.groupby("series_id"):
        mean, std = O.fit_scaler(grp["v"].to_numpy())
        assert np.isclose(reg[sid][0], mean, atol=1e-9)
        assert np.isclose(reg[sid][1], std, atol=1e-9)


def test_scale_inverse_roundtrip(spark):
    df, pdf = _series_df(spark)
    scalers = fit_scalers(df, "series_id", "v")
    out = inverse_scale_expr(
        scale_expr(df, scalers, "series_id", "v", out_col="z"),
        scalers, "series_id", "z", out_col="recon",
    ).toPandas()
    assert np.allclose(out["recon"], out["v"], atol=1e-9)
    # z-scores standardized per series (population std)
    for sid, grp in out.groupby("series_id"):
        assert abs(grp["z"].mean()) < 1e-9
        assert abs(grp["z"].std(ddof=0) - 1) < 1e-9


def test_quantize_matches_oracle(spark):
    df, pdf = _series_df(spark)
    edges = fit_edges(df, "series_id", "v", n_bins=50)
    q = make_quantize_udf(spark, edges)
    out = (
        df.withColumn("tok", q("series_id", "v"))
        .orderBy("series_id", "pos")
        .toPandas()
    )
    for sid, grp in out.groupby("series_id"):
        exp = O.digitize_tokens(
            pdf[pdf.series_id == sid].sort_values("pos")["v"].to_numpy(), edges[sid]
        )
        assert np.array_equal(grp["tok"].to_numpy(), exp)


def test_quantize_sql_expr_matches_udf(spark):
    """Catalyst-only quantize twin == numpy digitize path, bit-exact."""
    df, _ = _series_df(spark)
    edges = fit_edges(df, "series_id", "v", n_bins=50)
    q = make_quantize_udf(spark, edges)
    stats = df.groupBy("series_id").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    out = (
        df.join(F.broadcast(stats), "series_id")
        .withColumn("tok_udf", q("series_id", "v"))
        .withColumn("tok_sql", quantize_sql_expr("v", "lo", "hi", 50))
        .filter(F.col("tok_udf") != F.col("tok_sql"))
        .count()
    )
    assert out == 0


def test_full_chain_reconstructs_bin_centers(spark):
    """scale → quantize → dequantize → inverse-scale on the fitted tables
    == bin-center reconstruction computed by the oracle (north-star
    round-trip)."""
    df, pdf = _series_df(spark)
    scalers_df = fit_scalers(df, "series_id", "v")
    scaled = scale_expr(df, scalers_df, "series_id", "v", out_col="z").cache()
    edges_df = fit_edges_df(scaled, "series_id", "z", n_bins=50)
    tok = quantize_with_edges(scaled, edges_df, "series_id", "z", out_col="tok")
    out = (
        inverse_scale_expr(
            dequantize_with_edges(tok, edges_df, "series_id", "tok", out_col="zc"),
            scalers_df, "series_id", "zc", out_col="recon",
        )
        .orderBy("series_id", "pos")
        .toPandas()
    )
    scalers = _scalers(scalers_df)
    edges = {r["series_id"]: np.asarray(r["edges"]) for r in edges_df.collect()}
    for sid, grp in out.groupby("series_id"):
        raw = pdf[pdf.series_id == sid].sort_values("pos")["v"].to_numpy()
        # same scalers + edges as the engine: the chain must match bit-for-bit
        mean, std = scalers[sid]
        z = O.scale(raw, mean, std)
        np.testing.assert_array_equal(edges[sid], O.equal_width_edges(z, 50))
        sym = O.digitize_tokens(z, edges[sid])
        assert np.array_equal(grp["tok"].to_numpy(), sym)
        dec = np.array(O.decode_tokens(sym, edges[sid]))
        exp = O.inverse_scale(dec, mean, std)
        assert np.allclose(grp["recon"].to_numpy(), exp, atol=1e-12, equal_nan=True)
    scaled.unpersist()


def test_quantile_and_adaptive_edges(spark):
    df, pdf = _series_df(spark, n=300, n_series=1)
    qe = fit_edges(df, "series_id", "v", n_bins=10, kind="quantile")["s0"]
    assert len(qe) == 11
    assert qe[0] == pdf["v"].min() and qe[-1] == pdf["v"].max()
    ae = fit_edges(df, "series_id", "v", n_bins=12, kind="adaptive")["s0"]
    exp_edges, _, _ = O.adaptive_bins_discretize(
        pdf.sort_values("pos")["v"].to_numpy(), N=12
    )
    assert np.allclose(np.sort(ae), np.sort(exp_edges))


def test_chronos_rebin_mode_matches_oracle(spark):
    """F13: mode='chronos' on the broadcast-edges UDF and the Catalyst
    SQL-expr twin both reproduce numpy_oracle.chronos_rebin
    (transform_with_chronos_vocab.py:188-194 — right=False, no +1, clipped)."""
    from timeseriestokenizer_spark.functions.quantize import chronos_rebin_sql_expr

    df, pdf = _series_df(spark, n=300, n_series=2)
    n_bins = 16
    edges = fit_edges(df, "series_id", "v", n_bins)
    q = make_quantize_udf(spark, edges, mode="chronos")
    udf_out = (
        df.withColumn("tok", q("series_id", "v")).orderBy("series_id", "pos").toPandas()
    )
    # Catalyst join-path twin
    cat_out = (
        quantize_with_edges(
            df, fit_edges_df(df, "series_id", "v", n_bins), "series_id", "v",
            out_col="tok", mode="chronos",
        )
        .orderBy("series_id", "pos")
        .toPandas()
    )
    # lo/hi literal-edges expression twin
    ext = df.groupBy("series_id").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    expr_out = (
        df.join(ext, "series_id")
        .withColumn("tok", chronos_rebin_sql_expr("v", "lo", "hi", n_bins))
        .orderBy("series_id", "pos")
        .toPandas()
    )
    for sid, grp in udf_out.groupby("series_id"):
        raw = pdf[pdf.series_id == sid].sort_values("pos")["v"].to_numpy()
        exp = O.chronos_rebin(raw, edges[sid])
        assert np.array_equal(grp["tok"].to_numpy(), exp)
        assert np.array_equal(
            cat_out[cat_out.series_id == sid]["tok"].to_numpy(), exp
        )
        assert np.array_equal(
            expr_out[expr_out.series_id == sid]["tok"].to_numpy(), exp
        )
    # the two conventions genuinely differ on this data (guard against the
    # mode flag silently routing to the F1 path)
    ref = make_quantize_udf(spark, edges, mode="reference")
    ref_out = (
        df.withColumn("tok", ref("series_id", "v")).orderBy("series_id", "pos").toPandas()
    )
    assert not np.array_equal(ref_out["tok"].to_numpy(), udf_out["tok"].to_numpy())
