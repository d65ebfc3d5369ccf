"""Detokenize-and-score pipeline vs the oracle (FIXTURES.md F5: float preds
needing ceil, NaN → 0 placeholder, out-of-range tokens hitting the
extrapolation branches) + the F5 sanitizer."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.functions.textstats import sanitize_name
from timeseriestokenizer_spark.operators.results import apply_ceiling, score_predictions
from timeseriestokenizer_spark.oracle import numpy_oracle as O


@pytest.fixture(scope="module")
def fixture_f5(spark):
    edges = np.linspace(-2.0, 2.0, 10)  # 10 edges → 9 centers
    n = 40
    rng = np.random.RandomState(9)
    trues = rng.randint(1, 10, n).astype(float)
    preds = trues + rng.uniform(-0.9, 0.9, n)  # floats needing ceil
    preds[3] = np.nan          # NaN → token 0 placeholder → below-range decode
    preds[7] = 11.2            # ceil → 12 ≥ len(edges) → high extrapolation
    preds[11] = 0.0            # token 0 → below-range decode
    pdf_p = pd.DataFrame({"series_id": "s", "pos": range(n), "token": preds})
    pdf_t = pd.DataFrame({"series_id": "s", "pos": range(n), "token": trues})
    edges_df = spark.createDataFrame(
        [("s", edges.tolist())], "series_id string, edges array<double>"
    )
    return (
        spark.createDataFrame(pdf_p),
        spark.createDataFrame(pdf_t),
        edges_df,
        {"s": edges},
        pdf_p,
        pdf_t,
    )


def test_apply_ceiling(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"series_id": ["a"] * 3, "token": [1.2, float("nan"), -0.5]})
    )
    out = apply_ceiling(df).toPandas()["token"].tolist()
    assert out == [2, 0, 0]  # ceil, NaN→0, ceil(-0.5)=0


def test_score_predictions_matches_oracle(spark, fixture_f5):
    preds, trues, edges_df, edges, pdf_p, pdf_t = fixture_f5
    got = score_predictions(preds, trues, edges_df).collect()[0]

    # oracle twin: ceil (NaN→0) → decode with extrapolation → masked metrics
    ceiled = np.where(
        np.isnan(pdf_p["token"]), 0, np.ceil(pdf_p["token"].to_numpy())
    ).astype(int)
    dec_p = np.array(O.decode_tokens(ceiled, edges["s"]))
    dec_t = np.array(O.decode_tokens(pdf_t["token"].astype(int), edges["s"]))
    exp = O.calculate_metrics(dec_t, dec_p)

    for k in ["MSE", "RMSE", "MAE", "MAPE", "MSPE", "R2"]:
        assert got[k] == pytest.approx(exp[k], rel=1e-9), k
    assert got["valid_samples"] == exp["valid_samples"]


def test_score_predictions_extrapolation_hit(spark, fixture_f5):
    """The out-of-range tokens decode via the reference's extrapolation
    branches instead of being dropped."""
    preds, trues, edges_df, _, pdf_p, _ = fixture_f5
    got = score_predictions(preds, trues, edges_df).collect()[0]
    assert got["valid_samples"] == len(pdf_p)  # nothing masked (no NaN decode)


def test_score_predictions_masks_and_drops(spark, fixture_f5):
    """A negative predicted token decodes to NULL and its pair is masked; a
    series with no fitted edges drops out of the score."""
    preds, trues, edges_df, edges, pdf_p, pdf_t = fixture_f5
    neg = preds.withColumn(
        "token", F.when(F.col("pos") == 5, F.lit(-3.5)).otherwise(F.col("token"))
    )
    other = trues.withColumn("series_id", F.lit("unfitted"))
    got = score_predictions(neg.union(other), trues.union(other), edges_df).collect()
    assert [r["series_id"] for r in got] == ["s"]
    assert got[0]["valid_samples"] == len(pdf_p) - 1


def test_sanitize_name(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"name": ["T (°C)", "wind/speed %", "a  b..c*d"]})
    )
    out = df.select(sanitize_name("name").alias("s")).toPandas()["s"].tolist()
    assert out == ["T_degC", "wind_per_speed_pct", "a_b_cxd"]
