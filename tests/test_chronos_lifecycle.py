"""Integration twins of the reference's entry points not yet exercised
end-to-end: §3.2 (universal-vocab gathering with zero-ratio and min-length
filters over long-format series) and the F2 weather-like multi-column
fan-out."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.functions.quantize import fit_edges, make_quantize_udf
from timeseriestokenizer_spark.operators.tpe import tpe_encode, train_universal
from timeseriestokenizer_spark.operators.wide import tokenize_wide


@pytest.fixture(scope="module")
def series_long(spark):
    """FIXTURES.md F3: 30 series x 200 points; ~6 series >30% zeros; one
    series with <10 points."""
    rng = np.random.RandomState(21)
    frames = []
    for i in range(30):
        n = 5 if i == 29 else 200
        v = rng.standard_normal(n) * (1 + i % 3) + i
        if i < 6:
            mask = rng.rand(n) < 0.5
            v[mask] = 0.0
        frames.append(
            pd.DataFrame({"series_id": f"s{i:02d}", "pos": np.arange(n), "target": v})
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def test_universal_vocab_lifecycle(spark, series_long):
    """§3.2: zero-ratio filter (P6, >30% zeros rejected) → min-length filter
    (P7, <10 points rejected) → per-series standardize+quantize → driver-side
    universal TPE → encode every surviving series with the one model."""
    stats = series_long.groupBy("series_id").agg(
        F.avg((F.col("target") == 0).cast("double")).alias("zero_ratio"),
        F.count(F.lit(1)).alias("n"),
    )
    keep = stats.filter((F.col("zero_ratio") <= 0.3) & (F.col("n") >= 10))
    kept_ids = {r["series_id"] for r in keep.collect()}
    assert "s29" not in kept_ids  # min-length reject
    assert all(f"s{i:02d}" not in kept_ids for i in range(6))  # zero-ratio reject
    assert len(kept_ids) == 23

    data = series_long.join(F.broadcast(keep.select("series_id")), "series_id")
    edges = fit_edges(data, "series_id", "target", 50)
    q = make_quantize_udf(spark, edges)
    tok = data.select("series_id", "pos", q("series_id", "target").alias("token"))

    model = train_universal(tok, "series_id", "token", "pos", 90, 50, max_rows=4000)
    assert len(model.merges) > 0
    enc = tpe_encode(tok, "series_id", "token", "pos", model).toPandas()
    assert set(enc["series_id"]) == kept_ids
    assert (enc["n_tokens"] <= 200).all()
    # the one global vocabulary compresses at least some series
    assert (enc["n_tokens"] < 200).any()


def test_weather_like_fanout(spark):
    """F2 variant: 20 columns at 10-minute frequency — multi-column fan-out
    through the wide-table pass (one artifact row per column)."""
    ts = pd.date_range("2026-01-01 00:00:00", periods=300, freq="10min")
    h = np.arange(300)
    data = {"date": ts}
    for i in range(20):
        data[f"m{i:02d}"] = np.cos(2 * np.pi * h / 144) * (1 + i / 5) + i
    wide = spark.createDataFrame(pd.DataFrame(data))
    arts = tokenize_wide(
        wide, N=40, target_vocab=80, freq_seconds=600, hour_toks=24
    ).toPandas()
    assert len(arts) == 20
    assert (arts["compression"] > 1.0).all()
    assert arts["series_id"].nunique() == 20
