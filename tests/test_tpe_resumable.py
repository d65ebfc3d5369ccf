"""Resumable per-series TPE training: kill-and-rerun trains only the
missing series; the merged registry equals a one-shot train (B8 memoization
at table scale)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.operators.tpe import (
    models_to_registry,
    tpe_train,
    tpe_train_resumable,
)


def _token_df(spark, n_series=6, n=300, vocab=20, seed=4):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "series_id": np.repeat([f"s{i}" for i in range(n_series)], n),
            "pos": np.tile(np.arange(n), n_series),
            "token": (rng.zipf(1.6, n_series * n) % vocab + 1).astype(np.int32),
        }
    )
    return spark.createDataFrame(pdf)


def test_resume_trains_only_missing(spark, tmp_path):
    df = _token_df(spark)
    path = str(tmp_path / "models")

    # "first run, killed midway": only half the series got trained
    half = df.filter(F.col("series_id").isin(["s0", "s1", "s2"]))
    tpe_train(half, "series_id", "token", "pos", 30, 20).write.parquet(path)

    # resume over the full table
    full = tpe_train_resumable(df, "series_id", "token", "pos", 30, 20, path)
    assert full.count() == 6
    # no duplicate rows for the pre-trained series
    assert full.groupBy("series_id").count().filter("count > 1").count() == 0

    # registry identical to a one-shot train
    oneshot = models_to_registry(tpe_train(df, "series_id", "token", "pos", 30, 20))
    resumed = models_to_registry(full)
    assert set(oneshot) == set(resumed)
    for k in oneshot:
        assert oneshot[k].merges == resumed[k].merges


def test_resume_noop_when_complete(spark, tmp_path):
    df = _token_df(spark)
    path = str(tmp_path / "models")
    tpe_train_resumable(df, "series_id", "token", "pos", 30, 20, path)
    again = tpe_train_resumable(df, "series_id", "token", "pos", 30, 20, path)
    assert again.count() == 6  # unchanged, nothing retrained twice
    assert again.groupBy("series_id").count().filter("count > 1").count() == 0


def test_corrupt_models_table_raises_and_commits_nothing(spark, tmp_path):
    """A models directory holding a file that is not parquet fails the run;
    it is not read as "nothing trained", so no series retrains and no new
    part file is committed next to the corrupt one."""
    df = _token_df(spark)
    path = tmp_path / "models"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")
    before = sorted(os.listdir(path))
    with pytest.raises(Exception):
        tpe_train_resumable(df, "series_id", "token", "pos", 30, 20, str(path))
    assert sorted(os.listdir(path)) == before


def test_empty_models_directory_trains_everything(spark, tmp_path):
    """An existing but empty models directory reads as no models."""
    df = _token_df(spark)
    path = tmp_path / "models"
    path.mkdir()
    full = tpe_train_resumable(df, "series_id", "token", "pos", 30, 20, str(path))
    assert sorted(r["series_id"] for r in full.collect()) == [f"s{i}" for i in range(6)]
