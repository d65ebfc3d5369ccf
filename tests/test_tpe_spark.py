"""Distributed TPE train/encode/decode vs the oracle (SURVEY §2.9, §5.2.2)."""

import numpy as np
import pandas as pd

from timeseriestokenizer_spark.operators.tpe import (
    models_to_registry,
    tokens_to_rows,
    tpe_decode,
    tpe_decode_with_models,
    tpe_encode,
    tpe_encode_with_models,
    tpe_train,
    train_universal,
)
from timeseriestokenizer_spark.oracle.numpy_oracle import TpeModel


def _token_df(spark, n_series=4, n=600, vocab=50, seed=3):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "series_id": np.repeat([f"s{i}" for i in range(n_series)], n),
            "pos": np.tile(np.arange(n), n_series),
            # skewed token distribution → lots of repeating pairs to merge
            "token": (rng.zipf(1.5, n_series * n) % vocab + 1).astype(np.int32),
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_train_matches_oracle(spark):
    df, pdf = _token_df(spark)
    models = tpe_train(df, "series_id", "token", "pos", 80, 50).toPandas()
    assert set(models["series_id"]) == set(pdf["series_id"])
    for _, row in models.iterrows():
        seq = (
            pdf[pdf.series_id == row["series_id"]]
            .sort_values("pos")["token"]
            .tolist()
        )
        exp = TpeModel(50)
        out = exp.train(seq, 80)
        got = {(m["left"], m["right"]): m["id"] for m in row["merges"]}
        assert got == exp.merges
        assert row["in_len"] == len(seq) and row["out_len"] == len(out)
        assert row["out_len"] < row["in_len"]  # compression happened


def test_encode_decode_roundtrip_distributed(spark):
    df, pdf = _token_df(spark)
    models = tpe_train(df, "series_id", "token", "pos", 80, 50).cache()
    enc = tpe_encode_with_models(df, models, "series_id", "token", "pos").cache()
    dec = tpe_decode_with_models(enc, models).toPandas()
    for _, row in dec.iterrows():
        orig = (
            pdf[pdf.series_id == row["series_id"]].sort_values("pos")["token"].tolist()
        )
        assert list(row["tokens"]) == orig  # decode(encode(x)) == x
    # encode equals oracle encode (training sequence replay)
    reg = models_to_registry(models)
    encp = enc.toPandas()
    assert set(encp["series_id"]) == set(pdf["series_id"])
    for _, row in encp.iterrows():
        sid = row["series_id"]
        seq = pdf[pdf.series_id == sid].sort_values("pos")["token"].tolist()
        m = TpeModel(50, reg[sid].merges)
        assert list(row["tokens"]) == m.encode(seq)
        assert row["n_tokens"] == len(row["tokens"]) < len(seq)
    enc.unpersist()
    models.unpersist()


def test_tokens_to_rows(spark):
    df, _ = _token_df(spark, n_series=1, n=50)
    models = tpe_train(df, "series_id", "token", "pos", 60, 50)
    enc = tpe_encode_with_models(df, models, "series_id", "token", "pos")
    rows = tokens_to_rows(enc).toPandas()
    assert rows["pos"].is_monotonic_increasing


def test_universal_vocab_deterministic(spark):
    df, pdf = _token_df(spark, n_series=3, n=300)
    m1 = train_universal(df, "series_id", "token", "pos", 70, 50)
    m2 = train_universal(df, "series_id", "token", "pos", 70, 50)
    assert m1.merges == m2.merges  # same canonical order → same model
    # matches driver-side oracle on the same canonical sample
    sample = pdf.sort_values(["series_id", "pos"])["token"].tolist()
    exp = TpeModel(50)
    exp.train(sample, 70)
    assert m1.merges == exp.merges
    # universal model encodes any series
    enc = tpe_encode(df, "series_id", "token", "pos", m1)
    encp = enc.toPandas()
    dec = tpe_decode(enc, m1).toPandas()
    assert set(dec["series_id"]) == set(pdf["series_id"])
    for _, row in dec.iterrows():
        orig = pdf[pdf.series_id == row["series_id"]].sort_values("pos")["token"].tolist()
        assert list(row["tokens"]) == orig
        assert row["n_tokens"] == len(orig)
        enc_row = encp[encp.series_id == row["series_id"]].iloc[0]
        assert list(enc_row["tokens"]) == m1.encode(orig)
        assert enc_row["n_tokens"] == len(enc_row["tokens"])


def test_universal_path_skips_null_tokens(spark):
    """train_universal and tpe_encode skip a NULL token, as tpe_train does:
    the model and the encoded streams equal those of the input without
    the NULL rows."""
    _, pdf = _token_df(spark, n_series=3, n=200)
    holed = pdf.astype({"token": "Int64"})
    holed.loc[holed["pos"] % 7 == 3, "token"] = pd.NA
    df = spark.createDataFrame(
        [(r.series_id, int(r.pos), None if pd.isna(r.token) else int(r.token))
         for r in holed.itertuples()],
        "series_id string, pos long, token int",
    )
    clean = df.filter("token IS NOT NULL")
    m = train_universal(df, "series_id", "token", "pos", 70, 50)
    assert m.merges == train_universal(clean, "series_id", "token", "pos", 70, 50).merges

    def enc(d):
        return sorted(
            (r["series_id"], list(r["tokens"]), r["n_tokens"])
            for r in tpe_encode(d, "series_id", "token", "pos", m).collect()
        )

    assert enc(df) == enc(clean)


def test_compression_rate_at_reference_scale():
    """Reference doc anchor: ~2x compression on smooth hourly series at N=200,
    vocab 600 (docs/SCRIPTS_REFERENCE.md:394-397, BASELINE.md)."""
    from timeseriestokenizer_spark.oracle import numpy_oracle as O

    h = np.arange(8640)
    series = np.sin(2 * np.pi * h / 24) + 0.05 * np.sin(2 * np.pi * h / 7.3)
    sym, _ = O.simple_discretize(series, N=198)
    m = TpeModel(198)
    out = m.train(sym.tolist(), 600)
    rate = len(sym) / len(out)
    assert rate > 1.8  # compression in the reference's published ballpark
