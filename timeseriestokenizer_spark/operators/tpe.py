"""TPE (token-pair / BPE) compression as per-series Spark operators.

The reference trains one TokenBasedTokenizer per (dataset, column)
(utils/token_based.py:48-157) — sequential per vocabulary but independent
across series. Spark shape (SURVEY.md §2.9):

* tpe_train   — ``series.map_series``; each series' turn stream arrives
  sorted by the ordinal, is trained with the oracle's reference-exact
  greedy loop (dict-order tie-breaks), and emitted as one row per series:
  ``bpe_models(series_id, actual_vocab_size, merges array<struct>, in_len, out_len)``.
  Train parallelism = #series; a group never leaves one task.
* tpe_encode_with_models / tpe_decode_with_models — the per-series models
  TABLE cogrouped with the token streams, so each series' model meets its
  turns inside one task and never reaches the driver.
* train_universal — reference's universal-vocab mode
  (process_chronos_dataset.py:330-353): sample to the driver (the reference
  itself caps at 100k rows), train ONE model in canonical (series, pos)
  order; tpe_encode / tpe_decode apply it on ``series.map_series`` with the
  model in the worker closure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle.numpy_oracle import TpeModel
from .series import map_series

MODEL_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("actual_vocab_size", T.IntegerType()),
        T.StructField(
            "merges",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("left", T.IntegerType()),
                        T.StructField("right", T.IntegerType()),
                        T.StructField("id", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("in_len", T.LongType()),
        T.StructField("out_len", T.LongType()),
    ]
)

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tokens", T.LongType()),
    ]
)


def tpe_train(
    df: DataFrame,
    key: str,
    token_col: str,
    order_col: str,
    target_vocab_size: int,
    actual_vocab_size: int,
) -> DataFrame:
    """Train one TPE model per series, in parallel across series.

    Batched shape: series collapse to ordered token arrays JVM-side (one
    exchange), then Python trains Arrow batches of whole series
    (``series.map_series``) — grouped-map dispatch costs ~25 ms/group in a
    coalesced task, which dominates when series are short (see
    BENCH/PLANS.md §5). A NULL token is skipped, as in ewma and
    sample_entropy: it is no token of the series (``in_len`` does not
    count it)."""

    def _train(sid, toks):
        toks = [int(t) for t in toks]
        model = TpeModel(actual_vocab_size)
        out = model.train(toks, target_vocab_size)
        merges = [
            {"left": int(l), "right": int(r), "id": int(i)}
            for (l, r), i in model.merges.items()
        ]
        return {"series_id": [sid], "actual_vocab_size": [model.actual_vocab_size],
                "merges": [merges], "in_len": [len(toks)], "out_len": [len(out)]}

    return map_series(
        df.filter(F.col(token_col).isNotNull()), F.col(key), [F.col(order_col)],
        [F.col(token_col)], _train, MODEL_SCHEMA,
    )


def tpe_train_resumable(
    df: DataFrame,
    key: str,
    token_col: str,
    order_col: str,
    target_vocab_size: int,
    actual_vocab_size: int,
    models_path: str,
) -> DataFrame:
    """Distributed train-or-load (reference B8 memoization,
    transform_files_into_tokens.py:294-300, generalized from one .model file
    to a models table): series already present in the models table are
    anti-joined away; only the remainder trains, and its models append. A
    killed run resumes without retraining finished series.

    Returns the complete models DataFrame (existing ∪ newly trained)."""
    import os

    # the fixed schema needs no inference job and reads an empty directory
    # as no models; a corrupt part file fails the run before anything new
    # is committed, instead of reading as "nothing trained"
    read = df.sparkSession.read.schema(MODEL_SCHEMA)
    todo = df
    if os.path.exists(models_path):
        done_keys = read.parquet(models_path).select(F.col("series_id").alias(key))
        todo = df.join(F.broadcast(done_keys), key, "left_anti")
    fresh = tpe_train(todo, key, token_col, order_col, target_vocab_size, actual_vocab_size)
    fresh.write.mode("append").parquet(models_path)
    return read.parquet(models_path)


def models_to_registry(models: DataFrame) -> dict[str, TpeModel]:
    """Collect the models table to {series: TpeModel}."""
    return {
        r["series_id"]: _model_from_row(r["actual_vocab_size"], r["merges"])
        for r in models.collect()
    }


def tpe_encode(
    df: DataFrame, key: str, token_col: str, order_col: str, model: TpeModel
) -> DataFrame:
    """Encode each series' token stream (sorted by ``order_col``) with one
    universal model: ``(series_id, tokens, n_tokens)``, one row per series.
    A NULL token is skipped, as in tpe_train: it is no token of the series.
    The kernel drops it (a NaN in its array), not a Filter: Catalyst would
    push a Filter on ``token_col`` below joins into the expression that
    computes it. Per-series models: tpe_encode_with_models."""

    def _enc(sid, toks):
        out = model.encode([int(t) for t in toks[~np.isnan(toks)]])
        return {"series_id": [sid], "tokens": [out], "n_tokens": [len(out)]}

    return map_series(
        df, F.col(key), [F.col(order_col)], [F.col(token_col)], _enc, TOKENS_SCHEMA
    )


def tpe_decode(encoded: DataFrame, model: TpeModel) -> DataFrame:
    """Decode ``(series_id, tokens)`` rows — one per series, as tpe_encode
    emits — back to base tokens with the universal model."""

    def _dec(sid, toks):
        out = model.decode(toks)
        return {"series_id": [sid], "tokens": [out], "n_tokens": [len(out)]}

    return map_series(
        tokens_to_rows(encoded), F.col("series_id"), [F.col("pos")], [F.col("token")],
        _dec, TOKENS_SCHEMA,
    )


def train_universal(
    df: DataFrame,
    key: str,
    token_col: str,
    order_col: str,
    target_vocab_size: int,
    actual_vocab_size: int,
    max_rows: int = 100_000,
) -> TpeModel:
    """One global merge order: deterministic driver-side training over a
    canonically sorted, size-capped sample (reference samples 100k rows,
    process_chronos_dataset.py:17-18,168-218). A NULL token is skipped, as
    in tpe_train: NULLs sort after every token, so the cap takes the first
    ``max_rows`` non-NULL rows (a sort key, not a Filter, which Catalyst
    would push below joins into the expression that computes the token)."""
    pdf = (
        df.select(key, order_col, token_col)
        .orderBy(F.col(token_col).isNull(), key, order_col)
        .limit(max_rows)
        .toPandas()
    )
    model = TpeModel(actual_vocab_size)
    model.train(pdf[token_col].dropna().to_numpy(dtype=np.int64).tolist(), target_vocab_size)
    return model


ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("token", T.IntegerType()),
    ]
)


def tpe_roundtrip_tokens(
    df: DataFrame,
    key: str,
    token_col: str,
    order_col: str,
    target_vocab_size: int,
    actual_vocab_size: int,
    model: TpeModel | None = None,
) -> DataFrame:
    """Fused train→encode→decode emitting the DECODED token stream keyed by
    the original order values: ``(series_id, pos, token)``.

    This is the oracle-checkable roundtrip projection of the TPE family
    (decode∘encode = identity, reference utils/token_based.py:279-302): its
    output must equal the input ``(order, token)`` rows exactly, so a plain
    SQL quantize oracle verifies the whole chain. One shuffle (the groupBy),
    no model collect; pass ``model`` to apply a pre-trained universal model
    instead of training per series. A NULL token is skipped, as in ewma
    and sample_entropy: it is no token of the series, and its row does not
    come back."""

    def _run(sid, pos, toks):
        toks = [int(t) for t in toks]
        if model is None:
            m = TpeModel(actual_vocab_size)
            m.train(toks, target_vocab_size)
        else:
            m = model
        # map_series raises when the decoded stream's length differs from
        # the input's, so a broken roundtrip can never emit a short series
        dec = m.decode(m.encode(toks))
        return {"series_id": [sid] * len(pos), "pos": pos, "token": dec}

    return map_series(
        df.filter(F.col(token_col).isNotNull()), F.col(key), [],
        [F.col(order_col), F.col(token_col)], _run, ROUNDTRIP_SCHEMA,
    )


def _model_from_row(avs: int, merges) -> TpeModel:
    return TpeModel(int(avs), {(int(m["left"]), int(m["right"])): int(m["id"]) for m in merges})


def tpe_encode_with_models(
    df: DataFrame, models: DataFrame, key: str, token_col: str, order_col: str
) -> DataFrame:
    """Scale-path encode: cogroup the token stream with the models TABLE —
    each series' model row meets its turns inside one task, so the models
    never collect to the driver and never ride a session-wide broadcast
    (per-conversation series counts would OOM both). A series with no row
    in ``models`` raises ``KeyError``."""

    def _enc(kdf: pd.DataFrame, mdf: pd.DataFrame) -> pd.DataFrame:
        if kdf.empty:
            return pd.DataFrame(columns=["series_id", "tokens", "n_tokens"])
        sid = kdf[key].iloc[0]
        if mdf.empty:
            raise KeyError(
                f"series {sid!r} has no trained TPE model in the models table"
            )
        m = _model_from_row(mdf["actual_vocab_size"].iloc[0], mdf["merges"].iloc[0])
        kdf = kdf.sort_values(order_col, kind="stable")
        out = m.encode(kdf[token_col].to_numpy(dtype=np.int64).tolist())
        return pd.DataFrame(
            {"series_id": [sid], "tokens": [[int(t) for t in out]], "n_tokens": [len(out)]}
        )

    return (
        df.select(key, order_col, token_col)
        .groupBy(key)
        .cogroup(models.groupBy("series_id"))
        .applyInPandas(_enc, TOKENS_SCHEMA)
    )


def tpe_decode_with_models(encoded: DataFrame, models: DataFrame) -> DataFrame:
    """Scale-path decode: cogroup encoded sequences with the models table
    (see tpe_encode_with_models) and expand each with ``TpeModel.decode``.
    A series with no row in ``models`` raises ``KeyError``."""

    def _dec(edf: pd.DataFrame, mdf: pd.DataFrame) -> pd.DataFrame:
        if edf.empty:
            return pd.DataFrame(columns=["series_id", "tokens", "n_tokens"])
        sid = edf["series_id"].iloc[0]
        if mdf.empty:
            raise KeyError(
                f"series {sid!r} has no trained TPE model in the models table"
            )
        m = _model_from_row(mdf["actual_vocab_size"].iloc[0], mdf["merges"].iloc[0])
        rows = [(sid, out, len(out)) for out in map(m.decode, edf["tokens"])]
        return pd.DataFrame(rows, columns=["series_id", "tokens", "n_tokens"])

    return (
        encoded.groupBy("series_id")
        .cogroup(models.groupBy("series_id"))
        .applyInPandas(_dec, TOKENS_SCHEMA)
    )


def tokens_to_rows(tokens_df: DataFrame) -> DataFrame:
    """(series_id, tokens array) -> exploded (series_id, pos, token)."""
    return tokens_df.select(
        "series_id", F.posexplode("tokens").alias("pos", "token")
    )
