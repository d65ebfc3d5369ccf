"""TPE (token-pair / BPE) compression as grouped-map Spark operators.

The reference trains one TokenBasedTokenizer per (dataset, column)
(utils/token_based.py:48-157) — sequential per vocabulary but independent
across series. Spark shape (SURVEY.md §2.9):

* tpe_train   — ``series.map_series``; each series' turn stream arrives
  sorted by the ordinal, is trained with the oracle's reference-exact
  greedy loop (dict-order tie-breaks), and emitted as one row per series:
  ``bpe_models(series_id, actual_vocab_size, merges array<struct>, in_len, out_len)``.
  Train parallelism = #series; a group never leaves one task.
* tpe_encode / tpe_decode — grouped-map with the (small) models table
  broadcast as {series: merges} — the J3 broadcast-artifact-join pattern;
  decode uses a driver-precomputed id -> base-expansion map for O(1) lookup.
* train_universal — reference's universal-vocab mode
  (process_chronos_dataset.py:330-353): sample to the driver (the reference
  itself caps at 100k rows), train ONE model in canonical (series, pos)
  order, broadcast everywhere.
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
    BENCH/PLANS.md §5)."""

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
        df, F.col(key), [F.col(order_col)], [F.col(token_col)], _train, MODEL_SCHEMA
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

    spark = df.sparkSession
    existing = None
    if os.path.exists(models_path):
        try:
            existing = spark.read.parquet(models_path)
        except Exception:
            existing = None
    todo = df
    if existing is not None:
        done_keys = existing.select(F.col("series_id").alias(key))
        todo = df.join(F.broadcast(done_keys), key, "left_anti")
    fresh = tpe_train(todo, key, token_col, order_col, target_vocab_size, actual_vocab_size)
    fresh.write.mode("append").parquet(models_path)
    return spark.read.parquet(models_path)


def models_to_registry(models: DataFrame) -> dict[str, TpeModel]:
    """Collect the models table to {series: TpeModel} (broadcast side)."""
    reg: dict[str, TpeModel] = {}
    for r in models.collect():
        merges = {(m["left"], m["right"]): m["id"] for m in r["merges"]}
        reg[r["series_id"]] = TpeModel(r["actual_vocab_size"], merges)
    return reg


def _grouped_apply(df, key, token_col, order_col, fn, registry_bc, default_model):
    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="stable")
        sid = pdf[key].iloc[0]
        model = registry_bc.value.get(sid, default_model) if registry_bc else default_model
        if model is None:
            raise KeyError(
                f"series {sid!r} has no TPE model in the registry and no "
                "default model was provided"
            )
        toks = pdf[token_col].to_numpy(dtype=np.int64).tolist()
        out = fn(model, toks)
        return pd.DataFrame(
            {"series_id": [sid], "tokens": [[int(t) for t in out]], "n_tokens": [len(out)]}
        )

    return (
        df.select(key, order_col, token_col)
        .groupBy(key)
        .applyInPandas(_apply, TOKENS_SCHEMA)
    )


def tpe_encode(
    spark,
    df: DataFrame,
    key: str,
    token_col: str,
    order_col: str,
    registry: dict[str, TpeModel] | None = None,
    model: TpeModel | None = None,
) -> DataFrame:
    """Encode each series' token stream with its (or the universal) model."""
    bc = spark.sparkContext.broadcast(registry) if registry is not None else None
    return _grouped_apply(
        df, key, token_col, order_col, lambda m, t: m.encode(t), bc, model
    )


def tpe_decode(
    spark,
    encoded: DataFrame,
    registry: dict[str, TpeModel] | None = None,
    model: TpeModel | None = None,
) -> DataFrame:
    """Decode (series_id, tokens array) rows back to base tokens via the
    precomputed expansion maps — vectorizable O(1) per token."""
    exp_reg = {
        k: (m.actual_vocab_size, m.expansion_map()) for k, m in (registry or {}).items()
    }
    default = (model.actual_vocab_size, model.expansion_map()) if model else None
    bc = encoded.sparkSession.sparkContext.broadcast((exp_reg, default))

    def _decode(pdf: pd.DataFrame) -> pd.DataFrame:
        reg, dflt = bc.value
        rows = []
        for sid, toks in zip(pdf["series_id"], pdf["tokens"]):
            entry = reg.get(sid, dflt)
            if entry is None:
                raise KeyError(
                    f"series {sid!r} has no TPE model in the registry and no "
                    "default model was provided"
                )
            avs, exp = entry
            out = _expand_tokens(toks, avs, exp)
            rows.append({"series_id": sid, "tokens": out, "n_tokens": len(out)})
        return pd.DataFrame(rows, columns=["series_id", "tokens", "n_tokens"])

    return encoded.groupBy("series_id").applyInPandas(
        lambda pdf: _decode(pdf), TOKENS_SCHEMA
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
    process_chronos_dataset.py:17-18,168-218)."""
    pdf = (
        df.select(key, order_col, token_col)
        .orderBy(key, order_col)
        .limit(max_rows)
        .toPandas()
    )
    model = TpeModel(actual_vocab_size)
    model.train(pdf[token_col].to_numpy(dtype=np.int64).tolist(), target_vocab_size)
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
    instead of training per series."""

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
        df, F.col(key), [], [F.col(order_col), F.col(token_col)], _run, ROUNDTRIP_SCHEMA
    )


def _model_from_row(avs: int, merges) -> TpeModel:
    return TpeModel(int(avs), {(int(m["left"]), int(m["right"])): int(m["id"]) for m in merges})


def tpe_encode_with_models(
    df: DataFrame, models: DataFrame, key: str, token_col: str, order_col: str
) -> DataFrame:
    """Scale-path encode: cogroup the token stream with the models TABLE —
    each series' model row meets its turns inside one task, so the models
    never collect to the driver and never ride a session-wide broadcast
    (per-conversation series counts would OOM both). The dict-registry path
    (tpe_encode) remains for dimension-sized registries."""

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
    (see tpe_encode_with_models); expansion is the vectorized O(1)-per-token
    map, built once per series inside its task."""

    def _dec(edf: pd.DataFrame, mdf: pd.DataFrame) -> pd.DataFrame:
        if edf.empty:
            return pd.DataFrame(columns=["series_id", "tokens", "n_tokens"])
        sid = edf["series_id"].iloc[0]
        if mdf.empty:
            raise KeyError(
                f"series {sid!r} has no trained TPE model in the models table"
            )
        m = _model_from_row(mdf["actual_vocab_size"].iloc[0], mdf["merges"].iloc[0])
        rows = []
        for toks in edf["tokens"]:
            out = _expand_tokens(toks, m.actual_vocab_size, m.expansion_map())
            rows.append((sid, out, len(out)))
        return pd.DataFrame(rows, columns=["series_id", "tokens", "n_tokens"])

    return (
        encoded.groupBy("series_id")
        .cogroup(models.groupBy("series_id"))
        .applyInPandas(_dec, TOKENS_SCHEMA)
    )


def _expand_tokens(tokens, avs: int, exp: dict[int, list[int]]) -> list[int]:
    """Vectorized-ish decode of one sequence via the expansion map."""
    out: list[int] = []
    for t in tokens:
        t = int(t)
        e = exp.get(t)
        if t > avs and e is not None:
            out.extend(e)
        else:
            out.append(t)
    return out


def tokens_to_rows(tokens_df: DataFrame) -> DataFrame:
    """(series_id, tokens array) -> exploded (series_id, pos, token)."""
    return tokens_df.select(
        "series_id", F.posexplode("tokens").alias("pos", "token")
    )
