"""Artifact IO parity (.fvocab / minbpe model), streaming rollup twin,
chronological split."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseriestokenizer_spark.oracle import numpy_oracle as O
from timeseriestokenizer_spark.oracle.numpy_oracle import TpeModel
from timeseriestokenizer_spark.plans.incremental import _families
from timeseriestokenizer_spark.sources.bpe_model_io import (
    load_model,
    save_model,
    train_or_load,
)
from timeseriestokenizer_spark.sources.fvocab import (
    load_float_vocab,
    save_float_vocab,
    vocab_registry,
    vocab_table,
)


def test_fvocab_roundtrip(tmp_path):
    edges = np.linspace(-3.14159265, 2.71828182, 48)
    p = str(tmp_path / "e.fvocab")
    save_float_vocab(edges, p)
    loaded = load_float_vocab(p)
    # 5-decimal quantization is the format's precision (discretisize.py:187)
    assert np.array_equal(loaded, O.fvocab_quantize(edges))
    with open(p) as f:
        assert f.readline().strip() == "N=49"  # header = len(edges)+1


def test_vocab_table_roundtrip(spark):
    reg = {"a": np.linspace(0, 1, 10), "b": np.linspace(-5, 5, 20)}
    df = vocab_table(spark, reg)
    back = vocab_registry(df)
    for k in reg:
        assert np.array_equal(back[k], reg[k])


def test_bpe_model_text_roundtrip(tmp_path):
    seq = [10, 15, 10, 15, 10, 15, 20, 25, 20, 25]
    m = TpeModel(200)
    m.train(seq, 203)
    p = str(tmp_path / "m.model")
    save_model(m, p, special_tokens={"<PAD>": 199, "<EBOS>": 200})
    loaded, specials = load_model(p, 200)
    assert loaded.merges == m.merges  # implicit ids reconstructed by order
    assert specials == {"<PAD>": 199, "<EBOS>": 200}
    assert loaded.encode(seq) == m.encode(seq)


def test_train_or_load_memoization(tmp_path):
    p = str(tmp_path / "memo.model")
    calls = []

    def _train():
        calls.append(1)
        m = TpeModel(50)
        m.train([1, 2, 1, 2, 1, 2], 52)
        return m

    m1, loaded1 = train_or_load(p, 50, _train)
    m2, loaded2 = train_or_load(p, 50, _train)
    assert not loaded1 and loaded2  # second call hits the artifact
    assert len(calls) == 1
    assert m1.merges == m2.merges


def test_streaming_rollup_matches_batch(spark, tmp_path):
    """availableNow streaming pass over a parquet dir == batch 1m rollup for
    the streaming-computable signals."""
    from timeseriestokenizer_spark.datagen import transcripts_df
    from timeseriestokenizer_spark.functions.signals import derive_signals
    from timeseriestokenizer_spark.operators.rollup import rollup_tier
    from timeseriestokenizer_spark.streaming.rollup_stream import run_stream_over_dir

    t = transcripts_df(spark, C=10, seed=11)
    src = str(tmp_path / "stream_src")
    t.write.parquet(src)

    got = (
        run_stream_over_dir(
            spark, src, t.schema, str(tmp_path / "ckpt"), "t_stream_1m"
        )
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    exp = (
        rollup_tier(derive_signals(t), "1m")
        .select("conv_id", "bucket_ts", "n_turns", "sum_chars", "sum_tokens", "n_tool_calls")
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[exp.columns], exp, check_dtype=False)


def test_chronological_split(spark):
    from timeseriestokenizer_spark.datagen import transcripts_df
    from timeseriestokenizer_spark.operators.split import chronological_split

    t = transcripts_df(spark, C=5, seed=3)
    s = chronological_split(t, "conv_id", ["turn_idx"]).toPandas()
    for _, grp in s.groupby("conv_id"):
        grp = grp.sort_values("turn_idx")
        labels = grp["split"].tolist()
        # ordered: train block, then val, then test
        assert labels == sorted(labels, key=["train", "val", "test"].index)
        frac_train = labels.count("train") / len(labels)
        assert 0.5 <= frac_train <= 0.9


def test_explode_sequence_columns_matches_pandas(spark, tmp_path):
    """S2/F10 ingest twin: lockstep explode of array columns == pandas
    df.explode(sequence_columns) (download_chronos_to_csv.py:18-30), with
    seq_pos as the explicit ordinal."""
    import numpy as np
    import pandas as pd

    from timeseriestokenizer_spark.sources.sequence_ingest import (
        explode_sequence_columns,
        sequence_columns,
    )

    pdf = pd.DataFrame(
        {
            "series_id": ["a", "b", "c"],
            "freq": ["H", "D", "H"],
            "timestamp": [[1, 2, 3], [10, 20], []],
            "target": [[1.0, 2.5, 3.5], [0.5, 0.25], []],
        }
    )
    df = spark.createDataFrame(
        pdf,
        "series_id string, freq string, timestamp array<long>, target array<double>",
    )
    assert sequence_columns(df) == ["timestamp", "target"]

    got = (
        explode_sequence_columns(df)
        .toPandas()
        .sort_values(["series_id", "seq_pos"])
        .reset_index(drop=True)
    )
    exp = (
        pdf.explode(["timestamp", "target"])
        .reset_index(drop=True)
        .infer_objects()
    )
    assert list(got["series_id"]) == list(exp["series_id"])
    assert list(got["freq"]) == list(exp["freq"])
    # empty list -> one NULL row in both engines
    for col in ["timestamp", "target"]:
        g = got[col].astype(float)
        e = exp[col].astype(float)
        assert np.array_equal(g.to_numpy(), e.to_numpy(), equal_nan=True)
    # ordinals: 0..len-1 per series, NULL for the empty series
    assert list(got[got.series_id == "a"]["seq_pos"]) == [0, 1, 2]
    assert got[got.series_id == "c"]["seq_pos"].isna().all()

    # the runnable job end-to-end (local master inherits the test session)
    src, out = str(tmp_path / "seq_src"), str(tmp_path / "seq_out")
    df.write.parquet(src)
    from jobs.sequence_ingest_job import main as job_main

    job_main(["--input", src, "--output", out, "--repartition", "4"])
    assert spark.read.parquet(out).count() == 6  # 3 + 2 + 1 NULL row


def test_streaming_kll_crash_recovery_no_double_merge(spark, tmp_path):
    """Simulated stream_family_1m crash between store removal and tmp rename:
    the recovery path renames the completed tmp in, and the _applied_batch
    marker stops the replayed batch from double-merging (a KLL merge is
    not idempotent — without the marker the replay would double n)."""
    import os
    import shutil

    from timeseriestokenizer_spark.operators.kll import kll_percentile
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_family_1m

    rng = np.random.RandomState(47)
    base = pd.Timestamp("2026-07-01")
    rows = [
        (
            (base + pd.Timedelta(seconds=int(rng.randint(0, 600)))).to_pydatetime(),
            float(np.round(rng.uniform(0, 5), 3)),
        )
        for _ in range(150)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, latency_s double")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    state = stream_family_1m(spark, "kll", src, df.schema, str(tmp_path / "ckpt"), store)
    want = sorted(
        tuple(r) for r in kll_percentile(state, 0.95).collect()
    )
    n_total = sum(r[2] for r in want)
    assert n_total == 150

    # simulate the crash: the completed store plays the role of the tmp
    # (it carries the marker for batch 0), no visible store remains
    tmp = os.path.join(os.path.dirname(store), "." + os.path.basename(store) + ".tmp")
    os.rename(store, tmp)
    # a FRESH checkpoint replays batch 0 from scratch against the recovery
    shutil.rmtree(str(tmp_path / "ckpt"))
    state2 = stream_family_1m(spark, "kll", src, df.schema, str(tmp_path / "ckpt2"), store)
    got = sorted(tuple(r) for r in kll_percentile(state2, 0.95).collect())
    assert got == want  # recovered, and batch 0 NOT merged twice


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Streaming sessionization (run_stream_sessions) emits exactly the
    batch session_agg sessions once the watermark passes them: same
    (key, start, end, n_events) set, across TWO availableNow passes (the
    second advances the watermark from checkpoint state and flushes the
    sessions the first pass still held open)."""
    import pyspark.sql.types as T

    from timeseriestokenizer_spark.operators.session import session_agg
    from timeseriestokenizer_spark.streaming.rollup_stream import (
        run_stream_sessions,
    )

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = pd.Timestamp("2026-02-01 00:00:00")
    real = (
        # conv a: two sessions (0-2 min and 60-61 min, gap 10m splits them)
        [("a", base + pd.Timedelta(minutes=m)) for m in (0, 1, 2, 60, 61)]
        # conv b: one session
        + [("b", base + pd.Timedelta(minutes=m)) for m in (5, 6)]
    )
    src, ckpt, sink = (
        str(tmp_path / "sess_src"),
        str(tmp_path / "sess_ckpt"),
        str(tmp_path / "sess_sink"),
    )

    def write(rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "ts"]), schema=schema
        ).coalesce(1).write.mode("append").parquet(src)

    def run_pass():
        return run_stream_sessions(
            spark, src, schema, ckpt, sink,
            gap="10 minutes", watermark="1 minute",
        )

    write(real)
    run_pass()
    # sentinel far-future row advances the watermark past every real session
    write([("zz", base + pd.Timedelta(minutes=600))])
    got = (
        run_pass()
        .filter(F.col("conv_id") != "zz")
        .select("conv_id", "session_start", "session_end", "n_events")
        .collect()
    )
    exp = (
        session_agg(
            spark.createDataFrame(
                pd.DataFrame(real, columns=["conv_id", "ts"]), schema=schema
            ),
            gap="10 minutes",
        )
        .select("conv_id", "session_start", "session_end", "n_events")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    assert len(exp) == 3  # a x2 + b x1 — the fixture really split sessions


def _stream_in_two_files(spark, tmp_path, rows, schema):
    """Stream ``rows`` through two source files — two micro-batches, so the
    second must merge with the stored state — and return the input frame."""
    src = str(tmp_path / "src")
    half = len(rows) // 2
    for part in (rows[:half], rows[half:]):
        spark.createDataFrame(part, schema).coalesce(1).write.mode("append").parquet(src)
    return spark.createDataFrame(rows, schema), src


@pytest.mark.parametrize("prefix", [p for p in _families() if p])
def test_stream_equals_batch(spark, tmp_path, family_rows, prefix):
    """Every sketch family of the tier-store table, streamed through
    stream_family_1m over two micro-batches, equals the family's batch
    1m build over the same rows: HLL by estimate, theta sketches by bytes,
    the rest by every column (KLL/heavy in their exact regimes; CMS and
    histogram counters always). NULL latencies are in the input."""
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_family_1m

    rng = np.random.RandomState(43)
    base = pd.Timestamp("2026-07-01")
    rows = [
        (
            (base + pd.Timedelta(seconds=int(rng.randint(0, 1800)))).to_pydatetime(),
            f"conv-{int(rng.zipf(1.7)) % 40}",
            None if i % 17 == 0 else float(np.round(rng.uniform(0, 90), 3)),
        )
        for i in range(400)
    ]
    df, src = _stream_in_two_files(
        spark, tmp_path, rows, "ts timestamp, conv_id string, latency_s double"
    )
    store = str(tmp_path / "store")
    state = stream_family_1m(spark, prefix, src, df.schema, str(tmp_path / "ckpt"), store)
    with open(os.path.join(store, "_applied_batch")) as f:
        assert f.read() == "1"  # the second micro-batch merged into the first
    build = _families()[prefix][0]
    got = family_rows(prefix, state)
    assert got and got == family_rows(prefix, build(df, "1m"))


def test_stream_heavy_uses_the_store_k(spark, tmp_path):
    """The streamed heavy_1m state is the store's summary (k =
    DEFAULT_MG_K): one minute with 120 distinct keys, more than a k=32
    summary holds, streams to exactly the batch heavy_rollup_tier state
    (top-k rows and err)."""
    from timeseriestokenizer_spark.operators.heavy import heavy_rollup_tier, heavy_topk
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_family_1m

    base = pd.Timestamp("2026-07-03 10:00:00")
    rows = [
        ((base + pd.Timedelta(seconds=i % 60)).to_pydatetime(), f"u{i % 120:03d}")
        for i in range(600)
    ]
    df, src = _stream_in_two_files(spark, tmp_path, rows, "ts timestamp, conv_id string")
    state = stream_family_1m(
        spark, "heavy", src, df.schema, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )

    def top(mg):
        return sorted(tuple(r) for r in heavy_topk(mg, 256).collect())

    exp = top(heavy_rollup_tier(df, "1m"))
    assert len(exp) == 120 and all(r[-1] == 0 for r in exp)  # exact: err 0
    assert top(state) == exp


@pytest.mark.parametrize("prefix", ["", "nope"], ids=["base", "unknown"])
def test_stream_family_rejects_non_sketch_prefix(spark, tmp_path, prefix):
    """The base family and unknown prefixes raise before any stream starts."""
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_family_1m

    with pytest.raises(ValueError, match="valid prefixes"):
        stream_family_1m(spark, prefix, str(tmp_path), None, str(tmp_path), str(tmp_path))
