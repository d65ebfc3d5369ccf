"""Artifact IO parity (.fvocab / minbpe model), streaming rollup twin,
chronological split."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from timeseriestokenizer_spark.oracle import numpy_oracle as O
from timeseriestokenizer_spark.oracle.numpy_oracle import TpeModel
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


def test_streaming_kll_matches_batch(spark, tmp_path):
    """foreachBatch KLL state merge (streaming/rollup_stream.stream_kll_1m):
    the stream-built per-minute sketch store answers the same p95 as a
    batch kll_rollup_tier over the same rows — across MULTIPLE micro
    batches (two source files => the second batch must merge with stored
    state, not replace it), in the exact regime."""
    from timeseriestokenizer_spark.operators.kll import kll_percentile, kll_rollup_tier
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_kll_1m

    rng = np.random.RandomState(43)
    base = pd.Timestamp("2026-07-01")
    rows = [
        (
            (base + pd.Timedelta(seconds=int(rng.randint(0, 1800)))).to_pydatetime(),
            float(np.round(rng.uniform(0, 9), 3)),
        )
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, latency_s double")
    src = str(tmp_path / "kll_src")
    # two files -> two availableNow micro-batches with maxFilesPerTrigger
    df.limit(200).coalesce(1).write.mode("append").parquet(src)
    df.subtract(df.limit(200)).coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "kll_store")
    state = stream_kll_1m(
        spark, src, df.schema, str(tmp_path / "kll_ckpt"), store
    )
    got = {
        r["bucket_ts"]: (r["p95_est"], r["n"])
        for r in kll_percentile(state, 0.95).collect()
    }
    exp = {
        r["bucket_ts"]: (r["p95_est"], r["n"])
        for r in kll_percentile(kll_rollup_tier(df, "1m", "latency_s"), 0.95).collect()
    }
    assert got == exp and got


def test_streaming_kll_crash_recovery_no_double_merge(spark, tmp_path):
    """Simulated stream_kll_1m crash between store removal and tmp rename:
    the recovery path renames the completed tmp in, and the _applied_batch
    marker stops the replayed batch from double-merging (a KLL merge is
    not idempotent — without the marker the replay would double n)."""
    import os
    import shutil

    from timeseriestokenizer_spark.operators.kll import kll_percentile
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_kll_1m

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
    state = stream_kll_1m(spark, src, df.schema, str(tmp_path / "ckpt"), store)
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
    state2 = stream_kll_1m(spark, src, df.schema, str(tmp_path / "ckpt2"), store)
    got = sorted(tuple(r) for r in kll_percentile(state2, 0.95).collect())
    assert got == want  # recovered, and batch 0 NOT merged twice


def test_streaming_heavy_matches_batch(spark, tmp_path):
    """foreachBatch Misra-Gries state merge (streaming/rollup_stream.
    stream_heavy_1m): stream-built per-minute heavy-hitter state answers
    the same top-k as a batch heavy_rollup_tier over the same rows across
    multiple micro batches, in the no-eviction exact regime."""
    from timeseriestokenizer_spark.operators.heavy import (
        heavy_rollup_tier,
        heavy_topk,
    )
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_heavy_1m

    rng = np.random.RandomState(44)
    base = pd.Timestamp("2026-07-02")
    # zipf-ish keys over a small alphabet: well inside the k=32 exact regime
    keys = [f"u{int(rng.zipf(1.7)) % 12}" for _ in range(400)]
    rows = [
        (
            (base + pd.Timedelta(seconds=int(rng.randint(0, 1800)))).to_pydatetime(),
            k,
        )
        for k in keys
    ]
    df = spark.createDataFrame(rows, "ts timestamp, conv_id string")
    src = str(tmp_path / "mg_src")
    # split by index, not subtract: zipf keys make duplicate rows, which
    # a set-difference would silently dedupe out of the second file
    spark.createDataFrame(rows[:200], df.schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows[200:], df.schema).coalesce(1).write.mode("append").parquet(src)

    state = stream_heavy_1m(
        spark, src, df.schema, str(tmp_path / "mg_ckpt"),
        str(tmp_path / "mg_store"),
    )
    got = {
        (r["bucket_ts"], r["key"]): (r["est_count"], r["rank"])
        for r in heavy_topk(state, 5).collect()
    }
    exp = {
        (r["bucket_ts"], r["key"]): (r["est_count"], r["rank"])
        for r in heavy_topk(heavy_rollup_tier(df, "1m"), 5).collect()
    }
    assert got == exp and got


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


def test_streaming_cms_matches_batch(spark, tmp_path):
    """foreachBatch CMS state merge (streaming/rollup_stream.stream_cms_1m):
    stream-built cells equal a batch cms_rollup_tier over the same rows
    EXACTLY across multiple micro-batches (counters sum, no estimate
    regime caveat)."""
    from timeseriestokenizer_spark.operators.cms import cms_rollup_tier
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_cms_1m

    rng = np.random.RandomState(47)
    base = pd.Timestamp("2026-07-01")
    rows = [
        (
            (base + pd.Timedelta(seconds=int(rng.randint(0, 1800)))).to_pydatetime(),
            f"conv-{int(rng.randint(0, 40))}",
        )
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, conv_id string")
    src = str(tmp_path / "cms_src")
    df.limit(200).coalesce(1).write.mode("append").parquet(src)
    df.subtract(df.limit(200)).coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "cms_store")
    state = stream_cms_1m(
        spark, src, df.schema, str(tmp_path / "cms_ckpt"), store
    )
    got = sorted(tuple(r) for r in state.select("bucket_ts", "row", "col", "cnt").collect())
    exp = sorted(
        tuple(r)
        for r in cms_rollup_tier(df, "1m").select("bucket_ts", "row", "col", "cnt").collect()
    )
    assert got == exp and got


def test_streaming_kmv_matches_batch(spark, tmp_path):
    """stream_kmv_1m: streamed theta-sketch state equals a batch
    kmv_rollup_tier over the same rows byte for byte."""
    from timeseriestokenizer_spark.operators.kmv import kmv_rollup_tier
    from timeseriestokenizer_spark.streaming.rollup_stream import stream_kmv_1m

    rng = np.random.RandomState(53)
    base = pd.Timestamp("2026-07-01")
    rows = [
        (
            (base + pd.Timedelta(seconds=int(rng.randint(0, 600)))).to_pydatetime(),
            f"conv-{int(rng.randint(0, 200))}",
        )
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, conv_id string")
    src = str(tmp_path / "kmv_src")
    df.limit(250).coalesce(1).write.mode("append").parquet(src)
    df.subtract(df.limit(250)).coalesce(1).write.mode("append").parquet(src)

    state = stream_kmv_1m(
        spark, src, df.schema, str(tmp_path / "kmv_ckpt"),
        str(tmp_path / "kmv_store"),
    )
    got = sorted((r["bucket_ts"], bytes(r["sketch"])) for r in state.collect())
    exp = sorted(
        (r["bucket_ts"], bytes(r["sketch"])) for r in kmv_rollup_tier(df, "1m").collect()
    )
    assert got == exp and got
