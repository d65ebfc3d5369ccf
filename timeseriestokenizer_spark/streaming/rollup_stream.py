"""Structured Streaming twin of the batch 1m rollup (SURVEY §2.11 — optional
per the north rule; included so the engine covers streaming ingestion).

readStream(parquet dir) → watermark → window(ts, '1 minute') groupBy → sink.
Two sink shapes with DIFFERENT late-data semantics:

* run_stream_append — the production path: append mode + parquet sink.
  Windows finalize once the watermark passes; late rows beyond it are
  dropped by the state store and finalized buckets never change
  (tests/test_streaming_late.py proves the drop).
* run_stream_over_dir — bounded catch-up for inspection/tests: complete
  mode + memory sink. Complete mode re-emits ALL windows every trigger and
  never ages state out via the watermark (needed so the tail windows — the
  last <watermark> of a finite directory — still appear); state is
  unbounded, so this helper is only for bounded availableNow runs, never a
  continuous query.

The sketch tiers stream through one more shape:

* stream_family_1m — the ``<prefix>_1m`` state of any sketch family of the
  tier-store table (plans/incremental._families), built and merged by the
  table's functions in foreachBatch. Exact, not watermarked: every row
  merges into its bucket, none is dropped, and the store equals the batch
  build over the same rows. Each micro-batch rewrites the whole store.

The batch cascade remains the source of truth (streaming feeds the hot end).

The per-turn signals that need lag() (latency) are not computable in a pure
streaming aggregation — the streaming tier carries the lag-free signals
(counts, chars, tool-calls); latency back-fills from the batch tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_signals(stream_df: DataFrame) -> DataFrame:
    """Per-turn streaming signals (no cross-row windows)."""
    return (
        stream_df.withColumn("n_chars", F.length("text").cast("long"))
        .withColumn("n_tokens", F.size(F.split(F.trim("text"), r"\s+")).cast("long"))
        .withColumn("is_tool_call", F.col("tool").isNotNull())
    )


def streaming_rollup_1m(
    stream_df: DataFrame, watermark: str = "2 minutes"
) -> DataFrame:
    """Tumbling 1-minute rollup with late-data watermark."""
    sig = stream_signals(stream_df)
    return (
        sig.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum(F.col("is_tool_call").cast("long")).alias("n_tool_calls"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("bucket_ts"),
            "n_turns",
            "sum_chars",
            "sum_tokens",
            "n_tool_calls",
        )
    )


def run_stream_over_dir(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    out_table: str = "stream_rollup_1m",
):
    """Drive the streaming rollup over a parquet directory with
    availableNow (bounded catch-up — processes what exists, then stops);
    results land in an in-memory sink table for inspection/tests.

    Complete mode: every window emits, including those the watermark has
    not passed yet — but the state store retains ALL windows and late rows
    are never dropped. For the continuous, watermark-enforcing path use
    run_stream_append."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    rollup = streaming_rollup_1m(stream)
    q = (
        rollup.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)


def run_stream_append(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "2 minutes",
):
    """Production-shaped pass: append mode + parquet sink. A window writes
    exactly once, after the watermark passes its end; rows later than the
    watermark are dropped by the state store and state ages out (bounded).
    Windows newer than max(ts) - watermark stay pending until a future
    trigger advances the watermark — the hot tail lives in state, not in
    the sink."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    rollup = streaming_rollup_1m(stream, watermark=watermark)
    q = (
        rollup.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def run_stream_sessions(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    key: str = "conv_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
):
    """Streaming sessionization: the SAME native session_window aggregation
    as the batch operator (operators/session.session_agg — one code path,
    two execution modes) driven in append mode. A session row writes
    exactly once, after the watermark passes its close (no later row can
    merge into it); open sessions live in the state store, and rows older
    than the watermark are dropped rather than reopening a closed session.
    State is bounded by (open sessions) x (key cardinality), not history.

    Same protocol as run_stream_append: availableNow catch-up, parquet
    sink, re-running with the same checkpoint resumes/advances."""
    from ..operators.session import session_agg

    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
    )
    sess = session_agg(stream, key=key, ts_col="ts", gap=gap)
    q = (
        sess.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def reconcile_with_batch(
    stream_sink: DataFrame, batch_1m: DataFrame, completed_days: list[str]
) -> DataFrame:
    """Stream+backfill reconciliation — the lambda-architecture read path.

    The streaming sink is append-only: a 1m bucket writes once when the
    watermark passes it, and rows later than the watermark are DROPPED, so
    finalized streaming buckets can permanently undercount. The nightly
    batch refresh (plans/incremental.py) recomputes completed days exactly
    from raw — including every late row. The reconciled tier therefore
    serves batch rows for completed days and streaming rows only for the
    hot tail the batch has not refreshed yet.

    Scale shape: two day-predicate filters (partition-pruned on a
    day-partitioned store) and a union — NO join, no shuffle.
    Stream+backfill == pure batch is pytest-pinned
    (tests/test_streaming_late.py::test_stream_backfill_reconciliation)."""
    common = [
        "conv_id", "bucket_ts", "n_turns", "sum_chars", "sum_tokens", "n_tool_calls",
    ]
    batch_part = batch_1m.filter(
        F.to_date("bucket_ts").isin(completed_days)
    ).select(common)
    stream_tail = stream_sink.filter(
        ~F.to_date("bucket_ts").isin(completed_days)
    ).select(common)
    return batch_part.unionByName(stream_tail)


def stream_family_1m(spark, prefix: str, input_dir: str, schema, checkpoint_dir: str, store_path: str):
    """Stream the ``<prefix>_1m`` sketch tier of any tier-store family
    (plans/incremental._families: hll, hist, kll, heavy, cms, kmv) into a
    parquet store: state(store) = merge(old state ∪ build(batch, "1m")),
    with the family's build and merge from the table and the operators'
    default sketch sizes, so the streamed state is the state the refresh
    writes for the same rows (pytest-pinned per family). Raises
    ``ValueError`` for the base family ``""`` or an unknown prefix.

    A sketch is not a Catalyst streaming aggregate, so this is the
    foreachBatch state-merge pattern (the one Delta/Iceberg MERGE
    streaming pipelines use): each micro-batch builds partial state for
    the 1-minute buckets it touched, unions it with the stored state,
    re-merges, and rewrites the WHOLE store — one write per micro-batch
    whose cost grows with the store, not with the batch — swapped in
    atomically (dot-prefixed temp, the compact_store crash-safety
    pattern). Every merge is arrival-order-insensitive, so the batch
    split cannot change the state. Restart-safe AND exactly-once: the checkpoint
    tracks input offsets, and because a sketch merge is not idempotent the
    store carries an ``_applied_batch`` marker written before the swap — a
    replayed batch that already reached the store is skipped, so no crash
    window can double-merge or lose state (see _merge_batch)."""
    import os
    import shutil

    from ..plans.incremental import _families

    families = _families()
    sketches = [p for p in families if p]
    if prefix not in sketches:
        raise ValueError(f"no sketch family {prefix!r}; valid prefixes: {sketches}")
    build, merge = families[prefix]
    tmp = os.path.join(
        os.path.dirname(store_path), "." + os.path.basename(store_path) + ".tmp"
    )

    marker = "_applied_batch"  # underscore-prefixed: invisible to Spark scans

    def _applied(path):
        try:
            with open(os.path.join(path, marker)) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _merge_batch(batch_df, batch_id):
        # Crash recovery (the compact_store pattern) + exactly-once: the
        # sketch merge is NOT idempotent, so the store carries an
        # _applied_batch marker (written into the tmp BEFORE the swap).
        #  - tmp + store both present: crash before the swap — the replay
        #    rebuilds the tmp, drop it.
        #  - tmp only: crash between rmtree and rename — the tmp holds the
        #    FULL merged state incl. this batch and its marker; rename it
        #    in, and the replayed batch sees marker >= batch_id and skips,
        #    so the batch is never double-merged.
        if os.path.isdir(tmp):
            if os.path.isdir(store_path):
                shutil.rmtree(tmp)
            else:
                os.rename(tmp, store_path)
        if _applied(store_path) >= batch_id:
            return  # already fully applied by a crashed-then-recovered run
        if not batch_df.head(1):
            return
        partial = build(batch_df, "1m")
        sess = batch_df.sparkSession
        if os.path.isdir(store_path):
            old = sess.read.parquet(store_path)
            merged = merge(old.unionByName(partial))
        else:
            merged = partial
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, marker), "w") as f:
            f.write(str(batch_id))
        if os.path.isdir(store_path):
            shutil.rmtree(store_path)
        os.rename(tmp, store_path)

    # one file per micro-batch: forces the merge-with-stored-state path
    # even under availableNow catch-up (without it the whole backlog can
    # collapse into a single batch and the merge is never exercised)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(store_path)
