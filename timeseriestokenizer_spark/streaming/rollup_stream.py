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


def streaming_histogram_1m(
    stream_df: DataFrame,
    val_col: str = "latency_s",
    edges: list[float] | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming twin of rollup.histogram_rollup_tier: tumbling 1-minute
    windows of fixed-bin counts (long format). Bin counts are pure
    additive aggregation state, so append mode finalizes each
    (bucket, bin) row once the watermark passes — and the batch refresh
    reconciles late drops exactly as for the sum/count tier
    (reconcile semantics identical: day-filter + union, no join)."""
    from ..operators.rollup import DEFAULT_LATENCY_EDGES

    if edges is None:
        edges = DEFAULT_LATENCY_EDGES
    v = F.col(val_col)
    bin_expr = F.aggregate(
        F.array(*[F.lit(float(e)) for e in edges]),
        F.lit(0),
        lambda acc, e: acc + F.when(v >= e, 1).otherwise(0),
    )
    return (
        stream_df.filter(v.isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_ts"), "bin", "n")
    )


def stream_kll_1m(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    store_path: str,
    val_col: str = "latency_s",
    k: int = 512,
):
    """Streaming KLL quantile tier: foreachBatch incremental sketch merge.

    Unlike counts/histograms, a KLL sketch is not a Catalyst aggregate, so
    the streaming form is the foreachBatch state-merge pattern (the same
    one Delta/Iceberg MERGE streaming pipelines use): each micro-batch
    builds PARTIAL sketches for the 1-minute buckets it touched
    (operators/kll.kll_rollup_tier on the batch frame — map-side partials,
    only sketch rows shuffle), unions them with the stored per-bucket
    state, re-merges, and swaps the store atomically (dot-prefixed temp,
    the compact_store crash-safety pattern). State(bucket) =
    merge(old_state, batch_partial) is exactly the cascade/refresh merge,
    so stream-built state equals a batch build over the same rows
    (pytest-pinned in the exact regime; rank-bounded beyond).

    At scale the store is day-partitioned and only TOUCHED day partitions
    rewrite (buckets arrive nearly-ordered under a watermark); the full
    rewrite here keeps the sandbox twin simple and the semantics
    identical. Restart-safe AND exactly-once: the checkpoint tracks input
    offsets, and because a KLL merge is not idempotent the store carries
    an ``_applied_batch`` marker written before the atomic swap — a
    replayed batch that already reached the store is skipped, so no crash
    window can double-merge or lose state (see _merge_batch)."""
    from ..operators.kll import _merge_groups, kll_rollup_tier

    return _run_state_merge_stream(
        spark,
        input_dir,
        schema,
        checkpoint_dir,
        store_path,
        partial_fn=lambda batch: kll_rollup_tier(batch, "1m", val_col, k),
        merge_fn=lambda state: _merge_groups(state, "bucket_ts", k),
    )


def stream_heavy_1m(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    store_path: str,
    key_col: str = "conv_id",
    k: int = 32,
):
    """Streaming heavy-hitter (Misra-Gries) tier — the skew-monitoring
    companion to stream_kll_1m, same foreachBatch state-merge shape:
    each micro-batch folds into per-bucket MG partials
    (operators/heavy.heavy_rollup_tier), merges with stored state
    (sum-all-then-shrink-once, so shuffle/batch arrival order cannot
    leak into the summary — the CLAUDE.md MG-merge rule), and swaps the
    store atomically with the exactly-once ``_applied_batch`` marker.
    Stream-built state equals a batch build over the same rows in the
    no-eviction regime (pytest-pinned)."""
    from ..operators.heavy import _merge_groups, heavy_rollup_tier

    return _run_state_merge_stream(
        spark,
        input_dir,
        schema,
        checkpoint_dir,
        store_path,
        partial_fn=lambda batch: heavy_rollup_tier(
            batch, "1m", key_col=key_col, k=k
        ),
        merge_fn=lambda state: _merge_groups(state, k),
    )


def stream_cms_1m(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    store_path: str,
    key_col: str = "conv_id",
    depth: int = 4,
    width: int = 256,
):
    """Streaming count-min tier — same foreachBatch state-merge shape as
    stream_kll_1m / stream_heavy_1m, but the merge is PLAIN COUNTER
    ADDITION (groupBy sum over (bucket, row, col)): commutative and
    idempotence-free like the others, so it rides the exactly-once
    ``_applied_batch`` marker unchanged. Stream-built cells equal a batch
    build over the same rows EXACTLY (counters, not estimates — no
    regime caveat needed)."""
    from ..operators.cms import cms_merge, cms_rollup_tier

    return _run_state_merge_stream(
        spark,
        input_dir,
        schema,
        checkpoint_dir,
        store_path,
        partial_fn=lambda batch: cms_rollup_tier(
            batch, "1m", key=key_col, depth=depth, width=width
        ),
        merge_fn=lambda state: cms_merge(state, ["bucket_ts"]),
    )


def stream_kmv_1m(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    store_path: str,
    key_col: str = "conv_id",
):
    """Streaming KMV tier — theta-sketch state merge on the shared runner.
    Each micro-batch builds one theta sketch per 1-minute bucket it
    touched; the merge is ``theta_union_agg`` over the stored and batch
    sketches: order-insensitive AND byte-equal to a batch build (the same
    sketch size on both sides), so the stream/batch reconcile is an
    equality, not an estimate comparison."""
    from ..operators.kmv import kmv_merge, kmv_rollup_tier

    return _run_state_merge_stream(
        spark,
        input_dir,
        schema,
        checkpoint_dir,
        store_path,
        partial_fn=lambda batch: kmv_rollup_tier(batch, "1m", key=key_col),
        merge_fn=lambda state: kmv_merge(state, ["bucket_ts"]),
    )


def _run_state_merge_stream(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    store_path: str,
    partial_fn,
    merge_fn,
):
    """The generic foreachBatch sketch-state merger both sketch tiers
    share: state(store) = merge_fn(old_state ∪ partial_fn(batch)), with
    crash-safe atomic store swaps and exactly-once replay skipping.
    ``partial_fn(batch_df)`` builds per-bucket partial summaries;
    ``merge_fn(unioned_df)`` re-merges per bucket and must be
    arrival-order-insensitive (canonical-sort / sum-then-shrink — the
    CLAUDE.md sketch-merge rule)."""
    import os
    import shutil

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
        partial = partial_fn(batch_df)
        sess = batch_df.sparkSession
        if os.path.isdir(store_path):
            old = sess.read.parquet(store_path)
            merged = merge_fn(old.unionByName(partial))
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
