"""Streaming swinging-door compression — the historian's ingest-time
archival filter as an applyInPandasWithState operator (the streaming twin
of operators/downsample.swinging_door).

Process historians run SDT ON THE INGEST PATH: a point is archived the
moment a LATER point closes the doors, so the archive trails the stream
by exactly one held point per series. GroupState carries the anchor, the
two door slopes and the held point — six scalars, bounded forever,
checkpointed across micro-batches and restarts. Each point steps the
batch operator's own door update (``downsample.sdt_door``: two adds + one
IEEE divide per door, then min/max/compare), so the streamed archive
reconciles with the batch keep-set EXACTLY: streamed archived points == batch kept points minus
each series' final point (which the batch form keeps by convention but a
never-ending stream must hold pending; it surfaces on the next door
close). First points archive immediately (they are the first anchor).

Late/out-of-order events drop (state must not regress — the
stateful_locf / alert_stream doctrine); per-series in-order delivery
sees no drops.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..operators.downsample import sdt_door

SDT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

SDT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ta_us", T.LongType()),
        T.StructField("va", T.DoubleType()),
        T.StructField("min_hi", T.DoubleType()),
        T.StructField("max_lo", T.DoubleType()),
        T.StructField("tp_us", T.LongType()),
        T.StructField("vp", T.DoubleType()),
    ]
)


def stream_sdt_archive(
    stream_df: DataFrame,
    key: str,
    ts_col: str,
    val_col: str,
    comp_dev: float = 15.0,
) -> DataFrame:
    """Archived (kept) points as they become final: (series_id, ts,
    value) in append mode — each row is immutable the moment it emits
    (doors already closed behind it), so any append sink works."""
    E = float(comp_dev)
    if not E > 0:
        raise ValueError(f"comp_dev must be positive, got {comp_dev}")

    def _step(key_tuple, pdfs, state):
        (sid,) = key_tuple
        if state.exists:
            ta, va, min_hi, max_lo, tp, vp = state.get
        else:
            ta = None
            va = min_hi = max_lo = vp = 0.0
            tp = 0
        o_ts, o_v = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts_us", kind="stable")
            for ts_us, v in zip(pdf["ts_us"], pdf["val"]):
                ts_us, v = int(ts_us), float(v)
                if ta is not None and ts_us <= tp:
                    continue  # late or redelivered
                if ta is None:
                    # first point: becomes the anchor AND archives now
                    ta, va = ts_us, v
                    min_hi, max_lo = 1e308, -1e308
                    tp, vp = ts_us, v
                    o_ts.append(ts_us)
                    o_v.append(v)
                    continue
                closed, ta, va, min_hi, max_lo = sdt_door(
                    ta, va, min_hi, max_lo, tp, vp, ts_us, v, E
                )
                if closed:
                    # the HELD point archived and is the new anchor
                    o_ts.append(tp)
                    o_v.append(vp)
                tp, vp = ts_us, v
        state.update((ta, va, min_hi, max_lo, tp, vp))
        if o_ts:
            yield pd.DataFrame(
                {
                    "series_id": sid,
                    "ts": pd.to_datetime(o_ts, unit="us"),
                    "value": o_v,
                }
            )

    prepared = stream_df.select(
        F.col(key).cast("string").alias("series_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.col(val_col).cast("double").alias("val"),
    )
    return prepared.groupBy("series_id").applyInPandasWithState(
        _step,
        SDT_OUTPUT_SCHEMA,
        SDT_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_sdt(
    spark,
    input_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    key: str,
    ts_col: str,
    val_col: str,
    comp_dev: float = 15.0,
):
    """availableNow pass over a parquet directory; door state persists in
    the checkpoint so appended files continue the compression exactly."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    archived = stream_sdt_archive(stream, key, ts_col, val_col, comp_dev)
    q = (
        archived.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)
