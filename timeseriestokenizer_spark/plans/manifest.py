"""Checkpoint manifest: per-partition lineage + metrics, resumable rollups.

The reference's resumability is filesystem memoization — skip BPE training if
the .model file exists (transform_files_into_tokens.py:294-300), skip stages
if their output CSV exists (process_chronos_dataset.py:473-488). The engine
generalizes this to a manifest table: one row per (run, tier, partition) with
status/metrics, written ATOMICALLY with the data (each partition's output
lands under its own directory; the manifest row commits after the write), so
a rerun anti-joins done partitions and only computes the remainder
(BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Storage is a parquet directory append, one tiny file per commit: a commit
carries every row of one run (a tier-store refresh appends its tier rows and
its ``_day`` row together), so a run costs one append, not one per partition.
The same protocol targets an Iceberg table at cluster scale (Iceberg commits
give snapshot isolation; the parquet fallback relies on per-partition
subdirectories being self-contained). The manifest is read with its fixed
schema: no inference job, and a corrupt file fails the read instead of
passing for an empty manifest.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "run_id string, tier string, part_key string, status string, "
    "n_rows bigint, metrics string, wall_s double"
)
MANIFEST_COLS = ["run_id", "tier", "part_key", "status", "n_rows", "metrics", "wall_s"]


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """The manifest, or None when it was never created (an existing empty
    directory reads as an empty frame)."""
    if not os.path.exists(manifest_path):
        return None
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)


def done_partitions(spark: SparkSession, manifest_path: str, run_id: str, tier: str) -> set[str]:
    m = read_manifest(spark, manifest_path)
    if m is None:
        return set()
    rows = (
        m.filter((F.col("run_id") == run_id) & (F.col("tier") == tier) & (F.col("status") == "done"))
        .select("part_key")
        .collect()
    )
    return {r["part_key"] for r in rows}


def commit_partition(spark: SparkSession, manifest_path: str, rows: list[dict]) -> None:
    """Append manifest rows as ONE file, after their partitions' data is on
    disk. Each row is a dict with ``run_id``, ``tier``, ``part_key``,
    ``n_rows`` and optionally ``metrics`` (a dict) and ``wall_s``."""
    pdf = pd.DataFrame(
        [
            (r["run_id"], r["tier"], r["part_key"], "done", r["n_rows"],
             json.dumps(r.get("metrics") or {}), float(r.get("wall_s", 0.0)))
            for r in rows
        ],
        columns=MANIFEST_COLS,
    )
    # from pandas: with Arrow on (session.get_spark) no Python worker starts
    spark.createDataFrame(pdf, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(manifest_path)


def write_counted(
    df: DataFrame, path: str, *metrics: Column, n_files: int | None = None
) -> dict:
    """Overwrite ``path`` with ``df`` (as at most ``n_files`` files) and
    return ``{"n_rows": rows written}`` plus each named aggregate in
    ``metrics``, all observed during the write itself — no second action
    re-reads the output to count it."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n_rows"), *metrics)
    if n_files is not None:
        out = out.coalesce(n_files)
    out.write.mode("overwrite").parquet(path)
    return obs.get


def resumable_rollup(
    spark: SparkSession,
    signals: DataFrame,
    tier: str,
    out_path: str,
    manifest_path: str,
    run_id: str,
    part_col: str = "day",
    key: str = "conv_id",
) -> list[str]:
    """Run one tier's rollup partition-by-partition (partition = day), skipping
    partitions the manifest already marks done. Idempotent: killing mid-run
    and rerunning produces byte-identical output without double-counting
    (each day's output is a self-contained subdirectory, overwritten whole).

    Returns the list of part_keys computed this invocation.
    """
    from ..operators.rollup import rollup_tier

    # reuse a source partition column if present (days(ts) layout → the
    # filter below prunes at the scan); otherwise derive and cache so the
    # per-day loop doesn't rescan + re-derive signals 31 times
    cached = False
    if "day" in signals.columns:
        with_day = signals
    else:
        with_day = signals.withColumn("day", F.to_date("ts")).persist()
        cached = True
    days = [str(r["day"]) for r in with_day.select("day").distinct().orderBy("day").collect()]
    done = done_partitions(spark, manifest_path, run_id, tier)
    computed = []
    for day in days:
        if day in done:
            continue
        t0 = time.time()
        part = rollup_tier(with_day.filter(F.col("day") == day), tier, key=key)
        n = write_counted(part, os.path.join(out_path, f"day={day}"))["n_rows"]
        commit_partition(spark, manifest_path, [{
            "run_id": run_id, "tier": tier, "part_key": day, "n_rows": n,
            "metrics": {"n_buckets": n}, "wall_s": time.time() - t0,
        }])
        computed.append(day)
    if cached:
        with_day.unpersist()
    return computed
