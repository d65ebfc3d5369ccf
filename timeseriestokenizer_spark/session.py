"""SparkSession factory with the engine's scale-oriented defaults.

Local mode stands in for a multi-executor cluster: everything here (AQE,
Arrow, explicit shuffle-partition sizing, UTC session timezone) carries over
unchanged to ``spark-submit --py-files`` on a real cluster.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Release callbacks for what operators cached or checkpointed for their
# own reuse (see ``hold`` and ``hold_checkpoint``).
_held: list[Callable[[], object]] = []


def hold(df: DataFrame) -> DataFrame:
    """Cache ``df`` for an operator's internal reuse and record it, so the
    caller can drop every such cache with one ``release_held()`` after its
    consuming action. Operator results come back as ordinary DataFrames:
    a ``.drop()`` or ``.filter()`` on them loses nothing. Releasing early
    costs recomputation, never correctness — operators only cache frames
    whose recomputation reproduces them."""
    _held.append(df.cache().unpersist)
    return df


def hold_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` (its plan becomes a leaf, which
    iterative operators need so Catalyst's plan does not grow per round)
    and record the checkpoint for ``release_held``. Unlike a ``hold``
    cache, the returned frame READS the checkpoint: once released it can
    no longer be computed, so release only after the consuming action."""
    cp = df.localCheckpoint(eager=True)
    _held.append(lambda: free_checkpoint(cp))
    return cp


def free_checkpoint(cp: DataFrame) -> None:
    """Drop the blocks behind a frame ``localCheckpoint`` returned (the
    RDD its plan reads); ``cp`` cannot be read afterwards."""
    cp._jdf.queryExecution().logical().rdd().unpersist(False)


def release_held() -> None:
    """Unpersist every frame ``hold`` recorded, drop every checkpoint
    ``hold_checkpoint`` recorded, and forget them. Call it AFTER the
    action (write/collect/count) that consumed the operator results —
    their plans read from these caches and checkpoints.

    The list is one per process, so a call made for one operator also
    releases every other operator's entries. For ``hold`` caches an early
    call costs recomputation only; for ``hold_checkpoint`` entries it
    breaks the result: a ``connected_components(deep=True)`` result, and
    any frame derived from it, cannot be read afterwards. Materialise
    (write, collect, or cache and count) whatever still needs such a
    result before any ``release_held()`` call."""
    while _held:
        _held.pop()()


def get_spark(
    app_name: str = "timeseriestokenizer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    shuffle_partitions defaults to the core count — at cluster scale this is
    instead sized so a shuffle partition holds ~128-256MB.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; "local[*]" → cpus
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES; stages whose cost is per-row Python (Arrow
        # grouped/batched UDFs: gorilla pack, TPE train) get starved of
        # parallelism when a small shuffle collapses to one task. A 64 KiB
        # floor (see python_stage_conf) keeps small shuffles parallel; it is
        # NOT a global default because byte-dense JVM aggregation pipelines
        # measurably prefer the stock 1 MiB floor (scaling harness evidence
        # in BENCH/BASELINE.md).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Codegen class cache (a static conf: fixed at session creation).
        # Spark's default LRU holds 100 classes, but one pass of the
        # benchmark's registry_sweep rows generates 333 distinct classes and
        # one pass over all 133 registry rows ~1,400, so the default evicts
        # every class before its reuse and each warm pass recompiled all of
        # them (Janino, then JIT re-optimization). At 4096 (~2x the
        # registry's working set, room for the 39 pending rows) a warm
        # registry_sweep pass compiles 0 classes and a second full-registry
        # pass 10-12; metaspace after a full-registry pass 189 -> 192 MB.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def python_stage_conf() -> dict:
    """Extra conf for sessions dominated by Arrow/pandas (per-row Python)
    stages: floor AQE's byte-based coalescing so a small shuffle feeding a
    Python stage keeps its parallelism (measured: Gorilla pack of 150
    series in one coalesced task = 9 s vs 2 s spread — AQE sizes by
    shuffle BYTES, but a Python stage's cost is per ROW). Inert at real
    scale (partitions are >=128 MiB); skip it for byte-dense pure-JVM
    aggregation jobs, which prefer the stock floor.

    64k default from a full-headline A/B (21.2 s vs 22.1 s at 16k — a lone
    TPE roundtrip prefers 16k, 3.5 s vs 5.9 s, but gorilla and the JVM
    rollups prefer 64k and win in the mix)."""
    return {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"}
