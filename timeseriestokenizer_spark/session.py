"""SparkSession factory with the engine's scale-oriented defaults.

Local mode stands in for a multi-executor cluster: everything here (AQE,
Arrow, explicit shuffle-partition sizing, UTC session timezone) carries over
unchanged to ``spark-submit --py-files`` on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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


def python_stage_conf(min_partition: str | None = None) -> dict:
    """Extra conf for sessions dominated by Arrow/pandas (per-row Python)
    stages: floor AQE's byte-based coalescing so a small shuffle feeding a
    Python stage keeps its parallelism (measured: Gorilla pack of 150
    series in one coalesced task = 9 s vs 2 s spread — AQE sizes by
    shuffle BYTES, but a Python stage's cost is per ROW). Inert at real
    scale (partitions are >=128 MiB); skip it for byte-dense pure-JVM
    aggregation jobs, which prefer the stock floor.

    64k default from a full-headline A/B (21.2 s vs 22.1 s at 16k — a lone
    TPE roundtrip prefers 16k, 3.5 s vs 5.9 s, but gorilla and the JVM
    rollups prefer 64k and win in the mix). Override per workload via the
    argument or SPARK_GRAFT_PY_MIN_PARTITION."""
    floor = min_partition or os.environ.get("SPARK_GRAFT_PY_MIN_PARTITION", "64k")
    return {"spark.sql.adaptive.coalescePartitions.minPartitionSize": floor}
