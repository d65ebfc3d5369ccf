"""Incremental tier refresh — the production shape of the retention engine.

A day of transcripts lands; the 1m/5m/1h/1d tiers and their sketch side
states refresh by computing ONLY that day's partitions and overwriting them
in the tier store — history is never rescanned. This is exact because every
tier bucket (minute/5-minute/hour/day) nests inside a calendar day, so a
day's tier partitions are a pure function of that day's signal rows.

The one cross-day dependency is ``latency_s``: a turn's latency lags
against the conversation's PREVIOUS turn, which for the first turn after
midnight lives in an earlier day (possibly much earlier for dormant
conversations). A fixed lookback would be approximate; instead the store
carries a per-conversation WATERMARK state table — ``_conv_state/through=D``
holds each conversation's last turn timestamp over all days <= D. A refresh
starting at day D joins its raw turns with the state through D-1 as
pseudo-rows in the lag window, so the first turn's latency is exact no
matter how old the previous turn is. The state through the refresh's last
day is then merged from (state through D-1, the refresh's maxima) —
incremental itself, #active-conversations rows.

Every family — the base rollup state plus the HLL/histogram/KLL/
heavy-hitter/CMS/KMV sketches — is declared once in ``_families`` as (build
from signals, merge of state rows regrouped by ``bucket_ts``); a coarser
tier is the finer one ``rebucket``-ed and merged (``coarser``), and
``cascade`` chains that over all four tiers. The streaming sketch tiers
(``streaming/rollup_stream.stream_family_1m``) take the same build and
merge from the table, so a streamed ``<prefix>_1m`` state is the one a
refresh writes for the same rows.

One refresh body handles a contiguous RUN of days: derive signals once,
then one cascade per family, each coarser tier built from the cached finer
one. ``refresh_tiers``' ``mode`` only groups days
into runs — ``per_day`` makes one run per day (a snapshot per day, the
nightly shape), ``batch`` one run for all days (the bulk-load/backfill
shape). How a tier is written follows from the run's length: one day
overwrites ``<tier>/day=D`` as files of about ``TARGET_FILE_BYTES`` (so
``compact_store`` has nothing to do for it) and takes its row count from an
``observe()`` on that write; several days write all their partitions in one
dynamic-partition-overwrite job and count rows per day with one group-by,
so N days cost O(1) job rounds. A day's raw row count is the ``1m`` tier's
``sum(n_turns)`` — every turn adds 1 to exactly one bucket — so the signals
are never counted on their own. All manifest rows of a run go in one append
after the conv-state snapshot, ``_day`` among them, so a crash anywhere
before it leaves the run's days incomplete.

Ingest is FORWARD-ONLY in event time (the classic warehouse constraint):
each refresh's days must be >= every completed day; re-refreshing the
newest day (late arrivals) replays from its predecessor's state snapshot.
Older backfills = replay forward from the backfilled day.

Byte-identity of the incrementally-built store with a from-scratch cascade
is pytest-pinned (tests/test_incremental_refresh.py).

Reference parity: the reference's resumability is per-file skip-if-exists
(process_chronos_dataset.py:473-488); this is the same idea lifted to
day-partition granularity with exact cross-boundary state.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.cms import cms_merge, cms_rollup_tier
from ..operators.heavy import heavy_merge, heavy_rollup_tier
from ..operators.kll import kll_merge, kll_rollup_tier
from ..operators.kmv import kmv_merge, kmv_rollup_tier
from ..operators.rollup import (
    TIERS,
    distinct_rollup_tier,
    histogram_merge,
    histogram_rollup_tier,
    hll_merge,
    rebucket,
    rollup_from_finer,
    rollup_merge,
    rollup_tier,
)
from .manifest import commit_partition, read_manifest, write_counted

# file size a freshly written or compacted day partition aims at
TARGET_FILE_BYTES = 128 * 1024 * 1024
# the snapshot's fixed schema: reading it needs no inference job
_STATE_SCHEMA = "conv_id string, last_ts timestamp"
# a base tier day's fixed schema (rollup_tier / rollup_from_finer output;
# date_trunc makes bucket_ts TIMESTAMP whether the raw ts is TIMESTAMP or
# TIMESTAMP_NTZ): reading it needs no inference job either
_BASE_TIER_SCHEMA = (
    "conv_id string, bucket_ts timestamp, n_turns bigint, n_lat bigint, sum_lat double, "
    "min_lat double, max_lat double, sum_chars bigint, sum_tokens bigint, n_tool_calls bigint"
)


def _families() -> dict[str, tuple]:
    """The tier-store families, each declared once: prefix -> (build,
    merge). ``build(signals, tier)`` is the family's state at ``tier`` from
    signal rows; ``merge(state)`` folds state rows that share a
    ``bucket_ts`` into one (per (conv_id, bucket_ts) for the base family).
    Everything else derives from these two: a coarser tier is the finer
    one rebucketed and merged (``coarser``), the cascade and the refresh
    chain those steps over ``TIERS``, and the streaming sketch tiers
    (``streaming/rollup_stream.stream_family_1m``) merge stored state with
    each micro-batch's build. ``""`` is the base rollup state stored as
    ``<tier>``; every other family is a sketch side state stored as
    ``<prefix>_<tier>``, with the operators' default sketch sizes. Built
    per call, so the builders are the module's names at call time (the
    perfbench tracer wraps ``rollup_tier`` here, and ``rollup_from_finer``,
    which ``coarser`` calls)."""
    return {
        "": (rollup_tier, rollup_merge),
        "hll": (distinct_rollup_tier, hll_merge),
        "hist": (histogram_rollup_tier, histogram_merge),
        "kll": (kll_rollup_tier, kll_merge),
        "heavy": (heavy_rollup_tier, heavy_merge),
        "cms": (cms_rollup_tier, lambda state: cms_merge(state, ["bucket_ts"])),
        "kmv": (kmv_rollup_tier, lambda state: kmv_merge(state, ["bucket_ts"])),
    }


def coarser(prefix: str, finer: DataFrame, tier: str) -> DataFrame:
    """Family ``prefix``'s state at ``tier`` from its state at a finer
    tier: the rows rebucketed to ``tier``, then the family's merge. The
    base family takes the same two steps through ``rollup_from_finer``,
    called by this module's name (the tracer counts those calls)."""
    if not prefix:
        return rollup_from_finer(finer, tier)
    return _families()[prefix][1](rebucket(finer, tier))


def cascade(prefix: str, signals: DataFrame) -> dict[str, DataFrame]:
    """Family ``prefix``'s state at every tier: the finest built from
    ``signals``, each coarser one from the tier before it."""
    build = _families()[prefix][0]
    out, finer = {}, None
    for tier in TIERS:  # finest first
        finer = out[tier] = build(signals, tier) if finer is None else coarser(prefix, finer, tier)
    return out


def _tier_dir(prefix: str, tier: str) -> str:
    return f"{prefix}_{tier}" if prefix else tier


def _state_path(store_root: str, through_day: str) -> str:
    return os.path.join(store_root, "_conv_state", f"through={through_day}")


def read_conv_state(spark: SparkSession, store_root: str, through_day: str) -> DataFrame | None:
    p = _state_path(store_root, through_day)
    if not os.path.exists(p):
        return None
    return spark.read.schema(_STATE_SCHEMA).parquet(p)


def completed_days(spark: SparkSession, store_root: str) -> list[str]:
    m = read_manifest(spark, os.path.join(store_root, "_manifest"))
    if m is None:
        return []
    rows = (
        m.filter((F.col("tier") == "_day") & (F.col("status") == "done"))
        .select("part_key")
        .collect()
    )
    return sorted({r["part_key"] for r in rows})


def stale_days(spark: SparkSession, raw: DataFrame, store_root: str) -> list[str]:
    """Days present in the raw table whose row count differs from what the
    manifest recorded at last refresh — new days plus late-data days. The
    scan touches ONLY the ``ts`` column (column pruning drops text/value
    columns before the count aggregate); when the raw table is physically
    day-partitioned the group-by collapses onto the partition value and
    the scan is listing-cheap, otherwise it is a single narrow-column
    pass — not free, but never a full-width read."""
    counts = {
        str(r["_day"]): r["n"]
        for r in raw.groupBy(F.to_date("ts").alias("_day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    m = read_manifest(spark, os.path.join(store_root, "_manifest"))
    recorded: dict[str, set[int]] = {}
    if m is not None:
        for r in (
            m.filter((F.col("tier") == "_day") & (F.col("status") == "done"))
            .select("part_key", "n_rows")
            .collect()
        ):
            recorded.setdefault(r["part_key"], set()).add(r["n_rows"])
    # the manifest is an append-only log with no commit ordering, so a day is
    # fresh iff SOME completed refresh saw exactly today's row count (the
    # count is the change fingerprint; counts only grow under append ingest)
    return sorted(d for d, n in counts.items() if n not in recorded.get(d, set()))


def _signals_for_days(run_raw: DataFrame, prev_state: DataFrame | None) -> DataFrame:
    """derive_signals restricted to a run of days, with the previous turn's
    timestamp injected from the state table so the first turn after
    midnight lags exactly (functions/signals.derive_signals twin — narrow
    projection: text reduces to counts before the shuffle)."""
    narrow = run_raw.select(
        "conv_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("turn_idx"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.col("tool").isNotNull().alias("is_tool_call"),
        F.lit(False).alias("_state_row"),
    )
    if prev_state is not None:
        pseudo = prev_state.select(
            "conv_id",
            F.col("last_ts").alias("ts"),
            F.lit(-1).alias("turn_idx"),
            F.lit(None).cast("long").alias("n_chars"),
            F.lit(None).cast("long").alias("n_tokens"),
            F.lit(None).cast("boolean").alias("is_tool_call"),
            F.lit(True).alias("_state_row"),
        )
        narrow = narrow.unionByName(pseudo)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    return (
        narrow.withColumn(
            "latency_s",
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).cast("double")
            / 1e6,
        )
        .filter(~F.col("_state_row"))
        .drop("_state_row")
    )


def _prev_state_checked(
    spark: SparkSession, store_root: str, done: set[str], first_day: str
):
    """State snapshot covering every completed day before ``first_day``.
    Batch refreshes only write the snapshot for their LAST day, so an
    interior snapshot can be missing — silently proceeding with an older
    one would compute wrong cross-midnight latencies. Raise with the exact
    replay range instead."""
    prev_days = [d for d in done if d < first_day]
    if not prev_days:
        return None
    want = max(prev_days)
    state = read_conv_state(spark, store_root, want)
    if state is None:
        have = [d for d in prev_days if os.path.exists(_state_path(store_root, d))]
        anchor = max(have) if have else "the beginning"
        raise ValueError(
            f"no conv-state snapshot through {want} (batch refreshes keep "
            f"only their last day's snapshot); replay forward from "
            f"{anchor} — pass days covering ({anchor}, {first_day}] too"
        )
    return state


def _data_files(part: str) -> list[str]:
    """The parquet data files of a partition directory (Spark's listing
    skips dot- and underscore-prefixed names)."""
    return [
        os.path.join(part, f) for f in os.listdir(part)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _check_kmv_layout(store_root: str) -> None:
    """Raise if a ``kmv_<tier>`` directory holds rows of another layout
    than (bucket_ts, sketch) — the (bucket_ts, h, rank) bottom-k rows of a
    store built before the KMV family became a theta sketch. A refresh
    would mix both schemas in one directory, and merging to coarser
    buckets skips the NULL sketches of the old days without a word. Reads
    one parquet footer per tier, no Spark job."""
    import pyarrow.parquet as pq

    for tier in TIERS:
        root = os.path.join(store_root, _tier_dir("kmv", tier))
        if not os.path.isdir(root):
            continue
        parts = sorted(d for d in os.listdir(root) if d.startswith("day="))
        files = _data_files(os.path.join(root, parts[0])) if parts else []
        names = pq.read_schema(files[0]).names if files else ["bucket_ts", "sketch"]
        if names != ["bucket_ts", "sketch"]:
            raise ValueError(
                f"{root} holds {names} rows, not (bucket_ts, sketch): its KMV "
                "tiers predate the theta sketches — delete the kmv_<tier> "
                "directories and replay every completed day to rebuild them, "
                "or refresh with with_kmv=False"
            )


def _file_count(df: DataFrame) -> int:
    """Files for one day of ``df`` at ``TARGET_FILE_BYTES`` each, from the
    optimizer's size estimate, capped at the shuffle partitions a one-day
    tier comes out of: an input without statistics (an RDD) is estimated
    at Long.MaxValue bytes."""
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(math.ceil(est / TARGET_FILE_BYTES), cap))


def _write_tier(df: DataFrame, root: str, days: list[str], *metrics) -> dict[str, dict]:
    """Write a run's partitions of one tier; return {day: {"n_rows": ...,
    plus each named aggregate in ``metrics``}}. One day overwrites
    ``day=D`` and observes its counts in the write; several days go in one
    job that overwrites only the day partitions present (dynamic overwrite
    scoped to this write — a session-wide conf would race with concurrent
    jobs on the session), then one group-by counts them."""
    if len(days) == 1:
        path = os.path.join(root, f"day={days[0]}")
        return {days[0]: write_counted(df, path, *metrics, n_files=_file_count(df))}
    df.withColumn("day", F.to_date("bucket_ts")).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(root)
    per_day = {
        str(r["d"]): r.asDict()
        for r in df.groupBy(F.to_date("bucket_ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_rows"), *metrics)
        .collect()
    }
    return {d: per_day.get(d, {"n_rows": 0}) for d in days}


def _refresh_run(
    spark: SparkSession,
    raw: DataFrame,
    store_root: str,
    days: list[str],
    families: dict[str, tuple],
    done: set[str],
) -> dict:
    """Refresh every family's tiers and the conv-state snapshot for a
    CONTIGUOUS sorted run of days as one cascade: signals are derived once
    (the in-run lag window spans midnights natively; only the leading edge
    needs the state snapshot). The day filter prunes at the scan on a
    days(ts) layout.

    Only the LAST day's conv-state snapshot is written (state for interior
    days never existed as a boundary); a later replay of an interior day
    detects the missing snapshot and instructs a forward replay
    (_prev_state_checked). ``days`` must include EVERY raw day inside its
    span — a hole would make the in-run lag silently bridge over the
    excluded day's turns."""
    t0 = time.time()
    day_lo, day_hi = days[0], days[-1]
    run_raw = raw.filter(F.to_date("ts").between(day_lo, day_hi))
    if len(days) > 1:
        in_run = {str(r["d"]) for r in run_raw.select(F.to_date("ts").alias("d")).distinct().collect()}
        missing = sorted(in_run - set(days))
        if missing:
            raise ValueError(
                f"batch range [{day_lo}, {day_hi}] skips raw day(s) {missing}; "
                "the in-range lag would bridge over their turns — include them"
            )
    prev_state = _prev_state_checked(spark, store_root, done, day_lo)
    signals = _signals_for_days(run_raw, prev_state).persist()
    manifest_rows = []  # committed in one append at the end of the run

    def record(tier: str, rows: dict[str, int]) -> None:
        manifest_rows.extend(
            {"run_id": "incremental", "tier": tier, "part_key": d, "n_rows": n,
             "wall_s": time.time() - t0}
            for d, n in rows.items()
        )

    tiers = {}
    for prefix, (build, _) in families.items():
        cur = None
        for tier in TIERS:  # finest first
            finer = cur
            # the next coarser tier derives from this cache, not raw
            cur = (build(signals, tier) if finer is None else coarser(prefix, finer, tier)).persist()
            name = _tier_dir(prefix, tier)
            base = not prefix and finer is None  # 1m: sum(n_turns) = raw rows
            counts = _write_tier(
                cur, os.path.join(store_root, name), days,
                *([F.sum("n_turns").alias("n_turns")] if base else []),
            )
            rows = {d: c["n_rows"] for d, c in counts.items()}
            record(name, rows)
            if base:
                raw_rows = {d: c.get("n_turns") or 0 for d, c in counts.items()}
            if not prefix:
                tiers[tier] = sum(rows.values())
            if finer is not None:
                finer.unpersist()
        cur.unpersist()

    # state through the run's last day = merge(previous state, the run's last turns)
    state = signals.groupBy("conv_id").agg(F.max("ts").alias("last_ts"))
    if prev_state is not None:
        state = (
            prev_state.unionByName(state)
            .groupBy("conv_id")
            .agg(F.max("last_ts").alias("last_ts"))
        )
    state.write.mode("overwrite").parquet(_state_path(store_root, day_hi))
    record("_day", raw_rows)  # with this row the run's days are complete
    commit_partition(spark, os.path.join(store_root, "_manifest"), manifest_rows)
    signals.unpersist()
    return {"days": days, "n_raw": sum(raw_rows.values()), "tiers": tiers,
            "wall_s": round(time.time() - t0, 2)}


def refresh_tiers(
    spark: SparkSession,
    raw: DataFrame,
    store_root: str,
    days: list[str] | None = None,
    *,
    mode: str = "auto",
    with_hll: bool = True,
    with_hist: bool = True,
    with_kll: bool = True,
    with_heavy: bool = True,
    with_cms: bool = True,
    with_kmv: bool = True,
) -> list[dict]:
    """Refresh the tier store for ``days`` (default: stale_days — new days
    plus days whose raw count changed). Days run in ascending order so each
    run's state snapshot feeds the next. Forward-only: refreshing a day
    earlier than an already-completed LATER day raises (replay forward from
    the backfilled day instead — its state snapshot is on disk).

    ``mode``: 'per_day' (one run per day, snapshot per day — the nightly
    shape), 'batch' (one run for the whole contiguous range — the
    bulk-load/backfill shape, O(1) job rounds), or 'auto' (default): batch
    when 3+ days and none is already completed (initial load / multi-day
    catch-up), per-day otherwise. ``with_<family>`` turns a sketch family
    of ``_families`` on or off; the base tiers always refresh. With the KMV
    family on, a store whose ``kmv_<tier>`` rows predate the theta
    sketches raises (``_check_kmv_layout``).

    Returns one {days, n_raw, tiers, wall_s, mode} dict per run; ``tiers``
    holds the base tiers' row counts."""
    flags = locals()  # with_<prefix> for every sketch family
    families = {p: f for p, f in _families().items() if not p or flags[f"with_{p}"]}
    if "kmv" in families:
        _check_kmv_layout(store_root)
    if days is None:
        days = stale_days(spark, raw, store_root)
    days = sorted(days)
    if not days:
        return []
    done = set(completed_days(spark, store_root))
    later = sorted(d for d in done if d > days[0])
    if any(d not in days for d in later):
        raise ValueError(
            f"forward-only ingest: refreshing {days[0]} would invalidate "
            f"completed later day(s) {later} — replay them too "
            f"(pass days={sorted(set(days) | set(later))})"
        )
    if mode == "auto":
        mode = "batch" if len(days) >= 3 and not any(d in done for d in days) else "per_day"
    runs = [days] if mode == "batch" else [[d] for d in days]
    out = []
    for run in runs:
        out.append({**_refresh_run(spark, raw, store_root, run, families, done), "mode": mode})
        done |= set(run)  # the next run's snapshot lookup must see this run
    return out


def read_tier(spark: SparkSession, store_root: str, tier: str) -> DataFrame:
    """Read one tier across all day partitions (day dir name recovered via
    basePath so partition pruning on `day` works downstream)."""
    root = os.path.join(store_root, tier)
    return spark.read.option("basePath", root).parquet(root).drop("day")


def store_summary(spark: SparkSession, store_root: str) -> str:
    m = read_manifest(spark, os.path.join(store_root, "_manifest"))
    if m is None:
        return json.dumps({})
    rows = m.groupBy("tier").agg(
        F.countDistinct("part_key").alias("days"), F.sum("n_rows").alias("rows")
    ).collect()
    return json.dumps({r["tier"]: {"days": r["days"], "rows": r["rows"]} for r in rows})


def retention_sweep(
    spark: SparkSession,
    store_root: str,
    now_day: str,
    policy: dict[str, int | None] | None = None,
    cold_pack_tiers: tuple[str, ...] = ("1m",),
    key: str = "conv_id",
    value_col: str = "sum_lat",
    sdt_comp_dev: float | None = None,
) -> dict:
    """Enforce TTLs on the tier store PHYSICALLY — the retention leg of the
    north rule applied to storage, not just DataFrames: day partitions
    older than a tier's TTL are dropped as WHOLE DIRECTORIES (a partition
    drop / object-store prefix delete at scale — surviving data is never
    rewritten), after the finest tier's expiring days are packed into
    Gorilla cold blobs (``store/cold_<tier>/day=D``, exact unpack
    pytest-pinned). Coarser tiers retain the history per the policy, so
    dropping expired fine buckets loses nothing the policy wants kept
    (operators/retention.py docstring; this is its store-level twin).

    Every family's side state (``hll_<tier>``, ``hist_<tier>``, ...)
    expires with its base tier. Every retired day commits a ``retired_<tier>`` manifest row, so
    stale-day detection never resurrects an expired day as "missing".

    Returns {tier: [retired days]}."""
    import pyarrow.parquet as pq

    from ..operators.gorilla import gorilla_pack
    from ..operators.retention import DEFAULT_POLICY

    policy = policy or DEFAULT_POLICY
    manifest = os.path.join(store_root, "_manifest")
    retired: dict[str, list[str]] = {}
    t0 = time.time()
    for tier, keep_seconds in policy.items():
        if keep_seconds is None:
            continue
        cutoff = (
            datetime.fromisoformat(now_day) - timedelta(seconds=keep_seconds)
        ).strftime("%Y-%m-%d")
        for tdir in (_tier_dir(prefix, tier) for prefix in _families()):
            root = os.path.join(store_root, tdir)
            if not os.path.isdir(root):
                continue
            days = sorted(
                d.split("=", 1)[1]
                for d in os.listdir(root)
                if d.startswith("day=")
            )
            for day in days:
                if day >= cutoff:
                    continue
                part = os.path.join(root, f"day={day}")
                if tdir == tier and tier in cold_pack_tiers:
                    # round-5 ADVICE fix: land the cold blob in a DOT-prefixed
                    # temp (invisible to Spark file listing), finalize with one
                    # atomic rename BEFORE dropping the hot partition. A crash
                    # at any point leaves either (hot only), (hot + finalized
                    # cold) — which read_tier_with_cold de-dupes by excluding
                    # cold days whose hot partition still exists — or (cold
                    # only). No window loses the day or double-counts it.
                    cold_root = os.path.join(store_root, f"cold_{tier}")
                    cold_tmp = os.path.join(cold_root, f".day={day}.pack.tmp")
                    cold_final = os.path.join(cold_root, f"day={day}")
                    expiring = spark.read.schema(_BASE_TIER_SCHEMA).parquet(part).withColumn(
                        "_day", F.lit(day)
                    )
                    if sdt_comp_dev is not None:
                        # OPT-IN LOSSY historian compression (explicitly off
                        # by default): swinging-door keeps only the points
                        # needed to reconstruct the day within
                        # ±2*sdt_comp_dev by linear interpolation
                        # (operators/downsample.swinging_door docstring);
                        # first/last per series always survive. The PI-style
                        # ancient-data trade: cold blobs shrink further,
                        # exact point identity is given up knowingly.
                        from ..operators.downsample import swinging_door

                        with_id = expiring.withColumn(
                            "_sdt_id",
                            F.concat_ws(
                                ":",
                                F.col(key).cast("string"),
                                F.unix_micros(
                                    F.col("bucket_ts").cast("timestamp")
                                ).cast("string"),
                            ),
                        )
                        kept = swinging_door(
                            with_id, key=key, ts_col="bucket_ts",
                            val_col=value_col, id_col="_sdt_id",
                            comp_dev=sdt_comp_dev,
                        ).filter(F.col("kept") == 1).select("_sdt_id")
                        expiring = with_id.join(kept, "_sdt_id").drop("_sdt_id")
                    packed = gorilla_pack(expiring, [key, "_day"], "bucket_ts", value_col)
                    packed.write.mode("overwrite").parquet(cold_tmp)
                    if os.path.isdir(cold_final):
                        shutil.rmtree(cold_final)  # re-run after crash
                    os.rename(cold_tmp, cold_final)
                n = sum(pq.read_metadata(f).num_rows for f in _data_files(part))
                shutil.rmtree(part)
                commit_partition(spark, manifest, [{
                    "run_id": "retention", "tier": f"retired_{tdir}", "part_key": day,
                    "n_rows": n, "wall_s": time.time() - t0,
                }])
                retired.setdefault(tdir, []).append(day)
    return retired


def compact_store(
    spark: SparkSession,
    store_root: str,
    target_bytes: int = TARGET_FILE_BYTES,
    tiers: tuple[str, ...] | None = None,
) -> dict:
    """Small-file compaction for the tier store — a multi-day refresh
    writes each day partition with one file per shuffle task, so a
    long-lived store accumulates many tiny parquet files per day (the
    classic streaming/incremental-ingest problem; at scale this is what an
    Iceberg rewrite_data_files action does). Each day directory whose file count
    exceeds ceil(bytes/target) is rewritten to that many files via
    coalesce — data unchanged (row-identity pytest-pinned), then swapped
    in. Idempotent: a compacted day is skipped on the next pass, and so is
    a day a one-day refresh wrote (already at the target size).

    Crash-safety (round-5 ADVICE fix): the rewrite lands in a DOT-prefixed
    temp dir (`.day=D.compact.tmp`) — Spark's file listing ignores
    dot/underscore-prefixed paths, so a concurrent or post-crash
    `read_tier` never sees it as a `day=` partition (the old name
    `day=D.compact.tmp` WAS discovered as a real partition and
    double-counted the day). The swap is rename-rename: old partition is
    renamed aside to `.day=D.compact.old` (single rename — atomic on
    POSIX), the temp renamed in, then the old copy deleted. Every crash
    point leaves at most ONE visible copy of the day; `_recover_compact`
    restores the `.old` copy on the next pass if the crash landed in the
    one window where the day is briefly invisible.

    Returns {tier: {day: (files_before, files_after)}}."""
    out: dict[str, dict[str, tuple[int, int]]] = {}
    roots = tiers or [
        d for d in os.listdir(store_root)
        if os.path.isdir(os.path.join(store_root, d)) and not d.startswith("_")
    ]
    for tdir in roots:
        root = os.path.join(store_root, tdir)
        _recover_compact(root)
        for dname in sorted(os.listdir(root)):
            if not dname.startswith("day="):
                continue
            part = os.path.join(root, dname)
            files = _data_files(part)
            size = sum(os.path.getsize(f) for f in files)
            want = max(1, math.ceil(size / target_bytes))
            if len(files) <= want:
                continue
            df = spark.read.parquet(part)
            tmp = os.path.join(root, "." + dname + ".compact.tmp")
            old = os.path.join(root, "." + dname + ".compact.old")
            df.coalesce(want).write.mode("overwrite").parquet(tmp)
            os.rename(part, old)
            os.rename(tmp, part)
            shutil.rmtree(old)
            out.setdefault(tdir, {})[dname.split("=", 1)[1]] = (len(files), want)
    return out


def _recover_compact(root: str) -> None:
    """Repair a tier root after a compact_store crash: a `.day=D.compact.old`
    whose visible `day=D` is missing means the crash hit between the two
    renames — restore the old copy (the rewrite is re-done next pass).
    Orphaned `.compact.tmp`/`.compact.old` dirs (visible partition intact)
    are stale debris — delete them."""
    for dname in list(os.listdir(root)):
        if not dname.startswith(".day="):
            continue
        hidden = os.path.join(root, dname)
        if dname.endswith(".compact.old"):
            visible = os.path.join(root, dname[1:-len(".compact.old")])
            if not os.path.exists(visible):
                os.rename(hidden, visible)
            else:
                shutil.rmtree(hidden)
        elif dname.endswith(".compact.tmp"):
            shutil.rmtree(hidden)


def read_tier_with_cold(
    spark: SparkSession,
    store_root: str,
    tier: str,
    value_col: str = "sum_lat",
    key: str = "conv_id",
) -> DataFrame:
    """Full-history read of a tier after retention sweeps: hot day
    partitions as-is, UNION the Gorilla cold blobs unpacked back to
    (key, bucket_ts, value). Cold rows carry is_cold=true and only the
    packed value column (the TTL policy's documented trade: expired fine
    buckets keep one metric in cold, full state lives in the coarser
    tiers). Day-pruned scans on both sides, no join.

    Crash-consistency (round-5 ADVICE fix): a cold day whose HOT partition
    still exists (retention_sweep crashed between cold finalize and hot
    drop) is excluded from the cold side — the hot copy wins, so the day
    is never returned twice; the next sweep completes the drop.

    If the sweep ran with ``sdt_comp_dev`` set, cold days are the LOSSY
    swinging-door keep-set: reads return the kept points only, and the
    day's full shape is recoverable within ±2·comp_dev by interpolating
    between them — callers that need exact history must keep the tier hot
    (or sweep with the default lossless packing)."""
    from ..operators.gorilla import gorilla_unpack

    hot = read_tier(spark, store_root, tier).select(
        key, "bucket_ts", F.col(value_col), F.lit(False).alias("is_cold")
    )
    cold_root = os.path.join(store_root, f"cold_{tier}")
    if not os.path.isdir(cold_root):
        return hot
    hot_root = os.path.join(store_root, tier)
    hot_days = {
        d.split("=", 1)[1]
        for d in (os.listdir(hot_root) if os.path.isdir(hot_root) else [])
        if d.startswith("day=")
    }
    cold_src = spark.read.option("basePath", cold_root).parquet(cold_root)
    overlap = sorted(
        hot_days
        & {
            d.split("=", 1)[1]
            for d in os.listdir(cold_root)
            if d.startswith("day=")
        }
    )
    if overlap:
        cold_src = cold_src.filter(~F.col("day").cast("string").isin(overlap))
    cold = gorilla_unpack(cold_src).select(
        F.split("series_id", r"\|")[0].alias(key),
        F.col("ts").alias("bucket_ts"),
        F.col("value").alias(value_col),
        F.lit(True).alias("is_cold"),
    )
    return hot.unionByName(cold)
