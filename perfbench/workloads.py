"""The benchmark's workloads: set-up, one operation, and its output check.

Each workload is a closed loop with one client. ``setup`` prepares the
inputs (timed into ``setup_s``): generated from the seed, or the fixed
sf0.01 tables. ``expect`` computes what the checks compare against
(untimed); ``op`` runs one operation, timing only the work inside ``clock``
sections, and returns the check failures it found (an empty list means the
outputs are correct). Every check is an independent
computation, mostly DuckDB over the same files, never the engine itself.

Package functions are looked up as module attributes at call time, so the
traced run's wrappers see the calls.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import time

import duckdb
from pyspark.sql import functions as F

from timeseriestokenizer_spark import contract, datagen_spark
from timeseriestokenizer_spark.plans import incremental

# the engine's sf0.01 test tables (one parquet file per table)
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")


def dir_bytes(path: str, since: float = 0.0) -> int:
    """Bytes of the regular files under ``path`` last modified at or after
    ``since`` (seconds since the epoch)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def _scalar(con, sql: str):
    return con.execute(sql).fetchone()[0]


def _load_value_hash(root: str):
    """``value_hash`` from tools/check_contract.py, the registry's own
    order-insensitive result hash."""
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(root, "tools", "check_contract.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.value_hash


def registry_queries() -> list[str]:
    """bench.py's headline rows plus the rows that fire Spark jobs while
    their DataFrame is still being built."""
    import bench

    return list(bench.HEADLINE) + [
        "dedup_clusters", "rfm_segments", "series_correlation", "mixture_take"]


class RegistrySweep:
    """One pass over the registry rows: per row, build the DataFrame, then
    collect it (the collected rows are what the check hashes)."""

    name = "registry_sweep"
    min_ops = 1
    max_ops = float("inf")  # every pass reads the same tables

    def setup(self, ctx) -> None:
        # the input is fixed: the same tables for every seed
        self.sf_dir = SF_DIR
        self.queries = registry_queries()

    def expect(self, ctx) -> None:
        self.value_hash = _load_value_hash(ctx.root)
        # The oracle results depend only on the tables, the oracle SQL and
        # value_hash, so runs in one checkout share them: DuckDB takes ~6 s.
        files = sorted(os.listdir(self.sf_dir))
        key = hashlib.sha256()
        for f in files:
            with open(os.path.join(self.sf_dir, f), "rb") as fh:
                key.update(f.encode() + fh.read())
        with open(os.path.join(ctx.root, "tools", "check_contract.py"), "rb") as fh:
            key.update(fh.read())
        key.update(json.dumps([[q, contract.ORACLE_SQL[q]] for q in self.queries]).encode())
        cache = os.path.join(ctx.cache_dir, f"registry-expected-{key.hexdigest()[:20]}.json")
        if not os.path.exists(cache):
            con = duckdb.connect()
            for f in files:
                con.execute(f"create view {f.removesuffix('.parquet')} as "
                            f"select * from '{self.sf_dir}/{f}'")
            expected = {}
            for q in self.queries:
                cur = con.execute(contract.ORACLE_SQL[q])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                expected[q] = [len(rows), sorted(cols), self.value_hash(rows, cols)]
            with open(cache + ".tmp", "w") as fh:
                json.dump(expected, fh)
            os.replace(cache + ".tmp", cache)
        with open(cache) as fh:
            self.expected = {q: tuple(v) for q, v in json.load(fh).items()}

    def op(self, ctx, i: int, clock) -> list[str]:
        tr = ctx.tracer
        errors = []
        for q in self.queries:
            ctx.spark.catalog.clearCache()
            with clock:
                with tr.span("registry", q):
                    with tr.span("registry", f"{q}.build", "build"):
                        df = contract.QUERIES[q](ctx.spark, self.sf_dir)
                    rows = df.collect()
            cols = df.columns
            got = (len(rows), sorted(cols), self.value_hash(rows, cols))
            if got != self.expected[q]:
                errors.append(f"{q}: rows/columns/hash {got[:2]} differ from the DuckDB oracle "
                              f"{self.expected[q][:2]} or the value hash differs")
        return errors


class TierStoreNightly:
    """Nightly maintenance of a tier store: refresh one new day, expire the
    oldest 1m day into a Gorilla cold blob, compact small files."""

    name = "tier_store_nightly"
    min_ops = 3
    convs_per_day = 65  # ~13 k turns per day
    n_days = 31
    seed_days = 3
    max_ops = n_days - seed_days - 1  # measured ops after the warm-up, one day each
    policy = {"1m": 2 * 86400, "5m": None, "1h": None, "1d": None}
    sketches = dict(with_hll=False, with_hist=False, with_kll=False,
                    with_heavy=False, with_cms=False, with_kmv=False)

    def setup(self, ctx) -> None:
        self.raw_dir = os.path.join(ctx.work, "store_raw")
        self.store = os.path.join(ctx.work, "store")
        with ctx.timed("datagen.gen_s"):
            # one day of conversations repeated on every day (ids made unique),
            # so every op refreshes the same number of turns: a day's size
            # would otherwise vary by ~12 % with the seed's conversation starts
            day = datagen_spark.transcripts_spark(
                ctx.spark, C=self.convs_per_day, avg_len=200, seed=ctx.seed, span_days=1)
            day.crossJoin(ctx.spark.range(self.n_days).withColumnRenamed("id", "d")).select(
                F.concat("conv_id", F.lit("_d"), F.col("d").cast("string")).alias("conv_id"),
                "turn_idx", "role", "text", "tool",
                F.timestamp_seconds(F.unix_seconds("ts") + F.col("d") * 86400).alias("ts"),
            ).write.parquet(self.raw_dir)
        self.raw = ctx.spark.read.parquet(self.raw_dir)
        con = duckdb.connect()
        self.day_turns = dict(con.execute(
            f"select cast(cast(ts as date) as varchar), count(*) "
            f"from read_parquet('{self.raw_dir}/*.parquet') group by 1 order by 1").fetchall())
        self.days = sorted(self.day_turns)
        with ctx.timed("store.seed_s"):
            incremental.refresh_tiers(ctx.spark, self.raw, self.store,
                                      days=self.days[:self.seed_days], **self.sketches)

    def expect(self, ctx) -> None:
        self.con = duckdb.connect()

    def _day(self, i: int) -> str:
        k = self.seed_days + i
        if k >= len(self.days):
            raise RuntimeError(f"out of days: op {i} needs day #{k}, input has {len(self.days)}")
        return self.days[k]

    def op(self, ctx, i: int, clock) -> list[str]:
        day = self._day(i)
        # a 2-day TTL on the refreshed day seed_days+i expires exactly day i
        expire = self.days[i]
        hot = os.path.join(self.store, "1m", f"day={expire}")
        hot_bytes = dir_bytes(hot)
        tr = ctx.tracer
        start = time.time()
        with clock:
            with tr.span("incremental", "refresh_tiers"):
                incremental.refresh_tiers(ctx.spark, self.raw, self.store, days=[day],
                                          mode="per_day", **self.sketches)
            with tr.span("retention", "retention_sweep"):
                retired = incremental.retention_sweep(ctx.spark, self.store, day, self.policy)
            with tr.span("incremental", "compact_store"):
                compacted = incremental.compact_store(ctx.spark, self.store)
        cold = dir_bytes(os.path.join(self.store, "cold_1m", f"day={expire}"))
        ctx.note("store.bytes_per_turn", dir_bytes(self.store, since=start) / self.day_turns[day])
        ctx.note("incremental.files_compacted",
                 sum(before for parts in compacted.values() for before, _ in parts.values()))
        ctx.note("gorilla.packed_ratio", cold / hot_bytes if hot_bytes else 0.0)
        ctx.note("retention.days_retired", sum(len(days) for days in retired.values()))

        errors = []
        if retired != {"1m": [expire]}:
            errors.append(f"retention retired {retired}, expected 1m day {expire} only")
        got = _scalar(self.con, f"select sum(n_turns) from read_parquet('{self.store}/1d/*/*.parquet')")
        want = sum(n for d, n in self.day_turns.items() if d <= day)
        if got != want:
            errors.append(f"1d sum(n_turns)={got}, raw turns through {day}={want}")
        return errors


WORKLOADS = {w.name: w for w in (RegistrySweep, TierStoreNightly)}
