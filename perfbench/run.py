"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload registry_sweep --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process starts a Spark session on
``local[<cores>]``, builds the workload's inputs from ``--seed``, runs one
warm-up op (timed into ``setup_s``), then runs ops back to back until
``--seconds`` of op time have passed and at least the workload's ``min_ops``
ran, plus one more if that count is even, so the median op is one measured op.
Every op's output is checked; an op that raises or fails its check counts as
failed.

Both end-to-end metrics are rescaled to a core of reference speed
(hostspeed.py): ``setup_s`` by the host probes taken before and after
set-up, each op's CPU by the probes taken just before and after it.
``cpu_s_per_op`` is the median of the rescaled op CPU. The measured values
(``setup_raw_s``, ``op_cpus_s``), the probes (``probe_s``) and the op wall
times (``op_walls_s``, ``op_p50_s``) are in the report line.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
per-layer tracer (tracing.py) and prints the per-layer metrics instead, and
writes the spans to ``.perfbench_work/trace-<workload>-<seed>.json``. The
last line of standard output is always the result object; the line before
it is a human-readable report with per-query and per-layer detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

import stats
from hostspeed import probe_s, slowdown
from proctree import ProcessTree
from tracing import LAYER_KEYS, NullTracer, SparkTracer, unit_of

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "3g"

# per-op values the workloads note outside the tracer (median over ops)
NOTED_LAYER_KEYS = ["store.bytes_per_turn", "incremental.files_compacted",
                    "gorilla.packed_ratio", "retention.days_retired"]
PER_LAYER_KEYS = ["session.start_s", "datagen.gen_s", "warmup.op_s", "driver.cpu_s",
                  "trace.op_p50_s", "proc.peak_rss_mb", "python.worker_cpu_s", *LAYER_KEYS, *NOTED_LAYER_KEYS]

END_TO_END_UNITS = {"setup_s": "s", "cpu_s_per_op": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class OpClock:
    """Accumulates wall time, process-tree CPU and the driver's own CPU over
    the timed sections of one op; each section's wall time is also kept (a
    registry row's latency)."""

    def __init__(self, tree):
        self.tree = tree
        self.wall = 0.0
        self.cpu = 0.0
        self.driver_cpu = 0.0
        self.sections: list[float] = []

    def __enter__(self):
        self._cpu0 = self.tree.cpu()
        self._driver0 = time.process_time()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        dt = time.perf_counter() - self._t0
        self.driver_cpu += time.process_time() - self._driver0
        self.cpu += self.tree.cpu() - self._cpu0
        self.wall += dt
        self.sections.append(dt)
        return False


class Context:
    def __init__(self, spark, seed, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.root = ROOT
        self.work = os.path.join(WORK, "run")
        self.cache_dir = WORK  # kept across runs
        self.timings: dict[str, float] = {}
        self.notes: dict[str, list[float]] = {}

    @contextmanager
    def timed(self, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timings[key] = self.timings.get(key, 0.0) + time.perf_counter() - t0

    def note(self, key: str, value: float) -> None:
        self.notes.setdefault(key, []).append(value)


def prepare_environment() -> None:
    """Fixed, cleaned scratch space inside the checkout; workers that can
    import the package from any working directory."""
    for sub in ("spark-local", "run"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVM inherits this and passes it on to every Python worker
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cores: int):
    from timeseriestokenizer_spark.session import get_spark, python_stage_conf

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            **python_stage_conf(),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark, tree) -> None:
    """Stop the session and wait until the JVM and its Python workers exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = tree.children()
    spark.stop()
    # no shutdown_callback_server(): it blocks on a socket close; its threads
    # are daemons and end with the JVM
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    tree.wait_gone(children, timeout=30)


def run_op(workload, ctx, i: int, tree) -> tuple[OpClock, list[str]]:
    clock = OpClock(tree)
    try:
        errors = workload.op(ctx, i, clock)
    except Exception:
        errors = ["op raised:\n" + traceback.format_exc()]
    tree.peak_rss_mb()  # sampled after every op
    return clock, errors


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "timeseriestokenizer_spark", "__init__.py")):
        print(f"perfbench: no timeseriestokenizer_spark package under {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tree = ProcessTree()
    cores = len(os.sched_getaffinity(0))
    probes = [probe_s()]  # then one between ops and one after the last
    t_setup = time.perf_counter()
    spark = start_spark(cores)
    session_s = time.perf_counter() - t_setup
    try:
        ctx = Context(spark, args.seed, NullTracer())
        workload = WORKLOADS[args.workload]()
        workload.setup(ctx)
        setup_wall = time.perf_counter() - t_setup
        with ctx.timed("untimed.expect_s"):
            workload.expect(ctx)  # the checks' reference values

        ops: list[dict] = []
        warm, warm_errors = run_op(workload, ctx, 0, tree)
        ops.append({"wall": warm.wall, "errors": warm_errors})
        setup_s = setup_wall + warm.wall

        measured: list[OpClock] = []
        if args.trace:
            ctx.tracer = SparkTracer(spark, args.workload)
            ctx.tracer.install()
        spent = 0.0
        worker_cpu: list[float] = []
        while ((spent < args.seconds or len(measured) < workload.min_ops
                or len(measured) % 2 == 0) and len(measured) < workload.max_ops):
            i = len(ops)
            probes.append(probe_s())
            if args.trace:
                ctx.tracer.begin_op(i)
                worker0 = tree.python_worker_cpu()
            clock, errors = run_op(workload, ctx, i, tree)
            if args.trace:
                ctx.tracer.end_op(clock.wall, cores)
                worker_cpu.append(tree.python_worker_cpu() - worker0)
            ops.append({"wall": clock.wall, "errors": errors})
            measured.append(clock)
            spent += clock.wall
        probes.append(probe_s())
        if args.trace:
            ctx.tracer.uninstall()
    finally:
        stop_spark(spark, tree)

    failed = sum(1 for o in ops if o["errors"])
    walls = [c.wall for c in measured]
    report = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "ops_measured": len(measured), "op_walls_s": walls,
        "op_p50_s": stats.median(walls), "op_cpus_s": [c.cpu for c in measured],
        "setup_raw_s": setup_s, "probe_s": probes, "peak_rss_mb": tree.peak_rss_mb(),
        "timings": {"session.start_s": session_s, **ctx.timings, "warmup.op_s": warm.wall},
        "failed_op_ratio": stats.failed_op_ratio(len(ops), failed),
        "errors": [e for o in ops for e in o["errors"]][:5],
    }
    sections = [s for c in measured for s in c.sections]
    if len(sections) > len(measured):  # one section per registry row
        report["query_quartiles_s"] = stats.quartiles(sections)
        report["query_tail"] = stats.tail(sections)

    if args.trace:
        per_op = ctx.tracer.ops
        metrics = {k: sum(o[k] for o in per_op) / len(per_op) for k in LAYER_KEYS}
        metrics.update({
            "session.start_s": session_s,
            "datagen.gen_s": ctx.timings.get("datagen.gen_s", 0.0),
            "warmup.op_s": warm.wall,
            "driver.cpu_s": stats.median([c.driver_cpu for c in measured]),
            # minus op_p50_s of an untraced run with the same seed = tracing overhead
            "trace.op_p50_s": stats.median(walls),
            "proc.peak_rss_mb": tree.peak_rss_mb(),
            "python.worker_cpu_s": stats.median(worker_cpu),
        })
        for key in NOTED_LAYER_KEYS:
            metrics[key] = stats.median(ctx.notes.get(key, [0.0]))
        report["layers"] = ctx.tracer.layer_times()
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({**ctx.tracer.dump(), "report": report}, f, indent=1)
        units = {k: unit_of(k) for k in PER_LAYER_KEYS}
    else:
        metrics = {
            "setup_s": setup_s / slowdown(probes[0], probes[1]),
            "cpu_s_per_op": stats.median([c.cpu / slowdown(probes[k], probes[k + 1])
                                          for k, c in enumerate(measured, start=1)]),
        }
        units = END_TO_END_UNITS

    print("report " + json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
