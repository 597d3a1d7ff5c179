"""Repository benchmark: one command for the headline dataflow (with the CLI
export in its traced run) and the fixture-query suite.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The benchmark makes its inputs from
``--seed``, sets up one local[nproc] Spark session, then runs closed-loop
operations (the first one cold) for at least ``--seconds`` and checks their
outputs.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Everything it writes goes under
``.perfbench_work/`` in the checkout and is removed at exit. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("headline", "fixture_suite")


class Context:
    """Run-wide settings and the paths the run may write to."""

    def __init__(self, args):
        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.tmp = os.path.join(self.work, "tmp")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.jvm_log = os.path.join(self.work, "jvm.log")


@contextlib.contextmanager
def _stderr_to(path: str):
    """Point file descriptor 2 at ``path`` while the block runs, so a child
    process started inside it (the JVM) keeps writing its log there."""
    sys.stderr.flush()
    saved = os.dup(2)
    log_fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    try:
        yield
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        os.close(log_fd)


def start_session(ctx: Context, event_log: bool):
    """(session, seconds to start it). The first start launches the JVM with
    its stderr sent to ``ctx.jvm_log``; later starts reuse that JVM."""
    from pyspark import SparkContext

    from pgsql2osm_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(ctx.eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + ctx.eventlog,
        })
    launching = SparkContext._gateway is None
    t0 = time.perf_counter()
    with _stderr_to(ctx.jvm_log) if launching else contextlib.nullcontext():
        spark = get_spark(app="perfbench", master=f"local[{ctx.nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark, time.perf_counter() - t0


def shutdown() -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_python_workers(spark, nproc: int) -> None:
    """A tiny pandas job so a new context's Python workers start before the
    timed loop, not inside it."""
    spark.range(0, 4 * nproc, 1, nproc).mapInPandas(lambda it: it, "id long").count()


def measure(ctx: Context, workload) -> dict:
    import tracing

    # memory is sampled on traced runs only: its peak follows the JVM's
    # heap sizing too closely to hold an end-to-end bound
    with tracing.PeakRss() if ctx.trace else contextlib.nullcontext() as mem:
        spark, start_s = start_session(ctx, event_log=False)
        gens = []
        for _ in range(1 if ctx.trace else 3):
            t0 = time.perf_counter()
            workload.make_inputs(spark)
            gens.append(time.perf_counter() - t0)
        setup_s = start_s + statistics.median(gens)
        op_desc = f"bench:{workload.name}:op"
        walls = workload.loop(spark, ctx.seconds, op_desc)
        workload.after_loop(spark)
        if not ctx.trace:
            return {"setup_s": (setup_s, "s"), **workload.end_to_end(walls)}

        # traced run: same JVM, a new context with the event log on
        spark.stop()
        spark, _ = start_session(ctx, event_log=True)
        warm_python_workers(spark, ctx.nproc)
        workload.tracing = True
        traced = workload.loop(spark, ctx.seconds, op_desc, min_ops=1)
        layers = workload.ladder(spark)
        workload.tracing = False
    shutdown()

    fold = tracing.Fold.from_events(tracing.read_event_log(ctx.eventlog))
    ops = len(traced)
    tot = fold.task_totals(op_desc)
    return {
        "session.start_s": (start_s, "s"),
        "mem.peak_rss_mb": (mem.peak_bytes / 2**20, "MB"),
        **layers,
        **workload.fold_layers(fold, op_desc, ops),
        "spark.task_s": (tot["task_s"] / ops, "s"),
        "spark.task_cpu_s": (tot["task_cpu_s"] / ops, "s"),
        "spark.gc_s": (tot["gc_s"] / ops, "s"),
        "spark.task_wait_s": (tot["task_wait_s"] / ops, "s"),
        "spark.cpu_util": (tot["task_cpu_s"] / (sum(traced) * ctx.nproc), "ratio"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / ops, "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"] / ops, "bytes"),
        "spark.tasks": (tot["tasks"] / ops, "count"),
        "spark.codegen_fallbacks": (tracing.count_codegen_fallbacks(ctx.jvm_log), "count"),
        "trace.overhead_frac": (
            statistics.median(traced) / statistics.median(workload.warm(walls)) - 1, "ratio"),
    }


def manifest_metrics(metrics: dict, trace: bool) -> dict:
    """Exactly the manifest's metrics for this kind of run, in its order.
    A per-layer metric of a layer the workload does not run reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in listed:
        value, unit = metrics.pop(m["name"], (0, m["unit"]))
        if unit != m["unit"] or (value == 0 and not trace):
            raise RuntimeError(f"metric {m['name']}: {value} {unit}, manifest says {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    if metrics:
        raise RuntimeError(f"metrics missing from the manifest: {sorted(metrics)}")
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("pgsql2osm_spark", "__spark_entry__.py", "tools/oracle_check.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    ctx = Context(args)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.tmp)
    os.environ["TMPDIR"] = ctx.tmp
    tempfile.tempdir = ctx.tmp
    sys.path.insert(0, ROOT)

    import workloads

    workload = workloads.WORKLOADS[args.workload](ctx)
    try:
        metrics = manifest_metrics(measure(ctx, workload), ctx.trace)
    finally:
        shutdown()
        shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps({
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
