"""The benchmark workloads: ``headline`` (with the CLI export layers in its
traced run) and ``fixture_suite``.

Each workload is closed loop with one client: it starts an operation only
after the previous one has finished. A workload object owns its inputs and
its tally of attempted and failed operations; ``run.py`` drives it through
set-up, warm-up, the timed loop and, on a traced run, the layer ladder.
Layers are timed only around calls into the engine's public functions;
nothing is added to the plans the timed operations run.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import shutil
import statistics
import sys
import time
import traceback

import inputs
import tracing

RES = (7, 8, 9, 10, 11)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def _desc(spark, text: str) -> None:
    spark.sparkContext.setJobDescription(text)


class Workload:
    """Shared tally and timed loop; subclasses define the operations."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.tracing = False  # set while the event-logged session runs

    def attempt(self, fn, *args):
        """Run one operation; an exception or a failed check counts it as
        failed. Returns fn's result, or None when it raised."""
        self.attempted += 1
        try:
            out = fn(*args)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        return out

    def fail_unless(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"{self.name}: wrong output: {what}", file=sys.stderr)
            self.failed += 1

    def after_loop(self, spark) -> None:
        """Checks run once after the untraced loop, outside its walls."""

    def timed_operation(self, spark, desc: str):
        return self.attempt(self.operation, spark, desc)

    min_ops = 1  # successful operations a loop runs even past its seconds
    settle = 0  # operations after the cold one that wall_s leaves out

    def loop(self, spark, seconds: float, desc: str, min_ops: int | None = None) -> list[float]:
        """Closed loop of operations for at least ``seconds`` and at least
        ``min_ops`` successes; returns their walls. The first loop of a run
        starts with the session's first (cold) operation."""
        walls = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(walls) < (min_ops or self.min_ops):
            wall = self.timed_operation(spark, desc)
            if wall is not None:
                walls.append(wall)
            elif time.perf_counter() >= t_end:
                break
        if not walls:
            raise RuntimeError(f"{self.name}: every operation failed")
        return walls

    def warm(self, walls: list[float]) -> list[float]:
        """The walls of the operations that ``wall_s`` is the median of."""
        return walls[1 + self.settle:]

    def end_to_end(self, walls: list[float]) -> dict:
        """The first operation is the cold one; ``wall_s`` is the median of
        the warm ones once the JIT has settled."""
        return {"wall_s": (statistics.median(self.warm(walls)), "s"), "cold_s": (walls[0], "s")}


# ---------------------------------------------------------------------------
# headline: generate -> cells -> broadcast PIP -> tile -> per-(region, tile) count
# ---------------------------------------------------------------------------


class Headline(Workload):
    name = "headline"
    # walls still fall by ~20% over the first warm operations while the JIT
    # settles: the cold one, 2 settling, then at least 6 measured
    settle = 2
    min_ops = 9
    # 24M points: the per-operation constants (cover broadcast, refine
    # stage start, final shuffle) stay a minority of the wall at local[4]
    n = 24_000_000
    sample_every = 1_200  # the check's driver-collected sample: 20k points

    def make_inputs(self, spark) -> None:
        """Driver-side inputs; the points themselves are generated inside
        each operation's plan."""
        from pgsql2osm_spark.sources import fixtures as FX

        self.regions = FX.gen_admin_polygons(12)
        self.hi_parts = 2 * self.ctx.nproc
        self.lo_cores = max(1, self.ctx.nproc // 4)

    def points(self, spark, parts: int, sample_every: int = 1, n: int | None = None):
        return inputs.points_jvm(spark, n or self.n, self.ctx.seed, parts, sample_every)

    def plan(self, spark, points):
        """The headline dataflow, composed from the engine's public functions."""
        from pyspark.sql import functions as F

        from pgsql2osm_spark.functions import cells as C
        from pgsql2osm_spark.functions import geometry as G

        pts, names = C.with_cell_columns(points, "lon", "lat", RES)
        x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
        return (
            self.join(spark, pts, names).withColumn("tx", x).withColumn("ty", y)
            .groupBy("region_id", "tx", "ty").agg(F.count(F.lit(1)).alias("n"))
        )

    def join(self, spark, pts, cell_names):
        """``spatial_join.pip_join`` as the headline calls it."""
        from pgsql2osm_spark.operators import spatial_join as SJ

        return SJ.pip_join(
            spark, pts, self.regions, keep_cols=["image_id", "lon", "lat"],
            cell_cols=dict(zip(RES, cell_names)),
        )

    def run_plan(self, spark, parts: int, desc: str) -> tuple[float, float]:
        """(wall, execution wall) of one headline operation."""
        _desc(spark, desc)
        t0 = time.perf_counter()
        df = self.plan(spark, self.points(spark, parts))
        t1 = time.perf_counter()
        _noop(df)
        t2 = time.perf_counter()
        return t2 - t0, t2 - t1

    def check(self, spark) -> None:
        from pyspark.sql import functions as F

        _desc(spark, "bench:headline:check")
        sample = self.points(spark, self.ctx.nproc, self.sample_every)
        pdf = sample.toPandas()
        truth = inputs.region_counts(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), self.regions)
        df = self.plan(spark, sample)
        got = {
            int(r["region_id"]): int(r["n"])
            for r in df.groupBy("region_id").agg(F.sum("n").alias("n")).collect()
        }
        self.fail_unless(got == truth, f"per-region counts {got} != even-odd {truth}")

    def after_loop(self, spark) -> None:
        """The sample check, after the loop so that the first operation is
        the session's cold one."""
        self.attempt(self.check, spark)

    def operation(self, spark, desc: str) -> float:
        """One local[nproc] operation; while tracing, followed by its
        interleaved leg whose data stage runs nproc/4 tasks. Returns the
        local[nproc] wall."""
        wall, exec_hi = self.run_plan(spark, self.hi_parts, desc)
        if self.tracing:
            exec_lo = self.run_plan(spark, self.lo_cores, desc + "_lo")[1]
            self.efficiency.append(exec_lo / ((self.ctx.nproc / self.lo_cores) * exec_hi))
        return wall

    def loop(self, spark, seconds, desc, min_ops=None):
        self.efficiency = []
        return super().loop(spark, seconds, desc, min_ops)

    # --- traced run -------------------------------------------------------

    def ladder(self, spark) -> dict:
        """Rungs A-D, each adding one layer to the last; a layer's time is
        its rung minus the rung below (min of two runs each). Then the CLI
        export layers."""
        from pyspark.sql import functions as F

        from pgsql2osm_spark.functions import cells as C
        from pgsql2osm_spark.functions import geometry as G
        from pgsql2osm_spark.operators import spatial_join as SJ

        def rung_c_frame(points):
            return self.join(spark, *C.with_cell_columns(points, "lon", "lat", RES))

        def rung_d_frame(points):
            x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
            return (
                rung_c_frame(points).withColumn("tx", x).withColumn("ty", y)
                .groupBy("region_id", "tx", "ty").agg(F.count(F.lit(1)).alias("n"))
            )

        def rung_a():
            self.points(spark, self.hi_parts).agg(
                F.count(F.lit(1)), F.max("lon"), F.max("lat")
            ).collect()

        def rung_b():
            pts, names = C.with_cell_columns(self.points(spark, self.hi_parts), "lon", "lat", RES)
            pts.agg(*[F.max(c) for c in names]).collect()

        def rung_c():
            rung_c_frame(self.points(spark, self.hi_parts)).agg(F.count(F.lit(1))).collect()

        def rung_d():
            _noop(rung_d_frame(self.points(spark, self.hi_parts)))

        rungs = {}
        for name, fn in (("a", rung_a), ("b", rung_b), ("c", rung_c), ("d", rung_d)):
            _desc(spark, f"bench:headline:rung_{name}")
            rungs[name] = min(_timed(fn)[0] for _ in range(2))

        # the ladder's own composition must give the operation's rows
        _desc(spark, "bench:headline:rung_check")
        small = self.points(spark, self.ctx.nproc, n=50_000)
        self.fail_unless(
            sorted(rung_d_frame(small).collect()) == sorted(self.plan(spark, small).collect()),
            "rung D rows differ from the headline composition",
        )

        pts, names = C.with_cell_columns(self.points(spark, self.hi_parts), "lon", "lat", RES)
        build_s = statistics.median(_timed(SJ.build_cover, self.regions)[0] for _ in range(3))
        plan_s = statistics.median(_timed(self.join, spark, pts, names)[0] for _ in range(3))
        self.cli = CliLayers(self)
        return {
            **self.cli.measure(spark),
            "scaling_eff": (statistics.median(self.efficiency), "ratio"),
            "input.gen_s": (rungs["a"], "s"),
            "cells.encode_s": (rungs["b"] - rungs["a"], "s"),
            "spatial_join.join_s": (rungs["c"] - rungs["b"], "s"),
            "geometry.tile_agg_s": (rungs["d"] - rungs["c"], "s"),
            "spatial_join.build_cover_s": (build_s, "s"),
            "spatial_join.plan_s": (plan_s, "s"),
        }

    def fold_layers(self, fold, op_desc: str, ops: int) -> dict:
        """The PIP join's row funnel per operation, from the plan metrics,
        and the CLI export's reads."""
        rows = fold.rows.get(op_desc, {})
        per = {k: rows.get(k, 0) / ops for k in ("probe_rows", "candidates", "python_rows", "kept")}
        return {
            "spatial_join.probe_rows": (per["probe_rows"], "rows"),
            "spatial_join.probes_per_point": (per["probe_rows"] / self.n, "ratio"),
            "spatial_join.candidates": (per["candidates"], "rows"),
            "spatial_join.python_rows": (per["python_rows"], "rows"),
            "spatial_join.kept": (per["kept"], "rows"),
            "spatial_join.kept_per_candidate": (
                per["kept"] / per["candidates"] if per["candidates"] else 0.0, "ratio"),
            **self.cli.fold_layers(fold),
        }


# ---------------------------------------------------------------------------
# CLI export layers, measured inside the headline's traced run
# ---------------------------------------------------------------------------


class CliLayers:
    """``cli.main`` over a seeded points parquet with a Europe polygon, the
    same call again (the resume), and the sources and manifest layers under
    it. Checks count against the workload that runs it."""

    n = 250_000
    job_id = "bench"
    desc = "bench:headline:cli"

    def __init__(self, workload: Workload):
        self.w = workload
        work = os.path.join(workload.ctx.work, "cli")
        self.points_dir = os.path.join(work, "points")
        self.geojson = os.path.join(work, "boundary.geojson")
        self.outs = os.path.join(work, "out")
        lon, lat = inputs.points_numpy(self.n, workload.ctx.seed)
        inputs.write_points_parquet(self.points_dir, lon, lat, files=2 * workload.ctx.nproc)
        inputs.write_geojson(self.geojson, inputs.EUROPE)
        self.truth = int(inputs.even_odd_inside(lon, lat, [inputs.EUROPE]).sum())

    def call(self, spark, out: str, desc: str) -> float:
        """One cli.main call; its job_progress lines go to a buffer."""
        from pgsql2osm_spark import cli

        argv = ["--input", self.points_dir, "--geojson", self.geojson,
                "--out", out, "--job-id", self.job_id]
        _desc(spark, desc)
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(argv, spark=spark)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        return wall

    def written(self, out: str) -> tuple[int, int, int]:
        """(rows in the tile files, manifest row sum, manifest rows)."""
        import glob

        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(out, "tiles", "_bucket=*", "*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        man = pq.read_table(os.path.join(out, "_manifest"), columns=["row_count"])
        return rows, int(man.column("row_count").to_numpy().sum()), man.num_rows

    def check(self, out: str, buckets: int | None = None) -> None:
        rows, man_sum, n_buckets = self.written(out)
        self.w.fail_unless(rows == man_sum == self.truth,
                           f"rows written {rows}, manifest sum {man_sum}, even-odd kept {self.truth}")
        self.w.fail_unless(buckets in (None, n_buckets), "the resume appended manifest rows")

    def region(self) -> list[dict]:
        import numpy as np

        ring = np.asarray(inputs.EUROPE + [inputs.EUROPE[0]], dtype=np.float64)
        return [{"region_id": 1, "rings": [ring]}]

    def tiles_frame(self, spark):
        """cli.main's spatial composition, rebuilt from public functions."""
        from pyspark.sql import functions as F

        from pgsql2osm_spark.functions import geometry as G
        from pgsql2osm_spark.operators import spatial_join as SJ

        regions = self.region()
        pts = spark.read.parquet(self.points_dir)
        joined = SJ.pip_join(spark, SJ.pip_join_bbox_prefilter(pts, regions), regions)
        x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
        return (
            joined.withColumn("tx", x).withColumn("ty", y)
            .withColumn("bucket", (F.col("tx") * (1 << 12) + F.col("ty")) % 256)
        )

    def measure(self, spark) -> dict:
        from pgsql2osm_spark.operators import spatial_join as SJ
        from pgsql2osm_spark.plans import manifest as M

        out = os.path.join(self.outs, "export")
        export_s = self.w.attempt(self.call, spark, out, self.desc)
        self.check(out)
        buckets = self.written(out)[2]
        resume_s = self.w.attempt(self.call, spark, out, self.desc + "_resume")
        self.check(out, buckets)

        regions = self.region()
        _desc(spark, "bench:headline:cli_scan")
        scan_s = _timed(
            lambda: SJ.pip_join_bbox_prefilter(spark.read.parquet(self.points_dir), regions).count()
        )[0]

        out = os.path.join(self.outs, "manifest")

        def write():
            M.write_stage_with_manifest(
                spark, self.tiles_frame(spark), out, job_id=self.job_id, stage="tiles",
                bucket_col="bucket",
            )

        _desc(spark, "bench:headline:cli_manifest")
        write_s = _timed(write)[0]
        resume_write_s = _timed(write)[0]
        progress_s = _timed(lambda: M.job_progress(spark, out, self.job_id).collect())[0]
        rows, man_sum, n_buckets = self.written(out)
        self.w.fail_unless(rows == man_sum == self.truth, "manifest ladder rows")
        size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs)
        shutil.rmtree(self.outs, ignore_errors=True)
        return {
            "cli.export_s": (export_s or 0.0, "s"),
            "cli.resume_s": (resume_s or 0.0, "s"),
            "sources.scan_s": (scan_s, "s"),
            "manifest.write_s": (write_s, "s"),
            "manifest.resume_s": (resume_write_s, "s"),
            "manifest.progress_s": (progress_s, "s"),
            "manifest.rows_written": (man_sum, "rows"),
            "manifest.buckets_written": (n_buckets, "count"),
            "manifest.bytes_written": (size, "bytes"),
        }

    def fold_layers(self, fold) -> dict:
        """Records the export call read, from its event-log tasks."""
        records = fold.tasks.get(self.desc, {}).get("records_read", 0)
        return {
            "sources.records_read": (records, "rows"),
            "sources.scan_passes": (tracing.scan_passes(records, self.n), "ratio"),
        }


# ---------------------------------------------------------------------------
# fixture_suite: ten registry queries at sf0.1 into the noop sink
# ---------------------------------------------------------------------------

SUITE = (
    "export_pipeline", "closure_fixture", "pip_partitioned_fixture",
    "pip_fixture_regions", "knn_rings_fixture", "audio_features", "doc_features",
    "pipeline_funnel", "doc_clusters", "image_decode_stats",
)


def _load_oracle_check(root: str):
    """tools/oracle_check.py, imported by path with sys.path left as found."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "oracle_check", os.path.join(root, "tools", "oracle_check.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class FixtureSuite(Workload):
    """One pass runs the ten queries in one session, each query collected to
    the driver and checked; each query is one attempt. The session's first
    pass is the cold one."""

    name = "fixture_suite"
    min_ops = 2  # the cold pass and one warm pass: a pass is ~20-35 s
    n_docs = 5_000  # the sf0.1 documents table

    def make_inputs(self, spark) -> None:
        import duckdb

        import __spark_entry__ as E

        self.sf_dir = os.path.join(self.ctx.work, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        path = os.path.join(self.sf_dir, "documents.parquet")
        inputs.documents(self.n_docs, self.ctx.seed).to_parquet(path, index=False)
        self.queries = {q: E.queries()[q] for q in SUITE}
        self.oracles = E.oracle_sql()
        self.duck = duckdb.connect()
        self.duck.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{path}'")
        self.compare = _load_oracle_check(self.ctx.root).compare
        self.checked = {}  # query -> rows that matched its oracle

    def run_query(self, spark, q: str, desc: str):
        """(build wall, execution wall, py4j commands of build, rows) of one
        query collected to the driver. Commands are counted only while
        tracing."""
        _desc(spark, desc)
        client = spark.sparkContext._gateway._gateway_client
        counting = tracing.Py4JCounter(client) if self.tracing else contextlib.nullcontext()
        with counting as counter:
            build_s, df = _timed(self.queries[q], spark, self.sf_dir)
        exec_s, rows = _timed(df.toPandas)
        return build_s, exec_s, counter.calls if counter else 0, rows

    def check(self, q: str, rows) -> None:
        """First sight of a query: its DuckDB oracle; later passes: the rows
        that matched it."""
        if q in self.checked:
            expected = self.checked[q]
        else:
            expected = self.duck.sql(self.oracles[q]).df()
        problems = self.compare(q, rows, expected)
        self.fail_unless(not problems, f"{q}: {problems}")
        if not problems:
            self.checked[q] = rows

    def one_pass(self, spark, desc: str) -> float | None:
        """All ten queries; the pass wall, or None when a query failed."""
        self.per_query = {}
        for q in self.queries:
            got = self.attempt(self.run_query, spark, q, f"{desc}:{q}")
            if got is not None:
                self.per_query[q] = got[:3]
                self.check(q, got[3])
        if len(self.per_query) < len(self.queries):
            return None
        return sum(b + e for b, e, _ in self.per_query.values())

    def timed_operation(self, spark, desc: str):
        return self.one_pass(spark, desc)

    # --- traced run -------------------------------------------------------

    def ladder(self, spark) -> dict:
        """Per-query build/execution split and build-time py4j commands of
        the last traced pass."""
        out = {}
        for q, (build_s, exec_s, calls) in self.per_query.items():
            out[f"suite.{q}.build_s"] = (build_s, "s")
            out[f"suite.{q}.exec_s"] = (exec_s, "s")
            out[f"suite.{q}.py4j_calls"] = (calls, "count")
        return out

    def fold_layers(self, fold, op_desc: str, ops: int) -> dict:
        """Jobs, task time and Python plan nodes of each query, per traced
        pass."""
        out = {}
        for q in self.queries:
            desc = f"{op_desc}:{q}"
            out[f"suite.{q}.jobs"] = (fold.jobs.get(desc, 0) / ops, "count")
            out[f"suite.{q}.task_s"] = (fold.tasks.get(desc, {}).get("task_s", 0.0) / ops, "s")
            out[f"suite.{q}.python_nodes"] = (fold.python_nodes.get(desc, 0) / ops, "count")
        return out


WORKLOADS = {w.name: w for w in (Headline, FixtureSuite)}
