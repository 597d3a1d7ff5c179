"""Checkpoint manifests: per-partition lineage + row counts, resumable jobs.

The north rule requires every partition to emit lineage + row-count metrics
to a checkpoint manifest so jobs resume mid-shuffle. This is the Spark heir
of the reference's done_ids dedup guard (/root/reference/pgsql2osm/
pgsql2osm.py:521-522 etc. — "never fetch the same id twice") lifted from
row granularity to partition granularity:

* a job writes output partitioned by a ``bucket`` column (e.g. cell prefix),
  appending one manifest row per completed bucket: (job_id, bucket,
  row_count, wrote_at, stage, input_fingerprint);
* on restart, ``remaining_buckets`` anti-joins the manifest against the work
  list — exactly all_subtract(todo, done) (SURVEY.md U2/J9) — and the job
  re-plans only the unfinished buckets.

The manifest itself is a plain parquet append (atomic at file granularity);
row counts double as the progress/rate telemetry the reference logs
(log.py:136-147, SURVEY.md A2/X12).
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import sql_ident

MANIFEST_SCHEMA = (
    "job_id string, stage string, bucket long, row_count long, "
    "input_fingerprint string, wrote_at double"
)


def write_stage_with_manifest(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    job_id: str,
    stage: str,
    bucket_col: str,
    input_fingerprint: str = "",
) -> None:
    """Write df partitioned by bucket, then append per-bucket manifest rows.

    Restart-safe: buckets listed in the manifest are skipped by the caller
    (see remaining_buckets); a crash between data write and manifest append
    re-writes that bucket idempotently (partition overwrite)."""
    data_dir = os.path.join(out_dir, stage)
    todo = remaining_buckets(spark, df.select(F.col(bucket_col).alias("bucket")).distinct(),
                             out_dir, job_id, stage)
    todo_ids = [r["bucket"] for r in todo.collect()]
    if not todo_ids:
        return
    # cache: counts below must describe exactly what was written, and the
    # upstream pipeline (often a full PIP join) must not execute twice. One
    # SQL IN-list: Column.isin would cost a py4j round trip per bucket id.
    in_list = ", ".join(str(int(b)) for b in todo_ids)
    part = df.where(F.expr(f"{sql_ident(bucket_col)} IN ({in_list})")).persist()
    (
        part.withColumn("_bucket", F.col(bucket_col))
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(data_dir)
    )
    counts = (
        part.groupBy(F.col(bucket_col).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .withColumn("job_id", F.lit(job_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("input_fingerprint", F.lit(input_fingerprint))
        .withColumn("wrote_at", F.lit(time.time()))
        .select("job_id", "stage", "bucket", "row_count", "input_fingerprint", "wrote_at")
    )
    counts.write.mode("append").parquet(_manifest_path(out_dir))
    part.unpersist()


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest rows under ``out_dir``; empty when no manifest was ever
    written. Any other read error raises: a manifest that reads as empty
    would make a resume silently re-run every bucket. The explicit schema
    lets a directory left empty by a crashed append read as empty too."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(_manifest_path(out_dir))
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def remaining_buckets(
    spark: SparkSession, all_buckets: DataFrame, out_dir: str, job_id: str, stage: str
) -> DataFrame:
    """Work list minus completed buckets — the resume anti-join."""
    done = (
        read_manifest(spark, out_dir)
        .where((F.col("job_id") == job_id) & (F.col("stage") == stage))
        .select("bucket")
        .distinct()
    )
    return all_buckets.join(done, "bucket", "left_anti")


def rolling_rate(
    spark: SparkSession, out_dir: str, job_id: str, window_sec: float = 60.0
) -> DataFrame:
    """Rolling throughput per stage: for every manifest append, rows written
    in the trailing ``window_sec`` divided by the window span — the
    reference's rolling-window rate logger (log.py:165-230, SURVEY.md A4)
    lifted from its in-process deque to a range-frame window over
    partition-completion events, so it works post-hoc on any manifest."""
    from pyspark.sql.window import Window

    m = read_manifest(spark, out_dir).where(F.col("job_id") == job_id)
    # range frames take integer bounds: order on millisecond longs
    m = m.withColumn("_t_ms", (F.col("wrote_at") * 1000.0).cast("long"))
    w = (
        Window.partitionBy("stage")
        .orderBy(F.col("_t_ms"))
        .rangeBetween(-int(window_sec * 1000), 0)
    )
    return m.select(
        "stage",
        "bucket",
        "wrote_at",
        (F.sum("row_count").over(w) / F.lit(float(window_sec))).alias("rows_per_sec_rolling"),
        F.count(F.lit(1)).over(w).alias("buckets_in_window"),
    )


def job_progress(spark: SparkSession, out_dir: str, job_id: str) -> DataFrame:
    """Rows/sec + totals per stage from manifest rows — the telemetry view
    (reference: rolling-window rate logger, log.py:165-230)."""
    m = read_manifest(spark, out_dir).where(F.col("job_id") == job_id)
    return m.groupBy("stage").agg(
        F.count(F.lit(1)).alias("buckets_done"),
        F.sum("row_count").alias("rows"),
        F.min("wrote_at").alias("t0"),
        F.max("wrote_at").alias("t1"),
    ).withColumn(
        "rows_per_sec",
        F.when(F.col("t1") > F.col("t0"), F.col("rows") / (F.col("t1") - F.col("t0"))),
    )
