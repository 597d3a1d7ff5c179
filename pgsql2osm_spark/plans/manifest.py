"""Checkpoint manifests: per-partition lineage + row counts, resumable jobs.

The north rule requires every partition to emit lineage + row-count metrics
to a checkpoint manifest so jobs resume mid-shuffle. This is the Spark heir
of the reference's done_ids dedup guard (/root/reference/pgsql2osm/
pgsql2osm.py:521-522 etc. — "never fetch the same id twice") lifted from
row granularity to partition granularity. ``write_stage_with_manifest`` is
one pass over its input, fresh job or resume alike:

* ``remaining_buckets`` left-anti-joins the rows against the buckets the
  manifest lists as done for (job_id, stage) — exactly
  all_subtract(todo, done) (SURVEY.md U2/J9). A fresh job's manifest is an
  empty local relation, and Catalyst drops the join;
* the rest is clustered by bucket and persisted, so the upstream runs once
  and each bucket directory gets one file;
* after the partitioned write, one manifest row per written bucket is
  appended: (job_id, stage, bucket, row_count, started_at, wrote_at).

The manifest itself is a plain parquet append (atomic at file granularity);
row counts and the call's start and end times double as the progress/rate
telemetry the reference logs (log.py:136-147, SURVEY.md A2/X12).
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

MANIFEST_SCHEMA = (
    "job_id string, stage string, bucket long, row_count long, "
    "started_at double, wrote_at double"
)


def write_stage_with_manifest(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    job_id: str,
    stage: str,
    bucket_col: str,
) -> None:
    """Write df's unfinished buckets partitioned by bucket, then append one
    manifest row per bucket written.

    Restart-safe: buckets the manifest lists are filtered out, and a
    complete job writes and appends nothing; a crash between data write and
    manifest append re-writes that bucket idempotently (partition
    overwrite)."""
    started_at = time.time()
    # repartition: a bucket's rows meet in one task, which writes its one
    # file; persist: the counts must describe exactly what was written, and
    # the upstream (often a full PIP join) must run once
    part = remaining_buckets(spark, df, out_dir, job_id, stage, bucket_col)
    part = part.repartition(bucket_col).persist()
    try:
        counts = part.groupBy(F.col(bucket_col).alias("bucket")).agg(
            F.count(F.lit(1)).alias("row_count")
        )
        if counts.isEmpty():
            return
        (
            part.withColumn("_bucket", F.col(bucket_col))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(os.path.join(out_dir, stage))
        )
        (
            counts.withColumn("job_id", F.lit(job_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("started_at", F.lit(started_at))
            .withColumn("wrote_at", F.lit(time.time()))
            .select("job_id", "stage", "bucket", "row_count", "started_at", "wrote_at")
            .write.mode("append")
            .parquet(_manifest_path(out_dir))
        )
    finally:
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
        # an empty local relation, which Catalyst propagates: a fresh job's
        # resume anti-join is dropped at planning
        return local_frame(spark, [], MANIFEST_SCHEMA)


def remaining_buckets(
    spark: SparkSession, df: DataFrame, out_dir: str, job_id: str, stage: str, bucket_col: str
) -> DataFrame:
    """df's rows whose bucket the manifest does not list as done — the
    resume anti-join."""
    done = (
        read_manifest(spark, out_dir)
        .where((F.col("job_id") == job_id) & (F.col("stage") == stage))
        .select("bucket")
    )
    return df.join(done, df[bucket_col] == done["bucket"], "left_anti")


def job_progress(spark: SparkSession, out_dir: str, job_id: str) -> DataFrame:
    """Rows/sec + totals per stage from manifest rows — the telemetry view
    (reference: rolling-window rate logger, log.py:165-230). The rate runs
    from the first call's start to the last bucket written."""
    m = read_manifest(spark, out_dir).where(F.col("job_id") == job_id)
    return m.groupBy("stage").agg(
        F.count(F.lit(1)).alias("buckets_done"),
        F.sum("row_count").alias("rows"),
        F.min("started_at").alias("t0"),
        F.max("wrote_at").alias("t1"),
    ).withColumn(
        "rows_per_sec",
        F.when(F.col("t1") > F.col("t0"), F.col("rows") / (F.col("t1") - F.col("t0"))),
    )
