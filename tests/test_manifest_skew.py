"""Checkpoint manifest resume + skew mitigation behavior."""

import pandas as pd
from pyspark.sql import functions as F

from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.operators import skew as SK
from pgsql2osm_spark.plans import manifest as M
from pgsql2osm_spark.sources import fixtures as FX


def _pts(spark, n):
    lon, lat = FX.gen_points_slice(0, n)
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"img{i:012d}" for i in range(n)], "lon": lon, "lat": lat})
    )
    return C.with_cell_columns(df, "lon", "lat", [4], ["cell"])[0]


def test_manifest_write_and_resume(spark, tmp_path):
    """One pass: the upstream runs once per call, each bucket directory gets
    one file, a complete resume writes nothing, and a one-call job has a
    rate."""
    import glob

    out = str(tmp_path / "job")
    n = 2000
    seen = spark.sparkContext.accumulator(0)

    def passthrough(c):
        seen.add(1)
        return c

    # the bucket column itself comes through the counting UDF, so every
    # pass over the upstream that reads it shows in the accumulator
    df = _pts(spark, n).withColumn("cell", F.udf(passthrough, "long")("cell"))
    M.write_stage_with_manifest(spark, df, out, job_id="j1", stage="tiles", bucket_col="cell")
    assert seen.value == n
    m1 = M.read_manifest(spark, out)
    n_buckets = m1.count()
    assert n_buckets > 0
    assert m1.agg(F.sum("row_count")).collect()[0][0] == n
    dirs = glob.glob(f"{out}/tiles/_bucket=*")
    assert len(dirs) == n_buckets
    assert all(len(glob.glob(f"{d}/*.parquet")) == 1 for d in dirs)
    # resume: everything done -> no remaining rows, second write is a no-op
    assert M.remaining_buckets(spark, _pts(spark, n), out, "j1", "tiles", "cell").count() == 0
    seen.value = 0
    M.write_stage_with_manifest(spark, df, out, job_id="j1", stage="tiles", bucket_col="cell")
    assert seen.value <= n
    assert M.read_manifest(spark, out).count() == n_buckets  # no duplicate manifest rows
    # written data matches input
    data = spark.read.parquet(f"{out}/tiles")
    assert data.count() == n
    # progress telemetry view: a rate from the call's start to its write
    prog = M.job_progress(spark, out, "j1").collect()
    assert prog[0]["rows"] == n
    assert prog[0]["rows_per_sec"] is not None and prog[0]["rows_per_sec"] > 0


def test_manifest_partial_resume(spark, tmp_path):
    out = str(tmp_path / "job2")
    df = _pts(spark, 1000)
    cells = [r["cell"] for r in df.select("cell").distinct().collect()]
    half = cells[: len(cells) // 2]
    M.write_stage_with_manifest(
        spark, df.where(F.col("cell").isin(half)), out, job_id="j2", stage="s", bucket_col="cell"
    )
    rem = M.remaining_buckets(spark, df, out, "j2", "s", "cell").select("cell").distinct()
    rem_set = {r["cell"] for r in rem.collect()}
    assert rem_set == set(cells) - set(half)
    # finish the rest; total rows across both writes == input
    M.write_stage_with_manifest(spark, df, out, job_id="j2", stage="s", bucket_col="cell")
    assert spark.read.parquet(f"{out}/s").count() == 1000


def test_read_manifest_missing_is_empty_corrupt_raises(spark, tmp_path):
    """Only a manifest that does not exist reads as empty: a corrupt one
    must fail the read, not make a resume re-run every bucket."""
    import pytest
    from pyspark.sql.types import _parse_datatype_string

    missing = M.read_manifest(spark, str(tmp_path / "never_written"))
    assert missing.count() == 0
    assert missing.schema == _parse_datatype_string(M.MANIFEST_SCHEMA)
    # a crashed append can leave only _temporary/ behind: still empty
    (tmp_path / "crashed" / "_manifest" / "_temporary").mkdir(parents=True)
    assert M.read_manifest(spark, str(tmp_path / "crashed")).count() == 0
    bad = tmp_path / "corrupt" / "_manifest"
    bad.mkdir(parents=True)
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        M.read_manifest(spark, str(tmp_path / "corrupt")).count()
    # a manifest written before started_at existed (its fifth column was
    # input_fingerprint) still reads, with started_at NULL
    old = str(tmp_path / "old")
    spark.createDataFrame(
        [("j", "s", 1, 5, "", 1.0)],
        "job_id string, stage string, bucket long, row_count long, "
        "input_fingerprint string, wrote_at double",
    ).write.parquet(f"{old}/_manifest")
    row = M.read_manifest(spark, old).collect()[0]
    assert (row["row_count"], row["started_at"], row["wrote_at"]) == (5, None, 1.0)


def test_split_hot_cells(spark):
    df = _pts(spark, 4000)
    out = SK.split_hot_cells(df, cell_col="cell", res=4, hot_threshold=100)
    assert out.count() == 4000
    # hot rows got finer cells (res 5), cold rows kept res 4
    res_of = out.select(
        F.col("cell"), F.col("cell_split"), (F.shiftright("cell_split", 56)).alias("r")
    )
    rs = {r["r"] for r in res_of.select("r").distinct().collect()}
    assert rs == {4, 5}
    # max per-key volume shrank
    before = df.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    after = out.groupBy("cell_split").count().agg(F.max("count")).collect()[0][0]
    assert after < before


def test_cell_partitioned_write_prunes_scan(spark, tmp_path):
    """Writing partitioned by a (coarse) cell column yields partition-pruned
    scans for cell-equality predicates — the parquet stand-in for Iceberg
    hidden partitioning (sources/tables.py)."""
    from pgsql2osm_spark.sources import tables as TB

    df = _pts(spark, 3000).withColumn("cell4", F.shiftrightunsigned(F.col("cell"), 0))
    path = str(tmp_path / "bycell")
    TB.write_partitioned(df.drop("cell"), path, "cell4")
    back = spark.read.parquet(path)
    one_cell = [r["cell4"] for r in back.select("cell4").distinct().limit(1).collect()][0]
    q = back.where(F.col("cell4") == one_cell)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell4" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns exactly the partition's rows
    exp = df.where(F.col("cell4") == one_cell).count()
    assert q.count() == exp
