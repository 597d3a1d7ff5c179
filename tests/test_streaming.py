"""Streaming tile refresh: bounded replay equals the batch aggregation."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.sources import fixtures as FX
from pgsql2osm_spark.streaming import incremental as ST


def test_streaming_tiles_match_batch(spark, tmp_path):
    n = 5000
    lon, lat = FX.gen_points_slice(0, n)
    ts = pd.to_datetime("2026-01-01") + pd.to_timedelta(np.arange(n) % 600, unit="s")
    pdf = pd.DataFrame({"ts": ts, "lon": lon, "lat": lat})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)

    # a caller whose shuffle width differs from STATE_PARTITIONS: the replay
    # must size its state by STATE_PARTITIONS and leave the caller's conf be
    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "5")
    ckpt = tmp_path / "ckpt"
    got = ST.run_bounded_replay(caller, src, str(ckpt), "stream_tiles", z=10).toPandas()
    assert caller.conf.get("spark.sql.shuffle.partitions") == "5"
    state = [p for p in (ckpt / "state" / "0").iterdir() if p.name.isdigit()]
    assert len(state) == ST.STATE_PARTITIONS

    batch = spark.read.parquet(src)
    x, y = G.tile_expr(F.col("lon"), F.col("lat"), 10)
    keyed = batch.withColumn("x", x).withColumn("y", y).withColumn("z", F.lit(10).cast("int"))
    keyed, _ = C.with_cell_columns(keyed, "lon", "lat", [7], ["h3"])
    exp = (
        keyed.groupBy(F.window("ts", "5 minutes"), "z", "x", "y", "h3")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    def key(df):
        return {
            (str(r.window["start"]), r.z, r.x, r.y, r.h3): r.n for r in df.itertuples()
        }
    assert key(got) == key(exp)
    assert len(got) > 100


def test_watermark_late_data_contract(spark, tmp_path):
    """The engine's (= Spark's) append-mode late-data contract, pinned by
    a 4-micro-batch replay (maxFilesPerTrigger=1, files ordered by mtime):
    late rows arriving while their window is STILL IN STATE merge into it
    (no data loss before eviction), rows arriving AFTER the window was
    evicted+emitted are dropped (numRowsDroppedByWatermark), and every
    (window, tile) key is emitted EXACTLY once — the exactly-once upsert
    guarantee downstream tile stores rely on."""
    import collections
    import time as _time

    src = str(tmp_path / "lsrc")
    base = pd.Timestamp("2026-01-01 01:00:00")

    def write(pdf, mode):
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(src)
        _time.sleep(1.1)  # FileStreamSource orders batches by modification time

    lon, lat = FX.gen_points_slice(0, 20)
    # batch 0: 20 events in window [base, base+5min)
    write(pd.DataFrame({"ts": [base + pd.Timedelta(seconds=10 * i) for i in range(20)],
                        "lon": lon, "lat": lat}), "overwrite")
    # batches 1-2: advance the watermark past the window end (watermark
    # application lags one batch, so two advancing batches force eviction)
    lon2, lat2 = FX.gen_points_slice(20, 25)
    write(pd.DataFrame({"ts": [base + pd.Timedelta(minutes=30)] * 5,
                        "lon": lon2, "lat": lat2}), "append")
    lon3, lat3 = FX.gen_points_slice(25, 30)
    write(pd.DataFrame({"ts": [base + pd.Timedelta(minutes=31)] * 5,
                        "lon": lon3, "lat": lat3}), "append")
    # batch 3: 5 rows for the ALREADY-EMITTED window -> must be dropped
    lon4, lat4 = FX.gen_points_slice(30, 35)
    write(pd.DataFrame({"ts": [base + pd.Timedelta(minutes=2)] * 5,
                        "lon": lon4, "lat": lat4}), "append")

    stream = spark.readStream.schema("ts timestamp, lon double, lat double") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        ST.tile_count_stream(stream, z=10)
        .writeStream.outputMode("append")
        .format("memory").queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "lckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("late_test").toPandas()
    keys = [(str(w["start"]), x, y, h)
            for w, x, y, h in zip(got["window"], got["x"], got["y"], got["h3"])]
    assert not [k for k, c in collections.Counter(keys).items() if c > 1]
    # window-1 emitted with exactly its 20 on-time rows; the 5 post-eviction
    # rows never re-open it
    w1 = got[[str(w["start"]) == str(base) for w in got["window"]]]
    assert int(w1["n"].sum()) == 20
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress for op in p.get("stateOperators", [])
    )
    assert dropped == 5, f"expected the 5 post-eviction rows dropped, got {dropped}"
