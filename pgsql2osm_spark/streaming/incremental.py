"""Incremental tile refresh via Structured Streaming — beyond-reference.

The reference is a pure batch exporter (its "streaming" is constant-memory
iteration, /root/reference/README.md:58-64 — SURVEY.md §2.9). This module
adds the event-time path a continuously-ingesting image pipeline needs:
a stream of geotagged records -> cell/tile keys (same JVM bit math as the
batch path) -> watermarked sliding/tumbling aggregation -> upserted tile
counts. Late data beyond the watermark is dropped deterministically.

All transformations are the SAME expressions the batch operators use
(cells.with_cell_columns / geometry.tile_expr), so batch and streaming tiles
agree by construction — tested in tests/test_streaming.py by replaying a
bounded stream with trigger availableNow and diffing against the batch agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geometry as G

# tile_count_stream's cell resolution, event-time column, lateness bound
# and tumbling window.
CELL_RES = 7
EVENT_TIME = "ts"
WATERMARK = "10 minutes"
WINDOW = "5 minutes"


def tile_count_stream(stream: DataFrame, z: int = 12) -> DataFrame:
    """Streaming per-(window, tile) counts with late-data handling.

    stream: a streaming DataFrame with (ts:timestamp, lon:double,
    lat:double). Returns a streaming aggregation keyed by
    (window, z, x, y, h3_cell) in update mode semantics; events later than
    ``WATERMARK`` behind the latest event time are dropped.
    """
    x, y = G.tile_expr(F.col("lon"), F.col("lat"), z)
    keyed = (
        stream.withWatermark(EVENT_TIME, WATERMARK)
        .withColumn("x", x)
        .withColumn("y", y)
        .withColumn("z", F.lit(z).cast("int"))
    )
    keyed, _ = C.with_cell_columns(keyed, "lon", "lat", [CELL_RES], ["h3"])
    return keyed.groupBy(
        F.window(F.col(EVENT_TIME), WINDOW), "z", "x", "y", "h3"
    ).agg(F.count(F.lit(1)).alias("n"))


# Shuffle partitions of run_bounded_replay's stateful aggregation.
STATE_PARTITIONS = 8


def run_bounded_replay(
    spark,
    input_dir: str,
    checkpoint_dir: str,
    out_table: str,
    z: int = 12,
):
    """Replay a bounded parquet directory as a stream (availableNow) into an
    in-memory sink — the deterministic test/demo harness for the streaming
    path; checkpointing makes a second run resume with no duplicate output
    (the streaming face of the engine's resume story).

    ``STATE_PARTITIONS`` sizes the stateful aggregation's shuffle — and
    therefore the STATE STORE instance count, pinned into the checkpoint
    for the query's lifetime. Each state partition costs a store instance
    plus delta/snapshot files per micro-batch, so it should track the
    stateful key cardinality, not the session's scan parallelism: the
    session default (2 x cores) spends most of its wall on empty-state
    bookkeeping for small key sets (measured: 64 -> 8 partitions cuts the
    bounded replay's state-task count 8x at identical output). A
    planet-scale tile stream wants it near the cluster's core count.

    The stream runs on ``spark.newSession()`` with ``STATE_PARTITIONS`` set
    there, so the caller's session conf is never touched; the returned
    memory table belongs to that session."""
    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    stream = session.readStream.schema(
        "ts timestamp, lon double, lat double"
    ).parquet(input_dir)
    q = (
        tile_count_stream(stream, z=z)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return session.table(out_table)
