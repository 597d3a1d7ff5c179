"""Skew handling: adaptive cell splitting (SURVEY.md X1).

Dense metro cells concentrate a huge share of rows on a few cell keys. The
mitigation here is a plain DataFrame rewrite (no Catalyst rule), layered on
top of AQE's runtime skew-join splitting. The engine has no salting: the PIP
refine is a per-row join predicate (spatial_join.refine_sql), so no grouped
stage is left to skew, and a shuffled cell join's hot keys are AQE's and
split_hot_cells' to spread.

WHEN TO USE (measured, BENCH/PLANS.md): only for holistic aggregations
(exact median/percentile, collect_list) and skewed shuffle joins — measured
1.46x on a holistic agg. Algebraic aggregations (count/sum/avg/stddev) are
already neutralized by map-side partial aggregation; splitting them is pure
overhead (measured 2x SLOWER). Let AQE handle join skew first.

* ``split_hot_cells`` — re-encode rows in cells whose measured count exceeds
  a threshold at res+1 (finer cells), the data-dependent analogue of the
  reference's adaptive chunk shrink on timeout
  (/root/reference/pgsql2osm/pgsql2osm.py:106-119).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def measure_cell_counts(df: DataFrame, cell_col: str) -> DataFrame:
    """Cheap groupBy(cell).count() — the probe that drives adaptive decisions
    (the Spark analogue of the reference's statement_timeout='1s' probe)."""
    return df.groupBy(cell_col).count()


def split_hot_cells(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    cell_col: str = "cell",
    res: int = 7,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Adaptive cell splitting: rows in cells with count > hot_threshold get
    a finer (res+1) cell id in ``cell_split``; cold rows keep the res id.
    Downstream partitioning on ``cell_split`` then bounds per-key volume.

    One extra shuffle-free pass (the hot set is a broadcast semi-join); the
    count probe itself is one cheap aggregation over the cell column.
    """
    counts = measure_cell_counts(df, cell_col)
    hot = counts.where(F.col("count") > hot_threshold).select(cell_col)
    hot_marked = df.join(F.broadcast(hot), cell_col, "left_semi")
    hot_marked, _ = C.with_cell_columns(hot_marked, lon, lat, [res + 1], ["cell_split"])
    cold = df.join(F.broadcast(hot), cell_col, "left_anti").withColumn(
        "cell_split", F.col(cell_col)
    )
    return hot_marked.unionByName(cold)
