"""Attribute fetch + tag merge — the reference's 'write' phase, Spark-first.

After the id-closure, the reference fetches wide attribute rows for every
collected id from a 3-table priority cascade (polygon > line > middle) and
merges column-derived tags with middle-table tags before serialization
(/root/reference/pgsql2osm/pgsql2osm.py:481-786 — create_nodes/create_ways/
create_relations; SURVEY.md J7/J8/J9/F2, X8 "ids first, attributes later").

Spark shape: ONE equi-join per attribute source against the closure id-set
(left-semi pushdown via join), a priority-rank window for first-wins dedup,
and map_concat tag merge with the reference's quirk set (tags.py). The
negated-id and double_query_mode index workarounds (X5/X6) have no analogue
here — `kind` is an explicit column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tags as TG
from .closure import priority_cascade


def fetch_attributes(
    id_sets: dict[str, DataFrame],
    sources: list[tuple[DataFrame, int]],
    strict_reference_parity: bool = False,
) -> DataFrame:
    """Join closure ids against prioritized attribute sources and emit one
    row per (kind, id) with the merged tag map.

    id_sets: {'N'|'W'|'R': DataFrame[id]} from nwr_within_closure.
    sources: [(df, priority)] where df has (kind, id, col_tags, tags) —
      the analogue of _polygon/_line/middle rows. Lower priority wins,
      matching the reference's done_ids first-wins cascade.

    Ids with no attribute row anywhere are DROPPED (inner-join semantics —
    the reference's silent flat-nodes skip, dbutils.py:34-36 / SURVEY.md J10
    'missing-id drop = inner join, semantically load-bearing').
    """
    wanted = None
    for kind, ids in id_sets.items():
        part = ids.select(F.lit(kind).alias("kind"), F.col("id"))
        wanted = part if wanted is None else wanted.unionByName(part)

    best = priority_cascade(
        [(df.select("kind", "id", "col_tags", "tags"), prio) for df, prio in sources],
        id_col=["kind", "id"],
    )
    joined = best.join(wanted, ["kind", "id"], "inner")
    return joined.select(
        "kind",
        "id",
        TG.entity_tags(
            F.col("kind"), F.col("col_tags"), F.col("tags"), strict_reference_parity
        ).alias("tags"),
    )


def export_rows(
    id_sets: dict[str, DataFrame],
    sources: list[tuple[DataFrame, int]],
    coordinates: DataFrame | None = None,
    strict_reference_parity: bool = False,
) -> DataFrame:
    """Full export row-set: merged tags + (for nodes) coordinates from the
    fact table — the engine's answer to stream_osm_xml's generator chain
    (pgsql2osm.py:437-450). Row order is unconstrained (README.md:127-135);
    the columns are ``(kind, id, tags, lon, lat)`` in that order, or
    ``(kind, id, tags)`` without ``coordinates`` (the final selects pin it).

    coordinates: DataFrame[id, lon, lat] — the flat-nodes analogue; nodes
    missing from it are dropped (inner join, J10)."""
    rows = fetch_attributes(id_sets, sources, strict_reference_parity)
    if coordinates is None:
        return rows
    # lat/lon rounded to 10 decimals on output — reference parity trap
    # (pgsql2osm.py:780-782, SURVEY.md §5.5 / F4)
    coords = coordinates.select(
        "id",
        F.round("lon", 10).alias("lon"),
        F.round("lat", 10).alias("lat"),
        F.lit(True).alias("_has_coord"),
    )
    # ONE pass over the cascade output: the former kind=='N' / kind!='N'
    # branch pair duplicated the priority-cascade subtree per union branch
    # (ReusedExchange dedups the shuffles at runtime, but the narrow
    # operators above them still run twice and the plan carries both
    # copies — 36 -> 26 Exchange nodes on the export_pipeline fixture). A
    # single left join keyed on id, gated on kind=='N' inside the join
    # condition, plus the _has_coord indicator reproduces the exact
    # semantics: N rows missing from ``coordinates`` are dropped (J10
    # silent-drop — the indicator distinguishes "no match" from any null
    # coordinate value), W/R rows pass through with NULL coordinates and
    # never pay the join probe.
    joined = rows.join(
        coords,
        (rows["id"] == coords["id"]) & (rows["kind"] == F.lit("N")),
        "left",
    )
    return joined.where(
        (F.col("kind") != "N") | F.col("_has_coord").isNotNull()
    ).select(rows["kind"], rows["id"], rows["tags"], "lon", "lat")
