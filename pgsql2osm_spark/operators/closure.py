"""Membership-closure operators — the reference's graph phase, Spark-first.

The reference walks the OSM node/way/relation membership graph with
client-driven indexed SQL (GIN array-overlap joins, IN-list batches,
adaptive chunks — /root/reference/pgsql2osm/pgsql2osm.py:214-385,
dbutils.py:66-102). Every one of those becomes a real distributed join here
(SURVEY.md J2-J9); the entire chunking/IN-list/GIN stratum disappears.

Data model: one tall membership table
    (parent_id:long, parent_kind:string('R'|'W'),
     members:array<struct<ref:long, role:string, type:string('N'|'W'|'R')>>)
— the canonical form of planet_osm_ways.nodes + planet_osm_rels.members
(README.md:207-226), and one id-set DataFrame per entity class
(kind:string, id:long), the Spark heir of the reference's DictAccumulator
(pgsql2osm.py:138-163).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# Rel-in-rel expansion passes: the reference's explicit 2-pass loop
# (pgsql2osm.py:316) — NOT a full transitive closure (SURVEY.md X7).
REL_PASSES = 2


def parents_of(
    memberships: DataFrame,
    seed_ids: DataFrame,
    member_type: str,
    parent_kind: str | None = None,
    distinct_output: bool = True,
) -> DataFrame:
    """Reverse membership join: ids of parents containing any seed id as a
    member of ``member_type`` — the explode + semi-join form of the
    reference's GIN `&&` inverted-index lookup (pgsql2osm.py:236-259,
    SURVEY.md J2/J3/J4).

    seed_ids: DataFrame with column ``id``. Returns distinct parent ids as
    column ``id``. Seed sets are not broadcast here: the reference's reach
    tens of millions of ids (47.1M nodes for Switzerland, reference
    README.md:99). Catalyst broadcasts a side below
    autoBroadcastJoinThreshold from stats and AQE turns a shuffle join into
    a broadcast one at runtime when a side turns out small; a caller that
    knows its seeds are small passes ``F.broadcast(seed_ids)``.
    ``distinct_output=False`` skips the dedup shuffle — for callers that
    union this output into a set they distinct anyway (nwr_within_closure):
    every distinct is a shuffle, and chaining them doubles shuffle count for
    no semantic gain.
    """
    m = memberships
    if parent_kind is not None:
        m = m.where(F.col("parent_kind") == parent_kind)
    edges = m.select(
        F.col("parent_id"), F.explode("members").alias("mem")
    ).where(F.col("mem.type") == member_type)
    out = edges.join(
        seed_ids.select(F.col("id")),
        edges["mem.ref"] == F.col("id"),
        "left_semi",
    ).select(F.col("parent_id").alias("id"))
    return out.distinct() if distinct_output else out


def children_of(
    memberships: DataFrame,
    parent_ids: DataFrame,
    parent_kind: str | None = None,
    distinct_output: bool = True,
) -> DataFrame:
    """Forward expansion: (type, id) of all members of the given parents
    (pgsql2osm.py:292-385, SURVEY.md J5/J6). Returns (kind, id) distinct
    (skippable like parents_of)."""
    m = memberships
    if parent_kind is not None:
        m = m.where(F.col("parent_kind") == parent_kind)
    out = (
        m.join(parent_ids.select(F.col("id")), m["parent_id"] == F.col("id"), "left_semi")
        .select(F.explode("members").alias("mem"))
        .select(F.col("mem.type").alias("kind"), F.col("mem.ref").alias("id"))
    )
    return out.distinct() if distinct_output else out


def rels_children_closure(
    memberships: DataFrame,
    seed_rel_ids: DataFrame,
    only_multipolygon: bool = False,
    without_rels: bool = False,
) -> DataFrame:
    """Relation member expansion with bounded rel-in-rel nesting.

    Exactly ``REL_PASSES`` iterations to match the reference's
    explicit 2-pass loop — NOT a full transitive closure; parity requires
    stopping where the reference stops (pgsql2osm.py:316, 364-365;
    SURVEY.md X7). Flags mirror only_multipolygon_rels / without_rels
    (pgsql2osm.py:309-313). When ``without_rels`` the reference returns
    after the FIRST pass (pgsql2osm.py:362-365) — nested relations' members
    are never expanded — so only one pass runs here too.

    Returns (kind, id) for all collected members; kind 'R' rows are the
    nested relations themselves (excluded when without_rels).
    """
    rels = memberships.where(F.col("parent_kind") == "R")
    if only_multipolygon:
        if "tags" not in memberships.columns:
            raise ValueError(
                "only_multipolygon requires a tags map column on the membership table"
            )
        rels = rels.where(F.col("tags")["type"] == "multipolygon")
    frontier = seed_rel_ids.select("id")
    collected = None
    for _ in range(1 if without_rels else REL_PASSES):
        members = (
            rels.join(frontier, rels["parent_id"] == frontier["id"], "left_semi")
            .select(F.explode("members").alias("mem"))
            .select(F.col("mem.type").alias("kind"), F.col("mem.ref").alias("id"))
        )
        collected = members if collected is None else collected.unionByName(members)
        # duplicate frontier ids are harmless to a semi join's semantics, so
        # no per-pass distinct — ONE dedup shuffle at the end instead of 2-3
        # per pass (fixture closure was stage-count-bound, not data-bound)
        frontier = members.where(F.col("kind") == "R").select("id")
    out = collected.distinct()
    if without_rels:
        out = out.where(F.col("kind") != "R")
    return out


def ways_children_nodes(
    memberships: DataFrame,
    way_ids: DataFrame,
    distinct_output: bool = True,
) -> DataFrame:
    """way -> child node ids (pgsql2osm.py:369-385, SURVEY.md J6)."""
    out = (
        children_of(memberships, way_ids, parent_kind="W", distinct_output=False)
        .where(F.col("kind") == "N")
        .select("id")
    )
    return out.distinct() if distinct_output else out


def subtract_ids(k_from: DataFrame, k_remove: DataFrame, on: str = "id") -> DataFrame:
    """Id-set difference — the reference's all_subtract (pgsql2osm.py:158-163,
    SURVEY.md U2/J9) as a left-anti join."""
    return k_from.join(k_remove.select(on), on, "left_anti")


def priority_cascade(
    sources: list[tuple[DataFrame, int]], id_col: str | list[str] = "id"
) -> DataFrame:
    """First-wins fetch cascade across prioritized sources.

    The reference fetches each entity from the highest-priority table that
    has it (polygon > line > middle), guarding with a done_ids set
    (pgsql2osm.py:521-522, 677-678, ...; SURVEY.md J9). Declarative form:
    union all sources with a priority rank, keep row_number()==1 per id —
    one shuffle, no driver-side set.
    """
    tagged = None
    for df, prio in sources:
        t = df.withColumn("_prio", F.lit(prio))
        tagged = t if tagged is None else tagged.unionByName(t, allowMissingColumns=True)
    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    w = Window.partitionBy(*keys).orderBy(F.col("_prio").asc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )


def nwr_within_closure(
    memberships: DataFrame,
    seed_nodes: DataFrame,
    seed_ways: DataFrame,
    seed_rels: DataFrame,
    only_multipolygon: bool = False,
    without_rels: bool = False,
) -> dict[str, DataFrame]:
    """The reference's full 4-phase id-closure (stream_osm_xml phases
    'within'->'children'->'parents', pgsql2osm.py:399-432) over the
    membership table. Inputs are the three seed id-sets from the spatial
    scan (S1-S3); output is the final id-set per entity class.

    Mirrors the reference's operator order exactly:
      children: rels -> (N, W, nested R) [2-pass, or 1 when without_rels],
                then ways-so-far (seeds + rel members) -> N
      parents:  nodes_within -> parent ways + parent rels, AFTER the way-node
                expansion — so parent ways join the output but their child
                nodes are NOT collected (ways_children_n runs before
                nodes_parent_wr in stream_osm_xml, pgsql2osm.py:418-426).
    (ways_parent_r is defined-but-disabled in the reference, pgsql2osm.py:427
    — matched by not calling parents_of(..., 'W', 'R') here.)

    Shuffle economy: (a) union everything per entity class FIRST, distinct
    ONCE (inner operators skip their dedup via distinct_output=False);
    (b) the multiply-referenced intermediate id-sets (nodes_within x3,
    rel_members x3, ways_pre_parents x2) are localCheckpoint()ed — without
    that, every reference re-executes its semi-join subtree against the full
    membership table (a DataFrame plan, unlike an RDD, is NOT deduplicated
    across references). Id-sets are orders of magnitude smaller than the
    membership table, and checkpoint blocks are GC-cleaned. The checkpoints
    are eager: with lazy ones, tasks that ran while the driver's GC cleaned
    up reported to accumulators that no longer existed, and the DAGScheduler
    logged one "non-existent accumulator" ERROR trace per task (75-125 over
    two export runs; tests/test_closure.py).
    """
    nodes_within = seed_nodes.select("id").distinct().localCheckpoint()

    rel_members = rels_children_closure(
        memberships, seed_rels, only_multipolygon=only_multipolygon,
        without_rels=without_rels,
    ).localCheckpoint()
    parent_ways = parents_of(memberships, nodes_within, "N", parent_kind="W",
                             distinct_output=False)
    parent_rels = parents_of(memberships, nodes_within, "N", parent_kind="R",
                             distinct_output=False)

    ways_pre_parents = (
        seed_ways.select("id")
        .unionByName(rel_members.where(F.col("kind") == "W").select("id"))
        .distinct()
        .localCheckpoint()
    )
    ways = ways_pre_parents.unionByName(parent_ways).distinct()
    rels = seed_rels.select("id")
    if not without_rels:
        rels = (
            rels.unionByName(rel_members.where(F.col("kind") == "R").select("id"))
            .unionByName(parent_rels)
            .distinct()
        )
    nodes = (
        nodes_within.unionByName(rel_members.where(F.col("kind") == "N").select("id"))
        # child nodes of the pre-parents way set only: the reference expands
        # way nodes BEFORE the parents phase, so parent ways contribute no
        # nodes (their geometry is completed by nodes already in the extract)
        .unionByName(
            ways_children_nodes(memberships, ways_pre_parents, distinct_output=False)
        )
        .distinct()
    )

    return {"N": nodes, "W": ways, "R": rels}
