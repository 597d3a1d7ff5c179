"""Distributed connected components — near-duplicate CLUSTERS, not pairs.

A dedup pipeline needs groups: pair output (MinHash/SimHash/phash/embedding
candidates) must collapse into components so one representative per cluster
survives (the set-level generalization of the reference's first-wins
done_ids guard, /root/reference/pgsql2osm/pgsql2osm.py:521-522). This is
iterative and not SQL-expressible in one query — the classic case for a
driver-paced loop of Spark joins.

Algorithm: min-label propagation over the closed neighbourhoods of the
symmetrized edge list: both directions plus a self-loop per vertex, NULL
ids being no vertex. The first labels are each vertex's neighbourhood
minimum. Each round takes the neighbourhood minimum of the labels (one join
and one ``min``), then pointer-jumps (label <- label(label)), so rounds
needed are O(log diameter), not O(diameter); near-dup graphs are shallow
anyway (clusters are quasi-cliques) and converge in a handful of rounds.

Every materialization is one eager ``localCheckpoint()`` that also reports
the exact sum of the labels through an ``Observation``: the neighbourhood
list with the first labels (one shuffle), then one per round. The
checkpoint truncates the growing lineage (the plan tree would double per
round without it). Labels never increase, so a round whose sum equals the
last one changed no label: the loop stops there, or raises after
``MAX_ITER`` rounds. A lazy checkpoint would not do: its Observation reads
nothing until an action runs, and under AQE it runs the shuffle stages
below it at the call anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# Label-propagation rounds before connected_components gives up: with
# pointer jumping, enough for a diameter up to 2^25.
MAX_ITER = 25


def _checkpoint_sum(df: DataFrame, label: Column) -> tuple[DataFrame, object]:
    """``df`` materialized by one eager local checkpoint, and the exact sum
    of ``label`` over it from the same execution (decimal(38,0) stays exact
    at any vertex count; None when there are no rows)."""
    obs = Observation()
    done = df.observe(obs, F.sum(label.cast("decimal(38,0)")).alias("s")).localCheckpoint()
    return done, obs.get["s"]


def connected_components(edges: DataFrame) -> DataFrame:
    """(v, component) for every vertex of the ``(id_a, id_b)`` pair list
    ``edges``; component = min vertex id reachable from v. Deterministic,
    order-independent (SURVEY.md O1). Min-label propagation with per-round
    pointer jumping: O(log diameter) rounds."""
    a, b, u, v = F.col("id_a"), F.col("id_b"), F.col("u"), F.col("v")
    # closed neighbourhoods in one scan of edges: (u, v) for v adjacent to
    # or equal to u. The first labels are a window min over u, and the
    # distinct reuses the window's shuffle on u: one shuffle gives both.
    pairs = [F.struct(x.alias("u"), y.alias("v")) for x, y in ((a, b), (b, a), (a, a), (b, b))]
    closed = edges.select(F.inline(F.array(*pairs)))
    sym, prev = _checkpoint_sum(
        closed.withColumn("label", F.min(v).over(Window.partitionBy(u))).distinct(),
        F.when(u == v, F.col("label")),
    )
    labels = sym.where(u == v).select(u.alias("v"), "label")  # one self-loop per vertex
    sym = sym.select("u", "v")
    for _ in range(MAX_ITER):
        # every vertex is its own neighbour, so every vertex gets a row. The
        # filter on v, below the min, leaves both sides of the jump's
        # self-join one plan, so their shuffles run once.
        nbr = (
            sym.join(labels.withColumnRenamed("v", "u"), "u")
            .where(v.isNotNull())
            .groupBy("v")
            .agg(F.min("label").alias("label"))
        )
        # Pointer jump (path doubling): every label IS a vertex id in the
        # same component, so label(label(v)) is also a reachable-min bound,
        # and no greater than label(v) (a vertex's label never exceeds its
        # id). Shortcutting through it after each propagation round makes
        # chain components converge in O(log diameter) rounds instead of
        # O(diameter) — same monotone lattice, same fixpoint.
        jumped = (
            nbr.join(
                nbr.select(F.col("v").alias("_lv"), F.col("label").alias("_ll")),
                F.col("label") == F.col("_lv"),
            )
            .select("v", F.col("_ll").alias("label"))
        )
        labels, s = _checkpoint_sum(jumped, F.col("label"))
        if s == prev:
            return labels.select(F.col("v"), F.col("label").alias("component"))
        prev = s
    # silently returning partially-propagated labels would split true
    # components (and dedup_clusters would keep duplicate representatives)
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITER} iterations "
        "(labels still changing — with pointer jumping that implies "
        "diameter > 2^MAX_ITER; raise MAX_ITER)"
    )


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse near-dup pairs into clusters and pick the min-id
    representative per cluster: every row of ``df`` gains (component,
    is_representative). Rows in no pair form singleton components."""
    comp = connected_components(pairs)
    out = df.join(comp, df[id_col] == comp["v"], "left").drop("v")
    out = out.withColumn("component", F.coalesce("component", F.col(id_col)))
    rep = out.groupBy("component").agg(F.min(id_col).alias("_rep"))
    return (
        out.join(rep, "component")
        .withColumn("is_representative", F.col(id_col) == F.col("_rep"))
        .drop("_rep")
    )
