"""Distributed connected components — near-duplicate CLUSTERS, not pairs.

A dedup pipeline needs groups: pair output (MinHash/SimHash/phash/embedding
candidates) must collapse into components so one representative per cluster
survives (the set-level generalization of the reference's first-wins
done_ids guard, /root/reference/pgsql2osm/pgsql2osm.py:521-522). This is
iterative and not SQL-expressible in one query — the classic case for a
driver-paced loop of Spark joins.

Algorithm: min-label propagation over the symmetrized edge list. Each round
every vertex takes the minimum label in its closed neighborhood; labels are
lazily localCheckpoint()ed per round (truncates the growing lineage — any
iterative algorithm needs this or the plan tree doubles per round) and the
loop stops at the fixpoint (no label changed) or ``MAX_ITER``. Each round
also pointer-jumps (label <- label(label)), so rounds needed are
O(log diameter), not O(diameter); near-dup graphs are shallow anyway
(clusters are quasi-cliques) and converge in a handful of rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Label-propagation rounds before connected_components gives up: with
# pointer jumping, enough for a diameter up to 2^25.
MAX_ITER = 25


def connected_components(edges: DataFrame) -> DataFrame:
    """(v, component) for every vertex of the ``(id_a, id_b)`` pair list
    ``edges``; component = min vertex id reachable from v. Deterministic,
    order-independent (SURVEY.md O1). Min-label propagation with per-round
    pointer jumping: O(log diameter) rounds."""
    sym = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("u").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=False)
    )
    # Convergence detect: labels are MONOTONE (every step takes a min with
    # the current label, so no label ever increases), hence the exact
    # decimal sum of labels strictly decreases until the fixpoint and
    # "sum unchanged" <=> "no label changed". One small agg job per round
    # replaces the r5 join+count job (same stop condition, half the
    # actions). decimal(38,0) keeps the sum exact at any vertex count.
    def _sig(lbl: DataFrame):
        row = lbl.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    prev_sig = _sig(labels)  # also materializes the lazy checkpoints
    changed = True
    for _ in range(MAX_ITER):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy("v")
            .agg(F.min("label").alias("nlabel"))
        )
        cand = labels.join(neighbor_min, "v", "left").select(
            "v",
            F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
        )
        # Pointer jump (path doubling): every label IS a vertex id in the
        # same component, so label(label(v)) is also a reachable-min bound.
        # Shortcutting through it after each propagation round makes chain
        # components converge in O(log diameter) rounds instead of
        # O(diameter) — same monotone lattice, same fixpoint (at the
        # fixpoint label(label)=label), so the output is identical.
        new_labels = (
            cand.alias("a")
            .join(
                cand.select(
                    F.col("v").alias("_lv"), F.col("label").alias("_ll")
                ).alias("b"),
                F.col("a.label") == F.col("_lv"),
                "left",
            )
            .select(
                "v",
                F.least(F.col("label"), F.coalesce("_ll", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        sig = _sig(new_labels)
        labels = new_labels
        if sig == prev_sig:
            changed = False
            break
        prev_sig = sig
    if changed:
        # silently returning partially-propagated labels would split true
        # components (and dedup_clusters would keep duplicate representatives)
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITER} iterations "
            "(labels still changing — with pointer jumping that implies "
            "diameter > 2^MAX_ITER; raise MAX_ITER)"
        )
    return labels.select(F.col("v"), F.col("label").alias("component"))


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
