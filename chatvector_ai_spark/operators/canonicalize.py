"""Stage 4 — canonicalization: connected components over surface↔entity edges.

The only shuffle-iterative stage. Surfaces and entities form a bipartite
graph (edges from the alias dictionary plus observed mention links);
components are the canonicalization clusters and the minimum entity id in a
component is its canonical representative (entity ids "E…" sort before
surrogate "S:…" nodes, so a component with any real entity is represented by
one).

Algorithm: iterative min-label propagation —
    label(v) ← min(label(v), min over neighbors u of label(u))
until a fixpoint (no label changed). Each round is one shuffle-hash join plus
one partially-aggregating groupBy; a single ``localCheckpoint`` per round
truncates the growing plan lineage (the iterative-join discipline AQE cannot
provide).

Small-core shortcut: after the cheap symmetrize+distinct, an edge set at
broadcast scale (≤ CC_SMALL_CORE_EDGES, default 200k) is resolved with one
collect + driver union-find instead (``graph._driver_union_find``, shared
with ``graph.connected_components``) — on a graph that small the shuffle
loop is pure scheduler latency (measured ~10 s flat regardless of cores),
while union-find is O(E α(E)) in milliseconds. The distributed loop below
remains the path for cores that exceed the threshold, which is what a
10^12-document alias graph would do.

Skew posture (SURVEY.md §4.3): hub entities ("S:acme" in 30% of docs) are
collapsed to DISTINCT (src, dst) pairs before iterating, so a node's join
fan-out is bounded by its count of *distinct* neighbor surface forms — the
mention-multiplicity skew never reaches the loop. The groupBy(min) side is
safe regardless: partial map-side aggregation collapses hot keys before the
shuffle. Residual join skew (a node with millions of distinct neighbors) is
handled two ways: AQE skew-join splitting (on by default, session.py), and
an explicit salted-replication path (``salt_buckets > 1``) for clusters
without AQE — the label table is replicated S ways and each edge picks a
salt bucket by hash of its *other* endpoint (dst), so the edges of one hot
src key — which have distinct dst values — fan across S reducers. (Salting
by a function of the join key itself would give every edge of a hot src the
same bucket, a no-op that still pays the S-times replication.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatvector_ai_spark.config import CC_MAX_ITERATIONS, CC_SMALL_CORE_EDGES
from chatvector_ai_spark.operators.graph import _driver_union_find


def linking_edges(linked_mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Distinct (src, dst) edges: surface-node ↔ entity-node."""
    from_mentions = linked_mentions.select(
        F.concat(F.lit("S:"), F.lower(F.col("surface"))).alias("src"),
        F.col("entity_id").alias("dst"),
    )
    from_dict = alias_dict.select(
        F.concat(F.lit("S:"), F.col("alias")).alias("src"),
        F.col("entity_id").alias("dst"),
    )
    return from_mentions.unionByName(from_dict).where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    max_iterations: int = CC_MAX_ITERATIONS,
    salt_buckets: int = 0,
    prune_pendants: bool = True,
    small_core_edges: int = CC_SMALL_CORE_EDGES,
) -> DataFrame:
    """(node, component) for every node in *edges*; component = min node id.

    ``prune_pendants``: degree-1 nodes (the overwhelming majority in an
    alias graph — most surfaces name exactly one entity) are peeled off
    before iterating and assigned their neighbor's component with a single
    join afterwards. The iterative loop then runs on the small multi-degree
    core, cutting both per-round shuffle volume and (usually) the round
    count — the standard pendant-contraction trick for CC at scale.

    ``salt_buckets > 1`` selects the explicit salted-replication join for
    environments without AQE; the default relies on AQE skew-join splitting
    (enabled in session.py) which handles skew without replicating the
    label table.
    """
    spark = edges.sparkSession
    # Self-edges carry no connectivity and (with prune_pendants) would make a
    # node its own pendant AND anchor, duplicating its output row; drop them
    # here and re-attach loop-only isolated nodes at the end.
    self_nodes = (
        edges.where(F.col("src") == F.col("dst")).select(F.col("src").alias("node")).distinct()
    )
    sym = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")).where(
                F.col("src") != F.col("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    # Small-core shortcut: after symmetrize+distinct the edge count is known
    # (sym is checkpointed — the count is a metadata-cheap scan). A core at
    # broadcast scale is resolved on the driver in one pass; the iterative
    # shuffle loop below is the path for cores that don't fit. salt_buckets
    # > 1 explicitly requests the salted distributed join, so it never
    # takes the shortcut.
    if salt_buckets <= 1 and small_core_edges > 0 and sym.count() <= small_core_edges:
        labels = _driver_union_find(sym)
        out = labels.select("node", F.col("label").alias("component"))
        loop_only = self_nodes.join(out, "node", "left_anti").withColumn(
            "component", F.col("node")
        )
        return out.unionByName(loop_only)

    pendants = None
    if prune_pendants:
        deg = sym.groupBy("src").agg(
            F.count("*").alias("_deg"), F.min("dst").alias("_nbr")
        )
        # A pendant's single neighbor must itself stay in the core graph;
        # mutual pendants (isolated 2-cycles after symmetrization) keep one
        # side in the core so every pendant has a surviving anchor.
        pend_candidates = deg.where(F.col("_deg") == 1).select(
            F.col("src").alias("node"), F.col("_nbr").alias("anchor")
        )
        mutual = (
            pend_candidates.alias("a")
            .join(
                pend_candidates.alias("b"),
                (F.col("a.anchor") == F.col("b.node")) & (F.col("a.node") == F.col("b.anchor")),
            )
            .where(F.col("a.node") > F.col("b.node"))
            .select(F.col("a.node").alias("node"))
        )
        pendants = pend_candidates.join(mutual, "node", "left_anti").localCheckpoint(eager=True)
        core = sym.join(
            pendants.select(F.col("node").alias("src")), "src", "left_anti"
        ).join(pendants.select(F.col("node").alias("dst")), "dst", "left_anti")
        sym = core.select("src", "dst").localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    if salt_buckets > 1:
        salted_edges = sym.withColumn(
            "salt", F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).cast("int")
        ).localCheckpoint(eager=True)
        salt_range = spark.range(salt_buckets).select(F.col("id").cast("int").alias("salt"))

    for _ in range(max_iterations):
        if salt_buckets > 1:
            # replicate labels across salt buckets; edges pick their bucket
            # by hash(dst) — NOT the join key src — so a hot src's edges
            # (distinct dsts) fan across S reducers
            labels_rep = labels.crossJoin(F.broadcast(salt_range)).select(
                F.col("node").alias("src"), F.col("label").alias("src_label"), "salt"
            )
            joined = salted_edges.join(labels_rep, ["src", "salt"])
        else:
            joined = sym.join(
                labels.select(F.col("node").alias("src"), F.col("label").alias("src_label")),
                "src",
            )
        nbr_min = joined.groupBy(F.col("dst").alias("node")).agg(
            F.min("src_label").alias("nbr_label")
        )
        updated = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "new_label"
                ),
                F.col("label").alias("old_label"),
            )
            .localCheckpoint(eager=True)  # one materialization per round
        )
        labels = updated.select("node", F.col("new_label").alias("label"))
        if updated.where(F.col("new_label") != F.col("old_label")).isEmpty():
            break

    if pendants is not None:
        # anchors that became edge-less when their pendant edges were
        # removed never entered the loop: they are their own component
        anchor_ids = pendants.select(F.col("anchor").alias("node")).distinct()
        missing = anchor_ids.join(labels, "node", "left_anti").withColumn(
            "label", F.col("node")
        )
        labels_all = labels.unionByName(missing)
        pend_labels = pendants.join(
            labels_all.withColumnRenamed("node", "anchor"), "anchor"
        ).select("node", "label")
        labels_full = labels_all.unionByName(pend_labels)
        # pendant ids can be the true component minimum, so restore the
        # exact min-id representative with one groupBy + join
        rep = labels_full.groupBy("label").agg(F.min("node").alias("rep"))
        labels = labels_full.join(rep, "label").select(
            "node", F.col("rep").alias("label")
        )

    out = labels.select("node", F.col("label").alias("component"))
    # nodes whose only edges were self-loops: their own singleton component
    loop_only = self_nodes.join(out, "node", "left_anti").withColumn(
        "component", F.col("node")
    )
    return out.unionByName(loop_only)


def canonical_map(linked_mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """entity_id → canonical_entity (component representative)."""
    edges = linking_edges(linked_mentions, alias_dict)
    comp = connected_components(edges)
    return (
        comp.where(~F.col("node").startswith("S:"))
        .select(F.col("node").alias("entity_id"), F.col("component").alias("canonical_entity"))
    )


def canonicalize_triples(
    triples_linked: DataFrame,
    linked_mentions: DataFrame,
    alias_dict: DataFrame,
) -> DataFrame:
    """Rewrite subj/obj entity ids to their component representatives."""
    cmap = canonical_map(linked_mentions, alias_dict)
    out = (
        triples_linked.join(
            F.broadcast(cmap.withColumnRenamed("entity_id", "subj_entity").withColumnRenamed("canonical_entity", "subj_canon")),
            "subj_entity",
            "left",
        )
        .join(
            F.broadcast(cmap.withColumnRenamed("entity_id", "obj_entity").withColumnRenamed("canonical_entity", "obj_canon")),
            "obj_entity",
            "left",
        )
        .withColumn("subj_entity", F.coalesce(F.col("subj_canon"), F.col("subj_entity")))
        .withColumn("obj_entity", F.coalesce(F.col("obj_canon"), F.col("obj_entity")))
        .drop("subj_canon", "obj_canon")
    )
    return out
