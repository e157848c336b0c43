"""Stage 4 — canonicalization: connected components over surface↔entity edges.

Surfaces and entities form a bipartite graph (edges from the alias
dictionary plus observed mention links); components are the
canonicalization clusters and the minimum entity id in a component is its
canonical representative (entity ids "E…" sort before surrogate "S:…"
nodes, so a component with any real entity is represented by one).

The components come from ``graph.connected_components``, the one CC
operator the engine has: a driver union-find for a pair set at broadcast
scale (≤ ``CC_SMALL_CORE_EDGES`` distinct undirected pairs), and
large-star/small-star rounds (O(log² n), no driver state) above it.

Skew posture (SURVEY.md §4.3): hub entities ("S:acme" in 30% of docs) are
collapsed to DISTINCT (src, dst) pairs in ``linking_edges``, so the
mention-multiplicity skew never reaches the CC rounds; their min-groupBys
combine map-side, and residual join skew is AQE skew-join splitting
(enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatvector_ai_spark.operators.graph import connected_components


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


def canonical_map(linked_mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """entity_id → canonical_entity (component representative)."""
    comp = connected_components(linking_edges(linked_mentions, alias_dict))
    return (
        comp.where(~F.col("entity").startswith("S:"))
        .select(F.col("entity").alias("entity_id"), F.col("component").alias("canonical_entity"))
    )

