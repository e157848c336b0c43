"""Graph queries over the materialized nodes/edges tables.

The nodes/edges tables are bucketed by ``pmod(xxhash64(entity), N_BUCKETS)``
(pipeline.py) — the Iceberg ``bucket(N, entity_hash)`` stand-in — so
point-lookups prune to one bucket directory and neighborhood expansions
shuffle only on the entity keys they touch. These operators are the query
surface a KG consumer needs: ego neighborhoods, degree tables, k-hop
expansion, relation filtering — all plain DataFrame ops.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from chatvector_ai_spark.config import CC_SMALL_CORE_EDGES, N_BUCKETS
from chatvector_ai_spark.session import local_frame

_log = logging.getLogger(__name__)


def _bucket_of(entity: str, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.lit(entity)), F.lit(n_buckets))


def ego_edges(edges: DataFrame, entity: str, n_buckets: int | None = N_BUCKETS) -> DataFrame:
    """All edges touching *entity*; the src-side predicate includes the
    bucket so the scan prunes to one bucket partition for outgoing edges.

    ``n_buckets`` must be the bucket count in effect when *edges* was
    written (the warehouse manifest records it as ``n_buckets``; pass
    ``Warehouse.table_n_buckets("edges")``). A mismatched value would make
    the bucket predicate silently drop all outgoing edges, so pass ``None``
    to skip bucket pruning and filter on ``src`` alone.
    """
    if n_buckets and "bucket" in edges.columns:
        out = edges.where(
            (F.col("bucket") == _bucket_of(entity, n_buckets)) & (F.col("src") == entity)
        )
    else:
        out = edges.where(F.col("src") == entity)
    inc = edges.where(F.col("dst") == entity)
    return out.unionByName(inc).dropDuplicates()


def degrees(edges: DataFrame) -> DataFrame:
    """(entity, out_degree, in_degree, degree) — map-side combinable."""
    outs = edges.groupBy(F.col("src").alias("entity")).agg(F.count("*").alias("out_degree"))
    ins = edges.groupBy(F.col("dst").alias("entity")).agg(F.count("*").alias("in_degree"))
    return (
        outs.join(ins, "entity", "full_outer")
        .fillna(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def khop(edges: DataFrame, seeds: list[str], k: int = 2, max_frontier: int | None = None) -> DataFrame:
    """Entities reachable from *seeds* in ≤ k hops (undirected), with the
    hop at which each was first reached: ``_landmark_bfs`` with one seed
    label shared by every seed, so the seeds grow one ball. Each hop is
    one join + distinct; ``max_frontier`` caps explosion on hub-heavy
    graphs (the candidate-widening analog), logged when it binds."""
    if not seeds:
        return local_frame(edges.sparkSession, [], "entity string, hop int")
    return _landmark_bfs(edges, seeds, k, max_frontier, "khop", shared_seed="").select(
        "entity", "hop"
    )


def _cap_frontier(
    nxt: DataFrame, order: list, max_frontier: int | None, what: str, hop: int
) -> tuple[DataFrame, int]:
    """One BFS hop's frontier, capped and materialized: keep the
    ``max_frontier`` smallest rows by *order* (an unordered ``limit``
    would keep an arbitrary, run-varying set) and checkpoint eagerly so
    later hops never re-run this one. Returns the frontier and its row
    count. A count at the cap is logged — also when the frontier lands
    exactly on it — so truncation is never silent."""
    if max_frontier is not None:
        nxt = nxt.orderBy(*order).limit(max_frontier)
    nxt = nxt.localCheckpoint(eager=True)
    n = nxt.count()
    if max_frontier is not None and n >= max_frontier:
        _log.warning(
            "%s: frontier cap %d reached at hop %d; results beyond the cap are "
            "truncated — pass max_frontier=None for the exhaustive result",
            what, max_frontier, hop,
        )
    return nxt, n


def relation_counts(edges: DataFrame) -> DataFrame:
    """Per-relation edge counts + distinct endpoint counts."""
    return edges.groupBy("rel").agg(
        F.count("*").alias("n_edges"),
        F.countDistinct("src").alias("n_src"),
        F.countDistinct("dst").alias("n_dst"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def cooccurring_entities(
    edges: DataFrame,
    min_shared_docs: int = 2,
    max_entities_per_doc: int | None = 64,
) -> DataFrame:
    """Entity pairs appearing as endpoints in ≥ min_shared_docs shared
    documents — the doc-level co-occurrence signal (blocked self-join on
    doc_id; partial-agg collapses before the pair shuffle).

    The per-doc pair fan-out is O(entities-per-doc²): one pathological doc
    with 10⁴ distinct entities would emit 5×10⁷ pairs in a single task, so
    ``max_entities_per_doc`` caps each doc's entity set to its top-N by
    endpoint-mention count (ties broken by entity id — deterministic).
    The window is PARTITION BY doc_id — per-doc, never global. ``None``
    disables the cap."""
    ent_mentions = edges.select(F.col("src").alias("entity"), "doc_id").unionByName(
        edges.select(F.col("dst").alias("entity"), "doc_id")
    )
    ent_docs = ent_mentions.groupBy("doc_id", "entity").agg(
        F.count("*").alias("n_mentions")
    )
    if max_entities_per_doc is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(
            F.desc("n_mentions"), F.asc("entity")
        )
        ent_docs = ent_docs.withColumn("rk", F.row_number().over(w)).where(
            F.col("rk") <= max_entities_per_doc
        )
    ent_docs = ent_docs.select("doc_id", "entity")
    a, b = ent_docs.alias("a"), ent_docs.alias("b")
    return (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.entity") < F.col("b.entity")))
        .groupBy(F.col("a.entity").alias("entity_a"), F.col("b.entity").alias("entity_b"))
        .agg(F.countDistinct("a.doc_id").alias("shared_docs"))
        .where(F.col("shared_docs") >= min_shared_docs)
    )


def _driver_union_find(edges: DataFrame, edge_rows: list) -> DataFrame:
    """Exact (node, label) connected-component labels for ``edge_rows``,
    the collected rows of ``edges``: a path-compressing union-find over
    their first two columns with the component minimum as the label —
    O(E α(E)), zero shuffle rounds. Both columns of the output take the
    type of the first column of ``edges``. Only ever called on rows the
    caller collected at broadcast scale (≤ ``CC_SMALL_CORE_EDGES``). The
    labels come back through ``local_frame``, a JVM ``LocalRelation``, so
    plans that read them (dedup's anti-joins, canonicalization's commit)
    start no Python worker."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edge_rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        if root not in comp_min or node < comp_min[root]:
            comp_min[root] = node
    node_type = edges.schema.fields[0].dataType
    schema = StructType([StructField("node", node_type), StructField("label", node_type)])
    rows = [(node, comp_min[find(node)]) for node in parent]
    return local_frame(edges.sparkSession, rows, schema)


def _fingerprint(df: DataFrame, *cols: str) -> tuple[int, int]:
    """(row count, bit_xor of xxhash64 over *cols*): the cheap one-action
    convergence test of the fixed-point loops — equal fingerprints on
    consecutive rounds mean the round changed nothing. bit_xor is
    order-independent and overflow-free under ANSI mode (a running sum of
    xxhash64 values overflows BIGINT)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Apply *step* to *state* until a round changes nothing, and return
    that state — the one loop of the operators that are only correct at a
    fixed point. Each round ends with an eager ``localCheckpoint``
    (iterative joins otherwise stack plans) and a ``_fingerprint`` over all
    columns; equal fingerprints on consecutive rounds are the fixed point.
    Rounds that end at *max_rounds* without one raise ``ValueError``
    naming *what* (``"<operator>: <cap parameter>"``) instead of returning
    a state that is not yet the answer."""
    prev = _fingerprint(state, *state.columns)
    for _ in range(max_rounds):
        state = step(state).localCheckpoint(eager=True)
        cur = _fingerprint(state, *state.columns)
        if cur == prev:
            return state
        prev = cur
    raise ValueError(f"{what}={max_rounds} ended before a fixed point; raise the cap")


def _absent_seeds_error(seeds: list[str]) -> ValueError:
    # a seed absent from the edge vocabulary holds teleport mass that can
    # never flow — all-zero ranks with no signal; fail loudly
    return ValueError(
        f"none of the {len(seeds)} seeds appear in the edge set; "
        "personalized teleport mass would be lost and every rank 0"
    )


def _driver_pagerank(
    e: DataFrame,
    edge_rows: list,
    iterations: int,
    damping_pct: int,
    scale: int,
    seeds: list[str] | None,
) -> DataFrame:
    """``pagerank`` over ``edge_rows``, the collected rows of the distinct
    non-self (src, dst) edges ``e``, in plain Python with the same
    scaled-integer rules, so the ranks are bit-identical to the iterative
    join loop."""
    schema = StructType([
        StructField("entity", e.schema["src"].dataType),
        StructField("pr_scaled", LongType()),
    ])
    out_deg: dict = {}
    for src, _ in edge_rows:
        out_deg[src] = out_deg.get(src, 0) + 1
    nodes = {v for row in edge_rows for v in row}
    n = len(nodes)
    if n == 0:
        return local_frame(e.sparkSession, [], schema)
    teleport_mass = (100 - damping_pct) * scale // 100
    if seeds is None:
        teleport = dict.fromkeys(nodes, teleport_mass // n)
        pr = dict.fromkeys(nodes, scale // n)
    else:
        present = nodes.intersection(seeds)
        if not present:
            raise _absent_seeds_error(seeds)
        teleport = dict.fromkeys(present, teleport_mass // len(seeds))
        pr = dict.fromkeys(nodes, 0)
        pr.update(dict.fromkeys(present, scale // len(seeds)))
    for _ in range(iterations):
        summed = dict.fromkeys(nodes, 0)
        for src, dst in edge_rows:
            summed[dst] += pr[src] // out_deg[src]
        pr = {v: teleport.get(v, 0) + damping_pct * summed[v] // 100 for v in nodes}
    return local_frame(e.sparkSession, list(pr.items()), schema)


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    seeds: list[str] | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the distinct (src, dst) digraph,
    computed entirely in **scaled integer arithmetic** so the result is
    bit-identical regardless of aggregation order (Spark's partial aggs vs
    any sequential engine): rank is held in 1/*scale* units, each edge
    contributes ``pr DIV out_degree``, and damping is ``(pct * s) DIV 100``
    — no float ever crosses a row boundary. Dangling-node mass is dropped
    (the common simplified formulation) — documented so the oracle twin
    applies the same rule.

    Broadcast-scale graphs run on the driver: one bounded action (a
    ``limit(CC_SMALL_CORE_EDGES + 1)`` collect of the distinct edges)
    decides the path, and an edge set at or below the threshold is iterated
    in plain Python under the same integer rules and returned as one small
    (entity, pr_scaled) DataFrame — at that size every join round would be
    pure scheduler latency. ``CC_SMALL_CORE_EDGES = 0`` disables the path.

    Larger graphs run the distributed loop. Per iteration: edges ⋈ pr
    (shuffle on src) → hash-agg on dst → left join back onto the node set;
    ``localCheckpoint`` truncates the 5-deep lineage so the plan does not
    grow superlinearly. At 10^12 edges each round is one shuffle on the
    entity key; hub skew is AQE's skew-join case, and the node set stays
    partitioned by entity throughout.

    With ``seeds``, this is **personalized PageRank**: the initial mass and
    the teleport term go only to the seed set (split evenly, same integer
    rules), so rank measures proximity to the seeds — the KG "related
    entities" query. The seed list is driver-side data of broadcast scale.

    Reference analog: none (the reference has no graph layer); this is the
    canonical KG-consumer ranking query over the materialized edges table.
    """
    if seeds is not None and not seeds:
        raise ValueError("personalized pagerank needs a non-empty seed list")
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if CC_SMALL_CORE_EDGES > 0:
        small = e.limit(CC_SMALL_CORE_EDGES + 1).collect()
        if len(small) <= CC_SMALL_CORE_EDGES:
            return _driver_pagerank(e, small, iterations, damping_pct, scale, seeds)
    nodes = _graph_nodes(e).localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr_scaled", F.lit(0).cast("bigint"))
    if seeds is not None:
        # len(seeds) is driver-side broadcast-scale data, so this probe
        # is one isin() filter over the node set, not a join
        n_present = nodes.where(F.col("entity").isin(seeds)).count()
        if n_present == 0:
            raise _absent_seeds_error(seeds)
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    if seeds is None:
        teleport_col = F.lit(((100 - damping_pct) * scale // 100) // n)
        pr = nodes.withColumn("pr", F.lit(scale // n).cast("bigint"))
    else:
        is_seed = F.col("entity").isin(seeds)
        teleport_col = F.when(
            is_seed, F.lit(((100 - damping_pct) * scale // 100) // len(seeds))
        ).otherwise(F.lit(0))
        pr = nodes.withColumn(
            "pr",
            F.when(is_seed, F.lit(scale // len(seeds)))
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
    for _ in range(iterations):
        contrib = (
            e.join(pr.withColumnRenamed("entity", "src"), "src")
            .join(deg, "src")
            .select(F.col("dst").alias("entity"), F.expr("pr DIV out_deg").alias("c"))
        )
        summed = contrib.groupBy("entity").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(summed, "entity", "left")
            .select(
                "entity",
                (
                    teleport_col
                    + F.expr(f"({damping_pct} * coalesce(s, 0)) DIV 100")
                ).cast("bigint").alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.withColumnRenamed("pr", "pr_scaled")


def _undirected_pairs(edges: DataFrame) -> DataFrame:
    """Distinct canonical (a, b) pairs, a < b, of the undirected simple
    graph over *edges* (self-loops dropped)."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _sym_edges(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst) of the undirected simple graph over *edges* in
    both orientations — every neighbor list the undirected operators walk.
    Self-loops are dropped on both branches."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _graph_nodes(edges: DataFrame) -> DataFrame:
    """Distinct endpoint set of *edges*, column ``entity``."""
    return (
        edges.select(F.col("src").alias("entity"))
        .unionByName(edges.select(F.col("dst").alias("entity")))
        .distinct()
    )


def _und_degrees(und: DataFrame) -> DataFrame:
    """(entity, d): degree in the undirected simple graph given as
    canonical pairs (a, b), e.g. from ``_undirected_pairs``."""
    return (
        und.select(F.col("a").alias("entity"))
        .unionByName(und.select(F.col("b").alias("entity")))
        .groupBy("entity")
        .agg(F.count("*").alias("d"))
    )


def _triangle_list(und: DataFrame) -> DataFrame:
    """Every triangle of the undirected simple graph given as canonical
    pairs (a, b), once, as (x, y, z) — the two-variable case of the generic
    join (Worst-Case-Optimal Similarity Joins on Graph Databases, SIGMOD
    2024): bind a wedge's apex, then intersect two of its adjacencies.

    **Degree orientation**: every undirected edge is directed from its
    lower-(degree, id) endpoint to the higher one, so each node's out-
    neighborhood is bounded by O(sqrt(m)) and the wedge join does O(m^1.5)
    work total instead of Σ deg² — the standard trick that makes triangle
    listing survive hub-skewed graphs (a celebrity node with 10⁶ neighbors
    contributes no wedges because its edges all point *into* it).

    Plan: degree hash-agg → two broadcast-free equi-joins (wedge u→v, u→w
    then closing edge v→w).
    """
    deg = _und_degrees(und)
    da = deg.withColumnRenamed("entity", "a").withColumnRenamed("d", "da")
    db = deg.withColumnRenamed("entity", "b").withColumnRenamed("d", "db")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            # degree of v: the wedge pair below must be ordered by the SAME
            # (degree, id) total order the orientation uses — ordering by id
            # alone would look up the closing edge in the wrong direction
            # and silently drop every triangle whose lexicographic and
            # degree orders disagree
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )
    e1, e2, e3 = orient.alias("e1"), orient.alias("e2"), orient.alias("e3")
    wedge_order = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    return (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & wedge_order)
        .join(e3, (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z"))
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Per-entity triangle counts on the undirected simple graph: the
    degree-oriented O(m^1.5) listing of ``_triangle_list`` (hub-safe),
    then one hash-agg. Output one row per entity that is a member of ≥1
    triangle.
    """
    tri = _triangle_list(_undirected_pairs(edges))
    members = (
        tri.select(F.col("x").alias("entity"))
        .unionByName(tri.select(F.col("y").alias("entity")))
        .unionByName(tri.select(F.col("z").alias("entity")))
    )
    return members.groupBy("entity").agg(F.count("*").alias("n_triangles"))


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components of the undirected graph over *edges*.

    Returns (entity, component) for every endpoint of a non-self edge,
    component = the minimum entity id in the component.

    One bounded action decides the path: a ``limit(CC_SMALL_CORE_EDGES +
    1)`` collect of the distinct oriented pairs, as in ``pagerank``. If
    there are at most ``CC_SMALL_CORE_EDGES`` of them (broadcast scale),
    ``_driver_union_find`` resolves the collected rows — at that size each
    shuffle round would be pure scheduler latency. ``CC_SMALL_CORE_EDGES
    = 0`` disables this path. Canonicalization, dedup and the component
    queries all run on this one operator.

    Larger graphs run alternating **large-star / small-star** (Kiveris et
    al., "Connected Components in MapReduce and Beyond"), which converges
    in O(log² n) rounds of pure groupBy+join DataFrame ops with no
    driver-side graph state — what survives 10^12-edge graphs (unlike
    label propagation's O(diameter) rounds). Invariant maintained between
    rounds: the pair set holds (node, peer) with node > peer. large-star
    hangs every neighbor larger than u off u's minimum; small-star re-hangs
    u's smaller neighbors (and u) off the minimum. The rounds run under
    ``_fixed_point``: rounds that end at ``max_iter`` without an unchanged
    pair set raise ``ValueError`` instead of returning labels that are not
    yet component minima.
    """
    pairs = (
        edges.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if CC_SMALL_CORE_EDGES > 0:
        small = pairs.limit(CC_SMALL_CORE_EDGES + 1).collect()
        if len(small) <= CC_SMALL_CORE_EDGES:
            return _driver_union_find(pairs, small).select(
                F.col("node").alias("entity"), F.col("label").alias("component")
            )
    pairs = pairs.localCheckpoint(eager=True)
    nodes = _graph_nodes(pairs.toDF("src", "dst")).localCheckpoint(eager=True)

    def large_star(p: DataFrame) -> DataFrame:
        sym = p.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            p.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(p: DataFrame) -> DataFrame:
        # input pairs already oriented a > b
        mins = p.groupBy("a").agg(F.min("b").alias("m"))
        hang_nbrs = (
            p.join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        hang_self = mins.select(F.col("a"), F.col("m").alias("b"))
        return hang_nbrs.unionByName(hang_self).where(F.col("a") != F.col("b")).distinct()

    pairs = _fixed_point(
        pairs, lambda p: small_star(large_star(p)), max_iter, "connected_components: max_iter"
    )
    labels = pairs.groupBy(F.col("a").alias("entity")).agg(F.min("b").alias("component"))
    return (
        nodes.join(labels, "entity", "left")
        .select("entity", F.coalesce("component", "entity").alias("component"))
    )


def kcore(edges: DataFrame, k: int = 3, max_rounds: int = 8) -> DataFrame:
    """K-core: iteratively peel nodes of degree < k until fixpoint (or
    ``max_rounds``), returning surviving entities with their core-subgraph
    degree — the standard graph-denoising pass before expensive downstream
    analytics (a KG entity that survives the 3-core is structurally
    corroborated; pendant noise is not).

    Each round is one hash-agg (degrees) + two semi-joins (edge filter) +
    an eager checkpoint; convergence is detected by the edge count
    reaching a fixpoint, which happens in ≤ max_rounds on real graphs
    (the cap bounds worst-case latency; both the operator and its oracle
    twin apply the same cap, so semantics stay aligned). All logic is
    integer/set-based — no float anywhere.
    """
    und = _undirected_pairs(edges).localCheckpoint(eager=True)
    prev_edges = und.count()
    for _ in range(max_rounds):
        alive = _und_degrees(und).where(F.col("d") >= k).select("entity")
        und = (
            und.join(alive.withColumnRenamed("entity", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("entity", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        cur = und.count()
        if cur == prev_edges:
            break
        prev_edges = cur
    return _und_degrees(und).where(F.col("d") >= k).select(
        "entity", F.col("d").alias("core_degree")
    )


def structural_similarity(
    edges: DataFrame,
    min_shared: int = 2,
    max_neighbors: int = 64,
) -> DataFrame:
    """Entity pairs ranked by neighborhood (shared-neighbor) Jaccard — the
    structure-based entity-resolution signal that complements the alias-
    dictionary linker: two entities whose edge neighborhoods largely
    coincide are merge candidates even when their surface forms share
    nothing.

    Scale shape: candidate pairs come ONLY from co-neighbor blocking (two
    entities must share a concrete neighbor to pair), and each entity's
    neighbor list is capped at its ``max_neighbors`` smallest neighbor
    ids (deterministic) so one hub neighbor cannot emit O(degree²) pairs
    in a task — the same bound co-occurrence uses. The only window is
    PARTITION BY entity. Jaccard is exact over the capped sets in both
    engines (integer counts; one final per-row division, rounded)."""
    from pyspark.sql import Window

    sym = _sym_edges(edges).toDF("entity", "nbr")
    w = Window.partitionBy("entity").orderBy(F.asc("nbr"))
    capped = sym.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= max_neighbors
    ).select("entity", "nbr")
    sizes = capped.groupBy("entity").agg(F.count("*").alias("deg"))
    a, b = capped.alias("a"), capped.alias("b")
    shared = (
        a.join(b, (F.col("a.nbr") == F.col("b.nbr")) & (F.col("a.entity") < F.col("b.entity")))
        .groupBy(
            F.col("a.entity").alias("entity_a"), F.col("b.entity").alias("entity_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(sizes.withColumnRenamed("entity", "entity_a").withColumnRenamed("deg", "deg_a"), "entity_a")
        .join(sizes.withColumnRenamed("entity", "entity_b").withColumnRenamed("deg", "deg_b"), "entity_b")
        .select(
            "entity_a", "entity_b", "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("nbr_jaccard"),
        )
    )


def predicate_profile(edges: DataFrame) -> DataFrame:
    """Per-relation structural profile over distinct (src, dst) pairs:
    pair count, distinct subject/object counts, and the PARIS-style
    functionality / inverse-functionality ratios (#distinct subjects /
    #pairs and #distinct objects / #pairs). Functionality ≈ 1 means the
    relation is one-object-per-subject (good canonicalization anchor);
    low inverse functionality flags hub objects that need salting.

    One distinct + one hash-agg keyed by the (small) relation vocabulary —
    map-side combinable, no windows, scales with edge count."""
    pairs = edges.select("rel", "src", "dst").distinct()
    return pairs.groupBy("rel").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("src").alias("n_src"),
        F.countDistinct("dst").alias("n_dst"),
        F.round(F.countDistinct("src") / F.count("*"), 6).alias("functionality"),
        F.round(F.countDistinct("dst") / F.count("*"), 6).alias("inv_functionality"),
    )


def metapath_counts(edges: DataFrame, max_fanout: int = 32) -> DataFrame:
    """2-hop metapath statistics: for every ordered relation pair
    (rel_a, rel_b), the number of path instances a -rel_a-> m -rel_b-> c
    — the schema-level signal for which relation compositions exist in
    the graph (rule mining / ontology induction input).

    Scale shape: paths are formed by joining in-edges to out-edges on the
    middle entity, and BOTH edge lists are capped at ``max_fanout`` per
    middle entity (deterministic smallest-(rel, endpoint) order), so a hub
    entity contributes at most max_fanout² paths instead of
    in_degree×out_degree. The only windows are PARTITION BY entity."""
    from pyspark.sql import Window

    dedup = edges.select("src", "rel", "dst").distinct()
    w_in = Window.partitionBy("dst").orderBy("rel", "src")
    ins = (
        dedup.withColumn("rk", F.row_number().over(w_in))
        .where(F.col("rk") <= max_fanout)
        .select(F.col("rel").alias("rel_a"), F.col("dst").alias("mid"))
    )
    w_out = Window.partitionBy("src").orderBy("rel", "dst")
    outs = (
        dedup.withColumn("rk", F.row_number().over(w_out))
        .where(F.col("rk") <= max_fanout)
        .select(F.col("rel").alias("rel_b"), F.col("src").alias("mid"))
    )
    return (
        ins.join(outs, "mid")
        .groupBy("rel_a", "rel_b")
        .agg(F.count("*").alias("n_paths"), F.countDistinct("mid").alias("n_mids"))
    )


def relation_cooccurrence(edges: DataFrame) -> DataFrame:
    """Relation pairs co-occurring on the same subject: for each unordered
    pair (rel_a < rel_b), how many subjects carry both — the attribute-
    correlation signal for type inference (subjects sharing a relation
    signature likely share a type).

    Per-subject fan-out is bounded by C(|relation vocabulary|, 2), which
    is schema-scale, not data-scale; the join key is the subject."""
    sr = edges.select("src", "rel").distinct()
    a, b = sr.alias("a"), sr.alias("b")
    return (
        a.join(b, (F.col("a.src") == F.col("b.src")) & (F.col("a.rel") < F.col("b.rel")))
        .groupBy(F.col("a.rel").alias("rel_a"), F.col("b.rel").alias("rel_b"))
        .agg(F.countDistinct(F.col("a.src")).alias("n_subjects"))
    )


def edge_pmi(edges: DataFrame) -> DataFrame:
    """Pointwise mutual information of (src, dst) within each relation:
    ``pmi = ln(c_pair * n_rel / (c_src * c_dst))`` over mention-level
    occurrences — the information-theoretic edge weight that separates
    systematic associations from edges that only exist because both
    endpoints are frequent (hub × hub noise pairs get negative PMI).

    Scale shape: three hash-aggs (pair, per-(rel,src), per-(rel,dst)
    marginals) joined back on their grouping keys — all map-side
    combinable, no windows, no pair fan-out beyond the observed edges."""
    occ = edges.select("rel", "src", "dst")
    pair = occ.groupBy("rel", "src", "dst").agg(F.count("*").alias("c_pair"))
    n_rel = occ.groupBy("rel").agg(F.count("*").alias("n_rel"))
    c_src = occ.groupBy("rel", "src").agg(F.count("*").alias("c_src"))
    c_dst = occ.groupBy("rel", "dst").agg(F.count("*").alias("c_dst"))
    return (
        pair.join(c_src, ["rel", "src"])
        .join(c_dst, ["rel", "dst"])
        .join(F.broadcast(n_rel), "rel")
        .select(
            "rel", "src", "dst", "c_pair",
            F.round(
                F.log(
                    F.col("c_pair").cast("double")
                    * F.col("n_rel")
                    / (F.col("c_src").cast("double") * F.col("c_dst"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def consolidate_edges(edges: DataFrame) -> DataFrame:
    """Collapse mention-level edge rows into one consolidated edge per
    (src, rel, dst) with its evidence profile: mention count, distinct
    supporting documents / tenants, and the max extraction confidence —
    the weighted-edge form a downstream consumer reads instead of raw
    mentions. One hash-agg keyed by the edge identity; countDistinct
    compiles to partial-agg + distinct-expand, no windows."""
    return edges.groupBy("src", "rel", "dst").agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("tenant_id").alias("n_tenants"),
        F.round(F.max("conf").cast("double"), 6).alias("max_conf"),
    )


def infer_types(edges: DataFrame) -> DataFrame:
    """Entity type induction from relation signatures: an entity's type
    label is its most frequent (relation, position) feature — e.g. an
    entity that mostly appears as the object of works_at/joined is a
    workplace-like entity. Deterministic tie-break: smallest feature
    string among the max-count features.

    Scale shape: one hash-agg on (entity, feature), then a PARTITION BY
    entity top-1 window (WindowGroupLimit — partial per-partition top-k,
    no global sort)."""
    from pyspark.sql import Window

    feats = (
        edges.select(F.col("src").alias("entity"), F.concat("rel", F.lit(":s")).alias("feature"))
        .unionByName(
            edges.select(F.col("dst").alias("entity"), F.concat("rel", F.lit(":o")).alias("feature"))
        )
        .groupBy("entity", "feature")
        .agg(F.count("*").alias("n_obs"))
    )
    w = Window.partitionBy("entity").orderBy(F.desc("n_obs"), F.asc("feature"))
    return (
        feats.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("entity", F.col("feature").alias("inferred_type"), "n_obs")
    )


def match_pattern(
    edges: DataFrame,
    pattern: list[tuple[str, str, str]],
    optional: list[tuple[str, str, str]] | None = None,
    values: dict[str, list[str]] | None = None,
    minus: list[tuple[str, str, str]] | None = None,
    filter_expr: str | None = None,
    allow_cartesian: bool = False,
) -> DataFrame:
    """Basic graph pattern matching (the SPARQL BGP core): ``pattern`` is a
    list of (subject, predicate, object) terms where a term starting with
    ``?`` is a variable and anything else is a constant. Returns one
    column per variable (without the ``?``), one row per distinct binding.

    Example: ``[("?a", "acquired", "?b"), ("?b", "supplies", "?c")]`` finds
    acquisition targets that supply someone.

    ``optional`` adds SPARQL OPTIONAL blocks — one triple pattern each,
    left-joined after the required chain on its shared variables: required
    bindings survive unmatched with NULLs in the optional-only columns
    (the "give me the acquisition too, if any" query). Each optional
    pattern must share at least one variable with the required part and
    bind at least one new-or-shared variable — the guard that keeps an
    OPTIONAL from degenerating into a cartesian product at scale.

    ``values`` is the SPARQL VALUES clause: ``{"a": ["E1", "E2"]}``
    restricts variable ``a`` to the given constants — the federated
    "match only these ids" query. Applied as an ``isin`` filter (a
    broadcast-scale literal list, pushed into the scans by Catalyst)
    before the optional blocks; naming a variable the pattern never binds
    raises.

    A required pattern that shares NO variable with the patterns before it
    is a cartesian product (a bindings×bindings explosion at 10^12 edges)
    and raises unless ``allow_cartesian=True`` — the same guard
    OPTIONAL/MINUS enforce; all-constant existence patterns are exempt
    (they reduce to a one-row filter).

    ``filter_expr`` is a SPARQL FILTER: a boolean SQL expression over the
    bound variables (bare names, no ``?``), e.g.
    ``"a <> c AND c LIKE 'E0%'"`` — applied after MINUS/OPTIONAL (the
    safe-filter position), and pushed down by Catalyst when it touches
    only required-pattern columns.

    ``minus`` is SPARQL MINUS / FILTER NOT EXISTS — one triple pattern
    each, anti-joined on its shared variables: bindings compatible with
    any solution of the minus pattern drop ("suppliers that acquired
    nothing"). The same shared-variable guard applies (a MINUS sharing no
    variable would remove nothing or everything).

    Execution: each triple pattern is a constant-filtered scan of the edge
    table projected to its variable columns; patterns chain with equi-joins
    on shared variables (Catalyst reorders and broadcasts small sides),
    OPTIONAL blocks with left equi-joins. Constants push down to the
    parquet scan; a pattern with a constant subject additionally prunes by
    entity-hash bucket when the edge table is bucket-partitioned. No
    Python runs per row."""
    if not pattern:
        raise ValueError("pattern must contain at least one triple pattern")

    def one(tp: tuple[str, str, str]) -> DataFrame:
        s, p, o = tp
        df = edges.select("src", "rel", "dst").distinct()
        # var name -> source columns; a variable repeated WITHIN one triple
        # (the SPARQL self-loop pattern, e.g. ("?x","likes","?x")) becomes
        # an equality filter between its positions plus ONE projected
        # column — never two same-named columns, which would poison later
        # shared-variable joins
        var_cols: dict[str, list[str]] = {}
        for term, col in ((s, "src"), (p, "rel"), (o, "dst")):
            if term.startswith("?"):
                var_cols.setdefault(term[1:], []).append(col)
            else:
                df = df.where(F.col(col) == term)
        for cols in var_cols.values():
            for extra in cols[1:]:
                df = df.where(F.col(cols[0]) == F.col(extra))
        if not var_cols:
            # all-constant pattern: contributes an existence filter
            return df.select(F.lit(1).alias("__exists__")).limit(1)
        proj = [F.col(cols[0]).alias(v) for v, cols in var_cols.items()]
        return df.select(*proj).distinct()

    out = one(pattern[0])
    for tp in pattern[1:]:
        step = one(tp)
        shared = [c for c in step.columns if c in out.columns and c != "__exists__"]
        if shared:
            out = out.join(step, on=shared)
        else:
            # a required pattern sharing no variable with the chain so far
            # is a cartesian product — a |bindings|×|bindings| explosion
            # at 10^12 edges. OPTIONAL and MINUS already refuse this;
            # the required chain must too, unless the caller opts in
            # (the legitimate case: one side is a constant-bound one-row
            # existence pattern, which `one()` already reduces to a
            # __exists__ row — whether it is the step OR the chain so far,
            # i.e. an all-constant pattern listed first)
            if (
                not allow_cartesian
                and "__exists__" not in step.columns
                and "__exists__" not in out.columns
            ):
                raise ValueError(
                    f"required pattern {tp!r} shares no variable with the "
                    "preceding patterns — this is a cartesian product; "
                    "pass allow_cartesian=True to opt in"
                )
            out = out.crossJoin(step)
            if set(out.columns) != {"__exists__"}:
                # the existence row has done its filtering; dropping it at
                # once lets a later disjoint pattern meet the guard above
                out = out.drop("__exists__")
    for var, allowed in (values or {}).items():
        if var not in out.columns:
            raise ValueError(
                f"VALUES names variable {var!r} which the required pattern "
                f"never binds (bound: {[c for c in out.columns if c != '__exists__']})"
            )
        out = out.where(F.col(var).isin(allowed))
    for tp in minus or []:
        step = one(tp)
        shared = [c for c in step.columns if c in out.columns and c != "__exists__"]
        if "__exists__" in step.columns or not shared:
            raise ValueError(
                "a minus pattern must bind variables and share at least one "
                "with the required pattern (a disjoint MINUS removes nothing)"
            )
        out = out.join(step.select(*shared).distinct(), on=shared, how="left_anti")
    for tp in optional or []:
        step = one(tp)
        shared = [c for c in step.columns if c in out.columns and c != "__exists__"]
        if "__exists__" in step.columns or not shared:
            raise ValueError(
                "an optional pattern must bind variables and share at least "
                "one with the required pattern (no cartesian OPTIONALs)"
            )
        out = out.join(step, on=shared, how="left")
    if filter_expr is not None:
        # SPARQL FILTER: a boolean expression over the bound variables
        # (bare column names, no "?"), e.g. "a <> c AND c LIKE 'E0%'".
        # Applied after MINUS/OPTIONAL (the safe-filter position); it is
        # a plain Catalyst predicate, so comparisons/LIKEs on required
        # columns push down into the joins and scans
        out = out.where(F.expr(filter_expr))
    return out.drop("__exists__").distinct()


def match_pattern_union(
    edges: DataFrame, branches: list[list[tuple[str, str, str]]]
) -> DataFrame:
    """SPARQL UNION between group patterns: each branch is a full BGP
    (the ``pattern`` argument of :func:`match_pattern`); bindings from all
    branches merge by variable name, with variables a branch does not bind
    NULL-filled — exactly the SPARQL alternation contract. The classic KG
    use: "pairs related by acquisition OR merger".

    Execution: each branch compiles independently (its joins, pushdowns,
    and pruning unchanged) and the results combine with one unionByName
    (allowMissingColumns) + distinct — the union is a no-shuffle concat;
    only the final distinct aggregates."""
    if not branches:
        raise ValueError("union requires at least one branch")
    outs = [match_pattern(edges, b) for b in branches]
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o, allowMissingColumns=True)
    return merged.distinct()


def export_ntriples(edges: DataFrame, base: str = "urn:cv:") -> DataFrame:
    """Serialize the distinct edge set as N-Triples lines —
    ``<base+src> <base+rel:rel> <base+dst> .`` — the standard RDF exchange
    format a downstream triple store ingests. One narrow projection over
    the distinct edge set; writing the result with text/parquet keeps the
    export embarrassingly parallel."""
    return (
        edges.select("src", "rel", "dst")
        .distinct()
        .select(
            F.concat(
                F.lit("<" + base), "src",
                F.lit("> <" + base + "rel:"), "rel",
                F.lit("> <" + base), "dst",
                F.lit("> ."),
            ).alias("ntriple")
        )
    )


def entity_fact_summary(edges: DataFrame, k: int = 5) -> DataFrame:
    """Entity summarization: the top-``k`` most informative subject-side
    facts per entity, ranked by within-relation PMI (ties broken by
    (rel, dst) ascending) — the fact-ranking step a KG card/abstract
    generator reads instead of the raw edge list.

    Composes ``edge_pmi`` with one PARTITION BY src top-k window
    (WindowGroupLimit); everything upstream is hash-aggs + equi-joins."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("pmi"), F.asc("rel"), F.asc("dst"))
    return (
        edge_pmi(edges)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("src").alias("entity"), "rel", "dst", "pmi", "rank")
    )


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) over the
    undirected distinct edge set: every node starts labeled with its own
    id; each round it adopts the most frequent label among its neighbors
    PLUS one vote for its own current label (the self-vote damps the
    2-cycle oscillation synchronous LPA exhibits on bipartite structures),
    ties broken by the smallest label; an isolated node keeps its label.
    Fixed iteration count + deterministic tie-break make the result
    reproducible in any engine — no randomized visit order.

    Per-iteration plan: symmetric edges ⋈ labels (shuffle on the neighbor
    key) → hash-agg (entity, label) counts → per-entity argmax via one
    min(struct(-count, label)) aggregate — NO window — then
    ``localCheckpoint`` truncates lineage exactly like pagerank. Each round
    is one shuffle on the entity key at any scale.

    Returns (entity, label) — nodes sharing a label form a community."""
    sym = _sym_edges(edges).toDF("entity", "nbr").localCheckpoint(eager=True)
    nodes = sym.select("entity").distinct().localCheckpoint(eager=True)
    labels = nodes.withColumn("label", F.col("entity"))
    for _ in range(iterations):
        nbr_labels = sym.join(
            labels.select(F.col("entity").alias("nbr"), "label"), "nbr"
        ).select("entity", "label")
        votes = nbr_labels.unionByName(labels.select("entity", "label"))
        counted = votes.groupBy("entity", "label").agg(F.count("*").alias("c"))
        best = counted.groupBy("entity").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("b")
        )
        labels = (
            nodes.join(best, "entity", "left")
            .select(
                "entity",
                F.coalesce(F.col("b.label"), F.col("entity")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def resolve_conflicts(
    edges: DataFrame, functionality_threshold_pct: int = 90
) -> DataFrame:
    """Knowledge fusion / truth discovery for *functional* relations: when
    multiple documents assert different objects for the same (subject,
    relation) and the relation's functionality ratio (distinct subjects /
    distinct pairs, see ``predicate_profile``) says it should have ONE
    object per subject, keep the best-evidenced assertion — most supporting
    docs, then highest extraction confidence, then smallest object id — and
    report how many rivals it beat. Returns
    (src, rel, dst, n_docs, max_conf, n_alternatives) for functional
    relations only; non-functional relations are not conflict-resolvable
    and pass through a downstream union untouched.

    Scale shape: the functional-relation set comes from one relation-keyed
    agg (vocabulary-scale → broadcast); evidence comes from
    ``consolidate_edges`` (one hash-agg); the winner pick is a PARTITION BY
    (src, rel) window over the per-subject candidate list, which is bounded
    by the relation's object fan-out — exactly the rows under dispute.
    The threshold is integer percent so both engines compare exactly."""
    from pyspark.sql import Window

    functional = (
        predicate_profile(edges)
        .where(F.col("n_src") * 100 >= F.lit(functionality_threshold_pct) * F.col("n_pairs"))
        .select("rel")
    )
    evidence = consolidate_edges(edges).join(F.broadcast(functional), "rel")
    w = Window.partitionBy("src", "rel")
    ordered = w.orderBy(F.desc("n_docs"), F.desc("max_conf"), F.asc("dst"))
    return (
        evidence.withColumn("rk", F.row_number().over(ordered))
        .withColumn("n_alternatives", F.count("*").over(w) - 1)
        .where(F.col("rk") == 1)
        .select("src", "rel", "dst", "n_docs", "max_conf", "n_alternatives")
    )


def induce_ontology(edges: DataFrame) -> DataFrame:
    """Relation domain/range induction: for each relation, the most common
    inferred subject type (domain) and object type (range) under
    ``infer_types``, with the share of that relation's edge endpoints the
    winning type covers — the schema a KG consumer reads to understand what
    a relation connects. Deterministic ties: smallest type string.

    Scale shape: infer_types (hash-agg + per-entity top-1) joins back to
    the edge endpoints on the entity key, then one hash-agg per
    (rel, position, type) and a per-rel top-1 window over the (small)
    type-vocabulary rows."""
    from pyspark.sql import Window

    types = infer_types(edges).select("entity", "inferred_type")
    subj = (
        edges.select("rel", F.col("src").alias("entity"))
        .join(types, "entity")
        .groupBy("rel", F.col("inferred_type").alias("t"))
        .agg(F.count("*").alias("n"))
        .withColumn("side", F.lit("domain"))
    )
    obj = (
        edges.select("rel", F.col("dst").alias("entity"))
        .join(types, "entity")
        .groupBy("rel", F.col("inferred_type").alias("t"))
        .agg(F.count("*").alias("n"))
        .withColumn("side", F.lit("range"))
    )
    both = subj.unionByName(obj)
    w = Window.partitionBy("rel", "side").orderBy(F.desc("n"), F.asc("t"))
    tot = both.groupBy("rel", "side").agg(F.sum("n").alias("n_total"))
    top = (
        both.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .join(tot, ["rel", "side"])
        .select(
            "rel", "side", F.col("t").alias("top_type"),
            F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
        )
    )
    return top


def diff_edges(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff over the distinct triple sets of two edge tables —
    the incremental-maintenance audit a KG consumer runs between two
    committed snapshots (warehouse time-travel reads provide the inputs).
    Returns (src, rel, dst, change) with change ∈ {'added', 'removed'}:
    a triple is *added* if it appears in ``new`` but no document of ``old``
    supported it, and vice versa — support from both sides means no change.

    Two left-anti equi-joins on the triple identity; each side is one
    shuffle on (src, rel, dst). No windows, no Python."""
    o = old.select("src", "rel", "dst").distinct()
    n = new.select("src", "rel", "dst").distinct()
    added = n.join(o, ["src", "rel", "dst"], "left_anti").withColumn(
        "change", F.lit("added")
    )
    removed = o.join(n, ["src", "rel", "dst"], "left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)


def paths_between(
    edges: DataFrame,
    source: str,
    target: str | None = None,
    max_hops: int = 3,
    max_frontier: int | None = 10_000,
) -> DataFrame:
    """Enumerate simple directed paths of ≤ ``max_hops`` edges from
    ``source`` — to ``target`` if given, else to every reachable node —
    with the full node and relation sequence: the explainable multi-hop
    answer a KG QA consumer wants ("how are A and C related?").
    Returns (path array<string>, rels array<string>, n_hops).

    BFS with path tracking: each hop joins the frontier to the distinct
    edge set on the current endpoint (one shuffle on the entity key per
    hop), extends the node/relation arrays, and drops cycles via
    array_contains. ``max_frontier`` caps the frontier per hop to the
    lexicographically-smallest path keys — deterministic, same rule as
    ``khop``. It defaults BOUNDED (10k): on a dense/hub graph the frontier
    is the true path count, which grows exponentially with ``max_hops``,
    so an uncapped default would let a naive caller OOM a 100 TB graph.
    Pass ``max_frontier=None`` to opt out explicitly (exhaustive
    enumeration); a binding cap is logged so truncation is never silent.
    localCheckpoint truncates per-hop lineage."""
    spark = edges.sparkSession
    e = edges.select("src", "rel", "dst").distinct()
    found = local_frame(spark, [], "path array<string>, rels array<string>, n_hops int")
    frontier = local_frame(
        spark,
        [(source, [source], [])],
        "current string, path array<string>, rels array<string>",
    )
    for hop in range(1, max_hops + 1):
        step = (
            frontier.join(e, frontier.current == e.src)
            .where(~F.array_contains("path", F.col("dst")))
            .select(
                F.col("dst").alias("current"),
                F.concat("path", F.array("dst")).alias("path"),
                F.concat("rels", F.array("rel")).alias("rels"),
            )
        )
        if target is None:
            hits = step
        else:
            hits = step.where(F.col("current") == target)
        found = found.unionByName(
            hits.select("path", "rels", F.lit(hop).alias("n_hops"))
        )
        if hop == max_hops:
            break
        frontier = (
            step if target is None else step.where(F.col("current") != target)
        )
        frontier, n = _cap_frontier(
            frontier, [F.concat_ws(">", "path")], max_frontier,
            f"paths_between (source={source})", hop,
        )
        if n == 0:
            break
    return found


def skew_report(edges: DataFrame, top_k: int = 10) -> DataFrame:
    """Operational skew diagnostics: the ``top_k`` hub entities by total
    degree (mention-level, both directions) with their share of all edge
    endpoints — the table you read to decide what needs salting before a
    big join. One union + hash-agg + one TakeOrdered(top_k); the share
    denominator is a scalar agg (broadcast)."""
    ends = edges.select(F.col("src").alias("entity")).unionByName(
        edges.select(F.col("dst").alias("entity"))
    )
    deg = ends.groupBy("entity").agg(F.count("*").alias("degree"))
    total = ends.count()
    return (
        deg.orderBy(F.desc("degree"), F.asc("entity"))
        .limit(top_k)
        .select(
            "entity", "degree",
            F.round(F.col("degree") / F.lit(float(total)), 6).alias("share"),
        )
    )


def constraint_violations(
    edges: DataFrame, min_share_pct: int = 80
) -> DataFrame:
    """SHACL-lite validation: flag edges whose subject (object) type
    deviates from the relation's dominant domain (range) — but only where
    the dominant type is actually a constraint, i.e. covers ≥
    ``min_share_pct`` percent of that relation's endpoints (integer
    percent, exact in both engines). Returns one row per distinct
    offending triple with the side, expected and found type.

    Composes ``induce_ontology`` (relation → dominant domain/range) with
    ``infer_types`` (entity → type): two equi-joins on entity + one
    broadcast join on the (schema-scale) ontology table."""
    types = infer_types(edges).select("entity", "inferred_type")
    onto = induce_ontology(edges).where(
        F.col("share") * 100 >= F.lit(min_share_pct)
    )
    dedup = edges.select("src", "rel", "dst").distinct()
    typed = (
        dedup.join(
            types.select(F.col("entity").alias("src"), F.col("inferred_type").alias("src_type")),
            "src",
        )
        .join(
            types.select(F.col("entity").alias("dst"), F.col("inferred_type").alias("dst_type")),
            "dst",
        )
    )
    dom = (
        typed.join(
            F.broadcast(
                onto.where(F.col("side") == "domain").select(
                    "rel", F.col("top_type").alias("expected")
                )
            ),
            "rel",
        )
        .where(F.col("src_type") != F.col("expected"))
        .select(
            "src", "rel", "dst", F.lit("domain").alias("side"),
            "expected", F.col("src_type").alias("found"),
        )
    )
    rng = (
        typed.join(
            F.broadcast(
                onto.where(F.col("side") == "range").select(
                    "rel", F.col("top_type").alias("expected")
                )
            ),
            "rel",
        )
        .where(F.col("dst_type") != F.col("expected"))
        .select(
            "src", "rel", "dst", F.lit("range").alias("side"),
            "expected", F.col("dst_type").alias("found"),
        )
    )
    return dom.unionByName(rng)


def weighted_pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Evidence-weighted PageRank: like ``pagerank`` but each (src, dst)
    edge carries an integer weight = its number of distinct supporting
    (relation, document) mentions, and a node's rank mass splits across
    out-edges proportionally to weight — well-evidenced associations pull
    more centrality than one-off extractions. Same scaled-integer
    discipline (``pr * w DIV total_out_weight``, positive BIGINTs), so the
    result is aggregation-order-independent and exactly twinned in SQL.

    Plan per iteration: identical to ``pagerank`` (edge ⋈ rank shuffle on
    src, hash-agg on dst, left join to nodes, localCheckpoint) — the weight
    rides the edge row; no extra shuffle."""
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.countDistinct(
                F.concat_ws("|", "rel", "doc_id")
            ).alias("w")
        )
        .localCheckpoint(eager=True)
    )
    nodes = _graph_nodes(e).localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr_scaled", F.lit(0).cast("bigint"))
    outw =e.groupBy("src").agg(F.sum("w").alias("out_w"))
    teleport = F.lit(((100 - damping_pct) * scale // 100) // n)
    pr = nodes.withColumn("pr", F.lit(scale // n).cast("bigint"))
    for _ in range(iterations):
        contrib = (
            e.join(pr.withColumnRenamed("entity", "src"), "src")
            .join(outw, "src")
            .select(
                F.col("dst").alias("entity"),
                F.expr("(pr * w) DIV out_w").alias("c"),
            )
        )
        summed = contrib.groupBy("entity").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(summed, "entity", "left")
            .select(
                "entity",
                (
                    teleport + F.expr(f"({damping_pct} * coalesce(s, 0)) DIV 100")
                ).cast("bigint").alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.withColumnRenamed("pr", "pr_scaled")


def _co_neighbor_pairs(sym: DataFrame, max_neighbors: int) -> DataFrame:
    """(entity_a, entity_b, z), entity_a < entity_b, once per neighbor z
    the two share, for every pair *sym* (from ``_sym_edges``) does not
    already connect — the candidate generator of the link predictors.
    Pairs are blocked per shared neighbor, and each neighbor list is capped
    at its ``max_neighbors`` smallest ids, so a hub of degree d emits at
    most max_neighbors² pairs, not d²."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy("dst")
    capped = (
        sym.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= max_neighbors)
        .select(F.col("src").alias("z"), F.col("dst").alias("entity"))
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a.z") == F.col("b.z")) & (F.col("a.entity") < F.col("b.entity")))
        .select(
            F.col("a.entity").alias("entity_a"),
            F.col("b.entity").alias("entity_b"),
            F.col("a.z").alias("z"),
        )
        # drop pairs that are already edges (either direction is in sym)
        .join(
            sym.select(F.col("src").alias("entity_a"), F.col("dst").alias("entity_b")),
            ["entity_a", "entity_b"],
            "left_anti",
        )
    )


def link_prediction_cn(
    edges: DataFrame,
    max_neighbors: int = 64,
    min_common: int = 2,
) -> DataFrame:
    """Common-neighbor link prediction: score non-adjacent entity pairs by
    how many neighbors they share (Liben-Nowell & Kleinberg 2003), plus an
    integer-ppm Jaccard of their neighbor sets — the classic structural
    complement to the TransE link predictor (operators/kgtrain.py). Pairs
    already connected by an edge are anti-joined away, so every output row
    is a genuinely *predicted* link.

    Scale shape: pairs are generated per shared neighbor (the blocking
    key), and each hub's neighbor list is capped at ``max_neighbors``
    (deterministic smallest-entity order) so a hub with degree d emits at
    most max_neighbors² pairs, not d². Jaccard uses the TRUE (uncapped)
    neighbor-set sizes; all math is integer (ppm = parts-per-million via
    integer DIV), so the result is aggregation-order-independent and
    exactly twinned in DuckDB. The only window is PARTITION BY entity."""
    sym = _sym_edges(edges)
    deg = sym.groupBy(F.col("src").alias("entity")).agg(
        F.count("*").alias("degree")
    )
    pairs = (
        _co_neighbor_pairs(sym, max_neighbors)
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").alias("common_neighbors"))
        .where(F.col("common_neighbors") >= min_common)
    )
    return (
        pairs.join(deg.withColumnRenamed("entity", "entity_a").withColumnRenamed("degree", "deg_a"), "entity_a")
        .join(deg.withColumnRenamed("entity", "entity_b").withColumnRenamed("degree", "deg_b"), "entity_b")
        .select(
            "entity_a",
            "entity_b",
            "common_neighbors",
            F.expr(
                "(1000000 * common_neighbors) DIV (deg_a + deg_b - common_neighbors)"
            ).cast("bigint").alias("jaccard_ppm"),
        )
    )


def mine_rules(
    edges: DataFrame,
    max_fanout: int = 32,
    min_support: int = 2,
    min_conf_ppm: int = 100_000,
) -> DataFrame:
    """AMIE-lite horn-rule mining: find 2-hop composition rules
    r1(x, y) ∧ r2(y, z) ⇒ r3(x, z) with their support (number of distinct
    (x, z) body instances for which the head edge exists) and standard
    confidence (support / body instances, integer ppm) — Galárraga et al.
    2013 restricted to length-2 closed rules, the ontology-induction step
    the reference's flat RAG store has no analog for.

    Scale shape: the body join reuses the metapath capping discipline —
    per-middle-entity in/out lists are each capped at ``max_fanout``
    (deterministic (rel, endpoint) order; a hub contributes ≤ max_fanout²
    body instances). The head probe is one equi-join on (x, z) against the
    distinct edge set, aggregation is a hash-agg on (r1, r2, r3), and all
    confidence math is integer DIV — order-independent, exact DuckDB twin.
    The only windows are PARTITION BY entity."""
    from pyspark.sql import Window

    dedup = edges.select("src", "rel", "dst").where(F.col("src") != F.col("dst")).distinct()
    w_in = Window.partitionBy("dst").orderBy("rel", "src")
    ins = (
        dedup.withColumn("rk", F.row_number().over(w_in))
        .where(F.col("rk") <= max_fanout)
        .select(F.col("src").alias("x"), F.col("rel").alias("r1"), F.col("dst").alias("mid"))
    )
    w_out = Window.partitionBy("src").orderBy("rel", "dst")
    outs = (
        dedup.withColumn("rk", F.row_number().over(w_out))
        .where(F.col("rk") <= max_fanout)
        .select(F.col("src").alias("mid"), F.col("rel").alias("r2"), F.col("dst").alias("z"))
    )
    body = (
        ins.join(outs, "mid")
        .where(F.col("x") != F.col("z"))
        .select("r1", "r2", "x", "z")
        .distinct()
    )
    body_n = body.groupBy("r1", "r2").agg(F.count("*").alias("n_body"))
    heads = dedup.select(
        F.col("src").alias("x"), F.col("rel").alias("r3"), F.col("dst").alias("z")
    )
    support = (
        body.join(heads, ["x", "z"])
        .groupBy("r1", "r2", "r3")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
    )
    return (
        support.join(body_n, ["r1", "r2"])
        .select(
            "r1",
            "r2",
            "r3",
            "support",
            F.expr("(1000000 * support) DIV n_body").cast("bigint").alias("conf_ppm"),
        )
        .where(F.col("conf_ppm") >= min_conf_ppm)
    )


def relation_properties(edges: DataFrame) -> DataFrame:
    """Per-relation algebraic property induction: for every relation,
    integer-ppm scores for symmetry (fraction of edges whose reverse also
    holds), functionality (1 / mean out-fanout per subject), and inverse
    functionality (1 / mean in-fanout per object) — the schema signals
    OWL-style reasoners ingest (owl:SymmetricProperty,
    owl:FunctionalProperty), induced from data as in AMIE/RDF2Vec
    pipelines. Complements induce_ontology (domain/range) with algebraic
    axioms.

    Scale shape: one self-equi-join on (rel, src, dst)↔(rel, dst, src) for
    symmetry and two hash-aggs for functionality — every key is
    relation-scoped; no windows, no driver state; integer DIV only, exact
    DuckDB twin."""
    dedup = edges.select("src", "rel", "dst").where(F.col("src") != F.col("dst")).distinct()
    rev = dedup.select(
        F.col("dst").alias("src"), F.col("rel").alias("rel"), F.col("src").alias("dst")
    )
    sym_n = (
        dedup.join(rev, ["src", "rel", "dst"], "left_semi")
        .groupBy("rel")
        .agg(F.count("*").alias("n_sym"))
    )
    base = dedup.groupBy("rel").agg(
        F.count("*").alias("n_edges"),
        F.countDistinct("src").alias("n_subjects"),
        F.countDistinct("dst").alias("n_objects"),
    )
    return (
        base.join(sym_n, "rel", "left")
        .select(
            "rel",
            "n_edges",
            F.expr("(1000000 * coalesce(n_sym, 0)) DIV n_edges").cast("bigint").alias("symmetric_ppm"),
            F.expr("(1000000 * n_subjects) DIV n_edges").cast("bigint").alias("functional_ppm"),
            F.expr("(1000000 * n_objects) DIV n_edges").cast("bigint").alias("inv_functional_ppm"),
        )
    )


def inverse_relations(edges: DataFrame, min_overlap: int = 2) -> DataFrame:
    """Inverse-relation detection: ordered relation pairs (r1, r2) where
    r1(x, y) frequently co-occurs with r2(y, x) — the owl:inverseOf
    induction signal (e.g. acquired_by / acquirer_of). Score is the
    overlap count and an integer-ppm fraction of r1's edges whose reverse
    appears under r2; r1 == r2 rows are the symmetry diagonal and are
    excluded (relation_properties covers them).

    Scale shape: one equi-join of the distinct edge set against its
    reversal on (src, dst) — relation pair aggregation is schema-scale."""
    dedup = edges.select("src", "rel", "dst").where(F.col("src") != F.col("dst")).distinct()
    n1 = dedup.groupBy("rel").agg(F.count("*").alias("n_r1"))
    rev = dedup.select(
        F.col("dst").alias("src"), F.col("rel").alias("rel2"), F.col("src").alias("dst")
    )
    return (
        dedup.join(rev, ["src", "dst"])
        .where(F.col("rel") != F.col("rel2"))
        .groupBy(F.col("rel").alias("r1"), F.col("rel2").alias("r2"))
        .agg(F.count("*").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
        .join(n1.withColumnRenamed("rel", "r1"), "r1")
        .select(
            "r1",
            "r2",
            "n_overlap",
            F.expr("(1000000 * n_overlap) DIV n_r1").cast("bigint").alias("inverse_ppm"),
        )
    )


def _landmark_bfs(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int,
    max_frontier: int | None,
    what: str,
    shared_seed: str | None = None,
) -> DataFrame:
    """(seed, entity, hop) first-reach table for a multi-source undirected
    BFS from an explicit landmark list — the shared front half of
    ``closeness``, ``harmonic_centrality`` and ``khop``. Each seed labels
    its own ball, or all seeds share ``shared_seed`` (khop's one ball).
    One shuffle join + distinct per hop; ``_cap_frontier`` caps the
    frontier at ``max_frontier`` rows per hop in deterministic
    smallest-(seed, entity) order, logs a binding cap under *what*, and
    checkpoints each hop so the loop never re-executes earlier hops."""
    if not seeds:
        raise ValueError("landmark BFS needs a non-empty seed list")
    spark = edges.sparkSession
    sym = _sym_edges(edges)
    visited = local_frame(
        spark,
        [(s if shared_seed is None else shared_seed, s, 0) for s in seeds],
        "seed string, entity string, hop int",
    )
    frontier = visited.select("seed", "entity")
    for hop in range(1, max_hops + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("entity", "src"), "src")
            .select("seed", F.col("dst").alias("entity"))
            .distinct()
            .join(visited.select("seed", "entity"), ["seed", "entity"], "left_anti")
        )
        nxt, n = _cap_frontier(
            nxt.withColumn("hop", F.lit(hop)), ["seed", "entity"], max_frontier, what, hop
        )
        if n == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("seed", "entity")
    return visited


def closeness(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int = 4,
    max_frontier: int | None = 100_000,
) -> DataFrame:
    """Landmark closeness centrality: per seed entity, BFS out to
    ``max_hops`` (undirected) and report the reached-set size, the sum of
    first-reach distances, and harmonic-style closeness as integer ppm
    ((n_reached - 1) DIV-scaled by sum of distances) — the bounded-radius
    landmark estimator (Eppstein & Wang 2004) used when exact all-pairs
    closeness is infeasible at graph scale.

    Scale shape: multi-source BFS — the frontier carries (seed, entity)
    so one pass serves all landmarks; each hop is one shuffle join +
    distinct with the same ``max_frontier`` cap discipline as khop/
    paths_between (deterministic smallest-(seed, entity) order, logged
    when it binds). Landmarks are a small explicit list (driver
    broadcast-scale), never the full node set."""
    visited = _landmark_bfs(edges, seeds, max_hops, max_frontier, "closeness")
    return visited.groupBy("seed").agg(
        (F.count("*") - F.lit(1)).cast("bigint").alias("n_reached"),
        F.sum("hop").cast("bigint").alias("sum_dist"),
        F.expr(
            "CASE WHEN sum(hop) > 0 THEN (1000000 * (count(*) - 1)) DIV sum(hop) ELSE 0 END"
        ).cast("bigint").alias("closeness_ppm"),
    )


def triple_evidence(edges: DataFrame) -> DataFrame:
    """Knowledge-Vault-style evidence aggregation (Dong et al. 2014): per
    distinct (src, rel, dst) fact, the mention count, distinct supporting
    documents and chunks, and the max / sum of extraction confidences as
    integer ppm — the feature vector a downstream truth-discovery or
    calibration model consumes (resolve_conflicts uses the same signals
    to pick winners; this exposes them per fact).

    Scale shape: one hash-agg keyed on the fact triple — partial
    aggregation collapses duplicate mentions map-side before the shuffle;
    confidence math is integer (round(conf·10⁶) per row, then max/sum),
    so the result is aggregation-order-independent with an exact DuckDB
    twin."""
    conf_ppm = F.round(F.col("conf") * 1_000_000).cast("bigint")
    return edges.groupBy("src", "rel", "dst").agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("chunk_id").alias("n_chunks"),
        F.max(conf_ppm).alias("max_conf_ppm"),
        F.sum(conf_ppm).alias("sum_conf_ppm"),
    )


def neighborhood_function(
    edges: DataFrame, max_hops: int = 2, n_registers: int = 16
) -> DataFrame:
    """ANF / neighborhood function (Palmer, Gibbons & Faloutsos, KDD 2002;
    the HyperANF idea of Boldi & Vigna 2011 with Flajolet-Martin bitmask
    counters): per entity and hop t, estimate |{y : dist(x, y) <= t}| on
    the undirected graph without ever materializing the balls. Each node
    carries ``n_registers`` 48-bit FM bitmasks; one hop = OR-ing every
    neighbor's masks into your own, so the ball's distinct-count survives
    arbitrary duplication — the whole reason this beats iterated
    ``distinct`` at graph scale (a hub's hop-2 ball can be the entire
    graph; here it is still n_registers BIGINTs).

    Determinism: register r of entity x sets bit
    ``trailing_zeros(md5_60("anf:{r}:" || x))`` (capped at 47), and both
    the propagation (bit_or) and the readout (``r_sum`` = sum over
    registers of the lowest-zero-bit position) are pure integer ops, so
    the result is aggregation-order-independent with an exact DuckDB twin.
    ``nf_est`` applies the FM estimator 2^(r_sum/R)/0.77351 (rounded to 4
    decimals so double ulp noise cannot flip the comparison).

    Scale shape: one shuffle per hop (edges ⋈ masks → hash-agg bit_or on
    dst → join back onto the node set); state per node is R*8 bytes
    regardless of ball size; localCheckpoint truncates the per-hop
    lineage. Reference analog: none (no graph layer) — this is the
    standard "how big is each entity's h-hop neighborhood / effective
    diameter" diagnostic for the materialized KG.
    """
    R = n_registers
    sym = _sym_edges(edges)
    nodes = sym.select(F.col("src").alias("entity")).distinct()

    def h60(expr: str) -> str:
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"

    init = []
    for r in range(R):
        h = h60(f"concat('anf:{r}:', entity)")
        init.append(
            f"shiftleft(CAST(1 AS BIGINT), least(bit_count({h} ^ ({h} - 1)) - 1, 47)) AS m{r}"
        )
    masks = nodes.selectExpr("entity", *init).localCheckpoint(eager=True)
    lz_sum = " + ".join(f"(bit_count(m{r} ^ (m{r} + 1)) - 1)" for r in range(R))
    snapshots = []
    for hop in range(1, max_hops + 1):
        agg = (
            sym.join(masks.withColumnRenamed("entity", "src"), "src")
            .groupBy(F.col("dst").alias("entity"))
            .agg(*[F.expr(f"bit_or(m{r})").alias(f"a{r}") for r in range(R)])
        )
        masks = (
            masks.join(agg, "entity", "left")
            .selectExpr(
                "entity",
                *[f"(m{r} | coalesce(a{r}, CAST(0 AS BIGINT))) AS m{r}" for r in range(R)],
            )
            .localCheckpoint(eager=True)
        )
        snapshots.append(
            masks.selectExpr(
                "entity",
                f"CAST({hop} AS INT) AS hop",
                f"CAST({lz_sum} AS BIGINT) AS r_sum",
                f"round(pow(2.0, ({lz_sum}) / {float(R)}) / 0.77351, 4) AS nf_est",
            )
        )
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionByName(s)
    return out


def hits(edges: DataFrame, iterations: int = 2, scale: int = 1_000_000) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the distinct (src,
    dst) digraph in **scaled integer arithmetic**: authority(y) = sum of
    hub scores over in-edges, hub(x) = sum of authority scores over
    out-edges, each renormalized per iteration by its global max via
    integer ``DIV`` (L-infinity norm — exact, unlike the usual L2 float
    norm) so partial-agg order cannot flip a bit and the DuckDB twin is
    value-exact.

    Scale shape: per iteration, one shuffle join edges ⋈ scores + one
    hash-agg per direction; the normalizer is a single global max — a
    scalar agg (AllTuples exchange of one row per partition), not a
    driver-side collect of data-scale rows. Same skew posture as
    pagerank: hub keys are AQE skew-join territory; node state is one
    BIGINT per direction."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    nodes = _graph_nodes(e).localCheckpoint(eager=True)
    auth =nodes.withColumn("a", F.lit(scale).cast("bigint"))
    hub = nodes.withColumn("h", F.lit(scale).cast("bigint"))

    def _renorm(df: DataFrame, col: str) -> DataFrame:
        mx = df.agg(F.max(col)).collect()[0][0] or 1
        return df.selectExpr("entity", f"({col} * {scale}) DIV {mx} AS {col}")

    for _ in range(iterations):
        h_raw = (
            e.join(auth.withColumnRenamed("entity", "dst"), "dst")
            .groupBy(F.col("src").alias("entity"))
            .agg(F.sum("a").alias("h"))
        )
        hub = _renorm(
            nodes.join(h_raw, "entity", "left").selectExpr(
                "entity", "coalesce(h, CAST(0 AS BIGINT)) AS h"
            ),
            "h",
        ).localCheckpoint(eager=True)
        a_raw = (
            e.join(hub.withColumnRenamed("entity", "src"), "src")
            .groupBy(F.col("dst").alias("entity"))
            .agg(F.sum("h").alias("a"))
        )
        auth = _renorm(
            nodes.join(a_raw, "entity", "left").selectExpr(
                "entity", "coalesce(a, CAST(0 AS BIGINT)) AS a"
            ),
            "a",
        ).localCheckpoint(eager=True)
    return (
        hub.join(auth, "entity")
        .selectExpr("entity", "h AS hub_scaled", "a AS auth_scaled")
    )


def random_walks(
    edges: DataFrame, n_walks: int = 2, length: int = 3
) -> DataFrame:
    """Deterministic DeepWalk-style random-walk corpus (Perozzi et al.
    2014): ``n_walks`` walks of up to ``length`` steps from every node of
    the distinct (src, dst) digraph, where step t from node v on walk
    (start, w) moves to the neighbor ranked
    ``md5_60("rw:" || start || ":" || w || ":" || t || ":" || v) mod
    out_degree(v)`` in dst-sorted order — a hash-seeded pseudo-random
    choice that is reproducible across engines and cluster sizes (no RNG
    state, no driver coordination). Walks stop early at sinks.

    Output is the exploded corpus (start, walk_id, step, entity) a
    downstream skip-gram trainer consumes. Scale shape: neighbor ranks
    are one partitioned window over src; each step is one shuffle join
    frontier ⋈ ranked-neighbors on (entity, rank); rows are bounded by
    nodes x n_walks x (length+1). Reference analog: none — this is the
    graph-embedding training-corpus generator for the materialized KG."""
    from pyspark.sql import Window

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    nbr = e.withColumn(
        "rank", F.row_number().over(Window.partitionBy("src").orderBy("dst"))
    )
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    cur = _graph_nodes(e).select(
        F.col("entity").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("walk_id"),
        F.col("entity"),
    )
    out = cur.withColumn("step", F.lit(0).cast("int"))
    for t in range(1, length + 1):
        choice = F.expr(
            "CAST(conv(substring(md5(concat('rw:', start, ':', walk_id, ':', "
            f"{t}, ':', entity)), 1, 15), 16, 10) AS BIGINT)"
        )
        cur = (
            cur.join(deg.withColumnRenamed("src", "entity"), "entity")
            .withColumn("rank", (choice % F.col("out_deg") + 1).cast("int"))
            .join(
                nbr.withColumnRenamed("src", "entity"), ["entity", "rank"]
            )
            .select("start", "walk_id", F.col("dst").alias("entity"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(cur.withColumn("step", F.lit(t).cast("int")))
    return out.select("start", "walk_id", "step", "entity")


def community_supergraph(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Graph summarization by community rollup: run label propagation,
    then collapse the edge multiset to one row per (source community,
    destination community) with edge and relation counts — the
    "supergraph" view (Navlakha et al. 2008 summarization shape) an
    analyst reads when the KG itself is too big to look at, and the input
    to coarse-grained layout / skew planning.

    Scale shape: LPA's per-round shuffle (see label_propagation) + two
    label-map joins on the entity keys + one hash-agg keyed on the
    community pair; output cardinality is |communities|², typically
    orders of magnitude below |E|. Mention multiplicity is preserved
    (raw edge rows, not distinct), so n_edges weights the rollup the way
    evidence counts weight the KG."""
    labels = label_propagation(edges, iterations=iterations)
    e = edges.select("src", "rel", "dst").where(F.col("src") != F.col("dst"))
    return (
        e.join(
            labels.select(F.col("entity").alias("src"), F.col("label").alias("c_src")),
            "src",
        )
        .join(
            labels.select(F.col("entity").alias("dst"), F.col("label").alias("c_dst")),
            "dst",
        )
        .groupBy("c_src", "c_dst")
        .agg(
            F.count("*").alias("n_edges"),
            F.countDistinct("rel").alias("n_rels"),
        )
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution over the raw edge multiset — the
    first diagnostic read on any new graph (power-law check, hub census,
    shuffle-partition sizing input). Bucket b holds entities with total
    degree in [2^b, 2^(b+1)); the boundary is computed as
    length(bin(degree)) - 1, an integer bit-length, so no float log can
    disagree across engines. One hash-agg after the degrees() joins."""
    return (
        degrees(edges)
        .withColumn("bucket", (F.length(F.bin(F.col("degree"))) - 1).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_entities"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
            F.sum("degree").cast("bigint").alias("sum_degree"),
        )
    )


def node2vec_walks(
    edges: DataFrame,
    n_walks: int = 2,
    length: int = 3,
    w_return: int = 25,
    w_near: int = 100,
    w_far: int = 50,
) -> DataFrame:
    """Deterministic node2vec walks (Grover & Leskovec 2016): like
    random_walks, but from step 2 onward the neighbor choice is biased by
    where the walk just came from — weight ``w_return`` for stepping back
    to the previous node (1/p), ``w_near`` for a neighbor the previous
    node also points to (distance 1 — BFS-ish), ``w_far`` otherwise
    (1/q — DFS-ish). Defaults encode p=4, q=2. Weights are integers and
    the pick is ``md5_60(state) mod total_weight`` resolved against an
    integer cumulative sum over the dst-sorted neighbor list, so the walk
    is bit-reproducible in any engine — no RNG state.

    Scale shape: per step, one shuffle join frontier ⋈ out-edges, one
    broadcast-scale left join marking prev→candidate edges, and two
    windows PARTITIONED by (start, walk_id) — each partition is one
    walk-state's neighbor list, bounded by the max out-degree (hub
    neighbor lists are the usual salting/cap territory; document before
    walking a celebrity graph). Output rows bounded by
    nodes × n_walks × (length+1)."""
    from pyspark.sql import Window

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    nbr = e.withColumn(
        "rank", F.row_number().over(Window.partitionBy("src").orderBy("dst"))
    )
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    cur = _graph_nodes(e).select(
        F.col("entity").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("walk_id"),
        F.col("entity").alias("prev"),  # placeholder; unused at step 1
        F.col("entity"),
    )
    out = cur.select(
        "start", "walk_id", F.lit(0).cast("int").alias("step"), "entity"
    )
    for t in range(1, length + 1):
        if t == 1:
            choice = F.expr(
                "CAST(conv(substring(md5(concat('rw:', start, ':', walk_id, ':', "
                f"{t}, ':', entity)), 1, 15), 16, 10) AS BIGINT)"
            )
            cur = (
                cur.join(deg.withColumnRenamed("src", "entity"), "entity")
                .withColumn("rank", (choice % F.col("out_deg") + 1).cast("int"))
                .join(nbr.withColumnRenamed("src", "entity"), ["entity", "rank"])
                .select(
                    "start", "walk_id",
                    F.col("entity").alias("prev"),
                    F.col("dst").alias("entity"),
                )
                .localCheckpoint(eager=True)
            )
        else:
            near = e.select(
                F.col("src").alias("prev"), F.col("dst").alias("x"), F.lit(1).alias("near")
            )
            cand = (
                cur.join(e.withColumnRenamed("src", "entity"), "entity")
                .withColumnRenamed("dst", "x")
                .join(near, ["prev", "x"], "left")
                .withColumn(
                    "w",
                    F.when(F.col("x") == F.col("prev"), F.lit(w_return))
                    .when(F.col("near").isNotNull(), F.lit(w_near))
                    .otherwise(F.lit(w_far))
                    .cast("bigint"),
                )
            )
            wk = Window.partitionBy("start", "walk_id")
            cum_w = wk.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
            r = F.expr(
                "CAST(conv(substring(md5(concat('n2v:', start, ':', walk_id, ':', "
                f"{t}, ':', entity)), 1, 15), 16, 10) AS BIGINT)"
            )
            cand = (
                cand.withColumn("cum", F.sum("w").over(cum_w))
                .withColumn("tot", F.sum("w").over(wk))
                .withColumn("r", r % F.col("tot"))
            )
            cur = (
                cand.where((F.col("r") >= F.col("cum") - F.col("w")) & (F.col("r") < F.col("cum")))
                .select(
                    "start", "walk_id",
                    F.col("entity").alias("prev"),
                    F.col("x").alias("entity"),
                )
                .localCheckpoint(eager=True)
            )
        out = out.unionByName(
            cur.select("start", "walk_id", F.lit(t).cast("int").alias("step"), "entity")
        )
    return out.select("start", "walk_id", "step", "entity")


def strongly_connected_components(
    edges: DataFrame, max_outer_rounds: int = 8, max_prop_rounds: int = 50
) -> DataFrame:
    """Directed strongly connected components via **trim + forward
    coloring + backward confirmation** (the FW-BW/coloring family of
    Fleischer et al. 2000 / Orzan 2004 / Slota et al. 2014, restated as
    pure DataFrame rounds). SCC id of v = the minimum entity id mutually
    reachable with v — the same min-id convention connected_components
    uses, so downstream consumers treat both label tables identically.

    Outer round:
      1. **trim**: iteratively peel in-degree-0 / out-degree-0 nodes —
         each is its own (trivial) SCC. This removes the DAG fringe that
         dominates real KGs before any propagation work.
      2. **color**: propagate min-ancestor-id forward along edge
         direction to a fixpoint: color(v) = min id that reaches v.
      3. **confirm**: within each color, propagate "reaches the color
         root" backward to a fixpoint. Nodes confirmed both directions
         form the SCC of that root and leave the active set.
    Every confirmed color removes at least its root each outer round, so
    progress is guaranteed. Every cap raises ``ValueError`` rather than
    return wrong labels: ``max_outer_rounds`` when the graph has not fully
    resolved, and ``max_prop_rounds`` when the color or confirm loop
    (both run under ``_fixed_point``) has not reached its fixed point — a
    directed cycle of n nodes needs about n color rounds. The trim loop is
    best-effort peeling and may stop at ``max_prop_rounds``; whatever it
    leaves, the color and confirm loops resolve. At 10^12-edge scale raise
    the caps; the per-round cost is O(|E|) shuffle like every other
    label-prop pass here.

    Output: (entity, scc) for every node of the directed graph.
    Determinism: min/bool-or aggregations only — order-independent, exact
    DuckDB twin via a transitive-closure WITH RECURSIVE (the oracle
    defines the semantics; this implements them scalably).
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active_nodes = _graph_nodes(e).localCheckpoint(eager=True)
    done_parts: list[DataFrame] = []

    for _ in range(max_outer_rounds):
        n_active = active_nodes.count()
        if n_active == 0:
            break
        # -- 1. trim the DAG fringe: nodes missing an in- or out-edge are
        # trivial SCCs of themselves. Iterate: peeling exposes new fringe.
        for _ in range(max_prop_rounds):
            srcs = e.select(F.col("src").alias("entity")).distinct()
            dsts = e.select(F.col("dst").alias("entity")).distinct()
            both = srcs.join(dsts, "entity", "inner").localCheckpoint(eager=True)
            trimmed = active_nodes.join(both, "entity", "left_anti")
            n_trim = trimmed.count()
            if n_trim == 0:
                break
            done_parts.append(
                trimmed.select("entity", F.col("entity").alias("scc")).localCheckpoint(
                    eager=True
                )
            )
            active_nodes = active_nodes.join(both, "entity", "left_semi").localCheckpoint(
                eager=True
            )
            e = (
                e.join(both.withColumnRenamed("entity", "src"), "src", "left_semi")
                .join(both.withColumnRenamed("entity", "dst"), "dst", "left_semi")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
        if active_nodes.count() == 0:
            break
        # -- 2. forward coloring: color(v) = min id with a directed path to v.
        def pull_min(color: DataFrame) -> DataFrame:
            incoming = (
                e.join(
                    color.select(F.col("entity").alias("src"), F.col("color").alias("c_in")),
                    "src",
                )
                .groupBy(F.col("dst").alias("entity"))
                .agg(F.min("c_in").alias("c_min"))
            )
            return color.join(incoming, "entity", "left").select(
                "entity", F.least("color", F.coalesce("c_min", "color")).alias("color")
            )

        color = _fixed_point(
            active_nodes.select("entity", F.col("entity").alias("color")),
            pull_min,
            max_prop_rounds,
            "strongly_connected_components color loop: max_prop_rounds",
        )
        # -- 3. backward confirmation within each color: can v reach its root?
        ec = (
            e.join(color.withColumnRenamed("entity", "src").withColumnRenamed("color", "c_src"), "src")
            .join(color.withColumnRenamed("entity", "dst").withColumnRenamed("color", "c_dst"), "dst")
            .where(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst", F.col("c_src").alias("color"))
            .localCheckpoint(eager=True)
        )

        def reach_root(confirmed: DataFrame) -> DataFrame:
            new = (
                ec.join(
                    confirmed.select(F.col("entity").alias("dst"), "color"),
                    ["dst", "color"],
                )
                .select(F.col("src").alias("entity"), "color")
                .distinct()
            )
            return confirmed.unionByName(new).distinct()

        confirmed = _fixed_point(
            color.where(F.col("entity") == F.col("color")),
            reach_root,
            max_prop_rounds,
            "strongly_connected_components confirm loop: max_prop_rounds",
        )
        done_parts.append(
            confirmed.select("entity", F.col("color").alias("scc")).localCheckpoint(
                eager=True
            )
        )
        active_nodes = active_nodes.join(confirmed, "entity", "left_anti").localCheckpoint(
            eager=True
        )
        e = (
            e.join(active_nodes.withColumnRenamed("entity", "src"), "src", "left_semi")
            .join(active_nodes.withColumnRenamed("entity", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        if active_nodes.count() > 0:
            raise ValueError(
                "strongly_connected_components: graph did not resolve within "
                f"max_outer_rounds={max_outer_rounds}; raise the cap"
            )
    if not done_parts:  # edgeless input: no nodes, empty labeled result
        return active_nodes.select("entity", F.col("entity").alias("scc"))
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) co-occurrence counts from a walk corpus — the
    skip-gram training-pair extraction step of DeepWalk/node2vec (Perozzi
    et al. 2014 §4.2): within each walk, every ordered pair of nodes at
    step distance 1..window becomes a training pair, symmetrized
    (context windows look both ways) and aggregated to integer counts.

    Input: (start, walk_id, step, entity) as produced by random_walks /
    node2vec_walks. One self-equi-join on the walk key with a bounded
    step-distance predicate (the per-walk row count is length+1, so the
    join fan-out per walk is O(length·window), not quadratic blowup),
    then one hash-agg. Output: (center, context, n_pairs).
    """
    a = walks.select(F.col("start").alias("s"), F.col("walk_id").alias("w"),
                     F.col("step").alias("i"), F.col("entity").alias("center"))
    b = walks.select(F.col("start").alias("s"), F.col("walk_id").alias("w"),
                     F.col("step").alias("j"), F.col("entity").alias("context"))
    return (
        a.join(b, ["s", "w"])
        .where(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("n_pairs"))
    )


def effective_diameter(
    edges: DataFrame, max_hops: int = 4, n_registers: int = 16
) -> DataFrame:
    """Graph-level neighborhood-growth curve and effective-diameter
    readout from the ANF sketches (Palmer et al. 2002 §3: the effective
    diameter is the smallest h where the cumulative reachable-pair count
    hits 90% of its max-hop value). One row per hop with the summed
    ball-size estimate, its ppm fraction of the max-hop total, and the
    90%-threshold flag; the smallest flagged hop is the effective
    diameter.

    All arithmetic after the per-node FM estimate is integer: nf_est
    (already rounded to 4 decimals by neighborhood_function) is scaled
    ×10000 to BIGINT before the sum, so the aggregation is
    order-independent and the DuckDB twin is exact — summing raw doubles
    across 10^9 entities would be ulp-order-dependent. Cost on top of
    neighborhood_function: one hash-agg over |V|·max_hops rows.
    """
    nf = neighborhood_function(edges, max_hops=max_hops, n_registers=n_registers)
    per_hop = (
        nf.withColumn("nf_i", F.expr("CAST(round(nf_est * 10000) AS BIGINT)"))
        .groupBy("hop")
        .agg(F.sum("nf_i").alias("nf_total"))
    )
    mx = per_hop.agg(F.max("nf_total").alias("nf_max"))
    return (
        per_hop.crossJoin(F.broadcast(mx))
        .select(
            "hop",
            "nf_total",
            F.expr("(1000000 * nf_total) DIV nf_max").cast("bigint").alias("frac_ppm"),
            (F.col("nf_total") * 10 >= F.col("nf_max") * 9).alias("reaches_p90"),
        )
    )


def link_prediction_ra(
    edges: DataFrame,
    max_neighbors: int = 64,
    min_common: int = 2,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lü & Zhang 2009): score
    a non-adjacent pair (a, b) by Σ_z 1/deg(z) over their common
    neighbors z — hubs route less "resource" per neighbor pair, so a
    shared rare neighbor counts more than a shared celebrity, which is
    exactly the correction common-neighbor counting lacks. Scored in
    integer ppm (1000000 DIV deg(z), summed) so the result is
    aggregation-order-independent with an exact DuckDB twin.

    Same candidate-generation shape as link_prediction_cn: pairs are
    blocked per shared neighbor with the neighbor list capped at
    ``max_neighbors`` (deterministic dst-order) — a degree-d hub emits at
    most max_neighbors² candidate pairs — then existing edges are
    anti-joined away. The 1/deg(z) weight uses z's TRUE degree, not the
    capped one. Output: (entity_a, entity_b, common_neighbors, ra_ppm).
    """
    sym = _sym_edges(edges)
    deg = sym.groupBy(F.col("src").alias("z")).agg(F.count("*").alias("z_deg"))
    return (
        _co_neighbor_pairs(sym, max_neighbors)
        .join(deg, "z")
        .groupBy("entity_a", "entity_b")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(F.expr("1000000 DIV z_deg")).cast("bigint").alias("ra_ppm"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-entity local clustering coefficient (Watts & Strogatz 1998):
    lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) over the undirected simple
    graph, reported in integer ppm so the aggregation (and the DuckDB
    twin) is exact — lcc_ppm = (2_000_000 · T(v)) DIV (d·(d−1)). One row
    per entity with degree ≥ 2 (degree-1 nodes have no defined
    coefficient); entities in no triangle report 0.

    Scale shape: reuses the degree-oriented O(m^1.5) wedge join of
    ``_triangle_list`` via ``triangles`` (hub-safe), plus one degree
    hash-agg and one left join — nothing here outgrows the triangle count
    itself.
    """
    deg = _und_degrees(_undirected_pairs(edges)).withColumnRenamed("d", "degree")
    tri = triangles(edges)
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, "entity", "left")
        .select(
            "entity",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                "(2000000 * coalesce(n_triangles, 0)) DIV (degree * (degree - 1))"
            ).cast("bigint").alias("lcc_ppm"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Graph-level degree assortativity (Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetrized undirected edge
    list (each edge contributes both orientations, so Σx = Σy and
    Σx² = Σy² and the classic formula r = (M·Σxy − (Σx)²) /
    (M·Σx² − (Σx)²) applies). The four moments are exact BIGINT hash-agg
    sums of small integers — aggregation-order-independent — and only the
    final ratio is computed in DOUBLE (cast from the exact sums in the
    same expression order as the DuckDB twin, then rounded to 6
    decimals). Positive r = hubs attach to hubs; KG mention graphs are
    typically disassortative (r < 0) because hub entities collect
    long tails of rare neighbors.

    Scale shape: one distinct, two degree joins, one global agg — the
    single-row output is the reduction, so no skew concern beyond the
    degree join itself (AQE handles the hub key).
    """
    sym = _sym_edges(edges)
    deg = sym.groupBy(F.col("src").alias("entity")).agg(F.count("*").alias("d"))
    dx = deg.select(F.col("entity").alias("src"), F.col("d").alias("x"))
    dy = deg.select(F.col("entity").alias("dst"), F.col("d").alias("y"))
    return (
        sym.join(dx, "src")
        .join(dy, "dst")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sum_xy"),
            F.sum("x").cast("bigint").alias("sum_x"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_x2"),
        )
        .select(
            "m",
            "sum_xy",
            "sum_x",
            "sum_x2",
            F.round(
                (
                    F.col("m").cast("double") * F.col("sum_xy").cast("double")
                    - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
                )
                / (
                    F.col("m").cast("double") * F.col("sum_x2").cast("double")
                    - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
                ),
                6,
            ).alias("assortativity"),
        )
    )


def katz_centrality(
    edges: DataFrame, iterations: int = 3, alpha_inv: int = 4
) -> DataFrame:
    """Truncated Katz centrality (Katz 1953): c(v) = Σ_{i=1..k} α^i ·
    walks_i(v), where walks_i(v) counts directed length-i walks ending at
    v and α = 1/alpha_inv. Scored entirely in integers by multiplying
    through by alpha_inv^k: katz_scaled(v) = Σ_i walks_i(v) ·
    alpha_inv^(k−i) — exact, aggregation-order-independent, and the
    DuckDB twin unrolls the same k matrix-vector rounds as CTEs. Only
    entities with ≥1 inbound walk appear (sources score 0 and are
    omitted).

    Scale shape: k rounds of (join on src → hash-agg on dst), one shuffle
    each, lineage truncated per round with localCheckpoint — the sparse
    A^T·x iteration. Walk counts grow like deg^i, so BIGINT holds through
    k=3 even for 10^6-degree hubs; the α < 1 damping is what keeps the
    *score* meaningful, the integer scaling is exactness bookkeeping.
    """
    if iterations < 1:
        raise ValueError("katz_centrality needs iterations >= 1")
    g = edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    walks = _graph_nodes(g).withColumn("w", F.lit(1).cast("bigint"))
    contribs: list[DataFrame] = []
    for i in range(1, iterations + 1):
        walks = (
            g.join(walks.withColumnRenamed("entity", "src"), "src")
            .groupBy(F.col("dst").alias("entity"))
            .agg(F.sum("w").cast("bigint").alias("w"))
            .localCheckpoint(eager=True)
        )
        weight = alpha_inv ** (iterations - i)
        contribs.append(
            walks.select("entity", (F.col("w") * F.lit(weight)).alias("c"))
        )
    out = contribs[0]
    for c in contribs[1:]:
        out = out.unionByName(c)
    return out.groupBy("entity").agg(
        F.sum("c").cast("bigint").alias("katz_scaled")
    )


def relation_reachability(
    edges: DataFrame,
    rel: str,
    max_hops: int = 3,
    max_frontier: int | None = 100_000,
) -> DataFrame:
    """Bounded transitive closure over ONE relation — the SPARQL property
    path ``rel+`` with a hop limit: every (src, dst, hops) pair connected
    by a chain of ``rel`` edges of length ≤ ``max_hops``, with ``hops``
    the minimum chain length. The workhorse for hierarchy queries
    (part_of+, subclass_of+, reports_to+) a KG consumer runs constantly.

    Scale shape: BFS layering — each hop is one equi-join on the frontier
    + distinct + anti-join against the seen set, so first reach IS the
    minimum hop count; the same ``max_frontier`` cap discipline as khop /
    paths_between (deterministic order, logged when binding) bounds a
    dense hierarchy's closure explosion, and localCheckpoint truncates
    lineage per hop."""
    g = (
        edges.where((F.col("rel") == rel) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
    )
    reach = g.withColumn("hops", F.lit(1)).localCheckpoint(eager=True)
    frontier = g
    for h in range(2, max_hops + 1):
        nxt = (
            frontier.withColumnRenamed("dst", "mid")
            .join(g.withColumnRenamed("src", "mid"), "mid")
            .select("src", "dst")
            .distinct()
            .join(reach.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        nxt, n = _cap_frontier(
            nxt.withColumn("hops", F.lit(h)), ["src", "dst"], max_frontier,
            f"relation_reachability (rel={rel})", h,
        )
        if n == 0:
            break
        reach = reach.unionByName(nxt)
        frontier = nxt.select("src", "dst")
    return reach


def maximal_independent_set(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Deterministic Luby maximal-independent-set over the undirected
    distinct edge set (Luby 1986, with md5 hash priorities in place of
    RNG so every engine — and every rerun — selects the identical set):
    each round, an undecided node with a round-salted hash priority
    STRICTLY below all its undecided neighbors' joins the MIS; its
    neighbors become covered; repeat. The KG use is anchor selection — a
    spread-out, non-adjacent entity subset for landmark indexing or
    summarization, picked without any driver-side state.

    Returns (entity, status, round): status ``mis`` (member, with its
    selection round), ``covered`` (dominated by a member), or
    ``undecided`` (round 0) for nodes still open after ``rounds`` —
    expected-O(log n) rounds decide everything, and strict hash
    comparison means two adjacent nodes can never both enter.

    Per round: one equi-join restricting edges to undecided endpoints,
    one min hash-agg of neighbor priorities, and anti-joins to shrink the
    undecided set — two shuffles on the entity key at any scale, with
    ``localCheckpoint`` truncating lineage per round."""
    sym = _sym_edges(edges).toDF("entity", "nbr").localCheckpoint(eager=True)
    und = sym.select("entity").distinct().localCheckpoint(eager=True)
    decided: DataFrame | None = None
    for r in range(1, rounds + 1):
        pri = F.expr(
            f"CAST(conv(substring(md5(concat('mis:{r}:', entity)), 1, 15), 16, 10) AS BIGINT)"
        )
        undp = und.withColumn("p", pri)
        e_r = sym.join(und, "entity").join(
            und.select(F.col("entity").alias("nbr")), "nbr"
        )
        nbr_min = (
            e_r.join(undp.select(F.col("entity").alias("nbr"), F.col("p").alias("np")), "nbr")
            .groupBy("entity")
            .agg(F.min("np").alias("min_np"))
        )
        mis_r = (
            undp.join(nbr_min, "entity", "left")
            .where(F.col("min_np").isNull() | (F.col("p") < F.col("min_np")))
            .select("entity")
            .withColumn("status", F.lit("mis"))
            .withColumn("round", F.lit(r))
        )
        cov_r = (
            e_r.join(mis_r.select(F.col("entity").alias("nbr")), "nbr")
            .select("entity")
            .distinct()
            .join(mis_r.select("entity"), "entity", "left_anti")
            .withColumn("status", F.lit("covered"))
            .withColumn("round", F.lit(r))
        )
        new_decided = mis_r.unionByName(cov_r).localCheckpoint(eager=True)
        decided = new_decided if decided is None else decided.unionByName(new_decided)
        und = und.join(new_decided.select("entity"), "entity", "left_anti").localCheckpoint(
            eager=True
        )
        if und.isEmpty():
            break
    leftover = und.withColumn("status", F.lit("undecided")).withColumn("round", F.lit(0))
    return decided.unionByName(leftover) if decided is not None else leftover


def maximal_matching(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Deterministic distributed maximal matching over the undirected
    distinct edge set — the local-dominant-edge algorithm (Hoepman 2004 /
    Manne–Bisseling), with md5 round-salted EDGE priorities in place of
    RNG: each round, an edge whose priority is the strict minimum at BOTH
    endpoints joins the matching; its endpoints leave the graph; repeat.
    The pipeline use is merge scheduling — pair up near-duplicate
    candidates so every document participates in at most one merge per
    pass, with no coordinator.

    Returns (a, b, round) canonical matched pairs. Two selected edges can
    never share a node (each node has one strict minimum); md5 priorities
    over distinct (a, b) inputs make ties vanishingly improbable AND
    engine-identical either way, so reruns and the DuckDB twin select the
    same matching. Per round: one explode-to-endpoint union, one min
    hash-agg per node, two equi-joins back, two anti-joins to drop matched
    endpoints — all narrow-key shuffles, lineage truncated per round."""
    cand = _undirected_pairs(edges).localCheckpoint(eager=True)
    matched: DataFrame | None = None
    for r in range(1, rounds + 1):
        ep = cand.withColumn(
            "p",
            F.expr(
                f"CAST(conv(substring(md5(concat('mm:{r}:', a, '>', b)), 1, 15), 16, 10) AS BIGINT)"
            ),
        )
        inc = ep.select(F.col("a").alias("node"), "p").unionByName(
            ep.select(F.col("b").alias("node"), "p")
        )
        nmin = inc.groupBy("node").agg(F.min("p").alias("minp"))
        sel = (
            ep.join(
                nmin.select(F.col("node").alias("a"), F.col("minp").alias("ma")), "a"
            )
            .join(nmin.select(F.col("node").alias("b"), F.col("minp").alias("mb")), "b")
            .where((F.col("p") == F.col("ma")) & (F.col("p") == F.col("mb")))
            .select("a", "b")
            .withColumn("round", F.lit(r))
            .localCheckpoint(eager=True)
        )
        matched = sel if matched is None else matched.unionByName(sel)
        used = _graph_nodes(sel.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        cand = (
            cand.join(used.select(F.col("entity").alias("a")), "a", "left_anti")
            .join(used.select(F.col("entity").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        if cand.isEmpty():
            break
    assert matched is not None
    return matched


def partition_modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over the undirected distinct
    edge set — the one-row quality score a KG pipeline dashboards for every
    community detection run (Newman & Girvan 2004):

        Q = intra/m − Σ_c (d_c / 2m)²  =  (4·m·intra − Σ_c d_c²) / (4m²)

    with m undirected edges, intra the count whose endpoints share a label,
    and d_c the degree mass of community c. The numerator and denominator
    are exact BIGINT products of hash-agg counts (order-independent, so the
    DuckDB twin is exact); the final ratio is one double division.
    ``labels`` is any (entity, label) partition — label_propagation output
    in the suite query.

    Scale shape: canonical-pair distinct + degree hash-agg, two label
    equi-joins for the intra count, one per-label degree-mass agg, then
    four one-row broadcast crossJoins — three global reductions, no driver
    state, no window.
    """
    und = _undirected_pairs(edges)
    deg = _und_degrees(und)
    m = und.agg(F.count("*").cast("bigint").alias("n_edges"))
    intra = (
        und.join(labels.select(F.col("entity").alias("a"), F.col("label").alias("la")), "a")
        .join(labels.select(F.col("entity").alias("b"), F.col("label").alias("lb")), "b")
        .where(F.col("la") == F.col("lb"))
        .agg(F.count("*").cast("bigint").alias("intra_edges"))
    )
    dmass = (
        labels.join(deg, "entity")
        .groupBy("label")
        .agg(F.sum("d").alias("dsum"))
    )
    s2 = dmass.agg(
        F.coalesce(F.sum(F.col("dsum") * F.col("dsum")), F.lit(0))
        .cast("bigint")
        .alias("dsum_sq")
    )
    ncom = labels.agg(F.countDistinct("label").cast("bigint").alias("n_communities"))
    return (
        m.crossJoin(F.broadcast(ncom))
        .crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(s2))
        .select(
            "n_edges",
            "n_communities",
            "intra_edges",
            F.expr("4 * n_edges * intra_edges - dsum_sq").cast("bigint").alias("q_num"),
            F.expr("4 * n_edges * n_edges").cast("bigint").alias("q_den"),
            F.expr(
                "CASE WHEN n_edges > 0 THEN round(CAST(4 * n_edges * intra_edges - dsum_sq AS DOUBLE)"
                " / CAST(4 * n_edges * n_edges AS DOUBLE), 6) END"
            ).alias("modularity"),
        )
    )


def graph_stats(edges: DataFrame) -> DataFrame:
    """One-row structural census of the KG — the summary a pipeline
    operator dashboards after every build: node/edge counts, max degree,
    density, global transitivity (3·triangles / wedges, Newman 2003), and
    directed reciprocity (fraction of directed edges whose reverse also
    exists). Every ratio is integer ppm over exact BIGINT counts, so the
    DuckDB twin is exact and the aggregation is order-independent.

    Scale shape: one distinct + degree hash-agg for the census, the
    O(m^1.5) oriented wedge join for the triangle total, and one
    self-join for reciprocity — three global reductions to a single row,
    no driver-side state.
    """
    directed = edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    rev = directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = directed.join(rev, ["src", "dst"], "left_semi")
    deg = _und_degrees(_undirected_pairs(directed))
    census = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        (F.sum("d") / F.lit(2)).cast("bigint").alias("n_edges_und"),
        F.max("d").cast("bigint").alias("max_degree"),
        F.sum(F.expr("d * (d - 1)")).cast("bigint").alias("wedges2x"),
    )
    tri_total = triangles(edges).agg(
        (F.coalesce(F.sum("n_triangles"), F.lit(0)) / F.lit(3))
        .cast("bigint")
        .alias("n_triangles")
    )
    counts = directed.agg(F.count("*").cast("bigint").alias("n_edges_directed"))
    recip_n = recip.agg(F.count("*").cast("bigint").alias("n_reciprocal"))
    return (
        census.crossJoin(F.broadcast(tri_total))
        .crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(recip_n))
        .select(
            "n_nodes",
            "n_edges_directed",
            "n_edges_und",
            "max_degree",
            F.expr(
                "CASE WHEN n_nodes > 1 THEN (1000000 * 2 * n_edges_und) DIV (n_nodes * (n_nodes - 1)) ELSE 0 END"
            ).cast("bigint").alias("density_ppm"),
            "n_triangles",
            F.expr(
                "CASE WHEN wedges2x > 0 THEN (1000000 * 6 * n_triangles) DIV wedges2x ELSE 0 END"
            ).cast("bigint").alias("transitivity_ppm"),
            F.expr(
                "CASE WHEN n_edges_directed > 0 THEN (1000000 * n_reciprocal) DIV n_edges_directed ELSE 0 END"
            ).cast("bigint").alias("reciprocity_ppm"),
        )
    )


def wl_colors(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Weisfeiler-Leman (1-WL) color refinement (Weisfeiler & Leman 1968;
    Shervashidze et al. 2011 for the kernel form): start every node with
    the same color and repeatedly set color(v) = md5(color(v) ||
    sorted-multiset of neighbor colors). After r rounds two nodes share a
    color only if their radius-r neighborhoods are 1-WL-indistinguishable
    — the standard structural fingerprint for graph dedup / entity-role
    discovery, and exactly the expressiveness bound of message-passing
    GNNs (Xu et al. 2019). Colors are 60-bit integers from the md5 hex
    prefix, so the DuckDB twin is exact.

    Scale shape: per round, one shuffle (groupBy dst collecting neighbor
    colors into a SORTED array — deterministic, never relies on
    collect_list order) + one hash; lineage truncated per round. The
    per-node state is one integer; the transient sorted neighbor array is
    bounded by degree, the same exposure every neighborhood aggregation
    here has (cap upstream via skew_report + salting if a 10^6-degree hub
    matters).
    """
    sym = _sym_edges(edges)
    nodes = sym.select(F.col("src").alias("entity")).distinct()
    colors = nodes.withColumn("color", F.lit(0).cast("bigint"))
    for _ in range(rounds):
        neigh = (
            sym.join(
                colors.select(F.col("entity").alias("src"), F.col("color").alias("nc")),
                "src",
            )
            .groupBy(F.col("dst").alias("entity"))
            .agg(
                F.concat_ws(",", F.sort_array(F.collect_list(F.col("nc").cast("string"))))
                .alias("sig")
            )
        )
        colors = (
            colors.join(neigh, "entity", "left")
            .select(
                "entity",
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("color").cast("string"),
                                F.lit("|"),
                                F.coalesce(F.col("sig"), F.lit("")),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("bigint")
                .alias("color"),
            )
            .localCheckpoint(eager=True)
        )
    return colors


def ktruss(edges: DataFrame, k: int = 3, max_rounds: int = 64) -> DataFrame:
    """k-truss decomposition (Cohen 2008): iteratively delete every
    undirected edge supported by fewer than (k−2) triangles until a fixed
    point — the edge-level cohesion analog of k-core, and the standard
    "keep only corroborated relationships" densification step before
    community detection on a noisy extracted KG. Returns the surviving
    canonical edges with their final support.

    Scale shape: each round re-lists triangles with ``_triangle_list``
    (the degree-oriented O(m^1.5) wedge join ``triangles`` uses,
    hub-safe), then one hash-agg for per-edge support and one semi-join
    filter; the rounds run under ``_fixed_point`` to the TRUE fixed point
    (a round that deletes nothing). Deep peeling cascades (e.g. a strip of
    triangles) need one round per cascade step, so the ``max_rounds``
    default is generous; rounds that end at it before the fixed point
    raise ``ValueError`` instead of returning a supergraph of the k-truss.
    The DuckDB twin unrolls a fixed round count; peeling is monotone and
    the fixed point is idempotent, so the unrolled twin equals the
    converged result whenever convergence happens within the unroll depth.
    """
    if k < 2:
        raise ValueError("ktruss needs k >= 2")

    def support(e: DataFrame) -> DataFrame:
        tri = _triangle_list(e)
        # each triangle (x, y, z) supports its three canonical edges
        edge_hits = (
            tri.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .unionByName(
                tri.select(F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b"))
            )
            .unionByName(
                tri.select(F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b"))
            )
        )
        return edge_hits.groupBy("a", "b").agg(F.count("*").alias("support"))

    def peel(e: DataFrame) -> DataFrame:
        return (
            e.join(support(e), ["a", "b"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
        )

    cur = _fixed_point(
        _undirected_pairs(edges).localCheckpoint(eager=True),
        peel,
        max_rounds,
        "ktruss: max_rounds",
    )
    final = support(cur)
    return (
        cur.join(final, ["a", "b"], "left")
        .select(
            F.col("a").alias("entity_a"),
            F.col("b").alias("entity_b"),
            F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support"),
        )
    )


def harmonic_centrality(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int = 4,
    max_frontier: int | None = 100_000,
) -> DataFrame:
    """Landmark harmonic centrality (Boldi & Vigna 2014): per seed,
    Σ 1/d(seed, v) over the entities first reached within ``max_hops``,
    in integer ppm (sum of 1000000 DIV hop) — harmonic handles
    disconnected graphs gracefully where closeness degenerates, because
    unreachable nodes contribute 0 instead of poisoning the mean. Shares
    the multi-source BFS (one shuffle join per hop, capped frontier) with
    ``closeness`` via ``_landmark_bfs``.
    """
    visited = _landmark_bfs(edges, seeds, max_hops, max_frontier, "harmonic_centrality")
    return visited.groupBy("seed").agg(
        (F.count("*") - F.lit(1)).cast("bigint").alias("n_reached"),
        F.sum(
            F.when(F.col("hop") > 0, F.expr("1000000 DIV hop")).otherwise(F.lit(0))
        ).cast("bigint").alias("harmonic_ppm"),
    )


def coreness(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Full core decomposition — every node's core number in one operator,
    not a single-k peel like ``kcore``: coreness(v) = the largest k such
    that v survives the k-core. Computed by iterated neighborhood
    h-indices (Lü et al., Nature Physics 2016: h(0)=degree,
    h(n+1)(v) = H({h(n)(u) : u ~ v}) converges to coreness), the
    formulation that distributes: each round is one equi-join (neighbor
    values) plus one per-node h-index — no sequential min-degree peel, so
    no global priority queue. The reference's analytics layer has no graph
    decomposition at all (retrieval only: backend/services/
    retrieval_service.py); this generalizes its corroboration signal.

    Scale shape per round: join neighbor list with the current value
    vector (shuffle on entity), then the h-index per node = max over
    rank-ordered neighbor values of min(value, rank) — one window
    PARTITION BY entity (integer arithmetic only, deterministic under the
    multiset regardless of tie order). The rounds run under
    ``_fixed_point`` to the true fixed point; rounds that end at
    ``max_rounds`` before it raise ``ValueError`` instead of returning
    upper bounds on the coreness (convergence is typically
    O(diameter)-fast in practice). Values only ever decrease (monotone),
    so an unrolled oracle twin equals the converged result whenever
    convergence happens within the unroll depth.
    """
    from pyspark.sql import Window

    nbrs = _sym_edges(edges).toDF("entity", "nbr").localCheckpoint(eager=True)
    w = Window.partitionBy("entity").orderBy(F.desc("v"), F.asc("nbr"))

    def h_index(h: DataFrame) -> DataFrame:
        nbr_vals = nbrs.join(
            h.select(F.col("entity").alias("nbr"), F.col("h").alias("v")), "nbr"
        )
        return (
            nbr_vals.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .groupBy("entity")
            .agg(F.max(F.least(F.col("v"), F.col("rk"))).alias("h"))
        )

    h = _fixed_point(
        nbrs.groupBy("entity").agg(F.count("*").cast("bigint").alias("h")),
        h_index,
        max_rounds,
        "coreness: max_rounds",
    )
    return h.select("entity", F.col("h").alias("coreness"))


def property_path(
    edges: DataFrame,
    prefix_rel: str,
    plus_rel: str,
    max_hops: int = 3,
) -> DataFrame:
    """SPARQL 1.1 property path ``prefix_rel / plus_rel+`` (sequence of a
    single hop then one-or-more hops, bounded at ``max_hops`` plus-steps):
    returns every (a, c) with ``a --prefix_rel--> x --plus_rel^n--> c``
    for 1 <= n <= max_hops, with ``hops`` = the SMALLEST such n — the
    path-algebra piece the BGP operators (match_pattern and friends)
    can't express because the hop count is existential, not fixed.

    Scale shape: BFS over the plus-relation only — each round joins the
    current frontier with the (rel = plus_rel)-filtered edge scan
    (predicate pushed to parquet), then a min-hop hash-agg dedups the
    frontier so a node reached two ways never re-expands twice; lineage
    truncated per round. The bound is explicit because an unbounded ``+``
    over a 10^12-edge graph is a full transitive closure — callers opt
    into depth. No floats anywhere."""
    if max_hops < 1:
        raise ValueError("property_path needs max_hops >= 1")
    step = (
        edges.where(F.col("rel") == plus_rel)
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = (
        edges.where(F.col("rel") == prefix_rel)
        .select(F.col("src").alias("a"), F.col("dst").alias("u"))
        .distinct()
        .join(step, "u")
        .select("a", F.col("v").alias("c"), F.lit(1).cast("bigint").alias("hops"))
        .groupBy("a", "c")
        .agg(F.min("hops").alias("hops"))
        .localCheckpoint(eager=True)
    )
    out = cur
    for _ in range(1, max_hops):
        cur = (
            cur.join(step, cur["c"] == step["u"])
            .select("a", F.col("v").alias("c"), (F.col("hops") + 1).alias("hops"))
            .groupBy("a", "c")
            .agg(F.min("hops").alias("hops"))
            .join(out, ["a", "c"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if cur.isEmpty():
            break
        out = out.unionByName(cur).localCheckpoint(eager=True)
    return out


def parse_path(s: str):
    """Parse SPARQL 1.1 property-path syntax into an ``eval_path``
    expression tuple. Supported subset (over plain relation names):

    - ``a/b``   sequence          - ``a|b``  alternation
    - ``^a``    inverse           - ``(...)`` grouping
    - ``a+``    one-or-more       - ``a*``   zero-or-more
    - ``a?``    zero-or-one

    Precedence per the SPARQL grammar: quantifiers bind tightest (so
    ``^a+`` is ``^(a+)``), then ``^``, then ``/``, then ``|``. Raises
    ValueError with the offending position on malformed input."""
    import re as _re

    toks = _re.findall(r"[A-Za-z_][\w:.-]*|[/|^+*?()]|\S", s)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take(expected=None):
        nonlocal pos
        t = peek()
        if t is None or (expected is not None and t != expected):
            raise ValueError(
                f"path syntax error at token {pos} ({t!r}) in {s!r}"
                + (f": expected {expected!r}" if expected else "")
            )
        pos += 1
        return t

    _QUANT = {"+": "plus", "*": "star", "?": "opt"}

    def p_alt():
        out = [p_seq()]
        while peek() == "|":
            take("|")
            out.append(p_seq())
        return out[0] if len(out) == 1 else ("alt", *out)

    def p_seq():
        out = [p_unary()]
        while peek() == "/":
            take("/")
            out.append(p_unary())
        return out[0] if len(out) == 1 else ("seq", *out)

    def p_unary():
        if peek() == "^":
            take("^")
            return ("inv", p_unary())
        return p_postfix()

    def p_postfix():
        e = p_primary()
        while peek() in _QUANT:
            e = (_QUANT[take()], e)
        return e

    def p_primary():
        t = peek()
        if t == "(":
            take("(")
            e = p_alt()
            take(")")
            return e
        # only NAME-shaped tokens are relations — the \S lexer fallback
        # turns any stray character into its own token, which must error
        # rather than silently become a zero-match relation name
        if t is None or not _re.fullmatch(r"[A-Za-z_][\w:.-]*", t):
            raise ValueError(f"path syntax error at token {pos} ({t!r}) in {s!r}")
        return ("rel", take())

    e = p_alt()
    if pos != len(toks):
        raise ValueError(f"path syntax error: trailing {toks[pos]!r} in {s!r}")
    return e


def eval_path(edges: DataFrame, expr, max_hops: int = 3) -> DataFrame:
    """Compositional SPARQL 1.1 property-path evaluator — the full path
    algebra over the bounded-``+`` primitive ``property_path`` covers only
    as a fixed ``a/b+`` shape. ``expr`` is SPARQL path syntax (a string —
    ``"located_in/(acquired|^supplies)+"`` — parsed by ``parse_path``) or
    a nested tuple:

    - ``("rel", name)``        — one hop over ``name``
    - ``("inv", e)``           — inverse path ``^e`` (endpoints swapped)
    - ``("seq", e1, e2, ...)`` — sequence ``e1/e2/...``
    - ``("alt", e1, e2, ...)`` — alternation ``e1|e2|...``
    - ``("opt", e)``           — zero-or-one ``e?``
    - ``("plus", e)``          — one-or-more ``e+``, bounded at max_hops
    - ``("star", e)``          — zero-or-more ``e*``, same bound

    Returns distinct ``(a, c, hops)`` with ``hops`` = the exact MINIMUM
    number of base relation hops connecting a to c under the expression
    (zero-length paths from ``?``/``*`` bind every graph node to itself
    with hops 0, per the SPARQL zero-length-path semantics).

    Scale shape: every combinator is equi-join / unionByName / min
    hash-agg over (a, c, hops) frames — sequence composes by join + SUM
    then min-agg (exactly min over midpoints of summed mins), alternation
    by union + min-agg. ``plus``/``star`` run a bounded left-linear
    relaxation (exact min hops over <= max_hops repetitions even when the
    inner expression's pairs carry heterogeneous hop counts) with
    per-round lineage truncation and explicit depth opt-in (an unbounded
    ``+`` at 10^12 edges is a transitive closure). No floats, no windows,
    no driver-side path state."""
    if max_hops < 1:
        raise ValueError("eval_path needs max_hops >= 1")
    if isinstance(expr, str):
        expr = parse_path(expr)

    def pairs(e) -> DataFrame:
        if not isinstance(e, tuple) or not e:
            raise ValueError(f"malformed path expression: {e!r}")
        op = e[0]
        if op == "rel":
            return (
                edges.where(F.col("rel") == e[1])
                .select(
                    F.col("src").alias("a"),
                    F.col("dst").alias("c"),
                    F.lit(1).cast("bigint").alias("hops"),
                )
                .groupBy("a", "c")
                .agg(F.min("hops").alias("hops"))
            )
        if op == "inv":
            return pairs(e[1]).select(
                F.col("c").alias("a"), F.col("a").alias("c"), "hops"
            )
        if op == "seq":
            out = pairs(e[1])
            for sub in e[2:]:
                nxt = pairs(sub).select(
                    F.col("a").alias("_m"),
                    F.col("c").alias("_c"),
                    F.col("hops").alias("_h"),
                )
                out = (
                    out.join(nxt, out["c"] == nxt["_m"])
                    .select(
                        "a",
                        F.col("_c").alias("c"),
                        (F.col("hops") + F.col("_h")).alias("hops"),
                    )
                    .groupBy("a", "c")
                    .agg(F.min("hops").alias("hops"))
                )
            return out
        if op == "alt":
            out = pairs(e[1])
            for sub in e[2:]:
                out = out.unionByName(pairs(sub))
            return out.groupBy("a", "c").agg(F.min("hops").alias("hops"))
        if op == "opt":
            return (
                _graph_nodes(edges)
                .select(
                    F.col("entity").alias("a"),
                    F.col("entity").alias("c"),
                    F.lit(0).cast("bigint").alias("hops"),
                )
                .unionByName(pairs(e[1]))
                .groupBy("a", "c")
                .agg(F.min("hops").alias("hops"))
            )
        if op == "star":
            return pairs(("opt", ("plus", e[1])))
        if op == "plus":
            # Bounded LEFT-LINEAR RELAXATION, not frontier BFS: when the
            # inner expression yields pairs with heterogeneous hop counts
            # (e.g. a seq), a pair first reached expensively in round r can
            # be improved by a cheaper 2-repetition path in round r+1 — a
            # frontier anti-join would lock in the worse value. Each round
            # is P ∪ (P ⋈ base) → min hash-agg, so P_r holds the exact min
            # hops over ≤ r repetitions; early-exit when a round improves
            # nothing. Self-pairs stay in base: (x,x) from one repetition
            # is a valid plus result, and composing through one can never
            # improve a min (hops only grow), so there is no divergence.
            base = pairs(e[1]).localCheckpoint(eager=True)
            bstep = base.select(
                F.col("a").alias("_m"),
                F.col("c").alias("_c"),
                F.col("hops").alias("_h"),
            )
            out = base
            for _ in range(1, max_hops):
                ext = (
                    out.join(bstep, out["c"] == bstep["_m"])
                    .select(
                        "a",
                        F.col("_c").alias("c"),
                        (F.col("hops") + F.col("_h")).alias("hops"),
                    )
                )
                nxt = (
                    out.unionByName(ext)
                    .groupBy("a", "c")
                    .agg(F.min("hops").alias("hops"))
                    .localCheckpoint(eager=True)
                )
                improved = nxt.join(out, ["a", "c", "hops"], "left_anti")
                out = nxt
                if improved.isEmpty():
                    break
            return out
        raise ValueError(f"unknown path operator: {op!r}")

    return pairs(expr).groupBy("a", "c").agg(F.min("hops").alias("hops"))


def construct_triples(
    edges: DataFrame,
    pattern: list[tuple[str, str, str]],
    template: list[tuple[str, str, str]],
) -> DataFrame:
    """SPARQL CONSTRUCT: match a basic graph pattern, then emit NEW
    (src, rel, dst) triples from ``template`` — each template term is
    either a ``?var`` bound by the pattern or a constant (typically the
    derived relation name). The rule-materialization primitive: e.g.
    ``[("?a","acquired","?b"),("?b","supplies","?c")]`` with template
    ``[("?a","indirectly_supplies","?c")]`` adds the inferred supply
    edges, ready to union back into the edge table.

    Execution: one ``match_pattern`` call (constant-pushdown equi-join
    chain) and a column projection per template triple, unioned and
    deduplicated — the output is a graph, so set semantics. A template
    variable the pattern never binds raises."""
    if not template:
        raise ValueError("construct_triples needs at least one template triple")
    bindings = match_pattern(edges, pattern)

    def term(t: str, bound: list[str]) -> F.Column:
        if t.startswith("?"):
            if t[1:] not in bound:
                raise ValueError(
                    f"template names variable {t!r} which the pattern never "
                    f"binds (bound: {bound})"
                )
            return F.col(t[1:])
        return F.lit(t)

    bound = bindings.columns
    parts = [
        bindings.select(
            term(s, bound).alias("src"),
            term(p, bound).alias("rel"),
            term(o, bound).alias("dst"),
        )
        for s, p, o in template
    ]
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.distinct()


def cheapest_paths(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int = 4,
) -> DataFrame:
    """Weighted single-source cheapest paths from landmark ``seeds``,
    bounded at ``max_hops`` edges — the Bellman-Ford relaxation in its
    distributed form (one relax-join + min hash-agg per round), which is
    how weighted distance is computed when a Dijkstra priority queue
    can't exist (no global mutable state on a cluster). Returns
    (seed, entity, cost) with cost = the minimum total edge weight over
    any directed path of <= max_hops edges; the seed's own zero row is
    excluded.

    Edge weights are deterministic integers 1..9 hashed from the triple
    identity (md5 — expressible identically in DuckDB, so the oracle twin
    is exact; parallel edges collapse to their min weight per (src, dst)).
    A production caller would swap in a confidence- or cost-derived
    weight column; the relaxation is weight-agnostic.

    Scale shape: the frontier table is (|seeds| × reached) rows, relaxed
    against the weighted edge scan each round (shuffle on the join key),
    then min-combined — positive weights mean a k-edge minimum is final
    by round k, so ``max_hops`` rounds exactly cover all bounded paths;
    lineage truncated per round. Integer costs only."""
    if not seeds:
        raise ValueError("cheapest_paths needs at least one seed")
    w60 = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("w:"), "src", "rel", "dst")), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    wedges = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst", (F.lit(1) + w60 % 9).alias("w"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    cur = local_frame(spark, [(s, s, 0) for s in seeds], "seed string, entity string, cost long")
    for _ in range(max_hops):
        relaxed = (
            cur.join(wedges, cur["entity"] == wedges["src"])
            .select("seed", F.col("dst").alias("entity"),
                    (F.col("cost") + F.col("w")).alias("cost"))
        )
        cur = (
            cur.unionByName(relaxed)
            .groupBy("seed", "entity")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
    return cur.where(F.col("entity") != F.col("seed"))
