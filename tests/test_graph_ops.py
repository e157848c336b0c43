"""Graph query operators over pipeline-materialized nodes/edges."""

import pytest
from pyspark.sql import functions as F

from chatvector_ai_spark.operators.graph import (
    cooccurring_entities,
    degrees,
    ego_edges,
    khop,
    relation_counts,
)
from chatvector_ai_spark.pipeline import run_pipeline
from chatvector_ai_spark.warehouse import Warehouse


@pytest.fixture(scope="module")
def graph_wh(spark, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("graph_wh")))
    run = run_pipeline(spark, wh, 60, n_entities=300)
    return wh, run


@pytest.fixture(scope="module")
def graph(spark, graph_wh):
    wh, run = graph_wh
    edges = wh.read(spark, "edges", run.input_key).cache()
    nodes = wh.read(spark, "nodes", run.input_key).cache()
    return nodes, edges


def test_degrees_consistent_with_edges(graph):
    _, edges = graph
    deg = degrees(edges).toPandas()
    n_edges = edges.count()
    assert deg["out_degree"].sum() == n_edges
    assert deg["in_degree"].sum() == n_edges
    assert (deg["degree"] == deg["out_degree"] + deg["in_degree"]).all()


def test_ego_edges_match_filter(graph):
    _, edges = graph
    top = degrees(edges).orderBy(F.desc("degree")).first()["entity"]
    ego = ego_edges(edges, top).toPandas()
    assert len(ego) > 0
    assert ((ego["src"] == top) | (ego["dst"] == top)).all()
    expected = edges.where((F.col("src") == top) | (F.col("dst") == top)).dropDuplicates().count()
    assert len(ego) == expected


def test_ego_uses_manifest_bucket_count_not_config(spark, graph_wh, graph):
    """The manifest records n_buckets at write time; ego pruning with the
    RECORDED value must equal the unbucketed truth even if the session's
    config has since changed (a mismatched count would silently drop all
    outgoing edges — ADVICE round 1)."""
    wh, run = graph_wh
    _, edges = graph
    from chatvector_ai_spark.config import N_BUCKETS

    recorded = wh.table_n_buckets("edges", run.input_key)
    assert recorded == N_BUCKETS  # written under the current config
    top = degrees(edges).orderBy(F.desc("degree")).first()["entity"]
    truth = {
        tuple(r) for r in
        ego_edges(edges, top, n_buckets=None).select("src", "dst", "chunk_id").collect()
    }
    with_recorded = {
        tuple(r) for r in
        ego_edges(edges, top, n_buckets=recorded).select("src", "dst", "chunk_id").collect()
    }
    assert with_recorded == truth


def test_khop_grows_monotonically(graph):
    _, edges = graph
    seed = edges.first()["src"]
    h1 = khop(edges, [seed], k=1).count()
    h2 = khop(edges, [seed], k=2).count()
    assert 1 <= h1 <= h2
    hops = khop(edges, [seed], k=2).toPandas()
    assert set(hops["hop"]) <= {0, 1, 2}
    assert (hops[hops["hop"] == 0]["entity"] == seed).all()


def test_relation_counts_cover_all_edges(graph):
    _, edges = graph
    rc = relation_counts(edges).toPandas()
    assert rc["n_edges"].sum() == edges.count()
    assert set(rc["rel"]) <= {
        "acquired", "founded_by", "founded", "partnered_with", "invested_in",
        "located_in", "works_at", "born_in", "joined", "leads", "owns",
        "launched", "merged_with", "collaborates_with", "supplies",
    }


def test_cooccurrence_symmetric_pairs(graph):
    _, edges = graph
    pairs = cooccurring_entities(edges, min_shared_docs=1).toPandas()
    assert len(pairs) > 0
    assert (pairs["entity_a"] < pairs["entity_b"]).all()


def test_cooccurrence_caps_pathological_doc_fanout(spark):
    """A single doc with thousands of distinct entities must not emit an
    O(entities²) pair set: the per-doc top-N cap bounds the fan-out, and
    capped docs keep the highest-mention-count entities (deterministic)."""
    hot = [("hot_doc", f"E{i:05d}", "rel") for i in range(2000)]
    # E00000/E00001 appear twice in hot_doc → must survive the cap
    hot += [("hot_doc", "E00000", "rel2"), ("hot_doc", "E00001", "rel2")]
    cold = [("cold_doc", "E00000", "rel"), ("cold_doc", "E00001", "rel")]
    edges = spark.createDataFrame(
        [(d, e, f"E_dst_{d}", r) for d, e, r in hot + cold],
        "doc_id string, src string, dst string, rel string",
    )
    pairs = cooccurring_entities(edges, min_shared_docs=1, max_entities_per_doc=16)
    pdf = pairs.toPandas()
    # hot_doc contributes at most C(16,2)=120 pairs, cold_doc C(3,2)=3
    assert len(pdf) <= 120 + 3
    # the high-mention entities survived the cap and still co-occur twice
    both = pdf[(pdf["entity_a"] == "E00000") & (pdf["entity_b"] == "E00001")]
    assert both["shared_docs"].tolist() == [2]


def test_khop_matches_recursive_cte_min_hop_with_cycle(spark):
    """BFS first-reach depth must equal the recursive-CTE min(hop) oracle
    on a graph with a cycle THROUGH the seed (the kg_khop oracle shape):
    a back-edge to the seed must not re-add it at a higher hop."""
    import duckdb

    rows = [
        ("S", "A"), ("A", "B"), ("B", "S"),  # 3-cycle through the seed
        ("B", "C"), ("C", "D"),              # chain past the cycle
        ("X", "S"),                          # incoming edge (undirected hop 1)
    ]
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = {
        (r["entity"], r["hop"])
        for r in khop(edges, ["S"], k=3).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES " +
                ",".join(f"('{s}','{d}')" for s, d in rows) + ") t(src, dst)")
    oracle = con.execute("""
        WITH RECURSIVE sym AS (
            SELECT src, dst FROM e UNION SELECT dst, src FROM e
        ),
        reach(entity, hop) AS (
            SELECT 'S', 0
            UNION ALL
            SELECT s.dst, r.hop + 1 FROM reach r JOIN sym s ON s.src = r.entity
            WHERE r.hop < 3
        )
        SELECT entity, CAST(min(hop) AS INT) FROM reach GROUP BY entity
    """).fetchall()
    assert got == set(oracle)
    assert ("S", 0) in got  # the cycle never re-adds the seed


def test_write_parallelism_decoupled_from_bucket_count(spark, graph_wh, tmp_path):
    """files_per_bucket=F commits F file groups per bucket directory —
    write parallelism scales independently of N_BUCKETS — and the bucketed
    layout still prunes: ego over the multi-file snapshot equals the
    single-file truth."""
    from chatvector_ai_spark.config import N_BUCKETS
    from chatvector_ai_spark.pipeline import edges_from_linked
    from chatvector_ai_spark.warehouse import Warehouse

    wh, run = graph_wh
    linked = wh.read(spark, "linked_mentions", run.input_key)
    cmap = wh.read(spark, "canonical_map", run.input_key)

    fpb = 4
    wh2 = Warehouse(str(tmp_path / "wide_wh"))
    wh2.commit(
        edges_from_linked(linked, cmap, files_per_bucket=fpb),
        "edges",
        run_id="r", stage="edges", input_key=run.input_key,
        metrics={"n_buckets": N_BUCKETS}, partition_by=["bucket"],
    )

    import glob
    import os

    snap_dir = glob.glob(os.path.join(str(tmp_path / "wide_wh"), "edges", "snap-*"))[0]
    per_bucket = {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(snap_dir, "bucket=*"))
    }
    assert len(per_bucket) > 1  # multiple bucket dirs materialized
    # decoupled: more file groups than bucket dirs in total, and no bucket
    # exceeds its files_per_bucket budget (hash collisions may merge some
    # salt groups into one task, so 1..F files per bucket)
    assert sum(per_bucket.values()) > len(per_bucket)
    assert all(1 <= n <= fpb for n in per_bucket.values())

    # pruning intact: ego over the multi-file snapshot == unbucketed truth
    wide = wh2.read(spark, "edges", run.input_key)
    top = degrees(wide).orderBy(F.desc("degree")).first()["entity"]
    truth = {
        tuple(r) for r in
        ego_edges(wide, top, n_buckets=None).select("src", "dst", "chunk_id").collect()
    }
    pruned = {
        tuple(r) for r in
        ego_edges(wide, top, n_buckets=N_BUCKETS).select("src", "dst", "chunk_id").collect()
    }
    assert pruned == truth


# ---------------------------------------------------------------------------
# round 3: pagerank / triangles / connected components
# ---------------------------------------------------------------------------


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(s, d, "rel") for s, d in pairs], "src string, dst string, rel string"
    )


def _pagerank_reference(pairs, iterations=5, damping_pct=85, scale=1_000_000):
    """Independent pure-python fixed-point PageRank (same integer rules)."""
    edges = sorted({(s, d) for s, d in pairs if s != d})
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    teleport = ((100 - damping_pct) * scale // 100) // n
    pr = {v: scale // n for v in nodes}
    for _ in range(iterations):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += pr[u] // out_deg[u]
        pr = {v: teleport + (damping_pct * s[v]) // 100 for v in nodes}
    return pr


def test_pagerank_matches_pure_python_fixed_point(spark, on_both_paths):
    from chatvector_ai_spark.operators.graph import pagerank

    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
        ("e", "a"), ("a", "e"), ("b", "a"), ("f", "c"),
    ]
    for got in on_both_paths(lambda: {
        r["entity"]: r["pr_scaled"]
        for r in pagerank(_edges_df(spark, pairs)).collect()
    }):
        assert got == _pagerank_reference(pairs)


def test_pagerank_hub_outranks_leaf(spark):
    from chatvector_ai_spark.operators.graph import pagerank

    # star into 'hub': every leaf points at hub, hub points at one leaf
    pairs = [(f"l{i}", "hub") for i in range(8)] + [("hub", "l0")]
    got = {r["entity"]: r["pr_scaled"] for r in pagerank(_edges_df(spark, pairs)).collect()}
    assert got["hub"] > got["l1"] > 0
    # l0 receives hub's whole mass, must outrank the other leaves
    assert got["l0"] > got["l1"]


def test_triangles_counts_k4_and_ignores_dangling_edge(spark):
    from chatvector_ai_spark.operators.graph import triangles

    k4 = ["p", "q", "r", "s"]
    pairs = [(a, b) for i, a in enumerate(k4) for b in k4[i + 1:]]
    pairs += [("s", "t")]  # dangling edge, no triangle
    # duplicate + reversed edges must not inflate counts
    pairs += [("q", "p"), ("p", "q")]
    got = {r["entity"]: r["n_triangles"] for r in triangles(_edges_df(spark, pairs)).collect()}
    # each K4 vertex sits in C(3,2)=3 triangles; 't' in none
    assert got == {"p": 3, "q": 3, "r": 3, "s": 3}


def test_connected_components_matches_union_find(spark, on_both_paths):
    import random

    from chatvector_ai_spark.operators.graph import connected_components

    rng = random.Random(20260817)
    nodes = [f"n{i:03d}" for i in range(120)]
    random_pairs = [tuple(rng.sample(nodes, 2)) for _ in range(140)]
    # a long chain whose minimum sits at one end: a label loop capped at a
    # fixed round count leaves its far end with a non-minimal label
    chain = [(f"n{i + 1:03d}", f"n{i:03d}") for i in range(59)]

    for pairs in (random_pairs, chain):
        parent = {v: v for v in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        touched = sorted({n for e in pairs for n in e})
        expected = {v: min(w for w in touched if find(w) == find(v)) for v in touched}
        for got in on_both_paths(lambda: {
            r["entity"]: r["component"]
            for r in connected_components(_edges_df(spark, pairs)).collect()
        }):
            assert got == expected


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    """Distributed rounds that end at ``max_iter`` without a fixed point
    raise instead of returning non-minimal labels; the default converges."""
    from chatvector_ai_spark.operators import graph

    monkeypatch.setattr(graph, "CC_SMALL_CORE_EDGES", 0)
    df = _edges_df(spark, [(f"c{i + 1:02d}", f"c{i:02d}") for i in range(30)])
    with pytest.raises(ValueError, match="max_iter=1"):
        graph.connected_components(df, max_iter=1)
    got = {r["component"] for r in graph.connected_components(df).collect()}
    assert got == {"c00"}


def test_connected_components_driver_path_runs_one_bounded_action(spark):
    """At or below ``CC_SMALL_CORE_EDGES`` the path is decided by one
    ``limit`` collect whose rows the union-find resolves: 2 jobs (the
    distinct's shuffle and the collect), no checkpoint or count."""
    import uuid

    from chatvector_ai_spark.operators.graph import connected_components

    df = _edges_df(spark, [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(40)])
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "connected_components")
    try:
        comp = connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert comp.count() == 40


def test_connected_components_two_disjoint_cliques(spark, on_both_paths):
    from chatvector_ai_spark.operators.graph import connected_components

    c1 = ["a", "b", "c"]
    c2 = ["x", "y", "z"]
    pairs = [(u, v) for i, u in enumerate(c1) for v in c1[i + 1:]]
    pairs += [(u, v) for i, u in enumerate(c2) for v in c2[i + 1:]]
    for got in on_both_paths(lambda: {
        r["entity"]: r["component"]
        for r in connected_components(_edges_df(spark, pairs)).collect()
    }):
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_personalized_pagerank_concentrates_near_seed(spark):
    from chatvector_ai_spark.operators.graph import pagerank

    # chain a -> b -> c -> d plus a far component e <-> f
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("f", "e")]
    got = {
        r["entity"]: r["pr_scaled"]
        for r in pagerank(_edges_df(spark, pairs), seeds=["a"]).collect()
    }
    # all mass flows from the seed; the disconnected component gets none
    assert got["a"] > 0 and got["b"] > 0
    assert got["e"] == 0 and got["f"] == 0
    # proximity ordering along the chain from the seed
    assert got["a"] > got["c"]
    assert got["b"] > got["c"] > got["d"] or got["b"] >= got["c"] >= got["d"]


def test_personalized_pagerank_matches_pure_python(spark, on_both_paths):
    from chatvector_ai_spark.operators.graph import pagerank

    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"),
        ("e", "a"), ("a", "e"), ("b", "a"), ("f", "c"),
    ]
    seeds = ["c"]
    scale, damping = 1_000_000, 85
    edges = sorted({(s, d) for s, d in pairs if s != d})
    nodes = sorted({n for e in edges for n in e})
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    t_val = ((100 - damping) * scale // 100) // len(seeds)
    pr = {v: (scale // len(seeds) if v in seeds else 0) for v in nodes}
    for _ in range(5):
        acc = {v: 0 for v in nodes}
        for u, v in edges:
            acc[v] += pr[u] // out_deg[u]
        pr = {
            v: (t_val if v in seeds else 0) + (damping * acc[v]) // 100
            for v in nodes
        }
    for got in on_both_paths(lambda: {
        r["entity"]: r["pr_scaled"]
        for r in pagerank(_edges_df(spark, pairs), seeds=seeds).collect()
    }):
        assert got == pr


def test_kcore_keeps_clique_peels_pendant_tree(spark):
    from chatvector_ai_spark.operators.graph import kcore

    k4 = ["p", "q", "r", "s"]
    pairs = [(a, b) for i, a in enumerate(k4) for b in k4[i + 1:]]
    # pendant chain s -> t -> u and a reversed duplicate edge
    pairs += [("s", "t"), ("t", "u"), ("q", "p")]
    got = {r["entity"]: r["core_degree"] for r in kcore(_edges_df(spark, pairs), k=3).collect()}
    assert got == {"p": 3, "q": 3, "r": 3, "s": 3}


def test_kcore_matches_pure_python_peel(spark):
    import random

    from chatvector_ai_spark.operators.graph import kcore

    rng = random.Random(20260817)
    nodes = [f"n{i:03d}" for i in range(80)]
    pairs = [tuple(rng.sample(nodes, 2)) for _ in range(160)]

    und = {tuple(sorted(e)) for e in pairs}
    while True:
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {v for v, d in deg.items() if d >= 2}
        nxt = {(a, b) for a, b in und if a in alive and b in alive}
        if nxt == und:
            break
        und = nxt
    expected = {}
    for a, b in und:
        expected[a] = expected.get(a, 0) + 1
        expected[b] = expected.get(b, 0) + 1
    expected = {v: d for v, d in expected.items() if d >= 2}

    got = {
        r["entity"]: r["core_degree"]
        for r in kcore(_edges_df(spark, pairs), k=2, max_rounds=50).collect()
    }
    assert got == expected


def test_structural_similarity_exact_jaccard(spark):
    from chatvector_ai_spark.operators.graph import structural_similarity

    # Undirected graph: a,b share all three n* neighbors (J=1.0); the n*
    # nodes themselves pair through shared {a,b}; c shares only one
    # neighbor with a (below min_shared=2); d is fully isolated.
    pairs = [
        ("a", "n1"), ("a", "n2"), ("a", "n3"),
        ("b", "n1"), ("b", "n2"), ("b", "n3"),
        ("c", "n1"), ("c", "m1"),
        ("d", "z1"),
    ]
    rows = structural_similarity(_edges_df(spark, pairs)).collect()
    got = {(r["entity_a"], r["entity_b"]): (r["n_shared"], r["nbr_jaccard"]) for r in rows}
    assert got == {
        ("a", "b"): (3, 1.0),          # J = 3 / (3+3-3)
        ("n1", "n2"): (2, 0.666667),   # J = 2 / (3+2-2): n1 also sees c
        ("n1", "n3"): (2, 0.666667),
        ("n2", "n3"): (2, 1.0),        # J = 2 / (2+2-2)
    }


def test_structural_similarity_neighbor_cap_is_deterministic(spark):
    from chatvector_ai_spark.operators.graph import structural_similarity

    # hub entities with 6 neighbors each; cap at 4 keeps the 4 smallest
    # neighbor ids, so the capped sets are {n0..n3} for both -> J = 1.0
    pairs = [("a", f"n{i}") for i in range(6)] + [("b", f"n{i}") for i in range(6)]
    rows = structural_similarity(_edges_df(spark, pairs), max_neighbors=4).collect()
    got = {(r["entity_a"], r["entity_b"]): (r["n_shared"], r["nbr_jaccard"]) for r in rows}
    # hub pair scored over the capped sets {n0..n3}
    assert got[("a", "b")] == (4, 1.0)
    # every n_i/n_j pair shares exactly {a, b}
    for i in range(6):
        for j in range(i + 1, 6):
            assert got[(f"n{i}", f"n{j}")] == (2, 1.0)
    assert len(got) == 1 + 15


def test_predicate_profile_functionality_math(spark):
    from chatvector_ai_spark.operators.graph import predicate_profile

    rows = spark.createDataFrame(
        [
            # rel "f": functional — each subject has exactly one object
            ("a", "f", "x"), ("b", "f", "y"), ("a", "f", "x"),  # dup pair collapses
            # rel "m": one subject, three objects
            ("a", "m", "x"), ("a", "m", "y"), ("a", "m", "z"),
        ],
        "src string, rel string, dst string",
    )
    got = {r["rel"]: r for r in predicate_profile(rows).collect()}
    assert got["f"]["n_pairs"] == 2 and got["f"]["functionality"] == 1.0
    assert got["m"]["n_pairs"] == 3
    assert got["m"]["functionality"] == round(1 / 3, 6)
    assert got["m"]["inv_functionality"] == 1.0


def test_metapath_counts_and_fanout_cap(spark):
    from chatvector_ai_spark.operators.graph import metapath_counts

    rows = [("a", "r1", "m"), ("b", "r1", "m"), ("m", "r2", "c"), ("m", "r2", "d")]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {(r["rel_a"], r["rel_b"]): (r["n_paths"], r["n_mids"]) for r in metapath_counts(df).collect()}
    # 2 in-edges × 2 out-edges through m
    assert got == {("r1", "r2"): (4, 1)}
    # cap: hub middle with 5 in and 5 out, max_fanout=2 → 2×2 paths
    hub = [(f"a{i}", "r1", "m") for i in range(5)] + [("m", "r2", f"c{i}") for i in range(5)]
    capped = metapath_counts(
        spark.createDataFrame(hub, "src string, rel string, dst string"), max_fanout=2
    ).collect()
    assert {(r["rel_a"], r["rel_b"]): r["n_paths"] for r in capped} == {("r1", "r2"): 4}


def test_relation_cooccurrence_counts_shared_subjects(spark):
    from chatvector_ai_spark.operators.graph import relation_cooccurrence

    rows = [
        ("a", "r1", "x"), ("a", "r2", "y"), ("a", "r2", "z"),  # a has r1+r2
        ("b", "r1", "x"), ("b", "r3", "y"),                      # b has r1+r3
        ("c", "r2", "x"),                                          # c has r2 only
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {(r["rel_a"], r["rel_b"]): r["n_subjects"] for r in relation_cooccurrence(df).collect()}
    assert got == {("r1", "r2"): 1, ("r1", "r3"): 1}


def test_negative_samples_deterministic_and_filtered(spark):
    from chatvector_ai_spark.operators.kgtrain import negative_samples

    rows = [(f"e{i}", "rel", f"e{(i + 1) % 20}") for i in range(20)]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got1 = sorted(tuple(r) for r in negative_samples(df, n_neg=2).collect())
    got2 = sorted(tuple(r) for r in negative_samples(df, n_neg=2).collect())
    assert got1 == got2  # deterministic across runs
    positives = {(s, r, d) for s, r, d in rows}
    for src, rel, dst, neg_idx, neg_dst in got1:
        assert (src, rel, dst) in positives
        assert (src, rel, neg_dst) not in positives  # filtered setting
        assert neg_dst in {e for t in rows for e in (t[0], t[2])}  # from vocab
        assert neg_idx in (0, 1)
    # ≤ n_neg per positive; near-complete coverage (only true-positive
    # collisions are dropped)
    assert len(got1) <= 2 * len(positives)
    assert len(got1) >= int(1.5 * len(positives))


def test_edge_pmi_math(spark):
    from chatvector_ai_spark.operators.graph import edge_pmi
    import math

    rows = [
        # rel "r": pair (a,x) twice, (a,y) once, (b,y) once → n_rel=4
        ("a", "r", "x"), ("a", "r", "x"), ("a", "r", "y"), ("b", "r", "y"),
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {(r["src"], r["dst"]): (r["c_pair"], r["pmi"]) for r in edge_pmi(df).collect()}
    # (a,x): c_pair=2, c_src(a)=3, c_dst(x)=2 → ln(2*4/(3*2))
    assert got[("a", "x")] == (2, round(math.log(8 / 6), 6))
    # (b,y): c_pair=1, c_src(b)=1, c_dst(y)=2 → ln(1*4/(1*2))
    assert got[("b", "y")] == (1, round(math.log(2.0), 6))


def test_consolidate_edges_evidence_profile(spark):
    from chatvector_ai_spark.operators.graph import consolidate_edges

    rows = [
        ("a", "r", "b", "d1", "t1", 0.9),
        ("a", "r", "b", "d1", "t1", 0.5),
        ("a", "r", "b", "d2", "t2", 0.7),
        ("x", "r", "y", "d3", "t1", 0.2),
    ]
    df = spark.createDataFrame(
        rows, "src string, rel string, dst string, doc_id string, tenant_id string, conf float"
    )
    got = {(r["src"], r["dst"]): r for r in consolidate_edges(df).collect()}
    ab = got[("a", "b")]
    assert (ab["n_mentions"], ab["n_docs"], ab["n_tenants"]) == (3, 2, 2)
    assert abs(ab["max_conf"] - 0.9) < 1e-6
    assert got[("x", "y")]["n_mentions"] == 1


def test_infer_types_argmax_and_tiebreak(spark):
    from chatvector_ai_spark.operators.graph import infer_types

    rows = [
        # "w" appears twice as object of works_at → works_at:o wins
        ("p1", "works_at", "w"), ("p2", "works_at", "w"), ("w", "owns", "z"),
        # "t" ties 1:1 between born_in:s and owns:o → smallest feature wins
        ("t", "born_in", "c"), ("z", "owns", "t"),
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {r["entity"]: (r["inferred_type"], r["n_obs"]) for r in infer_types(df).collect()}
    assert got["w"] == ("works_at:o", 2)
    assert got["t"] == ("born_in:s", 1)  # 'born_in:s' < 'owns:o'


def test_match_pattern_chain_and_constants(spark):
    from chatvector_ai_spark.operators.graph import match_pattern

    rows = [
        ("a", "acquired", "b"), ("b", "supplies", "c"), ("b", "supplies", "d"),
        ("x", "acquired", "y"),  # y supplies nobody
        ("a", "acquired", "b"),  # duplicate mention collapses
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = sorted(
        (r["a"], r["b"], r["c"])
        for r in match_pattern(
            df, [("?a", "acquired", "?b"), ("?b", "supplies", "?c")]
        ).collect()
    )
    assert got == [("a", "b", "c"), ("a", "b", "d")]
    # constant subject narrows bindings
    one = match_pattern(df, [("a", "acquired", "?b")]).collect()
    assert [(r["b"],) for r in one] == [("b",)]
    # all-variable single pattern returns the distinct edge set
    assert match_pattern(df, [("?s", "?p", "?o")]).count() == 4


def test_entity_fact_summary_ranks_by_pmi(spark):
    from chatvector_ai_spark.operators.graph import entity_fact_summary

    rows = [
        # src "a" in rel "r": (a,x) twice (strong), (a,y) once; y also
        # appears with b so (a,y) has lower PMI than (a,x)
        ("a", "r", "x"), ("a", "r", "x"), ("a", "r", "y"),
        ("b", "r", "y"), ("b", "r", "y"),
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {(r["entity"], r["rank"]): (r["rel"], r["dst"]) for r in entity_fact_summary(df, k=2).collect()}
    assert got[("a", 1)] == ("r", "x")
    assert got[("a", 2)] == ("r", "y")
    assert got[("b", 1)] == ("r", "y")
    # k cap respected
    assert max(rk for _, rk in got) <= 2


def test_label_propagation_two_cliques(spark):
    from chatvector_ai_spark.operators.graph import label_propagation

    tri1 = [("a1", "r", "a2"), ("a2", "r", "a3"), ("a1", "r", "a3")]
    tri2 = [("b1", "r", "b2"), ("b2", "r", "b3"), ("b1", "r", "b3")]
    df = spark.createDataFrame(tri1 + tri2, "src string, rel string, dst string")
    got = {r["entity"]: r["label"] for r in label_propagation(df, iterations=4).collect()}
    # each disconnected triangle converges to its min label
    assert got["a1"] == got["a2"] == got["a3"] == "a1"
    assert got["b1"] == got["b2"] == got["b3"] == "b1"
    assert len(set(got.values())) == 2


def test_label_propagation_deterministic_and_isolated_selfloop(spark):
    from chatvector_ai_spark.operators.graph import label_propagation

    df = spark.createDataFrame(
        [("x", "r", "y"), ("z", "r", "z")], "src string, rel string, dst string"
    )
    a = sorted(map(tuple, label_propagation(df, iterations=3).collect()))
    b = sorted(map(tuple, label_propagation(df, iterations=3).collect()))
    assert a == b
    got = dict(a)
    # self-loop-only node is isolated after the src != dst filter → may
    # drop out of the node set entirely or keep its own label
    assert got.get("z", "z") == "z"
    # x and y swap-converge to the min label "x"
    assert got["x"] == "x" and got["y"] == "x"


def test_resolve_conflicts_picks_best_evidenced(spark):
    from chatvector_ai_spark.operators.graph import resolve_conflicts

    rows = [
        # "born_in" is functional here (every subject would have 1 object
        # except "p1", under dispute): p1→x from 2 docs, p1→y from 1 doc
        ("p1", "born_in", "x", "d1", "t1", 0.9),
        ("p1", "born_in", "x", "d2", "t1", 0.5),
        ("p1", "born_in", "y", "d3", "t1", 0.99),
        ("p2", "born_in", "z", "d4", "t1", 0.7),
        # "knows" is many-to-many: 1 subject, 3 objects → functionality 1/3
        ("q", "knows", "a", "d5", "t1", 0.8),
        ("q", "knows", "b", "d6", "t1", 0.8),
        ("q", "knows", "c", "d7", "t1", 0.8),
    ]
    df = spark.createDataFrame(
        rows, "src string, rel string, dst string, doc_id string, tenant_id string, conf float"
    )
    # born_in: pairs {(p1,x),(p1,y),(p2,z)} → n_src=2, n_pairs=3 → 66% < 90
    # threshold, so lower the bar to 60 to treat it as functional
    got = {(r["src"], r["rel"]): r for r in resolve_conflicts(df, 60).collect()}
    assert ("q", "knows") not in got  # 1/3 functionality filtered out
    win = got[("p1", "born_in")]
    assert win["dst"] == "x"  # 2 docs beats 1 doc despite lower conf
    assert win["n_alternatives"] == 1
    assert got[("p2", "born_in")]["n_alternatives"] == 0


def test_induce_ontology_domain_range(spark):
    from chatvector_ai_spark.operators.graph import induce_ontology

    rows = [
        ("p1", "works_at", "c1"), ("p2", "works_at", "c1"), ("p3", "works_at", "c2"),
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {(r["rel"], r["side"]): (r["top_type"], r["share"]) for r in induce_ontology(df).collect()}
    # every subject's only feature is works_at:s; every object's works_at:o
    assert got[("works_at", "domain")] == ("works_at:s", 1.0)
    assert got[("works_at", "range")] == ("works_at:o", 1.0)


def test_diff_edges_added_removed(spark):
    from chatvector_ai_spark.operators.graph import diff_edges

    old = spark.createDataFrame(
        [("a", "r", "b"), ("x", "r", "y")], "src string, rel string, dst string"
    )
    new = spark.createDataFrame(
        [("a", "r", "b"), ("p", "r", "q"), ("p", "r", "q")],  # dup collapses
        "src string, rel string, dst string",
    )
    got = {(r["src"], r["dst"]): r["change"] for r in diff_edges(old, new).collect()}
    assert got == {("p", "q"): "added", ("x", "y"): "removed"}
    # identical snapshots diff to empty
    assert diff_edges(new, new).count() == 0


def test_paths_between_enumerates_simple_paths(spark):
    from chatvector_ai_spark.operators.graph import paths_between

    rows = [
        ("a", "r1", "b"), ("b", "r2", "c"),        # a->b->c
        ("a", "r3", "c"),                            # direct a->c
        ("c", "r4", "a"),                            # back-edge (cycle)
        ("b", "r5", "d"),
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {
        (tuple(r["path"]), tuple(r["rels"]), r["n_hops"])
        for r in paths_between(df, "a", "c", max_hops=3).collect()
    }
    assert got == {
        (("a", "c"), ("r3",), 1),
        (("a", "b", "c"), ("r1", "r2"), 2),
    }
    # no-target mode enumerates every simple path from the source
    all_paths = paths_between(df, "a", max_hops=2).collect()
    endpoints = {tuple(r["path"]) for r in all_paths}
    assert ("a", "b") in endpoints and ("a", "b", "d") in endpoints
    # cycles never revisit: no path contains a twice
    assert all(r["path"].count("a") == 1 for r in all_paths)
    # frontier cap is deterministic and bounds work
    capped = paths_between(df, "a", "c", max_hops=3, max_frontier=1).collect()
    assert len(capped) <= 2


def test_skew_report_shares_and_order(spark):
    from chatvector_ai_spark.operators.graph import skew_report

    rows = [("hub", "r", f"x{i}") for i in range(5)] + [("a", "r", "b")]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = skew_report(df, top_k=3).collect()
    assert got[0]["entity"] == "hub" and got[0]["degree"] == 5
    assert abs(got[0]["share"] - 5 / 12) < 1e-6  # 12 endpoints total
    assert [r["degree"] for r in got] == sorted(
        [r["degree"] for r in got], reverse=True
    )


def test_constraint_violations_flags_deviant_edge(spark):
    from chatvector_ai_spark.operators.graph import constraint_violations

    # 20 person-like subjects all point at w; one deviant edge
    # (w, works_at, p1) puts the workplace-typed entity in subject
    # position. p1's own type flips to works_at:o (it ties 1:1 between
    # s/o features and ties break to the smaller string), so BOTH edges
    # touching p1's subject slot become domain violations; the range side
    # stays clean because every object is works_at:o-typed.
    rows = [(f"p{i:02d}", "works_at", "w") for i in range(1, 21)] + [("w", "works_at", "p01")]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {(r["side"], r["src"], r["dst"]): (r["expected"], r["found"]) for r in constraint_violations(df).collect()}
    assert got[("domain", "w", "p01")] == ("works_at:s", "works_at:o")
    assert got[("domain", "p01", "w")] == ("works_at:s", "works_at:o")
    assert len(got) == 2  # the other 19 conforming edges pass both sides


def test_weighted_pagerank_matches_python_and_favors_evidence(spark):
    from chatvector_ai_spark.operators.graph import weighted_pagerank

    # s points at h (3 distinct doc mentions) and t (1 mention): h must
    # receive 3x t's share of s's mass each round
    rows = [
        ("s", "r", "h", "d1"), ("s", "r", "h", "d2"), ("s", "r", "h", "d3"),
        ("s", "r", "t", "d4"),
        ("h", "r", "s", "d5"), ("t", "r", "s", "d6"),
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string, doc_id string")
    got = {r["entity"]: r["pr_scaled"] for r in weighted_pagerank(df, iterations=4).collect()}
    assert got["h"] > got["t"]

    # exact fixed-point recompute (same integer arithmetic)
    scale, damp, iters = 1_000_000, 85, 4
    w = {("s", "h"): 3, ("s", "t"): 1, ("h", "s"): 1, ("t", "s"): 1}
    outw = {"s": 4, "h": 1, "t": 1}
    nodes = ["h", "s", "t"]
    n = len(nodes)
    pr = {v: scale // n for v in nodes}
    tele = ((100 - damp) * scale // 100) // n
    for _ in range(iters):
        s_in = {v: 0 for v in nodes}
        for (a, b), ww in w.items():
            s_in[b] += (pr[a] * ww) // outw[a]
        pr = {v: tele + (damp * s_in[v]) // 100 for v in nodes}
    assert got == pr


def test_match_pattern_repeated_variable_is_self_loop_filter(spark):
    """A variable repeated WITHIN one triple pattern (("?x","likes","?x"),
    the SPARQL self-loop shape) must become an src==dst equality filter
    with a single projected column — not two same-named columns that break
    later shared-variable joins."""
    from chatvector_ai_spark.operators.graph import match_pattern

    rows = [
        ("a", "likes", "a"), ("b", "likes", "c"), ("c", "likes", "c"),
        ("c", "knows", "d"),
    ]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = match_pattern(df, [("?x", "likes", "?x")])
    assert got.columns == ["x"]
    assert {r["x"] for r in got.collect()} == {"a", "c"}
    # and it chains: self-loop nodes that also know someone
    chained = match_pattern(df, [("?x", "likes", "?x"), ("?x", "knows", "?y")])
    assert sorted(chained.columns) == ["x", "y"]
    assert {(r["x"], r["y"]) for r in chained.collect()} == {("c", "d")}


def test_pagerank_seed_validation(spark, on_both_paths):
    """seeds=[] is a caller error (raise, never ZeroDivisionError); a seed
    list entirely absent from the edge vocabulary would silently zero every
    rank, so it raises too. A partially-present seed list still runs."""
    from chatvector_ai_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c")], "src string, rel string, dst string"
    )

    def run():
        with pytest.raises(ValueError, match="non-empty seed"):
            pagerank(df, seeds=[])
        with pytest.raises(ValueError, match="none of the 2 seeds"):
            pagerank(df, seeds=["nope", "missing"])
        return {r["entity"]: r["pr_scaled"] for r in pagerank(df, seeds=["a", "ghost"]).collect()}

    for got in on_both_paths(run):
        assert sum(got.values()) > 0  # present seed keeps teleport mass flowing


def test_driver_and_distributed_graph_paths_agree(spark, on_both_paths):
    """On a seeded random graph with duplicate edges and self-loops, the
    driver path and the distributed loop of pagerank (plain and
    personalized with a partly absent seed list) and connected_components
    return identical rows, column types included."""
    import random

    from chatvector_ai_spark.operators.graph import connected_components, pagerank

    rng = random.Random(20261017)
    nodes = [f"v{i:03d}" for i in range(90)]
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    pairs += pairs[:30]  # duplicate edges
    pairs += [(v, v) for v in rng.sample(nodes, 10)]  # self-loops
    df = _edges_df(spark, pairs)
    seeds = [pairs[0][0], pairs[7][1], "absent-seed"]

    def rows(out):
        return out.schema.simpleString(), sorted(tuple(r) for r in out.collect())

    driver, distributed = on_both_paths(lambda: [
        rows(pagerank(df)),
        rows(pagerank(df, iterations=7, seeds=seeds)),
        rows(connected_components(df)),
    ])
    assert driver == distributed
    assert all(result[1] for result in driver)


def test_paths_between_default_cap_bounds_dense_fanout(spark, caplog):
    """On a dense bipartite hub graph the path count grows multiplicatively
    per hop; the DEFAULT max_frontier must bound per-hop task output (and
    log when it binds) so a naive caller cannot OOM a hub-heavy graph.
    max_frontier=None stays available as the explicit exhaustive opt-out."""
    import logging

    from chatvector_ai_spark.operators.graph import paths_between

    # layered blow-up: s -> 12 mids -> 12 more (144 2-hop paths) -> t
    rows = (
        [("s", "r", f"m{i}") for i in range(12)]
        + [(f"m{i}", "r", f"n{j}") for i in range(12) for j in range(12)]
        + [(f"n{j}", "r", "t") for j in range(12)]
    )
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    with caplog.at_level(logging.WARNING, logger="chatvector_ai_spark.operators.graph"):
        capped = paths_between(df, "s", "t", max_hops=3, max_frontier=10)
    assert capped.count() <= 10  # ≤ cap paths can reach t through hop-2 frontier
    assert any("frontier cap" in r.message for r in caplog.records)
    full = paths_between(df, "s", "t", max_hops=3, max_frontier=None)
    assert full.count() == 144


@pytest.mark.parametrize("op", ["khop", "closeness"])
def test_bfs_frontier_cap_is_logged_when_it_binds(spark, caplog, op):
    """khop and the landmark BFS of closeness / harmonic_centrality log a
    binding ``max_frontier`` as paths_between does: on a 4-spoke star the
    cap of 1 keeps the smallest spoke at hop 1 and says so."""
    import logging

    from chatvector_ai_spark.operators.graph import closeness

    star = _e(spark, [("hub", "r", f"s{i}") for i in range(4)])
    with caplog.at_level(logging.WARNING, logger="chatvector_ai_spark.operators.graph"):
        if op == "khop":
            got = sorted(tuple(r) for r in khop(star, ["hub"], k=2, max_frontier=1).collect())
            assert got == [("hub", 0), ("s0", 1)]
        else:
            row = closeness(star, ["hub"], max_hops=2, max_frontier=1).collect()[0]
            assert (row.n_reached, row.sum_dist) == (1, 1)
    assert any(f"{op}: frontier cap 1 reached at hop 1" in r.message for r in caplog.records)
    if op == "khop":
        empty = khop(star, [])
        assert empty.columns == ["entity", "hop"] and empty.count() == 0


def _e(spark, rows):
    return spark.createDataFrame(rows, "src string, rel string, dst string")


def test_link_prediction_cn_path_and_triangle(spark):
    from chatvector_ai_spark.operators.graph import link_prediction_cn

    # path a-b-c: (a, c) share exactly one neighbor and are not adjacent
    path = _e(spark, [("a", "r", "b"), ("b", "r", "c")])
    got = link_prediction_cn(path, min_common=1).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.entity_a, row.entity_b, row.common_neighbors) == ("a", "c", 1)
    # |N(a) ∪ N(c)| = {b} → jaccard = 1.0 → 1_000_000 ppm
    assert row.jaccard_ppm == 1_000_000
    # triangle: every co-neighbor pair is already an edge → nothing predicted
    tri = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a")])
    assert link_prediction_cn(tri, min_common=1).count() == 0


def test_link_prediction_cn_respects_neighbor_cap(spark):
    from chatvector_ai_spark.operators.graph import link_prediction_cn

    # star: hub h with leaves l0..l5; cap=2 keeps only (l0, l1) per hub
    star = _e(spark, [("h", "r", f"l{i}") for i in range(6)])
    got = link_prediction_cn(star, max_neighbors=2, min_common=1).collect()
    assert {(r.entity_a, r.entity_b) for r in got} == {("l0", "l1")}
    # uncapped: C(6,2) = 15 predicted pairs
    assert link_prediction_cn(star, min_common=1).count() == 15


def test_mine_rules_finds_composition_rule(spark):
    from chatvector_ai_spark.operators.graph import mine_rules

    g = _e(
        spark,
        [
            ("a", "p", "b"), ("b", "q", "c"), ("a", "r", "c"),
            ("d", "p", "e"), ("e", "q", "f"), ("d", "r", "f"),
        ],
    )
    rules = {(r.r1, r.r2, r.r3): (r.support, r.conf_ppm)
             for r in mine_rules(g, min_support=2, min_conf_ppm=0).collect()}
    # p(x,y) ∧ q(y,z) ⇒ r(x,z) holds for both (a,c) and (d,f): conf = 2/2
    assert rules[("p", "q", "r")] == (2, 1_000_000)


def test_relation_properties_symmetry_and_functionality(spark):
    from chatvector_ai_spark.operators.graph import relation_properties

    g = _e(
        spark,
        [
            ("a", "s", "b"), ("b", "s", "a"),          # fully symmetric
            ("a", "f", "x"), ("c", "f", "x"),          # 2 subjects -> 1 object
        ],
    )
    props = {r.rel: r for r in relation_properties(g).collect()}
    assert props["s"].symmetric_ppm == 1_000_000
    assert props["f"].symmetric_ppm == 0
    assert props["f"].functional_ppm == 1_000_000       # 2 subjects / 2 edges
    assert props["f"].inv_functional_ppm == 500_000     # 1 object / 2 edges


def test_inverse_relations_detects_owl_inverse(spark):
    from chatvector_ai_spark.operators.graph import inverse_relations

    g = _e(spark, [("a", "owns", "b"), ("b", "owned_by", "a")])
    got = {(r.r1, r.r2): (r.n_overlap, r.inverse_ppm)
           for r in inverse_relations(g, min_overlap=1).collect()}
    assert got[("owns", "owned_by")] == (1, 1_000_000)
    assert got[("owned_by", "owns")] == (1, 1_000_000)


def test_closeness_path_graph_and_absent_seed(spark):
    from chatvector_ai_spark.operators.graph import closeness

    g = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "d")])
    got = {r.seed: r for r in closeness(g, ["a", "zzz"], max_hops=3).collect()}
    # from a: b@1, c@2, d@3 -> n=3, sum=6, closeness = 3e6 // 6
    assert (got["a"].n_reached, got["a"].sum_dist, got["a"].closeness_ppm) == (3, 6, 500_000)
    # a seed absent from the edge set reaches nothing and scores 0
    assert (got["zzz"].n_reached, got["zzz"].closeness_ppm) == (0, 0)
    with pytest.raises(ValueError):
        closeness(g, [])


def test_triple_evidence_aggregates_mentions_and_confidence(spark):
    from chatvector_ai_spark.operators.graph import triple_evidence

    rows = [
        ("a", "r", "b", "d1", "c1", 0.5),
        ("a", "r", "b", "d1", "c2", 0.25),
        ("a", "r", "b", "d2", "c3", 0.75),
        ("x", "q", "y", "d1", "c1", 1.0),
    ]
    e = spark.createDataFrame(
        rows, "src string, rel string, dst string, doc_id string, chunk_id string, conf float"
    )
    got = {(r.src, r.rel, r.dst): r for r in triple_evidence(e).collect()}
    ab = got[("a", "r", "b")]
    assert (ab.n_mentions, ab.n_docs, ab.n_chunks) == (3, 2, 3)
    assert ab.max_conf_ppm == 750_000
    assert ab.sum_conf_ppm == 1_500_000
    xy = got[("x", "q", "y")]
    assert (xy.n_mentions, xy.max_conf_ppm, xy.sum_conf_ppm) == (1, 1_000_000, 1_000_000)


def _py_anf_rsum(edges, max_hops, n_registers):
    """Pure-python replica of neighborhood_function's integer state:
    same md5 register init, same OR propagation; returns
    {(entity, hop): r_sum}."""
    import hashlib

    sym = set()
    for s, d in edges:
        if s != d:
            sym.add((s, d))
            sym.add((d, s))
    nodes = {s for s, _ in sym} | {d for _, d in sym}

    def tz(h):
        if h == 0:
            return 47
        n = 0
        while h % 2 == 0:
            h //= 2
            n += 1
        return min(n, 47)

    def lz(m):
        n = 0
        while m % 2 == 1:
            m //= 2
            n += 1
        return n

    masks = {
        x: [
            1 << tz(int(hashlib.md5(f"anf:{r}:{x}".encode()).hexdigest()[:15], 16))
            for r in range(n_registers)
        ]
        for x in nodes
    }
    out = {}
    for hop in range(1, max_hops + 1):
        nxt = {x: list(m) for x, m in masks.items()}
        for s, d in sym:
            for r in range(n_registers):
                nxt[d][r] |= masks[s][r]
        masks = nxt
        for x in nodes:
            out[(x, hop)] = sum(lz(m) for m in masks[x])
    return out


def test_neighborhood_function_matches_python_replica(spark):
    from chatvector_ai_spark.operators.graph import neighborhood_function

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "a")]
    e = spark.createDataFrame(
        [(s, "r", d) for s, d in edges], "src string, rel string, dst string"
    )
    got = {
        (r.entity, r.hop): r.r_sum
        for r in neighborhood_function(e, max_hops=3, n_registers=8).collect()
    }
    assert got == _py_anf_rsum(edges, 3, 8)


def test_neighborhood_function_monotone_and_deterministic(graph):
    from chatvector_ai_spark.operators.graph import neighborhood_function

    _, edges = graph
    nf = neighborhood_function(edges, max_hops=2, n_registers=8)
    rows = nf.collect()
    by_hop = {}
    for r in rows:
        by_hop[(r.entity, r.hop)] = r.r_sum
        assert r.nf_est > 0
    for (ent, hop), rs in by_hop.items():
        if hop == 2:
            assert rs >= by_hop[(ent, 1)]
    again = {(r.entity, r.hop): r.r_sum for r in neighborhood_function(
        edges, max_hops=2, n_registers=8).collect()}
    assert again == by_hop


def test_hits_separates_hubs_from_authorities(spark):
    from chatvector_ai_spark.operators.graph import hits

    e = spark.createDataFrame(
        [("x1", "r", "y"), ("x2", "r", "y"), ("x3", "r", "y"), ("y", "r", "z")],
        "src string, rel string, dst string",
    )
    got = {r.entity: (r.hub_scaled, r.auth_scaled) for r in hits(e).collect()}
    # x1-x3 are pure hubs pointing at the dominant authority y
    assert got["y"][1] == 1_000_000  # max authority
    assert got["x1"][0] == got["x2"][0] == got["x3"][0] == 1_000_000  # max hubs
    assert got["y"][1] > got["z"][1]
    assert got["x1"][0] > got["y"][0]
    assert got["z"] == (0, got["z"][1])  # z has no out-edges: zero hub


def test_random_walks_follow_edges_and_truncate_at_sinks(spark):
    from chatvector_ai_spark.operators.graph import random_walks

    edge_list = [("a", "b"), ("b", "c"), ("b", "d"), ("c", "a"), ("d", "e")]
    e = spark.createDataFrame(
        [(s, "r", d) for s, d in edge_list], "src string, rel string, dst string"
    )
    rows = random_walks(e, n_walks=2, length=4).collect()
    eset = set(edge_list)
    walks = {}
    for r in rows:
        walks.setdefault((r.start, r.walk_id), {})[r.step] = r.entity
    starts = {s for s, _ in edge_list} | {d for _, d in edge_list}
    assert {k[0] for k in walks} == starts
    assert all(len({w for s, w in walks if s == st}) == 2 for st in starts)
    for (start, _), path in walks.items():
        assert path[0] == start
        steps = sorted(path)
        assert steps == list(range(len(steps)))  # contiguous, truncation only at end
        for t in steps[1:]:
            assert (path[t - 1], path[t]) in eset
    # 'e' is a sink: every walk from e is just the start row
    assert all(len(p) == 1 for (s, _), p in walks.items() if s == "e")
    # deterministic: second run identical
    again = {}
    for r in random_walks(e, n_walks=2, length=4).collect():
        again.setdefault((r.start, r.walk_id), {})[r.step] = r.entity
    assert again == walks


def test_community_supergraph_collapses_components(spark):
    from chatvector_ai_spark.operators.graph import community_supergraph

    # two triangles joined by nothing: rollup must keep them apart and
    # account for every raw (non-self) edge row exactly once
    rows = [
        ("a", "r1", "b"), ("b", "r1", "c"), ("c", "r2", "a"), ("a", "r1", "b"),
        ("x", "r1", "y"), ("y", "r2", "z"), ("z", "r1", "x"),
    ]
    e = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = community_supergraph(e, iterations=3).collect()
    assert sum(r.n_edges for r in got) == len(rows)
    comp_of = {}
    for r in got:
        comp_of.setdefault(r.c_src, set()).add(r.c_dst)
    left = {c for r in got for c in (r.c_src, r.c_dst) if c in "abc"}
    right = {c for r in got for c in (r.c_src, r.c_dst) if c in "xyz"}
    # no supergraph edge crosses the two components
    for r in got:
        assert not (r.c_src in left and r.c_dst in right)
        assert not (r.c_src in right and r.c_dst in left)
        assert r.n_rels >= 1


def test_degree_histogram_buckets_by_bit_length(spark):
    from chatvector_ai_spark.operators.graph import degree_histogram

    # a: deg 3 (bucket 1), b: deg 2 (bucket 1), c/hub2: deg 1 (bucket 0),
    # hub: deg 5 (bucket 2)
    rows = [
        ("a", "r", "b"), ("a", "r", "hub"), ("hub", "r", "a"),
        ("b", "r", "hub"), ("hub", "r", "c"), ("hub", "r", "hub2"),
    ]
    e = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {r.bucket: r for r in degree_histogram(e).collect()}
    assert got[0].n_entities == 2  # c, hub2 (deg 1)
    assert got[1].n_entities == 2  # a (3), b (2)
    assert (got[1].min_degree, got[1].max_degree) == (2, 3)
    assert got[2].n_entities == 1 and got[2].min_degree == 5
    assert sum(r.n_entities for r in got.values()) == 5
    assert sum(r.sum_degree for r in got.values()) == 2 * len(rows)


def _py_node2vec(edge_list, n_walks, length, w_return=25, w_near=100, w_far=50):
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    e = sorted({(s, d) for s, d in edge_list if s != d})
    out_nbrs = {}
    for s, d in e:
        out_nbrs.setdefault(s, []).append(d)  # dst-sorted via e sort
    eset = set(e)
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    walks = {}
    for start in nodes:
        for w in range(n_walks):
            path = [start]
            prev, cur = start, start
            for t in range(1, length + 1):
                nbrs = out_nbrs.get(cur)
                if not nbrs:
                    break
                if t == 1:
                    nxt = nbrs[h60(f"rw:{start}:{w}:{t}:{cur}") % len(nbrs)]
                else:
                    ws = [
                        w_return if x == prev
                        else (w_near if (prev, x) in eset else w_far)
                        for x in nbrs
                    ]
                    r = h60(f"n2v:{start}:{w}:{t}:{cur}") % sum(ws)
                    cum = 0
                    for x, wt in zip(nbrs, ws):
                        cum += wt
                        if r < cum:
                            nxt = x
                            break
                prev, cur = cur, nxt
                path.append(nxt)
            walks[(start, w)] = path
    return walks


def test_node2vec_walks_match_python_replica(spark):
    from chatvector_ai_spark.operators.graph import node2vec_walks

    # branching graph: every node has >= 2 out-neighbors so the weighted
    # choice is actually exercised (returns, triangles, and far jumps)
    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("b", "d"),
        ("c", "a"), ("c", "d"), ("d", "a"), ("d", "b"),
    ]
    e = spark.createDataFrame(
        [(s, "r", d) for s, d in edge_list], "src string, rel string, dst string"
    )
    got = {}
    for r in node2vec_walks(e, n_walks=3, length=4).collect():
        got.setdefault((r.start, r.walk_id), {})[r.step] = r.entity
    expect = _py_node2vec(edge_list, 3, 4)
    assert set(got) == set(expect)
    for k, path in expect.items():
        assert [got[k][t] for t in sorted(got[k])] == path


def _py_tarjan(edge_list):
    """Reference SCC labels: entity -> min id in its SCC (iterative Tarjan)."""
    adj: dict[str, list[str]] = {}
    nodes: set[str] = set()
    for s, d in edge_list:
        if s != d:
            adj.setdefault(s, []).append(d)
            nodes.add(s)
            nodes.add(d)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    onstk: dict[str, bool] = {}
    stk: list[str] = []
    sccs: list[list[str]] = []
    counter = [0]

    def strongconnect(root):
        work = [(root, iter(adj.get(root, [])))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stk.append(root)
        onstk[root] = True
        while work:
            v, it = work[-1]
            advanced = False
            for w_ in it:
                if w_ not in index:
                    index[w_] = low[w_] = counter[0]
                    counter[0] += 1
                    stk.append(w_)
                    onstk[w_] = True
                    work.append((w_, iter(adj.get(w_, []))))
                    advanced = True
                    break
                elif onstk.get(w_):
                    low[v] = min(low[v], index[w_])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w_ = stk.pop()
                    onstk[w_] = False
                    comp.append(w_)
                    if w_ == v:
                        break
                sccs.append(comp)

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    out = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def test_scc_matches_tarjan_on_planted_cycles(spark):
    import random

    from chatvector_ai_spark.operators.graph import strongly_connected_components

    rng = random.Random(7)
    edges = set()
    for cyc in ([3, 17, 42, 9], [25, 11, 50], [1, 2]):
        names = [f"n{i:02d}" for i in cyc]
        for i in range(len(names)):
            edges.add((names[i], names[(i + 1) % len(names)]))
    for _ in range(80):
        a, b = rng.sample(range(60), 2)
        edges.add((f"n{a:02d}", f"n{b:02d}"))
    df = spark.createDataFrame(
        [(s, "r", d) for s, d in edges], "src string, rel string, dst string"
    )
    expected = _py_tarjan(edges)
    got = {
        r["entity"]: r["scc"]
        for r in strongly_connected_components(df, max_outer_rounds=16).collect()
    }
    assert got == expected
    assert sum(1 for comp in set(expected.values()) if list(expected.values()).count(comp) > 1) >= 3


def test_scc_dag_is_all_trivial_and_trim_handles_it(spark):
    from chatvector_ai_spark.operators.graph import strongly_connected_components

    # pure DAG (a path): trim alone must resolve it — every node its own SCC
    e = spark.createDataFrame(
        [(f"p{i}", "r", f"p{i+1}") for i in range(6)],
        "src string, rel string, dst string",
    )
    got = {r["entity"]: r["scc"] for r in strongly_connected_components(e).collect()}
    assert got == {f"p{i}": f"p{i}" for i in range(7)}


def test_scc_propagation_loops_raise_when_rounds_run_out(spark):
    """A 12-node directed cycle needs 11 color rounds; labels taken before
    the color fixed point would split it into 12 singleton SCCs, so a
    ``max_prop_rounds`` cap below that raises, and the default caps give
    the one SCC Tarjan gives. The star-plus-chain graph colors in one round
    but needs 11 confirm rounds, so the cap also binds on the confirm
    loop."""
    from chatvector_ai_spark.operators.graph import strongly_connected_components

    cycle = [(f"v{i:02d}", f"v{(i + 1) % 12:02d}") for i in range(12)]
    df = _edges_df(spark, cycle)
    with pytest.raises(ValueError, match="color loop: max_prop_rounds=5"):
        strongly_connected_components(df, max_prop_rounds=5)
    got = {r["entity"]: r["scc"] for r in strongly_connected_components(df).collect()}
    assert got == _py_tarjan(cycle)
    assert set(got.values()) == {"v00"}

    star_chain = [("v00", f"v{i:02d}") for i in range(1, 12)] + [
        (f"v{i:02d}", f"v{(i + 1) % 12:02d}") for i in range(1, 12)
    ]
    with pytest.raises(ValueError, match="confirm loop: max_prop_rounds=5"):
        strongly_connected_components(_edges_df(spark, star_chain), max_prop_rounds=5)


_LOOP_FREE = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
    ("d", "e"), ("b", "d"), ("e", "f"), ("a", "e"),
]


@pytest.mark.parametrize(
    "op, kwargs",
    [
        ("degree_assortativity", {}),
        ("wl_colors", {}),
        ("link_prediction_cn", {}),
        ("link_prediction_ra", {}),
        ("closeness", {"seeds": ["a", "c"]}),
        ("neighborhood_function", {}),
    ],
)
def test_self_loop_leaves_output_unchanged(spark, op, kwargs):
    """Undirected operators work on the simple graph: one added self-loop
    row (on the hub ``c``) must leave every output row as it was, as the
    DuckDB twins drop it too."""
    from chatvector_ai_spark.operators import graph

    run = getattr(graph, op)
    want = sorted(map(tuple, run(_edges_df(spark, _LOOP_FREE), **kwargs).collect()))
    got = sorted(
        map(tuple, run(_edges_df(spark, _LOOP_FREE + [("c", "c")]), **kwargs).collect())
    )
    assert want
    assert got == want


def test_skipgram_pairs_window_and_symmetry(spark):
    from chatvector_ai_spark.operators.graph import skipgram_pairs

    walks = spark.createDataFrame(
        [("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c"), ("a", 0, 3, "d")],
        "start string, walk_id int, step int, entity string",
    )
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in skipgram_pairs(walks, window=2).collect()
    }
    # distance 1 and 2 pairs appear both ways; distance 3 excluded
    assert got[("a", "b")] == 1 and got[("b", "a")] == 1
    assert got[("a", "c")] == 1 and got[("b", "d")] == 1
    assert ("a", "d") not in got and ("d", "a") not in got
    # two walks over the same nodes double the counts
    walks2 = walks.unionByName(
        walks.selectExpr("start", "CAST(1 AS INT) AS walk_id", "step", "entity")
    )
    got2 = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in skipgram_pairs(walks2, window=2).collect()
    }
    assert got2[("a", "b")] == 2


def test_effective_diameter_flags_p90_hop(spark):
    from chatvector_ai_spark.operators.graph import effective_diameter

    # path graph p0..p5: ball sizes keep growing through hop 3
    e = spark.createDataFrame(
        [(f"p{i}", "r", f"p{i+1}") for i in range(5)],
        "src string, rel string, dst string",
    )
    rows = {r["hop"]: r for r in effective_diameter(e, max_hops=3, n_registers=16).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["nf_total"] <= rows[2]["nf_total"] <= rows[3]["nf_total"]
    assert rows[3]["frac_ppm"] == 1_000_000 and rows[3]["reaches_p90"]
    assert rows[1]["frac_ppm"] < 1_000_000


def test_link_prediction_ra_discounts_hub_neighbors(spark):
    from chatvector_ai_spark.operators.graph import link_prediction_ra

    # a and b share rare neighbor z (deg 2); c and d share hub h (deg 6)
    edge_list = [("a", "z"), ("b", "z"), ("c", "h"), ("d", "h"),
                 ("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4")]
    e = spark.createDataFrame(
        [(s, "r", d) for s, d in edge_list], "src string, rel string, dst string"
    )
    got = {
        (r["entity_a"], r["entity_b"]): r["ra_ppm"]
        for r in link_prediction_ra(e, min_common=1).collect()
    }
    assert got[("a", "b")] == 1_000_000 // 2
    assert got[("c", "d")] == 1_000_000 // 6
    assert got[("a", "b")] > got[("c", "d")]


def test_clustering_coefficient_triangle_with_pendant(spark):
    from chatvector_ai_spark.operators.graph import clustering_coefficient

    # triangle a-b-c plus pendant edge c-d: a, b fully clustered; c has
    # one closed wedge of three; degree-1 d has no defined coefficient
    g = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a"), ("c", "r", "d")])
    got = {r.entity: r for r in clustering_coefficient(g).collect()}
    assert set(got) == {"a", "b", "c"}
    assert (got["a"].degree, got["a"].n_triangles, got["a"].lcc_ppm) == (2, 1, 1_000_000)
    assert (got["b"].degree, got["b"].n_triangles, got["b"].lcc_ppm) == (2, 1, 1_000_000)
    assert (got["c"].degree, got["c"].n_triangles, got["c"].lcc_ppm) == (3, 1, 333_333)


def test_clustering_coefficient_zero_for_open_wedge(spark):
    from chatvector_ai_spark.operators.graph import clustering_coefficient

    g = _e(spark, [("a", "r", "b"), ("b", "r", "c")])  # open path: no triangle
    got = {r.entity: r for r in clustering_coefficient(g).collect()}
    assert set(got) == {"b"}  # only b has degree >= 2
    assert (got["b"].n_triangles, got["b"].lcc_ppm) == (0, 0)


def test_degree_assortativity_star_is_minus_one(spark):
    from chatvector_ai_spark.operators.graph import degree_assortativity

    # a star is perfectly disassortative: every edge joins deg-3 to deg-1
    g = _e(spark, [("h", "r", "x1"), ("h", "r", "x2"), ("h", "r", "x3")])
    row = degree_assortativity(g).collect()[0]
    assert (row.m, row.sum_xy, row.sum_x, row.sum_x2) == (6, 18, 12, 30)
    assert row.assortativity == -1.0


def test_katz_centrality_path_graph_scaled_weights(spark):
    from chatvector_ai_spark.operators.graph import katz_centrality

    # a -> b -> c: walks_1(b)=1, walks_1(c)=1, walks_2(c)=1 (a->b->c)
    # k=3, alpha_inv=4 => katz_scaled = 16*w1 + 4*w2 + 1*w3
    g = _e(spark, [("a", "r", "b"), ("b", "r", "c")])
    got = {r.entity: r.katz_scaled for r in katz_centrality(g, 3, 4).collect()}
    assert got == {"b": 16, "c": 20}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        katz_centrality(g, iterations=0)


def test_harmonic_centrality_path_graph_and_absent_seed(spark):
    from chatvector_ai_spark.operators.graph import harmonic_centrality

    g = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "d")])
    got = {r.seed: r for r in harmonic_centrality(g, ["a", "zzz"], max_hops=3).collect()}
    # from a: b@1 (1e6) + c@2 (5e5) + d@3 (333333)
    assert (got["a"].n_reached, got["a"].harmonic_ppm) == (3, 1_833_333)
    assert (got["zzz"].n_reached, got["zzz"].harmonic_ppm) == (0, 0)


def test_wl_colors_distinguish_path_roles_not_triangle(spark):
    from chatvector_ai_spark.operators.graph import wl_colors

    # P3 path: the two ends are 1-WL-equivalent, the middle is not
    p3 = _e(spark, [("a", "r", "b"), ("b", "r", "c")])
    got = {r.entity: r.color for r in wl_colors(p3, rounds=2).collect()}
    assert got["a"] == got["c"] != got["b"]
    # K3 triangle: vertex-transitive, all colors equal
    k3 = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a")])
    cols = {r.color for r in wl_colors(k3, rounds=2).collect()}
    assert len(cols) == 1
    # determinism
    again = {r.entity: r.color for r in wl_colors(p3, rounds=2).collect()}
    assert again == got


def test_ktruss_peels_pendants_and_cascades(spark):
    from chatvector_ai_spark.operators.graph import ktruss

    # K4 on a,b,c,d + triangle (d,e,f) + pendant edge f-g
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    extra = [("d", "e"), ("e", "f"), ("d", "f"), ("f", "g")]
    g = _e(spark, [(s, "r", d) for s, d in k4 + extra])
    # 3-truss (support >= 1): every triangle edge survives, pendant dies
    t3 = {(r.entity_a, r.entity_b): r.support for r in ktruss(g, k=3).collect()}
    assert ("f", "g") not in t3
    assert set(t3) == {tuple(sorted(p)) for p in k4 + extra[:3]}
    assert t3[("a", "b")] == 2  # K4 edge sits in two triangles
    assert t3[("d", "e")] == 1
    # 4-truss (support >= 2): only K4 survives; the attached triangle
    # cascades away
    t4 = {(r.entity_a, r.entity_b): r.support for r in ktruss(g, k=4).collect()}
    assert set(t4) == {tuple(sorted(p)) for p in k4}
    assert all(s == 2 for s in t4.values())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ktruss(g, k=1)


def test_triangles_found_when_degree_and_lex_order_disagree(spark):
    """Regression: the wedge pair must be ordered by the same (degree, id)
    total order as the orientation. With id-only ordering, the triangle
    d-e-f below (deg e=2 < f=3 < d=4, but lex d < e < f) was silently
    dropped — the closing-edge lookup probed the wrong direction."""
    from chatvector_ai_spark.operators.graph import triangles

    rows = [("d", "r", "e"), ("e", "r", "f"), ("f", "r", "d"),
            ("f", "r", "p"), ("d", "r", "q"), ("d", "r", "s")]
    g = spark.createDataFrame(rows, "src string, rel string, dst string")
    got = {r.entity: r.n_triangles for r in triangles(g).collect()}
    assert got == {"d": 1, "e": 1, "f": 1}


def test_graph_stats_census_on_known_graph(spark):
    from chatvector_ai_spark.operators.graph import graph_stats

    # triangle a-b-c (one edge reciprocated) + pendant c-d
    g = _e(spark, [("a", "r", "b"), ("b", "r", "a"), ("b", "r", "c"),
                   ("c", "r", "a"), ("c", "r", "d")])
    row = graph_stats(g).collect()[0]
    assert (row.n_nodes, row.n_edges_directed, row.n_edges_und) == (4, 5, 4)
    assert row.max_degree == 3
    # density: 2*4 / (4*3) = 2/3
    assert row.density_ppm == 666_666
    # one triangle; wedges = 1 + 1 + 3 = 5 -> 3/5
    assert (row.n_triangles, row.transitivity_ppm) == (1, 600_000)
    # a<->b reciprocated: 2 of 5 directed edges
    assert row.reciprocity_ppm == 400_000


def test_relation_reachability_is_min_hop_closure_of_one_relation(spark):
    from chatvector_ai_spark.operators.graph import relation_reachability

    # chain a->b->c->d->e via 'r', plus a distractor 'q' shortcut a->e
    g = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "d"),
                   ("d", "r", "e"), ("a", "q", "e")])
    got = {(r.src, r.dst): r.hops for r in relation_reachability(g, "r", max_hops=3).collect()}
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1, ("d", "e"): 1,
        ("a", "c"): 2, ("b", "d"): 2, ("c", "e"): 2,
        ("a", "d"): 3, ("b", "e"): 3,
    }  # (a, e) needs 4 'r'-hops; the 'q' shortcut must not leak in
    # a cycle reaches back to its start with the cycle length
    cyc = _e(spark, [("x", "r", "y"), ("y", "r", "x")])
    got2 = {(r.src, r.dst): r.hops for r in relation_reachability(cyc, "r", max_hops=3).collect()}
    assert got2[("x", "x")] == 2 and got2[("x", "y")] == 1


def test_relation_reachability_frontier_cap_binds_deterministically(spark):
    from chatvector_ai_spark.operators.graph import relation_reachability

    # two complete bipartite layers a->b->c: 72 hop-1 edges, 36 hop-2 pairs
    rows = [(f"a{i}", "r", f"b{j}") for i in range(6) for j in range(6)] + \
           [(f"b{i}", "r", f"c{j}") for i in range(6) for j in range(6)]
    g = _e(spark, rows)
    capped = relation_reachability(g, "r", max_hops=2, max_frontier=10)
    by = {r.hops: r["count"] for r in capped.groupBy("hops").count().collect()}
    assert by[1] == 72 and by[2] == 10  # hop-2 layer truncated to the cap
    again = relation_reachability(g, "r", max_hops=2, max_frontier=10)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, again.collect()))


def test_match_pattern_optional_left_joins_with_nulls(spark):
    import pytest

    from chatvector_ai_spark.operators.graph import match_pattern

    g = _e(spark, [("s1", "supplies", "t1"), ("s2", "supplies", "t2"),
                   ("t1", "acquired", "x")])
    got = {(r.a, r.b): r.c for r in match_pattern(
        g, [("?a", "supplies", "?b")], optional=[("?b", "acquired", "?c")]
    ).collect()}
    assert got == {("s1", "t1"): "x", ("s2", "t2"): None}  # unmatched keeps NULL
    # an OPTIONAL sharing no variable (would be cartesian) is rejected
    with pytest.raises(ValueError):
        match_pattern(g, [("?a", "supplies", "?b")],
                      optional=[("?x", "acquired", "?y")])
    # an all-constant OPTIONAL is rejected too
    with pytest.raises(ValueError):
        match_pattern(g, [("?a", "supplies", "?b")],
                      optional=[("t1", "acquired", "x")])


def test_match_pattern_values_clause(spark):
    import pytest

    from chatvector_ai_spark.operators.graph import match_pattern

    g = _e(spark, [("s1", "supplies", "t1"), ("s2", "supplies", "t2"),
                   ("s3", "supplies", "t3"), ("t1", "acquired", "x")])
    got = {(r.a, r.b) for r in match_pattern(
        g, [("?a", "supplies", "?b")], values={"a": ["s1", "s3"]}
    ).collect()}
    assert got == {("s1", "t1"), ("s3", "t3")}
    # VALUES composes with OPTIONAL (filter applies before the left join)
    rows = match_pattern(
        g, [("?a", "supplies", "?b")],
        optional=[("?b", "acquired", "?c")], values={"a": ["s1", "s2"]},
    ).collect()
    assert {(r.a, r.c) for r in rows} == {("s1", "x"), ("s2", None)}
    # naming an unbound variable raises
    with pytest.raises(ValueError):
        match_pattern(g, [("?a", "supplies", "?b")], values={"z": ["s1"]})


def test_match_pattern_minus_removes_compatible_bindings(spark):
    import pytest

    from chatvector_ai_spark.operators.graph import match_pattern

    g = _e(spark, [("s1", "supplies", "t1"), ("s2", "supplies", "t2"),
                   ("s1", "acquired", "x")])
    got = {(r.a, r.b) for r in match_pattern(
        g, [("?a", "supplies", "?b")], minus=[("?a", "acquired", "?c")]
    ).collect()}
    assert got == {("s2", "t2")}  # s1 acquired something -> removed
    with pytest.raises(ValueError):
        match_pattern(g, [("?a", "supplies", "?b")],
                      minus=[("?x", "acquired", "?y")])


def test_match_pattern_union_merges_branches_with_null_fill(spark):
    from chatvector_ai_spark.operators.graph import match_pattern_union

    g = _e(spark, [("p", "acquired", "q"), ("r", "merged_with", "s"),
                   ("p", "acquired", "q")])
    got = {(r.a, r.b) for r in match_pattern_union(
        g, [[("?a", "acquired", "?b")], [("?a", "merged_with", "?b")]]
    ).collect()}
    assert got == {("p", "q"), ("r", "s")}
    # asymmetric branches: the extra variable NULL-fills on the other branch
    rows = match_pattern_union(
        g, [[("?a", "acquired", "?b")],
            [("?a", "merged_with", "?b"), ("?a", "merged_with", "?c")]]
    ).collect()
    by_a = {r.a: r.c for r in rows}
    assert by_a["p"] is None and by_a["r"] == "s"


def test_maximal_matching_invariants_and_determinism(spark):
    from chatvector_ai_spark.operators.graph import maximal_matching

    n = 10
    rows = [(f"v{i}", "r", f"v{(i + 1) % n}") for i in range(n)] + \
           [(f"v{i}", "r", f"v{(i + 4) % n}") for i in range(0, n, 2)]
    g = _e(spark, rows)
    got = [(r.a, r.b) for r in maximal_matching(g).collect()]
    # matching: no node in two pairs
    nodes = [x for ab in got for x in ab]
    assert len(nodes) == len(set(nodes))
    # maximality: every candidate edge touches a matched node
    matched = set(nodes)
    cand = {tuple(sorted((s, d))) for s, _, d in rows}
    assert all(a in matched or b in matched for a, b in cand)
    # deterministic rerun
    again = [(r.a, r.b) for r in maximal_matching(g).collect()]
    assert sorted(got) == sorted(again)


def test_maximal_matching_on_single_edge_and_triangle(spark):
    from chatvector_ai_spark.operators.graph import maximal_matching

    one = _e(spark, [("a", "r", "b")])
    assert [(r.a, r.b, r["round"]) for r in maximal_matching(one).collect()] == [("a", "b", 1)]
    # a triangle admits exactly one matched pair
    tri = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a")])
    assert maximal_matching(tri).count() == 1


def test_mis_invariants_and_determinism(spark):
    from chatvector_ai_spark.operators.graph import maximal_independent_set

    # ring of 12 + chords: every node decided within 4 rounds w.h.p.
    n = 12
    rows = [(f"v{i}", "r", f"v{(i + 1) % n}") for i in range(n)] + \
           [(f"v{i}", "r", f"v{(i + 3) % n}") for i in range(0, n, 2)]
    g = _e(spark, rows)
    res = {r.entity: (r.status, r["round"]) for r in maximal_independent_set(g).collect()}
    assert set(res) == {f"v{i}" for i in range(n)}  # every node classified once
    mis = {v for v, (s, _) in res.items() if s == "mis"}
    adj = set()
    for s, _, d in rows:
        adj.add((s, d)); adj.add((d, s))
    # independence: no two MIS members adjacent
    assert not any((a, b) in adj for a in mis for b in mis if a != b)
    # maximality: every decided non-member is adjacent to a member
    for v, (s, _) in res.items():
        if s == "covered":
            assert any((v, m) in adj for m in mis)
        elif s == "undecided":
            # never adjacent to a member (it would have been covered)
            assert not any((v, m) in adj for m in mis)
    # deterministic: identical rerun
    res2 = {r.entity: (r.status, r["round"]) for r in maximal_independent_set(g).collect()}
    assert res == res2


def test_mis_two_node_graph_splits_mis_and_covered(spark):
    from chatvector_ai_spark.operators.graph import maximal_independent_set

    g = _e(spark, [("a", "r", "b")])
    res = {r.entity: r.status for r in maximal_independent_set(g).collect()}
    assert sorted(res.values()) == ["covered", "mis"]


def test_partition_modularity_two_triangles_bridge(spark):
    from chatvector_ai_spark.operators.graph import partition_modularity

    # two triangles joined by one bridge edge c-d; labels = the triangles
    g = _e(spark, [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a"),
                   ("d", "r", "e"), ("e", "r", "f"), ("f", "r", "d"),
                   ("c", "r", "d")])
    labels = spark.createDataFrame(
        [("a", "L"), ("b", "L"), ("c", "L"), ("d", "R"), ("e", "R"), ("f", "R")],
        "entity string, label string")
    row = partition_modularity(g, labels).collect()[0]
    # m=7, intra=6, d_L = d_R = 2+2+3 = 7 -> Q = (4*7*6 - 2*49) / (4*49)
    assert (row.n_edges, row.n_communities, row.intra_edges) == (7, 2, 6)
    assert (row.q_num, row.q_den) == (70, 196)
    assert row.modularity == round(70 / 196, 6)
    # the degenerate all-one-community partition scores Q = 0 exactly
    one = spark.createDataFrame(
        [(n, "ALL") for n in "abcdef"], "entity string, label string")
    r1 = partition_modularity(g, one).collect()[0]
    assert (r1.q_num, r1.modularity) == (0, 0.0)


def test_connected_components_at_threshold_scale_equals_distributed_path(spark, on_both_paths):
    """``CC_SMALL_CORE_EDGES`` input edges, the largest call the driver
    path takes: the union-find labels, returned through ``local_frame``,
    are the rows of the large-star/small-star rounds (threshold 0)."""
    from pyspark.sql import functions as F

    from chatvector_ai_spark.config import CC_SMALL_CORE_EDGES
    from chatvector_ai_spark.operators.graph import connected_components

    # blocks of 50 nodes, each wired by the permutation x -> 7x + 3 (mod 50):
    # several cycles per block, no self-loop (6x + 3 is odd)
    i = F.col("id")
    edges = spark.range(CC_SMALL_CORE_EDGES).select(
        F.concat(F.lit("n"), i).alias("src"),
        F.concat(F.lit("n"), F.floor(i / 50) * 50 + (i * 7 + 3) % 50).alias("dst"),
    )
    driver, distributed = on_both_paths(lambda: connected_components(edges))
    assert "LocalRelation" in driver._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert driver.count() == distributed.count() == CC_SMALL_CORE_EDGES
    assert driver.exceptAll(distributed).count() == 0
    assert distributed.exceptAll(driver).count() == 0
