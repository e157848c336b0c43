"""Round-5 graph/KGE operators: coreness (h-index core decomposition),
SPARQL property paths / FILTER / CONSTRUCT, DistMult ranking eval, and the
deep-cascade ktruss fixture the unrolled oracle twin cannot pin (the twin
unrolls a fixed round count; this chain needs one peel round per link)."""

import pytest
from pyspark.sql import functions as F

from chatvector_ai_spark.operators.graph import (
    construct_triples,
    coreness,
    ktruss,
    match_pattern,
    property_path,
)
from chatvector_ai_spark.operators.kgtrain import distmult_eval, transe_eval


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, rel string, dst string")


# ---------------------------------------------------------------------------
# coreness
# ---------------------------------------------------------------------------


def test_coreness_clique_with_pendant_chain(spark):
    # K4 on a,b,c,d (coreness 3) + chain d-e-f (coreness 1)
    k4 = [
        (u, "r", v)
        for i, u in enumerate("abcd")
        for v in "abcd"[i + 1 :]
    ]
    rows = k4 + [("d", "r", "e"), ("e", "r", "f")]
    got = {
        r["entity"]: r["coreness"]
        for r in coreness(_edges(spark, rows)).collect()
    }
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1}


def test_coreness_matches_kcore_membership(spark):
    # two triangles sharing a node + a pendant: coreness 2 on the
    # triangles, 1 on the pendant; the 2-core is exactly the coreness>=2 set
    rows = [
        ("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a"),
        ("c", "r", "d"), ("d", "r", "e"), ("e", "r", "c"),
        ("e", "r", "p"),
    ]
    got = {
        r["entity"]: r["coreness"]
        for r in coreness(_edges(spark, rows)).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2, "d": 2, "e": 2, "p": 1}


def test_coreness_star_is_one(spark):
    rows = [("hub", "r", f"leaf{i}") for i in range(6)]
    got = coreness(_edges(spark, rows)).collect()
    assert all(r["coreness"] == 1 for r in got)
    assert len(got) == 7


# ---------------------------------------------------------------------------
# ktruss deep cascade: a chain of triangles sharing single vertices peels
# one link per round under the 3-truss... actually each triangle in a
# vertex-shared chain independently has support 1 per edge, so build the
# EDGE-shared cascade: a strip of triangles where deleting the weakest
# edge drops the next triangle's support below threshold, forcing one
# round per strip position.
# ---------------------------------------------------------------------------


def test_ktruss_deep_cascade_converges(spark):
    # triangle strip v0-v1-v2, v1-v2-v3, ..., v(n-2)-v(n-1)-vn:
    # under k=4 (support >= 2 per surviving edge) the strip unzips from
    # both ends one round at a time — with n big enough, more rounds than
    # the old max_rounds=4 default. The fixed-point loop must reach the
    # empty 4-truss, not stop early with leftover edges.
    n = 14
    rows = []
    for i in range(n - 1):
        rows.append((f"v{i:02d}", "r", f"v{i + 1:02d}"))
    for i in range(n - 2):
        rows.append((f"v{i:02d}", "r", f"v{i + 2:02d}"))
    out = ktruss(_edges(spark, rows), k=4).collect()
    assert out == []  # a strip has no 4-truss; early-stopped peeling would


def test_ktruss_keeps_true_truss_in_cascade(spark):
    # same strip + a K5 welded on the end: the K5 IS a 4-truss (each edge
    # in 3 triangles) and must survive the long unzip of the strip
    n = 10
    rows = []
    for i in range(n - 1):
        rows.append((f"v{i:02d}", "r", f"v{i + 1:02d}"))
    for i in range(n - 2):
        rows.append((f"v{i:02d}", "r", f"v{i + 2:02d}"))
    k5 = [
        (u, "r", v)
        for i, u in enumerate(["k1", "k2", "k3", "k4", "k5"])
        for v in ["k1", "k2", "k3", "k4", "k5"][i + 1 :]
    ]
    rows += k5 + [(f"v{n - 1:02d}", "r", "k1")]
    out = ktruss(_edges(spark, rows), k=4).collect()
    kept = {(r["entity_a"], r["entity_b"]) for r in out}
    assert kept == {(min(u, v), max(u, v)) for u, _, v in k5}
    assert all(r["support"] == 3 for r in out)


def test_ktruss_and_coreness_raise_when_rounds_run_out(spark):
    # the n=14 strip of test_ktruss_deep_cascade_converges: k-truss peels
    # it one round per strip position, and the h-index iteration moves in
    # its first round, so both caps below bind before the fixed point
    n = 14
    rows = [(f"v{i:02d}", "r", f"v{i + 1:02d}") for i in range(n - 1)]
    rows += [(f"v{i:02d}", "r", f"v{i + 2:02d}") for i in range(n - 2)]
    strip = _edges(spark, rows)
    with pytest.raises(ValueError, match="ktruss: max_rounds=2"):
        ktruss(strip, k=4, max_rounds=2)
    with pytest.raises(ValueError, match="coreness: max_rounds=1"):
        coreness(strip, max_rounds=1)


# ---------------------------------------------------------------------------
# property paths / FILTER / CONSTRUCT
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def path_graph(spark):
    return _edges(
        spark,
        [
            ("a", "acquired", "b"),
            ("b", "supplies", "c"),
            ("c", "supplies", "d"),
            ("d", "supplies", "e"),
            ("e", "supplies", "f"),  # 4 hops from b: beyond max_hops=3
            ("x", "acquired", "c"),  # second start
            ("b", "supplies", "d"),  # shortcut: d reachable in 1
        ],
    )


def test_property_path_min_hops(spark, path_graph):
    got = {
        (r["a"], r["c"]): r["hops"]
        for r in property_path(path_graph, "acquired", "supplies", 3).collect()
    }
    assert got == {
        ("a", "c"): 1,
        ("a", "d"): 1,  # via the shortcut, not 2
        ("a", "e"): 2,
        ("a", "f"): 3,
        ("x", "d"): 1,
        ("x", "e"): 2,
        ("x", "f"): 3,
    }


def test_property_path_respects_bound(spark, path_graph):
    got = {
        (r["a"], r["c"])
        for r in property_path(path_graph, "acquired", "supplies", 1).collect()
    }
    assert got == {("a", "c"), ("a", "d"), ("x", "d")}


def test_match_pattern_filter_expr(spark, path_graph):
    rows = match_pattern(
        path_graph,
        [("?a", "acquired", "?b"), ("?b", "supplies", "?c")],
        filter_expr="c <> 'c'",
    ).collect()
    assert {(r["a"], r["b"], r["c"]) for r in rows} == {("a", "b", "d"), ("x", "c", "d")}


def test_construct_triples_emits_template(spark, path_graph):
    out = construct_triples(
        path_graph,
        [("?a", "acquired", "?b"), ("?b", "supplies", "?c")],
        [("?a", "indirectly_supplies", "?c")],
    ).collect()
    assert {(r["src"], r["rel"], r["dst"]) for r in out} == {
        ("a", "indirectly_supplies", "c"),
        ("a", "indirectly_supplies", "d"),
        ("x", "indirectly_supplies", "d"),
    }


def test_construct_triples_unbound_var_raises(spark, path_graph):
    with pytest.raises(ValueError, match="never"):
        construct_triples(
            path_graph,
            [("?a", "acquired", "?b")],
            [("?a", "made_of", "?zzz")],
        ).collect()


# ---------------------------------------------------------------------------
# DistMult eval
# ---------------------------------------------------------------------------


def test_distmult_eval_shape_and_ranges(spark, path_graph):
    out = distmult_eval(path_graph, dim=8).collect()
    rels = {r["rel"] for r in out}
    assert rels == {"acquired", "supplies"}
    for r in out:
        assert r["n_queries"] >= 1
        assert 0.0 < r["mrr"] <= 1.0
        assert 0.0 <= r["hits_at_k"] <= 1.0


def test_distmult_eval_differs_from_transe(spark, path_graph):
    # different scorers over the same graph should not produce identical
    # rankings (would indicate the score expression is ignored)
    dm = {r["rel"]: r["mrr"] for r in distmult_eval(path_graph, dim=8).collect()}
    te = {r["rel"]: r["mrr"] for r in transe_eval(path_graph, dim=8).collect()}
    assert dm != te


# ---------------------------------------------------------------------------
# cheapest paths (bounded Bellman-Ford) + ComplEx eval
# ---------------------------------------------------------------------------


def test_cheapest_paths_prefers_cheaper_detour(spark):
    from chatvector_ai_spark.operators.graph import cheapest_paths

    # weights are hash-derived; assert structural properties instead of
    # pinned values: triangle s->a->t vs direct s->t — cost(s,t) must be
    # min(direct, detour) and every cost positive
    rows = [("s", "r", "a"), ("a", "r", "t"), ("s", "r", "t")]
    got = {
        (r["seed"], r["entity"]): r["cost"]
        for r in cheapest_paths(_edges(spark, rows), ["s"], max_hops=3).collect()
    }
    assert set(got) == {("s", "a"), ("s", "t")}
    assert all(c > 0 for c in got.values())
    # the detour bound: cost(s,t) <= cost(s,a) + cost(a,t); recompute the
    # a->t leg by seeding at a
    leg = {
        (r["seed"], r["entity"]): r["cost"]
        for r in cheapest_paths(_edges(spark, rows), ["a"], max_hops=3).collect()
    }
    assert got[("s", "t")] <= got[("s", "a")] + leg[("a", "t")]


def test_cheapest_paths_respects_hop_bound(spark):
    from chatvector_ai_spark.operators.graph import cheapest_paths

    chain = [(f"n{i}", "r", f"n{i + 1}") for i in range(5)]
    got2 = {
        r["entity"]
        for r in cheapest_paths(_edges(spark, chain), ["n0"], max_hops=2).collect()
    }
    assert got2 == {"n1", "n2"}
    got5 = {
        r["entity"]
        for r in cheapest_paths(_edges(spark, chain), ["n0"], max_hops=5).collect()
    }
    assert got5 == {"n1", "n2", "n3", "n4", "n5"}


def test_cheapest_paths_deterministic(spark):
    from chatvector_ai_spark.operators.graph import cheapest_paths

    rows = [("s", "r", "a"), ("a", "q", "b"), ("s", "q", "b")]
    a = sorted(map(tuple, cheapest_paths(_edges(spark, rows), ["s"]).collect()))
    b = sorted(map(tuple, cheapest_paths(_edges(spark, rows), ["s"]).collect()))
    assert a == b


def test_complex_eval_shape_and_asymmetry(spark, path_graph):
    from chatvector_ai_spark.operators.kgtrain import complex_eval, distmult_eval

    out = complex_eval(path_graph, dim=8).collect()
    assert {r["rel"] for r in out} == {"acquired", "supplies"}
    for r in out:
        assert 0.0 < r["mrr"] <= 1.0
    # three scorers, three rankings: ComplEx must differ from DistMult too
    cx = {r["rel"]: r["mrr"] for r in out}
    dm = {r["rel"]: r["mrr"] for r in distmult_eval(path_graph, dim=8).collect()}
    assert cx != dm
