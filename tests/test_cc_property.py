"""Property test: both connected-components execution paths (driver
union-find and distributed large-star/small-star rounds) produce identical,
correct components on arbitrary small graphs — including self-loops,
parallel edges, chains, and hub stars that Hypothesis likes to build."""

from hypothesis import given, settings
from hypothesis import strategies as st

from chatvector_ai_spark.operators.graph import connected_components

NODES = [f"N{i:02d}" for i in range(12)]

edge_lists = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1,
    max_size=24,
)


def _reference_components(edges):
    """Union-find over the non-self edges (the ``src <> dst`` rule of the
    ``kg_components`` twin): a node with only self-loops has no row."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return {n: comp_min[find(n)] for n in parent}


@given(edge_lists)
@settings(max_examples=12, deadline=None)
def test_cc_paths_agree_and_match_union_find(spark, on_both_paths, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    expected = set(_reference_components(edges).items())
    driver, distributed = on_both_paths(lambda: {
        (r["entity"], r["component"])
        for r in connected_components(df).collect()
    })
    assert driver == expected
    assert distributed == expected
