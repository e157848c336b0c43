"""Entity linking + connected-components canonicalization tests."""

import pytest

from chatvector_ai_spark import datagen as dg
from chatvector_ai_spark.operators.canonicalize import canonical_map, linking_edges
from chatvector_ai_spark.operators.extract import extract_triples_df, good_triples
from chatvector_ai_spark.operators.graph import connected_components
from chatvector_ai_spark.operators.ingest import ingest_chunks
from chatvector_ai_spark.operators.link import link_mentions, mentions_from_triples

N_DOCS = 80
N_ENTITIES = 300


@pytest.fixture(scope="module")
def linked(spark):
    """The pipeline's shape: triples carry the chunk embedding only where
    a surface is an ambiguous alias of the fixture dictionary."""
    docs = dg.documents_df(spark, N_DOCS, n_entities=N_ENTITIES)
    alias = dg.alias_df(spark, N_ENTITIES).cache()
    amb = {r["alias"] for r in alias.groupBy("alias").count().where("count > 1").collect()}
    chunks = ingest_chunks(docs, strategy="fixed", size=300, overlap=60)
    triples = good_triples(extract_triples_df(chunks, embed_if_surface_in=amb)).cache()
    mentions = mentions_from_triples(triples)
    return triples, alias, link_mentions(mentions, alias).cache()


def test_known_surfaces_link_to_their_entity(linked):
    _, _, lm = linked
    pdf = lm.toPandas()
    assert len(pdf) > 0
    linked_rows = pdf[pdf["linked"]]
    # every mention whose surface IS a canonical name must link
    canon_by_entity = {dg.entity_id(i): dg.canonical_name(i) for i in range(N_ENTITIES)}
    surface_to_entity = {v.lower(): k for k, v in canon_by_entity.items()}
    for _, row in pdf.iterrows():
        expect = surface_to_entity.get(row["surface"].lower())
        if expect is not None:
            assert row["linked"], f"unlinked known surface {row['surface']}"
    # ambiguous aliases (every 97th entity's canonical also aliases i+1)
    # still resolve deterministically to exactly one entity
    dupes = linked_rows.groupby(["chunk_id", "role", "m_start"]).size()
    assert (dupes == 1).all()


def test_unlinked_surfaces_get_surrogates(linked):
    _, _, lm = linked
    pdf = lm.toPandas()
    un = pdf[~pdf["linked"]]
    if len(un):
        assert un["entity_id"].str.startswith("S:").all()
        assert (un["canonical"] == un["surface"]).all()


def test_connected_components_match_union_find(spark, linked, on_both_paths):
    """canonical_map (driver union-find, then large-star/small-star rounds
    at threshold 0) equals a union-find over the linking edges, restricted
    to entity nodes."""
    _, alias, lm = linked
    edge_rows = linking_edges(lm, alias).toPandas()

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    for _, e in edge_rows.iterrows():
        union(e["src"], e["dst"])

    expected = {n: find(n) for n in parent if not n.startswith("S:")}
    for got in on_both_paths(lambda: {
        r["entity_id"]: r["canonical_entity"] for r in canonical_map(lm, alias).collect()
    }):
        assert got == expected


def test_canonical_map_depends_on_the_alias_dictionary_alone(linked):
    """link_mentions links a mention to a dictionary candidate of its
    lowercased surface, or to the surrogate ``S:<surface>``, which
    linking_edges drops as a self-edge: every mention edge is already a
    dictionary edge, so canonical_map with no mentions is the same map."""
    _, alias, lm = linked
    mention_edges = linking_edges(lm, alias.limit(0))
    assert mention_edges.count() > 0
    assert mention_edges.exceptAll(linking_edges(lm.limit(0), alias)).count() == 0
    full, dict_only = canonical_map(lm, alias), canonical_map(lm.limit(0), alias)
    assert full.count() == dict_only.count() > 0
    assert full.exceptAll(dict_only).count() == 0


def test_cc_pendant_pruning_edge_cases(spark, on_both_paths):
    """Chains, mutual pendant pairs, stars: CC must keep exact min-id
    components on both paths (pendants can own the component minimum)."""
    edges = spark.createDataFrame(
        [("B", "A"), ("B", "C"),          # chain: min is pendant A
         ("D", "E"),                        # isolated pair
         ("F", "G"), ("F", "H"), ("F", "I"),  # star, hub F
         ("Z", "Y")],                       # pair where min is dst
        "src string, dst string",
    )
    for got in on_both_paths(lambda: {
        (r["entity"], r["component"]) for r in connected_components(edges).collect()
    }):
        assert got == {
            ("A", "A"), ("B", "A"), ("C", "A"),
            ("D", "D"), ("E", "D"),
            ("F", "F"), ("G", "F"), ("H", "F"), ("I", "F"),
            ("Y", "Y"), ("Z", "Y"),
        }


def test_cc_self_loops_single_row_per_node(spark, on_both_paths):
    """Self-edges must not duplicate output rows, and a node whose only
    edge is a self-loop is not an endpoint of a non-self edge, so it has
    no row."""
    edges = spark.createDataFrame(
        [("X", "X"),                 # self-loop-only node
         ("A", "A"), ("A", "B"),     # self-loop on a connected node
         ("C", "D")],
        "src string, dst string",
    )
    for got in on_both_paths(lambda: sorted(
        (r["entity"], r["component"]) for r in connected_components(edges).collect()
    )):
        assert got == [("A", "A"), ("B", "A"), ("C", "C"), ("D", "C")]
