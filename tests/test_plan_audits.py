"""Plan-shape regression tests: the designed plan IS the executed plan.

Each assertion encodes a 100 TB-scale property: filter pushdown to the
scan, column pruning, broadcast of dimensions, no Python eval in JVM-only
paths, no shuffle in narrow stages.
"""

import re

import pytest
from pyspark.sql import functions as F

from chatvector_ai_spark import datagen as dg
from chatvector_ai_spark.operators.extract import extract_triples_df, good_triples
from chatvector_ai_spark.operators.ingest import ingest_chunks
from chatvector_ai_spark.operators.link import link_mentions, mentions_from_triples
from chatvector_ai_spark.plans.audit import plan_facts


@pytest.fixture(scope="module")
def tpch(spark, tmp_path_factory):
    # re-write a slice of testdata so scans go through fresh parquet
    d = str(tmp_path_factory.mktemp("plans"))
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.write.parquet(f"{d}/lineitem")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.write.parquet(f"{d}/orders")
    return d


def test_filter_pushdown_reaches_scan(spark, tpch):
    df = (
        spark.read.parquet(f"{tpch}/lineitem")
        .where(F.col("l_quantity") > 30.0)
        .select("l_orderkey", "l_quantity")
    )
    facts = plan_facts(df)
    assert facts.has_pushed_filter("l_quantity"), facts.text[:2000]


def test_column_pruning_reaches_scan(spark, tpch):
    df = spark.read.parquet(f"{tpch}/lineitem").groupBy("l_returnflag").count()
    facts = plan_facts(df)
    assert facts.reads_only_columns("l_returnflag"), facts.read_schemas


def test_small_dim_join_is_broadcast(spark, tpch):
    li = spark.read.parquet(f"{tpch}/lineitem")
    orders = spark.read.parquet(f"{tpch}/orders")
    joined = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    facts = plan_facts(joined)
    assert facts.broadcast_joins >= 1
    assert facts.sortmerge_joins == 0


def test_link_stage_is_broadcast_no_python(spark, tmp_path_factory):
    """Entity linking as the pipeline runs it: over committed triples that
    carry extract's sparse chunk embedding. Dictionary broadcast, zero
    Python evals on the mention side, no sort-merge join, and no window
    sort over mentions (SURVEY §4.3)."""
    d = str(tmp_path_factory.mktemp("link_plan"))
    aliases = dg.alias_df(spark, 100)
    amb = {r["alias"] for r in aliases.groupBy("alias").count().where("count > 1").collect()}
    chunks = ingest_chunks(dg.documents_df(spark, 10), embed_dim=16)
    good_triples(extract_triples_df(chunks, embed_if_surface_in=amb)).write.parquet(f"{d}/triples")
    triples = spark.read.parquet(f"{d}/triples")
    assert "embedding" in triples.columns
    linked = link_mentions(mentions_from_triples(triples), aliases)
    facts = plan_facts(linked)
    assert facts.broadcast_joins >= 1  # the dictionary join
    assert facts.sortmerge_joins == 0
    # mention-side plan is Python-free; disambiguation is a hash aggregate
    assert facts.python_evals == 0
    assert facts.aggregates >= 1
    # the only Window ops are the per-alias candidate count on the broadcast
    # dictionary subtree (constant-size input)
    assert facts.window_ops <= 4


def test_ingest_stage_is_narrow(spark):
    """Ingest+embed: a single Python crossing, no shuffle exchange."""
    docs = dg.documents_df(spark, 10)
    facts = plan_facts(ingest_chunks(docs, embed_dim=16))
    assert facts.exchanges == 0
    assert facts.python_evals == 2  # datagen mapInPandas + ingest mapInPandas


def test_suite_topk_uses_window_group_limit(spark):
    """T1 per-group top-k: Catalyst's WindowGroupLimit pushes rk<=2 down."""
    from chatvector_ai_spark.suite import SPARK_SQL, register_views

    register_views(spark, "/root/testdata/sf0.001")
    facts = plan_facts(spark.sql(SPARK_SQL["t1_topk_per_group"]))
    assert "WindowGroupLimit" in facts.text


def test_no_unpartitioned_windows_in_rank_queries(spark):
    """a3/w5/t7 + entry(): ranks and running sums come from TakeOrdered +
    bounded join-counts — zero Window operators, so nothing can ever move
    the whole table to one partition (the round-1 WindowExec warnings)."""
    from chatvector_ai_spark.suite import SPARK_SQL, register_views

    register_views(spark, "/root/testdata/sf0.001")
    for name in ("a3_rrf_fusion", "w5_rank_assignment", "t7_context_budget"):
        facts = plan_facts(spark.sql(SPARK_SQL[name]))
        assert facts.window_ops == 0, (name, facts.text[:1500])
        assert "TakeOrderedAndProject" in facts.text, name

    import __spark_entry__ as entrymod

    facts = plan_facts(entrymod.entry(spark))
    assert facts.window_ops == 0, facts.text[:1500]


def test_u1_only_window_is_partitioned_dedup(spark):
    from chatvector_ai_spark.suite import SPARK_SQL, register_views

    register_views(spark, "/root/testdata/sf0.001")
    facts = plan_facts(spark.sql(SPARK_SQL["u1_union_first_wins"]))
    # PARTITION BY doc_id first-wins dedup only (+ its WindowGroupLimit
    # pushdown); the per-list rankings are join-counts, not windows
    assert facts.window_ops <= 2, facts.text[:1500]
    assert "TakeOrderedAndProject" in facts.text


def test_pair_dedup_candidates_are_bucketed(spark):
    """dd_jaccard_pairs candidates come from LSH band-equality joins and
    dd_embed_neardup pairs from IVF-cell equality — no all-pairs blocked
    self-join survives in either plan."""
    from chatvector_ai_spark.suite import SPARK_SQL, register_views

    register_views(spark, "/root/testdata/sf0.001")
    jp = plan_facts(spark.sql(SPARK_SQL["dd_jaccard_pairs"]))
    assert "bd0" in jp.text  # band hash participates in the candidate join
    nd = plan_facts(spark.sql(SPARK_SQL["dd_embed_neardup"]))
    assert "cid" in nd.text  # cell id participates in the pair join


def test_near_dup_pairs_minhash_once_per_call(spark, monkeypatch):
    """The dedup operator's plans — its result and every plan it
    checkpoints on the way — compute the per-token md5 transform in one
    Project and scan the input once. The suite's dd_jaccard_pairs, whose
    CTEs Spark inlines at each use, does it in 12 Projects over 14 scans."""
    import re

    from chatvector_ai_spark.operators.dedup import near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plans = []
    checkpoint = type(docs).localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(plan_facts(self).text)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", recording)
    plans.append(plan_facts(near_dup_pairs(spark, docs)).text)

    def node_details(text):
        # the formatted plan's detail sections: "(<id>) <Op>" then its lines
        return re.findall(r"^\(\d+\) (\w+)(.*?)(?=^\(\d+\) |\Z)", text, re.M | re.S)

    nodes = [n for text in plans for n in node_details(text)]
    token_md5 = re.compile(r"md5\((cast\()?lambda ")
    md5_projects = [op for op, body in nodes if op == "Project" and token_md5.search(body)]
    scans = [op for op, body in nodes if op == "Scan" and "documents.parquet" in body]
    assert len(md5_projects) == 1, plans
    assert len(scans) == 1, plans


def test_bm25_and_ivf_rerank_plans_window_free(spark):
    """w2_bm25_topk ranks by TakeOrdered over per-row scores (corpus stats
    are scalar-subquery aggregates, not windows); ann_ivf_rerank's probe is
    an ORDER BY+LIMIT, not a global row_number — its only window is the
    per-vector (PARTITION BY vec_id) assignment argmax."""
    from chatvector_ai_spark.suite import SPARK_SQL, register_views

    register_views(spark, "/root/testdata/sf0.001")
    bm = plan_facts(spark.sql(SPARK_SQL["w2_bm25_topk"]))
    assert bm.window_ops == 0, bm.text[:1500]
    assert "TakeOrderedAndProject" in bm.text
    rr = plan_facts(spark.sql(SPARK_SQL["ann_ivf_rerank"]))
    assert "No Partition Defined" not in rr.text
    # assignment argmax window is partitioned; WindowGroupLimit may push it
    assert "PartitionSpec: [vec_id" in rr.text or "partitionSpec=[vec_id" in rr.text.replace(" ", "") or rr.window_ops >= 1


def test_asof_join_window_is_per_user(spark):
    """ev_asof_join's running max must be partitioned by user_id — an
    unpartitioned ordering would serialize the whole event table."""
    from chatvector_ai_spark.suite import SPARK_SQL, register_views

    register_views(spark, "/root/testdata/sf0.001")
    facts = plan_facts(spark.sql(SPARK_SQL["ev_asof_join"]))
    assert facts.window_ops >= 1
    assert "user_id" in facts.text
    # the Window node's partition spec names user_id (formatted plan prints
    # "Window [...], [user_id#..], [ts#.. ASC ..]" in the details section)
    import re as _re

    win_lines = [l for l in facts.text.splitlines() if "Window" in l and "user_id" in l]
    assert not any("No Partition Defined" in l for l in win_lines)


def test_pagerank_iteration_plan_stays_truncated(spark, monkeypatch):
    """After 5 iterations the pagerank plan must hang off the final
    localCheckpoint scan, not a 15-join lineage tower — the checkpoint is
    what keeps iteration N's plan O(1) instead of O(N). The threshold is 0
    so the join loop runs; the driver path would return a local relation
    and pass vacuously."""
    from chatvector_ai_spark.operators import graph
    from chatvector_ai_spark.operators.graph import pagerank

    monkeypatch.setattr(graph, "CC_SMALL_CORE_EDGES", 0)

    edges = spark.createDataFrame(
        [(f"e{i}", f"e{(i * 7 + 1) % 40}", "r") for i in range(40)],
        "src string, dst string, rel string",
    )
    facts = plan_facts(pagerank(edges, iterations=3))
    # a checkpointed plan scans the materialized RDD; no joins remain
    assert facts.sortmerge_joins + facts.broadcast_joins + facts.shuffle_hash_joins == 0, facts.text[:1500]


def test_kg_analytics_plans_bounded_windows_no_python(spark):
    """predicate_profile is pure hash-agg (no windows); metapath/structsim
    windows are all PARTITION BY an entity key; negative_samples' bucket
    rank is a join-count over the ≤n_buckets sizes table (no global window
    at all) and its dimension joins are broadcast — none of the analytics
    ops can move data-scale rows to one partition or drop into Python."""
    from chatvector_ai_spark.operators.graph import (
        metapath_counts,
        predicate_profile,
        structural_similarity,
    )
    from chatvector_ai_spark.operators.kgtrain import negative_samples

    edges = spark.createDataFrame(
        [("a", "r1", "b"), ("b", "r2", "c")], "src string, rel string, dst string"
    )

    facts = plan_facts(predicate_profile(edges))
    assert facts.window_ops == 0, facts.text[:1200]
    assert facts.python_evals == 0

    facts = plan_facts(metapath_counts(edges))
    # rk <= max_fanout must push down as WindowGroupLimit (partial top-K
    # per middle entity instead of a full per-partition sort)
    assert ") WindowGroupLimit" in facts.text, facts.text[:1200]
    assert facts.python_evals == 0

    facts = plan_facts(structural_similarity(edges))
    assert ") WindowGroupLimit" in facts.text, facts.text[:1200]
    assert facts.python_evals == 0

    facts = plan_facts(negative_samples(edges))
    # the per-bucket vocab index window only; the bucket rank is a
    # join-count (zero unpartitioned windows, pinned engine-wide below)
    assert facts.window_ops == 1, facts.text[:1200]
    assert facts.unpartitioned_windows == 0
    assert facts.python_evals == 0
    assert facts.broadcast_joins >= 1, facts.text[:1200]  # ranked dim broadcast


def test_kg_weighting_typing_bgp_plans_stay_jvm_side(spark):
    """edge_pmi / consolidate_edges are pure hash-aggs + equi-joins (no
    windows); infer_types' only window is a PARTITION BY entity top-1 that
    must push down as WindowGroupLimit; match_pattern compiles to
    constant-filtered scans chained with equi-joins — no Python, no
    cross-join for a connected pattern."""
    from chatvector_ai_spark.operators.graph import (
        consolidate_edges,
        edge_pmi,
        infer_types,
        match_pattern,
    )

    edges = spark.createDataFrame(
        [("a", "r1", "b", "d1", "t1", 0.5), ("b", "r2", "c", "d2", "t2", 0.9)],
        "src string, rel string, dst string, doc_id string, tenant_id string, conf float",
    )

    facts = plan_facts(edge_pmi(edges))
    assert facts.window_ops == 0, facts.text[:1200]
    assert facts.python_evals == 0

    facts = plan_facts(consolidate_edges(edges))
    assert facts.window_ops == 0, facts.text[:1200]
    assert facts.python_evals == 0

    facts = plan_facts(infer_types(edges))
    assert ") WindowGroupLimit" in facts.text, facts.text[:1200]
    assert facts.python_evals == 0

    plan = match_pattern(
        edges, [("?a", "r1", "?b"), ("?b", "r2", "?c")]
    )
    facts = plan_facts(plan)
    assert facts.python_evals == 0
    assert "CartesianProduct" not in facts.text, facts.text[:1200]
    # the rel constants survive as plan-level filters (pushable to the
    # parquet scan when the edge table is file-backed)
    assert "rel#" in facts.text and "r1" in facts.text, facts.text[:1200]


def test_transe_scoring_plan_is_shuffle_lean_and_jvm_side(spark):
    """transe_margin_loss computes embeddings INLINE (transform over a
    sequence literal — no embedding join), so beyond the negative sampler's
    two bounded windows and bucketed vocab join there is only the final
    hash-agg on rel. No Python evals anywhere in the training path."""
    from chatvector_ai_spark.operators.kgtrain import (
        transe_margin_loss,
        transe_sgd_step,
    )

    edges = spark.createDataFrame(
        [("a", "r1", "b"), ("b", "r2", "c")], "src string, rel string, dst string"
    )
    facts = plan_facts(transe_margin_loss(edges, dim=4))
    assert facts.python_evals == 0
    # only the sampler's per-bucket vocab index window (the bucket rank is
    # a join-count), and nothing unpartitioned
    assert facts.window_ops == 1, facts.text[:1200]
    assert facts.unpartitioned_windows == 0

    ents, rels = transe_sgd_step(edges, dim=4, lr=0.01)
    assert plan_facts(ents).python_evals == 0
    assert plan_facts(rels).python_evals == 0


def test_link_prediction_plan_uses_group_limits(spark):
    """transe_predict_tails: both the per-rel candidate cap and the
    per-(src, rel) top-k must push down as WindowGroupLimit; the
    query×candidate join is an equi-join on rel (no cartesian product);
    everything stays JVM-side."""
    from chatvector_ai_spark.operators.kgtrain import transe_predict_tails

    edges = spark.createDataFrame(
        [("a", "r1", "b"), ("b", "r2", "c")], "src string, rel string, dst string"
    )
    facts = plan_facts(transe_predict_tails(edges, dim=4))
    assert facts.python_evals == 0
    assert "CartesianProduct" not in facts.text, facts.text[:1200]
    assert facts.text.count(") WindowGroupLimit") >= 2, facts.text[:1500]


def test_lpa_and_summary_plans(spark):
    """label_propagation iterations hang off localCheckpoint scans (no
    lineage tower, no windows — the argmax is a min(struct) aggregate);
    entity_fact_summary's only window is the PARTITION BY src top-k with
    WindowGroupLimit pushdown."""
    from chatvector_ai_spark.operators.graph import (
        entity_fact_summary,
        label_propagation,
    )

    edges = spark.createDataFrame(
        [("a", "r1", "b"), ("b", "r2", "c")], "src string, rel string, dst string"
    )
    facts = plan_facts(label_propagation(edges, iterations=3))
    assert facts.python_evals == 0
    assert facts.window_ops == 0, facts.text[:1200]

    facts = plan_facts(entity_fact_summary(edges))
    assert facts.python_evals == 0
    assert ") WindowGroupLimit" in facts.text, facts.text[:1200]


def test_fusion_and_ontology_windows_are_bounded(spark):
    """resolve_conflicts' windows are PARTITION BY (src, rel) — the disputed
    candidate list only; induce_ontology windows partition by entity / (rel,
    side). No global windows, no Python."""
    from chatvector_ai_spark.operators.graph import induce_ontology, resolve_conflicts

    edges = spark.createDataFrame(
        [("a", "r1", "b", "d1", "t1", 0.5), ("b", "r2", "c", "d2", "t2", 0.9)],
        "src string, rel string, dst string, doc_id string, tenant_id string, conf float",
    )
    facts = plan_facts(resolve_conflicts(edges))
    assert facts.python_evals == 0
    assert "No Partition Defined" not in facts.text

    facts = plan_facts(induce_ontology(edges.select("src", "rel", "dst")))
    assert facts.python_evals == 0
    assert "No Partition Defined" not in facts.text


def test_no_unpartitioned_windows_engine_wide(spark):
    """EVERY suite query plans with ZERO unpartitioned Window operators —
    the move-everything-to-one-partition shape (WindowExec "No Partition
    Defined" warning) is banned engine-wide, not just in the queries a
    dedicated audit happens to cover. Iterative operators (pagerank, CC,
    LPA, k-core) checkpoint during construction, so this asserts on their
    final plan; their in-loop shapes have dedicated audits above."""
    from chatvector_ai_spark.suite import all_queries

    bad: dict[str, int] = {}
    for name, fn in all_queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        n = plan_facts(df).unpartitioned_windows
        if n:
            bad[name] = n
    assert not bad, f"unpartitioned windows in: {bad}"


def _node_details(text):
    # the formatted plan's detail sections: "(<id>) <Op>" then its lines
    return re.findall(r"^\(\d+\) (\w+)(.*?)(?=^\(\d+\) |\Z)", text, re.M | re.S)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001


def test_driver_built_frames_are_local_relations(spark):
    """What the engine builds from driver rows — the driver-path results
    of connected_components and pagerank, and the alias dictionary — is a
    JVM LocalRelation made through Arrow, so a plan that reads it starts
    no Python worker. createDataFrame over a Python list would plan a
    LogicalRDD over a Python RDD."""
    from chatvector_ai_spark.operators.graph import connected_components, pagerank

    i = F.col("id")
    edges = spark.range(40).select(
        F.concat(F.lit("n"), i).alias("src"), F.concat(F.lit("n"), (i * 7 + 3) % 40).alias("dst")
    )
    for df in (connected_components(edges), pagerank(edges), dg.alias_df(spark, 50)):
        plan = _optimized(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_dedup_results_read_the_materialized_exact_step(spark, tmp_path):
    """dedup_corpus's kept and dedup_fold's admitted read the checkpointed
    exact survivors and the driver-path component labels, never the
    input files: counting and committing them re-runs neither the scan
    nor the md5 -> anti-join -> groupBy -> semi-join plan."""
    from chatvector_ai_spark.operators.dedup import dedup_corpus, dedup_fold

    schema = "doc_id bigint, source string, text string"
    words = ["alpha beta gamma delta epsilon", "the quick brown fox jumps over the lazy dog"]
    base = [(1, "web", words[0]), (2, "web", words[0]), (3, "web", words[1]),
            (4, "web", " ".join(reversed(words[1].split())))]
    batch = [(10, "web", "a wholly new text"), (11, "web", words[0]),
             (12, "web", " ".join(reversed(words[0].split())))]
    for name, rows in (("base", base), ("batch", batch)):
        spark.createDataFrame(rows, schema).write.parquet(f"{tmp_path}/{name}")
    kept, _ = dedup_corpus(spark, spark.read.parquet(f"{tmp_path}/base"))
    admitted, _ = dedup_fold(spark, kept, spark.read.parquet(f"{tmp_path}/batch"))
    assert sorted(r["doc_id"] for r in admitted.collect()) == [10]
    for df in (kept, admitted):
        text = plan_facts(df).text
        assert "Scan parquet" not in text, text


def test_near_dup_pairs_runs_one_band_join(spark):
    """The candidate pairs come from one self-join on (source, band, bd)
    over the exploded band keys, not a union of six per-band joins."""
    from chatvector_ai_spark.operators.dedup import near_dup_pairs

    docs = spark.createDataFrame(
        [(1, "web", "alpha beta gamma delta"), (2, "web", "delta gamma beta alpha")],
        "doc_id bigint, source string, text string",
    )
    text = plan_facts(near_dup_pairs(spark, docs)).text
    band_joins = [
        body for op, body in _node_details(text)
        if op.endswith("Join") and re.search(r"Left keys \[\d+\]: \[[^\]]*\bband#", body)
    ]
    assert len(band_joins) == 1, text
