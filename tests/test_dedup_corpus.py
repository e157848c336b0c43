"""End-to-end dedup application (operators/dedup.dedup_corpus)."""

import pytest

from chatvector_ai_spark.operators.dedup import dedup_corpus, near_dup_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, source string, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    # 1,2: byte-identical exact dups. 3: token-permuted near-dup of 1
    # (token-set Jaccard 1.0 -> signatures identical -> banded for sure).
    # 4: unique. 5: exact dup of 1 but in ANOTHER source (kept: source is
    # the tenancy/blocking boundary). 6: near-dup of 4 in another source
    # (NOT paired across sources).
    return _docs(spark, [
        (1, "web", "alpha beta gamma delta epsilon"),
        (2, "web", "alpha beta gamma delta epsilon"),
        (3, "web", "epsilon delta gamma beta alpha"),
        (4, "web", "the quick brown fox jumps over the lazy dog"),
        (5, "books", "alpha beta gamma delta epsilon"),
        (6, "books", "quick brown fox jumps over the lazy dog the"),
    ])


def test_dedup_corpus_counts_and_survivors(spark, corpus):
    kept, report = dedup_corpus(spark, corpus)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # 2 exact-removed (doc 2), doc 3 near-dup-removed; 5 and 6 survive in
    # their own source block
    assert ids == [1, 4, 5, 6]
    assert report["n_input"] == 6
    assert report["exact_removed"] == 1
    assert report["neardup_removed"] == 1
    assert report["n_kept"] == 4
    assert kept.columns == corpus.columns  # schema preserved


def test_dedup_is_deterministic_first_wins_and_idempotent(spark, corpus):
    kept1, _ = dedup_corpus(spark, corpus)
    kept2, report2 = dedup_corpus(spark, kept1)
    assert report2["exact_removed"] == 0
    assert report2["neardup_removed"] == 0
    assert sorted(r["doc_id"] for r in kept2.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in kept1.select("doc_id").collect()
    )


def test_near_dup_pairs_block_within_source(spark, corpus):
    pairs = near_dup_pairs(spark, corpus).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    # web-internal dups pair; the cross-source twins (1,5) and (4,6) never do
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert all(not ({a, b} & {5, 6}) for a, b in got)


def test_near_dup_pairs_equal_suite_pair_query(spark, corpus):
    """The operator returns exactly the rows of the suite's
    dd_jaccard_pairs, on the sf0.001 documents and on the fixture corpus,
    and at threshold 0.9 exactly the >= 0.9 subset of them."""
    from chatvector_ai_spark.suite import SPARK_SQL, register_views

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    register_views(spark, "/root/testdata/sf0.001")
    docs = spark.table("documents")
    suite = rows(spark.sql(SPARK_SQL["dd_jaccard_pairs"]))
    assert suite and rows(near_dup_pairs(spark, docs)) == suite
    tight = rows(near_dup_pairs(spark, docs, threshold=0.9))
    assert tight == [r for r in suite if r[2] >= 0.9] and 0 < len(tight) < len(suite)

    corpus.createOrReplaceTempView("documents")
    try:
        suite = rows(spark.sql(SPARK_SQL["dd_jaccard_pairs"]))
    finally:
        register_views(spark, "/root/testdata/sf0.001")
    assert rows(near_dup_pairs(spark, corpus)) == suite == [
        (1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)
    ]


def test_threshold_tightens_and_guards(spark):
    # J(7,8) = 9/11 ~ 0.818: in at 0.8, out at 0.9
    docs = _docs(spark, [
        (7, "web", "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
        (8, "web", "t1 t2 t3 t4 t5 t6 t7 t8 t9 u1"),
    ])
    at08 = {(r["a_id"], r["b_id"]) for r in near_dup_pairs(spark, docs, 0.8).collect()}
    at09 = {(r["a_id"], r["b_id"]) for r in near_dup_pairs(spark, docs, 0.9).collect()}
    assert (7, 8) in at08 and not at09
    with pytest.raises(ValueError, match="band geometry"):
        near_dup_pairs(spark, docs, threshold=0.5)
    with pytest.raises(ValueError, match="missing columns"):
        near_dup_pairs(spark, docs.drop("source"))


def test_dedup_matches_suite_cluster_accounting(spark):
    """On the sf0.001 documents table, docs removed by dedup_corpus's
    near-dup stage equals the suite's dd_dup_clusters n_removed total over
    the same (exact-deduped) input — the applied operator and the audit
    query agree."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    kept, report = dedup_corpus(spark, docs)
    assert near_dup_pairs(spark, kept).count() == 0  # idempotent at corpus scale
    assert report["n_kept"] + report["exact_removed"] + report["neardup_removed"] == report["n_input"]
    assert report["neardup_clusters"] >= 1


def test_dedup_fold_matches_full_rebuild_on_monotone_ids(spark):
    from chatvector_ai_spark.operators.dedup import dedup_fold

    old = _docs(spark, [
        (1, "web", "alpha beta gamma delta epsilon"),
        (4, "web", "the quick brown fox jumps over the lazy dog"),
    ])
    kept0, _ = dedup_corpus(spark, old)
    new = _docs(spark, [
        (10, "web", "alpha beta gamma delta epsilon"),       # exact dup of kept 1
        (11, "web", "epsilon delta gamma beta alpha"),       # near-dup of kept 1
        (12, "web", "completely novel content about spark"),  # unique
        (13, "web", "completely novel content about spark"),  # exact dup of 12
        (14, "web", "spark about content novel completely"),  # near-dup of 12
    ])
    admitted, report = dedup_fold(spark, kept0, new)
    folded = kept0.unionByName(admitted)
    rebuilt, _ = dedup_corpus(spark, old.unionByName(new))
    assert sorted(r["doc_id"] for r in folded.collect()) == sorted(
        r["doc_id"] for r in rebuilt.collect()
    ) == [1, 4, 12]
    assert report == {
        "n_new": 5, "exact_dropped": 2, "neardup_dropped": 2,
        "n_admitted": 1, "threshold": 0.8,
    }


def test_dedup_fold_bridge_keeps_both_kept_docs(spark):
    """The documented append-only divergence: a new doc near-dup to TWO
    kept docs (which are not near-dups of each other) is dropped, and
    both kept docs stay — where a full rebuild would revoke one."""
    from chatvector_ai_spark.operators.dedup import dedup_fold

    # t1..t20 vs t5..t24: J = 16/24 ~ 0.67 (kept apart);
    # bridge = their union t1..t24: J vs each = 20/24 ~ 0.83
    d1 = " ".join(f"t{i}" for i in range(1, 21))
    d2 = " ".join(f"t{i}" for i in range(5, 25))
    bridge = " ".join(f"t{i}" for i in range(1, 25))
    old = _docs(spark, [(1, "web", d1), (2, "web", d2)])
    kept0, rep0 = dedup_corpus(spark, old)
    assert rep0["n_kept"] == 2  # genuinely not near-dups of each other
    admitted, report = dedup_fold(spark, kept0, _docs(spark, [(9, "web", bridge)]))
    assert admitted.count() == 0
    assert report["neardup_dropped"] == 1
    # the rebuild diverges exactly as documented: one kept doc revoked
    rebuilt, _ = dedup_corpus(spark, old.unionByName(_docs(spark, [(9, "web", bridge)])))
    assert sorted(r["doc_id"] for r in rebuilt.collect()) == [1]


def test_null_text_docs_dedup_among_themselves_not_vanish(spark):
    """md5(NULL) is NULL and NULL join keys never match — without the
    sentinel key every NULL-text row silently vanished from `kept`."""
    docs = spark.createDataFrame(
        [(1, "web", "real content here"), (2, "web", None), (3, "web", None)],
        "doc_id bigint, source string, text string",
    )
    kept, report = dedup_corpus(spark, docs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 2]  # NULL-text group keeps its min-id representative
    assert report["exact_removed"] == 1 and report["n_kept"] == 2


def test_null_source_docs_dedup_as_their_own_block_not_vanish(spark):
    """A NULL ``source`` is a block of its own in the exact step, as NULL
    text is: before the null-safe key, the semi-join and the fold's
    anti-join matched no NULL-source row, so every such row vanished."""
    from chatvector_ai_spark.operators.dedup import dedup_fold

    docs = _docs(spark, [
        (1, None, "alpha beta gamma"),
        (2, "web", "delta eps zeta"),
        (3, None, "unique words here"),
        (4, None, "alpha beta gamma"),
    ])
    kept, report = dedup_corpus(spark, docs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3]
    assert report["exact_removed"] == 1 and report["n_kept"] == 3

    new = _docs(spark, [
        (10, None, "brand new words entirely"),
        (11, None, "alpha beta gamma"),      # exact copy of kept NULL-source doc 1
        (12, None, "brand new words entirely"),
        (13, "web", "alpha beta gamma"),     # same text, other source: kept
    ])
    admitted, rep = dedup_fold(spark, kept, new)
    assert sorted(r["doc_id"] for r in admitted.collect()) == [10, 13]
    assert rep["exact_dropped"] == 2 and rep["n_admitted"] == 2
