"""Distributed ingest/extract vs single-node oracle: per-row parity.

The BASELINE.json per-row invariant: for every doc, the pipeline's emitted
(kind, text, media_ref, offset/order) sequence equals the oracle applying the
same clean/chunk rules — multiset AND order (SURVEY.md §5.2-2).
"""

import pandas as pd
import pytest

from chatvector_ai_spark import datagen as dg
from chatvector_ai_spark.config import EMBEDDING_DIM
from chatvector_ai_spark.operators.extract import extract_triples_df, good_triples, quarantine_df
from chatvector_ai_spark.operators.ingest import ingest_chunks
from chatvector_ai_spark.oracle.docflow import extract_doc, ingest_doc
from chatvector_ai_spark.oracle.hashembed import embed_text

N_DOCS = 120


@pytest.fixture(scope="module")
def docs_df(spark):
    return dg.documents_df(spark, N_DOCS, n_entities=500).cache()


@pytest.fixture(scope="module")
def chunks_pdf(spark, docs_df) -> pd.DataFrame:
    return ingest_chunks(docs_df, strategy="fixed", size=300, overlap=60).toPandas()


def _oracle_rows(strategy="fixed", size=300, overlap=60):
    rows = []
    for d in range(N_DOCS):
        spans = [vars(s) for s in dg.doc_spans(d, n_entities=500)]
        rows.extend(ingest_doc(dg.doc_id_of(d), spans, strategy=strategy, size=size, overlap=overlap))
    return pd.DataFrame(rows)


def test_span_sequence_parity(chunks_pdf):
    oracle = _oracle_rows()
    got = chunks_pdf.sort_values(["doc_id", "seq"]).reset_index(drop=True)
    exp = oracle.sort_values(["doc_id", "seq"]).reset_index(drop=True)
    assert len(got) == len(exp)
    for col in ["doc_id", "seq", "span_idx", "span_offset", "kind", "media_ref", "chunk_id", "chunk_text", "char_start", "char_end", "heading"]:
        pd.testing.assert_series_equal(
            got[col], exp[col], check_dtype=False, check_names=False, obj=col
        )


def test_media_rows_pass_through_in_order(chunks_pdf):
    media = chunks_pdf[chunks_pdf["kind"] != "text"]
    assert len(media) > 0
    assert (media["chunk_text"] == "").all()
    assert media["media_ref"].str.startswith("s3://media/").all()
    # order preserved: seq strictly increasing per doc across kinds
    for _, g in chunks_pdf.groupby("doc_id"):
        assert list(g.sort_values("seq")["seq"]) == list(range(len(g)))


def test_chunk_index_enumerates_text_chunks_per_doc(chunks_pdf):
    for _, g in chunks_pdf.groupby("doc_id"):
        text = g[g["kind"] == "text"].sort_values("seq")
        assert list(text["chunk_index"]) == list(range(len(text)))
        assert (text["chunk_id"] == text["doc_id"] + "#" + text["chunk_index"].astype(int).astype(str)).all()


def test_extract_parity_and_closed_form(spark, docs_df):
    # the pipeline's shape: the chunk embedding rides along only on triples
    # whose surface is an ambiguous alias of the fixture dictionary
    alias = dg.alias_df(spark, 500)
    amb = {r["alias"] for r in alias.groupBy("alias").count().where("count > 1").collect()}
    chunks = ingest_chunks(docs_df, strategy="fixed", size=300, overlap=60)
    raw = extract_triples_df(chunks, embed_if_surface_in=amb)
    got = good_triples(raw).toPandas()
    assert quarantine_df(raw).count() == 0

    # oracle twin over the same chunk rows
    oracle_chunks = _oracle_rows().to_dict("records")
    exp = pd.DataFrame(extract_doc(oracle_chunks))
    key = ["doc_id", "chunk_id", "subj", "pred", "obj", "subj_start", "obj_start"]
    got_k = got[key].sort_values(key).reset_index(drop=True)
    exp_k = exp[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_k, exp_k, check_dtype=False)

    # closed-form seeded facts all recovered (chunk boundaries may split a
    # sentence with overlap guaranteeing recovery; fixed 300/60 over our
    # template sizes keeps every sentence intact in at least one chunk)
    expected = set()
    for d in range(N_DOCS):
        for t in dg.expected_triples(d, n_entities=500):
            expected.add((dg.doc_id_of(d),) + t)
    got_set = set(zip(got["doc_id"], got["subj"], got["pred"], got["obj"]))
    missing = expected - got_set
    assert not missing, f"missing {len(missing)} seeded facts, e.g. {sorted(missing)[:3]}"


def test_embedding_matches_oracle(spark, docs_df):
    """The fused ingest embedding equals the reference hash embedding;
    media rows carry NULL."""
    chunks = ingest_chunks(
        docs_df, strategy="fixed", size=300, overlap=60, embed_dim=EMBEDDING_DIM
    )
    sample = chunks.where("kind = 'text'").limit(20).toPandas()
    for _, row in sample.iterrows():
        assert [float(x) for x in row["embedding"]] == embed_text(row["chunk_text"])
    media = chunks.where("kind != 'text'").limit(5).toPandas()
    assert len(media) > 0 and media["embedding"].isna().all()


def test_sparse_embedding_only_on_listed_surfaces(spark):
    """extract's ``embed_if_surface_in``: a good row whose lowercased subj
    or obj is in the set carries embed_text(chunk_text); every other good
    row and every quarantined row carries NULL; without the set the output
    has no ``embedding`` column."""
    from chatvector_ai_spark.oracle.svo import extract_triples

    def extractor(text):
        if "merged with" in text:
            raise ValueError("synthetic malformed row")
        return extract_triples(text)

    chunks = ingest_chunks(dg.documents_df(spark, 12)).cache()
    assert "embedding" not in extract_triples_df(chunks).columns
    subjects = sorted(
        {r["s"] for r in good_triples(extract_triples_df(chunks)).selectExpr("lower(subj) AS s").collect()}
    )
    listed = set(subjects[::3])
    raw = extract_triples_df(chunks, embed_if_surface_in=listed, extractor=extractor)
    rows = raw.join(chunks.select("chunk_id", "chunk_text"), "chunk_id").toPandas()
    bad = rows[rows["_error"].notna()]
    good = rows[rows["_error"].isna()]
    hit = good["subj"].str.lower().isin(listed) | good["obj"].str.lower().isin(listed)
    assert len(bad) > 0 and hit.any() and (~hit).any()
    for _, row in good[hit].iterrows():
        assert [float(x) for x in row["embedding"]] == embed_text(row["chunk_text"])
    assert good[~hit]["embedding"].isna().all()
    assert bad["embedding"].isna().all()
    chunks.unpersist()


def test_triple_precision_recall_gate(spark, docs_df):
    """The BASELINE.json headline gate: distributed triples vs the
    single-node oracle at P/R >= 0.95 (designed to be exactly 1.0 — any
    difference could only come from batch/partition boundary effects,
    which the per-span design eliminates)."""
    chunks = ingest_chunks(docs_df)  # default fixed 1000/200
    got = good_triples(extract_triples_df(chunks)).toPandas()

    oracle_rows = []
    for d in range(N_DOCS):
        spans = [vars(s) for s in dg.doc_spans(d, n_entities=500)]
        oracle_rows.extend(ingest_doc(dg.doc_id_of(d), spans))
    exp = pd.DataFrame(extract_doc(oracle_rows))

    key_cols = ["doc_id", "chunk_id", "subj", "pred", "obj", "subj_start", "obj_start"]
    got_set = set(map(tuple, got[key_cols].itertuples(index=False)))
    exp_set = set(map(tuple, exp[key_cols].itertuples(index=False)))
    tp = len(got_set & exp_set)
    precision = tp / len(got_set) if got_set else 0.0
    recall = tp / len(exp_set) if exp_set else 0.0
    print(f"\ntriple precision={precision:.4f} recall={recall:.4f} "
          f"(n_got={len(got_set)} n_expected={len(exp_set)})")
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0  # the designed-for bar
