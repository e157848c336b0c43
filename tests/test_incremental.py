"""Incremental document append (pipeline.incremental_update +
Warehouse delta-chain commits): folding new documents into a built KG must
be ROW-IDENTICAL to a fresh full build over the union corpus, while the
expensive Arrow stages (chunks, triples_raw) write only delta-sized
snapshots. The reference's own semantics are per-document incremental
(each upload appends its chunks, sqlalchemy_service.py:237-273); this is
the batch-engine analog."""

import os

import pytest
from pyspark.sql import functions as F

from chatvector_ai_spark import datagen as dg
from chatvector_ai_spark.pipeline import incremental_update, run_pipeline
from chatvector_ai_spark.warehouse import Warehouse

N_BASE, N_NEW = 40, 20


def _rows(spark, wh, table, key):
    df = wh.read(spark, table, key)
    return sorted(map(tuple, df.collect())), df.columns


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("inc_corpus")
    full = dg.documents_df(spark, N_BASE + N_NEW)
    base_ids = [dg.doc_id_of(i) for i in range(N_BASE)]
    full.where(F.col("doc_id").isin(base_ids)).write.parquet(str(d / "base"))
    full.where(~F.col("doc_id").isin(base_ids)).write.parquet(str(d / "new"))
    full.write.parquet(str(d / "full"))
    return d


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("inc_wh")))
    base = run_pipeline(spark, wh, docs_path=str(corpus / "base"), resume=False)
    inc = incremental_update(spark, wh, base.input_key, str(corpus / "new"))
    full_wh = Warehouse(str(tmp_path_factory.mktemp("full_wh")))
    full = run_pipeline(spark, full_wh, docs_path=str(corpus / "full"), resume=False)
    return wh, base, inc, full_wh, full


def test_incremental_matches_fresh_full_build(spark, built):
    wh, _base, inc, full_wh, full = built
    for table in ("chunks", "triples", "quarantine", "canonical_map", "nodes", "edges"):
        got, gcols = _rows(spark, wh, table, inc.input_key)
        want, wcols = _rows(spark, full_wh, table, full.input_key)
        assert gcols == wcols, table
        assert got == want, f"{table}: {len(got)} vs {len(want)} rows"


def test_incremental_stages_write_delta_sized_snapshots(spark, built):
    """The chunks/triples_raw commits of the incremental run must cover
    ONLY the new documents (delta I/O), while their chained reads cover
    the full corpus."""
    wh, base, inc, _fw, _f = built
    for table in ("chunks", "triples_raw"):
        delta = wh.latest_entry(table, inc.input_key)
        b = wh.latest_entry(table, base.input_key)
        assert delta["delta_of"] == b["snapshot"]
        chained = wh.read(spark, table, inc.input_key).count()
        assert delta["row_count"] < chained  # lineage counts the delta only
        assert delta["row_count"] + b["row_count"] == chained
    # per-doc proof: the delta snapshot contains no base doc_ids
    delta_dir = wh._entry_data_dirs(wh.latest_entry("chunks", inc.input_key))[-1]  # noqa: SLF001
    delta_docs = {r["doc_id"] for r in spark.read.parquet(delta_dir).select("doc_id").distinct().collect()}
    base_ids = {dg.doc_id_of(i) for i in range(N_BASE)}
    assert delta_docs and not (delta_docs & base_ids)


def test_empty_batch_fold_commits_empty_deltas(spark, corpus, built):
    """A fold of zero new documents commits empty chunks/triples_raw
    deltas (the triples_raw delta is an ``ok``-partitioned write with no
    file to infer a schema from) and leaves the graph tables unchanged."""
    wh, base, _inc, _fw, _f = built
    empty = spark.read.parquet(str(corpus / "new")).limit(0)
    key = f"{base.input_key}+empty"
    run = incremental_update(spark, wh, base.input_key, new_docs=empty, new_input_key=key)
    assert run.stages_skipped == []
    for table in ("chunks", "triples_raw"):
        delta = wh.latest_entry(table, key)
        assert delta["delta_of"] == wh.latest_entry(table, base.input_key)["snapshot"]
        assert delta["row_count"] == 0
    for table in ("chunks", "triples", "quarantine", "canonical_map", "nodes", "edges"):
        assert _rows(spark, wh, table, key) == _rows(spark, wh, table, base.input_key), table


def test_tables_read_the_same_without_recorded_schema(spark, built, tmp_path):
    """Every table of the build and of the fold reads back with the same
    schema and rows from its recorded schema as through inference (the
    reads of a copy of the warehouse whose manifests carry no schema)."""
    import shutil

    wh, base, inc, _fw, _f = built
    copy = Warehouse(shutil.copytree(wh.root, str(tmp_path / "copy")))
    for table in os.listdir(os.path.join(copy.root, "_manifest")):
        if table.endswith(".json"):
            table = table[: -len(".json")]
            entries = copy._load(table)  # noqa: SLF001
            copy._store(table, [{k: v for k, v in e.items() if k != "schema"} for e in entries])  # noqa: SLF001
    tables = ("alias_dict", "chunks", "triples_raw", "triples", "quarantine",
              "linked_mentions", "canonical_map", "nodes", "edges")
    for key in (base.input_key, inc.input_key):
        for table in tables:
            recorded, inferred = wh.read(spark, table, key), copy.read(spark, table, key)
            assert "schema" in wh.latest_entry(table, key) or "view" in wh.latest_entry(table, key)
            assert recorded.schema == inferred.schema, (key, table)
            assert sorted(recorded.collect()) == sorted(inferred.collect()), (key, table)


def test_incremental_resume_is_idempotent(spark, built):
    wh, base, inc, _fw, _f = built
    before, _ = _rows(spark, wh, "edges", inc.input_key)
    n_snaps = len(wh.snapshots("edges", inc.input_key))
    new_docs_path = inc.input_key.split("+delta:", 1)[1]
    again = incremental_update(spark, wh, base.input_key, new_docs_path)
    assert again.input_key == inc.input_key
    assert not again.stages_run, again.stages_run  # everything skipped
    assert len(wh.snapshots("edges", inc.input_key)) == n_snaps
    after, _ = _rows(spark, wh, "edges", inc.input_key)
    assert after == before


def _crash(*_a, **_kw):
    raise RuntimeError("injected crash")


def test_interrupted_fold_resumes_to_identical_tables(spark, corpus, built, monkeypatch):
    """A fold that crashed in linking resumes with the global stages only
    and ends row-identical to the uninterrupted fold."""
    import chatvector_ai_spark.pipeline as pl

    wh, base, inc, _fw, _f = built
    key, new = f"{base.input_key}+interrupted", str(corpus / "new")
    with monkeypatch.context() as m:
        m.setattr(pl, "link_mentions", _crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            incremental_update(spark, wh, base.input_key, new, new_input_key=key)
    again = incremental_update(spark, wh, base.input_key, new, new_input_key=key)
    assert sorted(again.stages_run) == ["canonical_map", "edges", "linked_mentions", "nodes"]
    assert sorted(again.stages_skipped) == [
        "alias_dict", "chunks", "quarantine", "triples", "triples_raw"]
    for table in ("canonical_map", "nodes", "edges"):
        assert _rows(spark, wh, table, key) == _rows(spark, wh, table, inc.input_key), table


def test_fold_resume_refuses_a_compacted_delta(spark, corpus, built, monkeypatch):
    """A half-built fold whose chunks delta was compacted into a full
    snapshot must not resume: extract would read the whole corpus and
    commit the base triples again as a delta of the base."""
    import re

    import chatvector_ai_spark.pipeline as pl

    wh, base, inc, _fw, _f = built
    key, new = f"{base.input_key}+compacted", str(corpus / "new")
    with monkeypatch.context() as m:
        m.setattr(pl, "extract_triples_df", _crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            incremental_update(spark, wh, base.input_key, new, new_input_key=key)
    assert wh.compact(spark, "chunks", key) is not None
    with pytest.raises(ValueError, match=re.escape(f"'chunks' under {key!r}")):
        incremental_update(spark, wh, base.input_key, new, new_input_key=key)
    assert not wh.is_done("triples_raw", key)
    # a rerun without resume recommits the delta
    incremental_update(spark, wh, base.input_key, new, new_input_key=key, resume=False)
    for table in ("chunks", "triples_raw"):
        got, want = wh.latest_entry(table, key), wh.latest_entry(table, inc.input_key)
        assert got["delta_of"] == want["delta_of"]
        assert got["row_count"] == want["row_count"], table


def test_delta_chain_liveness_and_orphan_safety(spark, built, tmp_path):
    """Delta entries whose base dir is gone are not served (latest_entry
    skips them); sweep_orphans never removes a dir a delta chain needs."""
    wh, base, inc, _fw, _f = built
    removed = wh.sweep_orphans()
    # every live chain dir still present after a sweep
    for table in ("chunks", "triples_raw"):
        entry = wh.latest_entry(table, inc.input_key)
        for d in wh._entry_data_dirs(entry):  # noqa: SLF001
            assert os.path.isdir(d), (table, d, removed)
    assert wh.read(spark, "chunks", inc.input_key).count() > 0


def test_second_increment_chains_and_delete_supersedes(spark, corpus, tmp_path_factory):
    """Two successive folds build a 3-snapshot chain that still matches a
    fresh full build; a cascading delete AFTER appends supersedes the
    chain correctly (reads reflect the deletion, chains stay live)."""
    from chatvector_ai_spark.operators.delete import delete_documents

    d = tmp_path_factory.mktemp("inc2_corpus")
    full = dg.documents_df(spark, N_BASE + N_NEW + 10)
    ids = [dg.doc_id_of(i) for i in range(N_BASE + N_NEW + 10)]
    full.where(F.col("doc_id").isin(ids[:N_BASE])).write.parquet(str(d / "a"))
    full.where(F.col("doc_id").isin(ids[N_BASE:N_BASE + N_NEW])).write.parquet(str(d / "b"))
    full.where(F.col("doc_id").isin(ids[N_BASE + N_NEW:])).write.parquet(str(d / "c"))
    full.write.parquet(str(d / "all"))

    wh = Warehouse(str(tmp_path_factory.mktemp("inc2_wh")))
    base = run_pipeline(spark, wh, docs_path=str(d / "a"), resume=False)
    inc1 = incremental_update(spark, wh, base.input_key, str(d / "b"))
    inc2 = incremental_update(spark, wh, inc1.input_key, str(d / "c"))
    # 3-dir chain on the Arrow tables
    entry = wh.latest_entry("chunks", inc2.input_key)
    assert len(wh._entry_data_dirs(entry)) == 3  # noqa: SLF001

    full_wh = Warehouse(str(tmp_path_factory.mktemp("inc2_full")))
    fres = run_pipeline(spark, full_wh, docs_path=str(d / "all"), resume=False)
    for table in ("chunks", "triples", "canonical_map", "nodes", "edges"):
        got, _ = _rows(spark, wh, table, inc2.input_key)
        want, _ = _rows(spark, full_wh, table, fres.input_key)
        assert got == want, table

    # cascading delete of one appended doc supersedes the chained tables
    victim = dg.doc_id_of(N_BASE + N_NEW)  # lives in the second delta
    delete_documents(spark, wh, [victim], input_key=inc2.input_key)
    chunks_after = wh.read(spark, "chunks", inc2.input_key)
    assert chunks_after.where(F.col("doc_id") == victim).count() == 0
    survivors = {r["doc_id"] for r in chunks_after.select("doc_id").distinct().collect()}
    assert survivors == set(ids) - {victim}
    edges_after = wh.read(spark, "edges", inc2.input_key)
    assert edges_after.where(F.col("doc_id") == victim).count() == 0


def test_stream_kg_updates_folds_microbatches(spark, tmp_path_factory):
    """Structured Streaming front-end, exactly-once across restarts: drop 1
    folds as one micro-batch epoch; drop 2, written while the query is
    stopped, folds as the next epoch when the query restarts on the same
    checkpoint; a third start with no new file commits nothing. The chain
    head's tables are row-identical to a fresh full build over base + both
    drops. Epoch keys are deterministic in the batch id (the exactly-once
    replay contract)."""
    from chatvector_ai_spark.streaming.kgstream import (
        latest_epoch_key,
        stream_kg_updates,
    )

    n_base, n_b1, n_b2 = 24, 8, 8
    total = n_base + n_b1 + n_b2
    d = tmp_path_factory.mktemp("kgstream")
    full = dg.documents_df(spark, total)
    ids = [dg.doc_id_of(i) for i in range(total)]
    full.where(F.col("doc_id").isin(ids[:n_base])).write.parquet(str(d / "base"))
    stream_dir = d / "drops"
    stream_dir.mkdir()
    full.write.parquet(str(d / "all"))

    wh = Warehouse(str(tmp_path_factory.mktemp("kgstream_wh")))
    base = run_pipeline(spark, wh, docs_path=str(d / "base"), resume=False)

    def run_stream():
        q = stream_kg_updates(
            spark, wh, f"{stream_dir}/*/", base.input_key,
            str(d / "ckpt"), max_files_per_trigger=1, available_now=True,
        )
        q.awaitTermination(300)
        assert q.exception() is None, q.exception()
        return latest_epoch_key(wh, base.input_key)

    full.where(F.col("doc_id").isin(ids[n_base:n_base + n_b1])).coalesce(1).write.parquet(
        str(stream_dir / "drop1")
    )
    first = run_stream()
    assert first != base.input_key and "#epoch=" in first
    assert len(wh._entry_data_dirs(wh.latest_entry("chunks", first))) == 2  # noqa: SLF001

    # restart on the same checkpoint: only the new drop folds
    full.where(F.col("doc_id").isin(ids[n_base + n_b1:])).coalesce(1).write.parquet(
        str(stream_dir / "drop2")
    )
    head = run_stream()
    assert head != first and "#epoch=" in head
    # two epochs committed, chain depth 3 on the Arrow tables
    entry = wh.latest_entry("chunks", head)
    assert len(wh._entry_data_dirs(entry)) == 3  # noqa: SLF001

    # a third start with no new file adds no manifest entry
    n_entries = len(wh.lineage())
    assert run_stream() == head
    assert len(wh.lineage()) == n_entries

    full_wh = Warehouse(str(tmp_path_factory.mktemp("kgstream_full")))
    fres = run_pipeline(spark, full_wh, docs_path=str(d / "all"), resume=False)
    for table in ("chunks", "triples", "canonical_map", "nodes", "edges"):
        got, _ = _rows(spark, wh, table, head)
        want, _ = _rows(spark, full_wh, table, fres.input_key)
        assert got == want, table

    # the `below` bound: a replay of the LAST batch must chain onto the
    # previous epoch, not onto its own commits
    m = int(head.rsplit("=", 1)[1])
    prev = latest_epoch_key(wh, base.input_key, below=m)
    assert prev == first


def test_compact_collapses_chain_preserving_rows(spark, built):
    """Warehouse.compact rewrites a delta chain into one snapshot: reads
    return identical rows from a single directory, lineage records the
    compaction source, and the old chain stays readable via time-travel
    until swept."""
    wh, _base, inc, _fw, _f = built
    before, cols = _rows(spark, wh, "chunks", inc.input_key)
    old_entry = wh.latest_entry("chunks", inc.input_key)
    assert old_entry.get("delta_of")  # chain exists pre-compaction

    snap = wh.compact(spark, "chunks", inc.input_key)
    assert snap is not None
    entry = wh.latest_entry("chunks", inc.input_key)
    assert entry["snapshot"] == snap and entry.get("delta_of") is None
    assert len(wh._entry_data_dirs(entry)) == 1  # noqa: SLF001
    assert entry["metrics"]["compacted_from"] == old_entry["snapshot"]
    after, cols2 = _rows(spark, wh, "chunks", inc.input_key)
    assert cols2 == cols and after == before
    # idempotent: a second compact is a no-op
    assert wh.compact(spark, "chunks", inc.input_key) is None
    # time-travel to the pre-compaction delta still works
    tt = wh.read(spark, "chunks", inc.input_key, snapshot=old_entry["snapshot"])
    assert sorted(map(tuple, tt.collect())) == before


def test_chained_view_read_keeps_partition_pruning(spark, built):
    """Reading the good-triples view over a delta chain unions one scan
    per snapshot dir — and EVERY leg must keep the ok=1 partition filter
    (a chained read that scans quarantined rows too would double I/O at
    scale)."""
    from chatvector_ai_spark.plans.audit import plan_facts

    wh, _base, inc, _fw, _f = built
    facts = plan_facts(wh.read(spark, "triples", inc.input_key))
    import re

    legs = re.findall(r"PartitionFilters: \[([^\]]*)\]", facts.text)
    ok_legs = [f for f in legs if "ok" in f and "= 1" in f]
    assert len(ok_legs) >= 2, facts.text[:2000]  # base + delta both pruned
