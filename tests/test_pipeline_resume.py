"""Stage-per-snapshot commit, lineage, and resume semantics (SURVEY §5.2-5).

Contract mirrored from the reference: idempotent status upserts + startup
stale sweep (/root/reference/backend/main.py:133-155,
/root/reference/backend/db/sqlalchemy_service.py:104-208) — a rerun after an
interrupted run must produce identical final tables and no duplicate
lineage rows.
"""

import pandas as pd
import pytest

from chatvector_ai_spark.pipeline import flagship_query, run_pipeline
from chatvector_ai_spark.warehouse import Warehouse

N_DOCS = 40
N_ENTITIES = 200

ALL_TABLES = [
    "alias_dict", "chunks", "triples_raw", "triples", "quarantine",
    "linked_mentions", "canonical_map", "nodes", "edges",
]
# (triples, quarantine) and (nodes, edges) are committed as concurrent Spark
# jobs, so completion order within each pair is nondeterministic — compare
# stage lists order-insensitively.


@pytest.fixture(scope="module")
def full_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh_full"))
    wh = Warehouse(root)
    run = run_pipeline(spark, wh, N_DOCS, n_entities=N_ENTITIES)
    return wh, run


def test_all_stages_commit_once(spark, full_run):
    wh, run = full_run
    assert sorted(run.stages_run) == sorted(ALL_TABLES)
    assert run.stages_skipped == []
    lineage = wh.lineage()
    assert sorted(e["table"] for e in lineage) == sorted(ALL_TABLES)
    # per-partition lineage rows present and consistent with row_count
    for e in lineage:
        assert e["row_count"] == sum(p["rows"] for p in e["partitions"])


def test_rerun_is_pure_resume(spark, full_run):
    wh, run = full_run
    run2 = run_pipeline(spark, wh, N_DOCS, n_entities=N_ENTITIES)
    assert run2.stages_run == []
    assert sorted(run2.stages_skipped) == sorted(ALL_TABLES)
    # no duplicate lineage rows
    lineage = wh.lineage()
    assert len(lineage) == len(ALL_TABLES)


def test_interrupted_run_resumes_to_identical_tables(spark, tmp_path, full_run, monkeypatch):
    wh_full, run_full = full_run
    # simulate a crash after stage 3: commit only chunks+triples+quarantine
    wh_part = Warehouse(str(tmp_path / "wh_part"))

    class Boom(RuntimeError):
        pass

    import chatvector_ai_spark.pipeline as pl

    def exploding(*a, **kw):
        raise Boom()

    with monkeypatch.context() as m:
        m.setattr(pl, "link_mentions", exploding)
        with pytest.raises(Boom):
            run_pipeline(spark, wh_part, N_DOCS, n_entities=N_ENTITIES)

    done_before = {e["table"] for e in wh_part.lineage()}
    assert done_before == {"alias_dict", "chunks", "triples_raw", "triples", "quarantine"}

    # resume completes only the remaining stages
    run2 = run_pipeline(spark, wh_part, N_DOCS, n_entities=N_ENTITIES)
    assert sorted(run2.stages_skipped) == sorted(
        ["alias_dict", "chunks", "triples_raw", "triples", "quarantine"])
    assert sorted(run2.stages_run) == sorted(
        ["linked_mentions", "canonical_map", "nodes", "edges"])
    assert len(wh_part.lineage()) == len(ALL_TABLES)

    # final tables identical to the uninterrupted run
    for table in ("nodes", "edges"):
        a = wh_part.read(spark, table).toPandas()
        b = wh_full.read(spark, table).toPandas()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


def test_flagship_query_reads_committed_graph(spark, full_run):
    wh, run = full_run
    top = flagship_query(spark, wh, run.input_key).toPandas()
    assert 0 < len(top) <= 10
    assert list(top.columns) == ["canonical_entity", "label", "n_mentions", "n_docs", "degree"]
    assert (top["n_mentions"].values[:-1] >= top["n_mentions"].values[1:]).all()


def test_orphan_sweep_removes_uncommitted_dirs(spark, full_run):
    wh, _ = full_run
    import os

    orphan = os.path.join(wh.root, "chunks", "snap-deadbeef0000")
    os.makedirs(orphan, exist_ok=True)
    removed = wh.sweep_orphans()
    assert "chunks/snap-deadbeef0000" in removed
    assert not os.path.exists(orphan)
