"""Cascading document delete over committed KG snapshots.

Reference contract: ``delete_document`` removes the document AND its chunks
in one transaction (/root/reference/backend/db/sqlalchemy_service.py:397-429
— chunk delete + doc delete + single commit). The Spark/warehouse analog
cascades across every doc-keyed KG table by committing a filtered
SUPERSEDING snapshot of each (copy-on-write delete, the Iceberg
``DELETE FROM`` shape) under the same input_key, so readers atomically see
post-delete state per table the instant its manifest rename lands.

Atomicity across tables is by idempotent replay rather than a multi-file
rename: every snapshot is committed with a ``delete_group`` metric derived
from the deleted id set; a crash mid-group leaves some tables committed and
some not, and re-running the same delete skips the committed ones (keyed by
delete_group) and finishes the rest — the same resume discipline as the
pipeline stages. Aggregate tables without a doc key (``nodes``) are
rebuilt from the post-delete mention table in the same group.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatvector_ai_spark.config import N_BUCKETS
from chatvector_ai_spark.session import local_frame
from chatvector_ai_spark.warehouse import Warehouse

# doc-keyed tables, cascaded in this order
DOC_TABLES = ("chunks", "triples_raw", "triples", "quarantine", "linked_mentions", "edges")


def _delete_group(doc_ids: list[str]) -> str:
    h = hashlib.sha1("\n".join(sorted(doc_ids)).encode()).hexdigest()[:12]
    return f"del-{h}"


def _filter_docs(df: DataFrame, doc_ids: list[str]) -> DataFrame:
    # a handful of ids → IN-list predicate (pushes into the parquet scan);
    # a large set would use a broadcast left_anti join instead
    if len(doc_ids) <= 64:
        return df.where(~F.col("doc_id").isin(doc_ids))
    spark = df.sparkSession
    ids = local_frame(spark, [(d,) for d in doc_ids], "doc_id string")
    return df.join(F.broadcast(ids), "doc_id", "left_anti")


def delete_documents(
    spark: SparkSession,
    warehouse: Warehouse,
    doc_ids: list[str],
    input_key: str,
    run_id: str | None = None,
    rebuild_nodes: bool = True,
) -> dict:
    """Cascade-delete *doc_ids* from every committed KG table.

    Returns {table: rows_deleted}; tables already committed for this
    delete_group are skipped (idempotent replay)."""
    group = _delete_group(doc_ids)
    run_id = run_id or f"delete-{uuid.uuid4().hex[:8]}"
    deleted: dict[str, int] = {}

    def done(table: str) -> bool:
        entry = warehouse.latest_entry(table, input_key)
        return entry is not None and entry.get("metrics", {}).get("delete_group") == group

    for table in DOC_TABLES:
        if warehouse.latest_entry(table, input_key) is None:
            continue  # table never committed for this run
        if done(table):
            deleted[table] = 0
            continue
        before = warehouse.latest_entry(table, input_key)["row_count"]
        filtered = _filter_docs(warehouse.read(spark, table, input_key), doc_ids)
        entry_metrics = {"delete_group": group, "n_docs_deleted": len(doc_ids)}
        prev = warehouse.latest_entry(table, input_key).get("metrics", {})
        if "n_buckets" in prev:
            entry_metrics["n_buckets"] = prev["n_buckets"]
        # preserve the parent snapshot's hive layout (manifest-recorded):
        # a superseding commit that drops e.g. partition_by=['ok'] would
        # break later metadata-only commit_views against this table
        partition_by = warehouse.table_partition_by(table, input_key) or (
            ["bucket"] if "n_buckets" in prev else None
        )
        warehouse.commit(
            filtered, table,
            run_id=run_id, stage="delete", input_key=input_key,
            metrics=entry_metrics, partition_by=partition_by,
        )
        deleted[table] = before - warehouse.latest_entry(table, input_key)["row_count"]

    if rebuild_nodes and warehouse.latest_entry("nodes", input_key) is not None and not done("nodes"):
        # nodes is an aggregate without a doc key — rebuild from the
        # post-delete mention table with the committed canonical map (the
        # entity registry itself is not deleted, matching the reference:
        # deleting a doc removes its content, not the dictionary)
        from chatvector_ai_spark.pipeline import nodes_from_linked

        linked = warehouse.read(spark, "linked_mentions", input_key)
        cmap = warehouse.read(spark, "canonical_map", input_key)
        before = warehouse.latest_entry("nodes", input_key)["row_count"]
        nodes = nodes_from_linked(linked, cmap)
        warehouse.commit(
            nodes, "nodes",
            run_id=run_id, stage="delete", input_key=input_key,
            metrics={"delete_group": group, "n_buckets": N_BUCKETS},
            partition_by=["bucket"],
        )
        deleted["nodes"] = before - warehouse.latest_entry("nodes", input_key)["row_count"]

    return deleted
