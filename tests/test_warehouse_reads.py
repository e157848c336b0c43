"""Snapshot reads with the schema recorded at commit, and manifest commits
that concurrent writers cannot lose.

An unschematized ``spark.read.parquet(dir)`` runs a Spark job to infer the
schema; ``Warehouse.commit`` records the read schema in the manifest entry
so that ``Warehouse.read`` launches none. Entries without a recorded schema
(older manifests) still read through inference.
"""

import json
import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from chatvector_ai_spark.warehouse import Warehouse


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "wh"))


def _committed_kinds(spark, wh):
    """One fresh entry of each read shape: plain, ``partition_by`` (a
    bigint bucket, read back as int), a two-link delta chain and a view of
    a view. Returns {kind: (table, input_key)}."""
    df = spark.range(60).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        F.array(F.col("id").cast("double")).alias("vec"),
        F.pmod(F.xxhash64("id"), F.lit(4)).alias("bucket"),
        (F.col("id") % 3 != 0).cast("int").alias("ok"),
    )
    wh.commit(df, "plain", run_id="r", stage="plain", input_key="k")
    wh.commit(df, "bucketed", run_id="r", stage="b", input_key="k", partition_by=["bucket"])
    base = wh.commit(df.where("id < 20"), "chain", run_id="r", stage="c", input_key="k0",
                     partition_by=["ok"])
    mid = wh.commit(df.where("id >= 20 AND id < 40"), "chain", run_id="r", stage="c",
                    input_key="k1", partition_by=["ok"], delta_of=base)
    wh.commit(df.where("id >= 40"), "chain", run_id="r", stage="c", input_key="k2",
              partition_by=["ok"], delta_of=mid)
    wh.commit_view("good", parent_table="chain", run_id="r", stage="good", input_key="k2",
                   partition_filter={"ok": 1}, select=["id", "name", "vec", "ok"])
    wh.commit_view("renamed", parent_table="good", run_id="r", stage="renamed",
                   input_key="k2", partition_filter={}, select=["id AS entity", "vec"])
    return {"plain": ("plain", "k"), "partition_by": ("bucketed", "k"),
            "delta chain": ("chain", "k2"), "view of a view": ("renamed", "k2")}


def _strip_schemas(wh):
    mdir = os.path.join(wh.root, "_manifest")
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            table = name[: -len(".json")]
            wh._store(table, [{k: v for k, v in e.items() if k != "schema"}  # noqa: SLF001
                              for e in wh._load(table)])  # noqa: SLF001


def test_reads_launch_no_job(spark, wh):
    kinds = _committed_kinds(spark, wh)
    sc = spark.sparkContext
    for kind, (table, key) in kinds.items():
        group = f"read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, kind)
        try:
            wh.read(spark, table, key)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], kind


def test_recorded_schema_equals_inferred_schema(spark, wh):
    """Reads with the recorded schema and reads through inference return
    the same schema and rows; the bigint bucket reads back as int."""
    kinds = _committed_kinds(spark, wh)
    got = {k: wh.read(spark, t, key) for k, (t, key) in kinds.items()}
    assert dict(got["partition_by"].dtypes)["bucket"] == "int"
    assert got["delta chain"].count() == 60
    _strip_schemas(wh)
    assert all("schema" not in e for e in wh.lineage())
    for kind, (table, key) in kinds.items():
        inferred = wh.read(spark, table, key)
        assert got[kind].schema == inferred.schema, kind
        assert sorted(got[kind].collect()) == sorted(inferred.collect()), kind


def test_empty_partitioned_snapshot_reads_back(spark, wh):
    """A zero-row partitioned write leaves no file to infer a schema from;
    the recorded schema still carries the partition column."""
    df = spark.range(5).select(F.col("id"), F.lit(1).alias("ok")).where("false")
    wh.commit(df, "t", run_id="r", stage="t", input_key="k", partition_by=["ok"])
    got = wh.read(spark, "t", "k")
    assert got.columns == ["id", "ok"]
    assert got.where("ok = 1").count() == 0


def test_non_integral_partition_column_falls_back_to_inference(spark, wh):
    df = spark.createDataFrame([(1, "2024-01-02"), (2, "x")], "id int, tag string")
    wh.commit(df, "t", run_id="r", stage="t", input_key="k", partition_by=["tag"])
    assert "schema" not in wh.latest_entry("t", "k")
    assert sorted(wh.read(spark, "t", "k").collect()) == [(1, "2024-01-02"), (2, "x")]


def test_concurrent_commits_keep_every_entry(spark, wh, monkeypatch):
    """Two threads commit to one table at once; N commits must leave N
    manifest entries. ``_store`` first waits (up to 3 s) until the other
    writer also reaches it: without the lock both writers then store a
    list loaded before the other's entry existed, and one entry is lost.
    With the lock the second writer cannot get there, so the wait times
    out once and the commits go one after the other."""
    rendezvous = threading.Barrier(2, timeout=3)
    store = Warehouse._store  # noqa: SLF001

    def _store(self, table, entries):
        try:
            rendezvous.wait()
        except threading.BrokenBarrierError:
            pass
        store(self, table, entries)

    monkeypatch.setattr(Warehouse, "_store", _store)
    df = spark.range(3)
    per_thread = 4
    errors = []

    def writer(tag):
        try:
            for i in range(per_thread):
                wh.commit(df, "t", run_id=tag, stage="t", input_key=f"{tag}-{i}")
        except Exception as exc:  # noqa: BLE001 - surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    with open(wh._manifest_path("t")) as f:  # noqa: SLF001
        entries = json.load(f)
    assert sorted(e["input_key"] for e in entries) == sorted(
        f"{tag}-{i}" for tag in ("a", "b") for i in range(per_thread))
