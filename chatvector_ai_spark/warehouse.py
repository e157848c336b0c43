"""Snapshot + lineage store: atomic, resumable stage commits.

Iceberg stand-in per SURVEY.md §7.0 (the sandbox has no Iceberg jars): the
same snapshot/lineage protocol implemented as atomic manifest-file commits
over parquet directories, behind a thin class so an Iceberg catalog can
replace it without touching the pipeline.

Protocol (mirrors the reference's migration-ledger contract,
/root/reference/backend/db/sqlalchemy_service.py:104-208, and its startup
stale-sweep, /root/reference/backend/main.py:133-155):

- data for table T goes to ``root/T/snap-<uuid>/`` (plain Spark parquet
  write — durable before the commit step);
- the commit is a single ``os.replace`` of ``root/_manifest/T.json`` — POSIX
  rename atomicity is the snapshot commit. The manifest entry carries the
  lineage row: (run_id, stage, input_key, snapshot, row_count,
  per-partition row counts, metrics, committed_at) and the snapshot's read
  schema (data columns, then partition columns with the types directory
  inference gives them), taken from the written DataFrame's analyzed plan;
- a read passes that schema to ``spark.read.schema(...)`` for every
  directory it unions, so it launches no Spark job (an unschematized
  parquet read runs one to infer it). Entries without a schema — written
  before it was recorded, or partitioned by a column that is not an
  integer — fall back to inference;
- the load-append-store of a manifest runs under an exclusive ``flock``
  on ``root/_manifest/T.lock``, so concurrent writers to one table on one
  host cannot drop each other's entries;
- a stage is *done* iff a manifest entry for its (stage, input_key) exists
  AND its snapshot dir exists. A crash between data write and manifest
  rename leaves an orphan dir that is never read and is swept lazily —
  rerunning the stage is safe (idempotent, keyed by input_key);
- resume = read the manifest, skip done stages, recompute the rest. Reruns
  of a done stage are no-ops, so lineage rows are never duplicated.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StructType

# Above this many files the footer scan runs as a parallel Spark job on the
# executors instead of sequentially on the driver (a driver walk is fine at
# thousands of files but becomes the commit bottleneck at millions).
_DRIVER_FOOTER_SCAN_MAX_FILES = 256


def _list_parquet_files(data_dir: str) -> list[str]:
    return [
        os.path.join(base, name)
        for base, _, files in sorted(os.walk(data_dir))
        for name in sorted(files)
        if name.endswith(".parquet")
    ]


# Characters Hive/Spark percent-escape in partition directory names
# (org.apache.hadoop.hive.common.FileUtils.escapePathName, mirrored by
# Spark's ExternalCatalogUtils): control chars plus this reserved set.
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _hive_value(v: Any) -> str:
    """Render a partition value the way Spark writes the directory name:
    percent-escape Hive's reserved character set, null/empty →
    ``__HIVE_DEFAULT_PARTITION__`` — so commit_view's path-fragment match
    never silently selects zero partitions for a string value containing
    e.g. ':' or '/'."""
    if v is None or v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in s)


_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _read_schema(
    df: DataFrame, partition_by: list[str], part_counts: list[dict[str, Any]]
) -> dict[str, Any] | None:
    """The schema a parquet read of this snapshot infers, as JSON: the data
    columns in written order, then the partition columns with the type
    directory inference gives their values — int if every value fits 32
    bits, else bigint, so a written bigint ``bucket`` reads back as int.
    Analysis and a walk of *part_counts* only, no job. None (read-time
    inference) when a partition column is not integral or has only null
    values: Spark then infers string, date, decimal or double from the
    directory names."""
    fields = {f.name: f for f in df.schema.fields}
    parts = []
    for col in partition_by:
        values = {
            seg.split("=", 1)[1]
            for p in part_counts
            for seg in p["partition"].split("/")[:-1]
            if seg.startswith(f"{col}=")
        } - {_HIVE_NULL}
        if not isinstance(fields[col].dataType, _INTEGRAL) or (not values and part_counts):
            return None
        wide = any(not -(2**31) <= int(v) < 2**31 for v in values)
        parts.append({**fields[col].jsonValue(), "type": "long" if wide else "integer"})
    data = [f.jsonValue() for f in df.schema.fields if f.name not in partition_by]
    return {"type": "struct", "fields": data + parts}


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _footer_partition_counts(
    data_dir: str, spark: SparkSession | None = None
) -> list[dict[str, Any]]:
    """Row count per written file (= storage partition) from parquet
    footers; relative path keeps hive-style partition dirs visible.

    Metadata-only either way; with *spark* and many files the footer reads
    fan out across executors (one footer per task slot) so commit overhead
    stays flat in file count instead of serializing on the driver.
    """
    paths = _list_parquet_files(data_dir)
    if spark is not None and len(paths) > _DRIVER_FOOTER_SCAN_MAX_FILES:
        n_slices = min(len(paths), spark.sparkContext.defaultParallelism * 4)
        counted = (
            spark.sparkContext.parallelize(paths, n_slices)
            .map(lambda p: (p, _footer_rows(p)))
            .collect()
        )
        rows_by_path = dict(counted)
    else:
        rows_by_path = {p: _footer_rows(p) for p in paths}
    return [
        {"partition": os.path.relpath(p, data_dir), "rows": rows_by_path[p]}
        for p in paths
    ]


class Warehouse:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, "_manifest", f"{table}.json")

    def _load(self, table: str) -> list[dict[str, Any]]:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    def _store(self, table: str, entries: list[dict[str, Any]]) -> None:
        path = self._manifest_path(table)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, path)  # the atomic commit point

    def _append(self, table: str, entry: dict[str, Any]) -> None:
        """Add *entry* to *table*'s manifest. The load-append-store holds an
        exclusive lock on the table's lock file, so two writers (threads or
        processes on this host) cannot both append to the same old list."""
        lock = os.path.join(self.root, "_manifest", f"{table}.lock")
        with open(lock, "a") as f:
            fcntl.flock(f, fcntl.LOCK_EX)  # released when f closes
            self._store(table, self._load(table) + [entry])

    # -- commit / read -----------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        table: str,
        *,
        run_id: str,
        stage: str,
        input_key: str,
        metrics: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
        delta_of: str | None = None,
    ) -> str:
        """Write *df* as a new snapshot of *table* and commit it atomically.

        Returns the snapshot id. Per-partition row counts (the "lineage rows
        + triple-count metrics" of the north rule) are computed in the same
        Spark job graph and stored in the manifest entry.

        ``delta_of=<snapshot id>`` commits an APPEND delta: only the new
        rows are written (I/O ∝ the delta), and reads of this entry union
        the base snapshot's chain with this directory — the Iceberg
        append-snapshot shape. The lineage row's counts cover the delta
        alone, so per-commit row accounting stays exact.
        """
        if delta_of is not None and not any(
            e["snapshot"] == delta_of for e in self._load(table)
        ):
            raise ValueError(f"delta_of references unknown snapshot {delta_of!r}")
        snap = f"snap-{uuid.uuid4().hex[:12]}"
        data_dir = os.path.join(self.root, table, snap)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        # Per-partition lineage rows from parquet footers — metadata only,
        # no second pass over the data (footers fan out to executors when
        # the snapshot has many files).
        part_counts = _footer_partition_counts(data_dir, df.sparkSession)
        entry = {
            "snapshot": snap,
            "table": table,
            "run_id": run_id,
            "stage": stage,
            "input_key": input_key,
            "row_count": sum(p["rows"] for p in part_counts),
            "partitions": part_counts,
            "partition_by": partition_by or [],
            "metrics": metrics or {},
            "committed_at": time.time(),
        }
        schema = _read_schema(df, partition_by or [], part_counts)
        if schema is not None:
            entry["schema"] = schema
        if delta_of is not None:
            entry["delta_of"] = delta_of
        self._append(table, entry)
        return snap

    def _chain(self, table: str, entry: dict[str, Any]) -> list[dict[str, Any]]:
        """Data entries a read of *entry* unions, base-first: a plain
        snapshot is itself; a delta entry walks its ``delta_of`` links back
        to the base. Raises if a link is dangling (manifest corruption)."""
        by_snap = {e["snapshot"]: e for e in self._load(table)}
        chain: list[dict[str, Any]] = []
        cur: dict[str, Any] | None = entry
        while cur is not None:
            chain.append(cur)
            parent = cur.get("delta_of")
            if parent is None:
                cur = None
            else:
                cur = by_snap.get(parent)
                if cur is None:
                    raise ValueError(
                        f"delta chain of {entry['snapshot']!r} references "
                        f"missing snapshot {parent!r}"
                    )
        return chain[::-1]

    def commit_view(
        self,
        table: str,
        *,
        parent_table: str,
        run_id: str,
        stage: str,
        input_key: str,
        partition_filter: dict[str, Any],
        select: list[str] | None = None,
        metrics: dict[str, Any] | None = None,
        parent_input_key: str | None = None,
    ) -> str:
        """Commit *table* as a METADATA-ONLY filtered view of the newest
        committed snapshot of *parent_table* (same input_key) — the Iceberg
        metadata-commit shape: no data is rewritten or even scanned.

        ``partition_filter`` maps hive partition columns of the parent
        snapshot (it must have been written ``partition_by`` those columns)
        to the single value this view keeps; reads prune to exactly those
        directories. ``select`` optionally projects/renames with SQL
        expressions (applied via ``selectExpr``).

        The lineage row's row_count and per-partition counts come from the
        PARENT entry's footer counts, filtered by partition-path prefix —
        an O(#files) driver list operation, no Spark job. At 100 TB this is
        how a derived status table (good triples / quarantine) should
        commit: splitting one written snapshot into N views is free, while
        re-materializing each split re-pays the full write.
        """
        pkey = input_key if parent_input_key is None else parent_input_key
        parent = self.latest_entry(parent_table, pkey)
        if parent is None:
            raise FileNotFoundError(
                f"commit_view({table!r}): no committed parent snapshot "
                f"for {parent_table!r} (input_key={pkey!r})"
            )
        frags = {f"{k}={_hive_value(v)}" for k, v in partition_filter.items()}
        part_counts = [
            p
            for p in parent["partitions"]
            # exact directory-segment match (a substring test could
            # false-positive on a column whose name ends with another's)
            if frags <= set(p["partition"].split("/")[:-1])
        ]
        entry = {
            "snapshot": f"view-{uuid.uuid4().hex[:12]}",
            "table": table,
            "run_id": run_id,
            "stage": stage,
            "input_key": input_key,
            "row_count": sum(p["rows"] for p in part_counts),
            "partitions": part_counts,
            "metrics": metrics or {},
            "committed_at": time.time(),
            "view": {
                "parent_table": parent_table,
                "parent_snapshot": parent["snapshot"],
                "partition_filter": partition_filter,
                "select": select,
            },
        }
        self._append(table, entry)
        return entry["snapshot"]

    def _resolve_entry(
        self, entry: dict[str, Any]
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """(data entries base-first, view specs innermost-first) for an
        entry: view entries dereference through their parents — including
        views of views (e.g. a re-keyed dimension view atop a filtered view)
        — down to a data entry, whose delta chain supplies the directories
        and their recorded schemas. The returned specs apply in order
        (closest-to-data first) so nested filters/projections compose
        exactly as committed."""
        specs: list[dict[str, Any]] = []
        cur = entry
        while cur.get("view") is not None:
            v = cur["view"]
            specs.append(v)
            nxt = next(
                (
                    e
                    for e in self._load(v["parent_table"])
                    if e["snapshot"] == v["parent_snapshot"]
                ),
                None,
            )
            if nxt is None:
                # parent manifest row gone (superseded + swept): dangle so
                # liveness checks reject this entry
                return [{"table": v["parent_table"], "snapshot": v["parent_snapshot"]}], []
            cur = nxt
        return self._chain(cur["table"], cur), list(reversed(specs))

    def _data_dir(self, entry: dict[str, Any]) -> str:
        return os.path.join(self.root, entry["table"], entry["snapshot"])

    def _entry_data_dirs(self, entry: dict[str, Any]) -> list[str]:
        """All data directories an entry's read must union, base-first."""
        return [self._data_dir(e) for e in self._resolve_entry(entry)[0]]

    def latest_entry(self, table: str, input_key: str | None = None) -> dict[str, Any] | None:
        """Newest committed entry whose full data-dir chain is live."""
        for entry in reversed(self._load(table)):
            if input_key is not None and entry["input_key"] != input_key:
                continue
            try:
                dirs = self._entry_data_dirs(entry)
            except ValueError:
                continue
            if all(os.path.isdir(d) for d in dirs):
                return entry
        return None

    def is_done(self, table: str, input_key: str) -> bool:
        return self.latest_entry(table, input_key) is not None

    def table_n_buckets(self, table: str, input_key: str | None = None) -> int | None:
        """Bucket count in effect when *table* was written (manifest metric);
        pass this to bucket-pruning queries (graph.ego_edges) so a changed
        CVS_N_BUCKETS config can never silently mis-prune an older snapshot."""
        entry = self.latest_entry(table, input_key)
        if entry is None:
            return None
        return entry.get("metrics", {}).get("n_buckets")

    def table_partition_by(self, table: str, input_key: str | None = None) -> list[str]:
        """Hive partition columns of the newest committed snapshot (empty
        for unpartitioned tables) — a superseding commit (delete, compact)
        must preserve them or downstream metadata-only views lose their
        pruning paths."""
        entry = self.latest_entry(table, input_key)
        if entry is None:
            return []
        return entry.get("partition_by", [])

    def snapshots(self, table: str, input_key: str | None = None) -> list[dict[str, Any]]:
        """All committed entries for *table*, oldest first — the snapshot
        log (Iceberg history) a time-travel read selects from."""
        return [
            e
            for e in self._load(table)
            if input_key is None or e["input_key"] == input_key
        ]

    def compact(
        self,
        spark: SparkSession,
        table: str,
        input_key: str,
        *,
        run_id: str = "compact",
    ) -> str | None:
        """Rewrite *table*'s delta chain (under *input_key*) into ONE full
        snapshot — the Iceberg rewrite-data-files analog. Append folds keep
        update latency low but each read unions the whole chain; compaction
        bounds chain length (run it every N folds). Returns the new
        snapshot id, or None if the newest entry is not a delta (nothing to
        compact). The superseded chain dirs stay on disk for time-travel
        until ``sweep_orphans`` after their manifest rows are pruned —
        reads switch atomically at the manifest rename."""
        entry = self.latest_entry(table, input_key)
        if entry is None or entry.get("delta_of") is None:
            return None
        df = self.read(spark, table, input_key)
        return self.commit(
            df,
            table,
            run_id=run_id,
            stage=f"compact:{table}",
            input_key=input_key,
            metrics=dict(entry.get("metrics", {}), compacted_from=entry["snapshot"]),
            partition_by=entry.get("partition_by") or None,
        )

    def read(
        self,
        spark: SparkSession,
        table: str,
        input_key: str | None = None,
        snapshot: str | None = None,
    ) -> DataFrame:
        """Read the newest live snapshot of *table* — or, with *snapshot*,
        time-travel to that exact committed snapshot id."""
        if snapshot is not None:
            entry = next(
                (e for e in self._load(table) if e["snapshot"] == snapshot), None
            )
        else:
            entry = self.latest_entry(table, input_key)
        if entry is None:
            raise FileNotFoundError(f"no committed snapshot for {table!r} ({input_key=}, {snapshot=})")
        chain, specs = self._resolve_entry(entry)
        df = self._scan(spark, chain)
        if specs:
            from pyspark.sql import functions as F

            for view in specs:  # innermost first — nested views compose
                for col, val in view["partition_filter"].items():
                    df = df.where(F.col(col) == F.lit(val))  # pruned at planning
                if view["select"]:
                    df = df.selectExpr(*view["select"])
        return df

    def read_delta(self, spark: SparkSession, table: str, input_key: str) -> DataFrame:
        """Rows of the newest live entry of *table* under *input_key* alone:
        an append delta without the base chain it extends."""
        entry = self.latest_entry(table, input_key)
        if entry is None or entry.get("view") is not None:
            raise FileNotFoundError(f"no committed data snapshot for {table!r} ({input_key=})")
        return self._scan(spark, [entry])

    def _scan(self, spark: SparkSession, chain: list[dict[str, Any]]) -> DataFrame:
        """Union of the data entries' directories, base-first. Each is read
        with the schema recorded at its commit (no inference job), or
        inferred when it has none. One read per dir: each is its own hive
        root, so per-dir partition discovery stays correct — a single
        multi-root read would mistake snap dirs for partitions."""
        def scan(e: dict[str, Any]) -> DataFrame:
            reader = spark.read
            if "schema" in e:
                reader = reader.schema(StructType.fromJson(e["schema"]))
            return reader.parquet(self._data_dir(e))

        return reduce(DataFrame.unionByName, map(scan, chain))

    # -- lineage / maintenance --------------------------------------------

    def lineage(self) -> list[dict[str, Any]]:
        out: list[dict[str, Any]] = []
        mdir = os.path.join(self.root, "_manifest")
        for name in sorted(os.listdir(mdir)):
            if name.endswith(".json"):
                out.extend(self._load(name[: -len(".json")]))
        return sorted(out, key=lambda e: e["committed_at"])

    def sweep_orphans(self) -> list[str]:
        """Delete snapshot dirs no manifest references (crash leftovers) —
        the stale-document sweep analog (main.py:133-155)."""
        removed: list[str] = []
        for table in os.listdir(self.root):
            if table.startswith("_"):
                continue
            live = {e["snapshot"] for e in self._load(table)}
            tdir = os.path.join(self.root, table)
            for snap in os.listdir(tdir):
                if snap not in live:
                    shutil.rmtree(os.path.join(tdir, snap), ignore_errors=True)
                    removed.append(f"{table}/{snap}")
        return removed
