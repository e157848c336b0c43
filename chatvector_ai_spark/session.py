"""SparkSession factory with the engine's standard configuration.

Defaults are chosen for the 100 TB design point and verified at local scale:
AQE (runtime re-planning + skew-join splitting), Arrow-batched Python UDFs
with a bounded batch size (the Python-worker memory analog of the reference's
provider batch size, gemini.py:32), and explicit shuffle parallelism.
A local master also gets a host-sized driver heap and direct-memory cap
(``local_memory``) and a C1-only JIT: the local JVM runs many short jobs,
for which C2's compiles cost more CPU than they save.
``local_frame`` makes every DataFrame the engine builds from driver-side rows.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from chatvector_ai_spark.config import ARROW_MAX_RECORDS_PER_BATCH, SHUFFLE_PARTITIONS


def local_memory(phys_bytes: int) -> tuple[str, str]:
    """(driver heap, JVM direct-memory cap) for a local master on a host
    with ``phys_bytes`` of physical memory: 40% and 25% of it, capped at
    12g and 8g. The local driver is the whole engine, so both must leave
    the host room for the Python workers, the page cache and the other
    processes on it; the caps are what a large host has always been given."""
    mb = phys_bytes // (1024 * 1024)
    return f"{min(mb * 2 // 5, 12 * 1024)}m", f"{min(mb // 4, 8 * 1024)}m"


def get_spark(
    app_name: str = "chatvector-ai-spark",
    master: str | None = None,
    shuffle_partitions: int = SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    heap, direct = local_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    local = (master or "").startswith("local")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Local-mode JVM heap: Spark's 1g default starves a 32-slot local
        # session — the parquet MemoryManager pool (0.95 × heap) throttles
        # row-group sizes under concurrent bucketed writers (the "Total
        # allocation exceeds 95%" warnings in the round-4 bench log) and
        # hash aggregations spill early. Sized from the host
        # (``local_memory``); only applied for local masters and only when
        # the caller didn't set it; a real cluster sizes driver/executor
        # memory in the spark-submit conf instead.
        **(
            {"spark.driver.memory": os.getenv("CVS_DRIVER_MEMORY", heap)}
            if local
            and "spark.driver.memory" not in (extra_conf or {})
            else {}
        ),
        # Shuffle/spill on tmpfs when available: the sandbox's single shared
        # disk is a hard serial floor for shuffle-heavy stages (measured:
        # link stage 20→14 s). On a real cluster leave SPARK_LOCAL_DIRS to
        # the NVMe-backed default (CVS_TMPFS_SHUFFLE=0 disables).
        **(
            {"spark.local.dir": "/dev/shm/cvs-spark-local"}
            if os.path.isdir("/dev/shm")
            and os.access("/dev/shm", os.W_OK)
            and os.environ.get("CVS_TMPFS_SHUFFLE", "1") != "0"
            and "SPARK_LOCAL_DIRS" not in os.environ
            else {}
        ),
        # Arrow UDF transfers allocate netty DIRECT memory per concurrent
        # stream; the JVM default cap (1 GiB) OOMs with 32 task slots ×
        # 16 MiB arrow buffers. The cap is sized from the host
        # (``local_memory``); on a real cluster this is per-executor and
        # set by the submit conf.
        # A local driver also compiles with C1 only (TieredStopAtLevel=1).
        # It is a short-lived JVM that plans and schedules many small jobs
        # (87 per perfbench ``pipeline`` pass), and its generated classes
        # run a few thousand rows each, so C2's peak-optimised recompiles of
        # the planner, the scheduler and that code rarely run long enough
        # to pay back. Measured at local[4] on a 4-core host, per JVM
        # thread (tools/cpu_by_thread.py): C2 took 20.1 s and C1 3.6 s of
        # a 47 s ``pipeline`` pass, executor tasks 9.1 s; C1 only, the
        # compiler threads took 2.6 s and the tasks 10.4 s. Over 10 paired
        # runs, pass CPU fell 48.2 -> 30.8 s (``pipeline``) and 18.5 ->
        # 9.9 s (``analytics``); a cold 20,000-doc build ran in 34-35 s
        # instead of 39-40 s. Cluster drivers and executors keep full
        # tiered compilation for their long-running tasks.
        "spark.driver.extraJavaOptions": f"-XX:MaxDirectMemorySize={direct}"
        + (" -XX:TieredStopAtLevel=1" if local else ""),
        "spark.executor.extraJavaOptions": f"-XX:MaxDirectMemorySize={direct}",
        # zstd over the default snappy: ~16% fewer bytes per snapshot, and
        # on this box the write path is memory-bandwidth-bound, not
        # CPU-bound — trading compression CPU (which scales with cores)
        # for bytes moved (which doesn't) measured 1.4-2x faster commits
        # of the 10M-row mention table at both 8 and 32 cores. The same
        # trade holds on real clusters: zstd is the standard lake codec.
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS_PER_BATCH),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Generated-class cache, keyed by generated source. Spark's default
        # of 100 is below the engine's working set, measured at local[4]
        # with perfbench's workloads: a 1,000-doc build plus a 100-doc fold
        # uses ~145 classes, the graph operators plus dedup ~335. At 100
        # every pass evicted and recompiled its own plans (one build +
        # fold + checks: 235 Janino compiles at 100, 24 at 1000), and the
        # JIT then compiled each reloaded class again. 1000 holds both.
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Sequence, schema: StructType | str) -> DataFrame:
    """A DataFrame of the driver-side ``rows`` (tuples in ``schema`` order,
    or dicts keyed by its field names), built from one Arrow table, which
    Spark plans as a JVM ``LocalRelation``. ``createDataFrame`` of a Python
    list plans a ``LogicalRDD`` over a Python RDD instead, and every
    execution of a plan that reads it starts Python workers to unpickle
    the rows (the alias dictionary's commit in a traced 1,000-doc build on
    a 4-core host: 1.53 s of executor time from a list, 0.32 s from
    Arrow)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [r if isinstance(r, Mapping) else dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table, schema)
