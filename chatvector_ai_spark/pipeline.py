"""End-to-end KG construction pipeline with stage-per-snapshot resume.

Stage graph (SURVEY.md §3.1 "Spark lifecycle equivalent"):

    documents ──ingest+embed──> chunks            (narrow, Arrow UDFs)
    chunks ──extract──> triples + quarantine      (narrow, Arrow UDF)
    triples ──link──> linked_mentions             (broadcast join, narrow)
    linked ──canonicalize──> canonical_map        (iterative shuffle joins)
    ──materialize──> nodes / edges                (bucketed by entity hash)

Each stage commits exactly one warehouse snapshot plus its lineage row
(atomic manifest rename) — the Spark-native form of the reference's status
FSM queued→extracting→chunking→embedding→storing→completed
(/root/reference/backend/services/ingestion_pipeline.py:961-1064). Resume
skips stages whose (stage, input_key) lineage row already exists, so a rerun
after a crash recomputes only uncommitted stages and never duplicates
lineage — the contract the reference implements with its stale-document
sweep + idempotent status upserts (main.py:133-155).

The full build (``run_pipeline``) and the incremental fold
(``incremental_update``) run ONE stage sequence (``_run_stages``) through
ONE runner (``_stage``) with three commit modes: full snapshot, append
delta of a base snapshot, and metadata-only view. They differ only in the
base: a build has none; a fold re-keys alias_dict as a view of the base,
appends chunks and triples_raw as deltas and extracts from the new chunks
alone. Resuming a fold whose chunks/triples_raw entry is no longer a delta
of the base raises ``ValueError`` instead of folding the base in twice.

Scale posture: stages 1-3 are shuffle-free (parallelism = input partitions);
stage 4's only wide ops are the mention-pivot joins and the salted
connected-components rounds; materialize buckets nodes/edges by entity hash
(`pmod(xxhash64(id), n_buckets)`) so downstream graph queries prune buckets —
the Iceberg `bucket(N, entity_hash)` partition transform of the north rule.
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatvector_ai_spark.config import (
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    EMBEDDING_DIM,
    FILES_PER_BUCKET,
    N_BUCKETS,
)
from chatvector_ai_spark.datagen import alias_df, documents_df
from chatvector_ai_spark.operators.canonicalize import canonical_map
from chatvector_ai_spark.operators.extract import extract_triples_df
from chatvector_ai_spark.operators.ingest import ingest_chunks
from chatvector_ai_spark.operators.link import link_mentions, mentions_from_triples
from chatvector_ai_spark.warehouse import Warehouse


def _bucket_write_layout(
    df: DataFrame, key: str, files_per_bucket: int | None = None
) -> DataFrame:
    """Co-locate the write so a partitionBy("bucket") commit produces
    exactly ``files_per_bucket`` file groups per bucket directory.

    A partitionBy write from T arbitrary tasks fans out to T×N_BUCKETS
    small files per commit (512 at 32 slots — a manifest and footer-scan
    burden that grows with every executor added). Repartitioning on the
    bucket alone fixes that but pins write parallelism to N_BUCKETS tasks
    and one ever-growing file per bucket — the 100 TB bottleneck. The salt
    (a second hash of the same key) splits each bucket into
    ``files_per_bucket`` deterministic sub-groups, so write parallelism
    and target file size scale independently of the bucket count while
    bucket-pruned reads keep pruning (files multiply WITHIN a bucket
    directory, never across)."""
    fpb = FILES_PER_BUCKET if files_per_bucket is None else files_per_bucket
    if fpb <= 1:
        return df.repartition("bucket")
    salt = F.pmod(F.xxhash64(F.col(key), F.lit("filegroup")), F.lit(fpb))
    return df.repartition(N_BUCKETS * fpb, F.col("bucket"), salt)


def nodes_from_linked(
    linked: DataFrame, cmap: DataFrame, files_per_bucket: int | None = None
) -> DataFrame:
    """Canonical node aggregate (label = min surface, provenance counts),
    bucketed by entity hash — shared by the pipeline's nodes stage and the
    cascading-delete rebuild (operators/delete.py)."""
    resolved = linked.join(F.broadcast(cmap), "entity_id", "left").withColumn(
        "canonical_entity", F.coalesce(F.col("canonical_entity"), F.col("entity_id"))
    )
    agg = (
        resolved.groupBy("canonical_entity")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("canonical").alias("label"),
        )
        .withColumn("bucket", F.pmod(F.xxhash64("canonical_entity"), F.lit(N_BUCKETS)))
    )
    return _bucket_write_layout(agg, "canonical_entity", files_per_bucket)



def edges_from_linked(
    linked: DataFrame, cmap: DataFrame, files_per_bucket: int | None = None
) -> DataFrame:
    """Canonical edge table from linked mentions: one broadcast join
    (canonical map) + one groupBy pivot on the triple id — the subject and
    object rows of a triple meet in the same reduce group, no
    triples↔mentions re-join needed. Bucketed by src entity hash."""
    resolved = linked.join(F.broadcast(cmap), "entity_id", "left").withColumn(
        "entity", F.coalesce(F.col("canonical_entity"), F.col("entity_id"))
    )

    def side(role: str, col: str):
        return F.max(F.when(F.col("role") == role, F.col(col)))

    agg = (
        resolved.groupBy("triple_id")
        .agg(
            side("subj", "entity").alias("src"),
            F.max("pred").alias("rel"),
            side("obj", "entity").alias("dst"),
            F.max("doc_id").alias("doc_id"),
            F.max("tenant_id").alias("tenant_id"),
            F.max("chunk_id").alias("chunk_id"),
            F.max("conf").alias("conf"),
            side("subj", "surface").alias("src_surface"),
            side("obj", "surface").alias("dst_surface"),
        )
        .drop("triple_id")
        .withColumn("bucket", F.pmod(F.xxhash64("src"), F.lit(N_BUCKETS)))
    )
    return _bucket_write_layout(agg, "src", files_per_bucket)


# projection of a triples_raw snapshot that forms the good-triples view
_TRIPLE_COLS = [
    "doc_id", "chunk_id", "chunk_index", "span_idx", "span_offset",
    "subj", "pred", "obj", "subj_start", "subj_end", "obj_start",
    "obj_end", "conf", "tenant_id", "embedding",
]
# projection of a triples_raw snapshot that forms the quarantine (DLQ) view
_QUARANTINE_COLS = [
    "doc_id", "chunk_id", "'extract' AS stage",
    "_error_code AS error_code", "_retryable AS retryable",
    "_attempts AS attempts", "_error AS message",
]


@dataclass
class PipelineRun:
    run_id: str
    input_key: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    stage_secs: dict[str, float] = field(default_factory=dict)


def _stage(
    wh: Warehouse,
    spark: SparkSession,
    run: PipelineRun,
    resume: bool,
    table: str,
    build=None,
    *,
    delta_of: str | None = None,
    view: dict | None = None,
    **commit_kw,
) -> DataFrame:
    """Commit one stage under ``run.input_key`` and return its rows. The
    arguments pick one of three commit modes:

    - full (``build``): ``Warehouse.commit`` of ``build()``;
    - delta (``build`` and ``delta_of``): ``Warehouse.commit(delta_of=…)``
      appends ``build()`` to that snapshot, and the rows returned are the
      delta alone, not the chain;
    - view (``view``): ``Warehouse.commit_view(**view)``, metadata only.

    With *resume*, a stage whose lineage row exists is skipped. A skipped
    delta stage must still be a delta of *delta_of*: ``compact`` or
    ``delete_documents`` on a half-built fold leave a full snapshot there,
    and folding on from it would count every base row twice."""
    key = run.input_key
    if resume and wh.is_done(table, key):
        if delta_of is not None and wh.latest_entry(table, key).get("delta_of") != delta_of:
            raise ValueError(
                f"cannot resume {table!r} under {key!r}: its snapshot is not a "
                f"delta of {delta_of!r}; rerun with resume=False"
            )
        run.stages_skipped.append(table)
    else:
        t0 = time.time()
        if view is not None:
            wh.commit_view(table, run_id=run.run_id, stage=table, input_key=key, **view)
        else:
            wh.commit(
                build(), table, run_id=run.run_id, stage=table, input_key=key,
                delta_of=delta_of, **commit_kw,
            )
        run.stage_secs[table] = round(time.time() - t0, 2)
        run.stages_run.append(table)
    if delta_of is not None:
        return spark.read.parquet(wh._entry_data_dir(wh.latest_entry(table, key)))  # noqa: SLF001
    return wh.read(spark, table, key)


def _parallel_stages(*jobs):
    """Run independent stage closures as concurrent Spark jobs (the Spark
    scheduler interleaves their tasks); returns results in *jobs* order."""
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
        return [f.result() for f in futures]


def _run_stages(
    spark: SparkSession,
    wh: Warehouse,
    run: PipelineRun,
    resume: bool,
    load_docs,
    chunking: dict,
    files_per_bucket: int | None,
    *,
    n_entities: int | None = None,
    base: dict[str, dict] | None = None,
) -> None:
    """The stage sequence of the full build and of the fold. *base* is None
    for a build; a fold passes the base run's ``alias_dict``, ``chunks`` and
    ``triples_raw`` lineage entries, re-keys the alias dictionary from the
    first and appends to the other two as deltas."""
    def stage(table, build=None, **kw):
        return _stage(wh, spark, run, resume, table, build, **kw)

    base_snap = {} if base is None else {t: e["snapshot"] for t, e in base.items()}
    alias_view = None if base is None else {
        "parent_table": "alias_dict", "partition_filter": {},
        "parent_input_key": base["alias_dict"]["input_key"],
    }
    # The alias dictionary is committed as a dimension snapshot and read
    # back: a driver-local createDataFrame would re-ship its LocalRelation
    # into the plan of every stage that touches it (~seconds per stage at
    # 10k rows x 64-d embeddings), a parquet scan is a fast JVM-side read.
    # Ingest (clean+chunk, media passthrough) + embed is one narrow Arrow
    # stage. The two are independent, so they commit as concurrent jobs;
    # in a fold ``chunks`` is the new documents' delta alone.
    aliases, chunks = _parallel_stages(
        lambda: stage("alias_dict", lambda: alias_df(spark, n_entities), view=alias_view),
        lambda: stage(
            "chunks",
            lambda: ingest_chunks(load_docs(), embed_dim=EMBEDDING_DIM, **chunking),
            delta_of=base_snap.get("chunks"),
        ),
    )

    # Extraction runs the Python UDF once into a raw snapshot partitioned by
    # the ok flag; good triples and the quarantine (DLQ analog) are
    # metadata-only views of its ok=1 / ok=0 directories. The chunk
    # embedding rides along sparsely: only on triples whose surface is an
    # ambiguous alias (the only place the linker's embedding term can
    # change a decision), so the linker needs no second chunk scan.
    amb_surfaces = {
        r["alias"]
        for r in aliases.groupBy("alias").count().where(F.col("count") > 1).collect()
    }
    stage(
        "triples_raw",
        lambda: extract_triples_df(
            chunks, keep_embedding=False, embed_if_surface_in=amb_surfaces
        ).withColumn("ok", F.col("_error").isNull().cast("int")),
        delta_of=base_snap.get("triples_raw"),
        partition_by=["ok"],
    )
    triples = stage("triples", view={
        "parent_table": "triples_raw", "partition_filter": {"ok": 1}, "select": _TRIPLE_COLS,
    })
    stage("quarantine", view={
        "parent_table": "triples_raw", "partition_filter": {"ok": 0}, "select": _QUARANTINE_COLS,
    })

    # Global stages over the whole (chained) corpus: linking is a broadcast
    # dictionary join + top-1 window, canonicalization a CC fixpoint with
    # salted hub keys, and nodes/edges both derive from (linked, cmap), so
    # they commit concurrently, bucketed by entity hash.
    linked = stage(
        "linked_mentions", lambda: link_mentions(mentions_from_triples(triples), aliases)
    )
    cmap = stage("canonical_map", lambda: canonical_map(linked, aliases))
    bucketed = {"metrics": {"n_buckets": N_BUCKETS}, "partition_by": ["bucket"]}
    _parallel_stages(
        lambda: stage(
            "nodes", lambda: nodes_from_linked(linked, cmap, files_per_bucket), **bucketed
        ),
        lambda: stage(
            "edges", lambda: edges_from_linked(linked, cmap, files_per_bucket), **bucketed
        ),
    )


def run_pipeline(
    spark: SparkSession,
    warehouse: Warehouse,
    n_docs: int | None = None,
    *,
    docs_path: str | None = None,
    n_entities: int = 5000,
    strategy: str = "fixed",
    chunk_size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
    resume: bool = True,
    run_id: str | None = None,
    files_per_bucket: int | None = None,
) -> PipelineRun:
    """Run (or resume) the full KG build; returns stage bookkeeping.

    Input is either an existing interleaved-documents table (``docs_path``,
    the production shape: read the committed table) or ``n_docs`` to
    synthesize one on the fly (tests/small runs). ``files_per_bucket``
    (default: config.FILES_PER_BUCKET) decouples the nodes/edges write
    parallelism from the bucket count — see _bucket_write_layout.
    """
    src = docs_path if docs_path is not None else f"synth:{n_docs}"
    run = PipelineRun(
        run_id=run_id or f"run-{uuid.uuid4().hex[:8]}",
        input_key=f"src={src}/ents={n_entities}/{strategy}-{chunk_size}-{overlap}/dim={EMBEDDING_DIM}",
    )

    def load_docs() -> DataFrame:
        if docs_path is not None:
            return spark.read.parquet(docs_path)
        return documents_df(spark, n_docs, n_entities=n_entities)

    _run_stages(
        spark, warehouse, run, resume, load_docs,
        {"strategy": strategy, "size": chunk_size, "overlap": overlap},
        files_per_bucket, n_entities=n_entities,
    )
    return run


def incremental_update(
    spark: SparkSession,
    warehouse: Warehouse,
    base_input_key: str,
    new_docs_path: str | None = None,
    *,
    new_docs: DataFrame | None = None,
    new_input_key: str | None = None,
    strategy: str = "fixed",
    chunk_size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
    resume: bool = True,
    run_id: str | None = None,
    files_per_bucket: int | None = None,
) -> PipelineRun:
    """Fold NEW documents into an already-built KG without reprocessing the
    corpus — the engine-side form of the reference's per-document ingest
    (each upload appends its own chunks, sqlalchemy_service.py:237-273;
    our batch analog appends a document BATCH).

    It runs the build's stage sequence with the base run as its base.
    Cost shape at 10^12 docs, the reason this exists:

    - **alias_dict** is re-keyed as a zero-copy view of the base snapshot.
    - **chunks** and **triples_raw** — the Arrow-UDF stages that dominate
      pipeline cost — run over the NEW documents only and commit as
      APPEND DELTAS (``Warehouse.commit(delta_of=...)``): compute AND
      write I/O are ∝ the delta, and reads union the snapshot chain.
      The good-triples / quarantine views re-commit as metadata over the
      chained raw table — still zero-copy.
    - **linked_mentions / canonical_map / nodes / edges** recompute over
      the chained union and commit full snapshots: linking is one
      broadcast join (cheap at any corpus size relative to extraction),
      and canonicalization is a GLOBAL fixpoint — new mentions can merge
      previously-distinct components, so any "incremental CC" shortcut
      risks wrong canonical ids; correctness wins. (At extreme scale the
      CC input can be restricted to components touched by new aliases;
      the committed tables make that a future read-side optimization,
      not a format change.)

    ``base_input_key`` names the run to extend — the initial build's key
    or a previous incremental's — so updates chain. New documents come
    either from ``new_docs_path`` (a parquet directory) or ``new_docs``
    (a DataFrame — the Structured Streaming foreachBatch shape; pass
    ``new_input_key`` to name the result, e.g. an epoch key, since a
    DataFrame has no path to derive one from). Equivalence contract
    (pinned by tests/test_incremental.py): the resulting chunks, triples,
    canonical_map, nodes and edges tables are ROW-IDENTICAL to a fresh
    full build over the union corpus.

    Resuming raises ``ValueError`` if the ``chunks`` or ``triples_raw``
    snapshot under the new key is no longer a delta of the base (a
    ``compact`` or ``delete_documents`` ran on the half-built fold);
    rerun with ``resume=False`` to recommit the deltas.
    """
    if (new_docs_path is None) == (new_docs is None):
        raise ValueError("pass exactly one of new_docs_path / new_docs")
    if new_docs is not None and new_input_key is None:
        raise ValueError("new_docs (DataFrame input) requires new_input_key")
    base = {
        t: warehouse.latest_entry(t, base_input_key)
        for t in ("alias_dict", "chunks", "triples_raw")
    }
    if None in base.values():
        raise FileNotFoundError(
            f"incremental_update: no completed base run under {base_input_key!r}"
        )
    run = PipelineRun(
        run_id=run_id or f"inc-{uuid.uuid4().hex[:8]}",
        input_key=new_input_key
        if new_input_key is not None
        else f"{base_input_key}+delta:{new_docs_path}",
    )
    _run_stages(
        spark, warehouse, run, resume,
        lambda: new_docs if new_docs is not None else spark.read.parquet(new_docs_path),
        {"strategy": strategy, "size": chunk_size, "overlap": overlap},
        files_per_bucket, base=base,
    )
    return run


def flagship_query(spark: SparkSession, warehouse: Warehouse, input_key: str | None = None) -> DataFrame:
    """Top-10 canonical entities by edge degree with provenance doc counts
    (SURVEY.md §7.1) — reads the committed graph, prunes to node buckets."""
    nodes = warehouse.read(spark, "nodes", input_key)
    edges = warehouse.read(spark, "edges", input_key)
    deg = (
        edges.select(F.col("src").alias("canonical_entity"))
        .unionByName(edges.select(F.col("dst").alias("canonical_entity")))
        .groupBy("canonical_entity")
        .agg(F.count("*").alias("degree"))
    )
    return (
        nodes.join(deg, "canonical_entity", "left")
        .select(
            "canonical_entity", "label", "n_mentions", "n_docs",
            F.coalesce("degree", F.lit(0)).alias("degree"),
        )
        .orderBy(F.desc("n_mentions"), F.asc("canonical_entity"))
        .limit(10)
    )
