"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

``pipeline`` builds a KG from a docs window into a fresh warehouse and then
folds a batch of newer docs into it (ingest, extract, link, canonicalize,
materialize and the warehouse write path). ``analytics`` runs the graph
operator list over an edge table committed during set-up, then folds a new
batch of texts into a kept corpus that set-up deduplicated with
``dedup_corpus`` (operators.graph and operators.dedup; on the warehouse,
reads and one small delta commit). A change to the pipeline stages should
move the first and leave the second alone, and the reverse for a change to
graph.py or dedup.py.

Every doc is a pure function of (datagen.SEED, doc index); the run seed only
picks the doc-index window and the dedup injection choices, so every window
has the same hub skew, media ratio and alias dictionary.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from chatvector_ai_spark import datagen as dg
from chatvector_ai_spark.operators import graph as G
from chatvector_ai_spark.operators.dedup import dedup_corpus, dedup_fold, near_dup_pairs
from chatvector_ai_spark.pipeline import flagship_query, incremental_update, run_pipeline
from chatvector_ai_spark.warehouse import Warehouse
from procstat import cpu_s
from spans import GRAPH_OPS

# Sizes. Spark job overhead, not row count, dominates at these sizes (a
# 20-doc build costs as much as a 1,000-doc one); they are kept small so
# that a run with set-up fits in about a minute on a 4-core host.
PIPELINE_BASE_DOCS = 1000
PIPELINE_FOLD_DOCS = 100  # one fold of ~10% of the base
GRAPH_KG_DOCS = 2000
DEDUP_DOCS = 400
DEDUP_EXACT = 40          # injected byte-identical copies
DEDUP_NEAR = 20           # injected copies with one token replaced
DEDUP_FOLD_DOCS = 40
DEDUP_FOLD_EXACT = 4
DEDUP_FOLD_NEAR = 2
INPUT_FILES = 8           # documents_df writes max(8, cores) files on 4 cores

_DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()), ("offset", pa.int32())]))),
    ("tenant_id", pa.string()),
])
_EDGES_SCHEMA = pa.schema([(c, pa.string()) for c in
                           ("src", "rel", "dst", "doc_id", "src_surface", "dst_surface")])
_TEXT_SCHEMA = pa.schema([("doc_id", pa.string()), ("source", pa.string()), ("text", pa.string())])


def window_start(seed: int) -> int:
    """First doc index of the seed's window; ids stay below 10^8 so the
    zero-padded doc ids keep sorting in index order."""
    return random.Random(seed).randrange(0, 9_000) * 10_000


def _write(path: str, rows: list[dict], schema: pa.Schema) -> int:
    """Write *rows* as INPUT_FILES parquet files; returns bytes written."""
    os.makedirs(path)
    step = -(-len(rows) // INPUT_FILES)
    for i in range(INPUT_FILES):
        part = rows[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return dir_bytes(path)


def write_docs(path: str, lo: int, hi: int) -> int:
    return _write(path, [dg.doc_row(i) for i in range(lo, hi)], _DOCS_SCHEMA)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(b, n)) for b, _, ns in os.walk(path) for n in ns)


def text_row(idx: int) -> dict:
    """The dedup projection of one doc: (doc_id, source=tenant, text spans joined)."""
    row = dg.doc_row(idx)
    text = "\n".join(s["text"] for s in row["spans"] if s["kind"] == "text")
    return {"doc_id": row["doc_id"], "source": row["tenant_id"], "text": text}


def inject(rng: random.Random, originals: list[dict], n_exact: int, n_near: int, tag: str):
    """Copies of seeded originals: exact ones and ones with one token
    replaced. Copy ids extend the original's id, so they sort after it and
    first-wins dedup keeps the original."""
    exact = [dict(o, doc_id=f"{o['doc_id']}-{tag}x") for o in rng.sample(originals, n_exact)]
    near = []
    for j, o in enumerate(rng.sample(originals, n_near)):
        toks = o["text"].split(" ")
        toks[rng.randrange(len(toks))] = f"edit{tag}{j}"
        near.append(dict(o, doc_id=f"{o['doc_id']}-{tag}n", text=" ".join(toks)))
    return exact, near


def triple_pr(edges, lo: int, hi: int) -> tuple[float, float]:
    """Precision and recall of the edges' (doc_id, src_surface, rel,
    dst_surface) against datagen.expected_triples over docs [lo, hi)."""
    want = {(dg.doc_id_of(d), s, p, o) for d in range(lo, hi) for s, p, o in dg.expected_triples(d)}
    got = {tuple(r) for r in edges.select("doc_id", "src_surface", "rel", "dst_surface").collect()}
    hit = len(got & want)
    return hit / max(len(got), 1), hit / max(len(want), 1)


def seeded_edges(lo: int, hi: int) -> list[dict]:
    """Edges of the seeded facts of docs [lo, hi): the KG an exact extraction
    and linking would build, keyed by alias-dictionary entity id."""
    eid = {dg.canonical_name(i): dg.entity_id(i) for i in range(dg.N_ENTITIES)}
    return [{"src": eid[s], "rel": p, "dst": eid[o], "doc_id": dg.doc_id_of(d),
             "src_surface": s, "dst_surface": o}
            for d in range(lo, hi) for s, p, o in dg.expected_triples(d)]


def content_hash(df) -> tuple:
    """Order-insensitive digest of a table: row count plus two sums of
    per-row hashes, each reduced mod a prime so the sum cannot overflow."""
    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))),
        F.sum(F.pmod(F.hash(*cols).cast("long"), F.lit(2_147_483_629))),
    ).collect()[0]
    return tuple(row)


def union_find_components(pairs) -> int:
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    return len({find(x) for x in list(parent)})


class Ledger:
    """Operations attempted and failed; a failed output check counts as a
    failed operation, as does one that raised."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}")

    def op(self, n: int = 1) -> None:
        self.attempted += n


class Workload:
    def __init__(self, spark, work: str, seed: int, tracer, ledger: Ledger) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.ledger = tracer, ledger
        self.w0 = window_start(seed)
        self.passes = 0
        self.quality: dict[str, float] = {}
        self.setup_times: dict[str, float] = {}

    @contextmanager
    def timed(self, name: str):
        """Record the wall time of one set-up phase in ``setup_times``."""
        t0 = time.perf_counter()
        yield
        self.setup_times[name] = time.perf_counter() - t0

    @staticmethod
    @contextmanager
    def part(out: dict, name: str):
        """Record ``<name>_s`` (wall) and ``<name>_cpu_s`` (CPU seconds of
        this process tree) of one timed part of a pass in *out*."""
        w0, c0 = time.perf_counter(), cpu_s()
        yield
        out[f"{name}_s"] = time.perf_counter() - w0
        out[f"{name}_cpu_s"] = cpu_s() - c0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class PipelineWorkload(Workload):
    """Full build of a docs window into a fresh warehouse plus
    ``flagship_query``, then one ``incremental_update`` fold of newer docs."""

    name = "pipeline"

    def setup(self) -> None:
        lo, n, f = self.w0, PIPELINE_BASE_DOCS, PIPELINE_FOLD_DOCS
        self.windows = {"base": (lo, lo + n), "new": (lo + n, lo + n + f), "union": (lo, lo + n + f)}
        with self.timed("inputs"):
            self.input_bytes = {k: write_docs(self.path("in", k), a, b) for k, (a, b) in self.windows.items()}
        # The fold contract: folding the new docs into the base equals a
        # full build over the union. The union build is untimed; being the
        # first build in this JVM it also serves as the warm-up.
        with self.timed("reference build"):
            wh = Warehouse(self.path("ref"))
            run = run_pipeline(self.spark, wh, docs_path=self.path("in", "union"), resume=False)
            self.ref = {t: content_hash(wh.read(self.spark, t, run.input_key))
                        for t in ("nodes", "edges", "canonical_map")}

    def run_pass(self) -> dict:
        sp, tr, i = self.spark, self.tracer, self.passes
        self.passes += 1
        root = self.path(f"wh{i}")
        wh = Warehouse(root)
        out = {}
        with tr.span("pass"):
            with tr.span("build"), self.part(out, "build"):
                with tr.span("pipeline.run_pipeline"):
                    run = run_pipeline(sp, wh, docs_path=self.path("in", "base"), resume=False)
                with tr.span("pipeline.flagship_query"):
                    flagship_query(sp, wh, run.input_key).collect()
            stored = dir_bytes(root) - dir_bytes(os.path.join(root, "_manifest"))
            with tr.span("fold"), self.part(out, "fold"):
                with tr.span("pipeline.incremental_update"):
                    key = incremental_update(sp, wh, run.input_key, self.path("in", "new")).input_key
        self.ledger.op(3)  # build, flagship, fold
        t_checks = time.perf_counter()
        if i == 0:
            p, r = triple_pr(wh.read(sp, "edges", run.input_key), *self.windows["base"])
            self.quality = {"triple_precision": p, "triple_recall": r,
                            "stored_bytes_per_input_byte": stored / self.input_bytes["base"]}
            self.ledger.check("build triple P/R >= 0.95", p >= 0.95 and r >= 0.95, f"P={p:.4f} R={r:.4f}")
        for t, want in self.ref.items():
            got = content_hash(wh.read(sp, t, key))
            self.ledger.check(f"fold {t} == full build of the union", got == want, f"{got} != {want}")
        shutil.rmtree(root, ignore_errors=True)
        out["pass_s"] = out["build_s"] + out["fold_s"]
        out["pass_cpu_s"] = out["build_cpu_s"] + out["fold_cpu_s"]
        out["build_docs_per_s"] = PIPELINE_BASE_DOCS / out["build_s"]
        out["fold_docs_per_s"] = PIPELINE_FOLD_DOCS / out["fold_s"]
        out["checks_s"] = time.perf_counter() - t_checks
        return out


class AnalyticsWorkload(Workload):
    """Graph operator list over a KG committed in set-up, then
    ``dedup_fold`` of a new batch against a kept corpus that set-up made
    with ``dedup_corpus``."""

    name = "analytics"

    def setup(self) -> None:
        sp = self.spark
        with self.timed("inputs"):
            exact = self._write_inputs()
            self.kg, self.key = Warehouse(self.path("kg")), "seeded-facts"
            self.kg.commit(sp.read.parquet(self.path("in", "kg")), "edges", run_id="perfbench",
                           stage="edges", input_key=self.key)
        # The full dedup pass makes the kept corpus the timed folds start
        # from. It runs once, untimed, and is also the warm-up: it compiles
        # the near-dup pair query and the CC rounds that dedup_fold and
        # connected_components run again in every pass.
        self.dd = Warehouse(self.path("dd"))
        with self.timed("dedup_corpus"), self.tracer.span("dedup.corpus"):
            kept, rep = dedup_corpus(sp, sp.read.parquet(self.path("in", "corpus")))
            self.kept_snap = self.dd.commit(kept, "kept_docs", run_id="perfbench", stage="dedup",
                                            input_key="corpus")
        self.ledger.op()
        self.quality = {"dedup_docs_per_s": self.n_corpus / self.setup_times["dedup_corpus"],
                        "dedup_exact_removed": rep["exact_removed"],
                        "dedup_neardup_removed": rep["neardup_removed"]}
        with self.timed("dedup checks"):
            kept = self.dd.read(sp, "kept_docs", "corpus")
            left = {r[0] for r in kept.select("doc_id").collect()} & exact
            self.ledger.check("every injected exact copy removed", not left, f"{len(left)} kept")
            # A second dedup_corpus pass over kept removes nothing iff kept
            # has no exact group of two or more and no verified near-dup
            # pair; this tests both without the pass's CC rounds.
            groups = kept.groupBy("source", F.md5("text")).count().where("count > 1").count()
            pairs = near_dup_pairs(sp, kept).count()
            self.ledger.check("second dedup pass over kept removes nothing", groups == pairs == 0,
                              f"{groups} exact groups, {pairs} near-dup pairs")

    def _write_inputs(self) -> set[str]:
        """Write the graph's edges, the dedup corpus and the fold batch;
        returns the ids of the corpus's injected exact copies."""
        lo = self.w0
        # The graph input is the edge table of the window's seeded facts,
        # committed straight to a warehouse: a pipeline build here would add
        # ~25 s of set-up to every run.
        edges = seeded_edges(lo, lo + GRAPH_KG_DOCS)
        _write(self.path("in", "kg"), edges, _EDGES_SCHEMA)
        self.n_components = union_find_components((e["src"], e["dst"]) for e in edges)

        rng = random.Random(self.seed)
        originals = [text_row(i) for i in range(lo, lo + DEDUP_DOCS)]
        exact, near = inject(rng, originals, DEDUP_EXACT, DEDUP_NEAR, "c")
        corpus = originals + exact + near
        rng.shuffle(corpus)
        self.n_corpus = len(corpus)
        _write(self.path("in", "corpus"), corpus, _TEXT_SCHEMA)
        fresh = [text_row(i) for i in range(lo + DEDUP_DOCS, lo + DEDUP_DOCS + DEDUP_FOLD_DOCS)]
        fx, fn = inject(rng, originals, DEDUP_FOLD_EXACT, DEDUP_FOLD_NEAR, "f")
        self.fold_injected = {d["doc_id"] for d in fx + fn}
        self.n_batch = len(fresh) + len(fx) + len(fn)
        _write(self.path("in", "batch"), fresh + fx + fn, _TEXT_SCHEMA)
        return {d["doc_id"] for d in exact}

    def _graph_op(self, op: str):
        edges = self.kg.read(self.spark, "edges", self.key)
        return getattr(G, op)(edges).collect()

    def run_pass(self) -> dict:
        sp, tr, dd = self.spark, self.tracer, self.dd
        self.passes += 1
        out = {}
        with tr.span("pass"):
            with tr.span("graph"), self.part(out, "graph"):
                for op in GRAPH_OPS:
                    t_op = time.perf_counter()
                    with tr.span(f"graph.{op}"):
                        res = self._graph_op(op)
                    out[f"{op}_s"] = time.perf_counter() - t_op
                    if op == "connected_components":
                        n = len({r["component"] for r in res})
                        self.ledger.check("graph CC count == driver union-find", n == self.n_components,
                                          f"{n} != {self.n_components}")
            with tr.span("dedup"), self.part(out, "dedup_fold"):
                with tr.span("dedup.fold"):
                    admitted, _ = dedup_fold(sp, dd.read(sp, "kept_docs", "corpus"),
                                             sp.read.parquet(self.path("in", "batch")))
                    dd.commit(admitted, "kept_docs", run_id="perfbench", stage="dedup_fold",
                              input_key="corpus+batch", delta_of=self.kept_snap)
        self.ledger.op(len(GRAPH_OPS) + 1)
        t_checks = time.perf_counter()
        folded_ids = {r[0] for r in dd.read(sp, "kept_docs", "corpus+batch").select("doc_id").collect()}
        left = folded_ids & self.fold_injected
        self.ledger.check("fold drops every injected copy", not left, f"{len(left)} admitted")
        out["dedup_fold_docs_per_s"] = self.n_batch / out["dedup_fold_s"]
        out["pass_s"] = out["graph_s"] + out["dedup_fold_s"]
        out["pass_cpu_s"] = out["graph_cpu_s"] + out["dedup_fold_cpu_s"]
        out["checks_s"] = time.perf_counter() - t_checks
        return out


WORKLOADS = {w.name: w for w in (PipelineWorkload, AnalyticsWorkload)}
