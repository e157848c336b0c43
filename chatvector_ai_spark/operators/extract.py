"""Stage 2 — extraction: chunk text → (subj, pred, obj) triple rows.

The reference's LLM extension point (providers/base.py:124-172) becomes a
deterministic rule-based extractor (oracle.svo) running inside mapInPandas.
Like stage 1 this is narrow and shuffle-free.

Embedding policy: the chunks table carries the chunk embedding
(``ingest_chunks(embed_dim=)``); triples carry none, except with
``embed_if_surface_in`` (the small set of lowercased ambiguous dictionary
aliases — the only surfaces whose linking decision the embedding term can
change). Then the UDF *recomputes* the chunk embedding for just the triples
with such a subject or object, from ``chunk_text`` (hash embeddings are
pure functions of the text, so the value is identical to the chunks
table's), and leaves it NULL everywhere else — the dense embedding column
never crosses Arrow into this stage at all. That sparse column is the one
embedding ``link.link_mentions`` scores with.

Row-level failure semantics mirror the reference's per-row fallback
(query_service.py:42-60) and DLQ-without-payload contract
(queue_base.py:38-54): a chunk whose extraction raises is emitted to the
quarantine output instead of failing the stage. Errors are CLASSIFIED the
way the reference classifies them (_classify_ingestion_error,
ingestion_pipeline.py:670-714; 4xx-straight-to-DLQ rule,
queue_asyncio.py:226-241): permanent failures (malformed input, 4xx-coded
errors) quarantine on the first attempt; transient failures (timeouts,
connection errors) get bounded in-stage retries — the Spark analog of the
queue's requeue-with-backoff — and quarantine with their attempt count
only after exhausting them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatvector_ai_spark.config import EMBEDDING_DIM
from chatvector_ai_spark.oracle.docflow import TRIPLE_ROW_DDL
from chatvector_ai_spark.oracle.svo import extract_triples

QUARANTINE_DDL = (
    "doc_id string, chunk_id string, stage string, error_code string, "
    "retryable boolean, attempts int, message string"
)

_SRC_COLS = ["doc_id", "chunk_id", "chunk_index", "span_idx", "span_offset", "kind", "chunk_text"]
_TENANT_COL = "tenant_id"

# Reference QUEUE_JOB_MAX_RETRIES analog: total attempts per row for
# transient errors before the row lands in quarantine.
EXTRACT_MAX_ATTEMPTS = 3


class PermanentExtractionError(Exception):
    """A non-retryable, classified failure — the analog of the reference's
    UploadPipelineError with a 4xx status (queue_asyncio.py:226: straight to
    DLQ, never requeued)."""

    def __init__(self, message: str, code: str = "pipeline_4xx", status_code: int = 400):
        super().__init__(message)
        self.code = code
        self.status_code = status_code


def classify_extraction_error(exc: Exception) -> tuple[str, bool]:
    """(stable error_code, retryable) for a row-level failure — the Spark
    twin of _classify_ingestion_error + the queue's 4xx rule.

    Permanent: explicit 4xx-coded errors and deterministic input errors
    (retrying identical bytes cannot succeed). Transient: timeouts /
    connection errors / everything else — the reference requeues any
    unclassified exception (queue_asyncio.py:243-263).
    """
    if isinstance(exc, PermanentExtractionError):
        return exc.code, False
    status = getattr(exc, "status_code", None)
    if isinstance(status, int) and 400 <= status < 500:
        return f"http_{status}", False
    if isinstance(exc, (ValueError, TypeError, UnicodeError, KeyError)):
        return "malformed_input", False
    if isinstance(exc, TimeoutError):
        return "provider_timeout", True
    if isinstance(exc, ConnectionError):
        return "provider_unreachable", True
    if isinstance(exc, OSError):
        return "io_error", True
    return "pipeline_error", True


def extract_triples_df(
    chunks: DataFrame,
    embed_if_surface_in: set[str] | None = None,
    extractor=None,
) -> DataFrame:
    """chunks → raw triples (+ sparse chunk embedding, + _error marker).

    Filter ``_error IS NULL`` for good rows; ``quarantine_df`` projects the
    failures. The text-only filter is pushed before the Python stage so
    media rows never cross into the worker.

    - ``embed_if_surface_in={...}``: an ``embedding`` column, the chunk's
      recomputed embedding on good rows whose lowercased subject or object
      is in the set and NULL on every other row (see module docstring).
      Without it the output has no ``embedding`` column.
    - ``extractor``: chunk_text → iterable of svo.Triple; defaults to the
      rule-based oracle. Serialized into the UDF closure (tests inject
      failing extractors; a model-backed one plugs in the same way).
    """
    extract_fn = extractor or extract_triples
    sparse = embed_if_surface_in is not None
    if _TENANT_COL not in chunks.columns:
        chunks = chunks.withColumn(_TENANT_COL, F.lit(None).cast("string"))
    narrowed = chunks.where((F.col("kind") == "text") & (F.col("chunk_text") != "")).select(
        *_SRC_COLS, _TENANT_COL
    )

    out_ddl = (
        TRIPLE_ROW_DDL
        + ", tenant_id string"
        + (", embedding array<float>" if sparse else "")
        + ", _error string, _error_code string, _retryable boolean, _attempts int"
    )
    names = [c.split(" ")[0] for c in out_ddl.split(", ")]

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from chatvector_ai_spark.oracle.hashembed import embed_batch

        for pdf in batches:
            rows: list[dict] = []
            emb_texts: list[str] = []
            emb_slots: list[int] = []
            tenants = pdf[_TENANT_COL].tolist()
            cols = [pdf[c].tolist() for c in _SRC_COLS]
            for i, (doc_id, chunk_id, chunk_index, span_idx, span_offset, _kind, chunk_text) in enumerate(
                zip(*cols)
            ):
                # bounded in-stage retry for transient errors; permanent
                # errors (the 4xx analog) quarantine on attempt 1
                attempts = 0
                triples_out = None
                err: Exception | None = None
                err_code, err_retryable = None, None
                while attempts < EXTRACT_MAX_ATTEMPTS:
                    attempts += 1
                    try:
                        triples_out = list(extract_fn(chunk_text))
                        err = None
                        break
                    except Exception as exc:
                        err = exc
                        err_code, err_retryable = classify_extraction_error(exc)
                        if not err_retryable:
                            break
                if err is None:
                    for t in triples_out:
                        row = {
                            "doc_id": doc_id,
                            "chunk_id": chunk_id,
                            "chunk_index": chunk_index,
                            "span_idx": span_idx,
                            "span_offset": span_offset,
                            "tenant_id": tenants[i],
                            "subj": t.subj,
                            "pred": t.pred,
                            "obj": t.obj,
                            "subj_start": t.subj_start,
                            "subj_end": t.subj_end,
                            "obj_start": t.obj_start,
                            "obj_end": t.obj_end,
                            "conf": t.conf,
                            "_error": None,
                            "_error_code": None,
                            "_retryable": None,
                            "_attempts": None,
                        }
                        if sparse:
                            row["embedding"] = None
                            if (
                                t.subj.lower() in embed_if_surface_in
                                or t.obj.lower() in embed_if_surface_in
                            ):
                                emb_slots.append(len(rows))
                                emb_texts.append(chunk_text)
                        rows.append(row)
                else:  # quarantine, never fail the stage
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "chunk_id": chunk_id,
                            "chunk_index": None,
                            "span_idx": None,
                            "span_offset": None,
                            "tenant_id": tenants[i],
                            "subj": None,
                            "pred": None,
                            "obj": None,
                            "subj_start": None,
                            "subj_end": None,
                            "obj_start": None,
                            "obj_end": None,
                            "conf": None,
                            "embedding": None,  # dropped unless sparse
                            "_error": f"{type(err).__name__}: {err}",
                            "_error_code": err_code,
                            "_retryable": err_retryable,
                            "_attempts": attempts,
                        }
                    )
            if sparse and emb_texts:
                mat = embed_batch(emb_texts, dim=EMBEDDING_DIM)
                for slot, vec in zip(emb_slots, mat):
                    rows[slot]["embedding"] = list(vec)
            yield pd.DataFrame(rows, columns=names)

    return narrowed.mapInPandas(process, schema=out_ddl)


def good_triples(raw: DataFrame) -> DataFrame:
    return raw.where(F.col("_error").isNull()).drop(
        "_error", "_error_code", "_retryable", "_attempts"
    )


def quarantine_df(raw: DataFrame) -> DataFrame:
    """DLQ analog: lightweight classified failure records, no payload bytes
    (queue_base.py:38-54 drops file bytes on DLQ entry). ``retryable``
    records the classification; ``attempts`` how many in-stage tries the
    row got before landing here (1 for permanent errors — the 4xx rule)."""
    return (
        raw.where(F.col("_error").isNotNull())
        .select(
            "doc_id",
            "chunk_id",
            F.lit("extract").alias("stage"),
            F.col("_error_code").alias("error_code"),
            F.col("_retryable").alias("retryable"),
            F.col("_attempts").alias("attempts"),
            F.col("_error").alias("message"),
        )
    )
