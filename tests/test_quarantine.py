"""Classified quarantine semantics (reference _classify_ingestion_error,
/root/reference/backend/services/ingestion_pipeline.py:670-714, and the
4xx-straight-to-DLQ + requeue-with-retries queue rule,
/root/reference/backend/services/queue_asyncio.py:226-263):

- permanent errors (malformed input, 4xx-coded) quarantine on attempt 1;
- transient errors are retried in-stage up to EXTRACT_MAX_ATTEMPTS and
  quarantine with that attempt count;
- rows that succeed are untouched and the stage itself never fails.
"""

import pytest

from chatvector_ai_spark import datagen as dg
from chatvector_ai_spark.operators.extract import (
    EXTRACT_MAX_ATTEMPTS,
    PermanentExtractionError,
    classify_extraction_error,
    extract_triples_df,
    good_triples,
    quarantine_df,
)
from chatvector_ai_spark.operators.ingest import ingest_chunks
from chatvector_ai_spark.oracle.svo import extract_triples


def test_classification_table():
    assert classify_extraction_error(ValueError("bad")) == ("malformed_input", False)
    assert classify_extraction_error(TimeoutError()) == ("provider_timeout", True)
    assert classify_extraction_error(ConnectionError()) == ("provider_unreachable", True)
    assert classify_extraction_error(OSError()) == ("io_error", True)
    assert classify_extraction_error(RuntimeError("?")) == ("pipeline_error", True)
    code, retryable = classify_extraction_error(
        PermanentExtractionError("nope", code="unsupported_media", status_code=415)
    )
    assert (code, retryable) == ("unsupported_media", False)

    class Http429(Exception):
        status_code = 429  # 4xx range: the queue's rule is status-based

    assert classify_extraction_error(Http429()) == ("http_429", False)


@pytest.fixture(scope="module")
def chunks(spark):
    return ingest_chunks(dg.documents_df(spark, 12)).cache()


def _failing_extractor(permanent_marker: str, transient_marker: str):
    """Deterministic failure injection keyed on chunk text content —
    serialized into the UDF closure, so it runs on executors."""

    def run(text: str):
        if permanent_marker in text:
            raise ValueError("synthetic malformed row")
        if transient_marker in text:
            raise TimeoutError("synthetic provider timeout")
        return extract_triples(text)

    return run


def test_permanent_vs_transient_quarantine(spark, chunks):
    # markers chosen from the deterministic datagen text: both predicate
    # phrases occur in many chunks; a chunk containing both counts as
    # permanent (checked first)
    extractor = _failing_extractor("acquired", "merged with")
    raw = extract_triples_df(chunks, extractor=extractor).cache()
    q = quarantine_df(raw).toPandas()
    assert len(q) > 0
    perm = q[~q["retryable"]]
    trans = q[q["retryable"]]
    assert len(perm) > 0, "permanent marker never hit — adjust marker"
    assert len(trans) > 0, "transient marker never hit — adjust marker"
    # 4xx rule: permanent rows got exactly one attempt
    assert (perm["attempts"] == 1).all()
    assert (perm["error_code"] == "malformed_input").all()
    # transient rows exhausted the retry budget
    assert (trans["attempts"] == EXTRACT_MAX_ATTEMPTS).all()
    assert (trans["error_code"] == "provider_timeout").all()
    # DLQ entries are payload-free but fully classified
    assert list(q.columns) == [
        "doc_id", "chunk_id", "stage", "error_code", "retryable", "attempts", "message",
    ]
    # good rows are unaffected by other rows' failures
    ok = good_triples(raw)
    assert ok.count() > 0
    assert "_error" not in ok.columns and "_attempts" not in ok.columns


def test_clean_input_has_empty_quarantine(spark, chunks):
    raw = extract_triples_df(chunks)
    assert quarantine_df(raw).count() == 0
