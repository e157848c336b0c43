"""Structured Streaming operators that keep no pipeline stage of their own:
windowed event rollups and watermark-bounded streaming dedup.

``stream_event_rollup`` is the streaming twin of the suite's
``ev_hourly_rollup``: event-time windows + a watermark bounding state for
late data. ``stream_dedup`` / ``stream_dedup_docs`` drop exact duplicates
within a watermark window. The streaming KG build is
``streaming/kgstream.stream_kg_updates``: each micro-batch of new documents
folds into the warehouse through ``pipeline.incremental_update``, with
lineage and exactly-once epoch keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_event_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-type event aggregates with late-data watermarking.

    ``events`` is a streaming DataFrame with (ts timestamp, event_type
    string, user_id long, value double). State is bounded by the
    watermark: windows older than max(event time) − watermark finalize and
    evict (the streaming analog of the batch hourly rollup).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")).alias("value_cents"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "value_cents", "approx_users",
        )
    )


def stream_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only until
    the watermark passes it, so state is O(keys-per-watermark-window), not
    O(all keys ever) — the property that makes streaming dedup survive an
    unbounded 100 TB feed (a plain ``dropDuplicates`` on a stream grows
    state forever). Duplicates arriving later than the watermark are
    consciously re-admitted: at that distance the batch dedup layer
    (dd_exact / dd_minhash suite operators) owns them — the standard
    lambda split between a bounded streaming layer and a global batch one.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_dedup_docs(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Content-hash streaming dedup of interleaved documents: the key is
    an md5 over the ordered span texts + media refs (kind-tagged), i.e.
    exact-duplicate *content* collapses even under different doc_ids."""
    # each field is null-tagged BEFORE serialization: concat_ws silently
    # skips NULLs, so (text='x', media_ref=NULL) and (text=NULL,
    # media_ref='x') would otherwise collide on content_hash and the
    # dedup would silently drop a distinct document
    tag = lambda c: F.when(c.isNull(), F.lit("\x00")).otherwise(  # noqa: E731
        F.concat(F.lit("\x01"), c)
    )
    keyed = docs.withColumn(
        "content_hash",
        F.md5(
            F.concat_ws(
                "\x1f",
                F.transform(
                    "spans",
                    lambda s: F.concat_ws(
                        "\x1e",
                        tag(s["kind"]),
                        tag(s["text"]),
                        tag(s["media_ref"]),
                    ),
                ),
            )
        ),
    )
    return stream_dedup(keyed, ["content_hash"], ts_col=ts_col, watermark=watermark)
