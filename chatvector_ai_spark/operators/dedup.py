"""End-to-end corpus deduplication: exact + MinHash-LSH near-dup, applied.

The suite's dd_* queries measure dedup (pair sets, cluster histograms);
this operator *applies* it — the step a training-data pipeline actually
ships: given a documents table, return the kept rows plus an audit report.

Pipeline (all candidate-generated, never all-pairs):

1. **Exact** — first-wins per (source, md5(text)), both keys null-safe:
   one hash-groupBy and one semi-join, materialized once per call (eager
   ``localCheckpoint``); the counts, the signature pass, the kept or
   admitted rows and the caller's commit all read that table.
2. **Near-dup candidates** — ``near_dup_pairs`` over the exact-kept set:
   the rows of the suite's ``dd_jaccard_pairs`` (12 affine MinHashes over
   one-md5-per-token base values, 6 bands of 2, banded within the
   ``source`` block, exact token Jaccard ≥ 0.8 on candidates only), built
   from the ``functions.text`` columns. Each call tokenizes and MinHashes
   every document once into one checkpointed (doc_id, source, tk,
   bd0..bd5) table; one self-join on (source, band, bd) over its exploded
   band keys and the Jaccard check read only that table.
3. **Clusters** — connected components over the verified pair graph
   (``graph.connected_components``: a driver union-find up to
   ``CC_SMALL_CORE_EDGES`` pairs, large-star/small-star above);
   representative = min doc_id.
4. **Apply** — drop every cluster member except its representative.

Reference parity: the reference has no corpus dedup (its ingest is
per-upload, ingestion_pipeline.py); this is part of the training-data
surface the brief adds on top. Semantics follow Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better") — exact-then-
near, keep-one-per-cluster.

100 TB posture: one scan of the input, one hash-groupBy and one
semi-join for the exact step, one signature pass (a narrow map), one band
equi-join within source blocks, CC in O(log² n) shuffle rounds, one
anti-join. Two tables per call are materialized in executor storage
(memory, then disk): the exact survivors, at most the input's size (the
new batch's in a fold), and the signature table, of the same order; every
later plan reads them, not the input. The only collects are the CC
convergence fingerprints, plus the pair set itself when it is at most
``CC_SMALL_CORE_EDGES`` rows (solved by the driver union-find, whose
labels come back as a JVM ``LocalRelation``); no per-row Python in any
Spark task. Signatures last one call: a fold re-signs the kept corpus it
is given.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chatvector_ai_spark.functions.text import band_keys, set_minhash, text_tokens
from chatvector_ai_spark.operators.graph import connected_components

_REQUIRED_COLS = ("doc_id", "source", "text")
_N_HASHES = 12


def _text_key() -> Column:
    """Exact-dup grouping key: md5(text), with a sentinel for NULL text so
    NULL-text rows dedup among themselves instead of vanishing through
    NULL-key join semantics."""
    return F.coalesce(F.md5(F.col("text")), F.lit("__null_text__"))


def _null_safe_join(
    left: DataFrame, right: DataFrame, keys: tuple[str, ...], how: str
) -> DataFrame:
    """``left.join(right, keys, how)`` for a ``left_semi`` or ``left_anti``
    join, with NULL matching NULL on every key: a NULL ``source`` is a
    source block of its own in the exact step, not a row that vanishes
    through NULL-key join semantics. ``right``'s keys are renamed so that
    each side of the condition names one column."""
    r = right.select(*[F.col(k).alias(f"_r{i}") for i, k in enumerate(keys)])
    on = reduce(operator.and_, [F.col(k).eqNullSafe(F.col(f"_r{i}")) for i, k in enumerate(keys)])
    return left.join(r, on, how)


def _first_per_text(keyed: DataFrame) -> DataFrame:
    """The rows of ``keyed`` (with its ``_h`` text key) that hold the min
    doc_id of their (source, _h) group, ``_h`` dropped: one hash-groupBy
    and one semi-join, materialized once with an eager
    ``localCheckpoint``. The counts, the signature table, the kept or
    admitted rows and the caller's commit all read that table instead of
    re-running the hash, the joins and the input scan."""
    first = keyed.groupBy("source", "_h").agg(F.min("doc_id").alias("doc_id"))
    kept = _null_safe_join(keyed, first, ("source", "_h", "doc_id"), "left_semi").drop("_h")
    return kept.localCheckpoint(eager=True)


def _signature_table(docs: DataFrame) -> DataFrame:
    """(doc_id, source, tk, bd0..bd5): each doc's distinct tokens and its
    six LSH band keys (12 MinHashes, bands of 2). Three projections, so
    that the tokens and the signature are each computed once per row:
    Spark does not merge a projection into the next when that would
    repeat a non-trivial expression."""
    toks = docs.select("doc_id", "source", F.array_distinct(text_tokens("text")).alias("tk"))
    sigs = toks.select("doc_id", "source", "tk", set_minhash("tk", _N_HASHES).alias("sig"))
    bands = band_keys("sig", _N_HASHES // 2, 2)
    return sigs.select(
        "doc_id", "source", "tk", *[k.alias(f"bd{i}") for i, k in enumerate(bands)]
    )


def near_dup_pairs(
    spark: SparkSession, docs: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Verified near-dup pairs (a_id, b_id, jaccard) over ``docs``: the
    rows of the suite's ``dd_jaccard_pairs`` — banded within ``source``,
    exact token-set Jaccard on candidates. ``threshold`` tightens the
    verify filter; it cannot go below the 0.8 the band geometry is tuned
    for (12 hashes / 6 bands of 2 → band-collision probability ≈0.998 at
    J=0.8; recall at lower J is not engineered, so asking for it raises).

    The signature table is materialized once (eager ``localCheckpoint``),
    so every document is tokenized and MinHashed once per call. Candidates
    come from one self-join on (source, band, bd) over its six band keys
    exploded with their band index, not a union of six per-band joins.
    NULL band keys (NULL text) are dropped first and a NULL source matches
    nothing, so pairs form within equal non-NULL sources, as in
    ``dd_jaccard_pairs``."""
    if threshold < 0.8:
        raise ValueError(
            f"threshold {threshold} < 0.8: the 6x2 band geometry only "
            "guarantees candidate recall down to J=0.8 (use more/narrower "
            "bands for lower thresholds)"
        )
    missing = [c for c in _REQUIRED_COLS if c not in docs.columns]
    if missing:
        raise ValueError(f"dedup input is missing columns {missing}")
    sigs = _signature_table(docs).localCheckpoint(eager=True)
    bands = sigs.select(
        "doc_id",
        "source",
        F.posexplode(F.array(*[f"bd{i}" for i in range(_N_HASHES // 2)])).alias("band", "bd"),
    ).where(F.col("bd").isNotNull())
    a = bands.select(F.col("doc_id").alias("a_id"), "source", "band", "bd")
    b = bands.select(F.col("doc_id").alias("b_id"), "source", "band", "bd")
    cand = (
        a.join(b, ["source", "band", "bd"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ta = sigs.select(F.col("doc_id").alias("a_id"), F.col("tk").alias("ta"))
    tb = sigs.select(F.col("doc_id").alias("b_id"), F.col("tk").alias("tb"))
    sizes = cand.join(ta, "a_id").join(tb, "b_id").select(
        "a_id",
        "b_id",
        F.size(F.array_intersect("ta", "tb")).alias("inter"),
        (F.size("ta") + F.size("tb")).alias("total"),
    )
    jaccard = F.col("inter").cast("double") / (F.col("total") - F.col("inter")).cast("double")
    return (
        sizes.select("a_id", "b_id", jaccard.alias("j"))
        .where(F.col("j") >= F.lit(threshold))
        .select("a_id", "b_id", F.round("j", 6).alias("jaccard"))
    )


def dedup_corpus(
    spark: SparkSession, docs: DataFrame, threshold: float = 0.8
) -> tuple[DataFrame, dict]:
    """Exact + near-dup dedup applied to ``docs``; returns (kept, report).

    ``kept`` preserves the input schema. ``report`` is a plain dict of
    exact integer counts (driver-side scalars only — the four counts are
    one aggregate action each, not data-scale collects; all but the input
    count read materialized or driver-built tables). Deterministic:
    first-wins keeps the min doc_id of every exact group and every
    near-dup cluster, so reruns and re-partitionings keep the same rows.
    Idempotent: every surviving pair of docs has verified Jaccard below
    the threshold, so a second pass removes nothing.
    """
    n_input = docs.count()

    # 1) exact: min doc_id per md5(text), within the same source block
    # (cross-source exact dups are kept — source is the tenancy boundary,
    # mirroring the suite's banded-within-source contract). NULL text gets
    # a sentinel key and the source key matches null-safely: NULL join keys
    # never match, so without both every NULL-text or NULL-source row —
    # including its group's min-id representative — would silently vanish
    # in the semi-join.
    exact_kept = _first_per_text(docs.withColumn("_h", _text_key()))
    n_exact_kept = exact_kept.count()

    # 2-3) near-dup clusters over the exact survivors
    pairs = near_dup_pairs(spark, exact_kept, threshold=threshold)
    comp = connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    drop_ids = comp.where(F.col("entity") != F.col("component")).select(
        F.col("entity").alias("doc_id")
    )
    n_clusters = comp.select("component").distinct().count()

    # 4) apply
    kept = exact_kept.join(drop_ids, "doc_id", "left_anti")
    n_kept = kept.count()

    report = {
        "n_input": n_input,
        "exact_removed": n_input - n_exact_kept,
        "neardup_clusters": n_clusters,
        "neardup_removed": n_exact_kept - n_kept,
        "n_kept": n_kept,
        "threshold": threshold,
    }
    return kept, report


def dedup_fold(
    spark: SparkSession,
    kept: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.8,
) -> tuple[DataFrame, dict]:
    """Incremental dedup: fold ``new_docs`` into an already-deduped
    ``kept`` corpus. Returns (admitted, report) where ``admitted`` is the
    subset of new docs that survive — the caller appends them to the
    corpus (existing kept rows are never revoked, matching the engine's
    append-only incremental posture).

    A new doc is dropped when it (a) exactly matches any kept or
    admitted-earlier doc in its source block, or (b) lands in a near-dup
    cluster containing a kept doc or a smaller-id new doc. Because
    first-wins keeps minimum doc_ids and production ids increase
    monotonically, the folded corpus is ROW-IDENTICAL to a full
    ``dedup_corpus`` rebuild over old+new (pinned by test) — the same
    invariant the pipeline's ``incremental_update`` holds vs full builds —
    with ONE documented exception: a new doc that BRIDGES two kept docs
    into one cluster. The rebuild would revoke the larger-id kept doc;
    the append-only fold instead drops the bridge and keeps both kept
    docs (also pinned by test). Both outcomes are valid dedup states
    (no surviving pair exceeds the threshold against the docs that
    clustered them); revocation-on-fold is exactly what append-only
    lineage forbids.

    Scale shape: the near-dup candidate join runs over kept ∪ new, but
    every stage is the same banded/candidate-generated machinery as the
    full pass; the exact survivors are materialized once and the admitted
    set is delta-sized.
    """
    n_new = new_docs.count()

    # exact: a new doc survives if its (source, md5) is unseen in kept
    # and it is the min doc_id of its hash group within the new batch
    # (same NULL-text sentinel and null-safe source key as dedup_corpus)
    new_keyed = new_docs.withColumn("_h", _text_key())
    kept_keys = kept.select("source", _text_key().alias("_h")).distinct()
    exact_ok = _first_per_text(_null_safe_join(new_keyed, kept_keys, ("source", "_h"), "left_anti"))
    n_exact_ok = exact_ok.count()

    # near-dup: clusters over kept ∪ exact-surviving-new; a new doc is
    # admitted iff it is its component's minimum (kept docs, having the
    # smaller ids, win their clusters; new-vs-new clusters keep the min)
    union = kept.select(*exact_ok.columns).unionByName(exact_ok)
    pairs = near_dup_pairs(spark, union, threshold=threshold)
    comp = connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    losers = comp.where(F.col("entity") != F.col("component")).select(
        F.col("entity").alias("doc_id")
    )
    admitted = exact_ok.join(losers, "doc_id", "left_anti")
    n_admitted = admitted.count()

    report = {
        "n_new": n_new,
        "exact_dropped": n_new - n_exact_ok,
        "neardup_dropped": n_exact_ok - n_admitted,
        "n_admitted": n_admitted,
        "threshold": threshold,
    }
    return admitted, report
