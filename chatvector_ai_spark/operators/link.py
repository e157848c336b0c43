"""Stage 3 — entity linking: mention surfaces vs broadcast alias dictionary.

The new KG join (SURVEY.md §2.4 J8): mentions from extracted triples are
equi-joined to the alias dictionary on the lowercased surface form with an
explicit ``broadcast()`` hint (the dictionary is the small dimension), then
disambiguated with the reference reranker's combined-score shape
(similarity.py:45-50): 0.7 · cosine(chunk_embedding, alias_embedding)
+ 0.3 · lexical_overlap(surface, canonical), top-1 per mention via an
array_max over the alias's candidate array (ties resolve to the greatest
entity_id) — all JVM-side expressions, no Python in this stage.

There is one embedding path: the chunk embedding arrives on the mention
rows themselves. Extract recomputes it only on triples whose subject or
object is an ambiguous alias (``extract_triples_df(embed_if_surface_in=)``)
and leaves it NULL elsewhere, so this stage reads no chunk table and every
other mention scores lexically.

Unmatched surfaces get a deterministic surrogate node id ("S:<surface>") so
canonicalization can still cluster repeated unknown entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatvector_ai_spark.config import RERANK_LEXICAL_WEIGHT, RERANK_RETRIEVAL_WEIGHT
from chatvector_ai_spark.functions.vectors import dot, lexical_overlap, tokens


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Explode each triple into its subject and object mention occurrences.

    Each mention row carries ``triple_id`` (hash of the triple's identity
    within its chunk) plus the triple payload (pred, conf), so the edge
    table can be rebuilt with ONE groupBy(triple_id) pivot instead of
    joining triples↔mentions twice (SURVEY §2.4 J7: same-row computation
    beats a join).
    """
    base = ["doc_id", "chunk_id", "chunk_index", "triple_id", "pred", "conf"]
    if "tenant_id" in triples.columns:
        base.append("tenant_id")
    emb = ["embedding"] if "embedding" in triples.columns else []
    with_id = triples.withColumn(
        "triple_id",
        F.xxhash64("chunk_id", "subj_start", "obj_start", "pred"),
    )
    subj = with_id.select(
        *base,
        F.lit("subj").alias("role"),
        F.col("subj").alias("surface"),
        F.col("subj_start").alias("m_start"),
        F.col("subj_end").alias("m_end"),
        *emb,
    )
    obj = with_id.select(
        *base,
        F.lit("obj").alias("role"),
        F.col("obj").alias("surface"),
        F.col("obj_start").alias("m_start"),
        F.col("obj_end").alias("m_end"),
        *emb,
    )
    return subj.unionByName(obj)


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Best-entity assignment per mention occurrence.

    Output: mention columns + entity_id, canonical, link_score, linked(bool).

    Embedding strategy (the 100 TB concern): the embedding term only
    matters where it can change a decision — mentions whose surface matches
    an AMBIGUOUS alias (≥2 candidate entities). ``mentions`` carries the
    chunk embedding only there: extract's ``embed_if_surface_in`` puts it
    on just those triples, NULL elsewhere, so mention tables never carry a
    dense vector column. A row with an embedding gets the combined score;
    a row without one scores lexically. With no ``embedding`` column every
    row scores lexically. Hash embeddings are L2-normalized at creation
    (oracle/hashembed.py), so the cosine term is a single dot-product fold.
    """
    emb = F.col("embedding") if "embedding" in mentions.columns else None

    # The lexical term |tokens(surface) ∩ tokens(canonical)| / |tokens(surface)|
    # depends only on (alias, canonical): the equi-join key IS lower(surface),
    # and tokens() lowercases, so tokens(surface) ≡ tokens(alias). Computing
    # it once per dictionary row (thousands) instead of once per mention
    # (billions at scale) removes every per-mention regex/array operation.
    #
    # Disambiguation is MAP-SIDE: the dictionary is pre-aggregated per alias
    # into a candidate array, so the mention join is 1:1 (no fan-out) and
    # argmax(link_score, tie → max entity_id) is an `array_max` over a
    # `transform`-scored array — the whole stage is a narrow projection
    # after one broadcast join. The previous shape (explode candidates →
    # groupBy(chunk_id, role, m_start) struct-max) shuffled every mention
    # on a near-unique key and anti-scaled with executor threads; it also
    # collapsed any two triples sharing a mention offset, which would have
    # starved the edge pivot of one role row. Mention occurrences are kept
    # 1:1 here (the extractor emits at most one triple per sentence
    # predicate occurrence, so occurrence keys are unique in practice).
    dict_prepped = alias_dict.withColumn(
        "_alias_lex", lexical_overlap(tokens("alias"), tokens("canonical"))
    )
    dict_agg = dict_prepped.groupBy("alias").agg(
        F.collect_list(
            F.struct("entity_id", "canonical", "alias_embedding", "_alias_lex")
        ).alias("_cands")
    )
    cand = mentions.withColumn("surface_lc", F.lower(F.col("surface"))).join(
        F.broadcast(dict_agg),
        F.col("surface_lc") == F.col("alias"),
        "left",
    ).drop("alias")

    w_r = RERANK_RETRIEVAL_WEIGHT / (RERANK_RETRIEVAL_WEIGHT + RERANK_LEXICAL_WEIGHT)
    w_l = RERANK_LEXICAL_WEIGHT / (RERANK_RETRIEVAL_WEIGHT + RERANK_LEXICAL_WEIGHT)

    def scored(c):
        # argmax key (coalesce(score, -1), entity_id): the ordering of the
        # old groupBy struct-max; a NULL embedding adds nothing to the score
        s = F.lit(w_l) * c["_alias_lex"]
        if emb is not None:
            s = F.lit(w_r) * F.coalesce(dot(emb, c["alias_embedding"]), F.lit(0.0)) + s
        return F.struct(
            F.coalesce(s, F.lit(-1.0)).alias("_s0"),
            c["entity_id"].alias("_e"),
            s.alias("_s"),
            c["canonical"].alias("_c"),
        )

    cand = cand.withColumn("_b", F.array_max(F.transform(F.col("_cands"), scored))).drop(
        "embedding"
    )

    return (
        cand.withColumn("link_score", F.col("_b._s"))
        .withColumn("linked", F.col("_b._e").isNotNull())
        .withColumn(
            "entity_id",
            F.coalesce(F.col("_b._e"), F.concat(F.lit("S:"), F.col("surface_lc"))),
        )
        .withColumn("canonical", F.coalesce(F.col("_b._c"), F.col("surface")))
        .drop("_cands", "_b", "surface_lc")
    )
