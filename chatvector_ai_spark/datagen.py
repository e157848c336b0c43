"""Deterministic synthetic data: interleaved documents + alias dictionary.

BASELINE.json `input_hint` fixes the input shape:
    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)
No driver-provided table has this shape, so we synthesize it — every row is a
pure function of (seed, doc_id) via SHA-256 counters, so the single-node
oracle, pytest, DuckDB and a 1000-executor Spark job all derive byte-identical
inputs with zero data movement (generation happens inside mapInPandas on
`spark.range`, i.e. it scales linearly with executors).

Generator properties (FIXTURES.md §1):
- text spans exercise every cleaning/chunking path: markdown headings,
  multi-paragraph blocks, dirty text (ligatures, NBSP, control chars, bullets,
  soft hyphens + "-\\n" wraps, fullwidth digits), long sentences > CHUNK_SIZE,
  and sentence runs;
- SVO fact sentences embed alias-dictionary surfaces so expected triples are
  closed-form;
- media spans (image/table/audio) interleave with probability ~media_ratio and
  must survive the pipeline in exact (kind, text, media_ref, offset) order;
- ~1% of docs are "hub" docs referencing hot entities that appear in ~30% of
  all docs — the mention-multiplicity skew canonicalization collapses.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from chatvector_ai_spark.oracle.hashembed import embed_text
from chatvector_ai_spark.oracle.svo import PREDICATES

SEED = 42
N_ENTITIES = 5000
N_HUB_ENTITIES = 50
MEDIA_RATIO = 0.2
N_TENANTS = 8

_ADJECTIVES = (
    "Quantum Stellar Crimson Golden Silver Arctic Solar Lunar Emerald Cobalt "
    "Radiant Velvet Obsidian Amber Ivory Scarlet Azure Onyx Copper Platinum"
).split()
_NOUNS = (
    "Dynamics Systems Holdings Industries Ventures Analytics Robotics Networks "
    "Biotech Capital Logistics Energy Aerospace Materials Devices Semiconductors "
    "Pharma Instruments Foundry Labs"
).split()
_PERSON_FIRST = (
    "Ada Alan Grace Edsger Barbara Donald Edith Leslie Margaret Dennis "
    "Radia Vint Tim Frances John Katherine Claude Hedy Annie Guido"
).split()
_PERSON_LAST = (
    "Lovelace Turing Hopper Dijkstra Liskov Knuth Clarke Lamport Hamilton "
    "Ritchie Perlman Cerf Berners-Lee Allen Backus Johnson Shannon Lamarr "
    "Easley Rossum"
).split()

_PRED_SURFACES: tuple[tuple[str, str], ...] = tuple(
    (pred, phrases[0]) for pred, phrases in sorted(PREDICATES.items())
)

_MEDIA_KINDS = ("image", "table", "audio")
_MEDIA_EXT = {"image": "png", "table": "csv", "audio": "wav"}

_FILLER_SENTENCES = (
    "The quarterly outlook remains broadly unchanged despite volatility.",
    "Regional demand patterns continued to shift throughout the period.",
    "Operating margins improved on the back of supply normalization.",
    "Customer retention metrics held steady across all cohorts.",
    "The committee reviewed the proposal and deferred a decision.",
)

_DIRTY_FRAGMENTS = (
    "The ﬁnal ﬂow is eﬃcient.",          # ligatures
    "price list update",          # NBSP
    "control\x00\x01chars\x07here",          # control chars
    "● first • second ▪ third",              # bullets
    "hyphen-\nated line wrap",               # rejoin path
    "co­operate smoothly",              # soft hyphen
    "figures １２３ and ４５",                # fullwidth digits
)


def _h(*parts: object) -> int:
    """Deterministic 64-bit counter: sha256 of the joined key parts."""
    key = ":".join(str(p) for p in parts).encode("utf-8")
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "big")


# --------------------------------------------------------------------------
# alias dictionary (broadcast dimension, FIXTURES.md §3)
# --------------------------------------------------------------------------


def canonical_name(entity_idx: int) -> str:
    """Unique, mention-detectable display name.

    The "-{idx}" suffix guarantees uniqueness across any n_entities and stays
    inside a single capitalized token (digit-leading tokens would split the
    mention run), so surface == detected mention == closed-form expectation.
    """
    if entity_idx % 5 == 0:
        f = _PERSON_FIRST[_h(SEED, "pf", entity_idx) % len(_PERSON_FIRST)]
        last = _PERSON_LAST[_h(SEED, "pl", entity_idx) % len(_PERSON_LAST)]
        return f"{f} {last}-{entity_idx}"
    a = _ADJECTIVES[_h(SEED, "a", entity_idx) % len(_ADJECTIVES)]
    n = _NOUNS[_h(SEED, "n", entity_idx) % len(_NOUNS)]
    return f"{a} {n}-{entity_idx}"


def entity_id(entity_idx: int) -> str:
    return "E%06d" % entity_idx


def alias_rows(n_entities: int = N_ENTITIES) -> list[dict]:
    """alias_dict rows: 1-4 aliases per entity, ~1% deliberately ambiguous."""
    rows: list[dict] = []
    seen: set[tuple[str, str]] = set()

    def add(alias: str, idx: int) -> None:
        alias = alias.lower().strip()
        key = (alias, entity_id(idx))
        if alias and key not in seen:
            seen.add(key)
            rows.append(
                {
                    "alias": alias,
                    "entity_id": entity_id(idx),
                    "canonical": canonical_name(idx),
                    "alias_embedding": embed_text(canonical_name(idx)),
                }
            )

    for i in range(n_entities):
        canon = canonical_name(i)
        add(canon, i)
        parts = canon.split()
        n_extra = _h(SEED, "na", i) % 3  # 0..2 extra aliases
        if n_extra >= 1 and len(parts) >= 2:
            add(" ".join(parts[:2]), i)            # short form
        if n_extra >= 2:
            add("".join(p[0] for p in parts if p[0].isalpha()) + f"-{i % 89}", i)  # acronym-ish
        if i % 97 == 0 and i + 1 < n_entities:
            add(canon, i + 1)                       # ambiguous: same alias, 2nd entity
    return rows


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Span:
    kind: str
    text: str
    media_ref: str
    offset: int


def _pick_entity(doc_idx: int, slot: int, n_entities: int) -> int:
    """Hub-skewed entity pick: ~30% of references hit the first 50 entities."""
    r = _h(SEED, "epick", doc_idx, slot)
    if r % 100 < 30:
        return r % min(N_HUB_ENTITIES, n_entities)
    return r % n_entities


def fact_sentence(doc_idx: int, fact_idx: int, n_entities: int) -> tuple[str, tuple[str, str, str]]:
    """An SVO sentence plus its expected (subj_surface, pred, obj_surface)."""
    si = _pick_entity(doc_idx, 2 * fact_idx, n_entities)
    oi = _pick_entity(doc_idx, 2 * fact_idx + 1, n_entities)
    if oi == si:
        oi = (oi + 1) % n_entities
    pred, phrase = _PRED_SURFACES[_h(SEED, "pred", doc_idx, fact_idx) % len(_PRED_SURFACES)]
    subj, obj = canonical_name(si), canonical_name(oi)
    year = 1990 + _h(SEED, "yr", doc_idx, fact_idx) % 36
    variant = _h(SEED, "var", doc_idx, fact_idx) % 3
    if variant == 0:
        sentence = f"{subj} {phrase} {obj}."
    elif variant == 1:
        sentence = f"{subj} {phrase} {obj} in {year}."
    else:
        sentence = f"According to filings, {subj} {phrase} {obj}."
    return sentence, (subj, pred, obj)


def doc_text_spans(doc_idx: int, n_entities: int = N_ENTITIES) -> list[str]:
    """The ordered text payloads of one document (pre-interleaving)."""
    texts: list[str] = []
    n_sections = 1 + _h(SEED, "ns", doc_idx) % 3
    for s in range(n_sections):
        # ~1/3 of sections have no markdown heading, so the paragraph and
        # semantic strategies see real body-led blocks (a heading-led span
        # flattens to a single heading-only line that chunks to nothing —
        # the reference-parity quirk documented in the verify recipe).
        if _h(SEED, "hd", doc_idx, s) % 3 == 2:
            parts = []
        else:
            parts = [f"# Section {s + 1} of Document {doc_idx}\n"]
        n_facts = 1 + _h(SEED, "nf", doc_idx, s) % 4
        for f_i in range(n_facts):
            sentence, _ = fact_sentence(doc_idx, s * 10 + f_i, n_entities)
            filler = _FILLER_SENTENCES[_h(SEED, "fill", doc_idx, s, f_i) % len(_FILLER_SENTENCES)]
            parts.append(f"\n{sentence} {filler}\n")
        if _h(SEED, "dirty", doc_idx, s) % 4 == 0:
            parts.append("\n" + _DIRTY_FRAGMENTS[_h(SEED, "df", doc_idx, s) % len(_DIRTY_FRAGMENTS)] + "\n")
        if _h(SEED, "long", doc_idx, s) % 10 == 0:
            run = " ".join(
                _FILLER_SENTENCES[_h(SEED, "runf", doc_idx, s, j) % len(_FILLER_SENTENCES)].rstrip(".")
                for j in range(25)
            )
            parts.append(f"\n{run}.\n")  # one sentence > CHUNK_SIZE
        texts.append("".join(parts))
    return texts


def doc_spans(doc_idx: int, n_entities: int = N_ENTITIES, media_ratio: float = MEDIA_RATIO) -> list[Span]:
    """Interleaved spans of one document; offsets strictly increasing."""
    spans: list[Span] = []
    cursor = 0
    media_seq = 0
    for j, text in enumerate(doc_text_spans(doc_idx, n_entities)):
        if _h(SEED, "m", doc_idx, j) % 1000 < int(media_ratio * 1000):
            kind = _MEDIA_KINDS[_h(SEED, "mk", doc_idx, j) % len(_MEDIA_KINDS)]
            ref = f"s3://media/doc-{doc_idx:08d}/{media_seq}.{_MEDIA_EXT[kind]}"
            spans.append(Span(kind=kind, text="", media_ref=ref, offset=cursor))
            media_seq += 1
            cursor += 1
        spans.append(Span(kind="text", text=text, media_ref="", offset=cursor))
        cursor += len(text) + 1
    if _h(SEED, "mtail", doc_idx) % 1000 < int(media_ratio * 500):
        kind = _MEDIA_KINDS[_h(SEED, "mtk", doc_idx) % len(_MEDIA_KINDS)]
        spans.append(
            Span(kind=kind, text="", media_ref=f"s3://media/doc-{doc_idx:08d}/{media_seq}.{_MEDIA_EXT[kind]}", offset=cursor)
        )
    return spans


def doc_id_of(doc_idx: int) -> str:
    return "doc-%08d" % doc_idx


def tenant_of(doc_idx: int) -> str:
    """Deterministic tenant assignment — the reference tenant-scopes every
    document (/root/reference/backend/db/init/005_api_keys.sql:27,
    tenant_scope.py:1-10); the synthetic corpus mirrors that with a
    hash-uniform tenant per document."""
    return "T%02d" % (_h(SEED, "tenant", doc_idx) % N_TENANTS)


def doc_row(doc_idx: int, n_entities: int = N_ENTITIES, media_ratio: float = MEDIA_RATIO) -> dict:
    return {
        "doc_id": doc_id_of(doc_idx),
        "spans": [
            {"kind": s.kind, "text": s.text, "media_ref": s.media_ref, "offset": s.offset}
            for s in doc_spans(doc_idx, n_entities, media_ratio)
        ],
        "tenant_id": tenant_of(doc_idx),
    }


def expected_triples(doc_idx: int, n_entities: int = N_ENTITIES) -> list[tuple[str, str, str]]:
    """Closed-form (subj_surface, pred, obj_surface) facts seeded into a doc."""
    out: list[tuple[str, str, str]] = []
    n_sections = 1 + _h(SEED, "ns", doc_idx) % 3
    for s in range(n_sections):
        n_facts = 1 + _h(SEED, "nf", doc_idx, s) % 4
        for f_i in range(n_facts):
            _, triple = fact_sentence(doc_idx, s * 10 + f_i, n_entities)
            out.append(triple)
    return out


# --------------------------------------------------------------------------
# Spark-side distributed generation
# --------------------------------------------------------------------------

SPANS_SCHEMA_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# BASELINE.json input_hint pins (doc_id, spans); tenant_id is additional
# document metadata mirroring the reference's tenant column on documents
# (005_api_keys.sql:27) and is optional everywhere downstream.
DOCS_SCHEMA_DDL = SPANS_SCHEMA_DDL + ", tenant_id string"

ALIAS_SCHEMA_DDL = (
    "alias string, entity_id string, canonical string, alias_embedding array<float>"
)


def documents_df(spark, n_docs: int, n_entities: int = N_ENTITIES, media_ratio: float = MEDIA_RATIO, partitions: int | None = None):
    """Distributed generation: spark.range → mapInPandas(pure row fn).

    No driver-side materialization; at 10^12 docs this is an embarrassingly
    parallel narrow stage whose cost scales with executors.
    """
    import pandas as pd

    n_parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = [doc_row(int(i), n_entities, media_ratio) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n_docs, numPartitions=n_parts).mapInPandas(gen, schema=DOCS_SCHEMA_DDL)


def alias_df(spark, n_entities: int = N_ENTITIES):
    """Alias dictionary as a (small, broadcastable) DataFrame: a JVM
    ``LocalRelation`` built through Arrow (``session.local_frame``)."""
    from chatvector_ai_spark.session import local_frame

    return local_frame(spark, alias_rows(n_entities), ALIAS_SCHEMA_DDL)
