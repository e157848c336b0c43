"""Single-node oracle for entity linking + canonicalization.

Independent (dict/loop/union-find) implementation of the semantics the
distributed stages express with joins and ``graph.connected_components``:

- linking (operators/link.py): per mention occurrence, candidates are the
  alias-dictionary rows whose ``alias`` equals the lowercased surface;
  best = argmax(link_score, tie -> max entity_id) where, with no embedding
  available, link_score = w_l * |tokens(alias) ∩ tokens(canonical)| /
  |tokens(alias)| (reference reranker shape, similarity.py:22-50).
  Mentions sharing (chunk_id, role, m_start) collapse to one output row.
- canonicalization (operators/canonicalize.py): union-find over the
  bipartite surface↔entity edges from both linked mentions and the alias
  dictionary; a component's representative is its minimum node id
  ("E…" ids sort below "S:…" surrogates).

These exist so the driver's DuckDB gate can check the Spark pipeline against
parquet produced by a genuinely different code path (tools/
make_kg_oracle_fixture.py); pytest separately pins that this oracle and the
Spark operators agree.
"""

from __future__ import annotations

import re
from typing import Any

from chatvector_ai_spark.config import RERANK_LEXICAL_WEIGHT, RERANK_RETRIEVAL_WEIGHT

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")

W_LEX = RERANK_LEXICAL_WEIGHT / (RERANK_RETRIEVAL_WEIGHT + RERANK_LEXICAL_WEIGHT)


def _tokens(s: str) -> list[str]:
    out, seen = [], set()
    for t in _TOKEN_SPLIT.split((s or "").lower()):
        if t and t not in seen:
            seen.add(t)
            out.append(t)
    return out


def lexical_overlap(query: str, text: str) -> float:
    q, t = _tokens(query), _tokens(text)
    if not q or not t:
        return 0.0
    return len(set(q) & set(t)) / len(q)


def link_mentions_oracle(
    mention_rows: list[dict[str, Any]], alias_rows: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Mention rows (doc_id, chunk_id, role, surface, m_start, m_end) →
    linked rows with entity_id / canonical / linked, one per distinct
    (chunk_id, role, m_start)."""
    by_alias: dict[str, list[dict[str, Any]]] = {}
    for r in alias_rows:
        by_alias.setdefault(r["alias"], []).append(r)

    best: dict[tuple, dict[str, Any]] = {}
    for m in mention_rows:
        key = (m["chunk_id"], m["role"], m["m_start"])
        if key in best:
            continue  # same surface/extent by construction; first occurrence wins
        surface_lc = m["surface"].lower()
        cands = by_alias.get(surface_lc, [])
        if cands:
            top = max(
                cands,
                key=lambda c: (W_LEX * lexical_overlap(c["alias"], c["canonical"]), c["entity_id"]),
            )
            entity_id, canonical, linked = top["entity_id"], top["canonical"], True
        else:
            entity_id, canonical, linked = f"S:{surface_lc}", m["surface"], False
        best[key] = {
            "doc_id": m["doc_id"],
            "chunk_id": m["chunk_id"],
            "role": m["role"],
            "surface": m["surface"],
            "m_start": m["m_start"],
            "m_end": m["m_end"],
            "entity_id": entity_id,
            "canonical": canonical,
            "linked": linked,
            "tenant_id": m.get("tenant_id"),
        }
    return list(best.values())


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        while self.parent.setdefault(x, x) != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra

    def representatives(self) -> dict[str, str]:
        """node → min id of its component."""
        comp_min: dict[str, str] = {}
        for node in self.parent:
            root = self.find(node)
            cur = comp_min.get(root)
            if cur is None or node < cur:
                comp_min[root] = node
        return {node: comp_min[self.find(node)] for node in self.parent}


def canonical_map_oracle(
    linked_rows: list[dict[str, Any]], alias_rows: list[dict[str, Any]]
) -> dict[str, str]:
    """entity_id → canonical representative (min node id of its component
    over surface↔entity edges; self-edges carry no connectivity)."""
    uf = UnionFind()
    for r in linked_rows:
        src = f"S:{r['surface'].lower()}"
        if src != r["entity_id"]:
            uf.union(src, r["entity_id"])
    for r in alias_rows:
        src = f"S:{r['alias']}"
        if src != r["entity_id"]:
            uf.union(src, r["entity_id"])
    reps = uf.representatives()
    return {n: rep for n, rep in reps.items() if not n.startswith("S:")}


def edges_oracle(
    triple_rows: list[dict[str, Any]],
    linked_rows: list[dict[str, Any]],
    alias_rows: list[dict[str, Any]],
) -> list[dict[str, Any]]:
    """Canonical edge rows — the single-node twin of
    pipeline.edges_from_linked: per triple, its subject/object mentions are
    resolved to canonical component representatives; one edge row per
    triple with predicate, provenance, and surface forms."""
    cmap = canonical_map_oracle(linked_rows, alias_rows)
    by_occurrence = {(r["chunk_id"], r["role"], r["m_start"]): r for r in linked_rows}
    edges: list[dict[str, Any]] = []
    for t in triple_rows:
        subj = by_occurrence[(t["chunk_id"], "subj", t["subj_start"])]
        obj = by_occurrence[(t["chunk_id"], "obj", t["obj_start"])]
        edges.append(
            {
                "src": cmap.get(subj["entity_id"], subj["entity_id"]),
                "rel": t["pred"],
                "dst": cmap.get(obj["entity_id"], obj["entity_id"]),
                "doc_id": t["doc_id"],
                "tenant_id": t["tenant_id"],
                "chunk_id": t["chunk_id"],
                "conf": t["conf"],
                "src_surface": subj["surface"],
                "dst_surface": obj["surface"],
            }
        )
    return edges


def nodes_oracle(
    linked_rows: list[dict[str, Any]], alias_rows: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Canonical node aggregate — the single-node twin of
    pipeline.nodes_from_linked: per canonical entity, mention count,
    provenance doc count, and min canonical surface as the label."""
    cmap = canonical_map_oracle(linked_rows, alias_rows)
    mentions: dict[str, int] = {}
    docs: dict[str, set] = {}
    label: dict[str, str] = {}
    for r in linked_rows:
        canon = cmap.get(r["entity_id"], r["entity_id"])
        mentions[canon] = mentions.get(canon, 0) + 1
        docs.setdefault(canon, set()).add(r["doc_id"])
        cur = label.get(canon)
        if cur is None or r["canonical"] < cur:
            label[canon] = r["canonical"]
    return [
        {
            "canonical_entity": e,
            "n_mentions": mentions[e],
            "n_docs": len(docs[e]),
            "label": label[e],
        }
        for e in sorted(mentions)
    ]


def canonical_entities_oracle(
    linked_rows: list[dict[str, Any]],
    alias_rows: list[dict[str, Any]],
    top_n: int = 10,
) -> list[dict[str, Any]]:
    """Top canonical entities by mention count with provenance doc counts —
    the single-node twin of suite.kg_canonical_entities."""
    cmap = canonical_map_oracle(linked_rows, alias_rows)
    mentions: dict[str, int] = {}
    docs: dict[str, set] = {}
    for r in linked_rows:
        canon = cmap.get(r["entity_id"], r["entity_id"])
        mentions[canon] = mentions.get(canon, 0) + 1
        docs.setdefault(canon, set()).add(r["doc_id"])
    ranked = sorted(mentions, key=lambda e: (-mentions[e], e))[:top_n]
    return [
        {"canonical_entity": e, "n_mentions": mentions[e], "n_docs": len(docs[e])}
        for e in ranked
    ]
