"""Distributed operator stages (see COVERAGE.md for the SURVEY §2 map)."""

from chatvector_ai_spark.operators.canonicalize import (  # noqa: F401
    canonical_map,
    linking_edges,
)
from chatvector_ai_spark.operators.dedup import (  # noqa: F401
    dedup_corpus,
    near_dup_pairs,
)
from chatvector_ai_spark.operators.extract import (  # noqa: F401
    extract_triples_df,
    good_triples,
    quarantine_df,
)
from chatvector_ai_spark.operators.embedcluster import (  # noqa: F401
    ivf_topk,
    kmeans_assign,
    kmeans_centroids,
)
from chatvector_ai_spark.operators.graph import (  # noqa: F401
    connected_components,
    cooccurring_entities,
    degrees,
    ego_edges,
    eval_path,
    khop,
    parse_path,
    relation_counts,
)
from chatvector_ai_spark.operators.delete import delete_documents  # noqa: F401
from chatvector_ai_spark.operators.ingest import ingest_chunks  # noqa: F401
from chatvector_ai_spark.operators.link import (  # noqa: F401
    link_mentions,
    mentions_from_triples,
)
from chatvector_ai_spark.operators.multimodal import (  # noqa: F401
    decode_media,
    fetch_payloads,
    media_spans,
    validate_media,
)
from chatvector_ai_spark.operators.querytransform import (  # noqa: F401
    expand,
    resolve_with_history,
    rewrite,
    stepback,
    transform_queries,
)
from chatvector_ai_spark.operators.retrieval import (  # noqa: F401
    context_prefix,
    first_wins_dedup,
    hybrid_search,
    keyword_topk,
    rerank,
    rrf_fuse,
    vector_topk,
)
