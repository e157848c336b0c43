"""Engine configuration constants.

Defaults mirror the reference's pinned constants so outputs are comparable:
- CHUNK_SIZE / CHUNK_OVERLAP: /root/reference/backend/core/config.py:130-131
- RRF_K: /root/reference/backend/services/retrieval_service.py:19
- rerank weights: /root/reference/backend/services/reranker/similarity.py:45-50
- MAX_CONTEXT_CHARS: /root/reference/backend/services/context_service.py:8
- candidate widening factor: /root/reference/backend/db/sqlalchemy_service.py:562
"""

from __future__ import annotations

import os

# --- chunking -------------------------------------------------------------
CHUNK_SIZE = int(os.getenv("CVS_CHUNK_SIZE", "1000"))
CHUNK_OVERLAP = int(os.getenv("CVS_CHUNK_OVERLAP", "200"))
CHUNKING_STRATEGY = os.getenv("CVS_CHUNKING_STRATEGY", "fixed")  # fixed|paragraph|semantic

# --- embeddings -----------------------------------------------------------
# Deterministic hash-embedding dimension (reference resolves the dim per
# provider model, backend/core/config.py:258-281; we pin a small test dim).
EMBEDDING_DIM = int(os.getenv("CVS_EMBEDDING_DIM", "64"))

# --- retrieval / fusion / rerank -------------------------------------------
RRF_K = 60
CANDIDATE_WIDENING = 2  # candidate_limit = match_count * 2
RERANK_RETRIEVAL_WEIGHT = 0.7
RERANK_LEXICAL_WEIGHT = 0.3
MAX_CONTEXT_CHARS = int(os.getenv("CVS_MAX_CONTEXT_CHARS", "32000"))

# --- spark tuning ----------------------------------------------------------
SHUFFLE_PARTITIONS = int(os.getenv("CVS_SHUFFLE_PARTITIONS", "32"))
ARROW_MAX_RECORDS_PER_BATCH = int(os.getenv("CVS_ARROW_BATCH", "8192"))

# --- graph size gate ---------------------------------------------------------
# Broadcast-scale graphs: an edge set at or below this size is solved on the
# driver instead of by an iterative shuffle loop — a join loop over a graph
# this small is pure scheduler latency (measured ~10 s flat regardless of
# core count). It gates graph.connected_components (driver union-find over
# the distinct undirected pairs; canonicalization, dedup and the component
# queries all run on it) and graph.pagerank (the integer recurrence in plain
# Python over the distinct directed edges); both read it at call time.
# 0 disables the shortcut.
CC_SMALL_CORE_EDGES = int(os.getenv("CVS_CC_SMALL_CORE_EDGES", "200000"))

# --- graph materialization ---------------------------------------------------
N_BUCKETS = int(os.getenv("CVS_N_BUCKETS", "16"))
# Write tasks (and file groups) per bucket: decouples write parallelism
# from the bucket count. The default scales with the session's cores so a
# commit is never bottlenecked on N_BUCKETS write tasks (the round-4 bench
# lost ~40% of pipeline wall time to exactly that: 16 tasks on 32 cores,
# with parquet MemoryManager row-group backpressure on the oversized
# per-task writes). Bucket-pruned reads still prune — files multiply
# WITHIN a bucket directory. At 100 TB the same rule keeps per-file size
# near target; override with CVS_FILES_PER_BUCKET to pin a layout.
# 2× core oversubscription of write tasks (N_BUCKETS × FILES_PER_BUCKET)
# evens out straggler tasks; the driver's own round-4 A/B measured the
# pipeline at 11.1 s with 4 files/bucket vs 19.1 s at 1 on 32 cores.
_CPUS = int(os.getenv("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
FILES_PER_BUCKET = int(
    os.getenv("CVS_FILES_PER_BUCKET", str(max(1, min(8, 2 * _CPUS // N_BUCKETS))))
)

# --- warehouse (snapshot/lineage store) -------------------------------------
WAREHOUSE_DIR = os.getenv("CVS_WAREHOUSE", "/tmp/cvs_warehouse")
