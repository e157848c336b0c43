"""Operator query suite: Spark queries + DuckDB oracle twins.

Every SQL-expressible operator from SURVEY.md §2 (joins J1-J4, aggregations
A1/A3/A4, top-k T1/T2/T4/T7, set-ops U1/U4, scoring W1/W4/W5) plus the
training-data-pipeline operators (dedup exact/minhash-LSH/simhash/Jaccard/
embedding-cosine, ANN, language-ID, quality scoring, token counting,
fingerprinting) is expressed twice:

- ``SPARK_SQL[name]`` — Spark SQL over temp views of the sf-dir parquet;
- ``DUCK_SQL[name]``  — the ANSI/DuckDB twin the driver runs as the oracle.

Design rules that make the two engines hash-identical:

- **No float accumulation across rows.** Money/value sums are per-row
  quantized to integer cents (``CAST(floor(x*100 + 0.5) AS BIGINT)``) before
  summing, so partial-aggregation order (Spark) vs sequential order (DuckDB)
  cannot flip a bit. Rankings order by the quantized integers.
- **Per-row float math only**, where both engines execute the identical IEEE
  double expression (e.g. cosine over the same array), then ``round(x, 6)``.
- **Total tiebreaks** on every window/top-k (unique key last in ORDER BY).
- **Dialect pairs** kept textually parallel: size/len, filter/list_filter,
  transform/list_transform, array_*/list_*, sequence/generate_series,
  conv(h,16,10)/CAST('0x'||h AS BIGINT); DuckDB regexp_replace gets the 'g'
  flag Spark applies implicitly.

KG-pipeline queries (prefix ``kg_``) run over the deterministic synthesized
interleaved-document table (datagen.py); their DuckDB twins select from
committed parquet produced by the single-node oracle without Spark
(tools/make_kg_oracle_fixture.py), so the driver value-hash-checks the
flagship KG path like every other query. Parity between that oracle and the
Spark operators is additionally pinned by pytest (tests/test_spark_ingest.py,
tests/test_kg_oracle_fixture.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from chatvector_ai_spark.functions.text import MINHASH_P as _MINHASH_P
from chatvector_ai_spark.functions.text import minhash_ab as _minhash_ab

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# --- dialect helpers (kept as format fragments) ----------------------------

# tokenization: lowercase, split on non-alphanumeric runs, drop empties
_SPARK_TOK = "filter(split(lower({c}), '[^a-z0-9]+'), x -> x != '')"
_DUCK_TOK = "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'), x -> x != '')"

# integer-cents quantization of a per-row double expression
_CENTS = "CAST(floor(({x}) * 100.0 + 0.5) AS BIGINT)"

_QUERY_TEXT = "table scan fast query join filter sort window"

SPARK_SQL: dict[str, str] = {}
DUCK_SQL: dict[str, str] = {}


def _q(name: str, spark_sql: str, duck_sql: str | None = None) -> None:
    SPARK_SQL[name] = spark_sql
    DUCK_SQL[name] = duck_sql if duck_sql is not None else spark_sql


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4)
# ---------------------------------------------------------------------------

# J1 — chunk→document provenance equi-join (sqlalchemy_service.py:489-492):
# fact join dim join dim, revenue aggregated in integer cents.
_q(
    "j1_provenance_join",
    f"""
    SELECT o.o_orderkey, c.c_name,
           count(*) AS n_items,
           CAST(sum({_CENTS.format(x="l.l_extendedprice * (1.0 - l.l_discount)")}) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderkey, c.c_name
    """,
)

# J2 — tenant-scope semi-join (retrieval_service.py:91-100)
_q(
    "j2_semi_join_scope",
    f"""
    SELECT l.l_returnflag,
           count(*) AS n_rows,
           CAST(sum({_CENTS.format(x="l.l_quantity")}) AS BIGINT) AS qty_cents
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 250000.0)
    GROUP BY l.l_returnflag
    """,
)

# J3 — isolation anti-join (retrieval_service.py:103-116): customers with no
# very-large order.
_q(
    "j3_anti_join_isolation",
    """
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
    GROUP BY c.c_mktsegment
    """,
)

# J4 — scope-resolution semi-join chain (retrieval_service.py:51-88)
_q(
    "j4_scope_chain",
    f"""
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(sum({_CENTS.format(x="o.o_totalprice")}) AS BIGINT) AS total_cents
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE c.c_custkey = o.o_custkey
          AND c.c_mktsegment = 'BUILDING' AND r.r_name = 'ASIA')
    GROUP BY o.o_orderpriority
    """,
)

# J5 — session↔document lookup (chat context fetch,
# /root/reference/backend/services/chat_service.py: per-session latest
# message resolves the documents it references): latest event per user
# (bounded per-user window) → point equi-join into the documents dim.
_q(
    "j5_session_doc_lookup",
    """
    WITH last_ev AS (
        SELECT user_id, event_id FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE user_id % 20 = 0) t
        WHERE rn = 1
    )
    SELECT le.user_id, le.event_id, d.doc_id, d.lang, d.source
    FROM last_ev le
    JOIN documents d ON d.doc_id = le.event_id % 211
    """,
)

# J6 — ownership-existence gate (the reference checks the session's tenant
# owns a document before serving it, sqlalchemy_service.py:489-492 +
# tenant_scope.py): per-customer boolean computed from a grouped existence
# probe, not a fan-out join.
_q(
    "j6_ownership_exists",
    """
    SELECT c.c_custkey,
           CASE WHEN o.n IS NULL THEN false ELSE true END AS owns_large
    FROM customer c
    LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders
               WHERE o_totalprice > 300000.0 GROUP BY o_custkey) o
      ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey <= 500
    """,
)

# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------

# A1 — per-parent child counts (ingestion progress {"total","processed"})
_q(
    "a1_chunk_counts",
    """
    SELECT l_orderkey AS o_orderkey, count(*) AS n_lines, max(l_linenumber) AS max_line
    FROM lineitem GROUP BY l_orderkey
    """,
)

# A4 — status counts (routes/chat.py:224-231)
_q(
    "a4_status_counts",
    "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
)

# A3/W3/U3 — reciprocal-rank fusion of two ranked candidate lists, k=60
# (retrieval_service.py:119-152). List 1: users by purchase cents; list 2:
# users by event count. rrf from integer ranks is bit-identical both engines.
#
# Scale shape: the reference fuses bounded RETRIEVAL lists, so each list is
# pre-narrowed to the top-100 (2× the final 50, the reference's candidate
# widening) with ORDER BY … LIMIT — Spark's TakeOrderedAndProject, fully
# distributed. Ranks within a bounded list come from a join-count (1 + how
# many candidates sort strictly above me), never from an unpartitioned
# row_number() window that would drag the whole table to one partition.
_RRF_BODY = f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN {_CENTS.format(x="value")} ELSE 0 END) AS BIGINT) AS purchase_cents,
               count(*) AS n_events
        FROM events GROUP BY user_id
    ),
    cand1 AS (SELECT user_id, purchase_cents FROM per_user
              ORDER BY purchase_cents DESC, user_id LIMIT 100),
    cand2 AS (SELECT user_id, n_events FROM per_user
              ORDER BY n_events DESC, user_id LIMIT 100),
    r1 AS (SELECT a.user_id, 1 + count(b.user_id) AS rnk
           FROM cand1 a LEFT JOIN cand1 b
             ON b.purchase_cents > a.purchase_cents
             OR (b.purchase_cents = a.purchase_cents AND b.user_id < a.user_id)
           GROUP BY a.user_id),
    r2 AS (SELECT a.user_id, 1 + count(b.user_id) AS rnk
           FROM cand2 a LEFT JOIN cand2 b
             ON b.n_events > a.n_events
             OR (b.n_events = a.n_events AND b.user_id < a.user_id)
           GROUP BY a.user_id),
    fused AS (SELECT COALESCE(r1.user_id, r2.user_id) AS user_id,
                     r1.rnk AS rnk1, r2.rnk AS rnk2
              FROM r1 FULL OUTER JOIN r2 ON r1.user_id = r2.user_id)
    SELECT user_id,
           round(COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rnk1 AS DOUBLE), 0.0)
                 + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rnk2 AS DOUBLE), 0.0), 6) AS rrf_score,
           CAST(rnk1 AS BIGINT) AS vector_rank, CAST(rnk2 AS BIGINT) AS keyword_rank
    FROM fused
    ORDER BY COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rnk1 AS DOUBLE), 0.0)
             + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rnk2 AS DOUBLE), 0.0) DESC, user_id
    LIMIT 50
"""
_q("a3_rrf_fusion", _RRF_BODY)

# ---------------------------------------------------------------------------
# Top-k / sorts (SURVEY §2.6)
# ---------------------------------------------------------------------------

# T1 — per-group top-k (vector top-k per document, sqlalchemy_service.py:479-506)
_q(
    "t1_topk_per_group",
    """
    SELECT p_brand, p_partkey, CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_cents, CAST(rk AS BIGINT) AS rk
    FROM (SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
          FROM part) t
    WHERE rk <= 2
    """,
)

# T2 — keyword top-k via token overlap (ts_rank analog, sqlalchemy_service.py:508-543)
_q(
    "t2_keyword_topk",
    f"""
    SELECT doc_id,
           CAST(size(array_intersect(array_distinct({_SPARK_TOK.format(c="text")}),
                                array_distinct({_SPARK_TOK.format(c="'{_QUERY_TEXT}'")}))) AS BIGINT) AS overlap
    FROM documents
    ORDER BY overlap DESC, doc_id
    LIMIT 20
    """.replace("{_QUERY_TEXT}", _QUERY_TEXT),
    f"""
    SELECT doc_id,
           len(list_intersect(list_distinct({_DUCK_TOK.format(c="text")}),
                              list_distinct({_DUCK_TOK.format(c="'{_QUERY_TEXT}'")}))) AS overlap
    FROM documents
    ORDER BY overlap DESC, doc_id
    LIMIT 20
    """.replace("{_QUERY_TEXT}", _QUERY_TEXT),
)

# T7 — greedy context budget via running sum (context_service.py:48-80,
# MAX_CONTEXT_CHARS=32000). The reference budgets a bounded retrieval
# candidate list, so pre-narrow to the top-200 candidates (TakeOrdered,
# distributed) and compute the prefix sum with a join-aggregate over that
# bounded set — no unpartitioned running-sum window. 200 is ≥ 3× the
# observed prefix length; a larger corpus only makes the largest docs
# larger, shrinking the prefix.
_q(
    "t7_context_budget",
    """
    WITH cand AS (SELECT doc_id, n_chars FROM documents
                  ORDER BY n_chars DESC, doc_id LIMIT 200),
    cum AS (SELECT a.doc_id, a.n_chars, sum(b.n_chars) AS cum_chars
            FROM cand a JOIN cand b
              ON b.n_chars > a.n_chars
              OR (b.n_chars = a.n_chars AND b.doc_id <= a.doc_id)
            GROUP BY a.doc_id, a.n_chars)
    SELECT doc_id, n_chars, CAST(cum_chars AS BIGINT) AS cum_chars
    FROM cum WHERE cum_chars <= 32000
    """,
)

# ---------------------------------------------------------------------------
# Set ops / dedup (SURVEY §2.7)
# ---------------------------------------------------------------------------

# U1 — multi-query union + first-wins dedup (chat_service.py:329-344).
# Each per-query list is a bounded top-100 (TakeOrdered) ranked by
# join-count; the only window left is PARTITION BY doc_id (tiny groups).
_q(
    "u1_union_first_wins",
    """
    WITH qa_cand AS (SELECT doc_id, n_chars FROM documents
                     ORDER BY n_chars DESC, doc_id LIMIT 100),
         qb_cand AS (SELECT doc_id, n_chars FROM documents
                     ORDER BY n_chars ASC, doc_id LIMIT 100),
         qa AS (SELECT a.doc_id, 1 AS query_rank, 1 + count(b.doc_id) AS rank_in_list
                FROM qa_cand a LEFT JOIN qa_cand b
                  ON b.n_chars > a.n_chars OR (b.n_chars = a.n_chars AND b.doc_id < a.doc_id)
                GROUP BY a.doc_id),
         qb AS (SELECT a.doc_id, 2 AS query_rank, 1 + count(b.doc_id) AS rank_in_list
                FROM qb_cand a LEFT JOIN qb_cand b
                  ON b.n_chars < a.n_chars OR (b.n_chars = a.n_chars AND b.doc_id < a.doc_id)
                GROUP BY a.doc_id),
         uni AS (SELECT * FROM qa UNION ALL SELECT * FROM qb)
    SELECT doc_id, CAST(query_rank AS BIGINT) AS query_rank, CAST(rank_in_list AS BIGINT) AS rank_in_list
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY query_rank, rank_in_list) AS wins
          FROM uni) t
    WHERE wins = 1
    """,
)

# U4 — last-wins merge by id (sqlalchemy_service.py:581-583): latest event
# per (user, type).
_q(
    "u4_last_wins_merge",
    """
    SELECT user_id, event_type, event_id AS last_event_id, n_merged
    FROM (SELECT user_id, event_type, event_id,
                 count(*) OVER (PARTITION BY user_id, event_type) AS n_merged,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rk
          FROM events) t
    WHERE rk = 1
    """,
)

# U2 — id normalization + dedup (the reference normalizes external ids
# before registry merge, sqlalchemy_service.py:581-583): messy variants of
# the same source id (case / padding / prefix synonyms, synthesized
# deterministically from doc_id) collapse to one normalized id.
_U2_MESSY = """CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN upper(source)
                 WHEN 1 THEN concat(' ', source, ' ')
                 ELSE concat('SOURCE', substr(source, 4)) END"""


def _u2_sql(messy: str) -> str:
    return f"""
    WITH raw_ids AS (SELECT doc_id, {messy} AS id_raw FROM documents),
    normed AS (
        SELECT doc_id,
               concat('src', regexp_replace(lower(trim(id_raw)), '^source|^src', '')) AS id_norm
        FROM raw_ids
    )
    SELECT id_norm, count(*) AS n_docs, count(DISTINCT doc_id) AS n_distinct
    FROM normed GROUP BY id_norm
    """


_q("u2_id_normalization", _u2_sql(_U2_MESSY))

# P2 — filename sanitization (ingestion_pipeline.py:644-651): basename after
# the last '/', strip chars outside [A-Za-z0-9_ .-], trim, cap at 255, map
# degenerate results to 'upload'. Messy inputs synthesized per doc. Spark's
# regexp_replace is replace-all by default; DuckDB needs the 'g' flag.
def _p2_sql(g_flag: str) -> str:
    return f"""
    WITH raw_names AS (
        SELECT doc_id,
               concat('/up loads/', source, '/doc<', CAST(doc_id AS STRING),
                      CASE CAST(doc_id % 4 AS INT)
                        WHEN 0 THEN '>*.pdf' WHEN 1 THEN '|.txt'
                        WHEN 2 THEN '?.md' ELSE ':v2.html' END) AS filename
        FROM documents WHERE doc_id < 300
    ),
    sanitized AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(filename, '^.*/', ''),
                                   '[^A-Za-z0-9_ .-]', ''{g_flag})) AS base
        FROM raw_names
    )
    SELECT doc_id,
           CASE WHEN substr(base, 1, 255) IN ('', '.', '..') THEN 'upload'
                ELSE substr(base, 1, 255) END AS safe_name
    FROM sanitized
    """


_q("p2_filename_sanitize", _p2_sql(""), _p2_sql(", 'g'"))

# ---------------------------------------------------------------------------
# Scoring (SURVEY §2.8)
# ---------------------------------------------------------------------------

# W1/T1 — brute-force cosine top-k against one query vector (pgvector `<=>`
# order-by, sqlalchemy_service.py:479-506). Dot/norm folds run in array
# order in identical IEEE doubles on both engines.
_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_DUCK_DOT = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"

_q(
    "w1_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round({_SPARK_DOT.format(a="e.embedding", b="q.qv")}
                 / (sqrt({_SPARK_DOT.format(a="e.embedding", b="e.embedding")})
                    * sqrt({_SPARK_DOT.format(a="q.qv", b="q.qv")})), 6) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 20
    """,
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round({_DUCK_DOT.format(a="e.embedding", b="q.qv")}
                 / (sqrt({_DUCK_DOT.format(a="e.embedding", b="e.embedding")})
                    * sqrt({_DUCK_DOT.format(a="q.qv", b="q.qv")})), 6) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 20
    """,
)

# W4/T5 — combined rerank score 0.7·retrieval + 0.3·lexical
# (reranker/similarity.py:22-95); both terms are exact integer ratios.
_W4_SPARK_TOKS = f"array_distinct({_SPARK_TOK.format(c='text')})"
_W4_DUCK_TOKS = f"list_distinct({_DUCK_TOK.format(c='text')})"
_W4_SPARK_Q = f"array_distinct({_SPARK_TOK.format(c=repr(_QUERY_TEXT))})"
_W4_DUCK_Q = f"list_distinct({_DUCK_TOK.format(c=repr(_QUERY_TEXT))})"
_q(
    "w4_rerank_combined",
    f"""
    SELECT doc_id,
           round(0.7 * (CAST(ov AS DOUBLE) / CAST(nq AS DOUBLE))
                 + 0.3 * (CAST(ov AS DOUBLE) / CAST(nd AS DOUBLE)), 6) AS rerank_score,
           CAST(ov AS BIGINT) AS overlap
    FROM (SELECT doc_id,
                 size(array_intersect({_W4_SPARK_TOKS}, {_W4_SPARK_Q})) AS ov,
                 size({_W4_SPARK_Q}) AS nq,
                 size({_W4_SPARK_TOKS}) AS nd
          FROM documents) t
    ORDER BY 0.7 * (CAST(ov AS DOUBLE) / CAST(nq AS DOUBLE))
             + 0.3 * (CAST(ov AS DOUBLE) / CAST(nd AS DOUBLE)) DESC, doc_id
    LIMIT 20
    """,
    f"""
    SELECT doc_id,
           round(0.7 * (CAST(ov AS DOUBLE) / CAST(nq AS DOUBLE))
                 + 0.3 * (CAST(ov AS DOUBLE) / CAST(nd AS DOUBLE)), 6) AS rerank_score,
           CAST(ov AS BIGINT) AS overlap
    FROM (SELECT doc_id,
                 len(list_intersect({_W4_DUCK_TOKS}, {_W4_DUCK_Q})) AS ov,
                 len({_W4_DUCK_Q}) AS nq,
                 len({_W4_DUCK_TOKS}) AS nd
          FROM documents) t
    ORDER BY 0.7 * (CAST(ov AS DOUBLE) / CAST(nq AS DOUBLE))
             + 0.3 * (CAST(ov AS DOUBLE) / CAST(nd AS DOUBLE)) DESC, doc_id
    LIMIT 20
    """,
)

# W5 — rank assignment (enumerate from 1, retrieval_service.py:146).
# Top-100 via TakeOrdered, then exact ranks by join-count on the bounded
# set — identical output to a global row_number, no single-partition window.
_q(
    "w5_rank_assignment",
    """
    WITH top_orders AS (
        SELECT o_orderkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS total_cents
        FROM orders
        ORDER BY CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) DESC, o_orderkey
        LIMIT 100)
    SELECT CAST(1 + count(b.o_orderkey) AS BIGINT) AS rnk, a.o_orderkey, a.total_cents
    FROM top_orders a LEFT JOIN top_orders b
      ON b.total_cents > a.total_cents
      OR (b.total_cents = a.total_cents AND b.o_orderkey < a.o_orderkey)
    GROUP BY a.o_orderkey, a.total_cents
    """,
)

# ---------------------------------------------------------------------------
# Training-data pipeline: deduplication
# ---------------------------------------------------------------------------

# exact + token-set dedup summary (hash-groupBy dedup)
_q(
    "dd_exact_summary",
    f"""
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_exact_distinct,
           count(DISTINCT md5(concat_ws(' ', array_sort(array_distinct({_SPARK_TOK.format(c='text')}))))) AS n_tokenset_distinct
    FROM documents
    """,
    f"""
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_exact_distinct,
           count(DISTINCT md5(array_to_string(list_sort(list_distinct({_DUCK_TOK.format(c='text')})), ' '))) AS n_tokenset_distinct
    FROM documents
    """,
)

# (dd_jaccard_pairs is defined below dd_minhash_lsh — its candidate pairs
# come from LSH banding, never from an all-pairs blocked self-join.)


# MinHash base hash: ONE md5 per token → 28-bit x; hash function i is the
# Carter–Wegman affine h_i(x) = (A_i*x + B_i) mod P with fixed md5-derived
# constants (functions/text.minhash_ab — single source for SQL twins, the
# Column library, and the pytest recomputation). Replaces the k-salted-md5
# scheme (k md5 passes per token) with exactly one: at 100 TB the signature
# stage is hash-bound and this is a k-fold cut. A_i < 2^31, x < 2^28 →
# A_i*x < 2^59, no int64 overflow in either engine.
_MH_TX_SPARK = (
    "transform(tk, t -> CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT))"
)
_MH_TX_DUCK = "list_transform(tk, t -> CAST('0x' || substr(md5(t), 1, 7) AS BIGINT))"


def _spark_minhash(i: int) -> str:
    a, b = _minhash_ab(i)
    return f"array_min(transform(tx, x -> ({a} * x + {b}) % {_MINHASH_P}))"


def _duck_minhash(i: int) -> str:
    a, b = _minhash_ab(i)
    return f"list_aggregate(list_transform(tx, x -> ({a} * x + {b}) % {_MINHASH_P}), 'min')"


# MinHash + LSH banding: 8 hashes, 2 bands of 4; candidate pairs share a
# band within the source block; verified Jaccard attached.
_SPARK_MH = ", ".join(f"{_spark_minhash(i)} AS h{i}" for i in range(8))
_DUCK_MH = ", ".join(f"{_duck_minhash(i)} AS h{i}" for i in range(8))
_MH_TAIL = """
    , sigs AS (SELECT doc_id, source, tk,
                      md5({B1}) AS band1,
                      md5({B2}) AS band2
               FROM hashes),
    cand AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sigs a JOIN sigs b
            ON a.band1 = b.band1 AND a.source = b.source AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sigs a JOIN sigs b
            ON a.band2 = b.band2 AND a.source = b.source AND a.doc_id < b.doc_id
    )
"""
_q(
    "dd_minhash_lsh",
    f"""
    WITH toks AS (SELECT doc_id, source, array_distinct({_SPARK_TOK.format(c='text')}) AS tk FROM documents),
    thash AS (SELECT doc_id, source, tk, {_MH_TX_SPARK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, tk, {_SPARK_MH} FROM thash)
    {_MH_TAIL.format(B1="concat(h0, ':', h1, ':', h2, ':', h3)", B2="concat(h4, ':', h5, ':', h6, ':', h7)")}
    SELECT c.a_id, c.b_id,
           round(CAST(size(array_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(size(ta.tk) + size(tb.tk) - size(array_intersect(ta.tk, tb.tk)) AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    """,
    f"""
    WITH toks AS (SELECT doc_id, source, list_distinct({_DUCK_TOK.format(c='text')}) AS tk FROM documents),
    thash AS (SELECT doc_id, source, tk, {_MH_TX_DUCK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, tk, {_DUCK_MH} FROM thash)
    {_MH_TAIL.format(B1="h0 || ':' || h1 || ':' || h2 || ':' || h3", B2="h4 || ':' || h5 || ':' || h6 || ':' || h7")}
    SELECT c.a_id, c.b_id,
           round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk)) AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    """,
)

# Verified Jaccard near-dup pairs at threshold 0.8, with candidates from
# MinHash-LSH banding: 12 hashes → 6 bands of 2 rows (band-collision
# probability for J=0.8 is 1-(1-0.8²)⁶ ≈ 0.998 — near-exhaustive recall),
# banded within the source block, then verify-then-score exact Jaccard on
# candidates only. No all-pairs self-join anywhere: candidate volume is
# bucket-bounded, the 100 TB-safe shape (the round-1 version enumerated
# O(n²/B) pairs per source block).
_JP_N_HASH = 12
_JP_SPARK_MH = ", ".join(f"{_spark_minhash(i)} AS h{i}" for i in range(_JP_N_HASH))
_JP_DUCK_MH = ", ".join(f"{_duck_minhash(i)} AS h{i}" for i in range(_JP_N_HASH))


def _jp_tail(concat2) -> str:
    # Measured note (round 5): in THIS query, fusing the per-band
    # self-joins into one posexplode(bi, bdk) join + DISTINCT is 2-3x
    # SLOWER — Catalyst column-prunes each UNION branch down to its single
    # band key (narrow build sides, no generator, no extra dedup shuffle),
    # and exchange reuse does not fire across the fused join's sides.
    # Spark inlines each CTE at every use, so this query tokenizes and
    # MinHashes every document 12 times (both sides of six band joins).
    # The dedup operator (operators/dedup.near_dup_pairs) returns the same
    # rows from ONE materialized signature table, and there the fused join
    # is the cheaper shape: both of its sides explode the already-computed
    # band keys of that table, so nothing upstream is recomputed.
    bands = ", ".join(
        f"md5({concat2(f'h{2 * i}', f'h{2 * i + 1}')}) AS bd{i}" for i in range(_JP_N_HASH // 2)
    )
    cand_union = "\n        UNION\n".join(
        f"        SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sigs a JOIN sigs b\n"
        f"            ON a.bd{i} = b.bd{i} AND a.source = b.source AND a.doc_id < b.doc_id"
        for i in range(_JP_N_HASH // 2)
    )
    return f"""
    , sigs AS (SELECT doc_id, source, {bands} FROM hashes),
    cand AS (
{cand_union}
    )
"""


_q(
    "dd_jaccard_pairs",
    f"""
    WITH toks AS (SELECT doc_id, source, array_distinct({_SPARK_TOK.format(c='text')}) AS tk FROM documents),
    thash AS (SELECT doc_id, source, {_MH_TX_SPARK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, {_JP_SPARK_MH} FROM thash)
    {_jp_tail(lambda a, b: f"concat({a}, ':', {b})")}
    SELECT c.a_id, c.b_id,
           round(CAST(size(array_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(size(ta.tk) + size(tb.tk) - size(array_intersect(ta.tk, tb.tk)) AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    WHERE CAST(size(array_intersect(ta.tk, tb.tk)) AS DOUBLE)
          / CAST(size(ta.tk) + size(tb.tk) - size(array_intersect(ta.tk, tb.tk)) AS DOUBLE) >= 0.8
    """,
    f"""
    WITH toks AS (SELECT doc_id, source, list_distinct({_DUCK_TOK.format(c='text')}) AS tk FROM documents),
    thash AS (SELECT doc_id, source, {_MH_TX_DUCK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, {_JP_DUCK_MH} FROM thash)
    {_jp_tail(lambda a, b: f"{a} || ':' || {b}")}
    SELECT c.a_id, c.b_id,
           round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk)) AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    WHERE CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
          / CAST(len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk)) AS DOUBLE) >= 0.8
    """,
)

# Duplicate clusters: connected components over the verified ≥0.8 Jaccard
# pair graph, canonical representative = min doc_id per component — the
# full dedup shape (pairs → clusters → keep one). The Spark side runs the
# dedup operator's pairs through graph.connected_components (a
# python-callable query, PY_QUERIES below); the oracle takes min over the
# recursive transitive closure of the dd_jaccard_pairs twin.
DUCK_SQL["dd_dup_clusters"] = f"""
    WITH RECURSIVE sym AS (
        SELECT a_id AS u, b_id AS v FROM ({DUCK_SQL["dd_jaccard_pairs"]}) p
        UNION
        SELECT b_id AS u, a_id AS v FROM ({DUCK_SQL["dd_jaccard_pairs"]}) p
    ),
    nodes AS (SELECT u AS doc FROM sym UNION SELECT v AS doc FROM sym),
    reach(a, b) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON s.u = r.b
    ),
    labels AS (SELECT a AS doc, min(b) AS rep FROM reach GROUP BY a)
    SELECT rep AS representative, count(*) AS cluster_size,
           count(*) - 1 AS n_removed
    FROM labels GROUP BY rep
"""


# n-gram Jaccard near-dup (the brief's literal "n-gram Jaccard" variant):
# word-bigram shingle sets instead of token sets — order-sensitive, so a
# doc and its shuffled copy stop being near-dups. Candidates come from the
# same 12-hash/6-band LSH machinery as dd_jaccard_pairs (banded within the
# source block, no all-pairs join); every banded candidate is emitted
# with its exact shingle Jaccard (order-sensitivity on display: the
# corpus's token-reordered near-dups score high on token-set Jaccard but
# near zero here).
_SPARK_SHINGLES = (
    "array_distinct(transform(sequence(1, size(tk0) - 1), "
    "i -> concat(element_at(tk0, i), ' ', element_at(tk0, i + 1))))"
)
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(tk0) - 1), "
    "i -> tk0[i] || ' ' || tk0[i + 1]))"
)
_q(
    "dd_ngram_jaccard",
    f"""
    WITH toks0 AS (SELECT doc_id, source, {_SPARK_TOK.format(c='text')} AS tk0 FROM documents),
    toks AS (SELECT doc_id, source, {_SPARK_SHINGLES} AS tk
             FROM toks0 WHERE size(tk0) >= 2),
    thash AS (SELECT doc_id, source, {_MH_TX_SPARK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, {_JP_SPARK_MH} FROM thash)
    {_jp_tail(lambda a, b: f"concat({a}, ':', {b})")}
    SELECT c.a_id, c.b_id,
           round(CAST(size(array_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(size(ta.tk) + size(tb.tk) - size(array_intersect(ta.tk, tb.tk)) AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    """,
    f"""
    WITH toks0 AS (SELECT doc_id, source, {_DUCK_TOK.format(c='text')} AS tk0 FROM documents),
    toks AS (SELECT doc_id, source, {_DUCK_SHINGLES} AS tk
             FROM toks0 WHERE len(tk0) >= 2),
    thash AS (SELECT doc_id, source, {_MH_TX_DUCK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, {_JP_DUCK_MH} FROM thash)
    {_jp_tail(lambda a, b: f"{a} || ':' || {b}")}
    SELECT c.a_id, c.b_id,
           round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk)) AS DOUBLE), 6) AS jaccard
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    """,
)

# SimHash (16-bit, distinct-token majority vote per bit)
_SPARK_BITS = ", ".join(
    f"sum(CASE WHEN shiftright(CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT), {b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(16)
)
_DUCK_BITS = ", ".join(
    f"sum(CASE WHEN (CAST(concat('0x', substring(md5(tok), 1, 4)) AS BIGINT) >> {b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(16)
)
_SIMHASH_SUM = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
_q(
    "dd_simhash",
    f"""
    WITH toks AS (SELECT doc_id, explode(array_distinct({_SPARK_TOK.format(c='text')})) AS tok FROM documents),
    bits AS (SELECT doc_id, {_SPARK_BITS} FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_SUM} AS BIGINT) AS simhash FROM bits
    """,
    f"""
    WITH toks AS (SELECT doc_id, unnest(list_distinct({_DUCK_TOK.format(c='text')})) AS tok FROM documents),
    bits AS (SELECT doc_id, {_DUCK_BITS} FROM toks GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_SUM} AS BIGINT) AS simhash FROM bits
    """,
)

# embedding-cosine near-dup: top-20 most-similar pairs among candidates
# blocked by (label, IVF cell). Each vector is coarse-quantized to its
# nearest of 10 centroids (the ann_ivf_topk assignment), and pairs form
# only within a cell — candidate volume is (n/cells)² per label instead of
# n² per label, the standard ANN-blocked near-dup shape. Near-identical
# vectors always share a nearest centroid, so threshold-level recall holds.


def _neardup_sql(dot: str) -> str:
    cos_ec = (
        f"round({dot.format(a='e.embedding', b='c.embedding')}"
        f" / (sqrt({dot.format(a='e.embedding', b='e.embedding')})"
        f" * sqrt({dot.format(a='c.embedding', b='c.embedding')})), 9)"
    )
    cos_ab = (
        f"round({dot.format(a='a.embedding', b='b.embedding')}"
        f" / (sqrt({dot.format(a='a.embedding', b='a.embedding')})"
        f" * sqrt({dot.format(a='b.embedding', b='b.embedding')})), 6)"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 10),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_ec} DESC, c.cid) AS rk
            FROM embeddings e CROSS JOIN cent c
        ) t WHERE rk = 1
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label, {cos_ab} AS cosine
    FROM embeddings a JOIN assign aa ON a.vec_id = aa.vec_id
         JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         JOIN assign bb ON b.vec_id = bb.vec_id AND aa.cid = bb.cid
    ORDER BY cosine DESC, a.vec_id, b.vec_id
    LIMIT 20
    """


_q("dd_embed_neardup", _neardup_sql(_SPARK_DOT), _neardup_sql(_DUCK_DOT))

# ---------------------------------------------------------------------------
# Similarity search: IVF-style ANN (coarse quantize to nearest centroid,
# probe one cell). Centroids = vectors 0..9; query = vector 1.
# ---------------------------------------------------------------------------


def _ivf_sql(dot: str) -> str:
    cos = (
        f"round({dot.format(a='e.embedding', b='c.embedding')}"
        f" / (sqrt({dot.format(a='e.embedding', b='e.embedding')})"
        f" * sqrt({dot.format(a='c.embedding', b='c.embedding')})), 9)"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 10),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cid) AS rk
            FROM embeddings e CROSS JOIN cent c
        ) t WHERE rk = 1
    ),
    probe AS (SELECT cid FROM assign WHERE vec_id = 1),
    cell AS (SELECT e.vec_id, e.embedding FROM embeddings e
             JOIN assign a ON e.vec_id = a.vec_id JOIN probe p ON a.cid = p.cid
             WHERE e.vec_id <> 1),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
    SELECT cell.vec_id,
           round({dot.format(a='cell.embedding', b='q.qv')}
                 / (sqrt({dot.format(a='cell.embedding', b='cell.embedding')})
                    * sqrt({dot.format(a='q.qv', b='q.qv')})), 6) AS cosine
    FROM cell CROSS JOIN q
    ORDER BY cosine DESC, cell.vec_id
    LIMIT 10
    """


_q("ann_ivf_topk", _ivf_sql(_SPARK_DOT), _ivf_sql(_DUCK_DOT))


# ANN — random-hyperplane LSH variant (the second scale path besides IVF):
# 4 deterministic ±1 hyperplanes (sign from md5 parity of the (plane, dim)
# pair, identical in both engines) hash every vector into one of 16
# buckets; candidates are the query's bucket only, then exact cosine
# reranks. At 100 TB the signature is a narrow int column computed in one
# projection; the bucket equi-join replaces the all-pairs scan.
def _lsh_sign_dot(engine: str, j: int) -> str:
    """Signed dot of `embedding` with ±1 hyperplane j."""
    if engine == "spark":
        parity = f"conv(substr(md5(concat('h{j}:', CAST(k AS STRING))), 1, 1), 16, 10) % 2"
        return (
            "aggregate(zip_with(embedding, transform(sequence(0, size(embedding)-1), "
            f"k -> CASE WHEN {parity} = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END), "
            "(x, s) -> CAST(x AS DOUBLE) * s), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    parity = f"CAST('0x' || substr(md5(concat('h{j}:', CAST(k AS STRING))), 1, 1) AS BIGINT) % 2"
    return (
        "list_dot_product(CAST(embedding AS DOUBLE[]), "
        "list_transform(generate_series(0, len(embedding)-1), "
        f"k -> CASE WHEN {parity} = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))"
    )


def _lsh_sql(engine: str, dot: str) -> str:
    sig = " + ".join(
        f"(CASE WHEN {_lsh_sign_dot(engine, j)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(4)
    )
    cos = (
        f"round({dot.format(a='c.embedding', b='q.qv')}"
        f" / (sqrt({dot.format(a='c.embedding', b='c.embedding')})"
        f" * sqrt({dot.format(a='q.qv', b='q.qv')})), 6)"
    )
    return f"""
    WITH sigs AS (SELECT vec_id, embedding, {sig} AS sig FROM embeddings),
    qsig AS (SELECT sig, embedding AS qv FROM sigs WHERE vec_id = 0),
    cand AS (SELECT s.vec_id, s.embedding FROM sigs s
             JOIN qsig ON s.sig = qsig.sig
             WHERE s.vec_id <> 0)
    SELECT c.vec_id, {cos} AS cosine
    FROM cand c CROSS JOIN qsig q
    ORDER BY cosine DESC, c.vec_id
    LIMIT 10
    """


_q("ann_lsh_topk", _lsh_sql("spark", _SPARK_DOT), _lsh_sql("duck", _DUCK_DOT))


# ANN index-assisted retrieval (the reference's ivfflat-served
# _find_vector_chunks, backend/db/sqlalchemy_service.py:479-506 +
# ARCHITECTURE.md:402-406): candidates come from the IVF index structure
# — multi-probe, the nprobe=2 cells nearest the query — and ONLY those
# are exact-cosine reranked. At scale the probe is a broadcast-size
# centroid argmax per row and the rerank touches |probed cells| rows, not
# the corpus; this is the index-assisted twin of the exact w1/t1 scans.
def _ivf_rerank_sql(dot: str) -> str:
    cos_ec = (
        f"round({dot.format(a='e.embedding', b='c.embedding')}"
        f" / (sqrt({dot.format(a='e.embedding', b='e.embedding')})"
        f" * sqrt({dot.format(a='c.embedding', b='c.embedding')})), 9)"
    )
    cos_qc = (
        f"round({dot.format(a='q.qv', b='c.embedding')}"
        f" / (sqrt({dot.format(a='q.qv', b='q.qv')})"
        f" * sqrt({dot.format(a='c.embedding', b='c.embedding')})), 9)"
    )
    cos_cand = (
        f"round({dot.format(a='cand.embedding', b='q.qv')}"
        f" / (sqrt({dot.format(a='cand.embedding', b='cand.embedding')})"
        f" * sqrt({dot.format(a='q.qv', b='q.qv')})), 6)"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 10),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 2),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_ec} DESC, c.cid) AS rk
            FROM embeddings e CROSS JOIN cent c
        ) t WHERE rk = 1
    ),
    probe AS (
        -- ORDER BY + LIMIT (TakeOrdered), not a global row_number window:
        -- the centroid set is tiny, but an unpartitioned WindowExec would
        -- still single-partition it and log the scale-smell warning
        SELECT c.cid FROM cent c CROSS JOIN q
        ORDER BY {cos_qc} DESC, c.cid
        LIMIT 2
    ),
    cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
             JOIN assign a ON e.vec_id = a.vec_id JOIN probe p ON a.cid = p.cid
             WHERE e.vec_id <> 2)
    SELECT cand.vec_id, {cos_cand} AS cosine
    FROM cand CROSS JOIN q
    ORDER BY cosine DESC, cand.vec_id
    LIMIT 10
    """


_q("ann_ivf_rerank", _ivf_rerank_sql(_SPARK_DOT), _ivf_rerank_sql(_DUCK_DOT))

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_EN = "('the','a','of','to','and','in','is','on','for','with')"
_STOP_DE = "('der','die','das','und','ist','ein','mit','von','zu','den')"
_STOP_FR = "('le','la','les','et','est','un','une','des','du','dans')"
_STOP_ES = "('el','la','los','las','y','es','un','una','de','en')"


def _langid_sql(tok: str, size_fn: str, filt: str) -> str:
    hits = {
        "en": _STOP_EN, "de": _STOP_DE, "fr": _STOP_FR, "es": _STOP_ES,
    }
    cols = ", ".join(
        f"CAST({size_fn}({filt}(tk, t -> t IN {lst})) AS BIGINT) AS {lg}_hits" for lg, lst in hits.items()
    )
    return f"""
    WITH toks AS (SELECT doc_id, {tok} AS tk FROM documents),
    hits AS (SELECT doc_id, {cols} FROM toks)
    SELECT doc_id, CAST(en_hits AS BIGINT) AS en_hits, CAST(de_hits AS BIGINT) AS de_hits, CAST(fr_hits AS BIGINT) AS fr_hits, CAST(es_hits AS BIGINT) AS es_hits,
           CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
                WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
                WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
                WHEN es_hits > 0 THEN 'es'
                ELSE 'und' END AS pred_lang
    FROM hits
    """


_q(
    "tx_lang_id",
    _langid_sql(_SPARK_TOK.format(c="text"), "size", "filter"),
    _langid_sql(_DUCK_TOK.format(c="text"), "len", "list_filter"),
)


def _quality_sql(tok: str, size_fn: str, filt: str, distinct_fn: str) -> str:
    return f"""
    WITH t AS (SELECT doc_id, n_chars, {tok} AS tk, length(text) AS len FROM documents),
    m AS (SELECT doc_id, n_chars,
                 {size_fn}(tk) AS n_tokens,
                 {size_fn}({distinct_fn}(tk)) AS n_distinct,
                 {size_fn}({filt}(tk, t -> t IN {_STOP_EN})) AS n_stop
          FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(n_distinct AS BIGINT) AS n_distinct,
           round(0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 + 0.3 * least(10.0 * CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 1.0), 6) AS quality
    FROM m WHERE n_tokens > 0
    """


_q(
    "tx_quality_score",
    _quality_sql(_SPARK_TOK.format(c="text"), "size", "filter", "array_distinct"),
    _quality_sql(_DUCK_TOK.format(c="text"), "len", "list_filter", "list_distinct"),
)

# token counting: whitespace tokens + BPE-ish regex pieces
_q(
    "tx_token_count",
    """
    SELECT doc_id,
           CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS ws_tokens,
           CAST(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)

# document fingerprint: min-md5 over character 8-gram shingles of the
# normalized text (winnowing-lite rolling fingerprint)
_q(
    "tx_fingerprint",
    """
    WITH n AS (SELECT doc_id,
                      trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' ')) AS norm
               FROM documents)
    SELECT doc_id,
           array_min(transform(sequence(1, greatest(length(norm) - 7, 1)),
                               i -> md5(substring(norm, i, 8)))) AS fingerprint
    FROM n WHERE length(norm) > 0
    """,
    """
    WITH n AS (SELECT doc_id,
                      trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
               FROM documents)
    SELECT doc_id,
           list_aggregate(list_transform(generate_series(1, greatest(length(norm) - 7, 1)),
                                         i -> md5(substring(norm, CAST(i AS INT), 8))), 'min') AS fingerprint
    FROM n WHERE length(norm) > 0
    """,
)


# ---------------------------------------------------------------------------
# Batch 2: lifecycle / session / validation operators
# ---------------------------------------------------------------------------

# T6 — session history: latest-N by ts desc then chronological replay
# (sqlalchemy_service.py:678-709). Latest 5 events per user, re-sorted
# ascending, with replay position.
_q(
    "t6_session_history",
    """
    SELECT user_id, event_id, event_type,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS replay_pos
    FROM (SELECT user_id, event_id, event_type, ts,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
          FROM events) t
    WHERE rk <= 5
    """,
)

# A2 — health-check counts (routes/status.py:77-99)
_q(
    "a2_health_counts",
    """
    SELECT (SELECT count(*) FROM documents) AS n_documents,
           (SELECT count(*) FROM embeddings) AS n_embeddings,
           (SELECT count(*) FROM events) AS n_events
    """,
)

# S3 — upload validation gate as a row-level constraint filter + quarantine
# counts (ingestion_pipeline.py:752-801): docs must be non-empty, under the
# size cap, with a known source.
_q(
    "s3_validation_split",
    """
    SELECT CASE WHEN n_chars > 0 AND n_chars <= 500 AND lang IN ('en','de','fr','es','zh')
                THEN 'valid' ELSE 'quarantined' END AS gate,
           count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CASE WHEN n_chars > 0 AND n_chars <= 500 AND lang IN ('en','de','fr','es','zh')
                  THEN 'valid' ELSE 'quarantined' END
    """,
)

# U6/Q2 — expand-query fan-out: [original, alt1, alt2] variants exploded
# with provenance rank (query_service.py:75-88)
_q(
    "u6_expand_fanout",
    """
    SELECT doc_id, variant_rank, variant
    FROM (SELECT doc_id,
                 stack(3, 1, concat('q:', lang),
                          2, concat('alt1:', source),
                          3, concat('alt2:', lang, ':', source)) AS (variant_rank, variant)
          FROM documents WHERE doc_id < 50) t
    """,
    """
    SELECT doc_id, variant_rank, variant
    FROM (SELECT doc_id,
                 unnest([struct_pack(variant_rank := 1, variant := 'q:' || lang),
                         struct_pack(variant_rank := 2, variant := 'alt1:' || source),
                         struct_pack(variant_rank := 3, variant := 'alt2:' || lang || ':' || source)],
                        recursive := true)
          FROM documents WHERE doc_id < 50) t
    """,
)

# W2 — keyword rank scoring with term-frequency weighting (ts_rank analog):
# per matched query token, tf = occurrences / total tokens; score = sum.
_q(
    "w2_tf_rank",
    f"""
    SELECT doc_id,
           CAST(size(filter(tk, t -> t = 'table')) + size(filter(tk, t -> t = 'scan')) AS BIGINT) AS tf_hits,
           round(CAST(size(filter(tk, t -> t = 'table')) + size(filter(tk, t -> t = 'scan')) AS DOUBLE)
                 / CAST(size(tk) AS DOUBLE), 6) AS tf_score
    FROM (SELECT doc_id, {_SPARK_TOK.format(c='text')} AS tk FROM documents) t
    WHERE size(tk) > 0
    ORDER BY tf_score DESC, doc_id
    LIMIT 25
    """,
    f"""
    SELECT doc_id,
           CAST(len(list_filter(tk, t -> t = 'table')) + len(list_filter(tk, t -> t = 'scan')) AS BIGINT) AS tf_hits,
           round(CAST(len(list_filter(tk, t -> t = 'table')) + len(list_filter(tk, t -> t = 'scan')) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE), 6) AS tf_score
    FROM (SELECT doc_id, {_DUCK_TOK.format(c='text')} AS tk FROM documents) t
    WHERE len(tk) > 0
    ORDER BY tf_score DESC, doc_id
    LIMIT 25
    """,
)

# K4-adjacent — event sessionization: 30-minute inactivity gap splits a
# user's events into sessions; per-session aggregates. (The reference keys
# chat history by explicit session ids; this is the stream-analog operator
# a 100 TB event table needs.)
_q(
    "ev_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR unix_seconds(CAST(ts AS TIMESTAMP)) - unix_seconds(CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
           CAST(max(unix_seconds(CAST(ts AS TIMESTAMP))) - min(unix_seconds(CAST(ts AS TIMESTAMP))) AS BIGINT) AS duration_sec
    FROM sess
    GROUP BY user_id, CAST(session_no AS BIGINT)
    """,
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec
    FROM sess
    GROUP BY user_id, CAST(session_no AS BIGINT)
    """,
)

# hourly event rollup — the windowed-aggregation operator shape (batch twin
# of the streaming rollup) with integer-cent value sums
_q(
    "ev_hourly_rollup",
    """
    SELECT date_format(ts, 'yyyy-MM-dd HH') AS hour_bucket, event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY date_format(ts, 'yyyy-MM-dd HH'), event_type
    """,
    """
    SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d %H'), event_type
    """,
)


# W2b — full BM25 (k1=1.2, b=0.75, Lucene idf = ln(1 + (N-df+0.5)/(df+0.5)))
# over the documents corpus for the fixed query {table, scan, query}. All
# corpus statistics (N, Σdl, df) are integers aggregated exactly, so the
# only float math is a per-row expression evaluated in the same order by
# both engines — no cross-row float accumulation (ts_rank_cd analog of the
# reference's hybrid keyword arm, 004_hybrid_retrieval.sql).
def _bm25_sql(tok: str, size_fn: str, filt: str, contains: str) -> str:
    k1, b = "1.2", "0.75"
    score_terms = []
    for i, term in enumerate(("table", "scan", "query"), start=1):
        tf = f"CAST({size_fn}({filt}(tk, t -> t = '{term}')) AS DOUBLE)"
        idf = f"ln(1.0 + (CAST(n AS DOUBLE) - df{i} + 0.5) / (df{i} + 0.5))"
        score_terms.append(
            f"({idf}) * ({tf} * ({k1} + 1.0))"
            f" / ({tf} + {k1} * (1.0 - {b} + {b} * CAST(dl AS DOUBLE) / avgdl))"
        )
    score = " + ".join(score_terms)
    dfs = ", ".join(
        f"sum(CASE WHEN {contains}(tk, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(("table", "scan", "query"), start=1)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {tok} AS tk FROM documents),
    d AS (SELECT doc_id, tk, CAST({size_fn}(tk) AS BIGINT) AS dl
          FROM toks WHERE {size_fn}(tk) > 0),
    stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM d),
    dfreq AS (SELECT {dfs} FROM d)
    SELECT doc_id, round({score}, 6) AS bm25
    FROM (SELECT d.doc_id, d.tk, d.dl, s.n,
                 CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE) AS avgdl,
                 f.df1, f.df2, f.df3
          FROM d CROSS JOIN stats s CROSS JOIN dfreq f) t
    ORDER BY bm25 DESC, doc_id
    LIMIT 25
    """


_q(
    "w2_bm25_topk",
    _bm25_sql(_SPARK_TOK.format(c="text"), "size", "filter", "array_contains"),
    _bm25_sql(_DUCK_TOK.format(c="text"), "len", "list_filter", "list_contains"),
)

# As-of (backward) join: for every purchase event, the most recent prior
# click by the same user. Portable formulation: tag click timestamps, take
# a running max over a per-user ROWS window ending 1 PRECEDING — max skips
# NULLs in both engines, the window is PARTITIONED (per-user, never
# global), and ties break on the unique event_id. This is the time-series
# join shape (point-in-time feature lookup) a training-data pipeline needs.
_q(
    "ev_asof_join",
    """
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type, value,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts
        FROM events
    ),
    joined AS (
        SELECT event_id, user_id, ts, event_type, value,
               max(click_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
        FROM tagged
    )
    SELECT event_id, user_id,
           CAST(unix_seconds(CAST(ts AS TIMESTAMP)) - unix_seconds(CAST(last_click_ts AS TIMESTAMP)) AS BIGINT) AS secs_since_click,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_cents
    FROM joined
    WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
    """,
    """
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type, value,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts
        FROM events
    ),
    joined AS (
        SELECT event_id, user_id, ts, event_type, value,
               max(click_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
        FROM tagged
    )
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(last_click_ts)) AS BIGINT) AS secs_since_click,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS value_cents
    FROM joined
    WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
    """,
)

# Benchmark-contamination screen (the GPT-3 appendix-C / PaLM "n-gram
# collision" check a training-data pipeline runs before every release):
# hold out one source block ('src0') as the benchmark set, shingle both
# sides into word-8-grams, and flag every (train doc, benchmark doc) pair
# sharing >= 5 distinct 8-grams, with contamination_ppm = shared / train
# doc's total distinct shingles. Scale shape: the join key is a 60-bit
# md5 shingle hash (narrow, uniformly distributed — no raw-text shuffle),
# the join is a plain equi-join on that hash, and both counts come from
# hash-aggs; at 100 TB this is the standard shingle-hash contamination
# sweep, benchmark side small enough to broadcast.
_SPARK_SH8 = (
    "array_distinct(transform(sequence(1, size(tk) - 7), i -> "
    "CAST(conv(substring(md5(concat_ws(' ', slice(tk, i, 8))), 1, 15), 16, 10) AS BIGINT)))"
)
_DUCK_SH8 = (
    "list_distinct(list_transform(generate_series(1, len(tk) - 7), i -> "
    "CAST('0x' || substr(md5(list_aggregate(tk[i:i+7], 'string_agg', ' ')), 1, 15) AS BIGINT)))"
)
# Ordered conversion funnel (view → click → purchase, strictly increasing
# timestamps): per step, how many users got there and the step-over-step
# conversion in integer ppm. Each step is one min-ts hash-agg plus one
# equi-join on user_id with a ts range predicate — no window, no cartesian;
# at 100 TB each step stays one shuffle on the user key, and the funnel
# summary is a 3-row reduction.
_FUNNEL_BODY = """
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT v.user_id, min(e.ts) AS t2
          FROM v JOIN events e ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY v.user_id),
    p AS (SELECT c.user_id, min(e.ts) AS t3
          FROM c JOIN events e ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY c.user_id),
    n AS (SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
                 CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
                 CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase)
    SELECT 1 AS step_idx, 'view' AS step, n_view AS n_users,
           CAST(1000000 AS BIGINT) AS conversion_ppm FROM n
    UNION ALL
    SELECT 2, 'click', n_click,
           CAST(CASE WHEN n_view > 0 THEN (1000000 * n_click) {div} n_view ELSE 0 END AS BIGINT) FROM n
    UNION ALL
    SELECT 3, 'purchase', n_purchase,
           CAST(CASE WHEN n_click > 0 THEN (1000000 * n_purchase) {div} n_click ELSE 0 END AS BIGINT) FROM n
"""
_q(
    "ev_funnel",
    _FUNNEL_BODY.format(div="DIV"),
    _FUNNEL_BODY.format(div="//"),
)

# Daily cohort retention (the activation dashboard): users grouped by
# first-seen day, distinct-active counts at each day offset 0..7, and
# retention vs the cohort's own day-0 in integer ppm. Two hash-aggs (first
# day per user, distinct user-days) and one equi-join back on the cohort
# key — the shape survives any scale because rows out = cohorts × 8.
_q(
    "ev_retention",
    """
    WITH firstday AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
                      FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    offs AS (SELECT f.cohort, datediff(a.day, f.cohort) AS day_offset,
                    CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
             FROM firstday f JOIN act a ON a.user_id = f.user_id
             WHERE datediff(a.day, f.cohort) BETWEEN 0 AND 7
             GROUP BY f.cohort, datediff(a.day, f.cohort)),
    base AS (SELECT cohort, active_users AS day0 FROM offs WHERE day_offset = 0)
    -- cohort serialized to its ISO string: Spark DATE reaches pandas as
    -- python date objects (dtype kind O) while DuckDB DATE arrives as
    -- datetime64 (kind M), so the driver's dtype-sensitive value hash
    -- would diverge on equal values; the string form is engine-neutral
    SELECT CAST(o.cohort AS STRING) AS cohort,
           CAST(o.day_offset AS INT) AS day_offset, o.active_users,
           CAST((1000000 * o.active_users) DIV b.day0 AS BIGINT) AS retention_ppm
    FROM offs o JOIN base b ON b.cohort = o.cohort
    """,
    """
    WITH firstday AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
                      FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    offs AS (SELECT f.cohort, (a.day - f.cohort) AS day_offset,
                    CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
             FROM firstday f JOIN act a ON a.user_id = f.user_id
             WHERE (a.day - f.cohort) BETWEEN 0 AND 7
             GROUP BY f.cohort, (a.day - f.cohort)),
    base AS (SELECT cohort, active_users AS day0 FROM offs WHERE day_offset = 0)
    SELECT CAST(o.cohort AS VARCHAR) AS cohort,
           CAST(o.day_offset AS INT) AS day_offset, o.active_users,
           CAST((1000000 * o.active_users) // b.day0 AS BIGINT) AS retention_ppm
    FROM offs o JOIN base b ON b.cohort = o.cohort
    """,
)

_q(
    "tx_contamination",
    f"""
    WITH toks AS (SELECT doc_id, source, {_SPARK_TOK.format(c='text')} AS tk FROM documents),
    sh AS (SELECT doc_id, source, explode({_SPARK_SH8}) AS g
           FROM toks WHERE size(tk) >= 8),
    shared AS (
        SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_shared
        FROM sh t JOIN sh b ON t.g = b.g
        WHERE t.source <> 'src0' AND b.source = 'src0'
        GROUP BY t.doc_id, b.doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh WHERE source <> 'src0' GROUP BY doc_id)
    SELECT s.train_id, s.bench_id, s.n_shared,
           CAST((1000000 * s.n_shared) DIV t.n_shingles AS BIGINT) AS contamination_ppm
    FROM shared s JOIN tot t ON s.train_id = t.doc_id
    WHERE s.n_shared >= 5
    """,
    f"""
    WITH toks AS (SELECT doc_id, source, {_DUCK_TOK.format(c='text')} AS tk FROM documents),
    sh AS (SELECT doc_id, source, unnest({_DUCK_SH8}) AS g
           FROM toks WHERE len(tk) >= 8),
    shared AS (
        SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_shared
        FROM sh t JOIN sh b ON t.g = b.g
        WHERE t.source <> 'src0' AND b.source = 'src0'
        GROUP BY t.doc_id, b.doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh WHERE source <> 'src0' GROUP BY doc_id)
    SELECT s.train_id, s.bench_id, s.n_shared,
           CAST((1000000 * s.n_shared) // t.n_shingles AS BIGINT) AS contamination_ppm
    FROM shared s JOIN tot t ON s.train_id = t.doc_id
    WHERE s.n_shared >= 5
    """,
)


# PII detection + redaction (the scrub a training-data pipeline runs before
# release: emails / IPv4s / phone numbers found, text length after global
# redaction). The corpus is synthetic word salad with no PII, so the query
# DECLARES a deterministic augmentation step — every doc gains one email,
# every 3rd an IP, every 5th a phone, derived from doc_id — and then the
# operator under test (regex detect + global regexp_replace) runs on the
# augmented text. Patterns stay in the character-class subset that Java
# regex (Spark) and RE2 (DuckDB) interpret identically. Scale shape: pure
# per-row column expressions, no shuffle at all.
_q(
    "tx_pii_redact",
    r"""
    WITH aug AS (
        SELECT doc_id,
               concat(text, ' contact user', CAST(doc_id AS STRING), '@example.com',
                      CASE WHEN doc_id % 3 = 0
                           THEN concat(' from 10.0.', CAST(doc_id % 256 AS STRING), '.7')
                           ELSE '' END,
                      CASE WHEN doc_id % 5 = 0
                           THEN concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
                           ELSE '' END) AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(size(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0)) AS BIGINT) AS n_emails,
           CAST(size(regexp_extract_all(t, '([0-9]{1,3}\\.){3}[0-9]{1,3}', 0)) AS BIGINT) AS n_ips,
           CAST(size(regexp_extract_all(t, '\\+1-555-[0-9]{4}', 0)) AS BIGINT) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]'),
                '([0-9]{1,3}\\.){3}[0-9]{1,3}', '[IP]'),
                '\\+1-555-[0-9]{4}', '[PHONE]')) AS BIGINT) AS redacted_len
    FROM aug
    """,
    r"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                            ELSE '' END
                    || CASE WHEN doc_id % 5 = 0
                            THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
                '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS BIGINT) AS redacted_len
    FROM aug
    """,
)

# Repetition scoring (the Gopher/MassiveText "repetitious document" filters,
# Rae et al. 2021 table A1): per doc, the token coverage of the single most
# frequent word-2-gram and the fraction of word-3-gram occurrences whose
# gram repeats — both in integer ppm so the twin is exact. Scale shape:
# explode-to-shingles then per-doc hash-aggs; doc_id is the partition key
# throughout, so no global shuffle hot spot.
_q(
    "tx_repetition",
    f"""
    WITH base AS (
        SELECT doc_id, tk, size(tk) AS n_tokens
        FROM (SELECT doc_id, {_SPARK_TOK.format(c='text')} AS tk FROM documents)
        WHERE size(tk) >= 3
    ),
    c2 AS (
        SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, explode(transform(sequence(1, size(tk) - 1),
                   i -> concat_ws(' ', slice(tk, i, 2)))) AS g
            FROM base) t
        GROUP BY doc_id, g
    ),
    m2 AS (SELECT doc_id, max(c) AS top2_cnt FROM c2 GROUP BY doc_id),
    c3 AS (
        SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, explode(transform(sequence(1, size(tk) - 2),
                   i -> concat_ws(' ', slice(tk, i, 3)))) AS g
            FROM base) t
        GROUP BY doc_id, g
    ),
    m3 AS (
        SELECT doc_id,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3,
               sum(c) AS n3
        FROM c3 GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(m2.top2_cnt AS BIGINT) AS top2_cnt,
           CAST((1000000 * m2.top2_cnt * 2) DIV b.n_tokens AS BIGINT) AS top2_cov_ppm,
           CAST((1000000 * m3.dup3) DIV m3.n3 AS BIGINT) AS dup3_ppm
    FROM base b JOIN m2 ON b.doc_id = m2.doc_id JOIN m3 ON b.doc_id = m3.doc_id
    """,
    f"""
    WITH base AS (
        SELECT doc_id, tk, len(tk) AS n_tokens
        FROM (SELECT doc_id, {_DUCK_TOK.format(c='text')} AS tk FROM documents)
        WHERE len(tk) >= 3
    ),
    c2 AS (
        SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
                   i -> list_aggregate(tk[i:i+1], 'string_agg', ' '))) AS g
            FROM base) t
        GROUP BY doc_id, g
    ),
    m2 AS (SELECT doc_id, max(c) AS top2_cnt FROM c2 GROUP BY doc_id),
    c3 AS (
        SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
                   i -> list_aggregate(tk[i:i+2], 'string_agg', ' '))) AS g
            FROM base) t
        GROUP BY doc_id, g
    ),
    m3 AS (
        SELECT doc_id,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3,
               sum(c) AS n3
        FROM c3 GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(m2.top2_cnt AS BIGINT) AS top2_cnt,
           CAST((1000000 * m2.top2_cnt * 2) // b.n_tokens AS BIGINT) AS top2_cov_ppm,
           CAST((1000000 * m3.dup3) // m3.n3 AS BIGINT) AS dup3_ppm
    FROM base b JOIN m2 ON b.doc_id = m2.doc_id JOIN m3 ON b.doc_id = m3.doc_id
    """,
)

# Containment near-dup (asymmetric overlap): containment = |A∩B| /
# min(|A|, |B|) catches a document embedded verbatim inside a longer one —
# the subset-duplicate symmetric Jaccard structurally under-scores (a 100-
# token doc inside a 10k-token doc has Jaccard ~0.01 but containment 1.0).
# Candidates come from the same 12-hash/6-band per-source LSH machinery as
# dd_jaccard_pairs — no all-pairs join.
_q(
    "dd_containment",
    f"""
    WITH toks AS (SELECT doc_id, source, array_distinct({_SPARK_TOK.format(c='text')}) AS tk FROM documents),
    thash AS (SELECT doc_id, source, {_MH_TX_SPARK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, {_JP_SPARK_MH} FROM thash)
    {_jp_tail(lambda a, b: f"concat({a}, ':', {b})")}
    SELECT c.a_id, c.b_id,
           CAST(size(array_intersect(ta.tk, tb.tk)) AS BIGINT) AS overlap,
           round(CAST(size(array_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(least(size(ta.tk), size(tb.tk)) AS DOUBLE), 6) AS containment
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    WHERE CAST(size(array_intersect(ta.tk, tb.tk)) AS DOUBLE)
          / CAST(least(size(ta.tk), size(tb.tk)) AS DOUBLE) >= 0.9
    """,
    f"""
    WITH toks AS (SELECT doc_id, source, list_distinct({_DUCK_TOK.format(c='text')}) AS tk FROM documents),
    thash AS (SELECT doc_id, source, {_MH_TX_DUCK} AS tx FROM toks),
    hashes AS (SELECT doc_id, source, {_JP_DUCK_MH} FROM thash)
    {_jp_tail(lambda a, b: f"{a} || ':' || {b}")}
    SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(ta.tk, tb.tk)) AS BIGINT) AS overlap,
           round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                 / CAST(least(len(ta.tk), len(tb.tk)) AS DOUBLE), 6) AS containment
    FROM cand c JOIN toks ta ON c.a_id = ta.doc_id JOIN toks tb ON c.b_id = tb.doc_id
    WHERE CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
          / CAST(least(len(ta.tk), len(tb.tk)) AS DOUBLE) >= 0.9
    """,
)

# Source mixing stats (the data-mixture step of a training pipeline): per
# source block, doc/token counts, the exact integer-ppm token share, and
# the temperature-scaled (T=2 → sqrt) sampling weight. The share is exact
# BIGINT arithmetic; sqrt_weight is per-row (no cross-row float sum, so no
# aggregation-order hazard) and both engines evaluate the identical
# sqrt(double) — IEEE-correctly-rounded, bit-equal.
_q(
    "tx_sampling_weights",
    f"""
    WITH per_doc AS (
        SELECT source, size({_SPARK_TOK.format(c='text')}) AS n_tok FROM documents
    ),
    per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM per_doc GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per_src)
    SELECT source, n_docs, n_tokens,
           CAST((1000000 * n_tokens) DIV total_tokens AS BIGINT) AS token_share_ppm,
           round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS sqrt_weight
    FROM per_src CROSS JOIN tot
    """,
    f"""
    WITH per_doc AS (
        SELECT source, len({_DUCK_TOK.format(c='text')}) AS n_tok FROM documents
    ),
    per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM per_doc GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per_src)
    SELECT source, n_docs, n_tokens,
           CAST((1000000 * n_tokens) // total_tokens AS BIGINT) AS token_share_ppm,
           round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS sqrt_weight
    FROM per_src CROSS JOIN tot
    """,
)

# Cross-document exact-substring dedup census (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"): flag every
# word-8-gram that occurs in >= 2 distinct documents and report, per doc,
# how much of it is corpus-duplicated substring mass (distinct-8-gram count,
# duplicated count, integer ppm). Distinct from tx_repetition (WITHIN-doc
# n-gram repetition) — this is the ACROSS-corpus signal that drives
# substring-level dedup decisions. Scale shape: the only shuffles are a
# hash-agg on the 60-bit shingle hash and one equi-join back on it — the
# same narrow-key discipline as tx_contamination; no raw text moves.
_q(
    "dd_exact_substring",
    f"""
    WITH toks AS (SELECT doc_id, {_SPARK_TOK.format(c='text')} AS tk FROM documents),
    sh AS (SELECT doc_id, explode({_SPARK_SH8}) AS g FROM toks WHERE size(tk) >= 8),
    gd AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY g)
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN gd.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
           CAST((1000000 * sum(CASE WHEN gd.n_docs > 1 THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT) AS dup_ppm
    FROM sh s JOIN gd ON gd.g = s.g
    GROUP BY s.doc_id
    """,
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOK.format(c='text')} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_DUCK_SH8}) AS g FROM toks WHERE len(tk) >= 8),
    gd AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY g)
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN gd.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
           CAST((1000000 * sum(CASE WHEN gd.n_docs > 1 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS dup_ppm
    FROM sh s JOIN gd ON gd.g = s.g
    GROUP BY s.doc_id
    """,
)

# Unigram-LM rarity score (the CCNet/fastText-style LM quality filter,
# integer-exact): per token, rarity = 1e6 DIV corpus collection frequency
# (a monotone proxy for −log p(w) that sidesteps cross-engine libm log
# discrepancies), summed and averaged per document as exact BIGINTs. Low
# mean = boilerplate-common tokens; high mean = rare/OOV-heavy text — the
# two tails an LM-perplexity filter cuts. Scale shape: one hash-agg for the
# corpus vocabulary, one equi-join on the token, one per-doc hash-agg; the
# vocabulary side is broadcast-scale after aggregation.
_q(
    "tx_rarity",
    f"""
    WITH tok AS (SELECT doc_id, explode({_SPARK_TOK.format(c='text')}) AS w FROM documents),
    cf AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(1000000 DIV cf.c) AS BIGINT) AS rarity_sum,
           CAST(sum(1000000 DIV cf.c) DIV count(*) AS BIGINT) AS rarity_mean_ppm
    FROM tok t JOIN cf ON cf.w = t.w
    GROUP BY t.doc_id
    """,
    f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOK.format(c='text')}) AS w FROM documents),
    cf AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(1000000 // cf.c) AS BIGINT) AS rarity_sum,
           CAST(sum(1000000 // cf.c) // count(*) AS BIGINT) AS rarity_mean_ppm
    FROM tok t JOIN cf ON cf.w = t.w
    GROUP BY t.doc_id
    """,
)

# 7-day rolling activity (the trailing-window engagement shape): per
# (user, active day), events that day plus the total over the trailing
# 7-day RANGE window — a true range-frame window (RANGE BETWEEN 6
# PRECEDING), not a row frame, over integer epoch-day keys so both
# engines agree exactly. Scale shape: one hash-agg to daily grain, then
# a PARTITION BY user window (bounded per-user state, no global sort).
_q(
    "ev_rolling_7d",
    """
    WITH daily AS (
        SELECT user_id,
               datediff(CAST(ts AS DATE), DATE '1970-01-01') AS dayn,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, CAST(dayn AS BIGINT) AS dayn, n_events,
           CAST(sum(n_events) OVER (
               PARTITION BY user_id ORDER BY dayn
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_events_7d
    FROM daily
    """,
    """
    WITH daily AS (
        SELECT user_id,
               (CAST(ts AS DATE) - DATE '1970-01-01') AS dayn,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, CAST(dayn AS BIGINT) AS dayn, n_events,
           CAST(sum(n_events) OVER (
               PARTITION BY user_id ORDER BY dayn
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_events_7d
    FROM daily
    """,
)

# Corpus stopword/Zipf-head profile: the 50 most frequent tokens with
# their corpus coverage in ppm — the empirical stopword list a quality
# filter or a tokenizer-budget analysis starts from. NO global window:
# the top-50 cut is ORDER BY + LIMIT over the aggregated vocabulary
# (TakeOrdered — a k-row heap per partition then a k-row driver merge),
# and the rank within those 50 rows is a join-count over the 50-row set,
# keeping the engine-wide zero-single-partition-window invariant.
_q(
    "tx_stopword_profile",
    f"""
    WITH tok AS (SELECT doc_id, explode({_SPARK_TOK.format(c='text')}) AS w FROM documents),
    cf AS (SELECT w, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    top AS (SELECT w, cf FROM cf ORDER BY cf DESC, w LIMIT 50)
    SELECT t.w AS term, max(t.cf) AS cf,
           CAST(max(1000000 * t.cf DIV n.n) AS BIGINT) AS coverage_ppm,
           CAST(1 + count(t2.w) AS BIGINT) AS rk
    FROM top t CROSS JOIN tot n
    LEFT JOIN top t2 ON t2.cf > t.cf OR (t2.cf = t.cf AND t2.w < t.w)
    GROUP BY t.w
    """,
    f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOK.format(c='text')}) AS w FROM documents),
    cf AS (SELECT w, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    top AS (SELECT w, cf FROM cf ORDER BY cf DESC, w LIMIT 50)
    SELECT t.w AS term, max(t.cf) AS cf,
           CAST(max(1000000 * t.cf // n.n) AS BIGINT) AS coverage_ppm,
           CAST(1 + count(t2.w) AS BIGINT) AS rk
    FROM top t CROSS JOIN tot n
    LEFT JOIN top t2 ON t2.cf > t.cf OR (t2.cf = t.cf AND t2.w < t.w)
    GROUP BY t.w
    """,
)

# TF-IDF keyword extraction, integer-exact: per (doc, term), score =
# tf · 1e6 · N ÷ df (the idf carried as the exact integer ratio N/df in
# ppm rather than its log — monotone in log-idf per fixed tf, and free of
# cross-engine libm drift), top-5 terms per document on
# (score DESC, term ASC). The per-document keyword signal a training-data
# pipeline uses for topic labeling / domain mixing. Scale shape: two
# hash-aggs (term frequency, document frequency) + one equi-join on the
# term + a PARTITION BY doc_id top-k window (WindowGroupLimit) — the
# corpus-size side is a 1-row broadcast.
_q(
    "tx_tfidf_topterms",
    f"""
    WITH tok AS (SELECT doc_id, explode({_SPARK_TOK.format(c='text')}) AS w FROM documents),
    tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY w),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
               CAST((tf.tf * 1000000 * n.n) DIV df.df AS BIGINT) AS tfidf_ppm
        FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf_ppm, rk FROM (
        SELECT s.*, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf_ppm DESC, term) AS BIGINT) AS rk
        FROM scored s) t
    WHERE rk <= 5
    """,
    f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOK.format(c='text')}) AS w FROM documents),
    tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY w),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
               CAST((tf.tf * 1000000 * n.n) // df.df AS BIGINT) AS tfidf_ppm
        FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf_ppm, rk FROM (
        SELECT s.*, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf_ppm DESC, term) AS BIGINT) AS rk
        FROM scored s) t
    WHERE rk <= 5
    """,
)

# Exact length deciles WITHOUT a global sort or window (the profiling
# shape that survives 100 TB): histogram the integer doc lengths (distinct
# lengths ≪ docs), take cumulative counts via a bounded self-join over the
# small histogram, and read decile d as the smallest length whose
# cumulative count covers d/10 of the corpus. Every number is an exact
# BIGINT — no percentile_approx sketch divergence between engines.
_DECILES_BODY = """
    WITH hist AS (
        SELECT n_chars AS len, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cum AS (
        SELECT h.len, CAST(sum(h2.c) AS BIGINT) AS cum_c
        FROM hist h JOIN hist h2 ON h2.len <= h.len
        GROUP BY h.len
    ),
    d AS ({decile_rows})
    SELECT d.decile, CAST(min(c.len) AS BIGINT) AS len_at_decile
    FROM d CROSS JOIN tot t JOIN cum c ON 10 * c.cum_c >= d.decile * t.n
    GROUP BY d.decile
"""
_q(
    "tx_length_deciles",
    _DECILES_BODY.format(
        decile_rows="SELECT explode(sequence(1, 10)) AS decile"
    ),
    _DECILES_BODY.format(
        decile_rows="SELECT CAST(unnest(generate_series(1, 10)) AS INT) AS decile"
    ),
)

# Bigram conditional surprisal (the conditional-LM upgrade of tx_rarity's
# unigram rarity): per bigram (w1, w2), cost = 1e6·c(w1)/c(w1,w2) — the
# scaled inverse conditional probability p(w2|w1), summed and averaged per
# document as exact BIGINTs (same libm-free integer discipline). High mean
# = improbable word transitions (gibberish / shuffled text — what a KenLM
# perplexity filter cuts); low = formulaic text. Scale shape: two hash-aggs
# (unigram + bigram tables) and two equi-joins back on narrow keys.
_q(
    "tx_bigram_surprisal",
    f"""
    WITH tok AS (SELECT doc_id, tk FROM (SELECT doc_id, {_SPARK_TOK.format(c='text')} AS tk FROM documents)),
    bg AS (SELECT doc_id, explode(transform(sequence(1, size(tk) - 1),
                                            i -> struct(tk[i - 1] AS w1, tk[i] AS w2))) AS b
           FROM tok WHERE size(tk) >= 2),
    pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pairs GROUP BY w1),
    bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY w1, w2)
    SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum((1000000 * u.c1) DIV b.c2) AS BIGINT) AS surprisal_sum,
           CAST(sum((1000000 * u.c1) DIV b.c2) DIV count(*) AS BIGINT) AS surprisal_mean_ppm
    FROM pairs p JOIN uni u ON u.w1 = p.w1 JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
    GROUP BY p.doc_id
    """,
    f"""
    WITH tok AS (SELECT doc_id, tk FROM (SELECT doc_id, {_DUCK_TOK.format(c='text')} AS tk FROM documents)),
    bg AS (SELECT doc_id, unnest(list_transform(generate_series(2, len(tk)),
                                                i -> {{'w1': tk[i - 1], 'w2': tk[i]}})) AS b
           FROM tok WHERE len(tk) >= 2),
    pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pairs GROUP BY w1),
    bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY w1, w2)
    SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum((1000000 * u.c1) // b.c2) AS BIGINT) AS surprisal_sum,
           CAST(sum((1000000 * u.c1) // b.c2) // count(*) AS BIGINT) AS surprisal_mean_ppm
    FROM pairs p JOIN uni u ON u.w1 = p.w1 JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
    GROUP BY p.doc_id
    """,
)

# Distinct-cardinality sketch profiler (Flajolet-Martin 1985, 16
# independent deterministic registers — the same register discipline as the
# kg_anf neighborhood sketches): per source block, the FM estimate of the
# distinct-token vocabulary NEXT TO the exact count, so the profiler's
# error is visible in the row. At 100 TB the exact count is the expensive
# column (count-distinct shuffle on the token); the sketch column is the
# one a profiler actually ships — a 16×bigint bit_or per group, mergeable
# across partitions with no distinct shuffle at all. Registers are
# md5-derived (no RNG), so both engines compute identical bitmasks.
def _fm_sketch_sql(dialect: str, n_registers: int = 16) -> str:
    R = n_registers
    if dialect == "spark":
        tok = f"SELECT source, explode({_SPARK_TOK.format(c='text')}) AS w FROM documents"

        def h(r: int) -> str:
            return f"CAST(conv(substring(md5(concat('fm:{r}:', w)), 1, 15), 16, 10) AS BIGINT)"

        def tz_shift(r: int) -> str:
            return (
                f"shiftleft(CAST(1 AS BIGINT), "
                f"least(bit_count({h(r)} ^ ({h(r)} - 1)) - 1, 47)) AS s{r}"
            )

        ones = " + ".join(f"(bit_count(m{r} ^ (m{r} + 1)) - 1)" for r in range(R))
    else:
        tok = f"SELECT source, unnest({_DUCK_TOK.format(c='text')}) AS w FROM documents"

        def h(r: int) -> str:
            return f"CAST('0x' || substr(md5('fm:{r}:' || w), 1, 15) AS BIGINT)"

        def tz_shift(r: int) -> str:
            return (
                f"(CAST(1 AS BIGINT) << "
                f"least(bit_count(xor({h(r)}, {h(r)} - 1)) - 1, 47)) AS s{r}"
            )

        ones = " + ".join(f"(bit_count(xor(m{r}, m{r} + 1)) - 1)" for r in range(R))
    shifts = ", ".join(tz_shift(r) for r in range(R))
    ors = ", ".join(f"bit_or(s{r}) AS m{r}" for r in range(R))
    return f"""
    WITH tok AS (SELECT DISTINCT source, w FROM ({tok})),
    hv AS (SELECT source, {shifts} FROM tok),
    regs AS (SELECT source, {ors} FROM hv GROUP BY source),
    ex AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct FROM tok GROUP BY source)
    SELECT e.source, e.exact_distinct,
           CAST({ones} AS BIGINT) AS r_sum,
           round(pow(2.0, ({ones}) / {float(R)}) / 0.77351, 4) AS fm_est
    FROM regs r JOIN ex e ON e.source = r.source
    """


_q("tx_distinct_sketch", _fm_sketch_sql("spark"), _fm_sketch_sql("duckdb"))

# Deterministic train/val/test split (the release step of every training
# pipeline): each doc lands in a split by md5(doc_id) bucket — 98/1/1 over
# 100 buckets — so the assignment is reproducible on any engine, any run,
# any partitioning, with no RNG and no global sort. Reported per
# source × split with exact counts and token mass, the table a data-mixture
# audit reads. Scale shape: one per-row hash + one hash-agg.
_SPLIT_CASE = (
    "CASE WHEN bk < 98 THEN 'train' WHEN bk = 98 THEN 'val' ELSE 'test' END"
)
_q(
    "tx_split",
    f"""
    WITH b AS (
        SELECT source,
               CAST(conv(substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100 AS bk,
               size({_SPARK_TOK.format(c='text')}) AS n_tok
        FROM documents
    )
    SELECT source, {_SPLIT_CASE} AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM b GROUP BY source, {_SPLIT_CASE}
    """,
    f"""
    WITH b AS (
        SELECT source,
               CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk,
               len({_DUCK_TOK.format(c='text')}) AS n_tok
        FROM documents
    )
    SELECT source, {_SPLIT_CASE} AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM b GROUP BY source, {_SPLIT_CASE}
    """,
)

# ---------------------------------------------------------------------------
# KG pipeline queries (synthesized interleaved documents). The DuckDB twins
# select from committed parquet produced WITHOUT Spark by the single-node
# oracle (tools/make_kg_oracle_fixture.py: pure-Python datagen → oracle
# ingest/extract → oracle link + union-find canonicalization), so the driver
# gets a real value-hash comparison for the flagship KG path too.
# ---------------------------------------------------------------------------

import os as _os

KG_N_DOCS = 96
_KG_FIXTURE_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "fixtures", "kg_oracle"
)

_KG_CHUNK_COLS = (
    "doc_id, seq, span_idx, span_offset, kind, media_ref, "
    "chunk_index, chunk_id, char_start, char_end, heading, tenant_id"
)

# J2/J3 tenant-scope twin over the KG tables (reference scopes every data op
# by tenant: /root/reference/backend/db/tenant_scope.py:1-10,
# retrieval_service.py:91-116). The Spark side scopes with a left_semi join
# against the tenant's doc set; the oracle scopes the fixture by the same
# deterministic tenant assignment.
KG_SCOPE_TENANT = "T03"

KG_DUCK_SQL: dict[str, str] = {
    "kg_ingest_chunks": f"SELECT {_KG_CHUNK_COLS} FROM '{_KG_FIXTURE_DIR}/chunks_fixed.parquet'",
    "kg_ingest_chunks_paragraph": f"SELECT {_KG_CHUNK_COLS} FROM '{_KG_FIXTURE_DIR}/chunks_paragraph.parquet'",
    "kg_ingest_chunks_semantic": f"SELECT {_KG_CHUNK_COLS} FROM '{_KG_FIXTURE_DIR}/chunks_semantic.parquet'",
    "kg_triples": f"SELECT * FROM '{_KG_FIXTURE_DIR}/triples.parquet'",
    "kg_linked_mentions": f"SELECT * FROM '{_KG_FIXTURE_DIR}/linked_mentions.parquet'",
    "kg_canonical_entities": f"SELECT * FROM '{_KG_FIXTURE_DIR}/canonical_entities.parquet'",
    "kg_tenant_scoped_mentions": (
        f"SELECT * FROM '{_KG_FIXTURE_DIR}/linked_mentions.parquet' "
        f"WHERE tenant_id = '{KG_SCOPE_TENANT}'"
    ),
    "kg_tenant_counts": (
        f"SELECT tenant_id, count(*) AS n_mentions, "
        f"count(DISTINCT doc_id) AS n_docs, "
        f"count(DISTINCT CASE WHEN linked THEN entity_id END) AS n_entities "
        f"FROM '{_KG_FIXTURE_DIR}/linked_mentions.parquet' GROUP BY tenant_id"
    ),
    "kg_edges": f"SELECT * FROM '{_KG_FIXTURE_DIR}/edges.parquet'",
    "kg_nodes": f"SELECT * FROM '{_KG_FIXTURE_DIR}/nodes.parquet'",
    "kg_ego_edges": f"""
        SELECT DISTINCT * FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        WHERE src = 'E000000' OR dst = 'E000000'
    """,
    "kg_relation_counts": f"""
        SELECT rel, count(*) AS n_edges,
               count(DISTINCT src) AS n_src, count(DISTINCT dst) AS n_dst,
               count(DISTINCT doc_id) AS n_docs
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' GROUP BY rel
    """,
    "kg_khop": f"""
        WITH RECURSIVE sym AS (
            SELECT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
            UNION
            SELECT dst AS src, src AS dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        ),
        reach(entity, hop) AS (
            SELECT 'E000000' AS entity, 0 AS hop
            UNION ALL
            SELECT s.dst, r.hop + 1 FROM reach r JOIN sym s ON s.src = r.entity
            WHERE r.hop < 2
        )
        SELECT entity, CAST(min(hop) AS INT) AS hop FROM reach GROUP BY entity
    """,
    "kg_entity_degrees": f"""
        SELECT entity, count(*) AS degree FROM (
            SELECT src AS entity FROM '{_KG_FIXTURE_DIR}/edges.parquet'
            UNION ALL
            SELECT dst AS entity FROM '{_KG_FIXTURE_DIR}/edges.parquet') u
        GROUP BY entity
        ORDER BY degree DESC, entity
        LIMIT 25
    """,
    "kg_cooccurrence": f"""
        WITH per_doc AS (
            SELECT m.doc_id,
                   coalesce(c.canonical_entity, m.entity_id) AS entity,
                   count(*) AS n_mentions
            FROM '{_KG_FIXTURE_DIR}/linked_mentions.parquet' m
            LEFT JOIN '{_KG_FIXTURE_DIR}/canonical_map.parquet' c
              ON m.entity_id = c.entity_id
            GROUP BY m.doc_id, coalesce(c.canonical_entity, m.entity_id)
        ),
        resolved AS (
            SELECT doc_id, entity FROM (
                SELECT doc_id, entity,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY n_mentions DESC, entity) AS rk
                FROM per_doc
            ) t WHERE rk <= 32
        )
        SELECT a.entity AS entity_a, b.entity AS entity_b,
               count(*) AS n_docs
        FROM resolved a
        JOIN resolved b ON a.doc_id = b.doc_id AND a.entity < b.entity
        GROUP BY a.entity, b.entity
        HAVING count(*) >= 2
    """,
}


def _kg_pagerank_oracle_sql(
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    seeds: list[str] | None = None,
) -> str:
    """Unrolled fixed-point PageRank twin of operators/graph.pagerank.

    All arithmetic is scaled-integer (``//`` floor division on positive
    BIGINTs ≡ Spark's ``DIV``), so partial-agg order cannot flip a bit and
    the value-hash comparison is exact. Dangling mass is dropped in both
    engines (documented in the operator docstring). With ``seeds``, the
    initial mass and teleport term go only to the seed set (personalized
    PageRank), exactly as the operator does."""
    edges = f"'{_KG_FIXTURE_DIR}/edges.parquet'"
    if seeds is None:
        teleport = f"(SELECT (({100 - damping_pct} * {scale}) // 100) // n FROM params)"
        pr0_expr = f"(SELECT {scale} // n FROM params)"
    else:
        seed_list = ", ".join(f"'{s}'" for s in seeds)
        t_val = ((100 - damping_pct) * scale // 100) // len(seeds)
        teleport = f"(CASE WHEN nd.entity IN ({seed_list}) THEN {t_val} ELSE 0 END)"
        pr0_expr = (
            f"(CASE WHEN entity IN ({seed_list}) THEN {scale // len(seeds)} ELSE 0 END)"
        )
    parts = [
        f"""
    WITH e AS (SELECT DISTINCT src, dst FROM {edges} WHERE src <> dst),
    nodes AS (SELECT src AS entity FROM e UNION SELECT dst AS entity FROM e),
    deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
    params AS (SELECT count(*) AS n FROM nodes),
    pr0 AS (SELECT entity, {pr0_expr} AS pr FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    pr{k} AS (
        SELECT nd.entity,
               {teleport} + ({damping_pct} * coalesce(s.s, 0)) // 100 AS pr
        FROM nodes nd LEFT JOIN (
            SELECT e.dst AS entity, sum(p.pr // d.out_deg) AS s
            FROM e JOIN pr{k - 1} p ON e.src = p.entity
                   JOIN deg d ON e.src = d.src
            GROUP BY e.dst
        ) s ON nd.entity = s.entity
    )"""
        )
    parts.append(
        f"\n    SELECT entity, CAST(pr AS BIGINT) AS pr_scaled FROM pr{iterations}"
    )
    return "".join(parts)


KG_DUCK_SQL["kg_pagerank"] = _kg_pagerank_oracle_sql()
KG_DUCK_SQL["kg_ppr"] = _kg_pagerank_oracle_sql(seeds=["E000000"])


def _kg_weighted_pagerank_oracle_sql(
    iterations: int = 5, damping_pct: int = 85, scale: int = 1_000_000
) -> str:
    """Unrolled twin of operators/graph.weighted_pagerank: edge weight =
    distinct (rel, doc) mention count, mass split ∝ weight, same
    scaled-integer floor division."""
    edges = f"'{_KG_FIXTURE_DIR}/edges.parquet'"
    parts = [
        f"""
    WITH e AS (
        SELECT src, dst, count(DISTINCT rel || '|' || doc_id) AS w
        FROM {edges} WHERE src <> dst GROUP BY src, dst
    ),
    nodes AS (SELECT src AS entity FROM e UNION SELECT dst AS entity FROM e),
    outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src),
    params AS (SELECT count(*) AS n FROM nodes),
    pr0 AS (SELECT entity, (SELECT {scale} // n FROM params) AS pr FROM nodes)"""
    ]
    teleport = f"(SELECT (({100 - damping_pct} * {scale}) // 100) // n FROM params)"
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    pr{k} AS (
        SELECT nd.entity,
               {teleport} + ({damping_pct} * coalesce(s.s, 0)) // 100 AS pr
        FROM nodes nd LEFT JOIN (
            SELECT e.dst AS entity, sum((p.pr * e.w) // o.out_w) AS s
            FROM e JOIN pr{k - 1} p ON e.src = p.entity
                   JOIN outw o ON e.src = o.src
            GROUP BY e.dst
        ) s ON nd.entity = s.entity
    )"""
        )
    parts.append(
        f"\n    SELECT entity, CAST(pr AS BIGINT) AS pr_scaled FROM pr{iterations}"
    )
    return "".join(parts)


KG_DUCK_SQL["kg_weighted_pagerank"] = _kg_weighted_pagerank_oracle_sql()

# Degree-oriented triangle membership counts (twin of operators/graph.triangles):
# identical orientation rule spelled with portable boolean comparisons.
KG_DUCK_SQL["kg_triangles"] = f"""
    WITH und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    deg AS (
        SELECT entity, count(*) AS d FROM (
            SELECT a AS entity FROM und UNION ALL SELECT b AS entity FROM und) u
        GROUP BY entity
    ),
    orient AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
                    THEN und.a ELSE und.b END AS u,
               CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
                    THEN und.b ELSE und.a END AS v,
               CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
                    THEN db.d ELSE da.d END AS dv
        FROM und JOIN deg da ON und.a = da.entity
                 JOIN deg db ON und.b = db.entity
    ),
    tri AS (
        -- wedge pairs ordered by the SAME (degree, id) order the
        -- orientation uses (id alone would miss triangles whose lex and
        -- degree orders disagree)
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM orient e1
        JOIN orient e2 ON e1.u = e2.u
         AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
        JOIN orient e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT entity, count(*) AS n_triangles FROM (
        SELECT x AS entity FROM tri
        UNION ALL SELECT y AS entity FROM tri
        UNION ALL SELECT z AS entity FROM tri) m
    GROUP BY entity
"""

def _kg_kcore_oracle_sql(k: int = 3, rounds: int = 8) -> str:
    """Unrolled k-core peel twin of operators/graph.kcore: *rounds*
    identical peel rounds (the operator's early break only fires at a
    fixpoint, where further rounds are no-ops, so the fixed unroll and the
    capped loop agree by construction). Pure set/integer logic."""
    edges = f"'{_KG_FIXTURE_DIR}/edges.parquet'"
    parts = [
        f"""
    WITH und0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM {edges} WHERE src <> dst
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    alive{r} AS MATERIALIZED (
        SELECT entity FROM (
            SELECT entity, count(*) AS d FROM (
                SELECT a AS entity FROM und{r - 1}
                UNION ALL SELECT b AS entity FROM und{r - 1}) u
            GROUP BY entity) t
        WHERE d >= {k}
    ),
    und{r} AS MATERIALIZED (
        SELECT a, b FROM und{r - 1}
        WHERE a IN (SELECT entity FROM alive{r})
          AND b IN (SELECT entity FROM alive{r})
    )"""
        )
    parts.append(
        f"""
    SELECT entity, count(*) AS core_degree FROM (
        SELECT a AS entity FROM und{rounds}
        UNION ALL SELECT b AS entity FROM und{rounds}) m
    GROUP BY entity
    HAVING count(*) >= {k}"""
    )
    return "".join(parts)


# k=2: the alias-star-shaped fixture graph has no 3-core; the 2-core
# (pendant-tree removal) keeps 26 corroborated entities
KG_DUCK_SQL["kg_kcore"] = _kg_kcore_oracle_sql(k=2)

# Structural (shared-neighbor Jaccard) similarity twin of
# operators/graph.structural_similarity: co-neighbor blocking, per-entity
# neighbor cap at the 64 smallest ids, exact Jaccard over the capped sets.
KG_DUCK_SQL["kg_structsim"] = f"""
    WITH sym AS (
        SELECT DISTINCT src AS entity, dst AS nbr
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        UNION
        SELECT DISTINCT dst AS entity, src AS nbr
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    capped AS (
        SELECT entity, nbr FROM (
            SELECT entity, nbr,
                   row_number() OVER (PARTITION BY entity ORDER BY nbr ASC) AS rk
            FROM sym) t
        WHERE rk <= 64
    ),
    sizes AS (SELECT entity, count(*) AS deg FROM capped GROUP BY entity),
    shared AS (
        SELECT a.entity AS entity_a, b.entity AS entity_b, count(*) AS n_shared
        FROM capped a JOIN capped b
          ON a.nbr = b.nbr AND a.entity < b.entity
        GROUP BY a.entity, b.entity
        HAVING count(*) >= 2
    )
    SELECT s.entity_a, s.entity_b, s.n_shared,
           round(CAST(s.n_shared AS DOUBLE)
                 / CAST(sa.deg + sb.deg - s.n_shared AS DOUBLE), 6) AS nbr_jaccard
    FROM shared s
    JOIN sizes sa ON s.entity_a = sa.entity
    JOIN sizes sb ON s.entity_b = sb.entity
"""

# Per-relation structural profile twin (operators/graph.predicate_profile):
# distinct-pair counts and PARIS-style functionality ratios.
KG_DUCK_SQL["kg_predicate_profile"] = f"""
    WITH pairs AS (
        SELECT DISTINCT rel, src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    )
    SELECT rel,
           count(*) AS n_pairs,
           count(DISTINCT src) AS n_src,
           count(DISTINCT dst) AS n_dst,
           round(CAST(count(DISTINCT src) AS DOUBLE) / count(*), 6) AS functionality,
           round(CAST(count(DISTINCT dst) AS DOUBLE) / count(*), 6) AS inv_functionality
    FROM pairs GROUP BY rel
"""

# 2-hop metapath twin (operators/graph.metapath_counts): in/out edge lists
# capped at the 32 smallest (rel, endpoint) rows per middle entity, then
# joined on the middle entity.
KG_DUCK_SQL["kg_metapaths"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    ins AS (
        SELECT rel AS rel_a, dst AS mid FROM (
            SELECT rel, src, dst,
                   row_number() OVER (PARTITION BY dst ORDER BY rel, src) AS rk
            FROM dedup) t
        WHERE rk <= 32
    ),
    outs AS (
        SELECT rel AS rel_b, src AS mid FROM (
            SELECT rel, src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY rel, dst) AS rk
            FROM dedup) t
        WHERE rk <= 32
    )
    SELECT rel_a, rel_b, count(*) AS n_paths, count(DISTINCT mid) AS n_mids
    FROM ins JOIN outs USING (mid)
    GROUP BY rel_a, rel_b
"""

# Relation co-occurrence on shared subjects twin
# (operators/graph.relation_cooccurrence).
KG_DUCK_SQL["kg_rel_cooccur"] = f"""
    WITH sr AS (
        SELECT DISTINCT src, rel FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    )
    SELECT a.rel AS rel_a, b.rel AS rel_b, count(DISTINCT a.src) AS n_subjects
    FROM sr a JOIN sr b ON a.src = b.src AND a.rel < b.rel
    GROUP BY a.rel, b.rel
"""

# Deterministic corrupted-tail negative sampling twin
# (operators/kgtrain.negative_samples): same md5→60-bit-int arithmetic
# (CAST('0x'||substr(md5(x),1,15) AS BIGINT) == Spark
# conv(substring(md5(x),1,15),16,10)), same bucketed vocab indexing, same
# filtered-setting anti-join. n_neg=2, n_buckets=64. The `ranked` CTE's
# row_number() equals the Spark side's join-count rank (bkr = |buckets
# with smaller bk|) — same values; DuckDB keeps the window form because
# the single-partition-window scale concern is Spark-only.
KG_DUCK_SQL["kg_negative_samples"] = f"""
    WITH pos AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    vocab AS (
        SELECT entity,
               CAST('0x' || substr(md5('vb:' || entity), 1, 15) AS BIGINT) % 64 AS bk
        FROM (SELECT src AS entity FROM pos UNION SELECT dst FROM pos) e
    ),
    indexed AS (
        SELECT entity, bk,
               row_number() OVER (PARTITION BY bk ORDER BY entity) - 1 AS i
        FROM vocab
    ),
    sizes AS (SELECT bk, count(*) AS bk_n FROM indexed GROUP BY bk),
    ranked AS (
        SELECT bk, bk_n, row_number() OVER (ORDER BY bk) - 1 AS bkr FROM sizes
    ),
    nn AS (SELECT count(*) AS n_ne FROM sizes),
    gen AS (
        SELECT p.src, p.rel, p.dst, j.neg_idx,
               concat_ws('|', p.src, p.rel, p.dst, CAST(j.neg_idx AS VARCHAR)) AS key
        FROM pos p CROSS JOIN (VALUES (0), (1)) j(neg_idx)
    ),
    placed AS (
        SELECT g.*,
               CAST('0x' || substr(md5('nb:' || g.key), 1, 15) AS BIGINT) % nn.n_ne AS bkr,
               CAST('0x' || substr(md5('ni:' || g.key), 1, 15) AS BIGINT) AS hi
        FROM gen g CROSS JOIN nn
    ),
    sampled AS (
        SELECT p.src, p.rel, p.dst, p.neg_idx, ix.entity AS neg_dst
        FROM placed p
        JOIN ranked r ON r.bkr = p.bkr
        JOIN indexed ix ON ix.bk = r.bk AND ix.i = p.hi % r.bk_n
    )
    SELECT s.* FROM sampled s
    LEFT JOIN pos fp ON fp.src = s.src AND fp.rel = s.rel AND fp.dst = s.neg_dst
    WHERE fp.src IS NULL
"""

# TransE margin-loss twin (operators/kgtrain.transe_margin_loss): the same
# deterministic md5-derived U(-6/sqrt(d), 6/sqrt(d)) embedding init, L1
# score, and filtered corrupted-tail samples — value-level parity for a
# training op. dim=16, n_neg=2, gamma=1.0.
_TRANSE_DIM = 16


def _duck_emb(prefix: str, col: str, dim: int = _TRANSE_DIM) -> str:
    scale = 6.0 / (dim ** 0.5)
    return (
        f"list_transform(range(0, {dim}), i -> "
        f"(CAST('0x' || substr(md5('{prefix}' || {col} || ':' || CAST(i AS VARCHAR)), 1, 15) "
        f"AS BIGINT) / 1152921504606846976.0 * 2 - 1) * {scale!r})"
    )


def _duck_l1(a: str, b: str, c: str, dim: int = _TRANSE_DIM) -> str:
    return (
        f"list_sum(list_transform(range(0, {dim}), i -> "
        f"abs({a}[i + 1] + {b}[i + 1] - {c}[i + 1])))"
    )


def _duck_dot3(a: str, b: str, c: str, dim: int = _TRANSE_DIM) -> str:
    return (
        f"list_sum(list_transform(range(0, {dim}), i -> "
        f"{a}[i + 1] * {b}[i + 1] * {c}[i + 1]))"
    )


# DistMult margin loss (operators/kgtrain.distmult_margin_loss): same
# sampler and md5-embedding arithmetic as the TransE twin, trilinear
# score with HIGHER-is-better hinge, distinct "de:"/"dr:" init prefixes.
KG_DUCK_SQL["kg_distmult_loss"] = f"""
    WITH samples AS (
        SELECT * FROM ({KG_DUCK_SQL["kg_negative_samples"]})
    ),
    emb AS (
        SELECT rel,
               {_duck_emb("de:", "src")} AS es,
               {_duck_emb("dr:", "rel")} AS rr,
               {_duck_emb("de:", "dst")} AS eo,
               {_duck_emb("de:", "neg_dst")} AS en
        FROM samples
    ),
    scored AS (
        SELECT rel,
               greatest(0.0, 1.0 - {_duck_dot3("es", "rr", "eo")}
                              + {_duck_dot3("es", "rr", "en")}) AS hinge
        FROM emb
    )
    SELECT rel, count(*) AS n_samples,
           CAST(sum(CASE WHEN hinge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           round(avg(hinge), 6) AS avg_loss
    FROM scored GROUP BY rel
"""

# Knowledge-Vault-style per-fact evidence aggregation
# (operators/graph.triple_evidence): integer-ppm confidence math.
KG_DUCK_SQL["kg_triple_evidence"] = f"""
    SELECT src, rel, dst,
           count(*) AS n_mentions,
           count(DISTINCT doc_id) AS n_docs,
           count(DISTINCT chunk_id) AS n_chunks,
           max(CAST(round(conf * 1000000) AS BIGINT)) AS max_conf_ppm,
           CAST(sum(CAST(round(conf * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_conf_ppm
    FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    GROUP BY src, rel, dst
"""

KG_DUCK_SQL["kg_transe_loss"] = f"""
    WITH samples AS (
        SELECT * FROM ({KG_DUCK_SQL["kg_negative_samples"]})
    ),
    emb AS (
        SELECT rel,
               {_duck_emb("te:", "src")} AS es,
               {_duck_emb("tr:", "rel")} AS rr,
               {_duck_emb("te:", "dst")} AS eo,
               {_duck_emb("te:", "neg_dst")} AS en
        FROM samples
    ),
    scored AS (
        SELECT rel,
               greatest(0.0, 1.0 + {_duck_l1("es", "rr", "eo")}
                              - {_duck_l1("es", "rr", "en")}) AS hinge
        FROM emb
    )
    SELECT rel, count(*) AS n_samples,
           CAST(sum(CASE WHEN hinge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           round(avg(hinge), 6) AS avg_loss
    FROM scored GROUP BY rel
"""

# One-full-batch-SGD-step twin (operators/kgtrain.transe_sgd_step +
# transe_loss_with): the L1 subgradients are sign vectors, so every
# gradient accumulation is a sum of exact small-integer floats —
# order-independent and bit-identical across engines. The step unrolls as:
# sign(v_pos/v_neg) per active sample → four (name, grad) contribution
# streams with the Spark code's "e:"/"r:" namespacing → per-(name, dim i)
# sums via a 16-row index cross join → emb' = init − 0.01·grad → the same
# margin loss re-scored against the materialized post-step tables.
_DUCK_SGN = "CASE WHEN x > 0 THEN 1.0 WHEN x < 0 THEN -1.0 ELSE 0.0 END"
KG_DUCK_SQL["kg_transe_step_loss"] = f"""
    WITH samples AS (
        SELECT * FROM ({KG_DUCK_SQL["kg_negative_samples"]})
    ),
    emb0 AS (
        SELECT src, rel, dst, neg_dst,
               {_duck_emb("te:", "src")} AS es,
               {_duck_emb("tr:", "rel")} AS rr,
               {_duck_emb("te:", "dst")} AS eo,
               {_duck_emb("te:", "neg_dst")} AS en
        FROM samples
    ),
    vecs AS (
        SELECT src, rel, dst, neg_dst,
               list_transform(range(0, {_TRANSE_DIM}),
                              i -> es[i + 1] + rr[i + 1] - eo[i + 1]) AS vp,
               list_transform(range(0, {_TRANSE_DIM}),
                              i -> es[i + 1] + rr[i + 1] - en[i + 1]) AS vn
        FROM emb0
    ),
    active AS (
        SELECT src, rel, dst, neg_dst,
               list_transform(vp, x -> {_DUCK_SGN}) AS sp,
               list_transform(vn, x -> {_DUCK_SGN}) AS sn
        FROM vecs
        WHERE greatest(0.0, 1.0 + list_sum(list_transform(vp, x -> abs(x)))
                              - list_sum(list_transform(vn, x -> abs(x)))) > 0
    ),
    contribs AS (
        SELECT 'e:' || src AS name,
               list_transform(range(0, {_TRANSE_DIM}),
                              i -> sp[i + 1] - sn[i + 1]) AS g
        FROM active
        UNION ALL
        SELECT 'r:' || rel,
               list_transform(range(0, {_TRANSE_DIM}),
                              i -> sp[i + 1] - sn[i + 1])
        FROM active
        UNION ALL
        SELECT 'e:' || dst, list_transform(sp, x -> -x) FROM active
        UNION ALL
        SELECT 'e:' || neg_dst, sn FROM active
    ),
    dims AS (SELECT unnest(range(0, {_TRANSE_DIM})) AS i),
    grads AS (
        SELECT c.name, d.i, sum(c.g[d.i + 1]) AS gi
        FROM contribs c CROSS JOIN dims d
        GROUP BY c.name, d.i
    ),
    gvec AS (SELECT name, list(gi ORDER BY i) AS grad FROM grads GROUP BY name),
    vocab AS (
        SELECT src AS entity FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        UNION
        SELECT dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    ents AS (
        SELECT v.entity,
               CASE WHEN gv.grad IS NULL THEN v.init
                    ELSE list_transform(range(0, {_TRANSE_DIM}),
                                        i -> v.init[i + 1]
                                             - 0.01 * gv.grad[i + 1])
               END AS emb
        FROM (SELECT entity, {_duck_emb("te:", "entity")} AS init
              FROM vocab) v
        LEFT JOIN gvec gv ON gv.name = 'e:' || v.entity
    ),
    rels AS (
        SELECT r.rel,
               CASE WHEN gv.grad IS NULL THEN r.init
                    ELSE list_transform(range(0, {_TRANSE_DIM}),
                                        i -> r.init[i + 1]
                                             - 0.01 * gv.grad[i + 1])
               END AS emb
        FROM (SELECT rel, {_duck_emb("tr:", "rel")} AS init
              FROM (SELECT DISTINCT rel
                    FROM '{_KG_FIXTURE_DIR}/edges.parquet')) r
        LEFT JOIN gvec gv ON gv.name = 'r:' || r.rel
    ),
    scored AS (
        SELECT s.rel,
               greatest(0.0, 1.0 + {_duck_l1("e1.emb", "re.emb", "e2.emb")}
                              - {_duck_l1("e1.emb", "re.emb", "e3.emb")})
                   AS hinge
        FROM samples s
        JOIN ents e1 ON e1.entity = s.src
        JOIN ents e2 ON e2.entity = s.dst
        JOIN ents e3 ON e3.entity = s.neg_dst
        JOIN rels re ON re.rel = s.rel
    )
    SELECT rel, count(*) AS n_samples,
           CAST(sum(CASE WHEN hinge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           round(avg(hinge), 6) AS avg_loss
    FROM scored GROUP BY rel
"""

# Link-prediction twin (operators/kgtrain.transe_predict_tails): filtered
# top-3 new tails per observed (src, rel), type-constrained candidates
# capped at the 256 most frequent tails per relation, scores rounded to 6
# BEFORE ranking so both engines order identically.
KG_DUCK_SQL["kg_transe_link_pred"] = f"""
    WITH pos AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    cands AS (
        SELECT rel, dst AS pred_dst FROM (
            SELECT rel, dst, count(*) AS n,
                   row_number() OVER (PARTITION BY rel ORDER BY count(*) DESC, dst) AS rk
            FROM pos GROUP BY rel, dst) t
        WHERE rk <= 256
    ),
    queries AS (SELECT DISTINCT src, rel FROM pos),
    joined AS (
        SELECT q.src, q.rel, c.pred_dst
        FROM queries q JOIN cands c ON c.rel = q.rel
    ),
    emb AS (
        SELECT src, rel, pred_dst,
               {_duck_emb("te:", "src")} AS es,
               {_duck_emb("tr:", "rel")} AS rr,
               {_duck_emb("te:", "pred_dst")} AS ec
        FROM joined
    ),
    scored AS (
        SELECT src, rel, pred_dst,
               round({_duck_l1("es", "rr", "ec")}, 6) AS score
        FROM emb
    ),
    fresh AS (
        SELECT s.* FROM scored s
        LEFT JOIN pos p ON p.src = s.src AND p.rel = s.rel AND p.dst = s.pred_dst
        WHERE p.src IS NULL
    )
    SELECT src, rel, pred_dst, score, rank FROM (
        SELECT src, rel, pred_dst, score,
               row_number() OVER (PARTITION BY src, rel ORDER BY score, pred_dst) AS rank
        FROM fresh) t
    WHERE rank <= 3
"""

# Link-prediction quality twin (operators/kgtrain.transe_eval): filtered
# MRR / hits@3 per relation, rank = 1 + count of non-positive rivals with
# strictly better (score, id).
KG_DUCK_SQL["kg_transe_eval"] = f"""
    WITH pos AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    cands AS (
        SELECT rel, dst AS cand FROM (
            SELECT rel, dst, count(*) AS n,
                   row_number() OVER (PARTITION BY rel ORDER BY count(*) DESC, dst) AS rk
            FROM pos GROUP BY rel, dst) t
        WHERE rk <= 256
    ),
    q AS (
        SELECT src, rel, dst,
               {_duck_emb("te:", "src")} AS es,
               {_duck_emb("tr:", "rel")} AS rr,
               {_duck_emb("te:", "dst")} AS eo
        FROM pos
    ),
    qs AS (
        SELECT src, rel, dst, es, rr,
               round({_duck_l1("es", "rr", "eo")}, 6) AS true_score
        FROM q
    ),
    scored AS (
        SELECT src, rel, dst, true_score, cand,
               round({_duck_l1("es", "rr", "ec")}, 6) AS cand_score
        FROM (
            SELECT qs.src, qs.rel, qs.dst, qs.es, qs.rr, qs.true_score,
                   c.cand, {_duck_emb("te:", "c.cand")} AS ec
            FROM qs JOIN cands c ON c.rel = qs.rel AND c.cand <> qs.dst
        ) s
    ),
    rivals AS (
        SELECT s.src, s.rel, s.dst, count(*) AS n_better
        FROM scored s
        LEFT JOIN pos p ON p.src = s.src AND p.rel = s.rel AND p.dst = s.cand
        WHERE p.src IS NULL
          AND (s.cand_score < s.true_score
               OR (s.cand_score = s.true_score AND s.cand < s.dst))
        GROUP BY s.src, s.rel, s.dst
    ),
    ranked AS (
        SELECT p.rel, coalesce(r.n_better, 0) + 1 AS rank
        FROM pos p LEFT JOIN rivals r
          ON r.src = p.src AND r.rel = p.rel AND r.dst = p.dst
    )
    SELECT rel, count(*) AS n_queries,
           round(avg(1.0 / rank), 6) AS mrr,
           round(avg(CASE WHEN rank <= 3 THEN 1.0 ELSE 0.0 END), 6) AS hits_at_k
    FROM ranked GROUP BY rel
"""

# N-Triples export twin (operators/graph.export_ntriples).
KG_DUCK_SQL["kg_export_ntriples"] = f"""
    SELECT DISTINCT '<urn:cv:' || src || '> <urn:cv:rel:' || rel
           || '> <urn:cv:' || dst || '> .' AS ntriple
    FROM '{_KG_FIXTURE_DIR}/edges.parquet'
"""

# PMI edge-weight twin (operators/graph.edge_pmi): mention-level counts,
# natural log, rounded to 6.
KG_DUCK_SQL["kg_edge_pmi"] = f"""
    WITH occ AS (SELECT rel, src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'),
    pair AS (SELECT rel, src, dst, count(*) AS c_pair FROM occ GROUP BY rel, src, dst),
    nr AS (SELECT rel, count(*) AS n_rel FROM occ GROUP BY rel),
    cs AS (SELECT rel, src, count(*) AS c_src FROM occ GROUP BY rel, src),
    cd AS (SELECT rel, dst, count(*) AS c_dst FROM occ GROUP BY rel, dst)
    SELECT p.rel, p.src, p.dst, p.c_pair,
           round(ln(CAST(p.c_pair AS DOUBLE) * nr.n_rel
                    / (CAST(cs.c_src AS DOUBLE) * cd.c_dst)), 6) AS pmi
    FROM pair p
    JOIN cs ON cs.rel = p.rel AND cs.src = p.src
    JOIN cd ON cd.rel = p.rel AND cd.dst = p.dst
    JOIN nr ON nr.rel = p.rel
"""

# Label-propagation twin (operators/graph.label_propagation): 4 synchronous
# rounds unrolled as CTEs — same most-frequent-neighbor-label update with
# smallest-label ties, isolated nodes keep their label.
_LPA_ITERS = 4


def _lpa_sql(iters: int, extra_parts: list[str] | None = None, tail: str | None = None) -> str:
    parts = [
        f"""sym AS (
        SELECT DISTINCT src AS entity, dst AS nbr
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        UNION
        SELECT DISTINCT dst AS entity, src AS nbr
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    )""",
        "nodes AS (SELECT DISTINCT entity FROM sym)",
        "l0 AS (SELECT entity, entity AS label FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""l{i} AS (
        SELECT n.entity, coalesce(b.label, n.entity) AS label
        FROM nodes n LEFT JOIN (
            SELECT entity, label FROM (
                SELECT v.entity, v.label, count(*) AS c,
                       row_number() OVER (
                           PARTITION BY v.entity
                           ORDER BY count(*) DESC, v.label) AS rk
                FROM (
                    SELECT s.entity, l.label
                    FROM sym s JOIN l{i - 1} l ON l.entity = s.nbr
                    UNION ALL
                    SELECT entity, label FROM l{i - 1}
                ) AS v(entity, label)
                GROUP BY v.entity, v.label) t
            WHERE rk = 1) b ON b.entity = n.entity
    )"""
        )
    if extra_parts:
        parts.extend(extra_parts)
    if tail is None:
        tail = f"SELECT entity, label FROM l{iters}"
    return "WITH " + ",\n    ".join(parts) + "\n    " + tail


KG_DUCK_SQL["kg_lpa_communities"] = _lpa_sql(_LPA_ITERS)

# Entity fact-summary twin (operators/graph.entity_fact_summary): top-5
# subject-side facts per entity by PMI, ties by (rel, dst).
KG_DUCK_SQL["kg_entity_summary"] = f"""
    WITH occ AS (SELECT rel, src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'),
    pair AS (SELECT rel, src, dst, count(*) AS c_pair FROM occ GROUP BY rel, src, dst),
    nr AS (SELECT rel, count(*) AS n_rel FROM occ GROUP BY rel),
    cs AS (SELECT rel, src, count(*) AS c_src FROM occ GROUP BY rel, src),
    cd AS (SELECT rel, dst, count(*) AS c_dst FROM occ GROUP BY rel, dst),
    pmi AS (
        SELECT p.rel, p.src, p.dst,
               round(ln(CAST(p.c_pair AS DOUBLE) * nr.n_rel
                        / (CAST(cs.c_src AS DOUBLE) * cd.c_dst)), 6) AS pmi
        FROM pair p
        JOIN cs ON cs.rel = p.rel AND cs.src = p.src
        JOIN cd ON cd.rel = p.rel AND cd.dst = p.dst
        JOIN nr ON nr.rel = p.rel
    )
    SELECT src AS entity, rel, dst, pmi, rank FROM (
        SELECT src, rel, dst, pmi,
               row_number() OVER (
                   PARTITION BY src ORDER BY pmi DESC, rel, dst
               ) AS rank
        FROM pmi) t
    WHERE rank <= 5
"""

# Consolidated-edge twin (operators/graph.consolidate_edges).
KG_DUCK_SQL["kg_consolidated_edges"] = f"""
    SELECT src, rel, dst,
           count(*) AS n_mentions,
           count(DISTINCT doc_id) AS n_docs,
           count(DISTINCT tenant_id) AS n_tenants,
           round(CAST(max(conf) AS DOUBLE), 6) AS max_conf
    FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    GROUP BY src, rel, dst
"""

# Type-induction twin (operators/graph.infer_types): top-1 (rel, position)
# feature per entity, ties to the smallest feature string.
KG_DUCK_SQL["kg_inferred_types"] = f"""
    WITH feats AS (
        SELECT entity, feature, count(*) AS n_obs FROM (
            SELECT src AS entity, rel || ':s' AS feature
            FROM '{_KG_FIXTURE_DIR}/edges.parquet'
            UNION ALL
            SELECT dst AS entity, rel || ':o' AS feature
            FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        ) GROUP BY entity, feature
    )
    SELECT entity, feature AS inferred_type, n_obs FROM (
        SELECT entity, feature, n_obs,
               row_number() OVER (
                   PARTITION BY entity ORDER BY n_obs DESC, feature
               ) AS rk
        FROM feats) t
    WHERE rk = 1
"""

# Skew-report twin (operators/graph.skew_report): top-10 hubs by degree.
KG_DUCK_SQL["kg_skew_report"] = f"""
    WITH ends AS (
        SELECT src AS entity FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        UNION ALL
        SELECT dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    deg AS (SELECT entity, count(*) AS degree FROM ends GROUP BY entity),
    tot AS (SELECT count(*) AS n FROM ends)
    SELECT entity, degree,
           round(CAST(degree AS DOUBLE) / tot.n, 6) AS share
    FROM deg, tot
    ORDER BY degree DESC, entity LIMIT 10
"""

# SHACL-lite constraint-violation twin (operators/graph.constraint_violations):
# flag distinct triples whose endpoint type deviates from a ≥80%-dominant
# domain/range.
KG_DUCK_SQL["kg_constraint_violations"] = f"""
    WITH feats AS (
        SELECT entity, feature, count(*) AS n_obs FROM (
            SELECT src AS entity, rel || ':s' AS feature
            FROM '{_KG_FIXTURE_DIR}/edges.parquet'
            UNION ALL
            SELECT dst AS entity, rel || ':o' AS feature
            FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        ) GROUP BY entity, feature
    ),
    types AS (
        SELECT entity, feature AS inferred_type FROM (
            SELECT entity, feature, n_obs,
                   row_number() OVER (
                       PARTITION BY entity ORDER BY n_obs DESC, feature
                   ) AS rk
            FROM feats) t
        WHERE rk = 1
    ),
    sides AS (
        SELECT e.rel, ty.inferred_type AS t, count(*) AS n, 'domain' AS side
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' e
        JOIN types ty ON ty.entity = e.src
        GROUP BY e.rel, ty.inferred_type
        UNION ALL
        SELECT e.rel, ty.inferred_type AS t, count(*) AS n, 'range' AS side
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' e
        JOIN types ty ON ty.entity = e.dst
        GROUP BY e.rel, ty.inferred_type
    ),
    tot AS (SELECT rel, side, sum(n) AS n_total FROM sides GROUP BY rel, side),
    onto AS (
        SELECT b.rel, b.side, b.t AS top_type,
               round(CAST(b.n AS DOUBLE) / tot.n_total, 6) AS share
        FROM (
            SELECT rel, side, t, n,
                   row_number() OVER (
                       PARTITION BY rel, side ORDER BY n DESC, t) AS rk
            FROM sides) b
        JOIN tot ON tot.rel = b.rel AND tot.side = b.side
        WHERE b.rk = 1
    ),
    strict AS (SELECT * FROM onto WHERE share * 100 >= 80),
    dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    typed AS (
        SELECT d.src, d.rel, d.dst, ts.inferred_type AS src_type,
               td.inferred_type AS dst_type
        FROM dedup d
        JOIN types ts ON ts.entity = d.src
        JOIN types td ON td.entity = d.dst
    )
    SELECT t.src, t.rel, t.dst, 'domain' AS side,
           o.top_type AS expected, t.src_type AS found
    FROM typed t JOIN strict o ON o.rel = t.rel AND o.side = 'domain'
    WHERE t.src_type <> o.top_type
    UNION ALL
    SELECT t.src, t.rel, t.dst, 'range' AS side,
           o.top_type AS expected, t.dst_type AS found
    FROM typed t JOIN strict o ON o.rel = t.rel AND o.side = 'range'
    WHERE t.dst_type <> o.top_type
"""

# Multi-hop path twin (operators/graph.paths_between): ALL simple directed
# paths of ≤3 hops out of the lexicographically-first source (no target
# filter — the richer enumeration).
KG_DUCK_SQL["kg_paths"] = f"""
    WITH RECURSIVE e AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    params AS (SELECT (SELECT min(src) FROM e) AS s),
    walk(current, path, rels, hops) AS (
        SELECT s, [s], CAST([] AS VARCHAR[]), 0 FROM params
        UNION ALL
        SELECT e.dst,
               list_append(w.path, e.dst),
               list_append(w.rels, e.rel),
               w.hops + 1
        FROM walk w JOIN e ON e.src = w.current
        WHERE w.hops < 3
          AND NOT list_contains(w.path, e.dst)
    )
    SELECT array_to_string(path, '|') AS path,
           array_to_string(rels, '|') AS rels,
           hops AS n_hops
    FROM walk WHERE hops >= 1
"""

# Snapshot-diff twin (operators/graph.diff_edges): old = every edge not
# supported exclusively by the lexicographically-last doc; new = all.
KG_DUCK_SQL["kg_edge_diff"] = f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM '{_KG_FIXTURE_DIR}/edges.parquet'),
    old AS (
        SELECT DISTINCT src, rel, dst
        FROM '{_KG_FIXTURE_DIR}/edges.parquet', mx WHERE doc_id <> mx.m
    ),
    new AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    )
    SELECT n.src, n.rel, n.dst, 'added' AS change
    FROM new n LEFT JOIN old o
      ON o.src = n.src AND o.rel = n.rel AND o.dst = n.dst
    WHERE o.src IS NULL
    UNION ALL
    SELECT o.src, o.rel, o.dst, 'removed' AS change
    FROM old o LEFT JOIN new n
      ON n.src = o.src AND n.rel = o.rel AND n.dst = o.dst
    WHERE n.src IS NULL
"""

# Conflict-resolution twin (operators/graph.resolve_conflicts): functional
# relations (functionality ≥ 90%, integer-percent compare), best-evidenced
# object per (src, rel) with rival count.
KG_DUCK_SQL["kg_conflicts_resolved"] = f"""
    WITH pairs AS (
        SELECT DISTINCT rel, src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    prof AS (
        SELECT rel, count(*) AS n_pairs, count(DISTINCT src) AS n_src
        FROM pairs GROUP BY rel
    ),
    functional AS (SELECT rel FROM prof WHERE n_src * 100 >= 90 * n_pairs),
    ev AS (
        SELECT src, rel, dst,
               count(DISTINCT doc_id) AS n_docs,
               round(CAST(max(conf) AS DOUBLE), 6) AS max_conf
        FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        GROUP BY src, rel, dst
    ),
    cand AS (SELECT e.* FROM ev e JOIN functional f USING (rel))
    SELECT src, rel, dst, n_docs, max_conf, n_alternatives FROM (
        SELECT src, rel, dst, n_docs, max_conf,
               row_number() OVER (
                   PARTITION BY src, rel
                   ORDER BY n_docs DESC, max_conf DESC, dst) AS rk,
               count(*) OVER (PARTITION BY src, rel) - 1 AS n_alternatives
        FROM cand) t
    WHERE rk = 1
"""

# Ontology (domain/range) induction twin (operators/graph.induce_ontology).
KG_DUCK_SQL["kg_ontology"] = f"""
    WITH feats AS (
        SELECT entity, feature, count(*) AS n_obs FROM (
            SELECT src AS entity, rel || ':s' AS feature
            FROM '{_KG_FIXTURE_DIR}/edges.parquet'
            UNION ALL
            SELECT dst AS entity, rel || ':o' AS feature
            FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        ) GROUP BY entity, feature
    ),
    types AS (
        SELECT entity, feature AS inferred_type FROM (
            SELECT entity, feature, n_obs,
                   row_number() OVER (
                       PARTITION BY entity ORDER BY n_obs DESC, feature
                   ) AS rk
            FROM feats) t
        WHERE rk = 1
    ),
    sides AS (
        SELECT e.rel, ty.inferred_type AS t, count(*) AS n, 'domain' AS side
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' e
        JOIN types ty ON ty.entity = e.src
        GROUP BY e.rel, ty.inferred_type
        UNION ALL
        SELECT e.rel, ty.inferred_type AS t, count(*) AS n, 'range' AS side
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' e
        JOIN types ty ON ty.entity = e.dst
        GROUP BY e.rel, ty.inferred_type
    ),
    tot AS (SELECT rel, side, sum(n) AS n_total FROM sides GROUP BY rel, side)
    SELECT b.rel, b.side, b.t AS top_type,
           round(CAST(b.n AS DOUBLE) / tot.n_total, 6) AS share
    FROM (
        SELECT rel, side, t, n,
               row_number() OVER (
                   PARTITION BY rel, side ORDER BY n DESC, t) AS rk
        FROM sides) b
    JOIN tot ON tot.rel = b.rel AND tot.side = b.side
    WHERE b.rk = 1
"""

# BGP pattern-match twin (operators/graph.match_pattern) for the suite's
# concrete pattern (?a acquired ?b)(?b supplies ?c): distinct bindings.
KG_DUCK_SQL["kg_pattern_match"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    )
    SELECT DISTINCT p1.src AS a, p1.dst AS b, p2.dst AS c
    FROM dedup p1 JOIN dedup p2 ON p1.dst = p2.src
    WHERE p1.rel = 'acquired' AND p2.rel = 'supplies'
"""

# SPARQL OPTIONAL twin (operators/graph.match_pattern optional=):
# required (?a supplies ?b) left-joined with optional (?b acquired ?c) —
# suppliers keep their row with NULL c when the target acquired nothing.
KG_DUCK_SQL["kg_pattern_optional"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    req AS (SELECT DISTINCT src AS a, dst AS b FROM dedup WHERE rel = 'supplies'),
    opt AS (SELECT DISTINCT src AS b, dst AS c FROM dedup WHERE rel = 'acquired')
    SELECT DISTINCT r.a, r.b, o.c
    FROM req r LEFT JOIN opt o ON o.b = r.b
"""

# SPARQL VALUES twin: the same required+OPTIONAL shape restricted to an
# inline binding list for ?a — the federated "only these ids" query.
KG_DUCK_SQL["kg_pattern_values"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    req AS (SELECT DISTINCT src AS a, dst AS b FROM dedup
            WHERE rel = 'supplies' AND src IN ('E000002', 'E000007', 'E000016')),
    opt AS (SELECT DISTINCT src AS b, dst AS c FROM dedup WHERE rel = 'acquired')
    SELECT DISTINCT r.a, r.b, o.c
    FROM req r LEFT JOIN opt o ON o.b = r.b
"""

# SPARQL MINUS twin: suppliers (?a supplies ?b) whose source acquired
# nothing — NOT EXISTS anti-join on the shared variable a.
KG_DUCK_SQL["kg_pattern_minus"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    req AS (SELECT DISTINCT src AS a, dst AS b FROM dedup WHERE rel = 'supplies')
    SELECT DISTINCT r.a, r.b FROM req r
    WHERE NOT EXISTS (
        SELECT 1 FROM dedup m WHERE m.rel = 'acquired' AND m.src = r.a
    )
"""

# SPARQL UNION twin: pairs related by acquisition OR merger — two branch
# selects unioned then deduplicated, same variable names both branches.
KG_DUCK_SQL["kg_pattern_union"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    )
    SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM dedup WHERE rel = 'acquired'
        UNION ALL
        SELECT src AS a, dst AS b FROM dedup WHERE rel = 'merged_with'
    )
"""

# Connected-components twin (operators/graph.connected_components): the
# oracle takes min over the transitive closure — equal to the star
# algorithm's min-of-component label on any finite graph.
KG_DUCK_SQL["kg_components"] = f"""
    WITH RECURSIVE sym AS (
        SELECT src AS u, dst AS v FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        UNION
        SELECT dst AS u, src AS v FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    nodes AS (SELECT u AS entity FROM sym UNION SELECT v AS entity FROM sym),
    reach(a, b) AS (
        SELECT entity, entity FROM nodes
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON s.u = r.b
    )
    SELECT a AS entity, min(b) AS component FROM reach GROUP BY a
"""

# Common-neighbor link prediction (graph.link_prediction_cn): identical
# per-hub neighbor cap (row_number PARTITION BY src ORDER BY dst ≤ 64),
# true-degree Jaccard, integer-ppm // math — exact value twin.
KG_DUCK_SQL["kg_link_prediction"] = f"""
    WITH sym AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        )
    ),
    deg AS (SELECT src AS entity, count(*) AS degree FROM sym GROUP BY src),
    capped AS (
        SELECT src AS z, dst AS entity FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
            FROM sym) t
        WHERE rk <= 64
    ),
    pairs AS (
        SELECT a.entity AS entity_a, b.entity AS entity_b,
               count(*) AS common_neighbors
        FROM capped a JOIN capped b
          ON a.z = b.z AND a.entity < b.entity
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    nonedge AS (
        SELECT p.* FROM pairs p
        WHERE NOT EXISTS (
            SELECT 1 FROM sym s
            WHERE s.src = p.entity_a AND s.dst = p.entity_b)
    )
    SELECT n.entity_a, n.entity_b, n.common_neighbors,
           CAST((1000000 * n.common_neighbors)
                // (da.degree + db.degree - n.common_neighbors) AS BIGINT)
               AS jaccard_ppm
    FROM nonedge n
    JOIN deg da ON da.entity = n.entity_a
    JOIN deg db ON db.entity = n.entity_b
"""

# AMIE-lite 2-hop horn rules (graph.mine_rules): same per-middle-entity
# in/out caps (row_number ≤ 32 by (rel, endpoint)), head probe on the
# distinct edge set, integer-ppm standard confidence.
KG_DUCK_SQL["kg_rules"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    ins AS (
        SELECT src AS x, rel AS r1, dst AS mid FROM (
            SELECT src, rel, dst,
                   row_number() OVER (PARTITION BY dst ORDER BY rel, src) AS rk
            FROM dedup) t
        WHERE rk <= 32
    ),
    outs AS (
        SELECT src AS mid, rel AS r2, dst AS z FROM (
            SELECT src, rel, dst,
                   row_number() OVER (PARTITION BY src ORDER BY rel, dst) AS rk
            FROM dedup) t
        WHERE rk <= 32
    ),
    body AS (
        SELECT DISTINCT r1, r2, x, z
        FROM ins JOIN outs USING (mid)
        WHERE x <> z
    ),
    body_n AS (SELECT r1, r2, count(*) AS n_body FROM body GROUP BY r1, r2),
    support AS (
        SELECT b.r1, b.r2, h.rel AS r3, count(*) AS support
        FROM body b JOIN dedup h ON h.src = b.x AND h.dst = b.z
        GROUP BY b.r1, b.r2, h.rel
        HAVING count(*) >= 1
    )
    SELECT s.r1, s.r2, s.r3, s.support,
           CAST((1000000 * s.support) // n.n_body AS BIGINT) AS conf_ppm
    FROM support s JOIN body_n n ON s.r1 = n.r1 AND s.r2 = n.r2
"""

# Algebraic relation properties (graph.relation_properties): symmetry via
# reverse-edge semi-join, functionality from distinct endpoint counts.
KG_DUCK_SQL["kg_relation_properties"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    sym_n AS (
        SELECT d.rel, count(*) AS n_sym
        FROM dedup d
        WHERE EXISTS (
            SELECT 1 FROM dedup r
            WHERE r.src = d.dst AND r.rel = d.rel AND r.dst = d.src)
        GROUP BY d.rel
    ),
    base AS (
        SELECT rel, count(*) AS n_edges,
               count(DISTINCT src) AS n_subjects,
               count(DISTINCT dst) AS n_objects
        FROM dedup GROUP BY rel
    )
    SELECT b.rel, b.n_edges,
           CAST((1000000 * coalesce(s.n_sym, 0)) // b.n_edges AS BIGINT) AS symmetric_ppm,
           CAST((1000000 * b.n_subjects) // b.n_edges AS BIGINT) AS functional_ppm,
           CAST((1000000 * b.n_objects) // b.n_edges AS BIGINT) AS inv_functional_ppm
    FROM base b LEFT JOIN sym_n s ON b.rel = s.rel
"""

# owl:inverseOf induction (graph.inverse_relations): distinct edge set
# joined to its reversal on (src, dst), off-diagonal relation pairs.
KG_DUCK_SQL["kg_inverse_relations"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    n1 AS (SELECT rel AS r1, count(*) AS n_r1 FROM dedup GROUP BY rel),
    ov AS (
        SELECT a.rel AS r1, b.rel AS r2, count(*) AS n_overlap
        FROM dedup a JOIN dedup b ON b.src = a.dst AND b.dst = a.src
        WHERE a.rel <> b.rel
        GROUP BY a.rel, b.rel
        HAVING count(*) >= 1
    )
    SELECT ov.r1, ov.r2, ov.n_overlap,
           CAST((1000000 * ov.n_overlap) // n1.n_r1 AS BIGINT) AS inverse_ppm
    FROM ov JOIN n1 USING (r1)
"""

# Landmark closeness (graph.closeness): per-seed BFS first-reach depths
# via recursive CTE min(hop) — identical to the multi-source frontier.
_KG_CLOSENESS_SEEDS = "'E000000', 'E000001', 'E000002', 'E000003'"
KG_DUCK_SQL["kg_closeness"] = f"""
    WITH RECURSIVE sym AS (
        SELECT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        UNION
        SELECT dst AS src, src AS dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    reach(seed, entity, hop) AS (
        SELECT seed, seed AS entity, 0 AS hop
        FROM (SELECT unnest([{_KG_CLOSENESS_SEEDS}]) AS seed)
        UNION ALL
        SELECT r.seed, s.dst, r.hop + 1
        FROM reach r JOIN sym s ON s.src = r.entity
        WHERE r.hop < 3
    ),
    first_reach AS (
        SELECT seed, entity, min(hop) AS hop FROM reach GROUP BY seed, entity
    )
    SELECT seed,
           CAST(count(*) - 1 AS BIGINT) AS n_reached,
           CAST(sum(hop) AS BIGINT) AS sum_dist,
           CAST(CASE WHEN sum(hop) > 0
                THEN (1000000 * (count(*) - 1)) // sum(hop)
                ELSE 0 END AS BIGINT) AS closeness_ppm
    FROM first_reach GROUP BY seed
"""


def _kg_anf_oracle_sql(max_hops: int = 2, n_registers: int = 16) -> str:
    """Unrolled twin of operators/graph.neighborhood_function: identical
    md5 register init (trailing-zeros bit position capped at 47),
    bit_or propagation per hop, and integer r_sum readout; nf_est rounds
    the FM estimate to 4 decimals on both sides."""
    R = n_registers
    edges = f"'{_KG_FIXTURE_DIR}/edges.parquet'"

    def h(r: str) -> str:
        return f"CAST('0x' || substr(md5('anf:{r}:' || entity), 1, 15) AS BIGINT)"

    init = ", ".join(
        f"(CAST(1 AS BIGINT) << least(bit_count(xor({h(str(r))}, {h(str(r))} - 1)) - 1, 47)) AS m{r}"
        for r in range(R)
    )
    lz_sum = " + ".join(f"(bit_count(xor(m{r}, m{r} + 1)) - 1)" for r in range(R))
    parts = [
        f"""
    WITH e AS (
        SELECT src, dst FROM {edges} WHERE src <> dst
        UNION
        SELECT dst AS src, src AS dst FROM {edges} WHERE src <> dst
    ),
    nodes AS (SELECT DISTINCT src AS entity FROM e),
    m0 AS (SELECT entity, {init} FROM nodes)"""
    ]
    for t in range(1, max_hops + 1):
        ors = ", ".join(f"bit_or(p2.m{r}) AS a{r}" for r in range(R))
        mix = ", ".join(f"(p.m{r} | coalesce(a.a{r}, 0)) AS m{r}" for r in range(R))
        parts.append(
            f""",
    m{t} AS (
        SELECT p.entity, {mix}
        FROM m{t - 1} p LEFT JOIN (
            SELECT e.dst AS entity, {ors}
            FROM e JOIN m{t - 1} p2 ON e.src = p2.entity
            GROUP BY e.dst
        ) a ON p.entity = a.entity
    )"""
        )
    reads = [
        f"""SELECT entity, CAST({t} AS INT) AS hop, CAST({lz_sum} AS BIGINT) AS r_sum,
           round(pow(2.0, ({lz_sum}) / {float(R)}) / 0.77351, 4) AS nf_est FROM m{t}"""
        for t in range(1, max_hops + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL\n    ".join(reads))
    return "".join(parts)


KG_DUCK_SQL["kg_anf"] = _kg_anf_oracle_sql()


def _kg_hits_oracle_sql(iterations: int = 2, scale: int = 1_000_000) -> str:
    """Unrolled twin of operators/graph.hits: scaled-integer hub/authority
    sums with per-iteration L-infinity renormalization via integer `//`,
    normalizer = greatest(max, 1) exactly as the operator's `or 1`."""
    edges = f"'{_KG_FIXTURE_DIR}/edges.parquet'"
    parts = [
        f"""
    WITH e AS (SELECT DISTINCT src, dst FROM {edges} WHERE src <> dst),
    nodes AS (SELECT src AS entity FROM e UNION SELECT dst AS entity FROM e),
    a0 AS (SELECT entity, CAST({scale} AS BIGINT) AS a FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    hraw{k} AS (
        SELECT nd.entity, coalesce(s.h, 0) AS h
        FROM nodes nd LEFT JOIN (
            SELECT e.src AS entity, sum(a.a) AS h
            FROM e JOIN a{k - 1} a ON e.dst = a.entity GROUP BY e.src
        ) s ON nd.entity = s.entity
    ),
    h{k} AS (SELECT entity, (h * {scale}) // (SELECT greatest(max(h), 1) FROM hraw{k}) AS h FROM hraw{k}),
    araw{k} AS (
        SELECT nd.entity, coalesce(s.a, 0) AS a
        FROM nodes nd LEFT JOIN (
            SELECT e.dst AS entity, sum(h.h) AS a
            FROM e JOIN h{k} h ON e.src = h.entity GROUP BY e.dst
        ) s ON nd.entity = s.entity
    ),
    a{k} AS (SELECT entity, (a * {scale}) // (SELECT greatest(max(a), 1) FROM araw{k}) AS a FROM araw{k})"""
        )
    parts.append(
        f"""
    SELECT h.entity, CAST(h.h AS BIGINT) AS hub_scaled, CAST(a.a AS BIGINT) AS auth_scaled
    FROM h{iterations} h JOIN a{iterations} a ON h.entity = a.entity"""
    )
    return "".join(parts)


KG_DUCK_SQL["kg_hits"] = _kg_hits_oracle_sql()


def _kg_walks_oracle_sql(n_walks: int = 2, length: int = 3) -> str:
    """Unrolled twin of operators/graph.random_walks: identical dst-sorted
    neighbor ranks (row_number over a per-src partition) and md5-seeded
    modular choice, sinks truncate the walk."""
    edges = f"'{_KG_FIXTURE_DIR}/edges.parquet'"
    parts = [
        f"""
    WITH e AS (SELECT DISTINCT src, dst FROM {edges} WHERE src <> dst),
    nbr AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rank FROM e),
    deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
    nodes AS (SELECT src AS entity FROM e UNION SELECT dst AS entity FROM e),
    w0 AS (SELECT entity AS start, w.walk_id, entity
           FROM nodes, (SELECT unnest(range(0, {n_walks})) AS walk_id) w)"""
    ]
    for t in range(1, length + 1):
        choice = (
            f"CAST('0x' || substr(md5('rw:' || c.start || ':' || c.walk_id || "
            f"':' || {t} || ':' || c.entity), 1, 15) AS BIGINT)"
        )
        parts.append(
            f""",
    w{t} AS (
        SELECT c.start, c.walk_id, n.dst AS entity
        FROM w{t - 1} c
        JOIN deg d ON c.entity = d.src
        JOIN nbr n ON n.src = c.entity AND n.rank = ({choice} % d.out_deg) + 1
    )"""
        )
    reads = [
        f"SELECT start, CAST(walk_id AS INT) AS walk_id, CAST({t} AS INT) AS step, entity FROM w{t}"
        for t in range(0, length + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL\n    ".join(reads))
    return "".join(parts)


KG_DUCK_SQL["kg_random_walks"] = _kg_walks_oracle_sql()

# Community-rollup supergraph twin (operators/graph.community_supergraph):
# the LPA label CTE chain, then raw edge rows mapped to community pairs.
KG_DUCK_SQL["kg_supergraph"] = _lpa_sql(
    _LPA_ITERS,
    extra_parts=[
        f"""ee AS (
        SELECT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        WHERE src <> dst
    )"""
    ],
    tail=f"""SELECT ls.label AS c_src, ld.label AS c_dst,
           count(*) AS n_edges, count(DISTINCT ee.rel) AS n_rels
    FROM ee JOIN l{_LPA_ITERS} ls ON ee.src = ls.entity
            JOIN l{_LPA_ITERS} ld ON ee.dst = ld.entity
    GROUP BY ls.label, ld.label""",
)

# Log2 degree-distribution twin (operators/graph.degree_histogram):
# integer bit-length bucketing, no float log.
KG_DUCK_SQL["kg_degree_histogram"] = f"""
    WITH outs AS (SELECT src AS entity, count(*) AS out_degree
                  FROM '{_KG_FIXTURE_DIR}/edges.parquet' GROUP BY src),
    ins AS (SELECT dst AS entity, count(*) AS in_degree
            FROM '{_KG_FIXTURE_DIR}/edges.parquet' GROUP BY dst),
    deg AS (
        SELECT coalesce(o.entity, i.entity) AS entity,
               coalesce(o.out_degree, 0) + coalesce(i.in_degree, 0) AS degree
        FROM outs o FULL OUTER JOIN ins i ON o.entity = i.entity
    )
    SELECT CAST(length(bin(degree)) - 1 AS INT) AS bucket,
           count(*) AS n_entities,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree,
           CAST(sum(degree) AS BIGINT) AS sum_degree
    FROM deg GROUP BY 1
"""


def _kg_node2vec_oracle_sql(
    n_walks: int = 2,
    length: int = 3,
    w_return: int = 25,
    w_near: int = 100,
    w_far: int = 50,
) -> str:
    """Unrolled twin of operators/graph.node2vec_walks: step 1 is the
    DeepWalk uniform choice, steps >= 2 resolve the md5 draw against an
    integer cumulative weight sum over the dst-sorted neighbor list with
    the same return/near/far weights."""
    edges = f"'{_KG_FIXTURE_DIR}/edges.parquet'"
    parts = [
        f"""
    WITH e AS (SELECT DISTINCT src, dst FROM {edges} WHERE src <> dst),
    nbr AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rank FROM e),
    deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
    nodes AS (SELECT src AS entity FROM e UNION SELECT dst AS entity FROM e),
    w0 AS (SELECT entity AS start, w.walk_id, entity AS prev, entity
           FROM nodes, (SELECT unnest(range(0, {n_walks})) AS walk_id) w),
    w1 AS (
        SELECT c.start, c.walk_id, c.entity AS prev, n.dst AS entity
        FROM w0 c
        JOIN deg d ON c.entity = d.src
        JOIN nbr n ON n.src = c.entity
          AND n.rank = (CAST('0x' || substr(md5('rw:' || c.start || ':' || c.walk_id ||
                        ':' || 1 || ':' || c.entity), 1, 15) AS BIGINT) % d.out_deg) + 1
    )"""
    ]
    for t in range(2, length + 1):
        r = (
            f"CAST('0x' || substr(md5('n2v:' || start || ':' || walk_id || "
            f"':' || {t} || ':' || entity), 1, 15) AS BIGINT)"
        )
        parts.append(
            f""",
    c{t} AS (
        SELECT c.start, c.walk_id, c.prev, c.entity, e.dst AS x,
               CAST(CASE WHEN e.dst = c.prev THEN {w_return}
                         WHEN m.src IS NOT NULL THEN {w_near}
                         ELSE {w_far} END AS BIGINT) AS w
        FROM w{t - 1} c
        JOIN e ON e.src = c.entity
        LEFT JOIN e m ON m.src = c.prev AND m.dst = e.dst
    ),
    s{t} AS (
        SELECT *,
               sum(w) OVER (PARTITION BY start, walk_id ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(w) OVER (PARTITION BY start, walk_id) AS tot
        FROM c{t}
    ),
    w{t} AS (
        SELECT start, walk_id, entity AS prev, x AS entity
        FROM s{t}
        WHERE ({r} % tot) >= cum - w AND ({r} % tot) < cum
    )"""
        )
    reads = [
        f"SELECT start, CAST(walk_id AS INT) AS walk_id, CAST({t} AS INT) AS step, entity FROM w{t}"
        for t in range(0, length + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL\n    ".join(reads))
    return "".join(parts)


KG_DUCK_SQL["kg_node2vec_walks"] = _kg_node2vec_oracle_sql()

# Directed SCC twin (operators/graph.strongly_connected_components). The
# oracle DEFINES the semantics — scc(v) = min id mutually reachable with v
# — via a WITH RECURSIVE transitive closure (fine at fixture scale; the
# Spark side implements the same semantics with the scalable trim +
# forward-coloring + backward-confirmation rounds).
KG_DUCK_SQL["kg_scc"] = f"""
    WITH RECURSIVE e AS (
        SELECT DISTINCT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        WHERE src <> dst
    ),
    nodes AS (SELECT src AS entity FROM e UNION SELECT dst AS entity FROM e),
    reach(a, b) AS (
        SELECT entity AS a, entity AS b FROM nodes
        UNION
        SELECT r.a, e.dst AS b FROM reach r JOIN e ON e.src = r.b
    )
    SELECT f.a AS entity, min(f.b) AS scc
    FROM reach f JOIN reach g ON f.a = g.b AND f.b = g.a
    GROUP BY f.a
"""

# Skip-gram pair-extraction twin (operators/graph.skipgram_pairs) over the
# deterministic DeepWalk corpus: same walk CTE as kg_random_walks, then the
# bounded step-distance self-join and count agg.
KG_DUCK_SQL["kg_skipgram_pairs"] = f"""
    WITH walks AS (SELECT * FROM ({_kg_walks_oracle_sql()}))
    SELECT a.entity AS center, b.entity AS context, count(*) AS n_pairs
    FROM walks a JOIN walks b
      ON a.start = b.start AND a.walk_id = b.walk_id
    WHERE a.step <> b.step AND abs(a.step - b.step) <= 2
    GROUP BY 1, 2
"""

# Effective-diameter twin (operators/graph.effective_diameter): the ANF CTE
# at max_hops=3, per-node estimates scaled x10000 to BIGINT before the sum
# so the per-hop totals are aggregation-order-independent.
KG_DUCK_SQL["kg_effective_diameter"] = f"""
    WITH nf AS (SELECT * FROM ({_kg_anf_oracle_sql(max_hops=3)})),
    per_hop AS (
        SELECT hop,
               CAST(sum(CAST(round(nf_est * 10000) AS BIGINT)) AS BIGINT) AS nf_total
        FROM nf GROUP BY hop
    ),
    mx AS (SELECT max(nf_total) AS nf_max FROM per_hop)
    SELECT hop, nf_total,
           CAST((1000000 * nf_total) // nf_max AS BIGINT) AS frac_ppm,
           (nf_total * 10 >= nf_max * 9) AS reaches_p90
    FROM per_hop CROSS JOIN mx
"""

# Resource-allocation link-prediction twin (operators/graph.
# link_prediction_ra): kg_link_prediction's candidate CTEs with the
# sum(1000000 // deg(z)) integer-ppm RA weight carried per shared neighbor.
KG_DUCK_SQL["kg_link_prediction_ra"] = f"""
    WITH sym AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        )
    ),
    deg AS (SELECT src AS z, count(*) AS z_deg FROM sym GROUP BY src),
    capped AS (
        SELECT src AS z, dst AS entity FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY dst) AS rk
            FROM sym) t
        WHERE rk <= 64
    ),
    pairs AS (
        SELECT a.entity AS entity_a, b.entity AS entity_b,
               count(*) AS common_neighbors,
               CAST(sum(1000000 // d.z_deg) AS BIGINT) AS ra_ppm
        FROM capped a
        JOIN capped b ON a.z = b.z AND a.entity < b.entity
        JOIN deg d ON d.z = a.z
        GROUP BY 1, 2
        HAVING count(*) >= 2
    )
    SELECT p.* FROM pairs p
    WHERE NOT EXISTS (
        SELECT 1 FROM sym s
        WHERE s.src = p.entity_a AND s.dst = p.entity_b)
"""

# ComplEx margin loss (operators/kgtrain.complex_margin_loss): same sampler
# and md5-embedding arithmetic as the TransE/DistMult twins; the score is
# the 4-term real part of the complex trilinear product, HIGHER-is-better
# hinge, distinct "cer:"/"cei:"/"crr:"/"cri:" init prefixes.
KG_DUCK_SQL["kg_complex_loss"] = f"""
    WITH samples AS (
        SELECT * FROM ({KG_DUCK_SQL["kg_negative_samples"]})
    ),
    emb AS (
        SELECT rel,
               {_duck_emb("cer:", "src")} AS hr,
               {_duck_emb("cei:", "src")} AS hi,
               {_duck_emb("crr:", "rel")} AS rr,
               {_duck_emb("cri:", "rel")} AS ri,
               {_duck_emb("cer:", "dst")} AS tr,
               {_duck_emb("cei:", "dst")} AS ti,
               {_duck_emb("cer:", "neg_dst")} AS nr,
               {_duck_emb("cei:", "neg_dst")} AS ni
        FROM samples
    ),
    scored AS (
        SELECT rel,
               greatest(0.0, 1.0
                   - ({_duck_dot3("hr", "rr", "tr")} + {_duck_dot3("hr", "ri", "ti")}
                      + {_duck_dot3("hi", "rr", "ti")} - {_duck_dot3("hi", "ri", "tr")})
                   + ({_duck_dot3("hr", "rr", "nr")} + {_duck_dot3("hr", "ri", "ni")}
                      + {_duck_dot3("hi", "rr", "ni")} - {_duck_dot3("hi", "ri", "nr")})
               ) AS hinge
        FROM emb
    )
    SELECT rel, count(*) AS n_samples,
           CAST(sum(CASE WHEN hinge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           round(avg(hinge), 6) AS avg_loss
    FROM scored GROUP BY rel
"""


# Local clustering coefficient (operators/graph.clustering_coefficient):
# the kg_triangles twin as a CTE, left-joined onto the undirected degree
# table, integer-ppm coefficient — exact.
KG_DUCK_SQL["kg_clustering"] = f"""
    WITH tri AS (SELECT * FROM ({KG_DUCK_SQL["kg_triangles"]})),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    deg AS (
        SELECT entity, count(*) AS d FROM (
            SELECT a AS entity FROM und UNION ALL SELECT b AS entity FROM und) u
        GROUP BY entity
    )
    SELECT d.entity, CAST(d.d AS BIGINT) AS degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST((2000000 * coalesce(t.n_triangles, 0)) // (d.d * (d.d - 1))
                AS BIGINT) AS lcc_ppm
    FROM deg d LEFT JOIN tri t ON d.entity = t.entity
    WHERE d.d >= 2
"""

# Degree assortativity (operators/graph.degree_assortativity): exact BIGINT
# moments over the symmetrized edge list, final Pearson ratio in DOUBLE
# with the same cast/expression order as the Spark side.
KG_DUCK_SQL["kg_assortativity"] = f"""
    WITH sym AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        )
    ),
    deg AS (SELECT src AS entity, count(*) AS d FROM sym GROUP BY src),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(dx.d * dy.d) AS BIGINT) AS sum_xy,
               CAST(sum(dx.d) AS BIGINT) AS sum_x,
               CAST(sum(dx.d * dx.d) AS BIGINT) AS sum_x2
        FROM sym JOIN deg dx ON sym.src = dx.entity
                 JOIN deg dy ON sym.dst = dy.entity
    )
    SELECT m, sum_xy, sum_x, sum_x2,
           round((CAST(m AS DOUBLE) * CAST(sum_xy AS DOUBLE)
                  - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
                    - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)),
                 6) AS assortativity
    FROM agg
"""

# Truncated Katz centrality (operators/graph.katz_centrality, k=3,
# alpha_inv=4): three unrolled A^T·x rounds; katz_scaled = 16·walks_1 +
# 4·walks_2 + walks_3 — all-integer, exact.
KG_DUCK_SQL["kg_katz"] = f"""
    WITH g AS (
        SELECT DISTINCT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        WHERE src <> dst
    ),
    p1 AS (SELECT dst AS entity, CAST(count(*) AS BIGINT) AS w FROM g GROUP BY dst),
    p2 AS (SELECT g.dst AS entity, CAST(sum(p1.w) AS BIGINT) AS w
           FROM g JOIN p1 ON g.src = p1.entity GROUP BY g.dst),
    p3 AS (SELECT g.dst AS entity, CAST(sum(p2.w) AS BIGINT) AS w
           FROM g JOIN p2 ON g.src = p2.entity GROUP BY g.dst),
    contrib AS (
        SELECT entity, w * 16 AS c FROM p1
        UNION ALL SELECT entity, w * 4 FROM p2
        UNION ALL SELECT entity, w FROM p3
    )
    SELECT entity, CAST(sum(c) AS BIGINT) AS katz_scaled
    FROM contrib GROUP BY entity
"""

# Landmark harmonic centrality (operators/graph.harmonic_centrality): the
# kg_closeness recursive BFS with the Σ 1000000 DIV hop readout.
KG_DUCK_SQL["kg_harmonic"] = f"""
    WITH RECURSIVE sym AS (
        SELECT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        UNION
        SELECT dst AS src, src AS dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    reach(seed, entity, hop) AS (
        SELECT seed, seed AS entity, 0 AS hop
        FROM (SELECT unnest([{_KG_CLOSENESS_SEEDS}]) AS seed)
        UNION ALL
        SELECT r.seed, s.dst, r.hop + 1
        FROM reach r JOIN sym s ON s.src = r.entity
        WHERE r.hop < 3
    ),
    first_reach AS (
        SELECT seed, entity, min(hop) AS hop FROM reach GROUP BY seed, entity
    )
    SELECT seed,
           CAST(count(*) - 1 AS BIGINT) AS n_reached,
           CAST(sum(CASE WHEN hop > 0 THEN 1000000 // hop ELSE 0 END)
                AS BIGINT) AS harmonic_ppm
    FROM first_reach GROUP BY seed
"""


def _duck_rot(kind: str, dim: int = _TRANSE_DIM) -> str:
    """cos/sin rotation array for a relation — the trig-free tan-half-angle
    rational point, mirroring kgtrain._rotation_arrays term for term."""
    a = (
        "CAST((CAST('0x' || substr(md5('rra:' || rel || ':' || CAST(i AS VARCHAR)), 1, 15) "
        "AS BIGINT) % 1048576) + 1 AS DOUBLE)"
    )
    b = (
        "CAST(CAST('0x' || substr(md5('rrb:' || rel || ':' || CAST(i AS VARCHAR)), 1, 15) "
        "AS BIGINT) % 1048576 AS DOUBLE)"
    )
    # sine sign: an independent hash-parity draw ("rrs:"), matching the
    # Spark helper — without it every phase lands in [0, π] and conjugate
    # rotations are unrepresentable at init
    sign = (
        "CAST(1 - 2 * (CAST('0x' || substr(md5('rrs:' || rel || ':' || "
        "CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 2) AS DOUBLE)"
    )
    num = (
        f"({a} * {a} - {b} * {b})"
        if kind == "cos"
        else f"({sign} * 2.0 * {a} * {b})"
    )
    return (
        f"list_transform(range(0, {dim}), i -> "
        f"{num} / ({a} * {a} + {b} * {b}))"
    )


def _duck_rotate_dist(
    hr: str, hi: str, c: str, s: str, tr: str, ti: str, dim: int = _TRANSE_DIM
) -> str:
    return (
        f"list_sum(list_transform(range(0, {dim}), i -> "
        f"abs({hr}[i + 1] * {c}[i + 1] - {hi}[i + 1] * {s}[i + 1] - {tr}[i + 1])"
        f" + abs({hr}[i + 1] * {s}[i + 1] + {hi}[i + 1] * {c}[i + 1] - {ti}[i + 1])))"
    )


# RotatE margin loss (operators/kgtrain.rotate_margin_loss): same sampler
# and md5-embedding arithmetic as the TransE/DistMult/ComplEx twins; the
# relation is a unit rotation from the trig-free rational parameterization
# (cos/sin via libm would NOT be bit-identical across engines), distance
# LOWER-is-better hinge, distinct "rer:"/"rei:"/"rra:"/"rrb:" prefixes.
KG_DUCK_SQL["kg_rotate_loss"] = f"""
    WITH samples AS (
        SELECT * FROM ({KG_DUCK_SQL["kg_negative_samples"]})
    ),
    emb AS (
        SELECT rel,
               {_duck_emb("rer:", "src")} AS hr,
               {_duck_emb("rei:", "src")} AS hi,
               {_duck_rot("cos")} AS c,
               {_duck_rot("sin")} AS s,
               {_duck_emb("rer:", "dst")} AS tr,
               {_duck_emb("rei:", "dst")} AS ti,
               {_duck_emb("rer:", "neg_dst")} AS nr,
               {_duck_emb("rei:", "neg_dst")} AS ni
        FROM samples
    ),
    scored AS (
        SELECT rel,
               greatest(0.0, 1.0
                   + {_duck_rotate_dist("hr", "hi", "c", "s", "tr", "ti")}
                   - {_duck_rotate_dist("hr", "hi", "c", "s", "nr", "ni")}
               ) AS hinge
        FROM emb
    )
    SELECT rel, count(*) AS n_samples,
           CAST(sum(CASE WHEN hinge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           round(avg(hinge), 6) AS avg_loss
    FROM scored GROUP BY rel
"""


# 1-WL color refinement (operators/graph.wl_colors): same md5-of-sorted-
# neighbor-colors recurrence unrolled per round; colors sorted as STRINGS
# (binary collation) in both engines.
def _kg_wl_oracle_sql(rounds: int = 2) -> str:
    parts = [
        f"""sym AS (
        SELECT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        UNION
        SELECT dst AS src, src AS dst FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    ),
    c0 AS (SELECT DISTINCT src AS entity, CAST(0 AS BIGINT) AS color FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""sig{r} AS (
        SELECT s.dst AS entity,
               list_aggregate(list_sort(list(CAST(c.color AS VARCHAR))),
                              'string_agg', ',') AS sig
        FROM sym s JOIN c{r - 1} c ON c.entity = s.src
        GROUP BY s.dst
    ),
    c{r} AS (
        SELECT p.entity,
               CAST('0x' || substr(md5(CAST(p.color AS VARCHAR) || '|'
                    || coalesce(g.sig, '')), 1, 15) AS BIGINT) AS color
        FROM c{r - 1} p LEFT JOIN sig{r} g ON g.entity = p.entity
    )"""
        )
    return (
        "WITH " + ",\n    ".join(parts) + f"\n    SELECT entity, color FROM c{rounds}"
    )


KG_DUCK_SQL["kg_wl_colors"] = _kg_wl_oracle_sql(rounds=2)


# k-truss (operators/graph.ktruss, k=3, 4 rounds): per round, triangles
# from the canonical a<b edge set (each triangle once as x<y<z), per-edge
# support, filter support >= k-2; the final support is recomputed on the
# surviving set. Spark's early exit at a fixed point equals running all
# rounds, so the unrolled twin matches.
def _kg_ktruss_oracle_sql(k: int = 3, rounds: int = 4) -> str:
    def sup(e: str) -> str:
        return f"""(
        WITH tri AS (
            SELECT p.a AS x, p.b AS y, q.b AS z
            FROM {e} p
            JOIN {e} q ON q.a = p.a AND q.b > p.b
            JOIN {e} r ON r.a = p.b AND r.b = q.b
        )
        SELECT a, b, count(*) AS support FROM (
            SELECT x AS a, y AS b FROM tri
            UNION ALL SELECT x AS a, z AS b FROM tri
            UNION ALL SELECT y AS a, z AS b FROM tri) h
        GROUP BY a, b
    )"""

    parts = [
        f"""e0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"s{r - 1} AS MATERIALIZED (SELECT * FROM {sup(f'e{r - 1}')})")
        parts.append(
            f"""e{r} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{r - 1} e LEFT JOIN s{r - 1} s
          ON s.a = e.a AND s.b = e.b
        WHERE coalesce(s.support, 0) >= {k - 2}
    )"""
        )
    parts.append(f"sfin AS MATERIALIZED (SELECT * FROM {sup(f'e{rounds}')})")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT e.a AS entity_a, e.b AS entity_b,
           CAST(coalesce(s.support, 0) AS BIGINT) AS support
    FROM e{rounds} e LEFT JOIN sfin s ON s.a = e.a AND s.b = e.b"""
    )


# 12 unrolled peel rounds: the Spark side now runs to the true fixed
# point, and an unrolled twin equals it whenever convergence happens
# within the unroll depth (peeling is monotone, the fixed point is
# idempotent — extra unrolled rounds are no-ops). The fixture graph
# converges in <12; a deep-cascade fixture is pinned by pytest instead.
KG_DUCK_SQL["kg_ktruss"] = _kg_ktruss_oracle_sql(k=3, rounds=12)


def _kg_coreness_oracle_sql(rounds: int = 12) -> str:
    """Unrolled h-index iteration (operators/graph.coreness): h0 = degree,
    h(n+1)(v) = H-index of v's neighbors' h(n) — max over rank-ordered
    neighbor values of min(value, rank). The Spark side runs to the true
    fixed point; values are monotone non-increasing, so the unrolled twin
    equals the converged result whenever convergence happens within the
    unroll depth (extra rounds are no-ops at the fixed point)."""
    parts = [
        f"""sym AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    )""",
        """nbrs AS MATERIALIZED (
        SELECT a AS entity, b AS nbr FROM sym
        UNION ALL SELECT b AS entity, a AS nbr FROM sym
    )""",
        """h0 AS MATERIALIZED (
        SELECT entity, CAST(count(*) AS BIGINT) AS h FROM nbrs GROUP BY entity
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""h{r} AS MATERIALIZED (
        SELECT entity, max(least(v, rk)) AS h FROM (
            SELECT n.entity, p.h AS v,
                   CAST(row_number() OVER (
                       PARTITION BY n.entity ORDER BY p.h DESC, n.nbr
                   ) AS BIGINT) AS rk
            FROM nbrs n JOIN h{r - 1} p ON p.entity = n.nbr) t
        GROUP BY entity
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT entity, h AS coreness FROM h{rounds}"
    )


KG_DUCK_SQL["kg_coreness"] = _kg_coreness_oracle_sql(rounds=12)


# SPARQL 1.1 property path twin (operators/graph.property_path):
# `acquired / supplies+` bounded at 3 plus-hops — recursive walk over the
# supplies-filtered step relation seeded by the acquired hop, min hop
# count per (a, c) endpoint pair.
KG_DUCK_SQL["kg_pattern_path"] = f"""
    WITH RECURSIVE dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    step AS (
        SELECT src AS u, dst AS v FROM dedup
        WHERE rel = 'supplies' AND src <> dst
    ),
    walk(a, c, hops) AS (
        SELECT DISTINCT d.src, s.v, 1
        FROM dedup d JOIN step s ON s.u = d.dst
        WHERE d.rel = 'acquired'
        UNION ALL
        SELECT w.a, s.v, w.hops + 1
        FROM walk w JOIN step s ON s.u = w.c
        WHERE w.hops < 3
    )
    SELECT a, c, CAST(min(hops) AS BIGINT) AS hops FROM walk GROUP BY a, c
"""

# SPARQL FILTER twin (operators/graph.match_pattern filter_expr=): the
# two-triple BGP with a boolean expression over the bindings — identical
# predicate text in both engines (comparison + LIKE, no libm).
KG_DUCK_SQL["kg_pattern_filter"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    )
    SELECT DISTINCT p1.src AS a, p1.dst AS b, p2.dst AS c
    FROM dedup p1 JOIN dedup p2 ON p2.src = p1.dst
    WHERE p1.rel = 'acquired' AND p2.rel = 'supplies'
      AND p1.src <> p2.dst AND p2.dst LIKE 'E00001%'
"""

# SPARQL CONSTRUCT twin (operators/graph.construct_triples): match the
# acquisition-supply BGP, emit two template triples per binding, dedup —
# the rule-materialization output is a graph, so set semantics.
KG_DUCK_SQL["kg_construct"] = f"""
    WITH dedup AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    b AS (
        SELECT DISTINCT p1.src AS a, p1.dst AS b, p2.dst AS c
        FROM dedup p1 JOIN dedup p2 ON p2.src = p1.dst
        WHERE p1.rel = 'acquired' AND p2.rel = 'supplies'
    )
    SELECT DISTINCT src, rel, dst FROM (
        SELECT a AS src, 'indirectly_supplies' AS rel, c AS dst FROM b
        UNION ALL
        SELECT c AS src, 'supplied_via' AS rel, b AS dst FROM b
    )
"""

# ComplEx filtered-ranking eval twin (operators/kgtrain.complex_eval):
# the transe_eval protocol with the 4-term complex trilinear real part
# ("cer:"/"cei:"/"crr:"/"cri:" parameter space), HIGHER is better.
_DUCK_CPLX_TRUE = (
    f"{_duck_dot3('hr', 'rr', 'tr')} + {_duck_dot3('hr', 'ri', 'ti')}"
    f" + {_duck_dot3('hi', 'rr', 'ti')} - {_duck_dot3('hi', 'ri', 'tr')}"
)
_DUCK_CPLX_CAND = (
    f"{_duck_dot3('hr', 'rr', 'cr')} + {_duck_dot3('hr', 'ri', 'ci')}"
    f" + {_duck_dot3('hi', 'rr', 'ci')} - {_duck_dot3('hi', 'ri', 'cr')}"
)
KG_DUCK_SQL["kg_complex_eval"] = f"""
    WITH pos AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    cands AS (
        SELECT rel, dst AS cand FROM (
            SELECT rel, dst, count(*) AS n,
                   row_number() OVER (PARTITION BY rel ORDER BY count(*) DESC, dst) AS rk
            FROM pos GROUP BY rel, dst) t
        WHERE rk <= 256
    ),
    q AS (
        SELECT src, rel, dst,
               {_duck_emb("cer:", "src")} AS hr,
               {_duck_emb("cei:", "src")} AS hi,
               {_duck_emb("crr:", "rel")} AS rr,
               {_duck_emb("cri:", "rel")} AS ri,
               {_duck_emb("cer:", "dst")} AS tr,
               {_duck_emb("cei:", "dst")} AS ti
        FROM pos
    ),
    qs AS (
        SELECT src, rel, dst, hr, hi, rr, ri,
               round({_DUCK_CPLX_TRUE}, 6) AS true_score
        FROM q
    ),
    scored AS (
        SELECT src, rel, dst, true_score, cand,
               round({_DUCK_CPLX_CAND}, 6) AS cand_score
        FROM (
            SELECT qs.src, qs.rel, qs.dst, qs.hr, qs.hi, qs.rr, qs.ri,
                   qs.true_score, c.cand,
                   {_duck_emb("cer:", "c.cand")} AS cr,
                   {_duck_emb("cei:", "c.cand")} AS ci
            FROM qs JOIN cands c ON c.rel = qs.rel AND c.cand <> qs.dst
        ) s
    ),
    rivals AS (
        SELECT s.src, s.rel, s.dst, count(*) AS n_better
        FROM scored s
        LEFT JOIN pos p ON p.src = s.src AND p.rel = s.rel AND p.dst = s.cand
        WHERE p.src IS NULL
          AND (s.cand_score > s.true_score
               OR (s.cand_score = s.true_score AND s.cand < s.dst))
        GROUP BY s.src, s.rel, s.dst
    ),
    ranked AS (
        SELECT p.rel, coalesce(r.n_better, 0) + 1 AS rank
        FROM pos p LEFT JOIN rivals r
          ON r.src = p.src AND r.rel = p.rel AND r.dst = p.dst
    )
    SELECT rel, count(*) AS n_queries,
           round(avg(1.0 / rank), 6) AS mrr,
           round(avg(CASE WHEN rank <= 3 THEN 1.0 ELSE 0.0 END), 6) AS hits_at_k
    FROM ranked GROUP BY rel
"""

# Bounded Bellman-Ford cheapest paths twin (operators/graph.cheapest_paths):
# deterministic 1..9 md5 edge weights (parallel edges collapse to their
# min per (src, dst)), recursive walk enumeration <= 4 hops from the
# landmark seeds, min total cost per (seed, entity), seed self-row
# excluded. Integer costs only.
KG_DUCK_SQL["kg_cheapest_path"] = f"""
    WITH RECURSIVE w AS (
        SELECT src, dst,
               min(1 + (CAST('0x' || substr(md5('w:' || '|' || src || '|' || rel
                    || '|' || dst), 1, 15) AS BIGINT) % 9)) AS w
        FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        WHERE src <> dst GROUP BY src, dst
    ),
    walk(seed, entity, cost, hop) AS (
        SELECT seed, seed AS entity, CAST(0 AS BIGINT) AS cost, 0 AS hop
        FROM (SELECT unnest([{_KG_CLOSENESS_SEEDS}]) AS seed)
        UNION ALL
        SELECT wk.seed, w.dst, wk.cost + w.w, wk.hop + 1
        FROM walk wk JOIN w ON w.src = wk.entity
        WHERE wk.hop < 4
    )
    SELECT seed, entity, CAST(min(cost) AS BIGINT) AS cost
    FROM walk WHERE entity <> seed GROUP BY seed, entity
"""

# DistMult filtered-ranking eval twin (operators/kgtrain.distmult_eval):
# kg_transe_eval's protocol with the trilinear score and the "de:"/"dr:"
# parameter space — HIGHER is better, so a rival beats the true tail on
# (score DESC, id ASC).
KG_DUCK_SQL["kg_distmult_eval"] = f"""
    WITH pos AS (
        SELECT DISTINCT src, rel, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
    ),
    cands AS (
        SELECT rel, dst AS cand FROM (
            SELECT rel, dst, count(*) AS n,
                   row_number() OVER (PARTITION BY rel ORDER BY count(*) DESC, dst) AS rk
            FROM pos GROUP BY rel, dst) t
        WHERE rk <= 256
    ),
    q AS (
        SELECT src, rel, dst,
               {_duck_emb("de:", "src")} AS es,
               {_duck_emb("dr:", "rel")} AS rr,
               {_duck_emb("de:", "dst")} AS eo
        FROM pos
    ),
    qs AS (
        SELECT src, rel, dst, es, rr,
               round({_duck_dot3("es", "rr", "eo")}, 6) AS true_score
        FROM q
    ),
    scored AS (
        SELECT src, rel, dst, true_score, cand,
               round({_duck_dot3("es", "rr", "ec")}, 6) AS cand_score
        FROM (
            SELECT qs.src, qs.rel, qs.dst, qs.es, qs.rr, qs.true_score,
                   c.cand, {_duck_emb("de:", "c.cand")} AS ec
            FROM qs JOIN cands c ON c.rel = qs.rel AND c.cand <> qs.dst
        ) s
    ),
    rivals AS (
        SELECT s.src, s.rel, s.dst, count(*) AS n_better
        FROM scored s
        LEFT JOIN pos p ON p.src = s.src AND p.rel = s.rel AND p.dst = s.cand
        WHERE p.src IS NULL
          AND (s.cand_score > s.true_score
               OR (s.cand_score = s.true_score AND s.cand < s.dst))
        GROUP BY s.src, s.rel, s.dst
    ),
    ranked AS (
        SELECT p.rel, coalesce(r.n_better, 0) + 1 AS rank
        FROM pos p LEFT JOIN rivals r
          ON r.src = p.src AND r.rel = p.rel AND r.dst = p.dst
    )
    SELECT rel, count(*) AS n_queries,
           round(avg(1.0 / rank), 6) AS mrr,
           round(avg(CASE WHEN rank <= 3 THEN 1.0 ELSE 0.0 END), 6) AS hits_at_k
    FROM ranked GROUP BY rel
"""


# One-row graph census (operators/graph.graph_stats): exact BIGINT counts,
# integer-ppm density / transitivity / reciprocity; the triangle total
# reuses the corrected kg_triangles CTE.
KG_DUCK_SQL["kg_graph_stats"] = f"""
    WITH directed AS (
        SELECT DISTINCT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        WHERE src <> dst
    ),
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM directed),
    deg AS (
        SELECT entity, count(*) AS d FROM (
            SELECT a AS entity FROM und UNION ALL SELECT b AS entity FROM und) u
        GROUP BY entity
    ),
    census AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d) / 2 AS BIGINT) AS n_edges_und,
               CAST(max(d) AS BIGINT) AS max_degree,
               CAST(sum(d * (d - 1)) AS BIGINT) AS wedges2x
        FROM deg
    ),
    tri AS (
        SELECT CAST(coalesce(sum(n_triangles), 0) / 3 AS BIGINT) AS n_triangles
        FROM ({KG_DUCK_SQL["kg_triangles"]})
    ),
    dcount AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_directed FROM directed),
    recip AS (
        SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
        FROM directed e WHERE EXISTS (
            SELECT 1 FROM directed r WHERE r.src = e.dst AND r.dst = e.src)
    )
    SELECT n_nodes, n_edges_directed, n_edges_und, max_degree,
           CAST(CASE WHEN n_nodes > 1
                THEN (1000000 * 2 * n_edges_und) // (n_nodes * (n_nodes - 1))
                ELSE 0 END AS BIGINT) AS density_ppm,
           n_triangles,
           CAST(CASE WHEN wedges2x > 0
                THEN (1000000 * 6 * n_triangles) // wedges2x
                ELSE 0 END AS BIGINT) AS transitivity_ppm,
           CAST(CASE WHEN n_edges_directed > 0
                THEN (1000000 * n_reciprocal) // n_edges_directed
                ELSE 0 END AS BIGINT) AS reciprocity_ppm
    FROM census CROSS JOIN tri CROSS JOIN dcount CROSS JOIN recip
"""


# Relation-bounded transitive closure (operators/graph.relation_reachability
# — the SPARQL property path rel+ with a 3-hop bound): BFS layering gives
# min hops, the twin takes min over the recursive expansion.
KG_DUCK_SQL["kg_reachability"] = f"""
    WITH RECURSIVE g AS (
        SELECT DISTINCT src, dst FROM '{_KG_FIXTURE_DIR}/edges.parquet'
        WHERE rel = 'supplies' AND src <> dst
    ),
    reach(src, dst, hops) AS (
        SELECT src, dst, 1 FROM g
        UNION
        SELECT r.src, g.dst, r.hops + 1
        FROM reach r JOIN g ON g.src = r.dst
        WHERE r.hops < 3
    )
    SELECT src, dst, CAST(min(hops) AS INTEGER) AS hops
    FROM reach GROUP BY src, dst
"""


# Deterministic Luby MIS twin (operators/graph.maximal_independent_set):
# identical md5 round-salted priorities, strict-min selection, unrolled per
# round exactly like the LPA/ANF twins.
def _mis_sql(rounds: int = 4) -> str:
    def pri(r: int) -> str:
        return f"CAST('0x' || substr(md5('mis:{r}:' || entity), 1, 15) AS BIGINT)"

    parts = [
        f"""sym AS MATERIALIZED (
        SELECT DISTINCT src AS entity, dst AS nbr
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
        UNION
        SELECT DISTINCT dst AS entity, src AS nbr
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    )""",
        "u0 AS MATERIALIZED (SELECT DISTINCT entity FROM sym)",
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""p{r} AS MATERIALIZED (SELECT entity, {pri(r)} AS p FROM u{r - 1})""")
        parts.append(
            f"""nm{r} AS MATERIALIZED (
        SELECT s.entity, min(p2.p) AS min_np
        FROM sym s
        JOIN u{r - 1} a ON a.entity = s.entity
        JOIN u{r - 1} b ON b.entity = s.nbr
        JOIN p{r} p2 ON p2.entity = s.nbr
        GROUP BY s.entity
    )"""
        )
        parts.append(
            f"""mis{r} AS MATERIALIZED (
        SELECT p.entity FROM p{r} p LEFT JOIN nm{r} n ON n.entity = p.entity
        WHERE n.entity IS NULL OR p.p < n.min_np
    )"""
        )
        parts.append(
            f"""cov{r} AS MATERIALIZED (
        SELECT DISTINCT s.entity
        FROM sym s
        JOIN u{r - 1} a ON a.entity = s.entity
        JOIN u{r - 1} b ON b.entity = s.nbr
        JOIN mis{r} m ON m.entity = s.nbr
        WHERE s.entity NOT IN (SELECT entity FROM mis{r})
    )"""
        )
        parts.append(
            f"""u{r} AS MATERIALIZED (
        SELECT entity FROM u{r - 1}
        WHERE entity NOT IN (SELECT entity FROM mis{r})
          AND entity NOT IN (SELECT entity FROM cov{r})
    )"""
        )
    reads = [
        f"SELECT entity, 'mis' AS status, CAST({r} AS INT) AS round FROM mis{r}"
        for r in range(1, rounds + 1)
    ] + [
        f"SELECT entity, 'covered' AS status, CAST({r} AS INT) AS round FROM cov{r}"
        for r in range(1, rounds + 1)
    ] + [
        f"SELECT entity, 'undecided' AS status, CAST(0 AS INT) AS round FROM u{rounds}"
    ]
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(reads)


KG_DUCK_SQL["kg_mis"] = _mis_sql()


# Deterministic maximal-matching twin (operators/graph.maximal_matching):
# identical md5 edge priorities, both-endpoint strict-min selection,
# unrolled per round with MATERIALIZED CTEs like the MIS twin.
def _mm_sql(rounds: int = 4) -> str:
    parts = [
        f"""c0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""e{r} AS MATERIALIZED (
        SELECT a, b,
               CAST('0x' || substr(md5('mm:{r}:' || a || '>' || b), 1, 15) AS BIGINT) AS p
        FROM c{r - 1}
    )"""
        )
        parts.append(
            f"""nm{r} AS MATERIALIZED (
        SELECT node, min(p) AS minp FROM (
            SELECT a AS node, p FROM e{r} UNION ALL SELECT b AS node, p FROM e{r}
        ) GROUP BY node
    )"""
        )
        parts.append(
            f"""m{r} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{r} e
        JOIN nm{r} x ON x.node = e.a
        JOIN nm{r} y ON y.node = e.b
        WHERE e.p = x.minp AND e.p = y.minp
    )"""
        )
        parts.append(
            f"""u{r} AS MATERIALIZED (
        SELECT a AS node FROM m{r} UNION SELECT b AS node FROM m{r}
    )"""
        )
        parts.append(
            f"""c{r} AS MATERIALIZED (
        SELECT a, b FROM c{r - 1}
        WHERE a NOT IN (SELECT node FROM u{r})
          AND b NOT IN (SELECT node FROM u{r})
    )"""
        )
    reads = [
        f"SELECT a, b, CAST({r} AS INT) AS round FROM m{r}"
        for r in range(1, rounds + 1)
    ]
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(reads)


KG_DUCK_SQL["kg_matching"] = _mm_sql()


# Modularity of the LPA partition (operators/graph.partition_modularity):
# Q = (4·m·intra − Σ d_c²) / (4m²) over the undirected distinct edge set,
# numerator/denominator exact BIGINT, final ratio one double division. The
# twin reruns the same deterministic LPA unrolling and the same integer
# census over the fixture edges.
KG_DUCK_SQL["kg_modularity"] = _lpa_sql(
    _LPA_ITERS,
    extra_parts=[
        f"""und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM '{_KG_FIXTURE_DIR}/edges.parquet' WHERE src <> dst
    )""",
        "mm AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)",
        """deg AS (
        SELECT entity, count(*) AS d FROM (
            SELECT a AS entity FROM und UNION ALL SELECT b AS entity FROM und
        ) GROUP BY entity
    )""",
        f"""intra AS (
        SELECT CAST(count(*) AS BIGINT) AS intra_edges
        FROM und u
        JOIN l{_LPA_ITERS} x ON x.entity = u.a
        JOIN l{_LPA_ITERS} y ON y.entity = u.b
        WHERE x.label = y.label
    )""",
        f"""dmass AS (
        SELECT l.label, sum(d.d) AS dsum
        FROM l{_LPA_ITERS} l JOIN deg d ON d.entity = l.entity
        GROUP BY l.label
    )""",
        "s2 AS (SELECT CAST(coalesce(sum(dsum * dsum), 0) AS BIGINT) AS dsum_sq FROM dmass)",
        f"ncom AS (SELECT CAST(count(DISTINCT label) AS BIGINT) AS n_communities FROM l{_LPA_ITERS})",
    ],
    tail=f"""SELECT mm.n_edges, ncom.n_communities, intra.intra_edges,
           CAST(4 * mm.n_edges * intra.intra_edges - s2.dsum_sq AS BIGINT) AS q_num,
           CAST(4 * mm.n_edges * mm.n_edges AS BIGINT) AS q_den,
           CASE WHEN mm.n_edges > 0 THEN
               round(CAST(4 * mm.n_edges * intra.intra_edges - s2.dsum_sq AS DOUBLE)
                     / CAST(4 * mm.n_edges * mm.n_edges AS DOUBLE), 6) END AS modularity
    FROM mm, ncom, intra, s2""",
)


def _kg_docs(spark: SparkSession):
    from chatvector_ai_spark.datagen import documents_df

    return documents_df(spark, KG_N_DOCS)


def _kg_chunks_query(strategy: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from chatvector_ai_spark.operators.ingest import ingest_chunks

        return ingest_chunks(_kg_docs(spark), strategy=strategy).select(
            "doc_id", "seq", "span_idx", "span_offset", "kind", "media_ref",
            "chunk_index", "chunk_id", "char_start", "char_end", "heading",
            "tenant_id",
        )

    run.__name__ = f"kg_ingest_chunks_{strategy}"
    return run


kg_ingest_chunks = _kg_chunks_query("fixed")


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chatvector_ai_spark.operators.extract import extract_triples_df, good_triples
    from chatvector_ai_spark.operators.ingest import ingest_chunks

    chunks = ingest_chunks(_kg_docs(spark))
    return good_triples(extract_triples_df(chunks))


_KG_LINKED_MEMO: dict[tuple[str, int], tuple[DataFrame, DataFrame]] = {}


def _kg_linked_full(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(linked mentions with triple payload columns, canonical map) — the
    shared front half of the linked/graph kg_* queries, built by the
    pipeline's own stage functions. Memoized per SparkContext
    (localCheckpoint) for the same reason as ``kg_edges``: one session runs
    every kg_* query and the ingest→extract→link→canonicalize front half
    is identical each time."""
    from chatvector_ai_spark.datagen import alias_df
    from chatvector_ai_spark.operators.canonicalize import canonical_map
    from chatvector_ai_spark.operators.extract import extract_triples_df, good_triples
    from chatvector_ai_spark.operators.ingest import ingest_chunks
    from chatvector_ai_spark.operators.link import link_mentions, mentions_from_triples

    key = (spark.sparkContext.applicationId, KG_N_DOCS)
    cached = _KG_LINKED_MEMO.get(key)
    if cached is not None:
        return cached
    aliases = alias_df(spark)
    triples = good_triples(extract_triples_df(ingest_chunks(_kg_docs(spark))))
    linked = link_mentions(
        mentions_from_triples(triples), aliases
    ).localCheckpoint(eager=True)
    cmap = canonical_map(linked, aliases).localCheckpoint(eager=True)
    _KG_LINKED_MEMO[key] = (linked, cmap)
    return linked, cmap


def _kg_linked(spark: SparkSession) -> DataFrame:
    linked, _ = _kg_linked_full(spark)
    return linked.select(
        "doc_id", "chunk_id", "role", "surface", "m_start", "m_end",
        "entity_id", "canonical", "linked", "tenant_id",
    )


def kg_linked_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg_linked(spark)


def kg_tenant_scoped_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 semi-join tenant scope over the KG mention table: the scope set is
    the tenant's documents; scoping is a left_semi join on doc_id (NOT a
    column filter) so the same plan works when the scope set comes from an
    entitlements table rather than a column (reference tenant_scope.py)."""
    from pyspark.sql import functions as F

    scope = (
        _kg_docs(spark)
        .where(F.col("tenant_id") == KG_SCOPE_TENANT)
        .select("doc_id")
    )
    return _kg_linked(spark).join(F.broadcast(scope), "doc_id", "left_semi")


def kg_tenant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tenant mention / doc / entity accounting (isolation audit: row
    counts partition cleanly by tenant with no cross-tenant leakage)."""
    from pyspark.sql import functions as F

    return (
        _kg_linked(spark)
        .groupBy("tenant_id")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct(
                F.when(F.col("linked"), F.col("entity_id"))
            ).alias("n_entities"),
        )
    )


def kg_canonical_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: top canonical entities by mention count + provenance docs."""
    from pyspark.sql import functions as F

    return (
        kg_nodes(spark, sf_dir)
        .select("canonical_entity", "n_mentions", "n_docs")
        .orderBy(F.desc("n_mentions"), F.asc("canonical_entity"))
        .limit(10)
    )


# ~30 kg_* suite queries all start from the same fixture-scale edge build
# (ingest → extract → link → canonicalize). The driver runs each query as a
# separate call in ONE session, so recomputing that front half per query is
# pure waste — memoize the materialized edge table per SparkContext.
# localCheckpoint(eager=True) pins the rows executor-side; a restarted
# session gets a fresh application id and rebuilds. Deliberately NOT used
# by the operators themselves (only the test-harness entry points).
_KG_EDGES_MEMO: dict[tuple[str, int], DataFrame] = {}


def kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph materialization — the canonical edge table (one row per triple
    with both endpoints resolved to component representatives), checked
    value-for-value against the single-node oracle's union-find build."""
    from chatvector_ai_spark.pipeline import edges_from_linked

    key = (spark.sparkContext.applicationId, KG_N_DOCS)
    cached = _KG_EDGES_MEMO.get(key)
    if cached is not None:
        return cached
    linked, cmap = _kg_linked_full(spark)
    edges = edges_from_linked(linked, cmap).drop("bucket").localCheckpoint(eager=True)
    _KG_EDGES_MEMO[key] = edges
    return edges


def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical node aggregate (pipeline stage 6's nodes table, minus the
    bucket column) — counts, provenance, and min-surface label per entity,
    checked against the union-find oracle's build."""
    from chatvector_ai_spark.pipeline import nodes_from_linked

    linked, cmap = _kg_linked_full(spark)
    return nodes_from_linked(linked, cmap).drop("bucket")


def kg_entity_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 canonical entities by edge degree (graph.degrees shape)."""
    from pyspark.sql import functions as F

    edges = kg_edges(spark, sf_dir)
    return (
        edges.select(F.col("src").alias("entity"))
        .unionByName(edges.select(F.col("dst").alias("entity")))
        .groupBy("entity")
        .agg(F.count("*").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("entity"))
        .limit(25)
    )


KG_COOCCUR_CAP = 32  # top-N entities per doc entering the pair join


def kg_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence: canonical-entity pairs sharing ≥2 documents
    (graph.cooccurrence shape). The per-doc pair fan-out is bounded by
    keeping each doc's top-KG_COOCCUR_CAP entities by mention count
    (entity-id tiebreak) before the self-join — one pathological
    10⁴-entity doc can no longer emit 5×10⁷ pairs in a single task; the
    ranking window is PARTITION BY doc_id, never global."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    linked, cmap = _kg_linked_full(spark)
    per_doc = (
        linked.join(F.broadcast(cmap), "entity_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_entity"), F.col("entity_id")).alias("entity"),
        )
        .groupBy("doc_id", "entity")
        .agg(F.count("*").alias("n_mentions"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_mentions"), F.asc("entity"))
    resolved = (
        per_doc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KG_COOCCUR_CAP)
        .select("doc_id", "entity")
    )
    a, b = resolved.alias("a"), resolved.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.entity") < F.col("b.entity")),
        )
        .groupBy(
            F.col("a.entity").alias("entity_a"), F.col("b.entity").alias("entity_b")
        )
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


KG_SEED_ENTITY = "E000000"  # top-degree hub in the KG_N_DOCS fixture graph


def kg_ego_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ego neighborhood of the seed entity (operators/graph.ego_edges)."""
    from chatvector_ai_spark.operators.graph import ego_edges

    return ego_edges(kg_edges(spark, sf_dir), KG_SEED_ENTITY, n_buckets=None)


def kg_relation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation edge statistics (operators/graph.relation_counts)."""
    from chatvector_ai_spark.operators.graph import relation_counts

    return relation_counts(kg_edges(spark, sf_dir))


def kg_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reachable set from the seed with first-reached hop
    (operators/graph.khop — BFS frontier expansion; the DuckDB twin is a
    recursive CTE taking min(hop), which equals BFS first-reach depth)."""
    from chatvector_ai_spark.operators.graph import khop

    return khop(kg_edges(spark, sf_dir), [KG_SEED_ENTITY], k=2)


def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration fixed-point PageRank over the canonical edge graph
    (operators/graph.pagerank — scaled-integer math; the driver path at
    this size, iterative joins above ``CC_SMALL_CORE_EDGES``)."""
    from chatvector_ai_spark.operators.graph import pagerank

    return pagerank(kg_edges(spark, sf_dir))


def kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the seed hub entity — proximity ranking
    of the KG around E000000 (operators/graph.pagerank with seeds)."""
    from chatvector_ai_spark.operators.graph import pagerank

    return pagerank(kg_edges(spark, sf_dir), seeds=[KG_SEED_ENTITY])


def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle counts under degree orientation
    (operators/graph.triangles — O(m^1.5) wedge join, hub-skew safe)."""
    from chatvector_ai_spark.operators.graph import triangles

    return triangles(kg_edges(spark, sf_dir))


def kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (operators/graph.connected_components): the
    driver union-find at this size, alternating large-star / small-star
    rounds above ``CC_SMALL_CORE_EDGES``."""
    from chatvector_ai_spark.operators.graph import connected_components

    return connected_components(kg_edges(spark, sf_dir))


def kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the canonical graph — entities surviving pendant-tree
    peeling, with their core-subgraph degree (operators/graph.kcore)."""
    from chatvector_ai_spark.operators.graph import kcore

    return kcore(kg_edges(spark, sf_dir), k=2)


def kg_structsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-neighbor Jaccard entity pairs — the structure-based
    entity-resolution signal (operators/graph.structural_similarity)."""
    from chatvector_ai_spark.operators.graph import structural_similarity

    return structural_similarity(kg_edges(spark, sf_dir))


def kg_predicate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation functionality profile (operators/graph.predicate_profile)."""
    from chatvector_ai_spark.operators.graph import predicate_profile

    return predicate_profile(kg_edges(spark, sf_dir))


def kg_metapaths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop relation-composition counts (operators/graph.metapath_counts)."""
    from chatvector_ai_spark.operators.graph import metapath_counts

    return metapath_counts(kg_edges(spark, sf_dir))


def kg_rel_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation pairs sharing subjects (operators/graph.relation_cooccurrence)."""
    from chatvector_ai_spark.operators.graph import relation_cooccurrence

    return relation_cooccurrence(kg_edges(spark, sf_dir))


def kg_transe_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation TransE margin loss at the deterministic init
    (operators/kgtrain.transe_margin_loss; dim=16, n_neg=2, gamma=1)."""
    from chatvector_ai_spark.operators.kgtrain import transe_margin_loss

    return transe_margin_loss(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_transe_step_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation margin loss after ONE full-batch TransE subgradient
    step (operators/kgtrain.transe_sgd_step + transe_loss_with) — the
    train-then-evaluate loop as pure DataFrame ops. Exact DuckDB twin:
    the L1 subgradients are sign vectors, so gradient sums are exact
    small-integer floats (order-independent) and the unrolled one-step
    CTE reproduces the post-step loss bit-for-bit; the loss-decrease
    property is additionally pinned by tests/test_kgtrain.py."""
    from chatvector_ai_spark.operators.kgtrain import (
        transe_loss_with,
        transe_sgd_step,
    )

    edges = kg_edges(spark, sf_dir)
    ents, rels = transe_sgd_step(edges, dim=_TRANSE_DIM, lr=0.01)
    return transe_loss_with(edges, ents, rels)


def kg_transe_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered link prediction: top-3 new tails per (src, rel)
    (operators/kgtrain.transe_predict_tails)."""
    from chatvector_ai_spark.operators.kgtrain import transe_predict_tails

    return transe_predict_tails(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_transe_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered MRR / Hits@3 of the TransE model per relation
    (operators/kgtrain.transe_eval)."""
    from chatvector_ai_spark.operators.kgtrain import transe_eval

    return transe_eval(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_export_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Triples serialization of the distinct edge set
    (operators/graph.export_ntriples)."""
    from chatvector_ai_spark.operators.graph import export_ntriples

    return export_ntriples(kg_edges(spark, sf_dir))


def kg_edge_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI edge weights within each relation (operators/graph.edge_pmi)."""
    from chatvector_ai_spark.operators.graph import edge_pmi

    return edge_pmi(kg_edges(spark, sf_dir))


def kg_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round synchronous label-propagation communities
    (operators/graph.label_propagation)."""
    from chatvector_ai_spark.operators.graph import label_propagation

    return label_propagation(kg_edges(spark, sf_dir), iterations=_LPA_ITERS)


def kg_entity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 PMI-ranked facts per entity
    (operators/graph.entity_fact_summary)."""
    from chatvector_ai_spark.operators.graph import entity_fact_summary

    return entity_fact_summary(kg_edges(spark, sf_dir))


def kg_consolidated_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence-profiled consolidated edges (operators/graph.consolidate_edges)."""
    from chatvector_ai_spark.operators.graph import consolidate_edges

    return consolidate_edges(kg_edges(spark, sf_dir))


def kg_inferred_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-signature type induction (operators/graph.infer_types)."""
    from chatvector_ai_spark.operators.graph import infer_types

    return infer_types(kg_edges(spark, sf_dir))


def kg_edge_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: edges vs edges-minus-the-last-doc
    (operators/graph.diff_edges)."""
    from chatvector_ai_spark.operators.graph import diff_edges

    from pyspark.sql import functions as F

    edges = kg_edges(spark, sf_dir)
    last_doc = edges.agg(F.max("doc_id")).first()[0]
    return diff_edges(edges.where(F.col("doc_id") != last_doc), edges)


def kg_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence-weighted PageRank (operators/graph.weighted_pagerank)."""
    from chatvector_ai_spark.operators.graph import weighted_pagerank

    return weighted_pagerank(kg_edges(spark, sf_dir))


def kg_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hub entities by endpoint degree (operators/graph.skew_report)."""
    from chatvector_ai_spark.operators.graph import skew_report

    return skew_report(kg_edges(spark, sf_dir))


def kg_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite domain/range violations
    (operators/graph.constraint_violations)."""
    from chatvector_ai_spark.operators.graph import constraint_violations

    return constraint_violations(kg_edges(spark, sf_dir))


def kg_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All simple directed ≤3-hop paths from a deterministic source
    (operators/graph.paths_between). The path/rels arrays are serialized
    '|'-joined so every output column is atomic — the driver's value-hash
    canonicalizer cannot hash list cells (round-4 harness error)."""
    from pyspark.sql import functions as F

    from chatvector_ai_spark.operators.graph import paths_between

    edges = kg_edges(spark, sf_dir)
    source = edges.agg(F.min("src")).first()[0]
    out = paths_between(edges, source, max_hops=3)
    return out.select(
        F.array_join("path", "|").alias("path"),
        F.array_join("rels", "|").alias("rels"),
        "n_hops",
    )


def kg_conflicts_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery over functional relations
    (operators/graph.resolve_conflicts)."""
    from chatvector_ai_spark.operators.graph import resolve_conflicts

    return resolve_conflicts(kg_edges(spark, sf_dir))


def kg_ontology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation domain/range induction (operators/graph.induce_ontology)."""
    from chatvector_ai_spark.operators.graph import induce_ontology

    return induce_ontology(kg_edges(spark, sf_dir))


def kg_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP match (?a acquired ?b)(?b supplies ?c)
    (operators/graph.match_pattern)."""
    from chatvector_ai_spark.operators.graph import match_pattern

    return match_pattern(
        kg_edges(spark, sf_dir),
        [("?a", "acquired", "?b"), ("?b", "supplies", "?c")],
    )


def kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corrupted-tail KGE training negatives, filtered
    setting (operators/kgtrain.negative_samples)."""
    from chatvector_ai_spark.operators.kgtrain import negative_samples

    return negative_samples(kg_edges(spark, sf_dir))


def kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor + Jaccard-ppm link prediction over the canonical
    graph — the structural complement to kg_transe_link_pred
    (operators/graph.link_prediction_cn)."""
    from chatvector_ai_spark.operators.graph import link_prediction_cn

    return link_prediction_cn(kg_edges(spark, sf_dir))


def kg_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-lite 2-hop horn rules r1(x,y) ∧ r2(y,z) ⇒ r3(x,z) with
    support and integer-ppm confidence (operators/graph.mine_rules).
    Fixture-scale thresholds (support ≥ 1, conf ≥ 0) so the sparse oracle
    graph yields rule rows; production defaults are stricter."""
    from chatvector_ai_spark.operators.graph import mine_rules

    return mine_rules(kg_edges(spark, sf_dir), min_support=1, min_conf_ppm=0)


def kg_relation_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation symmetry / functionality axiom induction
    (operators/graph.relation_properties)."""
    from chatvector_ai_spark.operators.graph import relation_properties

    return relation_properties(kg_edges(spark, sf_dir))


def kg_inverse_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:inverseOf candidate pairs (operators/graph.inverse_relations).
    min_overlap=1 at fixture scale; production default is stricter."""
    from chatvector_ai_spark.operators.graph import inverse_relations

    return inverse_relations(kg_edges(spark, sf_dir), min_overlap=1)


def kg_distmult_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation DistMult margin loss at the deterministic init —
    the scorer-pluggability proof for the KGE layer
    (operators/kgtrain.distmult_margin_loss; dim=16, n_neg=2, gamma=1)."""
    from chatvector_ai_spark.operators.kgtrain import distmult_margin_loss

    return distmult_margin_loss(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_triple_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fact evidence aggregation: mentions, distinct docs/chunks, and
    integer-ppm confidence stats (operators/graph.triple_evidence)."""
    from chatvector_ai_spark.operators.graph import triple_evidence

    return triple_evidence(kg_edges(spark, sf_dir))


def kg_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF neighborhood function: per-entity 1- and 2-hop ball-size
    estimates from 16 deterministic FM bitmask registers
    (operators/graph.neighborhood_function)."""
    from chatvector_ai_spark.operators.graph import neighborhood_function

    return neighborhood_function(kg_edges(spark, sf_dir), max_hops=2, n_registers=16)


def kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, 2 scaled-integer iterations with exact
    L-infinity renormalization (operators/graph.hits)."""
    from chatvector_ai_spark.operators.graph import hits

    return hits(kg_edges(spark, sf_dir))


def kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus: 2 hash-seeded walks of up to 3 steps
    from every entity (operators/graph.random_walks)."""
    from chatvector_ai_spark.operators.graph import random_walks

    return random_walks(kg_edges(spark, sf_dir), n_walks=2, length=3)


def kg_supergraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-rollup supergraph: LPA communities collapsed to
    (c_src, c_dst) edge/relation counts
    (operators/graph.community_supergraph)."""
    from chatvector_ai_spark.operators.graph import community_supergraph

    return community_supergraph(kg_edges(spark, sf_dir), iterations=_LPA_ITERS)


def kg_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution (operators/graph.degree_histogram)."""
    from chatvector_ai_spark.operators.graph import degree_histogram

    return degree_histogram(kg_edges(spark, sf_dir))


def kg_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic node2vec-biased walk corpus (p=4, q=2 integer
    weights; operators/graph.node2vec_walks)."""
    from chatvector_ai_spark.operators.graph import node2vec_walks

    return node2vec_walks(kg_edges(spark, sf_dir), n_walks=2, length=3)


def kg_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark closeness centrality from four seed hubs, 3-hop radius
    (operators/graph.closeness — multi-source BFS). max_frontier=None:
    the fixture graph is small; the default stays capped for callers."""
    from chatvector_ai_spark.operators.graph import closeness

    return closeness(
        kg_edges(spark, sf_dir),
        ["E000000", "E000001", "E000002", "E000003"],
        max_hops=3,
        max_frontier=None,
    )


def kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed strongly connected components — min-mutually-reachable-id
    labels via trim + forward-coloring + backward-confirmation rounds
    (operators/graph.strongly_connected_components); the oracle defines
    the same semantics with a transitive-closure recursive CTE."""
    from chatvector_ai_spark.operators.graph import strongly_connected_components

    return strongly_connected_components(kg_edges(spark, sf_dir))


def kg_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) training-pair counts from the
    deterministic DeepWalk corpus, window=2
    (operators/graph.skipgram_pairs over random_walks)."""
    from chatvector_ai_spark.operators.graph import random_walks, skipgram_pairs

    return skipgram_pairs(
        random_walks(kg_edges(spark, sf_dir), n_walks=2, length=3), window=2
    )


def kg_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-level neighborhood-growth curve + 90% effective-diameter flag
    from the ANF sketches, 3-hop horizon
    (operators/graph.effective_diameter)."""
    from chatvector_ai_spark.operators.graph import effective_diameter

    return effective_diameter(kg_edges(spark, sf_dir), max_hops=3, n_registers=16)


def kg_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction: hub-discounted integer-ppm
    Σ 1/deg(z) over common neighbors
    (operators/graph.link_prediction_ra)."""
    from chatvector_ai_spark.operators.graph import link_prediction_ra

    return link_prediction_ra(kg_edges(spark, sf_dir))


def kg_complex_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation ComplEx margin loss at the deterministic init — the
    third scorer on the shared KGE substrate, handling asymmetric
    relations (operators/kgtrain.complex_margin_loss; dim=16, n_neg=2,
    gamma=1)."""
    from chatvector_ai_spark.operators.kgtrain import complex_margin_loss

    return complex_margin_loss(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity local clustering coefficient in integer ppm over the
    degree-oriented triangle count
    (operators/graph.clustering_coefficient)."""
    from chatvector_ai_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(kg_edges(spark, sf_dir))


def kg_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-level degree assortativity: exact BIGINT moments + one
    double Pearson readout (operators/graph.degree_assortativity)."""
    from chatvector_ai_spark.operators.graph import degree_assortativity

    return degree_assortativity(kg_edges(spark, sf_dir))


def kg_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality, 3 rounds, alpha=1/4, all-integer
    scaled scores (operators/graph.katz_centrality)."""
    from chatvector_ai_spark.operators.graph import katz_centrality

    return katz_centrality(kg_edges(spark, sf_dir), iterations=3, alpha_inv=4)


def kg_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark harmonic centrality from the four closeness seed hubs,
    3-hop radius (operators/graph.harmonic_centrality — shares the
    multi-source BFS with closeness)."""
    from chatvector_ai_spark.operators.graph import harmonic_centrality

    return harmonic_centrality(
        kg_edges(spark, sf_dir),
        ["E000000", "E000001", "E000002", "E000003"],
        max_hops=3,
        max_frontier=None,
    )


def kg_rotate_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation RotatE margin loss at the deterministic init — the
    fourth scorer on the shared KGE substrate, modeling composition and
    inversion via unit rotations (operators/kgtrain.rotate_margin_loss;
    dim=16, n_neg=2, gamma=1)."""
    from chatvector_ai_spark.operators.kgtrain import rotate_margin_loss

    return rotate_margin_loss(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop transitive closure of the 'supplies' relation — the SPARQL
    rel+ property path (operators/graph.relation_reachability).
    max_frontier=None: fixture scale; the default stays capped."""
    from chatvector_ai_spark.operators.graph import relation_reachability

    return relation_reachability(
        kg_edges(spark, sf_dir), "supplies", max_hops=3, max_frontier=None
    )


def kg_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic local-dominant-edge maximal matching — merge
    scheduling (operators/graph.maximal_matching)."""
    from chatvector_ai_spark.operators.graph import maximal_matching

    return maximal_matching(kg_edges(spark, sf_dir), rounds=4)


def kg_pattern_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with a SPARQL OPTIONAL block: (?a supplies ?b) OPTIONAL
    (?b acquired ?c) (operators/graph.match_pattern optional=)."""
    from chatvector_ai_spark.operators.graph import match_pattern

    return match_pattern(
        kg_edges(spark, sf_dir),
        [("?a", "supplies", "?b")],
        optional=[("?b", "acquired", "?c")],
    )


def kg_pattern_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP + OPTIONAL restricted by a SPARQL VALUES list on ?a
    (operators/graph.match_pattern values=)."""
    from chatvector_ai_spark.operators.graph import match_pattern

    return match_pattern(
        kg_edges(spark, sf_dir),
        [("?a", "supplies", "?b")],
        optional=[("?b", "acquired", "?c")],
        values={"a": ["E000002", "E000007", "E000016"]},
    )


def kg_pattern_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with SPARQL MINUS: (?a supplies ?b) MINUS (?a acquired ?c)
    (operators/graph.match_pattern minus=)."""
    from chatvector_ai_spark.operators.graph import match_pattern

    return match_pattern(
        kg_edges(spark, sf_dir),
        [("?a", "supplies", "?b")],
        minus=[("?a", "acquired", "?c")],
    )


def kg_pattern_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION: pairs related by acquisition OR merger
    (operators/graph.match_pattern_union)."""
    from chatvector_ai_spark.operators.graph import match_pattern_union

    return match_pattern_union(
        kg_edges(spark, sf_dir),
        [[("?a", "acquired", "?b")], [("?a", "merged_with", "?b")]],
    )


def kg_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby maximal independent set — hash-priority anchor
    selection (operators/graph.maximal_independent_set)."""
    from chatvector_ai_spark.operators.graph import maximal_independent_set

    return maximal_independent_set(kg_edges(spark, sf_dir), rounds=4)


def kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Newman modularity of the 4-round LPA partition
    (operators/graph.partition_modularity over label_propagation)."""
    from chatvector_ai_spark.operators.graph import (
        label_propagation,
        partition_modularity,
    )

    edges = kg_edges(spark, sf_dir)
    return partition_modularity(edges, label_propagation(edges, iterations=_LPA_ITERS))


def kg_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural census: counts, density, transitivity,
    reciprocity in integer ppm (operators/graph.graph_stats)."""
    from chatvector_ai_spark.operators.graph import graph_stats

    return graph_stats(kg_edges(spark, sf_dir))


def kg_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement, 2 rounds — structural node fingerprints
    (operators/graph.wl_colors)."""
    from chatvector_ai_spark.operators.graph import wl_colors

    return wl_colors(kg_edges(spark, sf_dir), rounds=2)


def kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the KG: edges supported by >= 1 triangle after iterative
    peeling to the TRUE fixed point (operators/graph.ktruss default bound;
    the DuckDB twin unrolls 12 rounds, which is converged for this
    fixture — the gate would go red if the corpus ever needed more)."""
    from chatvector_ai_spark.operators.graph import ktruss

    return ktruss(kg_edges(spark, sf_dir), k=3)


def kg_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition via iterated neighborhood h-indices — every
    entity's core number (operators/graph.coreness)."""
    from chatvector_ai_spark.operators.graph import coreness

    return coreness(kg_edges(spark, sf_dir))


def kg_pattern_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property path `acquired / supplies+` bounded at 3
    plus-hops, min hop count per endpoint pair
    (operators/graph.property_path)."""
    from chatvector_ai_spark.operators.graph import property_path

    return property_path(
        kg_edges(spark, sf_dir), "acquired", "supplies", max_hops=3
    )


def kg_pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with a SPARQL FILTER over the bindings: (?a acquired ?b)
    (?b supplies ?c) FILTER(?a != ?c && STRSTARTS(?c, 'E00001'))
    (operators/graph.match_pattern filter_expr=)."""
    from chatvector_ai_spark.operators.graph import match_pattern

    return match_pattern(
        kg_edges(spark, sf_dir),
        [("?a", "acquired", "?b"), ("?b", "supplies", "?c")],
        filter_expr="a <> c AND c LIKE 'E00001%'",
    )


def kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT: materialize inferred `indirectly_supplies` /
    `supplied_via` triples from the acquisition-supply BGP
    (operators/graph.construct_triples)."""
    from chatvector_ai_spark.operators.graph import construct_triples

    return construct_triples(
        kg_edges(spark, sf_dir),
        [("?a", "acquired", "?b"), ("?b", "supplies", "?c")],
        [("?a", "indirectly_supplies", "?c"), ("?c", "supplied_via", "?b")],
    )


def kg_distmult_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered MRR / Hits@3 of the DistMult scorer per relation — the
    eval harness is scorer-pluggable (operators/kgtrain.distmult_eval)."""
    from chatvector_ai_spark.operators.kgtrain import distmult_eval

    return distmult_eval(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_complex_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered MRR / Hits@3 of the ComplEx scorer per relation — the
    third scorer through the same eval protocol
    (operators/kgtrain.complex_eval)."""
    from chatvector_ai_spark.operators.kgtrain import complex_eval

    return complex_eval(kg_edges(spark, sf_dir), dim=_TRANSE_DIM)


def kg_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford cheapest paths from the landmark seeds over
    deterministic integer edge weights (operators/graph.cheapest_paths)."""
    from chatvector_ai_spark.operators.graph import cheapest_paths

    return cheapest_paths(
        kg_edges(spark, sf_dir),
        ["E000000", "E000001", "E000002", "E000003"],
        max_hops=4,
    )


KG_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kg_ingest_chunks": kg_ingest_chunks,
    "kg_ingest_chunks_paragraph": _kg_chunks_query("paragraph"),
    "kg_ingest_chunks_semantic": _kg_chunks_query("semantic"),
    "kg_triples": kg_triples,
    "kg_linked_mentions": kg_linked_mentions,
    "kg_canonical_entities": kg_canonical_entities,
    "kg_tenant_scoped_mentions": kg_tenant_scoped_mentions,
    "kg_tenant_counts": kg_tenant_counts,
    "kg_edges": kg_edges,
    "kg_nodes": kg_nodes,
    "kg_entity_degrees": kg_entity_degrees,
    "kg_cooccurrence": kg_cooccurrence,
    "kg_ego_edges": kg_ego_edges,
    "kg_relation_counts": kg_relation_counts,
    "kg_khop": kg_khop,
    "kg_pagerank": kg_pagerank,
    "kg_ppr": kg_ppr,
    "kg_triangles": kg_triangles,
    "kg_components": kg_components,
    "kg_kcore": kg_kcore,
    "kg_structsim": kg_structsim,
    "kg_predicate_profile": kg_predicate_profile,
    "kg_metapaths": kg_metapaths,
    "kg_rel_cooccur": kg_rel_cooccur,
    "kg_negative_samples": kg_negative_samples,
    "kg_edge_pmi": kg_edge_pmi,
    "kg_consolidated_edges": kg_consolidated_edges,
    "kg_inferred_types": kg_inferred_types,
    "kg_pattern_match": kg_pattern_match,
    "kg_transe_loss": kg_transe_loss,
    "kg_transe_step_loss": kg_transe_step_loss,
    "kg_transe_link_pred": kg_transe_link_pred,
    "kg_transe_eval": kg_transe_eval,
    "kg_export_ntriples": kg_export_ntriples,
    "kg_entity_summary": kg_entity_summary,
    "kg_lpa_communities": kg_lpa_communities,
    "kg_conflicts_resolved": kg_conflicts_resolved,
    "kg_ontology": kg_ontology,
    "kg_edge_diff": kg_edge_diff,
    "kg_paths": kg_paths,
    "kg_skew_report": kg_skew_report,
    "kg_weighted_pagerank": kg_weighted_pagerank,
    "kg_constraint_violations": kg_constraint_violations,
    "kg_link_prediction": kg_link_prediction,
    "kg_rules": kg_rules,
    "kg_relation_properties": kg_relation_properties,
    "kg_inverse_relations": kg_inverse_relations,
    "kg_closeness": kg_closeness,
    "kg_distmult_loss": kg_distmult_loss,
    "kg_triple_evidence": kg_triple_evidence,
    "kg_anf": kg_anf,
    "kg_hits": kg_hits,
    "kg_random_walks": kg_random_walks,
    "kg_supergraph": kg_supergraph,
    "kg_degree_histogram": kg_degree_histogram,
    "kg_node2vec_walks": kg_node2vec_walks,
    "kg_scc": kg_scc,
    "kg_skipgram_pairs": kg_skipgram_pairs,
    "kg_effective_diameter": kg_effective_diameter,
    "kg_link_prediction_ra": kg_link_prediction_ra,
    "kg_complex_loss": kg_complex_loss,
    "kg_clustering": kg_clustering,
    "kg_assortativity": kg_assortativity,
    "kg_katz": kg_katz,
    "kg_harmonic": kg_harmonic,
    "kg_rotate_loss": kg_rotate_loss,
    "kg_wl_colors": kg_wl_colors,
    "kg_ktruss": kg_ktruss,
    "kg_graph_stats": kg_graph_stats,
    "kg_reachability": kg_reachability,
    "kg_modularity": kg_modularity,
    "kg_mis": kg_mis,
    "kg_matching": kg_matching,
    "kg_pattern_optional": kg_pattern_optional,
    "kg_pattern_values": kg_pattern_values,
    "kg_pattern_minus": kg_pattern_minus,
    "kg_pattern_union": kg_pattern_union,
    "kg_coreness": kg_coreness,
    "kg_pattern_path": kg_pattern_path,
    "kg_pattern_filter": kg_pattern_filter,
    "kg_construct": kg_construct,
    "kg_distmult_eval": kg_distmult_eval,
    "kg_complex_eval": kg_complex_eval,
    "kg_cheapest_path": kg_cheapest_path,
}


# ---------------------------------------------------------------------------
# public API used by __spark_entry__
# ---------------------------------------------------------------------------


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _mk_sql_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # timestamp casts / date_format must agree with the (naive-ts)
        # DuckDB oracle regardless of the driver session's zone
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        register_views(spark, sf_dir)
        return spark.sql(SPARK_SQL[name])

    run.__name__ = f"query_{name}"
    return run


def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters = connected components
    (operators/graph.connected_components: driver union-find up to
    ``CC_SMALL_CORE_EDGES`` pairs, large-star/small-star above) over the
    verified ≥0.8 Jaccard pair graph of the dedup operator
    (operators/dedup.near_dup_pairs: the rows of dd_jaccard_pairs); one
    row per cluster with the min-id representative and how many
    members dedup would drop."""
    from pyspark.sql import functions as F

    from chatvector_ai_spark.operators.dedup import near_dup_pairs
    from chatvector_ai_spark.operators.graph import connected_components

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    register_views(spark, sf_dir)
    pairs = near_dup_pairs(spark, spark.table("documents"))
    comp = connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    return comp.groupBy(F.col("component").alias("representative")).agg(
        F.count("*").alias("cluster_size"),
        (F.count("*") - F.lit(1)).alias("n_removed"),
    )


def dd_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact histogram: duplicate-cluster sizes → how many clusters
    of each size and how many documents dedup removes — the one-screen
    answer to "what does near-dup removal cost this corpus". Aggregates
    the connected-components output of ``dd_dup_clusters``;
    all integer counts."""
    from pyspark.sql import functions as F

    clusters = dd_dup_clusters(spark, sf_dir)
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_removed").alias("docs_removed"),
    )


DUCK_SQL["dd_cluster_stats"] = f"""
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(sum(n_removed) AS BIGINT) AS docs_removed
    FROM ({DUCK_SQL["dd_dup_clusters"]}) c
    GROUP BY cluster_size
"""


def ann_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Lloyd k-means over the embeddings table: k=8
    deterministic-init centroids, 2 assign/update rounds, final
    (vec_id, cluster, dist2) assignment — the semantic-clustering /
    IVF-cell-build primitive (operators/embedcluster.kmeans_assign)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from chatvector_ai_spark.operators.embedcluster import kmeans_assign

    return kmeans_assign(emb, k=8, iters=2)


def _ann_kmeans_oracle_sql(
    k: int = 8, iters: int = 2, dim: int = 64, scale: int = 1000, offset: int = 10000
) -> str:
    """Unrolled Lloyd twin (operators/embedcluster.kmeans_assign): same
    positive-BIGINT quantization grid, exact integer squared-L2 argmin
    (ties to the smaller cluster), exact integer centroid means (sums are
    positive by the offset, so // and DIV agree), empty clusters keep the
    previous centroid."""
    dist = (
        f"CAST(list_sum(list_transform(range(0, {dim}), "
        "i -> (v.q[i+1]-c.c[i+1])*(v.q[i+1]-c.c[i+1]))) AS BIGINT)"
    )
    parts = [
        f"""q AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * {scale}) + {offset} AS BIGINT)) AS q
        FROM embeddings
    )""",
        f"""c0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
               q AS c
        FROM (SELECT vec_id, q FROM q ORDER BY vec_id LIMIT {k})
    )""",
    ]
    for r in range(1, iters + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
        SELECT v.vec_id, v.q, c.cluster, {dist} AS dist2
        FROM q v CROSS JOIN c{r - 1} c
    )"""
        )
        parts.append(
            f"""a{r} AS MATERIALIZED (
        SELECT vec_id, q, cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist2, cluster) AS rk
            FROM d{r}) t
        WHERE rk = 1
    )"""
        )
        parts.append(
            f"""s{r} AS MATERIALIZED (
        SELECT a.cluster, i.i AS pos,
               CAST(sum(a.q[i.i + 1]) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM a{r} a CROSS JOIN (SELECT unnest(range(0, {dim})) AS i) i
        GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"m{r} AS MATERIALIZED (SELECT cluster, list(s // n ORDER BY pos) AS c "
            f"FROM s{r} GROUP BY cluster)"
        )
        parts.append(
            f"""c{r} AS MATERIALIZED (
        SELECT c{r - 1}.cluster, coalesce(m{r}.c, c{r - 1}.c) AS c
        FROM c{r - 1} LEFT JOIN m{r} USING (cluster)
    )"""
        )
    parts.append(
        f"""df AS MATERIALIZED (
        SELECT v.vec_id, c.cluster, {dist} AS dist2
        FROM q v CROSS JOIN c{iters} c
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT vec_id, cluster, dist2 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist2, cluster) AS rk
        FROM df) t
    WHERE rk = 1"""
    )


DUCK_SQL["ann_kmeans"] = _ann_kmeans_oracle_sql()


# python-callable (non-SQL-expressible on the Spark side) suite queries
PY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dd_dup_clusters": dd_dup_clusters,
    "dd_cluster_stats": dd_cluster_stats,
    "ann_kmeans": ann_kmeans,
}


# The driver's correctness snapshot records the FIRST 50 rows of
# all_queries() in insertion order. Rotation policy (round 5): the 48
# queries that have never had a driver-green row lead — the 3 round-4 red
# rows now fixed (kg_transe_step_loss / kg_paths / kg_triple_evidence),
# the round-4 late additions the r4 window had no room for (graph/KGE
# analytics kg_scc…kg_pattern_union; LLM-pipeline dd_containment,
# dd_exact_substring, tx_pii_redact, tx_repetition, tx_rarity,
# tx_bigram_surprisal, tx_sampling_weights, tx_distinct_sketch, tx_split,
# tx_length_deciles, ev_funnel, ev_retention — 12), and the 12 round-5
# additions (kg_coreness, kg_pattern_path, kg_pattern_filter, kg_construct,
# kg_distmult_eval, kg_complex_eval, kg_cheapest_path, tx_tfidf_topterms,
# dd_cluster_stats, ev_rolling_7d, tx_stopword_profile, ann_kmeans);
# 3 + 21 + 12 + 12 = 48. The remaining 2 slots re-pin core pillars
# (kg_triples, kg_edges) as continuity anchors (driver-green in earlier
# rounds) — 50 exactly, pinned by a unit check below. Rows after 50 were all
# driver-green in rounds 1–4 and are unchanged; tools/check_oracle.py
# still gates every query locally each round.
_DRIVER_WINDOW_FIRST: list[str] = [
    # -- round-4 red rows, fixed at r5 HEAD (3) --
    "kg_transe_step_loss", "kg_paths", "kg_triple_evidence",
    # -- round-4 late graph/KGE analytics, never driver-checked (21) --
    "kg_scc", "kg_skipgram_pairs", "kg_effective_diameter",
    "kg_link_prediction_ra", "kg_complex_loss", "kg_clustering",
    "kg_assortativity", "kg_katz", "kg_harmonic", "kg_rotate_loss",
    "kg_wl_colors", "kg_ktruss", "kg_graph_stats", "kg_reachability",
    "kg_modularity", "kg_mis", "kg_matching", "kg_pattern_optional",
    "kg_pattern_values", "kg_pattern_minus", "kg_pattern_union",
    # -- round-4 late LLM-pipeline analytics, never driver-checked (12) --
    "dd_containment", "dd_exact_substring", "tx_pii_redact",
    "tx_repetition", "tx_rarity", "tx_bigram_surprisal",
    "tx_sampling_weights", "tx_distinct_sketch", "tx_split",
    "tx_length_deciles", "ev_funnel", "ev_retention",
    # -- round-5 additions (12) --
    "kg_coreness", "kg_pattern_path", "kg_pattern_filter", "kg_construct",
    "kg_distmult_eval", "kg_complex_eval", "kg_cheapest_path",
    "tx_tfidf_topterms", "dd_cluster_stats", "ev_rolling_7d",
    "tx_stopword_profile", "ann_kmeans",
    # -- continuity anchors (2) --
    "kg_triples", "kg_edges",
]
# the driver snapshots exactly the first 50 — a miscounted rotation edit
# would silently push a never-checked query past the window
assert len(_DRIVER_WINDOW_FIRST) == 50, len(_DRIVER_WINDOW_FIRST)
assert len(set(_DRIVER_WINDOW_FIRST)) == 50, "duplicate window entries"


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    full: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _mk_sql_query(name) for name in SPARK_SQL
    }
    full.update(PY_QUERIES)
    full.update(KG_QUERIES)
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: full.pop(name) for name in _DRIVER_WINDOW_FIRST
    }
    out.update(full)
    return out


def all_oracles() -> dict[str, str]:
    return {**DUCK_SQL, **KG_DUCK_SQL}
