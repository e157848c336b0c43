"""Text-analysis column functions: the library API for the training-data
pipeline operators (dedup signatures, language ID, quality, token counts,
fingerprints).

Same semantics as the SQL suite twins (suite.py) — all JVM-side expressions
(split/transform/aggregate), no Python UDFs — packaged as composable
``Column`` builders so pipelines can call them directly:

    df.withColumn("sig", minhash_signature("text"))
      .withColumn("lang", lang_id("text"))
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# MinHash universal-hash family (Carter–Wegman affine): each token is
# md5-hashed ONCE into a 28-bit base value x, then hash function i is
# h_i(x) = (A_i * x + B_i) mod P with fixed md5-derived odd A_i < 2^31.
# A_i * x < 2^59 so the arithmetic never overflows int64 in any engine.
# This replaces the round-1..4 scheme of one salted md5 per (token, i) —
# k md5 passes per token — with exactly one; at 100 TB the signature
# stage's hash cost drops k-fold with the standard MinHash guarantees
# (Broder 1997; Carter & Wegman 1979 for the affine family).
MINHASH_P = 1_000_000_007


def minhash_ab(i: int) -> tuple[int, int]:
    """Deterministic (A_i, B_i) for hash function i — md5-derived, odd
    A_i in [1, 2^31), B_i in [0, 2^31). No RNG: every engine and every
    run derives the identical family."""
    a = int(hashlib.md5(f"mhA:{i}".encode()).hexdigest()[:8], 16) % (1 << 31) | 1
    b = int(hashlib.md5(f"mhB:{i}".encode()).hexdigest()[:8], 16) % (1 << 31)
    return a, b

STOPWORDS_EN = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")
STOPWORDS = {
    "en": STOPWORDS_EN,
    "de": ("der", "die", "das", "und", "ist", "ein", "mit", "von", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "du", "dans"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "de", "en"),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def text_tokens(c: Column | str) -> Column:
    """Lowercased [a-z0-9]+ tokens, empties removed (multiplicity kept)."""
    return F.filter(F.split(F.lower(_col(c)), "[^a-z0-9]+"), lambda t: t != F.lit(""))


def minhash_signature(c: Column | str, n_hashes: int = 8) -> Column:
    """MinHash signature of the distinct tokens of text column ``c``
    (``set_minhash`` over ``array_distinct(text_tokens(c))``)."""
    return set_minhash(F.array_distinct(text_tokens(c)), n_hashes)


def set_minhash(toks: Column | str, n_hashes: int = 8) -> Column:
    """MinHash signature of a distinct-token array: element i = min over
    tokens of (A_i * x + B_i) mod P where x = first 28 bits of md5(token).
    One fold over the base values computes all n_hashes minima, so the
    expression holds ONE md5 per token (n_hashes separate ``array_min``
    transforms would each re-evaluate the base-value transform: higher-order
    functions are interpreted, so Spark does not share it). Array<bigint>
    of length n_hashes; an element is NULL when there is no token, the
    whole array only when ``toks`` is NULL."""
    tx = F.transform(
        _col(toks), lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("bigint")
    )
    empty = F.array(*[F.lit(None).cast("bigint")] * n_hashes)

    def merge(acc: Column, x: Column) -> Column:
        def h(i: int) -> Column:
            a, b = minhash_ab(i)
            return (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)

        return F.array(*[F.least(acc[i], h(i)) for i in range(n_hashes)])

    return F.aggregate(tx, empty, merge)


def band_keys(sig: Column | str, n_bands: int, rows: int) -> list[Column]:
    """LSH band keys of a signature: key i = md5 of hashes
    ``rows*i .. rows*i + rows - 1`` joined with ':' — the suite SQL's
    ``md5(concat(h0, ':', h1, ...))``. A key is NULL when any of its hashes
    is (a doc without tokens), so such docs never collide on a band."""
    sig = _col(sig)

    def key(i: int) -> Column:
        parts = [p for r in range(rows) for p in (F.lit(":"), sig[rows * i + r].cast("string"))]
        return F.md5(F.concat(*parts[1:]))

    return [key(i) for i in range(n_bands)]


def lsh_bands(sig: Column | str, n_bands: int = 2) -> Column:
    """Hash the signature into n_bands band keys of 4 hashes each (join on
    any equal band)."""
    return F.array(*band_keys(sig, n_bands, 4))


def simhash16(c: Column | str) -> Column:
    """16-bit SimHash over distinct tokens (per-bit majority vote)."""
    toks = F.array_distinct(text_tokens(c))

    def h16(t: Column) -> Column:
        return F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("bigint")

    def vote(b: int):
        def merge(acc: Column, t: Column) -> Column:
            return acc + F.when(F.shiftright(h16(t), b) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))

        return merge

    bits = [
        F.when(F.aggregate(toks, F.lit(0), vote(b)) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(16)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("bigint")


def token_jaccard(a: Column | str, b: Column | str) -> Column:
    """Distinct-token Jaccard similarity between two text columns."""
    ta, tb = F.array_distinct(text_tokens(a)), F.array_distinct(text_tokens(b))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def lang_id(c: Column | str) -> Column:
    """Stopword-hit language guess over en/de/fr/es, 'und' when no hits."""
    toks = text_tokens(c)

    def in_set(ws: tuple[str, ...]):
        def pred(t: Column) -> Column:
            return t.isin(*ws)

        return pred

    hits = {lg: F.size(F.filter(toks, in_set(ws))) for lg, ws in STOPWORDS.items()}
    return (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]) & (hits["en"] > 0),
            F.lit("en"),
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]) & (hits["de"] > 0), F.lit("de"))
        .when((hits["fr"] >= hits["es"]) & (hits["fr"] > 0), F.lit("fr"))
        .when(hits["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def quality_score(c: Column | str) -> Column:
    """0.4·len + 0.3·type-token-ratio + 0.3·stopword-density, each capped."""
    toks = text_tokens(c)
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    nstop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    return F.when(
        n > 0,
        F.round(
            F.lit(0.4) * F.least(n.cast("double") / 100.0, F.lit(1.0))
            + F.lit(0.3) * (nd.cast("double") / n.cast("double"))
            + F.lit(0.3) * F.least(F.lit(10.0) * nstop.cast("double") / n.cast("double"), F.lit(1.0)),
            6,
        ),
    ).otherwise(F.lit(0.0))


def token_counts(c: Column | str) -> Column:
    """struct(ws_tokens, bpe_tokens): whitespace split + BPE-ish pieces."""
    ws = F.size(F.filter(F.split(_col(c), " "), lambda t: t != F.lit("")))
    bpe = F.size(F.expr(f"regexp_extract_all(lower({_name(c)}), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    return F.struct(ws.cast("bigint").alias("ws_tokens"), bpe.cast("bigint").alias("bpe_tokens"))


def _name(c: Column | str) -> str:
    if isinstance(c, str):
        return c
    raise TypeError("token_counts requires a column NAME (regexp_extract_all expr)")


def doc_fingerprint(c: Column | str, shingle: int = 8) -> Column:
    """Min-md5 over character shingles of normalized text (rolling-hash
    fingerprint; None for empty normalized text)."""
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(_col(c)), "[^a-z0-9 ]", ""), " +", " ")
    )
    return F.when(
        F.length(norm) > 0,
        F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(norm) - (shingle - 1), F.lit(1))),
                lambda i: F.md5(F.substring(norm, i, F.lit(shingle))),
            )
        ),
    )
