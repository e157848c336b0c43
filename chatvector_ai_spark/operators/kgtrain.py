"""Knowledge-graph-embedding (KGE) training over the materialized KG:
deterministic negative sampling, four scorers at a deterministic hash
init — TransE, DistMult, ComplEx and RotatE — and a TransE subgradient
step. A scorer is a function ``(src, rel, tail) -> Column`` plus whether a
lower score wins; the public losses and evals are thin bindings over two
shared helpers, ``_margin_loss`` (filtered-setting margin loss per
relation) and ``_filtered_rank_eval`` (filtered-ranking MRR / hits@k).

Negative sampling: for each distinct positive triple (src, rel, dst) the
sampler emits ``n_neg`` corrupted-tail negatives drawn near-uniformly from
the entity vocabulary by a *deterministic* hash (md5 of the triple +
sample index), then removes false negatives — corrupted triples that
exist as positives — in the standard "filtered setting" (Bordes et al.,
TransE).

Scale shape (the part that matters at 10^9 entities):

- The entity vocabulary never gets a GLOBAL dense index (a global
  row_number is a single-partition window — a scale killer). Instead each
  entity hashes into one of ``n_buckets`` vocab buckets and gets a
  within-bucket index via a PARTITION BY bucket window (bounded,
  ~|V|/n_buckets rows per partition).
- Bucket sizes are a ≤``n_buckets``-row table — broadcast; its dense rank
  (a join-count over the same ≤n_buckets-row table — no window at all)
  maps hashes onto NON-EMPTY buckets only, so no sample is lost to an
  empty bucket.
- A sample resolves as (hash → non-empty bucket, hash → index mod bucket
  size) and joins the vocab on the (bucket, index) equi-key — a plain
  shuffle join on a synthetic uniform key, no skew. Sampling is
  bucket-weighted near-uniform over the vocabulary (exactly uniform when
  |V| ≫ n_buckets evens the bucket sizes).
- The filtered-setting subtraction is one left_anti equi-join on
  (src, rel, neg_dst) against the positive set.

Everything is md5/integer arithmetic expressible identically in DuckDB,
so each suite query on this module has an exact value-level oracle twin.

Reference analog: the reference has no KGE training path (it is a RAG
service, backend/services/*); this is part of the "operations a
large-scale training-data pipeline would need" surface.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_Scorer = Callable[[F.Column, F.Column, F.Column], F.Column]


def _h60(col: F.Column) -> F.Column:
    """Deterministic 60-bit non-negative integer from a string column —
    conv(substring(md5(x),1,15),16,10); DuckDB twin:
    CAST('0x' || substr(md5(x),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def negative_samples(
    edges: DataFrame, n_neg: int = 2, n_buckets: int = 64
) -> DataFrame:
    """(src, rel, dst, neg_idx, neg_dst) — ``n_neg`` deterministic
    corrupted-tail negatives per distinct positive triple, filtered
    setting (no sampled tail that forms a true positive)."""
    pos = edges.select("src", "rel", "dst").distinct()

    vocab = (
        pos.select(F.col("src").alias("entity"))
        .unionByName(pos.select(F.col("dst").alias("entity")))
        .distinct()
        .withColumn("bk", _h60(F.concat(F.lit("vb:"), F.col("entity"))) % n_buckets)
    )
    w = Window.partitionBy("bk").orderBy("entity")
    indexed = vocab.withColumn("i", F.row_number().over(w) - 1)
    sizes = indexed.groupBy("bk").agg(F.count("*").alias("bk_n"))
    # dense rank over the ≤n_buckets non-empty buckets as a join-count
    # (bkr = |buckets with smaller bk|) instead of an unpartitioned
    # row_number window — same values, but keeps the engine-wide invariant
    # of ZERO single-partition windows (plans/audit enforces it), and the
    # self-join is over a ≤n_buckets-row broadcast-scale table
    smaller = sizes.select(F.col("bk").alias("bk_lt"))
    ranked = (
        sizes.join(smaller, F.col("bk_lt") < F.col("bk"), "left")
        .groupBy("bk", "bk_n")
        .agg(F.count("bk_lt").alias("bkr"))
    )
    n_nonempty = sizes.agg(F.count("*").alias("n_ne"))

    trip = F.concat_ws("|", "src", "rel", "dst")
    gen = (
        pos.withColumn("neg_idx", F.explode(F.array(*[F.lit(j) for j in range(n_neg)])))
        .crossJoin(F.broadcast(n_nonempty))
        .withColumn(
            "bkr",
            _h60(F.concat(F.lit("nb:"), trip, F.lit("|"), F.col("neg_idx").cast("string")))
            % F.col("n_ne"),
        )
        .withColumn(
            "hi",
            _h60(F.concat(F.lit("ni:"), trip, F.lit("|"), F.col("neg_idx").cast("string"))),
        )
    )
    sampled = (
        gen.join(F.broadcast(ranked), "bkr")
        .withColumn("i", F.col("hi") % F.col("bk_n"))
        .join(indexed.select("bk", "i", F.col("entity").alias("neg_dst")), ["bk", "i"])
        .select("src", "rel", "dst", "neg_idx", "neg_dst")
    )
    false_neg = pos.select("src", "rel", F.col("dst").alias("neg_dst"))
    return sampled.join(false_neg, ["src", "rel", "neg_dst"], "left_anti").select(
        "src", "rel", "dst", "neg_idx", "neg_dst"
    )


# ---------------------------------------------------------------------------
# TransE-style embedding training over the materialized edge table. The
# whole thing is DataFrame expressions: embeddings are a *deterministic
# function of the name* (md5-derived uniform init, the standard
# U(-6/sqrt(d), 6/sqrt(d)) of Bordes et al.), so scoring needs NO embedding
# join at all — each triple row computes its own vectors JVM-side via
# transform/zip_with/aggregate, and only the gradient step materializes an
# embedding table. This keeps the hot scoring path shuffle-free and gives
# the margin loss an exact DuckDB value twin (same md5 arithmetic).
# ---------------------------------------------------------------------------

_TWO60 = float(1 << 60)


def _draw(prefix: str, name: F.Column, i: F.Column) -> F.Column:
    """The per-element hash draw of every init: _h60(prefix || name || ':' || i)."""
    return _h60(F.concat(F.lit(prefix), name, F.lit(":"), i.cast("string")))


def _emb_expr(prefix: str, name: F.Column, dim: int) -> F.Column:
    """array<double> embedding — element i is a deterministic uniform in
    (-6/sqrt(dim), 6/sqrt(dim)) from md5(prefix || name || ':' || i)."""
    scale = 6.0 / (dim ** 0.5)
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (_draw(prefix, name, i) / F.lit(_TWO60) * 2.0 - 1.0) * F.lit(scale),
    )


def init_entity_embeddings(edges: DataFrame, dim: int = 16) -> DataFrame:
    """(entity, emb) — hash-initialized entity vectors for every entity in
    the edge vocabulary."""
    vocab = (
        edges.select(F.col("src").alias("entity"))
        .unionByName(edges.select(F.col("dst").alias("entity")))
        .distinct()
    )
    return vocab.withColumn("emb", _emb_expr("te:", F.col("entity"), dim))


def init_relation_embeddings(edges: DataFrame, dim: int = 16) -> DataFrame:
    """(rel, emb) — hash-initialized relation translation vectors."""
    return (
        edges.select("rel").distinct().withColumn("emb", _emb_expr("tr:", F.col("rel"), dim))
    )


def _translate(es: F.Column, rr: F.Column, eo: F.Column) -> F.Column:
    """TransE difference array e_s + r - e_o, element-wise."""
    return F.zip_with(F.zip_with(es, rr, lambda x, y: x + y), eo, lambda x, y: x - y)


def _l1_norm(v: F.Column) -> F.Column:
    """Σ_i |v_i| as an index-order left fold."""
    return F.aggregate(v, F.lit(0.0), lambda acc, x: acc + F.abs(x))


def _l1_score(es: F.Column, rr: F.Column, eo: F.Column) -> F.Column:
    """L1 TransE score ||e_s + r - e_o||_1 as a single JVM expression."""
    return _l1_norm(_translate(es, rr, eo))


def _transe_scorer(dim: int) -> _Scorer:
    """TransE (Bordes et al. 2013) L1 distance over the "te:"/"tr:" init;
    LOWER is better."""
    return lambda s, r, t: _l1_score(
        _emb_expr("te:", s, dim), _emb_expr("tr:", r, dim), _emb_expr("te:", t, dim)
    )


def _dot3(a: F.Column, b: F.Column, c: F.Column) -> F.Column:
    """DistMult trilinear score sum_i a_i * b_i * c_i as one JVM
    expression (index-order left fold — matches DuckDB's list_sum over
    the same index order, so the twin is bit-compatible before the
    6-decimal rounding)."""
    prod = F.zip_with(F.zip_with(a, b, lambda x, y: x * y), c, lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _distmult_scorer(dim: int) -> _Scorer:
    """DistMult (Yang et al. 2015: s(h, r, t) = <e_h, w_r, e_t>) over the
    "de:"/"dr:" init; HIGHER is better. Distinct init prefixes keep the
    model's parameter space separate from TransE's."""
    return lambda s, r, t: _dot3(
        _emb_expr("de:", s, dim), _emb_expr("dr:", r, dim), _emb_expr("de:", t, dim)
    )


def _complex_score(
    hr: F.Column, hi: F.Column, rr: F.Column, ri: F.Column, tr: F.Column, ti: F.Column
) -> F.Column:
    """ComplEx trilinear score Re(<e_h, w_r, conj(e_t)>) (Trouillon et al.
    2016, eq. 11) expanded over the real/imag component arrays:
    Σ_i Re(h)Re(r)Re(t) + Re(h)Im(r)Im(t) + Im(h)Re(r)Im(t)
        − Im(h)Im(r)Re(t).
    Four index-order left folds — same fold order as the DuckDB twin, so
    the double result is bit-compatible before the 6-decimal rounding."""
    return (
        _dot3(hr, rr, tr) + _dot3(hr, ri, ti) + _dot3(hi, rr, ti) - _dot3(hi, ri, tr)
    )


def _complex_scorer(dim: int) -> _Scorer:
    """ComplEx (Trouillon et al., ICML 2016) over complex vectors carried
    as two real arrays ("cer:"/"cei:" entity re/im, "crr:"/"cri:" relation
    re/im); HIGHER is better. Unlike DistMult it handles asymmetric
    relations: the score is NOT symmetric in (h, t), because the
    conjugation flips the sign of the Im(h)Im(r)Re(t) term."""
    e = lambda prefix, name: _emb_expr(prefix, name, dim)  # noqa: E731
    return lambda s, r, t: _complex_score(
        e("cer:", s), e("cei:", s), e("crr:", r), e("cri:", r), e("cer:", t), e("cei:", t)
    )


_ROT_MOD = 1 << 20


def _rotation_arrays(name: F.Column, dim: int) -> tuple[F.Column, F.Column]:
    """(cos_arr, sin_arr) — a deterministic unit rotation per dimension for
    a relation name, WITHOUT trig: two 20-bit hash draws (a, b) map to the
    rational point on the unit circle via the tan-half-angle
    parameterization c = (a²−b²)/(a²+b²), s = ±2ab/(a²+b²). Every value is
    an integer ratio evaluated in one IEEE division, so the DuckDB twin is
    bit-identical — cos()/sin() across two engines' libm are not, which is
    why RotatE's phases are carried this way here. a ≥ 1 keeps the
    denominator nonzero. The sine carries an independent hash-parity sign
    ("rrs:" draw): with a ≥ 1, b ≥ 0 alone, s would always be ≥ 0 and every
    phase would land in [0, π] — half the circle, with conjugate/inverse
    rotations unrepresentable at init; the sign bit restores the full
    [−π, π] phase space RotatE's inversion-modeling claim rests on."""

    def elem(i: F.Column, kind: str) -> F.Column:
        a = (_draw("rra:", name, i) % F.lit(_ROT_MOD) + F.lit(1)).cast("double")
        b = (_draw("rrb:", name, i) % F.lit(_ROT_MOD)).cast("double")
        denom = a * a + b * b
        if kind == "cos":
            return (a * a - b * b) / denom
        sign = (F.lit(1) - F.lit(2) * (_draw("rrs:", name, i) % F.lit(2))).cast("double")
        return sign * (F.lit(2.0) * a * b) / denom

    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    return (
        F.transform(idx, lambda i: elem(i, "cos")),
        F.transform(idx, lambda i: elem(i, "sin")),
    )


def _rotate_dist(
    hr: F.Column, hi: F.Column, c: F.Column, s: F.Column, tr: F.Column, ti: F.Column, dim: int
) -> F.Column:
    """RotatE L1 distance ‖h∘r − t‖₁ over component arrays: per dimension
    |hr·c − hi·s − tr| + |hr·s + hi·c − ti|, summed in index order (one
    fold — matches the DuckDB list_transform/list_sum twin term for
    term)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        F.lit(0.0),
        # acc + (|re| + |im|): the inner sum is grouped first so the fold
        # associates exactly like the DuckDB twin's list_sum over
        # per-element (|re| + |im|) terms — FP addition is not associative.
        lambda acc, i: acc
        + (
            F.abs(
                F.element_at(hr, i + 1) * F.element_at(c, i + 1)
                - F.element_at(hi, i + 1) * F.element_at(s, i + 1)
                - F.element_at(tr, i + 1)
            )
            + F.abs(
                F.element_at(hr, i + 1) * F.element_at(s, i + 1)
                + F.element_at(hi, i + 1) * F.element_at(c, i + 1)
                - F.element_at(ti, i + 1)
            )
        ),
    )


def _rotate_scorer(dim: int) -> _Scorer:
    """RotatE (Sun et al., ICLR 2019: t ≈ h ∘ r with |r_i| = 1) distance;
    LOWER is better. It models composition + inversion: rotations compose
    by phase addition and invert by conjugation, which translation
    (TransE) gets but symmetric DistMult cannot. Entities are two real
    arrays ("rer:"/"rei:"); relation rotations are unit-modulus by
    construction (``_rotation_arrays``), so need no normalization."""
    e = lambda prefix, name: _emb_expr(prefix, name, dim)  # noqa: E731
    return lambda s, r, t: _rotate_dist(
        e("rer:", s), e("rei:", s), *_rotation_arrays(r, dim), e("rer:", t), e("rei:", t), dim
    )


def _hinge(pos: F.Column, neg: F.Column, gamma: float, lower_wins: bool) -> F.Column:
    """max(0, margin): (γ + pos) − neg for distances, (γ − pos) + neg for
    similarities. The association is fixed — FP addition is not
    associative, and the twins group it the same way."""
    if lower_wins:
        return F.greatest(F.lit(0.0), F.lit(gamma) + pos - neg)
    return F.greatest(F.lit(0.0), F.lit(gamma) - pos + neg)


def _loss_by_rel(hinged: DataFrame) -> DataFrame:
    """(rel, n_samples, n_active, avg_loss) over a per-sample ``hinge``."""
    return hinged.groupBy("rel").agg(
        F.count("*").alias("n_samples"),
        F.sum((F.col("hinge") > 0).cast("bigint")).alias("n_active"),
        F.round(F.avg("hinge"), 6).alias("avg_loss"),
    )


def _margin_loss(
    edges: DataFrame, score: _Scorer, lower_wins: bool, n_neg: int, gamma: float
) -> DataFrame:
    """Per-relation filtered-setting margin loss: for each (positive,
    corrupted-tail) sample from ``negative_samples``, the hinge of the
    positive's score against the negative's, aggregated per relation.

    Scale shape: embeddings are computed inline per row (no embedding
    join); the only shuffles are the negative sampler's bucketed vocab
    join and one final hash-agg on rel."""
    samples = negative_samples(edges, n_neg=n_neg)
    src, rel = F.col("src"), F.col("rel")
    pos, neg = score(src, rel, F.col("dst")), score(src, rel, F.col("neg_dst"))
    return _loss_by_rel(samples.withColumn("hinge", _hinge(pos, neg, gamma, lower_wins)))


def _type_candidates(pos: DataFrame, max_candidates: int, name: str) -> DataFrame:
    """(rel, <name>) — type-constrained candidate tails: the entities that
    appear as the relation's tails anywhere, capped at the
    ``max_candidates`` most frequent (ties to the smallest id)."""
    w_cand = Window.partitionBy("rel").orderBy(F.desc("n"), F.asc("dst"))
    return (
        pos.groupBy("rel", "dst")
        .agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(w_cand))
        .where(F.col("rk") <= max_candidates)
        .select("rel", F.col("dst").alias(name))
    )


def _filtered_rank_eval(
    edges: DataFrame, score: _Scorer, lower_wins: bool, hits_k: int, max_candidates: int
) -> DataFrame:
    """Link-prediction quality in the standard **filtered ranking**
    protocol (Bordes et al. 2013): every distinct positive (src, rel, dst)
    is a test query; its tail is ranked among the relation's
    type-constrained candidates, and other true tails of the same
    (src, rel) are ignored when counting rivals. Returns per-relation
    (rel, n_queries, mrr, hits_at_k).

    rank = 1 + |candidates with strictly better (score, id) that are not
    themselves positives|, computed as one candidate-join + hash-agg — no
    sort of the full candidate list, no window at all: the per-query rank
    is a COUNT, so the plan is join → filter → groupBy. Scores round to 6
    decimals before comparison so both engines agree on "better"."""
    pos = edges.select("src", "rel", "dst").distinct()
    cands = _type_candidates(pos, max_candidates, "cand")
    src, rel = F.col("src"), F.col("rel")
    scored = (
        pos.withColumn("true_score", F.round(score(src, rel, F.col("dst")), 6))
        .join(cands, "rel")
        .where(F.col("cand") != F.col("dst"))
        .withColumn("cand_score", F.round(score(src, rel, F.col("cand")), 6))
    )
    # a rival beats the true tail on (score, id asc), the score ascending
    # for distances and descending for similarities; positives are
    # filtered out of the rival set (left_anti on the positive identity)
    cs, ts = F.col("cand_score"), F.col("true_score")
    better = cs < ts if lower_wins else cs > ts
    rivals = (
        scored.where(better | ((cs == ts) & (F.col("cand") < F.col("dst"))))
        .join(
            pos.select("src", "rel", F.col("dst").alias("cand")),
            ["src", "rel", "cand"],
            "left_anti",
        )
        .groupBy("src", "rel", "dst")
        .agg(F.count("*").alias("n_better"))
    )
    ranked = pos.join(rivals, ["src", "rel", "dst"], "left").select(
        "src", "rel", "dst",
        (F.coalesce(F.col("n_better"), F.lit(0)) + 1).alias("rank"),
    )
    return ranked.groupBy("rel").agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg(1.0 / F.col("rank")), 6).alias("mrr"),
        F.round(
            F.avg((F.col("rank") <= hits_k).cast("double")), 6
        ).alias("hits_at_k"),
    )


def transe_margin_loss(
    edges: DataFrame, dim: int = 16, n_neg: int = 2, gamma: float = 1.0
) -> DataFrame:
    """Per-relation TransE margin loss at the deterministic init,
    hinge = max(0, gamma + d(s,r,o) - d(s,r,o')). Returns
    (rel, n_samples, n_active, avg_loss)."""
    return _margin_loss(edges, _transe_scorer(dim), True, n_neg, gamma)


def transe_sgd_step(
    edges: DataFrame,
    dim: int = 16,
    n_neg: int = 2,
    gamma: float = 1.0,
    lr: float = 0.01,
) -> tuple[DataFrame, DataFrame]:
    """One full-batch subgradient step of TransE (L1 score, filtered-setting
    corrupted tails) entirely in DataFrame ops. Returns the updated
    ``(entity, emb)`` and ``(rel, emb)`` tables.

    For an active sample (hinge > 0) with v_pos = e_s + r - e_o and
    v_neg = e_s + r - e_o', the L1 subgradients are sign vectors:

    - e_s  += -lr * (sign(v_pos) - sign(v_neg))
    - r    += -lr * (sign(v_pos) - sign(v_neg))
    - e_o  += -lr * (-sign(v_pos))
    - e_o' += -lr * (+sign(v_neg))

    Scale shape: per-sample sign vectors posexplode to (name, i, g) rows —
    O(samples × dim), the same order as the scoring work — and gradients
    accumulate in one hash-agg keyed by (name, dim index); the updated
    table rebuilds arrays with an array_sort(collect_list(struct)) over the
    per-name dim rows (bounded at ``dim`` elements). No windows, no Python."""
    samples = negative_samples(edges, n_neg=n_neg)
    es = _emb_expr("te:", F.col("src"), dim)
    rr = _emb_expr("tr:", F.col("rel"), dim)
    v_pos = _translate(es, rr, _emb_expr("te:", F.col("dst"), dim))
    v_neg = _translate(es, rr, _emb_expr("te:", F.col("neg_dst"), dim))
    sgn = lambda c: F.when(c > 0, F.lit(1.0)).when(c < 0, F.lit(-1.0)).otherwise(F.lit(0.0))  # noqa: E731

    active = (
        samples.withColumn("sp", F.transform(v_pos, sgn))
        .withColumn("sn", F.transform(v_neg, sgn))
        # the hinge's L1 distances fold the same difference arrays
        .withColumn("hinge", _hinge(_l1_norm(v_pos), _l1_norm(v_neg), gamma, True))
        .where(F.col("hinge") > 0)
    )
    dsr = F.zip_with("sp", "sn", lambda a, b: a - b)  # grad for s and rel
    contribs = (
        active.select(F.concat(F.lit("e:"), "src").alias("name"), dsr.alias("g"))
        .unionByName(active.select(F.concat(F.lit("r:"), "rel").alias("name"), dsr.alias("g")))
        .unionByName(
            active.select(
                F.concat(F.lit("e:"), "dst").alias("name"),
                F.transform("sp", lambda x: -x).alias("g"),
            )
        )
        .unionByName(active.select(F.concat(F.lit("e:"), "neg_dst").alias("name"), F.col("sn").alias("g")))
    )
    grads = (
        contribs.select("name", F.posexplode("g").alias("i", "gi"))
        .groupBy("name", "i")
        .agg(F.sum("gi").alias("gi"))
        .groupBy("name")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "gi"))), lambda s: s["gi"]
            ).alias("grad")
        )
    )

    def updated(init: DataFrame, key: str, prefix: str) -> DataFrame:
        # filter to THIS namespace before stripping the prefix: an entity
        # and a relation sharing a surface string ("x" → grads "e:x" and
        # "r:x") must each receive only their own gradient, never both
        ns = grads.where(F.col("name").startswith(prefix))
        joined = init.join(
            ns.withColumn(key, F.expr(f"substring(name, {len(prefix) + 1})")).drop("name"),
            key,
            "left",
        )
        step = F.when(
            F.col("grad").isNull(), F.col("emb")
        ).otherwise(F.zip_with("emb", "grad", lambda e, g: e - F.lit(lr) * g))
        return joined.select(key, step.alias("emb"))

    ents = updated(init_entity_embeddings(edges, dim), "entity", "e:")
    rels = updated(init_relation_embeddings(edges, dim), "rel", "r:")
    return ents, rels


def transe_loss_with(
    edges: DataFrame,
    entity_emb: DataFrame,
    rel_emb: DataFrame,
    n_neg: int = 2,
    gamma: float = 1.0,
) -> DataFrame:
    """Margin loss evaluated against *materialized* embedding tables (the
    post-step evaluation path): joins each sample to its three entity rows
    and one relation row — all equi-joins; the relation table is broadcast-
    scale by construction."""
    samples = negative_samples(edges, n_neg=n_neg)
    e = entity_emb
    scored = (
        samples.join(e.select(F.col("entity").alias("src"), F.col("emb").alias("es")), "src")
        .join(e.select(F.col("entity").alias("dst"), F.col("emb").alias("eo")), "dst")
        .join(e.select(F.col("entity").alias("neg_dst"), F.col("emb").alias("en")), "neg_dst")
        # rename the key: rel_emb may share its `rel` attribute lineage with
        # the sample table (both descend from the same edges scan), and a
        # USING join on an identical expression id trips Catalyst's
        # self-join disambiguation
        .join(
            F.broadcast(
                rel_emb.select(F.col("rel").alias("rel_k"), F.col("emb").alias("rr"))
            ),
            F.col("rel") == F.col("rel_k"),
        )
        .drop("rel_k")
    )
    es, rr = F.col("es"), F.col("rr")
    hinge = _hinge(_l1_score(es, rr, F.col("eo")), _l1_score(es, rr, F.col("en")), gamma, True)
    return _loss_by_rel(scored.withColumn("hinge", hinge))


def transe_predict_tails(
    edges: DataFrame,
    dim: int = 16,
    k: int = 3,
    max_candidates: int = 256,
) -> DataFrame:
    """Link prediction: for every observed (src, rel) query, the top-``k``
    NEW tail entities by TransE L1 score (filtered ranking — tails already
    observed for that (src, rel) are excluded) among the relation's
    ``_type_candidates``. Returns (src, rel, pred_dst, score, rank).

    Scale shape: the query×candidate fan-out is per-relation
    |queries_r| × min(|tails_r|, max_candidates) — bounded by the cap, and
    keyed by rel so it shuffles once on a low-cardinality key with AQE skew
    splitting available; embeddings are inline (no join); ranking windows
    are PARTITION BY (src, rel) / PARTITION BY rel top-k
    (WindowGroupLimit). Scores round to 6 decimals BEFORE ranking so the
    ordering is reproducible across engines."""
    pos = edges.select("src", "rel", "dst").distinct()
    cands = _type_candidates(pos, max_candidates, "pred_dst")
    queries = pos.select("src", "rel").distinct()
    score = _transe_scorer(dim)(F.col("src"), F.col("rel"), F.col("pred_dst"))
    scored = queries.join(cands, "rel").withColumn("score", F.round(score, 6))
    known = pos.select("src", "rel", F.col("dst").alias("pred_dst"))
    fresh = scored.join(known, ["src", "rel", "pred_dst"], "left_anti")
    w_rank = Window.partitionBy("src", "rel").orderBy(F.asc("score"), F.asc("pred_dst"))
    return (
        fresh.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("src", "rel", "pred_dst", "score", "rank")
    )


def transe_eval(
    edges: DataFrame,
    dim: int = 16,
    hits_k: int = 3,
    max_candidates: int = 256,
) -> DataFrame:
    """Filtered-ranking quality of the deterministic-init TransE model: a
    rival beats the true tail on (score ASC, id ASC). Returns per-relation
    (rel, n_queries, mrr, hits_at_k)."""
    return _filtered_rank_eval(edges, _transe_scorer(dim), True, hits_k, max_candidates)


def distmult_margin_loss(
    edges: DataFrame, dim: int = 16, n_neg: int = 2, gamma: float = 1.0
) -> DataFrame:
    """Per-relation DistMult margin loss at the deterministic init,
    hinge = max(0, gamma - s_pos + s_neg)."""
    return _margin_loss(edges, _distmult_scorer(dim), False, n_neg, gamma)


def complex_margin_loss(
    edges: DataFrame, dim: int = 16, n_neg: int = 2, gamma: float = 1.0
) -> DataFrame:
    """Per-relation ComplEx margin loss at the deterministic init,
    hinge = max(0, gamma - s_pos + s_neg)."""
    return _margin_loss(edges, _complex_scorer(dim), False, n_neg, gamma)


def rotate_margin_loss(
    edges: DataFrame, dim: int = 16, n_neg: int = 2, gamma: float = 1.0
) -> DataFrame:
    """Per-relation RotatE margin loss at the deterministic init,
    hinge = max(0, gamma + d_pos − d_neg)."""
    return _margin_loss(edges, _rotate_scorer(dim), True, n_neg, gamma)


def distmult_eval(
    edges: DataFrame,
    dim: int = 16,
    hits_k: int = 3,
    max_candidates: int = 256,
) -> DataFrame:
    """Filtered-ranking quality of the deterministic-init DistMult model:
    a rival beats the true tail on (score DESC, id ASC)."""
    return _filtered_rank_eval(edges, _distmult_scorer(dim), False, hits_k, max_candidates)


def complex_eval(
    edges: DataFrame,
    dim: int = 16,
    hits_k: int = 3,
    max_candidates: int = 256,
) -> DataFrame:
    """Filtered-ranking quality of the deterministic-init ComplEx model:
    a rival beats the true tail on (score DESC, id ASC)."""
    return _filtered_rank_eval(edges, _complex_scorer(dim), False, hits_k, max_candidates)
