"""Model-based document scoring: a linear text classifier (the shape of
fastText / CCNet-style quality filters) evaluated as pure DataFrame ops.

A trained linear model over a bag-of-tokens is just ``score =
(bias + sum_i w[token_i]) / n_tokens`` — a broadcast-or-shuffle equi-join
of the exploded token stream against a (token, weight) table plus one
aggregation. No UDF, no model server: the "inference" is a join, which is
exactly what makes it run at 100 TB (the model table is a few million rows
at most; Spark broadcasts it or AQE picks a shuffle join).

Weights are integer micro-units (1e-6) so the accumulation is an exact
BIGINT sum — reproducible across engines and partitionings; the float
division happens once at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_sharing_spark.session import local_frame

WEIGHT_UNIT = 1_000_000


def score_text_linear(df: DataFrame, weights: DataFrame, id_col: str,
                      text_col: str, *, token_col: str = "token",
                      weight_col: str = "weight_u",
                      bias_u: int = 0) -> DataFrame:
    """Score each document with a linear bag-of-tokens model.

    ``weights``: (token, weight_u) with weight_u in integer micro-units —
    a real trained model's weights quantized to 1e-6, or any derived
    lexicon. Unknown tokens weigh 0 (the fastText OOV convention for a
    plain linear layer).

    Returns ``(id, n_toks, score_u, score)`` where ``score_u = bias_u +
    sum(weight_u)`` (exact BIGINT) and ``score = score_u / (n_toks *
    1e-6 unit)`` — the mean token weight. Thresholding should compare
    ``score_u`` against ``threshold * n_toks * UNIT`` in integers to stay
    engine-exact.

    Plan: explode (map-side) → one equi-join on the token → one aggregate
    on the doc id. Token-frequency skew (stopwords) is bounded by the
    model size and AQE skew-join.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("__tok"),
    )
    w = weights.select(F.col(token_col).alias("__tok"),
                       F.col(weight_col).alias("__w"))
    per_doc = (
        toks.join(w, "__tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_toks"),
            (F.lit(bias_u)
             + F.sum(F.coalesce("__w", F.lit(0)))).alias("score_u"),
        )
    )
    return per_doc.select(
        id_col, "n_toks", "score_u",
        (F.col("score_u").cast("double")
         / (F.col("n_toks") * F.lit(WEIGHT_UNIT))).alias("score"),
    )


def pseudo_weights(df: DataFrame, text_col: str,
                   salt: str = "qw") -> DataFrame:
    """Deterministic stand-in model: one weight per distinct corpus token,
    derived from md5 — uniform in [-1e6, 1e6] micro-units. Replayable in
    any engine (the oracle derives the identical table in SQL); swap in a
    real model's quantized weights for production use."""
    vocab = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                  .alias("token"))
        .distinct()
    )
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col("token"))),
                           1, 8), 16, 10).cast("bigint")
    return vocab.select(
        "token",
        (h % F.lit(2 * WEIGHT_UNIT + 1) - F.lit(WEIGHT_UNIT))
        .alias("weight_u"),
    )


# ----------------------------------------------------- n-gram LM filtering
#
# CCNet-style language-model quality filtering (Wenzek et al. 2019):
# score each document by how likely its token sequence is under a model
# trained on a trusted reference corpus; keep/bucket by score. The
# reference pipeline uses KenLM perplexity; the SHAPE here is identical —
# train = one count aggregation over the reference, inference = an
# equi-join of the doc's n-grams against the model table + one per-doc
# aggregation — but the per-bigram quantity is an integer-exact smoothed
# likelihood ((c(ctx, w) + 1) * UNIT // (c(ctx) + V), add-one smoothing)
# instead of a float log-prob, so results replay bit-exactly across
# engines (float ln is not identically rounded across libms). A real
# KenLM/logprob table drops into the same join unchanged.


LM_UNIT = 1_000_000


def _bigrams(df: DataFrame, text_col: str,
             id_cols: list[str] | None = None) -> DataFrame:
    """(…id_cols, ctx, tok) rows: whitespace bigrams with a '<s>'
    sentence-start context — the ONE tokenization both training and
    scoring use (a divergence between the two corrupts every
    likelihood)."""
    keep = [F.col(c) for c in (id_cols or [])]
    # split() is bound ONCE as a lambda variable: higher-order-function
    # lambdas are interpreted with no subexpression elimination, so an
    # inline element_at(split(text), i) re-splits the whole document per
    # element — O(len²) per doc (measured 515 s vs 1.3 s on 2k-token docs)
    return df.select(
        *keep,
        F.explode(
            F.expr(f"""
            element_at(transform(array(split({text_col}, ' ')), __w ->
              transform(
                sequence(1, size(__w)),
                i -> struct(
                  CASE WHEN i = 1 THEN '<s>'
                       ELSE element_at(__w, i - 1) END AS ctx,
                  element_at(__w, i) AS tok)
              )), 1)
            """)
        ).alias("bg"),
    ).select(*(id_cols or []), "bg.ctx", "bg.tok")


def ngram_lm_train(ref: DataFrame, text_col: str) -> DataFrame:
    """Bigram model counts from a reference corpus: one aggregation
    producing (ctx, tok, pair_n, ctx_n, vocab) rows. ``vocab`` (distinct
    token count, the smoothing denominator) is attached to every row so
    scoring needs no second input. Sentence starts use the '<s>' context.
    """
    toks = _bigrams(ref, text_col)
    pairs = toks.groupBy("ctx", "tok").agg(F.count("*").alias("pair_n"))
    ctxs = pairs.groupBy("ctx").agg(F.sum("pair_n").alias("ctx_n"))
    vocab = pairs.select(F.countDistinct("tok").alias("vocab"))
    return (pairs.join(ctxs, "ctx")
            .crossJoin(F.broadcast(vocab)))  # one scalar, broadcast


def ngram_lm_score(docs: DataFrame, lm: DataFrame, id_col: str,
                   text_col: str) -> DataFrame:
    """Per-document smoothed-likelihood score under the bigram model:
    ``avg_likelihood_u`` = exact-integer mean of per-bigram
    ``(pair_n + 1) * LM_UNIT // (ctx_n + vocab)`` (unseen pairs score
    ``LM_UNIT // (ctx_n + vocab)``; unseen contexts ``LM_UNIT // vocab``).
    Higher = more reference-like; threshold in integer units.

    Scale shape: docs explode to bigrams (map-side), ONE equi-join on
    (ctx, tok) against the model (broadcast when the model is small, AQE
    shuffle join otherwise; unseen-context backoff joins the ctx side the
    same way), one per-doc aggregation. Python-free. The model is
    MATERIALIZED once up front (fit semantics) — the three derived sides
    (pairs, contexts, vocab) would otherwise each replay the whole
    reference-corpus training aggregation."""
    lm = lm.localCheckpoint(eager=True)
    bg = _bigrams(docs, text_col, id_cols=[id_col])
    pair_side = lm.select("ctx", "tok", "pair_n")
    ctx_side = lm.select("ctx", "ctx_n", "vocab").dropDuplicates(["ctx"])
    vocab_scalar = lm.select(F.max("vocab").alias("__v"))
    scored = (
        bg.join(pair_side, ["ctx", "tok"], "left")
        .join(ctx_side, "ctx", "left")
        .crossJoin(F.broadcast(vocab_scalar))
        .select(
            F.col(id_col),
            (
                (F.coalesce(F.col("pair_n"), F.lit(0)) + 1) * LM_UNIT
            ).cast("long").alias("__num"),
            (
                F.coalesce(F.col("ctx_n"), F.lit(0))
                + F.coalesce(F.col("vocab"), F.col("__v"))
            ).cast("long").alias("__den"),
        )
        .select(id_col,
                # TRUE integer division (Spark DIV), not double-divide +
                # FLOOR: doubles lose exactness past 2^53, which a
                # web-scale pair count can reach; DuckDB's // replays it
                F.expr("__num DIV __den").alias("__lk_u"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("__lk_u").alias("sum_likelihood_u"),
        (F.sum("__lk_u").cast("double") / F.count("*"))
        .alias("avg_likelihood_u"),
    )


def kn_lm_train(ref: DataFrame, text_col: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (the KenLM/CCNet smoothing,
    Kneser & Ney 1995) from a reference corpus — counts only, so every
    probability later replays in exact integers:

    P_KN(w|v) = max(c(vw) - D, 0)/c(v) + D·N1+(v·)/c(v) · N1+(·w)/N1+(··)

    with discount D = 3/4 kept RATIONAL. One row per seen bigram carrying
    (pair_n, ctx_n, n1_ctx, n1_tok, n_pairs): c(vw), c(v), the distinct
    continuation counts N1+(v·) / N1+(·w), and the scalar N1+(··).
    Three aggregations over the pair table + one scalar — the same
    fit shape as :func:`ngram_lm_train`."""
    toks = _bigrams(ref, text_col)
    pairs = toks.groupBy("ctx", "tok").agg(F.count("*").alias("pair_n"))
    ctxs = pairs.groupBy("ctx").agg(F.sum("pair_n").alias("ctx_n"),
                                    F.count("*").alias("n1_ctx"))
    tok_fertility = pairs.groupBy("tok").agg(
        F.count("*").alias("n1_tok"))
    n_pairs = pairs.select(F.count("*").alias("n_pairs"))
    return (pairs.join(ctxs, "ctx").join(tok_fertility, "tok")
            .crossJoin(F.broadcast(n_pairs)))


def kn_lm_score(docs: DataFrame, lm: DataFrame, id_col: str,
                text_col: str) -> DataFrame:
    """Per-document Kneser-Ney likelihood in exact LM_UNIT integers.
    With D = 3/4 every term is rational; each per-bigram probability is
    two integer divisions (discounted term + continuation backoff),
    floored at 1 µ-unit so fully-unseen tokens stay in log-able range:

    seen ctx:   (max(4·c(vw)−3, 0)·U) DIV (4·c(v))
              + (3·N1+(v·)·N1+(·w)·U) DIV (4·c(v)·N1+(··))
    unseen ctx: (N1+(·w)·U) DIV N1+(··)    (pure continuation model)

    int64 headroom: the backoff numerator 3·N1+(v·)·N1+(·w)·U stays
    below 2^63 while N1+(v·)·N1+(·w) < 3·10^12 — far above any
    single-machine corpus; shard the model per ctx-hash before that.

    Scale shape identical to :func:`ngram_lm_score`: map-side bigram
    explode, three equi-joins against the materialized model (broadcast
    when small, AQE otherwise), one per-doc aggregation, Python-free."""
    lm = lm.localCheckpoint(eager=True)
    bg = _bigrams(docs, text_col, id_cols=[id_col])
    pair_side = lm.select("ctx", "tok", "pair_n")
    ctx_side = lm.select("ctx", "ctx_n", "n1_ctx") \
        .dropDuplicates(["ctx"])
    tok_side = lm.select("tok", "n1_tok").dropDuplicates(["tok"])
    scalar = lm.select(F.max("n_pairs").alias("__np"))
    scored = (
        bg.join(pair_side, ["ctx", "tok"], "left")
        .join(ctx_side, "ctx", "left")
        .join(tok_side, "tok", "left")
        .crossJoin(F.broadcast(scalar))
        .select(
            F.col(id_col),
            F.expr(f"""
            GREATEST(CASE WHEN ctx_n IS NOT NULL THEN
              (GREATEST(4 * COALESCE(pair_n, 0) - 3, 0) * {LM_UNIT})
                  DIV (4 * ctx_n)
              + (3 * n1_ctx * COALESCE(n1_tok, 0) * {LM_UNIT})
                  DIV (4 * ctx_n * __np)
            ELSE (COALESCE(n1_tok, 0) * {LM_UNIT}) DIV __np
            END, 1)
            """).cast("long").alias("__kn_u"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("__kn_u").alias("sum_kn_u"),
        (F.sum("__kn_u").cast("double") / F.count("*"))
        .alias("avg_kn_u"),
    )


def _trigrams(df: DataFrame, text_col: str,
              id_cols: list[str] | None = None) -> DataFrame:
    """(…id_cols, u, v, w) rows: whitespace trigrams with double
    '<s>' start padding (u = two back, v = one back) — shared by
    training and scoring like :func:`_bigrams`."""
    keep = [F.col(c) for c in (id_cols or [])]
    # split() bound once as a lambda variable — see _bigrams
    return df.select(
        *keep,
        F.explode(
            F.expr(f"""
            element_at(transform(array(split({text_col}, ' ')), __w ->
              transform(
                sequence(1, size(__w)),
                i -> struct(
                  CASE WHEN i <= 2 THEN '<s>'
                       ELSE element_at(__w, i - 2) END AS u,
                  CASE WHEN i = 1 THEN '<s>'
                       ELSE element_at(__w, i - 1) END AS v,
                  element_at(__w, i) AS w)
              )), 1)
            """)
        ).alias("tg"),
    ).select(*(id_cols or []), "tg.u", "tg.v", "tg.w")


def kn3_lm_train(ref: DataFrame, text_col: str) -> DataFrame:
    """Interpolated trigram Kneser-Ney (the KenLM recursion at order 3,
    Chen & Goodman 1999 eq. 18 shape) — counts only, exact-integer
    replayable like :func:`kn_lm_train`:

    P3(w|u,v) = max(c(uvw)-D,0)/c(uv·) + D·N1+(uv·)/c(uv·) · P2(w|v)
    P2(w|v)   = max(N1+(·vw)-D,0)/N1+(·v·)
              + D·N1+(v·)/N1+(·v·) · Pcont(w)
    Pcont(w)  = N1+(··w)/N1+(···)   (all counts at the CONTINUATION
    level — types-not-tokens, the Kneser-Ney insight)

    One row per seen trigram carrying every quantity the scorer joins
    on: (pair_n=c(uvw), c2ctx=c(uv·), n1p3=N1+(uv·)) at the top level,
    (n1b=N1+(·vw), n1mid=N1+(·v·), n1p2=N1+(v·)) at the middle,
    (n1uni=N1+(··w), ntot=N1+(···)) at the bottom. Five aggregations,
    all equi-keyed."""
    tri = _trigrams(ref, text_col)
    c3 = tri.groupBy("u", "v", "w").agg(F.count("*").alias("pair_n"))
    ctx2 = c3.groupBy("u", "v").agg(F.sum("pair_n").alias("c2ctx"),
                                    F.count("*").alias("n1p3"))
    n1b = c3.groupBy("v", "w").agg(F.count("*").alias("n1b"))
    mid = n1b.groupBy("v").agg(F.sum("n1b").alias("n1mid"),
                               F.count("*").alias("n1p2"))
    uni = n1b.groupBy("w").agg(F.count("*").alias("n1uni"))
    ntot = n1b.select(F.count("*").alias("ntot"))
    return (c3.join(ctx2, ["u", "v"]).join(n1b, ["v", "w"])
            .join(mid, "v").join(uni, "w")
            .crossJoin(F.broadcast(ntot)))


# the one KN3 per-trigram expression both engines evaluate on identical
# integers (D = 3/4 at both levels; nested DIVs keep every intermediate
# below 2^63 while per-context continuation counts stay < ~10^12 —
# far beyond any unsharded model)
_KN3_EXPR = """
GREATEST(CASE
  WHEN c2ctx IS NOT NULL THEN
    (GREATEST(4 * COALESCE(pair_n, 0) - 3, 0) * {U}) DIV (4 * c2ctx)
    + (3 * n1p3 * GREATEST(4 * COALESCE(n1b, 0) - 3, 0) * {U})
        DIV (16 * c2ctx * n1mid)
    + (9 * n1p3 * n1p2 * ((COALESCE(n1uni, 0) * {U}) DIV ntot))
        DIV (16 * c2ctx * n1mid)
  WHEN n1mid IS NOT NULL THEN
    (GREATEST(4 * COALESCE(n1b, 0) - 3, 0) * {U}) DIV (4 * n1mid)
    + (3 * n1p2 * ((COALESCE(n1uni, 0) * {U}) DIV ntot))
        DIV (4 * n1mid)
  ELSE (COALESCE(n1uni, 0) * {U}) DIV ntot
END, 1)
"""


def kn3_lm_score(docs: DataFrame, lm: DataFrame, id_col: str,
                 text_col: str) -> DataFrame:
    """Per-document trigram-KN likelihood in exact LM_UNIT integers.
    Backoff chain per trigram: seen (u,v) context -> discounted trigram
    + continuation-bigram + continuation-unigram terms; unseen (u,v)
    but seen v -> the P2 level; unseen v -> pure continuation model;
    floor 1 µ-unit. Scale shape: map-side trigram explode, five
    equi-joins against the materialized model (broadcast under AQE when
    small), one per-doc aggregation — the same join-a-model pattern a
    binary KenLM table would slot into."""
    lm = lm.localCheckpoint(eager=True)
    tg = _trigrams(docs, text_col, id_cols=[id_col])
    c3_side = lm.select("u", "v", "w", "pair_n")
    ctx2_side = lm.select("u", "v", "c2ctx", "n1p3") \
        .dropDuplicates(["u", "v"])
    n1b_side = lm.select("v", "w", "n1b").dropDuplicates(["v", "w"])
    mid_side = lm.select("v", "n1mid", "n1p2").dropDuplicates(["v"])
    uni_side = lm.select("w", "n1uni").dropDuplicates(["w"])
    scalar = lm.select(F.max("ntot").alias("ntot"))
    scored = (
        tg.join(c3_side, ["u", "v", "w"], "left")
        .join(ctx2_side, ["u", "v"], "left")
        .join(n1b_side, ["v", "w"], "left")
        .join(mid_side, "v", "left")
        .join(uni_side, "w", "left")
        .crossJoin(F.broadcast(scalar))
        .select(F.col(id_col),
                F.expr(_KN3_EXPR.format(U=LM_UNIT))
                .cast("long").alias("__kn_u"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_trigrams"),
        F.sum("__kn_u").alias("sum_kn_u"),
        (F.sum("__kn_u").cast("double") / F.count("*"))
        .alias("avg_kn_u"),
    )


# --------------------------------------------- DSIR importance resampling
#
# Data Selection via Importance Resampling (Xie et al. 2023): select raw
# documents whose hashed-n-gram distribution looks like a small target
# corpus. log-importance of doc d = sum_k c_dk * (ln p_k - ln q_k) with
# p/q add-one-smoothed hashed-n-gram unigram models of the target/raw
# corpora; selection = Gumbel top-k over the log-weights (sampling
# without replacement proportional to the importance weights).
#
# Scale shape: counts are a map-side explode + one (doc, bucket)
# aggregation; the fit is two bucket aggregations + one full-outer join on
# a `buckets`-sized key space (thousands of rows -> broadcast); scoring is
# ONE equi-join of doc buckets against the broadcast model + a per-doc
# aggregation; resampling is a distributed partial top-k
# (TakeOrderedAndProject). Nothing is quadratic, no Python in the path.
#
# Determinism: each per-bucket log-ratio (and each per-doc Gumbel key) is
# a SINGLE float expression quantized to integer micro-units at the point
# of computation — all accumulation happens on exact BIGINTs, so results
# are partition-order independent and replay bit-exactly in other engines
# (the ~1-ulp libm ln() divergence only matters within 1e-6-scaled
# half-integers).

DSIR_UNIT = 1_000_000


def _word_ngrams(text_col: str, n: int) -> F.Column:
    """All word n-grams (multiset, not distinct) of a whitespace-tokenized
    text column; docs shorter than n words emit their full text once."""
    # split() bound once as a lambda variable — see _bigrams
    return F.expr(
        f"""
        element_at(transform(array(split({text_col}, ' ')), __w ->
          transform(
            sequence(1, greatest(size(__w) - {n - 1}, 1)),
            i -> concat_ws(' ', slice(__w, i, {n}))
          )), 1)
        """
    )


def hashed_ngram_counts(df: DataFrame, id_col: str, text_col: str, *,
                        n: int = 2, buckets: int = 8192,
                        salt: str = "dsir") -> DataFrame:
    """(id, bucket, c): seeded-md5 hashed word-n-gram counts — the DSIR
    feature vector, sparse by construction. One explode + one aggregation
    with map-side partial counts."""
    grams = df.select(
        F.col(id_col),
        F.explode(_word_ngrams(text_col, n)).alias("__g"),
    )
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col("__g"))
                  .cast("binary")), 1, 8), 16, 10)
        .cast("bigint") % buckets
    )
    return (grams.select(F.col(id_col), bucket.alias("bucket"))
            .groupBy(id_col, "bucket").agg(F.count("*").alias("c")))


def dsir_fit(target_counts: DataFrame, raw_counts: DataFrame, *,
             buckets: int = 8192) -> DataFrame:
    """Per-bucket quantized log importance ratios: ``llr_u =
    round((ln p_hat_k - ln q_hat_k) * 1e6)`` as BIGINT with add-one
    smoothing ``p_hat_k = (p_k + 1) / (P + buckets)``. Returns
    ``(bucket, llr_u, default_u)`` where ``default_u`` (attached to every
    row, like the vocab column in ngram_lm_train) is the ratio for buckets
    unseen in BOTH corpora."""
    # NOTE: deliberately NOT materialized — the aggregate exchanges of p/q
    # are identical subplans wherever they recur (totals, full-outer join),
    # so AQE's ReusedExchange already evaluates each corpus explode once
    # inside the single fit plan; measured 2x slower with eager
    # localCheckpoints here (they serialize the passes into blocking jobs)
    p = target_counts.groupBy("bucket").agg(F.sum("c").alias("p_k"))
    q = raw_counts.groupBy("bucket").agg(F.sum("c").alias("q_k"))
    p_tot = p.agg(F.sum("p_k").alias("__P"))
    q_tot = q.agg(F.sum("q_k").alias("__Q"))

    def _lr(p_expr, q_expr):
        return F.round(
            (F.log((p_expr + 1).cast("double")
                   / (F.col("__P") + buckets).cast("double"))
             - F.log((q_expr + 1).cast("double")
                     / (F.col("__Q") + buckets).cast("double")))
            * DSIR_UNIT
        ).cast("long")

    return (
        p.join(q, "bucket", "full")
        .crossJoin(F.broadcast(p_tot))
        .crossJoin(F.broadcast(q_tot))
        .select(
            "bucket",
            _lr(F.coalesce("p_k", F.lit(0)),
                F.coalesce("q_k", F.lit(0))).alias("llr_u"),
            _lr(F.lit(0), F.lit(0)).alias("default_u"),
        )
    )


def dsir_importance(doc_counts: DataFrame, model: DataFrame,
                    id_col: str) -> DataFrame:
    """Per-document log-importance: ``logw_u = sum_k c_k * llr_u[k]``
    (exact BIGINT; buckets outside the model take the smoothing default).
    One equi-join on the bucket (model is buckets-sized -> broadcast) +
    one per-doc aggregation."""
    default = model.agg(F.max("default_u").alias("__d"))
    return (
        doc_counts.join(F.broadcast(model.select("bucket", "llr_u")),
                        "bucket", "left")
        .crossJoin(F.broadcast(default))
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c") * F.coalesce("llr_u", F.col("__d")))
            .alias("logw_u"),
            F.sum("c").alias("n_grams"),
        )
    )


def dsir_resample(weights: DataFrame, id_col: str, k: int, *,
                  salt: str = "gumbel") -> DataFrame:
    """Gumbel top-k resampling: ``key_u = logw_u + round(-ln(-ln(u)) *
    1e6)`` with ``u`` a seeded-md5 uniform in (0, 1) — equivalent to
    sampling k docs without replacement with probability proportional to
    their importance weights, but deterministic and engine-replayable.
    sort+limit compiles to TakeOrderedAndProject: per-partition partial
    top-k, then a k-row merge on one reducer — no global sort."""
    u = (
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))
                  .cast("binary")), 1, 8), 16, 10).cast("bigint") + 1)
        .cast("double") / F.lit(4294967297.0)
    )
    gumbel_u = F.round(-F.log(-F.log(u)) * DSIR_UNIT).cast("long")
    return (
        weights.select(
            id_col, "logw_u", "n_grams",
            (F.col("logw_u") + gumbel_u).alias("key_u"),
        )
        .orderBy(F.desc("key_u"), id_col)
        .limit(k)
    )


# ------------------------------------------------- DoReMi domain reweighting
#
# DoReMi (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up
# Language Model Pretraining"): learn the sampling weight of each DOMAIN
# (source / language / crawl slice) by Group-DRO — multiplicative-weights
# ascent that shifts mass toward domains with EXCESS loss relative to the
# current weighted average, smoothed toward uniform so no domain starves.
#
# The variant here is the fixed-iteration, oracle-replayable one: the
# per-domain loss is the integer deficit of the bigram-LM likelihood
# (``LM_UNIT - avg per-bigram likelihood``, exact BIGINT — see
# ngram_lm_score), and each exponentiated-gradient step uses the LINEARIZED
# exponential ``w <- w * max(SCALE + eta_u * (loss - avg), 1) / SCALE``
# followed by exact renormalization and uniform smoothing. Every step is
# +, *, and floor-division on non-negative BIGINTs, so the trajectory is
# partition-order independent and replays bit-exactly in any engine
# (DuckDB's `//` == Spark DIV == Python // on non-negative operands).
#
# Scale shape: the distributed work is the LM scoring pass (one equi-join +
# one per-doc agg over the 100 TB corpus) and ONE per-domain aggregation.
# The iteration itself runs on the domain table — whose cardinality is the
# OUTPUT of the algorithm (a mixture over dozens of domains, never row
# data) — so it is exact driver-side integer math, not a Spark job.

DOREMI_SCALE = 1_000_000


def domain_losses(scores: DataFrame, domain_col: str, *,
                  sum_col: str = "sum_likelihood_u",
                  n_col: str = "n_bigrams") -> DataFrame:
    """(domain, loss_u): per-domain integer loss = ``LM_UNIT`` minus the
    domain's exact mean per-bigram likelihood (floor division over the
    domain's BIGINT sums). ``scores`` is ``ngram_lm_score`` output joined
    with the domain column. One aggregation; loss_u in [0, LM_UNIT]."""
    return scores.groupBy(domain_col).agg(
        (F.lit(LM_UNIT)
         - F.expr(f"sum({sum_col}) DIV sum({n_col})"))
        .cast("long").alias("loss_u"))


def doremi_weights(losses: DataFrame, domain_col: str,
                   loss_col: str = "loss_u", *, steps: int = 8,
                   eta_u: int = 2, smooth_num: int = 1,
                   smooth_den: int = 5) -> DataFrame:
    """Fixed-``steps`` DoReMi multiplicative-weights iteration over the
    per-domain losses; returns (domain, loss_u, weight_u) with weights in
    micro-units summing to ~``DOREMI_SCALE``.

    Per step (all exact integer ops, ``S = DOREMI_SCALE``)::

        avg    = (sum_d w_d * loss_d) // (sum_d w_d)
        raw_d  = w_d * max(S + eta_u * (loss_d - avg), 1) // S
        norm_d = raw_d * S // (sum_d raw_d)
        w_d    = (smooth_num * S) // (smooth_den * n)
                 + ((smooth_den - smooth_num) * norm_d) // smooth_den

    The collect is the domain-cardinality aggregate (the mixture being
    computed), not row data."""
    spark = losses.sparkSession
    rows = sorted(
        (r[0], int(r[1]))
        for r in losses.select(domain_col, loss_col).collect()
    )
    domains = [d for d, _ in rows]
    loss = {d: v for d, v in rows}
    n = len(domains)
    if n == 0:
        return local_frame(
            spark, [], f"{domain_col} string, {loss_col} long, weight_u long")
    s = DOREMI_SCALE
    w = {d: s // n for d in domains}
    for _ in range(steps):
        tot = sum(w.values())
        avg = sum(w[d] * loss[d] for d in domains) // tot
        raw = {d: w[d] * max(s + eta_u * (loss[d] - avg), 1) // s
               for d in domains}
        rs = sum(raw.values())
        norm = {d: raw[d] * s // rs for d in domains}
        w = {d: (smooth_num * s) // (smooth_den * n)
             + ((smooth_den - smooth_num) * norm[d]) // smooth_den
             for d in domains}
    return local_frame(
        spark, [(d, loss[d], w[d]) for d in domains],
        f"{domain_col} string, {loss_col} long, weight_u long")
