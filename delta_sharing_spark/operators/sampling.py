"""Deterministic sampling / splitting / shuffling for training-data
pipelines.

Everything here is hash-deterministic (seeded md5 — the one hash both Spark
and DuckDB compute identically, so every operator has a full value-level
oracle) and shuffle-minimal:

- ``split_assign`` and ``stratified_sample`` are pure projections/filters —
  ZERO shuffles, they pipeline into whatever scan feeds them and push
  nothing to the driver. At 100 TB a split assignment costs exactly one
  pass over the id column.
- ``shuffle_shards`` does the one shuffle a global deterministic shuffle
  fundamentally needs (hash-partition into shards), then orders WITHIN each
  shard via a per-shard window — no global sort, no single-partition
  bottleneck; shards scale with the cluster.

Reference scope: the reference engine (delta-io/delta-sharing) has no
sampling surface; these extend the engine for LLM-corpus preparation
(train/val/test carving, per-language subsampling, epoch shuffling) as
first-class oracle-checked operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_sharing_spark.session import local_frame

# 1e6 buckets: fraction granularity 1e-6 while conv() of 8 hex chars (32
# bits) stays far below bigint overflow
HASH_BUCKETS = 1_000_000


def hash_bucket(col: Column | str, salt: str = "",
                buckets: int = HASH_BUCKETS) -> Column:
    """Uniform deterministic bucket in [0, buckets) from md5(salt || value).

    Uses the first 8 hex chars (32 bits) — DuckDB replays it as
    ``('0x' || substr(md5(salt || v), 1, 8))::BIGINT % buckets``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt),
                                          c.cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % F.lit(buckets)
    )


def split_assign(df: DataFrame, id_col: str,
                 splits: list[tuple[str, float]],
                 salt: str = "split") -> DataFrame:
    """Add a ``split`` column assigning each row to a named fraction
    ("train"/"val"/"test", ...). Assignment depends only on (salt, id), so
    it is stable across runs, engines, and table growth — a row keeps its
    split when the corpus is re-processed. Pure projection: no shuffle.

    ``splits``: ordered (name, fraction) pairs summing to ≤ 1.0; any
    remainder falls into the last split.
    """
    total = sum(f for _n, f in splits)
    if not 0 < total <= 1.0 + 1e-9:
        raise ValueError(f"split fractions must sum to (0, 1], got {total}")
    bucket = hash_bucket(id_col, salt=salt)
    expr = F.lit(splits[-1][0])
    upper = 0.0
    # build a CASE chain: bucket < cum_fraction * BUCKETS -> name
    cases = []
    for name, frac in splits[:-1]:
        upper += frac
        cases.append((int(round(upper * HASH_BUCKETS)), name))
    for threshold, name in reversed(cases):
        expr = F.when(bucket < threshold, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(df: DataFrame, strata_col: str, id_col: str,
                      fractions: dict[str, float],
                      default_fraction: float = 0.0,
                      salt: str = "sample") -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff its hash bucket
    falls below its stratum's fraction. Pure filter — no shuffle, no
    sampling state, reproducible across engines. Strata missing from
    ``fractions`` use ``default_fraction`` (0.0 = drop)."""
    bucket = hash_bucket(id_col, salt=salt)
    expr = F.lit(int(round(default_fraction * HASH_BUCKETS)))
    for stratum, frac in sorted(fractions.items()):
        expr = F.when(F.col(strata_col) == stratum,
                      F.lit(int(round(frac * HASH_BUCKETS)))).otherwise(expr)
    return df.filter(bucket < expr)


def balance_strata(df: DataFrame, strata_col: str, id_col: str,
                   salt: str = "mix") -> DataFrame:
    """Deterministic mixture balancing: downsample every stratum (domain,
    language, source) to ≈ the size of the smallest stratum, so the output
    corpus is uniformly mixed. Acceptance threshold per stratum is the
    INTEGER ``(n_min * BUCKETS) div n`` — exact integer arithmetic, no
    float rounding, so DuckDB replays the assignment bit-for-bit.

    Plan shape: one small count aggregation (|strata| rows) broadcast back
    onto the corpus, then a pure hash filter — the corpus itself is never
    shuffled. At 100 TB the per-stratum counts are a kilobyte-scale
    broadcast, and the filter pipelines into the scan."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    n_min = counts.agg(F.min("__n").alias("__n_min"))
    thr = (
        counts.crossJoin(F.broadcast(n_min))
        .withColumn("__thr",
                    F.expr(f"(__n_min * {HASH_BUCKETS}) div __n"))
        .select(strata_col, "__thr")
    )
    bucket = hash_bucket(id_col, salt=salt)
    return (
        df.join(F.broadcast(thr), strata_col)
        .filter(bucket < F.col("__thr"))
        .drop("__thr")
    )


def shuffle_shards(df: DataFrame, id_col: str, num_shards: int,
                   salt: str = "shuffle") -> DataFrame:
    """Deterministic global shuffle for training epochs: every row gets a
    ``shard`` in [0, num_shards) and a dense ``pos`` within its shard,
    both pure functions of (salt, id).

    Plan shape: ONE hash shuffle on ``shard`` + a per-shard window sort —
    no global ordering step. Reading shards in order [0..N) and rows by
    ``pos`` within each shard yields the same permutation on any cluster
    size; a different ``salt`` is a fresh epoch."""
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    win = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn(
            "shard",
            F.conv(F.substring("__h", 1, 8), 16, 10).cast("bigint")
            % F.lit(num_shards))
        .withColumn("pos", F.row_number().over(win) - F.lit(1))
        .drop("__h")
    )


def pack_sequences(df: DataFrame, id_col: str, n_tokens_col: str,
                   max_tokens: int, num_shards: int = 16,
                   salt: str = "pack") -> DataFrame:
    """Pack documents into fixed-budget training sequences: each row gets a
    ``shard``, a ``seq_id`` within the shard, and its token ``offset``
    inside that sequence, by contiguous fill in deterministic shuffle order
    (a document landing astride a boundary belongs to the sequence where it
    started — the greedy contiguous packing used for LLM pretraining
    batches).

    Plan shape: identical to :func:`shuffle_shards` — one hash shuffle into
    shards, then a per-shard running-sum window. No global sort; shard
    count scales with the cluster, and the assignment is a pure function of
    (salt, ids, token counts), so re-running on any cluster size yields the
    same sequences."""
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    win = (
        Window.partitionBy("shard").orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(n_tokens_col).over(win), F.lit(0))
    return (
        df.withColumn("__h", h)
        .withColumn(
            "shard",
            F.conv(F.substring("__h", 1, 8), 16, 10).cast("bigint")
            % F.lit(num_shards))
        .withColumn("__cum", cum)
        .withColumn("seq_id",
                    F.floor(F.col("__cum") / F.lit(max_tokens)))
        .withColumn("offset",
                    (F.col("__cum") % F.lit(max_tokens)).cast("bigint"))
        .drop("__h", "__cum")
    )


def temperature_resample(df: DataFrame, strata_col: str, id_col: str,
                         salt: str = "temp") -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual-corpus
    standard: sampling probability ∝ n^alpha softens the head/tail
    imbalance without flattening it). Fixed alpha = 0.5, giving keep rate
    ``sqrt(n_min / n)`` per stratum — the smallest stratum keeps
    everything, a stratum 100× larger keeps 10× the smallest's share
    instead of 1× (flat ``balance_strata``) or 100× (no resampling).

    alpha is pinned to 0.5 because ``sqrt`` is correctly rounded under
    IEEE-754 in every engine, so the integer acceptance threshold
    ``floor(BUCKETS * sqrt(n_min/n))`` replays bit-exactly in DuckDB;
    a general ``pow(x, alpha)`` is not correctly rounded everywhere and
    could flip a document on the threshold boundary.

    Plan shape: same as ``balance_strata`` — kilobyte count aggregate
    broadcast back, pure hash filter, corpus never shuffled."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    n_min = counts.agg(F.min("__n").alias("__n_min"))
    thr = (
        counts.crossJoin(F.broadcast(n_min))
        .withColumn(
            "__thr",
            F.floor(F.lit(float(HASH_BUCKETS))
                    * F.sqrt(F.col("__n_min").cast("double")
                             / F.col("__n").cast("double"))),
        )
        .select(strata_col, "__thr")
    )
    bucket = hash_bucket(id_col, salt=salt)
    return (
        df.join(F.broadcast(thr), strata_col)
        .filter(bucket < F.col("__thr"))
        .drop("__thr")
    )


def unimax_allocation(df: DataFrame, strata_col: str, tokens_col: str,
                      total_budget: int, epochs: int = 1) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling"): spread ``total_budget`` tokens as
    UNIFORMLY as possible across strata (languages), capping each stratum
    at its capacity ``epochs × its token count`` — low-resource languages
    get their full cap, the remainder splits evenly among the rest.

    The water-filling solution in closed form over window functions: with
    capacities sorted ascending (prefix sums P_i, n strata), stratum i
    SATURATES iff ``c_i·(n-i+1) + P_{i-1} <= B``; every unsaturated
    stratum receives the common level ``(B - P_k)/(n - k)`` where k is
    the saturation crossover. No iteration, no driver loop.

    Scale note: the windows here order the per-stratum AGGREGATE table —
    bounded by the number of strata (languages), thousands at most — so
    the single-partition window is a deliberate O(#strata) step, never a
    corpus-sized one. The corpus pays exactly one groupBy.

    Returns (strata_col, capacity, allocation, saturated) — feed the
    allocation column into :func:`build_mixture`-style budget filling.
    """
    caps = df.groupBy(strata_col).agg(
        (F.sum(tokens_col) * F.lit(int(epochs))).cast("long")
        .alias("capacity"))
    # the windows run over the per-stratum AGGREGATE (O(#strata) rows) —
    # one partition is the point. The key is a constant-per-row expression
    # that survives constant folding (a bare literal gets folded away,
    # reintroducing WindowExec's "No Partition Defined" warning — same
    # pattern as kmeans_fit's init window), so that warning stays
    # meaningful for REAL unpartitioned-window hazards elsewhere
    const_key = F.pmod(F.col("capacity"), F.lit(1))
    everything = Window.partitionBy(const_key)
    order = Window.partitionBy(const_key).orderBy("capacity", strata_col)
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b = F.lit(int(total_budget)).cast("double")
    ranked = (
        caps.withColumn("__i", F.row_number().over(order))
        .withColumn("__p", F.sum("capacity").over(run))
        .withColumn("__n", F.count(F.lit(1)).over(everything))
        .withColumn(
            "saturated",
            (F.col("capacity") * (F.col("__n") - F.col("__i") + 1)
             + F.col("__p") - F.col("capacity")) <= b)
    )
    sat_p = F.coalesce(
        F.max(F.when(F.col("saturated"), F.col("__p"))).over(everything),
        F.lit(0).cast("long"))
    sat_k = F.coalesce(
        F.max(F.when(F.col("saturated"), F.col("__i"))).over(everything),
        F.lit(0))
    level = (b - sat_p) / (F.col("__n") - sat_k)
    return ranked.select(
        strata_col, "capacity",
        F.when(F.col("saturated"), F.col("capacity").cast("double"))
        .otherwise(level).alias("allocation"),
        "saturated",
    )


def build_mixture(df: DataFrame, strata_col: str, tokens_col: str,
                  id_col: str, weights: dict[str, float] | None = None,
                  total_tokens: int | None = None, salt: str = "mixture",
                  budgets: dict[str, int] | None = None) -> DataFrame:
    """Deterministic token-budget mixture construction: fill each stratum's
    token budget (``floor(weight * total_tokens)``) with documents taken in
    seeded-hash order, stopping at the first document that crosses the
    budget (that document is still included, so every non-empty stratum
    with a positive budget contributes).

    A document is kept iff the token sum of the hash-ordered documents
    *before* it is still under its stratum's budget — the greedy prefix of
    a deterministic global shuffle, replayable in any engine as one window
    cumsum ordered by ``(md5(salt || id), id)``.

    Scale path (the 100 TB difference): a naive per-stratum window cumsum
    sorts each whole stratum in ONE task (a handful of languages → a
    handful of straggler partitions). Instead the prefix is computed in
    two phases, exactly like the limit-hint prefix sum on file manifests:

    1. docs hash into 256 ordered buckets (the first md5 byte — a prefix
       of the order key, so bucket order IS hash order); per-(stratum,
       bucket) token sums cumsum over ≤256 rows per stratum (kilobytes,
       broadcast);
    2. buckets fully under budget pass with NO sort; buckets fully past
       the budget drop with no sort; only the ONE boundary bucket per
       stratum (~1/256 of the stratum) pays a within-bucket window sort.

    Returns the kept rows of ``df`` (original columns).

    ``budgets`` passes EXPLICIT per-stratum token budgets instead of
    ``weights``/``total_tokens`` — the hand-off from an allocator like
    :func:`unimax_allocation` (floor its per-stratum allocation and feed
    it here).
    """
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    if budgets is not None:
        budgets = [(s, int(b)) for s, b in budgets.items()]
    else:
        if weights is None or total_tokens is None:
            raise ValueError("build_mixture: pass weights+total_tokens "
                             "or explicit budgets")
        budgets = [(s, int(float(w) * total_tokens))
                   for s, w in weights.items()]
    if not budgets:
        raise ValueError("build_mixture: weights must name at least one "
                         "stratum (got an empty dict)")
    spark = df.sparkSession
    bdf = F.broadcast(local_frame(spark, budgets, T.StructType([
        T.StructField(strata_col, df.schema[strata_col].dataType),
        T.StructField("__budget", T.LongType()),
    ])))
    docs = (
        df.join(bdf, strata_col)
        .withColumn("__h", h)
        .withColumn(
            "__bkt",
            F.conv(F.substring("__h", 1, 2), 16, 10).cast("int"),
        )
    )
    per_bucket = docs.groupBy(strata_col, "__bkt").agg(
        F.sum(tokens_col).alias("__bkt_tok")
    )
    wb = Window.partitionBy(strata_col).orderBy("__bkt")
    bucket_plan = (
        per_bucket.withColumn(
            "__before_bkt",
            F.coalesce(
                F.sum("__bkt_tok").over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .join(bdf, strata_col)
        .withColumn(
            "__cls",
            F.when(F.col("__before_bkt") >= F.col("__budget"), F.lit("drop"))
            .when(
                F.col("__before_bkt") + F.col("__bkt_tok") <= F.col("__budget"),
                F.lit("keep"),
            )
            .otherwise(F.lit("edge")),
        )
        .select(strata_col, "__bkt", "__before_bkt", "__cls")
    )
    planned = docs.join(F.broadcast(bucket_plan), [strata_col, "__bkt"])
    kept_whole = planned.filter(F.col("__cls") == "keep")
    # boundary bucket: the only place a row-level sort happens, and it is
    # scoped to ~1/256 of one stratum
    we = Window.partitionBy(strata_col, "__bkt").orderBy("__h", id_col)
    kept_edge = (
        planned.filter(F.col("__cls") == "edge")
        .withColumn(
            "__before_row",
            F.col("__before_bkt")
            + F.coalesce(
                F.sum(tokens_col).over(
                    we.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("__before_row") < F.col("__budget"))
        .drop("__before_row")
    )
    drop_cols = ["__budget", "__h", "__bkt", "__before_bkt", "__cls"]
    return kept_whole.unionByName(kept_edge).drop(*drop_cols)


def quantile_buckets(df: DataFrame, strata_col: str, score_col: str,
                     id_col: str,
                     labels: tuple[str, ...] = ("head", "middle", "tail"),
                     coarse: int = 256) -> DataFrame:
    """Per-stratum equal-count quantile bucketing — CCNet's head/middle/
    tail perplexity split (Wenzek et al. 2019): within each stratum
    (language), rows ordered by ``(score_col, id_col)`` ascending are cut
    at ranks ``B_i = (i * n) // m`` into ``m = len(labels)`` buckets; a
    document's label is ``labels[#{i : rank >= B_i}]``. Lower score =
    earlier bucket, so pass a perplexity-like column (head = most
    reference-like).

    Scale path (same two-phase shape as ``build_mixture``): a naive
    per-stratum rank window sorts each whole stratum in ONE task. Instead
    rows map into ``coarse`` ORDER-PRESERVING integer score ranges; the
    per-(stratum, range) counts cumsum over ≤``coarse`` rows per stratum
    (broadcast), every range that no cut rank falls inside is labeled
    WITHOUT any row sort, and only the ≤``m - 1`` boundary ranges per
    stratum pay a window sort scoped to that range. Skewed score
    distributions make boundary ranges larger but never change the
    result — ranks are exact, ties broken by ``id_col``.

    Returns ``df``'s columns plus ``bucket``. ``score_col`` must be
    integral (exact rank semantics; quantize floats to micro-units
    first, as ``ngram_lm_score`` does). Rows with a NULL score are
    unrankable: they pass through with ``bucket = NULL`` and are excluded
    from every count and cut rank (they would otherwise corrupt the
    stratum's boundaries).

    The input is scanned several times (range agg, bucket counts, the
    two labeled outputs) — materialize an expensive upstream projection
    first (``q_ccnet_buckets`` localCheckpoints its 3-column score table;
    a plain table scan needs nothing)."""
    m = len(labels)
    if m < 2:
        raise ValueError("quantile_buckets needs at least 2 labels")
    unranked = df.filter(F.col(score_col).isNull()) \
        .withColumn("bucket", F.lit(None).cast("string"))
    ranked_in = df.filter(F.col(score_col).isNotNull())
    rng = ranked_in.agg(F.min(score_col).alias("lo"),
                        F.max(score_col).alias("hi")).collect()[0]
    if rng.lo is None:  # no rankable rows at all
        return unranked
    lo = int(rng.lo)
    width = max(1, (int(rng.hi) - lo + coarse) // coarse)
    docs = ranked_in.withColumn(
        "__bkt",
        F.expr(f"(cast({score_col} as bigint) - {lo}) DIV {width}"))
    per_bucket = docs.groupBy(strata_col, "__bkt").agg(
        F.count(F.lit(1)).alias("__bkt_n"))
    wb = Window.partitionBy(strata_col).orderBy("__bkt")
    totals = per_bucket.groupBy(strata_col).agg(
        F.sum("__bkt_n").alias("__n"))
    plan = (
        per_bucket.withColumn(
            "__before",
            F.coalesce(
                F.sum("__bkt_n").over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0)))
        .join(totals, strata_col)
    )
    # cut ranks B_i = (i * n) // m; a range is uniform iff no B_i falls
    # strictly inside (before, before + bkt_n)
    # TRUE integer division (DIV), not double-divide + cast: doubles lose
    # exactness past 2^53, which a web-scale stratum count can reach
    cuts = [F.expr(f"({i} * __n) DIV {m}") for i in range(1, m)]
    uniform = F.lit(True)
    for b in cuts:
        uniform = uniform & ~((b > F.col("__before"))
                              & (b < F.col("__before") + F.col("__bkt_n")))
    whole_idx = sum((b <= F.col("__before")).cast("int") for b in cuts)
    plan = plan.select(
        strata_col, "__bkt", "__before", "__n",
        uniform.alias("__uniform"), whole_idx.alias("__idx"))
    planned = docs.join(F.broadcast(plan), [strata_col, "__bkt"])
    label_arr = F.array(*[F.lit(x) for x in labels])
    kept_whole = (
        planned.filter(F.col("__uniform"))
        .withColumn("bucket", F.element_at(label_arr, F.col("__idx") + 1))
    )
    we = Window.partitionBy(strata_col, "__bkt").orderBy(score_col, id_col)
    rank = F.col("__before") + F.row_number().over(we) - 1
    edge_idx = sum(
        (rank >= F.expr(f"({i} * __n) DIV {m}")).cast("int")
        for i in range(1, m))
    kept_edge = (
        planned.filter(~F.col("__uniform"))
        .withColumn("bucket", F.element_at(label_arr, edge_idx + 1))
    )
    drop = ["__bkt", "__before", "__n", "__uniform", "__idx"]
    return (kept_whole.unionByName(kept_edge).drop(*drop)
            .unionByName(unranked))
