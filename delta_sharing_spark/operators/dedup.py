"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

All hashes are md5-based (a public, engine-independent hash), so results are
deterministic and reproducible across engines — unlike ``F.hash`` (Murmur3,
Spark-specific). All shingling/minhashing is done with higher-order array
functions (JVM-side, whole-stage codegen); the only shuffles are the
candidate-pair joins, which are equi-joins on hash buckets — the standard
scale-out shape for near-dup detection on ~billions of documents:

- shingle/signature computation: map-side, linear in corpus size;
- LSH banding: each doc emits B band keys; the join on (band, hash) only
  pairs up documents sharing a bucket (no quadratic blow-up);
- verification (exact Jaccard / hamming) runs only on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_sharing_spark.session import local_frame


def _spread(df: DataFrame) -> DataFrame:
    """Row-multiplying operators (gram/segment explodes) inherit the SCAN's
    parallelism, and a small corpus file scans as ONE partition — the whole
    map phase then runs on one core. Thin alias for the shared helper
    (operators.partitioning.spread_to_parallelism)."""
    from delta_sharing_spark.operators.partitioning import (
        spread_to_parallelism,
    )

    return spread_to_parallelism(df)


def _word_shingles(text_col: str, k: int) -> F.Column:
    """Distinct word k-gram shingles of a whitespace-tokenized text column."""
    # split() is bound ONCE as a lambda variable: lambda bodies are
    # interpreted with no subexpression elimination, so an inline
    # slice(split(text), i, k) re-splits the document per position —
    # O(len²) per doc (same fix as operators/scoring._bigrams)
    return F.array_distinct(
        F.expr(
            f"""
            element_at(transform(array(split({text_col}, ' ')), __w ->
              transform(
                sequence(1, greatest(size(__w) - {k - 1}, 1)),
                i -> concat_ws(' ', slice(__w, i, {k}))
              )), 1)
            """
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str,
                normalize: bool = True) -> DataFrame:
    """Exact dedup via content-hash group-by: one shuffle on the md5 key.
    Returns one survivor (min id) per distinct content + duplicate count."""
    norm = F.regexp_replace(F.trim(F.col(text_col)), " +", " ") if normalize \
        else F.col(text_col)
    return (
        df.select(F.col(id_col), F.md5(norm.cast("binary")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 8, shingle_k: int = 3) -> DataFrame:
    """MinHash signatures: sig_i = min over shingles of the i-th 32-bit
    slice of a seeded md5.

    One md5 yields 128 bits = FOUR independent 32-bit hash values
    (disjoint output bits of a strong hash are independent uniform
    functions of the input), so ``num_hashes`` signatures cost only
    ``ceil(num_hashes / 4)`` md5 evaluations per shingle — md5 is the
    dominant cost of the whole operator, so this is a ~4× cut over
    one-md5-per-signature. Minima are over 8-hex-char strings, which order
    identically to the 32-bit integers they encode — everything stays
    engine-portable (DuckDB replays substr(md5(..)) exactly).

    Shape: shingles are built ONCE per document (no per-seed recompute),
    exploded, md5'd once per seed group, and all ``num_hashes`` minima come
    out of a single aggregation — one shuffle on the document id, partial
    min computed map-side. (min over the shingle multiset == min over
    distinct shingles, so no distinct pass is needed.)
    """
    n_md5 = -(-num_hashes // 4)
    exploded = _spread(df).select(
        F.col(id_col),
        F.explode(_word_shingles(text_col, shingle_k)).alias("s"),
    ).select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{j}:"), F.col("s")).cast("binary"))
            .alias(f"h{j}")
            for j in range(n_md5)
        ],
    )
    aggs = [
        F.min(F.substring(f"h{i // 4}", (i % 4) * 8 + 1, 8))
        .alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_band_index(signatures: DataFrame, id_col: str,
                       num_hashes: int = 8, bands: int = 4) -> DataFrame:
    """(id, band_idx, h) LSH bucket rows — the persistable corpus dedup
    index. Write it once per corpus snapshot (e.g. into a TableLog table
    partitioned/bucketed by ``h``); new batches then dedup against the
    corpus by joining their bands against this index WITHOUT rescanning
    corpus text (see ``incremental_dedup_candidates``)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_cols.append(
            F.md5(F.concat_ws("|", *parts).cast("binary")).alias(f"band_{b}")
        )
    banded = signatures.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("h"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band_idx", "bk.h")


def minhash_lsh_candidates(signatures: DataFrame, id_col: str,
                           num_hashes: int = 8, bands: int = 4,
                           max_bucket: int | None = None) -> DataFrame:
    """LSH banding: hash each band of the signature; equi-join docs sharing a
    (band_idx, band_hash) bucket. Returns distinct candidate pairs (a < b).

    At scale this is the whole trick: the join key is the band hash, so
    Spark shuffles each doc B times instead of comparing all pairs.

    ``max_bucket`` is the hot-bucket skew cap: a (band_idx, band_hash)
    bucket holding k docs emits k·(k-1)/2 pairs from the self-join, so one
    boilerplate bucket on a web corpus (k in the millions) is a quadratic
    blow-up. Buckets larger than ``max_bucket`` are dropped from candidate
    generation — the same guard as ``ngram_jaccard_pairs(max_doc_freq=…)``
    and the streaming LSH state cap (streaming/ops.py). Near-dups lost this
    way almost always still collide in a rarer band; at 100 TB the cap is
    what keeps the join's output linear in corpus size.
    """
    # materialize the band index ONCE (eager: a LAZY checkpoint inside a
    # single action lets every reference race down the full lineage): the
    # self-join references it twice and the cap's bucket-count aggregate a
    # third time, and the subtrees differ just enough (the aggregate drops
    # the id-null filter) that Spark's exchange reuse does NOT kick in —
    # without this the whole signature pipeline (shingle explode + 2
    # corpus-wide sort-aggregates) recomputes up to 4x (measured 48 s ->
    # ~7 s at sf1). The index is O(docs x bands) compact rows — exactly
    # what a production run persists anyway (minhash_band_index docstring).
    buckets = minhash_band_index(signatures, id_col, num_hashes, bands) \
        .localCheckpoint(eager=True)
    if max_bucket is not None:
        # bucket cardinality is a small aggregate over (band_idx, h); the
        # anti-pattern alternative — a window count over the bucket key —
        # would sort every bucket, so keep it as an aggregate + semi-join.
        # NO forced broadcast: keep has one row per under-cap bucket,
        # O(docs x bands) at web scale — AQE broadcasts it while it fits
        # and falls back to a shuffle join when it doesn't
        keep = (buckets.groupBy("band_idx", "h")
                .agg(F.count("*").alias("bdf"))
                .filter(F.col("bdf") <= max_bucket)
                .select("band_idx", "h"))
        buckets = buckets.join(keep, ["band_idx", "h"])
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.h") == F.col("r.h"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_k: int = 3, threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the inverted-index join:
    explode distinct shingles, self-join on shingle, count common shingles,
    Jaccard = common / (|A| + |B| - common).

    The shingle join IS the scalable candidate generator (only docs sharing
    a shingle ever meet). ``max_doc_freq`` caps hot shingles: a shingle
    appearing in more than that many documents is dropped from CANDIDATE
    GENERATION (both the join and the |A|/|B| set sizes — so the capped
    Jaccard stays a true Jaccard over the rare-shingle sets). On a web
    corpus a boilerplate shingle ("all rights reserved ...") otherwise
    fans out to a quadratic bucket — the classic inverted-index skew killer;
    capping bounds any shingle's join contribution to max_doc_freq².
    """
    sh = _word_shingles(text_col, shingle_k)
    # NOTE: no _spread here — this plan consumes the corpus in several
    # branches (sizes + freq + both join sides); an injected round-robin
    # exchange re-executes per branch and measured 2.7x SLOWER at sf0.1
    if max_doc_freq is None:
        toks = df.select(F.col(id_col), F.size(sh).alias("n_sh"),
                         F.explode(sh).alias("sh"))
    else:
        # doc-frequency per shingle is a small aggregate; the filtered
        # shingle set rebuilds per-doc sizes so the capped Jaccard is exact
        # over the rare-shingle sets
        exploded = df.select(F.col(id_col), F.explode(sh).alias("sh"))
        freq = (exploded.groupBy("sh")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_doc_freq)
                .select("sh"))
        kept = exploded.join(freq, "sh")
        sizes = kept.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        toks = kept.join(sizes, id_col)
    a, b = toks.alias("a"), toks.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "jaccard")
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str,
                         bits: int = 64) -> DataFrame:
    """SimHash: per token, md5 gives ``bits`` pseudo-random bits; each bit
    position accumulates +1/-1 per token; fingerprint bit = sign of the sum.
    Returned as a '0'/'1' string of length ``bits`` (engine-portable).

    Shape: explode tokens once, then compute all ``bits`` bit-position sums
    as separate aggregate expressions in a SINGLE aggregation — one shuffle
    on the document id with map-side partial sums, no (id, pos) blow-up.

    Output carries two equivalent encodings: ``simhash`` ('0'/'1' string,
    engine-portable and human-readable) and ``fp_0..fp_{bits/16-1}``
    (16-bit integer chunks) so downstream hamming tests are cheap
    ``bit_count(xor)`` instead of per-character comparison.
    """
    toks = _spread(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.md5(F.col("tok").cast("binary")))
    # decode the md5 hex into 16-bit integer chunks ONCE per token; each of
    # the 64 bit-position aggregates is then a cheap shift/mask on an int
    # instead of a substring+instr pair (4 conv calls vs 64 string ops/row)
    n_chunks16 = bits // 16
    toks = toks.select(
        id_col,
        *[
            F.conv(F.substring("h", 4 * c + 1, 4), 16, 10)
            .cast("int").alias(f"c_{c}")
            for c in range(n_chunks16)
        ],
    )

    def bit_weight(pos: int) -> F.Column:
        chunk, shift = pos // 16, 15 - pos % 16
        bit = F.expr(f"shiftright(c_{chunk}, {shift}) % 2")
        return F.when(bit == 1, 1).otherwise(-1)

    sums = toks.groupBy(id_col).agg(
        *[F.sum(bit_weight(p)).alias(f"s_{p}") for p in range(bits)]
    )
    fingerprint = F.concat(
        *[F.when(F.col(f"s_{p}") > 0, "1").otherwise("0") for p in range(bits)]
    )
    chunks = []
    for c in range(bits // 16):
        chunk = None
        for j in range(16):
            term = F.when(
                F.col(f"s_{16 * c + j}") > 0, F.lit(1 << (15 - j))
            ).otherwise(0)
            chunk = term if chunk is None else chunk + term
        chunks.append(chunk.cast("int").alias(f"fp_{c}"))
    return sums.select(F.col(id_col), fingerprint.alias("simhash"), *chunks)


def hamming_near_pairs(df: DataFrame, id_col: str, hash_col: str,
                       bits: int = 16, bands: int = 4,
                       max_hamming: int = 3,
                       max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs over an arbitrary packed integer hash column
    (perceptual image hash, audio fingerprint, any bit signature): LSH by
    splitting the hash into ``bands`` equal bit-slices — a pair within
    hamming distance < ``bands`` matches at least one slice exactly
    (pigeonhole), so candidate generation is a slice-value EQUI-join, never
    an all-pairs scan — then exact ``bit_count(xor)`` verification on
    candidates only. The generic integer-hash twin of
    :func:`simhash_near_pairs` (which bands md5-chunk columns).

    ``max_bucket`` frequency-caps hot slice values before the self-join
    (same quadratic-emission guard as the MinHash/SimHash paths). All
    JVM expressions; one shuffle for the equi-join. PRECONDITION:
    ``id_col`` is unique per input row (a hash table) — duplicate ids
    multiply the emitted pairs on the uncapped path, which relies on
    first-matching-slice dedup instead of a distinct."""
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            f"banding is only complete for max_hamming < bands "
            f"({max_hamming} >= {bands}: a pair could differ in every "
            "slice and still be within threshold)")
    bb = bits // bands
    mask = (1 << bb) - 1
    buckets = df.select(
        F.col(id_col), F.col(hash_col).alias("__h"),
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("band_idx"),
                F.shiftright(F.col(hash_col), c * bb)
                .bitwiseAND(F.lit(mask)).alias("band_val"))
            for c in range(bands)
        ])).alias("bk"),
    ).select(id_col, "__h", "bk.band_idx", "bk.band_val")
    if max_bucket is not None:
        keep = (buckets.groupBy("band_idx", "band_val")
                .agg(F.count("*").alias("bdf"))
                .filter(F.col("bdf") <= max_bucket)
                .select("band_idx", "band_val"))
        buckets = buckets.join(keep, ["band_idx", "band_val"])
    a, b = buckets.alias("a"), buckets.alias("b")
    hamming = F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h")))
    cond = ((F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (hamming <= max_hamming))
    if max_bucket is None:
        # first-matching-slice dedup: a pair sharing k slices would be
        # emitted k times and need a distinct SHUFFLE over the candidate
        # set; instead each pair is emitted exactly once — by its LOWEST
        # matching slice — via a JVM predicate over the packed hashes
        # evaluated in the join stage, and the hamming threshold rides
        # the join condition too, so non-near candidates die before any
        # downstream operator. (Under max_bucket the k-fold emission is
        # the recall mechanism — a pair whose first slice was capped away
        # must survive via a rarer slice — so the cap path keeps the
        # distinct instead.)
        fm = None
        for c in range(bands):
            eq = (F.shiftright(F.col("a.__h"), c * bb)
                  .bitwiseAND(F.lit(mask))
                  == F.shiftright(F.col("b.__h"), c * bb)
                  .bitwiseAND(F.lit(mask)))
            fm = F.when(eq, F.lit(c)) if fm is None else fm.when(
                eq, F.lit(c))
        return (
            a.join(b, cond & (fm == F.col("a.band_idx")))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming.alias("hamming"),
            )
        )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def simhash_near_pairs(fingerprints: DataFrame, id_col: str,
                       bits: int = 64, bands: int = 4,
                       max_hamming: int = 8,
                       max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: LSH on 16-bit fingerprint chunks (a pair
    within hamming distance d matches at least one of ``bands`` bands when
    d < bands), then exact hamming verification on candidates only —
    ``bit_count(xor)`` over the integer chunks, a handful of ALU ops per
    candidate instead of per-character string compares.

    ``max_bucket`` frequency-caps hot buckets (very common fingerprint
    chunks — e.g. the all-zeros chunk from short template docs) before the
    self-join: a bucket of k docs otherwise emits k²/2 pairs. Buckets above
    the cap are dropped from candidate generation (the other bands still
    catch genuine near-dups with a rarer chunk). AQE's skew-join split
    handles moderate skew; the cap is for the quadratic-emission regime
    AQE can't fix because the blow-up is join OUTPUT, not partition size.
    """
    n_chunks = bits // 16
    assert bands == n_chunks, "banding uses the 16-bit chunks directly"
    buckets = fingerprints.select(
        F.col(id_col), *[F.col(f"fp_{c}") for c in range(n_chunks)],
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("band_idx"), F.col(f"fp_{c}").alias("h"))
                for c in range(n_chunks)
            ])
        ).alias("bk"),
    ).select(id_col, *[f"fp_{c}" for c in range(n_chunks)],
             "bk.band_idx", "bk.h") \
        .localCheckpoint(eager=True)
    # materialized ONCE (same rationale as minhash_lsh_candidates above):
    # the self-join consumes these rows twice — one side streamed, one side
    # broadcast — and exchange reuse cannot fire across a shuffle/broadcast
    # pair, so without this the whole fingerprint pipeline (token explode +
    # md5 + the 64-sum aggregate) runs once PER SIDE (plan-verified: two
    # Generate+HashAggregate chains). The bucket rows are the O(docs x
    # bands) persistable index, exactly what minhash checkpoints.
    if max_bucket is not None:
        keep = (buckets.groupBy("band_idx", "h")
                .agg(F.count("*").alias("bdf"))
                .filter(F.col("bdf") <= max_bucket)
                .select("band_idx", "h"))
        buckets = buckets.join(keep, ["band_idx", "h"])
    a, b = buckets.alias("a"), buckets.alias("b")
    hamming = None
    for c in range(n_chunks):
        term = F.bit_count(
            F.col(f"a.fp_{c}").bitwiseXOR(F.col(f"b.fp_{c}"))
        )
        hamming = term if hamming is None else hamming + term
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def decontaminate(train: DataFrame, bench: DataFrame, id_col: str,
                 text_col: str, shingle_k: int = 13,
                 min_overlap: int = 1) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    ``min_overlap`` distinct word ``shingle_k``-grams with any benchmark
    document (the standard 13-gram contamination test for LLM training
    corpora).

    Returns (id_col, n_overlap) for contaminated training docs.

    Scale shape: the benchmark side is small by nature (an eval set), so
    its distinct shingle set BROADCASTS; training shingles stream through
    the broadcast-hash join with no shuffle of the corpus, and the only
    shuffle is the per-doc overlap count (map-side partials on the doc id).
    The 100 TB cost is one pass over the training text."""
    t_sh = train.select(
        F.col(id_col),
        F.explode(_word_shingles(text_col, shingle_k)).alias("s"),
    )
    b_sh = (
        bench.select(F.explode(_word_shingles(text_col, shingle_k))
                     .alias("s"))
        .distinct()
    )
    return (
        t_sh.join(F.broadcast(b_sh), "s")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def decontaminate_ratio(train: DataFrame, bench: DataFrame, id_col: str,
                        text_col: str, shingle_k: int = 8,
                        max_ratio: float = 0.7) -> DataFrame:
    """Fuzzy decontamination by contamination RATIO: for every training
    document, the fraction of its distinct word ``shingle_k``-grams that
    also occur in the benchmark set; documents at or above ``max_ratio``
    are dropped (keep = 0). This is the published GPT-3/PaLM/Llama-family
    rule ("remove documents where ≥N% of 8-grams collide with an eval
    set") — a graded signal, unlike :func:`decontaminate`'s any-overlap
    flag, so partial paraphrases and chopped-up eval leaks score between
    0 and 1 instead of tripping a binary test.

    Returns one row PER training document (zero-overlap docs included):
    (id_col, n_shingles, n_hit, contamination, keep). ``contamination``
    is an integer/integer division in double — bit-identical across
    engines — and ``keep`` compares that exact quotient to the literal
    threshold, so the decision replays exactly in SQL.

    Scale shape: identical to :func:`decontaminate` — the benchmark's
    distinct shingle set broadcasts (eval sets are small by nature), the
    corpus streams through a broadcast left join with no corpus shuffle,
    and the per-doc aggregation has map-side partials on the doc id. One
    pass over the training text at 100 TB."""
    t_sh = train.select(
        F.col(id_col),
        F.explode(_word_shingles(text_col, shingle_k)).alias("s"),
    )
    b_sh = (
        bench.select(F.explode(_word_shingles(text_col, shingle_k))
                     .alias("s"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    contamination = (F.col("n_hit").cast("double")
                     / F.col("n_shingles").cast("double"))
    return (
        t_sh.join(F.broadcast(b_sh), "s", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long")
            .alias("n_hit"),
        )
        .select(
            id_col, "n_shingles", "n_hit",
            contamination.alias("contamination"),
            F.when(contamination >= max_ratio, F.lit(0))
            .otherwise(F.lit(1)).alias("keep"),
        )
    )


def bloom_decontaminate(train: DataFrame, bench: DataFrame, id_col: str,
                        text_col: str, shingle_k: int = 13,
                        m_bits: int = 1 << 20,
                        num_hashes: int = 4) -> DataFrame:
    """Two-phase decontamination for a LARGE benchmark set: Bloom
    prefilter + exact verify.

    :func:`decontaminate` broadcasts the benchmark's distinct shingle
    STRINGS — fine for eval sets, unbounded when the "contamination set"
    is itself a corpus. Here the bench shingles fold into a fixed-size
    Bloom bitmap (``m_bits`` bits packed 32-per-long, so the broadcast
    is ≤ m_bits/32 rows of (word, bits) REGARDLESS of bench size); every
    training shingle probes the bitmap with ``num_hashes`` md5-derived
    positions (all set → candidate), and only candidates pay the exact
    string-equality verify join that removes Bloom false positives.

    Returns (id_col, n_candidates, n_overlap): per training doc, how
    many distinct shingles passed the Bloom filter and how many were
    exact-verified overlaps (n_overlap = 0 rows are pure false positives —
    the measurable cost of the m_bits/num_hashes choice).

    Scale shape: one pass over the training text, one broadcast of a
    bounded bitmap, one broadcast verify join against only the
    candidate shingles. 32-bit packing keeps every shift < 32 — exactly
    replayable in engines whose BIGINT shift overflows at 63."""
    def pos(col: F.Column, i: int) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f"#b{i}"))), 1, 12),
            16, 10).cast("long") % m_bits

    def word(p: F.Column) -> F.Column:
        return F.floor(p / 32).cast("long")

    # pyspark's shiftleft() only takes a literal shift — the per-row
    # shift goes through the SQL function (still whole-stage codegen)
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")

    b_sh = (
        bench.select(F.explode(_word_shingles(text_col, shingle_k))
                     .alias("s"))
        .distinct()
    )
    bitmap = (
        b_sh.select(F.explode(F.array(
            *[pos(F.col("s"), i) for i in range(num_hashes)])).alias("p"))
        .select(word(F.col("p")).alias("w"), mask.alias("m"))
        .groupBy("w").agg(F.bit_or("m").alias("bits"))
    )
    t_sh = train.select(
        F.col(id_col),
        F.explode(_word_shingles(text_col, shingle_k)).alias("s"),
    )
    probes = t_sh.select(
        id_col, "s",
        F.explode(F.array(
            *[pos(F.col("s"), i) for i in range(num_hashes)])).alias("p"),
    )
    hits = (
        probes.join(F.broadcast(bitmap), word(F.col("p")) == F.col("w"),
                    "left")
        .withColumn("hit", (F.col("bits").isNotNull())
                    & (F.col("bits").bitwiseAND(mask) != 0))
        .groupBy(id_col, "s")
        .agg(F.sum(F.col("hit").cast("int")).alias("nh"))
    )
    cand = hits.filter(F.col("nh") == num_hashes).select(id_col, "s")
    # verify WITHOUT broadcasting b_sh — the bench set is corpus-sized by
    # premise (that is why the bitmap exists); the left side is only the
    # Bloom-passed candidates, so a shuffle join here is tiny-vs-big and
    # AQE still broadcasts small bench sets on its own
    return (
        cand.join(b_sh.withColumn("__real", F.lit(1)),
                  "s", "left")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_candidates"),
             F.sum(F.coalesce(F.col("__real"), F.lit(0))).alias("n_overlap"))
    )


def dedup_clusters(ids: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (id, component) where
    component = min id in the component (docs in no pair are singletons).
    This is the step that turns pairwise near-dup evidence into "keep one
    representative per duplicate cluster".

    Algorithm: min-label propagation (the standard large-graph CC shape, cf.
    GraphX/Pregel): every node starts labeled with itself; each round every
    node takes the min of its own and its neighbors' labels; converges in
    O(component diameter) rounds. Each round is one join + one aggregation —
    all shuffles on the id key, no driver data path (the driver only checks
    the per-round convergence counter). Near-dup components are tiny in
    practice (diameter < 10), so rounds stay in single digits at any corpus
    size.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst")))
        .distinct()
        # pin the edge list ONCE: every propagation round joins against
        # it, and without this the full pair-generation lineage (shingle
        # explode + self-join — the expensive part) re-executes per
        # round (measured 88 s -> ~8 s for clusters+keep at sf0.001).
        # At scale this is the same materialize-your-edges step every
        # Pregel-style system does before iterating.
        .localCheckpoint(eager=True)
    )
    labels = ids.select(F.col(id_col).alias("node"),
                        F.col(id_col).alias("label"))
    for _i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", "label"))
                .alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels.localCheckpoint(eager=True)  # cut lineage growth
        if changed == 0:
            break
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("component"))


def dedup_keep_best(members: DataFrame, scores: DataFrame,
                    id_col: str = "doc_id",
                    score_col: str = "score") -> DataFrame:
    """Quality-ranked representative selection: for each near-dup
    cluster (``members``: (id, component) from :func:`dedup_clusters`)
    keep the member with the highest ``score`` (ties broken by lowest
    id, so the decision is deterministic and replayable). Returns
    (id, component, keep) with keep ∈ {0, 1} — exactly one keeper per
    component, singletons keep themselves.

    This is the step real pipelines run INSTEAD of min-id survivorship:
    when duplicates differ (truncation, boilerplate, OCR noise), the
    kept copy should be the best one, not the first-crawled one.

    100 TB shape: one equi-join on the id key and one window shuffled on
    component — near-dup components are tiny by construction (LSH
    candidates + verification), so the window's per-partition groups
    stay small and skew-free at any corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    return (
        members.join(scores, id_col)
        .select(id_col, "component",
                (F.row_number().over(w) == 1).cast("int").alias("keep"))
    )


def incremental_dedup_candidates(new_docs: DataFrame, index: DataFrame,
                                 id_col: str, text_col: str,
                                 num_hashes: int = 8, bands: int = 4,
                                 shingle_k: int = 3) -> DataFrame:
    """Dedup a NEW batch against an existing corpus via its stored band
    index: signatures are computed for the new docs only, banded, and
    equi-joined against ``index`` (``minhash_band_index`` output, columns
    (corpus_id_col, band_idx, h)). Returns distinct (new_id, corpus_id)
    candidate pairs.

    The incremental shape at 100 TB: the corpus is touched ONLY through its
    index (a few band rows per historical doc, no text rescans), the join
    key is the band hash (co-partitionable if the index table is bucketed
    by ``h``), and the new batch — typically orders of magnitude smaller —
    broadcasts when it fits.
    """
    sigs = minhash_signatures(new_docs, id_col, text_col,
                              num_hashes=num_hashes, shingle_k=shingle_k)
    new_buckets = minhash_band_index(sigs, id_col, num_hashes, bands) \
        .withColumnRenamed(id_col, "new_id")
    corpus_id = [c for c in index.columns
                 if c not in ("band_idx", "h")][0]
    return (
        new_buckets.join(
            index.withColumnRenamed(corpus_id, "corpus_id"),
            ["band_idx", "h"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )


def content_defined_chunks(df: DataFrame, id_col: str, text_col: str,
                           window: int = 8,
                           avg_size: int = 256) -> DataFrame:
    """Content-defined chunking: split each document at positions where the
    hash of the trailing ``window``-char substring ≡ 0 (mod ``avg_size``)
    — boundaries move WITH the content (an insertion shifts at most the
    chunk it lands in, unlike fixed-size splitting where every later chunk
    changes), which is what makes sub-document dedup and delta-storage
    work. Expected chunk length ≈ ``avg_size`` chars.

    Entirely higher-order JVM expressions (sequence/transform/filter +
    md5) — no Python, no shuffle; one md5 per character, the same cost
    envelope as ``q_text_fingerprint``. Returns (id, chunk_idx,
    chunk_text, chunk_md5) with one row per non-empty chunk.
    """
    w1 = window - 1
    bounds = f"""
    CASE WHEN length(__t) >= {window} THEN
      filter(
        transform(sequence({window}, length(__t)),
          i -> IF(CAST(conv(substring(md5(CAST(substring(__t, i-{w1},
                   {window}) AS BINARY)), 1, 8), 16, 10) AS BIGINT)
                  % {avg_size} = 0, i, -1)),
        x -> x > 0)
    ELSE array() END
    """
    # bounds materialize ONCE per row into a column; the chunk lambda then
    # only indexes the precomputed arrays — without this, Spark re-evaluates
    # the whole rolling-hash subexpression per element_at (no subexpression
    # elimination inside lambdas), turning one-md5-per-char into
    # one-md5-per-char-per-chunk
    chunk_expr = """
    filter(
      transform(sequence(1, size(__starts)),
        k -> named_struct(
          'idx', k,
          'text', substring(__t,
            element_at(__starts, k) + 1,
            element_at(__ends, k) - element_at(__starts, k)))),
      c -> length(c.text) > 0)
    """
    return (
        _spread(df).select(F.col(id_col), F.col(text_col).alias("__t"))
        .withColumn("__bounds", F.expr(bounds))
        .withColumn("__starts", F.expr("concat(array(0), __bounds)"))
        .withColumn("__ends",
                    F.expr("concat(__bounds, array(length(__t)))"))
        .select(id_col, F.explode(F.expr(chunk_expr)).alias("__c"))
        .select(
            id_col,
            F.col("__c.idx").alias("chunk_idx"),
            F.col("__c.text").alias("chunk_text"),
            F.md5(F.col("__c.text").cast("binary")).alias("chunk_md5"),
        )
    )


def dedup_segments(df: DataFrame, id_col: str, text_col: str,
                   delim: str = "\n", max_doc_frac: float = 0.5,
                   min_docs: int = 2) -> DataFrame:
    """Segment-level (line-level) corpus dedup: drop segments that occur in
    more than ``max(min_docs, max_doc_frac * n_docs)`` distinct documents
    (boilerplate headers, navigation chrome, license blurbs), then
    reassemble each document from its surviving segments in order.

    This is the line-dedup stage of web-corpus pipelines (CCNet/RefinedWeb
    run it with ``delim="\\n"``); any delimiter works — word granularity
    (``delim=" "``) degenerates to global stopword removal.

    Plan shape (scales to ~billions of docs): segment explode is map-side;
    the document-frequency aggregate and the anti-join against the drop
    list are equi-joins on the segment key (inverted-index shape — skewed
    hot segments are exactly the ones dropped, and AQE skew-join splits
    them before that); reassembly is one shuffle on the doc id with
    ``array_sort`` restoring segment order. The corpus text is never
    collected or cross-joined.

    Returns all input rows: ``(id, cleaned_text, n_kept, n_dropped)``;
    a fully-boilerplate document survives with ``cleaned_text = ''``.

    ``delim`` is used both as a split *regex* and a join separator, so it
    must be regex-neutral (``"\\n"``, ``" "``, ``"\\n\\n"`` are).
    """
    # (no _spread: segs feeds three branches — see ngram_jaccard_pairs)
    segs = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim)).alias("__pos", "__seg"),
    )
    n_docs = df.select(F.countDistinct(id_col).alias("__total"))
    drop = (
        segs.groupBy("__seg")
        .agg(F.countDistinct(id_col).alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("__df")
            > F.greatest(
                F.lit(min_docs).cast("double"),
                F.lit(max_doc_frac) * F.col("__total"),
            )
        )
        .select("__seg")
    )
    kept = segs.join(drop, "__seg", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(__pos, __seg))),"
                   " x -> x.__seg)"),
            delim,
        ).alias("cleaned_text"),
        F.count("*").alias("n_kept"),
    )
    n_total = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), delim)).alias("__n_segs"),
    )
    return (
        n_total.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__n_segs") - F.coalesce("n_kept", F.lit(0)))
            .alias("n_dropped"),
        )
    )


# Skew guard for the one-shuffle duplicated-key window shape (guide §2.5):
# a boilerplate key (one gram/fingerprint in a large fraction of the
# corpus) lands ALL its rows in a single window partition, which no AQE
# mechanism can split (skew-join splitting only applies to shuffled joins,
# never to windows). Keys whose estimated row volume exceeds a task's
# practical buffer capacity — detected on a deterministic
# 1-in-_HOT_SAMPLE_MOD document sample — are instead routed through a
# skew-free two-phase aggregate (map-side partials collapse per-partition,
# so no reduce task ever sees the full key) + a broadcast-digest attach;
# everything else keeps the single-shuffle window. BOTH routes are exact,
# so the hot classification only affects performance, never results — a
# missed hot key just keeps the old window cost, a false positive pays the
# (cheap) digest route. Detection itself costs one sampled job (~1/64 of a
# corpus pass), so it only engages above _HOT_GUARD_MIN_INPUT_BYTES of
# scan input: below that no key can exceed a task's capacity at all
# (locally the guard is free; at cluster scale it is always on).
_HOT_SAMPLE_MOD = 64        # deterministic 1-in-64 doc sample (xxhash64)
_HOT_MIN_TOTAL_ROWS = 4_000_000   # ~200 MB window buffer: one task's limit
_HOT_MAX_KEYS = 256         # digest bound: any subset of hot keys is exact
_HOT_GUARD_MIN_INPUT_BYTES = 1 << 30


def _input_bytes(df: DataFrame) -> int:
    """Total size of the scan files feeding ``df`` (0 when unknown, e.g.
    in-memory test frames) — listing only, no Spark job."""
    import os as _os

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — unknown source: guard stays off
        return 0
    total = 0
    for f in files:
        try:
            total += _os.path.getsize(f.removeprefix("file:"))
        except OSError:
            pass
    return total


def _dup_key_rows(rows: DataFrame, sample_rows: "DataFrame | None",
                  key_col: str, id_col: str,
                  keep_cols: list[str]) -> DataFrame:
    """Rows of ``rows`` whose ``key_col`` group spans >= 2 distinct
    ``id_col`` values, projected to ``keep_cols`` — the shared skew-hybrid
    core of :func:`_dup_gram_islands` (min_docs=2) and
    :func:`duplicate_spans_exact` (involved set). ``sample_rows`` must be
    the same (id, key) expression over a deterministic document sample
    (or None when the input is too small for any key to be hot); it is
    aggregated and collected once (an eager, sample-sized job) to detect
    boilerplate keys before the window shape commits to them."""
    from pyspark.sql import Window

    hot: list = []
    if sample_rows is not None:
        hot = [r[0] for r in (
            sample_rows.groupBy(key_col)
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") >= _HOT_MIN_TOTAL_ROWS // _HOT_SAMPLE_MOD)
            .orderBy(F.desc("__n"), key_col)
            .limit(_HOT_MAX_KEYS)
            .collect())]
    wg = Window.partitionBy(key_col)
    base = rows
    hot_df = None
    if hot:
        spark = rows.sparkSession
        hot_df = local_frame(
            spark, [(h,) for h in hot], rows.select(key_col).schema)
        base = rows.join(F.broadcast(hot_df), key_col, "left_anti")
    cold_hits = (
        base
        .withColumn("__lo", F.min(id_col).over(wg))
        .withColumn("__hi", F.max(id_col).over(wg))
        .filter(F.col("__lo") != F.col("__hi"))
        .select(*keep_cols)
    )
    if hot_df is None:
        return cold_hits
    # hot route: rows of hot keys re-derive from source (the subtree runs
    # twice for this subset), but every shuffle is skew-free — the groupBy
    # collapses map-side to one row per (key, map partition) and the
    # attach is a broadcast hash join, so no task ever holds a full hot key
    hot_rows = rows.join(F.broadcast(hot_df), key_col)
    hot_digest = (
        hot_rows.groupBy(key_col)
        .agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select(key_col)
    )
    hot_hits = (hot_rows.join(F.broadcast(hot_digest), key_col)
                .select(*keep_cols))
    return cold_hits.unionByName(hot_hits)


def _dup_gram_islands(df: DataFrame, id_col: str, text_col: str,
                      k: int = 20, min_docs: int = 2,
                      stride: int = 1) -> DataFrame:
    """Merged duplicated-span islands per document as ``(id, __start,
    __end)`` rows (0-based, end-exclusive) — the shared core of
    :func:`duplicate_spans` (accounting) and
    :func:`remove_duplicate_spans` (the cut). A character ``k``-gram
    occurring in ≥ ``min_docs`` distinct documents marks its span
    duplicated (the k-gram inverted-index adaptation of suffix-array
    training-data dedup, per Lee et al. 2021 "Deduplicating Training Data
    Makes Language Models Better"); overlapping or adjacent spans merge.

    ``stride`` samples every ``stride``-th gram start position — the
    100 TB knob: the index shrinks ``stride``×, at the cost of missing
    duplicates shorter than ``k + stride - 1`` chars and coarsening span
    boundaries by up to ``stride - 1``.

    Plan shape: the gram explode is map-side (one md5-free substring per
    position); duplicate grams come from ONE aggregate on the gram key;
    the island merge is a per-document window (partitioned by id — bounded
    by document length, never global). No cross join, no driver collect.
    """
    # explode the POSITIONS (an int array) and slice the gram afterwards:
    # materializing per-position substrings inside a transform() array
    # costs ~15x more than cutting them post-explode (measured at sf0.1 —
    # the array-of-strings allocation dominates, the substring does not)
    # (stride=1 fidelity without the per-position shuffle: see
    # duplicate_spans_exact below)
    docs = df.filter(F.length(text_col) >= k)

    def gram_rows(src: DataFrame) -> DataFrame:
        return (
            _spread(src)
            .select(
                F.col(id_col),
                F.col(text_col).alias("__t"),
                F.explode(
                    F.sequence(F.lit(0), F.length(text_col) - k,
                               F.lit(stride))
                ).alias("__pos"),
            )
            .select(id_col, "__pos",
                    F.expr(f"substring(__t, __pos + 1, {k})").alias("__gram"))
        )

    grams = gram_rows(docs)
    from pyspark.sql import Window

    if min_docs == 2:
        # "≥2 distinct docs" ≡ min(id) != max(id) over the gram's rows,
        # computed as whole-partition WINDOW aggregates after ONE shuffle
        # on the gram key. The previous shape (aggregate to dup grams +
        # join grams back) evaluated the gram explode TWICE — the two
        # subtrees' pushed filters differ just enough that ReusedExchange
        # never fires — and paid a second pass over the corpus text
        # (measured 2.5 s -> 1.35 s at sf0.1, identical rows). Boilerplate
        # grams detected on a deterministic doc sample bypass the window
        # through a skew-free aggregate + broadcast digest (_dup_key_rows),
        # so a gram in half the corpus never pins one window task; the
        # sampled detection only engages above the input-size guard.
        sample = None
        if _input_bytes(df) >= _HOT_GUARD_MIN_INPUT_BYTES:
            sample = gram_rows(docs.filter(
                F.pmod(F.xxhash64(F.col(id_col)),
                       F.lit(_HOT_SAMPLE_MOD)) == 0))
        hits = _dup_key_rows(grams, sample, "__gram", id_col,
                             [id_col, "__pos"])
    else:
        # window functions cannot express an exact countDistinct: keep
        # the aggregate + join shape for the general min_docs case
        dup_grams = (
            grams.groupBy("__gram")
            .agg(F.countDistinct(id_col).alias("__df"))
            .filter(F.col("__df") >= min_docs)
            .select("__gram")
        )
        hits = grams.join(dup_grams, "__gram").select(id_col, "__pos")

    w = Window.partitionBy(id_col).orderBy("__pos")
    prev_end = F.max(F.col("__pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn(
            "__new",
            F.when(prev_end.isNull() | (F.col("__pos") > prev_end), 1)
            .otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w))
        .groupBy(id_col, "__island")
        .agg(F.min("__pos").alias("__start"),
             (F.max("__pos") + k).alias("__end"))
    )
    return islands.select(id_col, "__start", "__end")


def duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                    k: int = 20, min_docs: int = 2,
                    stride: int = 1) -> DataFrame:
    """One row per document with ≥ 1 duplicated span: ``(id, n_dup_spans,
    dup_chars)`` — the accounting view of :func:`_dup_gram_islands`
    (``dup_chars`` = total merged-island length, the bytes an
    exact-substring dedup pass would cut)."""
    islands = _dup_gram_islands(df, id_col, text_col, k, min_docs, stride)
    return islands.groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("__end") - F.col("__start")).alias("dup_chars"),
    )


def remove_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                           k: int = 20, min_docs: int = 2,
                           stride: int = 1) -> DataFrame:
    """The CUT step of exact-substring dedup (Lee et al. 2021 style):
    return each document with every duplicated island (substring of
    length >= ``k`` shared with >= ``min_docs - 1`` other documents)
    REMOVED, plus the accounting. Documents without duplication pass
    through unchanged.

    Scale shape: same index/island cost as :func:`duplicate_spans`; the
    text surgery is one per-doc fold over the (bounded, sorted) island
    array — a JVM higher-order ``aggregate``, no Python, no extra
    shuffle beyond the island collect per doc (bounded by doc length /
    k intervals)."""
    islands = _dup_gram_islands(df, id_col, text_col, k, min_docs, stride)
    ivs = islands.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__start").alias("s"),
                                    F.col("__end").alias("e")))
        ).alias("__ivs"),
        F.count("*").alias("n_cut"),
        F.sum(F.col("__end") - F.col("__start")).alias("removed_chars"),
    )
    joined = df.join(ivs, id_col, "left")
    # fold over the sorted intervals: acc carries (kept-so-far, consumed
    # 0-based position); each interval appends the gap before it; finish
    # appends the tail after the last interval
    clean = F.when(F.col("__ivs").isNull(), F.col(text_col)).otherwise(
        F.expr(
            f"""
            aggregate(
              __ivs,
              struct(CAST('' AS STRING) AS acc, 0 AS prev),
              (a, iv) -> struct(
                concat(a.acc, substring({text_col}, a.prev + 1,
                                        iv.s - a.prev)),
                iv.e),
              a -> concat(a.acc, substring({text_col}, a.prev + 1,
                                           length({text_col}) - a.prev))
            )
            """
        )
    )
    return joined.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.coalesce(F.col("n_cut"), F.lit(0)).cast("long").alias("n_cut"),
        F.coalesce(F.col("removed_chars"), F.lit(0))
        .cast("long").alias("removed_chars"),
    )


# ------------------------------------------- exact substring dedup (suffix)
#
# duplicate_spans at stride=1 is exact but shuffles one row PER CHARACTER
# POSITION (the gram index). duplicate_spans_exact keeps stride=1 fidelity
# while shuffling only winnowed fingerprints (~2/(w+1) of positions):
#
# 1. winnowing (Schleimer/Wilkerson/Aiken, MOSS): per doc, Karp-Rabin
#    hashes of k_g-char grams, windowed minima over w consecutive grams.
#    Guarantee: two docs sharing any substring of length
#    >= k_g + w - 1 = min_len share at least one selected fingerprint —
#    so candidate-pair generation is EXHAUSTIVE for qualifying spans.
# 2. candidate pairs: equi-join on fingerprint (min/max trick, optional
#    hot-fingerprint cap — same skew guard as the LSH joins).
# 3. per-pair suffix automaton (public classic construction): matching
#    statistics of B against SAM(A) and A against SAM(B) give, for every
#    position, the longest cross-document match ending there — the union
#    of qualifying matches is exactly the positions inside a common
#    substring >= min_len. Runs in mapInPandas, linear per pair.
# 4. global island merge per doc (bounded window, same as duplicate_spans).
#
# Equivalence: a common substring of length L >= min_len covers the same
# character interval as its L - min_len + 1 shared min_len-grams, so the
# merged islands (count and total chars) equal duplicate_spans(k=min_len,
# stride=1) — the DuckDB oracle replays THAT formulation in SQL.


def _winnow_fingerprints(text: str, k: int, w: int):
    """Winnowed Karp-Rabin fingerprint values of one document (sorted,
    distinct). numpy-vectorized: rolling hash via prefix sums mod a prime,
    windowed minima via stride tricks."""
    import numpy as np

    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(data) < k:
        return []
    b, m = 257, 2147483647
    powers = np.array([pow(b, k - 1 - j, m) for j in range(k)],
                      dtype=np.int64)
    n = len(data) - k + 1
    windows = np.lib.stride_tricks.sliding_window_view(data, k)
    hashes = (windows.astype(np.int64) * powers).sum(axis=1) % m
    if n <= w:
        return [int(hashes.min())]
    mins = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
    return [int(v) for v in np.unique(mins)]


def _sam_build(s: str):
    """Suffix automaton of ``s`` (classic online construction — public
    algorithm; states carry (len, link, transitions))."""
    sa_len = [0]
    sa_link = [-1]
    trans: list[dict] = [{}]
    last = 0
    for ch in s:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = trans[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    return sa_len, sa_link, trans


def _match_coverage(sam, b: str, min_len: int):
    """Merged [start, end) intervals of ``b`` lying inside a common
    substring (with the SAM'd string) of length >= min_len — via matching
    statistics: walk b through the automaton, following suffix links on
    mismatch."""
    sa_len, sa_link, trans = sam
    v, length = 0, 0
    out: list[list[int]] = []
    for i, ch in enumerate(b):
        while v != 0 and ch not in trans[v]:
            v = sa_link[v]
            length = sa_len[v]
        if ch in trans[v]:
            v = trans[v][ch]
            length += 1
        else:
            length = 0
        if length >= min_len:
            s, e = i - length + 1, i + 1
            if out and s <= out[-1][1]:
                out[-1][1] = max(out[-1][1], e)
            else:
                out.append([s, e])
    return out


def duplicate_spans_exact(df: DataFrame, id_col: str, text_col: str,
                          min_len: int = 20,
                          max_doc_freq: int | None = None,
                          method: str = "grams") -> DataFrame:
    """Exact cross-document duplicate spans: per document, the merged
    character islands lying inside some substring of length >= ``min_len``
    shared with another document. Same output contract as
    :func:`duplicate_spans` — ``(id, n_dup_spans, dup_chars)`` — with
    stride=1 fidelity at winnowed (not per-position) candidate shuffle.

    Phase 1 (both methods): winnowed Karp-Rabin fingerprints; the MOSS
    guarantee (any shared substring >= k_g + w - 1 = min_len shares a
    selected fingerprint) makes the candidate set EXHAUSTIVE.

    ``method="grams"`` (default, the scale path): documents holding any
    duplicated fingerprint form the *involved set*; the exact stride-1
    k-gram island computation then runs on that subset only — pure JVM,
    no pairwise work. On a typical corpus most documents have no
    duplication and never enter the per-position index; on a
    boilerplate-saturated corpus this degrades gracefully to the full
    stride-1 cost (never to a pair blow-up — measured: 5k synthetic docs
    produce 4M candidate PAIRS but only a 1x doc-filter).

    ``method="sam"``: per-pair suffix automaton matching statistics
    (mapInPandas) — returns the same totals, and is the right tool when
    the caller needs pairwise attribution or the candidate pair count is
    genuinely small. Quadratic in bucket sizes via the pair join; use
    ``max_doc_freq`` to cap hot fingerprints (spans whose ONLY
    fingerprints are boilerplate-hot may then be missed — the documented
    web-scale trade).
    """
    from collections.abc import Iterator

    import pandas as pd

    k_g = max(1, min_len // 2)
    w = min_len - k_g + 1  # winnowing guarantee hits exactly min_len

    docs = df.select(F.col(id_col), F.col(text_col)) \
        .filter(F.length(text_col) >= min_len)

    def winnow(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for id_, text in zip(pdf[id_col].values, pdf[text_col].values):
                for v in _winnow_fingerprints(text or "", k_g, w):
                    ids.append(id_)
                    fps.append(v)
            yield pd.DataFrame({id_col: ids, "fp": fps})

    def winnow_rows(src: DataFrame) -> DataFrame:
        return _spread(src).mapInPandas(
            winnow, schema=f"{id_col} long, fp long")

    prints = winnow_rows(docs)
    if max_doc_freq is not None:
        keep = (prints.groupBy("fp")
                .agg(F.count("*").alias("fdf"))
                .filter(F.col("fdf") <= max_doc_freq)
                .select("fp"))
        prints = prints.join(keep, "fp")

    if method == "grams":
        # whole-partition window aggregates after one shuffle on fp: the
        # aggregate + self-join shape re-ran the winnow mapInPandas pass
        # per branch (same double-evaluation as _dup_gram_islands).
        # Boilerplate fingerprints detected on a deterministic doc sample
        # bypass the window through the skew-free aggregate + broadcast
        # digest route (_dup_key_rows) — same hybrid as the gram islands,
        # behind the same input-size guard.
        sample = None
        if _input_bytes(df) >= _HOT_GUARD_MIN_INPUT_BYTES:
            sample = winnow_rows(docs.filter(
                F.pmod(F.xxhash64(F.col(id_col)),
                       F.lit(_HOT_SAMPLE_MOD)) == 0))
        involved = _dup_key_rows(prints, sample, "fp", id_col,
                                 [id_col]).distinct()
        return duplicate_spans(docs.join(involved, id_col), id_col,
                               text_col, k=min_len, min_docs=2, stride=1)
    if method != "sam":
        raise ValueError(f"unknown method {method!r} (grams | sam)")

    a, b = prints.alias("a"), prints.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    texts = docs.select(F.col(id_col), F.col(text_col).alias("__t"))
    with_texts = (
        pairs.join(texts.withColumnsRenamed(
            {id_col: "id_a", "__t": "__ta"}), "id_a")
        .join(texts.withColumnsRenamed(
            {id_col: "id_b", "__t": "__tb"}), "id_b")
        # co-locate each left doc's pairs so its automaton builds once
        .repartition("id_a")
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sam_memo: dict = {}

        def sam_of(key, text):
            sam = sam_memo.get(key)
            if sam is None:
                sam = _sam_build(text)
                if len(sam_memo) > 256:
                    sam_memo.clear()
                sam_memo[key] = sam
            return sam

        for pdf in batches:
            ids, starts, ends = [], [], []
            for id_a, id_b, ta, tb in zip(
                    pdf["id_a"].values, pdf["id_b"].values,
                    pdf["__ta"].values, pdf["__tb"].values):
                for s, e in _match_coverage(sam_of(id_a, ta), tb, min_len):
                    ids.append(id_b)
                    starts.append(s)
                    ends.append(e)
                for s, e in _match_coverage(sam_of(id_b, tb), ta, min_len):
                    ids.append(id_a)
                    starts.append(s)
                    ends.append(e)
            yield pd.DataFrame({id_col: ids, "__s": starts, "__e": ends})

    intervals = with_texts.mapInPandas(
        verify, schema=f"{id_col} long, __s long, __e long")

    from pyspark.sql import Window

    win = Window.partitionBy(id_col).orderBy("__s", "__e")
    prev_end = F.max("__e").over(
        win.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        intervals.withColumn(
            "__new",
            # touching intervals ([a,b) then [b,c)) merge — the same island
            # rule as duplicate_spans' gram islands
            F.when(prev_end.isNull() | (F.col("__s") > prev_end), 1)
            .otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(win))
        .groupBy(id_col, "__island")
        .agg((F.max("__e") - F.min("__s")).alias("__span_len"))
    )
    return islands.groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.sum("__span_len").alias("dup_chars"),
    )
