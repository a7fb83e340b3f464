"""BPE tokenizer training as DataFrame ops.

Byte-pair encoding (Sennrich et al. 2016 — the subword vocabulary
construction behind GPT-2/LLaMA-style tokenizers) learns a merge list by
repeatedly fusing the most frequent adjacent symbol pair. The classical
trainer runs over the WORD-FREQUENCY table, not the corpus: after one
corpus-wide aggregation, every merge iteration touches only
vocabulary-sized data — which is exactly what makes this trainable over a
100 TB corpus in Spark:

- pass 1 (the only corpus-scale job): whitespace-tokenize, one
  ``groupBy(word).count()`` shuffle -> the word-frequency table
  (millions of rows at web scale, not billions);
- each of the k merge iterations runs on that table alone: adjacent-pair
  counts, a deterministic argmax (count DESC, pair ASC), then a literal
  string-replace applying the merge. Because the table is vocabulary-
  sized, the loop runs driver-side over the collected digest (see
  ``bpe_train``) — k merge rounds cost zero Spark jobs.

Words are held as SPACE-SEPARATED symbol strings (``"h e l l o"``);
applying a merge is ``replace(' '||w||' ', ' l r ', ' lr ')`` — the
non-overlapping left-to-right scan of ``replace`` IS the BPE merge
semantic (``a a a`` under merge (a,a) becomes ``aa a``, not ``aa aa``),
and the identical expression replays in DuckDB, so the entire training
loop is value-checkable against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_sharing_spark.session import local_frame


def word_symbol_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(sym, n): corpus word frequencies, each word rendered as the
    space-separated character-symbol string BPE starts from. The one
    corpus-scale aggregation of the trainer."""
    words = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        words.groupBy("w").agg(F.count("*").alias("n"))
        .select(
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("sym"),
            "n",
        )
    )


def bpe_train(df: DataFrame, text_col: str,
              num_merges: int = 6) -> DataFrame:
    """Learn the first ``num_merges`` BPE merges; returns a DataFrame
    ``(rank, left, right, merged, pair_n)`` in merge order.

    The corpus-scale aggregation (the word-frequency table) runs in
    Spark; the merge loop runs on the collected digest driver-side. The
    digest is VOCABULARY-sized (distinct words — millions of rows at web
    scale, not billions; the same order of bytes a broadcast join would
    ship), so the collect is bounded regardless of corpus size, and the
    k merge iterations cost zero Spark jobs instead of 2k blocking jobs
    (per-round argmax collect + localCheckpoint re-materialization) the
    distributed loop paid. Each round replays the exact distributed
    semantics: weighted adjacent-pair counts, argmax by (count DESC,
    pair ASC — code-point order, matching Spark's binary string sort),
    and the non-overlapping left-to-right ``replace`` merge (Python
    ``str.replace`` and Spark's ``replace`` share that scan; ``a a a``
    under merge (a,a) becomes ``aa a`` in both)."""
    spark: SparkSession = df.sparkSession
    rows = word_symbol_freqs(df, text_col).collect()
    words: list[list[str]] = [r["sym"].split(" ") for r in rows]
    ns: list[int] = [r["n"] for r in rows]
    merges: list[tuple] = []
    for rank in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for parts, n in zip(words, ns):
            for pair in zip(parts, parts[1:]):
                counts[pair] = counts.get(pair, 0) + n
        if not counts:
            break  # vocabulary fully merged
        (left, right), pair_n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, left, right, left + right, int(pair_n)))
        pat = f" {left} {right} "
        rep = f" {left}{right} "
        words = [
            (f" {' '.join(parts)} ".replace(pat, rep)).strip(" ").split(" ")
            if left in parts else parts
            for parts in words
        ]
    return local_frame(
        spark, merges, "rank INT, left STRING, right STRING, merged STRING,"
        " pair_n BIGINT")


def bpe_encode(df: DataFrame, text_col: str, merges: list[tuple],
               out_col: str = "tokens") -> DataFrame:
    """Apply a learned merge list to a text column: tokens =
    space-symbolized words folded through the merges in rank order, then
    split. Pure JVM string expressions — the inference path is map-only
    (no shuffle, no UDF)."""
    sym = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.col(text_col)),
                                "(.)", "$1 ")),
        F.lit(" "),
    )
    # word boundaries: spaces in the original text become double spaces
    # after symbolization ("a b" -> " a   b ") — BPE never merges across
    # them because the search literal carries single separators
    for _rank, left, right, _merged, _n in merges:
        sym = F.replace(sym, F.lit(f" {left} {right} "),
                        F.lit(f" {left}{right} "))
    return df.withColumn(
        out_col,
        F.filter(F.split(F.trim(sym), " +"), lambda t: t != ""),
    )
