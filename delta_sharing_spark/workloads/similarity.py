"""Similarity-search workloads over ``embeddings`` (64-dim float vectors,
10 labeled clusters). Oracles recompute the identical left-to-right double
folds in DuckDB — verified bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_sharing_spark.io import read_table
from delta_sharing_spark.operators.similarity import (
    brute_force_topk,
    hard_negatives,
    ivf_centroids,
    near_dup_pairs,
)
from delta_sharing_spark.workloads import workload

# DuckDB fragments: cosine over FLOAT[] in explicit double, left-to-right
_DOT = ("list_reduce(list_transform(generate_series(1, 64), "
        "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)")
_NORM = ("sqrt(list_reduce(list_transform(generate_series(1, 64), "
         "i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE), (x, y) -> x + y))")
_COS = (f"({_DOT} / ({_NORM.replace('{a}', '{a}')} * "
        f"{_NORM.replace('{a}', '{b}')}))")


def _cos_sql(a: str, b: str) -> str:
    return _COS.replace("{a}", a).replace("{b}", b)


@workload(
    "q_ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos_sql('q.qv', 'c.embedding')} AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= 5
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-5 for 8 query vectors.
    Broadcast queries -> one pass over candidates -> one shuffle on
    query_id; the scale path (IVF) is q_ann_ivf_topk."""
    emb = read_table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") < 8), emb, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


@workload(
    "q_ann_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos_sql('q.qv', 'c.embedding')} AS cos
      FROM q JOIN embeddings c ON c.label <> q.ql
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= 5
    """,
)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for 8 anchor vectors, the top-5
    most-similar OTHER-label candidates (the highest-loss negatives an
    embedding trainer pairs with each anchor). Label anti-predicate folded
    into the broadcast join condition, exact two-phase top-k — the shape
    scales like the ANN baseline."""
    emb = read_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        emb.filter(F.col("vec_id") < 8), emb, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


@workload(
    "q_embedding_near_dup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.42
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold tuned to the data's
    similarity mass). At scale the same verifier runs on LSH/IVF candidates
    instead of the cross product."""
    emb = read_table(spark, sf_dir, "embeddings")
    return near_dup_pairs(emb, threshold=0.42)


@workload(
    "q_embedding_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, CAST(u.i - 1 AS INT) AS dim, embedding[u.i] AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) u
    )
    SELECT label, dim,
           CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e12) AS DECIMAL(38,0)))
                AS DOUBLE) / 1e12 / COUNT(*) AS value,
           COUNT(*) AS n
    FROM ex GROUP BY label, dim
    """,
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse structure: per-cluster centroids via exact fixed-point
    per-(cell, dim) sums — deterministic across engines/partial-agg orders
    and scale-safe (no whole-cell collect_list row)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, "label", dim=64)
    return cents.select(
        "label",
        F.posexplode("centroid").alias("dim", "value"),
        "n",
    ).select("label", "dim", "value", "n")


def _kmeans_ctes(k: int, iters: int, dim: int = 64) -> str:
    """DuckDB CTE chain replaying kmeans_fit exactly: init = k smallest ids
    (double-cast), per iteration an assignment CTE (same fold, same
    tie-break) and a fixed-point centroid-update CTE. Ends with CTEs
    ``a{iters}`` (final assignment used for the update) and ``c{iters}``
    (final centroids as (cell, i, v, n) rows)."""
    parts = [f"""
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             list_transform(embedding, x -> x::DOUBLE) AS centroid
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k})
    )"""]
    prev = "init"
    for t in range(1, iters + 1):
        parts.append(f"""
    a{t} AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT v.vec_id, v.embedding, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce(list_transform(generate_series(1, {dim}),
                   i -> (v.embedding[i]::DOUBLE - c.centroid[i])
                      * (v.embedding[i]::DOUBLE - c.centroid[i])),
                   (x, y) -> x + y), c.cell) AS rn
        FROM embeddings v CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    s{t} AS (
      SELECT cell, i,
             CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e12) AS DECIMAL(38,0)))
                  AS DOUBLE) / 1e12 / COUNT(*) AS v,
             COUNT(*) AS n
      FROM (SELECT a.cell, u.i AS i, a.embedding[u.i] AS x
            FROM a{t} a, (SELECT unnest(generate_series(1, {dim})) AS i) u)
      GROUP BY cell, i
    ),
    c{t} AS (
      SELECT cell, list(v ORDER BY i) AS centroid, MAX(n) AS n
      FROM s{t} GROUP BY cell
    )""")
        prev = f"c{t}"
    return ",".join(parts)


@workload(
    "q_ann_kmeans_centroids",
    oracle=f"""
    WITH {_kmeans_ctes(8, 2)}
    SELECT cell, CAST(i - 1 AS INT) AS dim, v AS value, n
    FROM s2
    """,
)
def q_ann_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned coarse quantizer: 2 Lloyd iterations (nearest-centroid
    assignment + exact fixed-point update, one corpus pass each), fully
    replayed by the SQL oracle — even the iterative algorithm is
    value-checked bit-exactly."""
    from delta_sharing_spark.operators.similarity import kmeans_fit

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, iters=2, dim=64)
    return cents.select(
        "cell", F.posexplode("centroid").alias("dim", "value"), "n"
    ).select("cell", "dim", "value", "n")


@workload(
    "q_ann_ivf_learned",
    oracle=f"""
    WITH {_kmeans_ctes(8, 2)},
    a3 AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT v.vec_id, v.embedding, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce(list_transform(generate_series(1, 64),
                   i -> (v.embedding[i]::DOUBLE - c.centroid[i])
                      * (v.embedding[i]::DOUBLE - c.centroid[i])),
                   (x, y) -> x + y), c.cell) AS rn
        FROM embeddings v CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 6),
    cell_scores AS (
      SELECT q.query_id, q.qv, c.cell,
             list_reduce(list_transform(generate_series(1, 64),
                 i -> q.qv[i]::DOUBLE * c.centroid[i]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                   i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(generate_series(1, 64),
                   i -> c.centroid[i] * c.centroid[i]), (x, y) -> x + y)))
               AS cell_cos
      FROM q CROSS JOIN c2 c
    ),
    probed AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cell_cos DESC, cell) AS cr
        FROM cell_scores
      ) WHERE cr <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {{COS}} AS cos
      FROM probed p JOIN a3 c ON c.cell = p.cell
                             AND c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= 5
    """.replace("{COS}", _cos_sql("p.qv", "c.embedding")),
)
def q_ann_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search over LEARNED cells: k-means (2 Lloyd iterations) for
    the coarse quantizer, a final assignment for the inverted file, nprobe=2
    probe, exact cosine re-rank within probed cells — the oracle replays the
    entire iterative pipeline in SQL."""
    from delta_sharing_spark.operators.similarity import (
        ivf_search,
        kmeans_assign,
        kmeans_fit,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, iters=2, dim=64)
    assigned = kmeans_assign(emb, cents)
    out = ivf_search(emb.filter(F.col("vec_id") < 6), assigned, cents,
                     "cell", k=5, nprobe=2)
    return out.withColumn("rank", F.col("rank").cast("int"))


_UNIT_DOT = """
    round(list_reduce(list_transform(generate_series(1, 64),
        i -> (a.embedding[i]::DOUBLE / a.nrm) * (b.embedding[i]::DOUBLE / b.nrm)),
        (x, y) -> x + y), 9)
"""


@workload(
    "q_embedding_near_dup_blocked",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(generate_series(1, 64),
                 i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
                 (x, y) -> x + y)) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_UNIT_DOT} AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_UNIT_DOT} >= 0.42
    """,
)
def q_embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path near-dup: block-nested-loop + vectorized numpy GEMM over
    Arrow batches (one float64 matmul per block pair, no per-pair Python).
    Similarities rounded to 9 decimals on both sides so GEMM accumulation
    order and the oracle's sequential fold agree exactly."""
    from delta_sharing_spark.operators.similarity import near_dup_pairs_blocked

    emb = read_table(spark, sf_dir, "embeddings")
    return near_dup_pairs_blocked(emb, threshold=0.42, block_size=512)


@workload(
    "q_ann_ivf_topk",
    oracle=f"""
    WITH ex AS (
      SELECT label, u.i AS i, embedding[u.i] AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) u
    ),
    sums AS (
      SELECT label, i,
             CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e12) AS DECIMAL(38,0)))
                  AS DOUBLE) / 1e12 / COUNT(*) AS v
      FROM ex GROUP BY label, i
    ),
    cents AS (
      SELECT label, list(v ORDER BY i) AS centroid
      FROM sums GROUP BY label
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < 6),
    cell_scores AS (
      SELECT q.query_id, q.qv, c.label,
             list_reduce(list_transform(generate_series(1, 64),
                 i -> q.qv[i]::DOUBLE * c.centroid[i]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                   i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(generate_series(1, 64),
                   i -> c.centroid[i] * c.centroid[i]), (x, y) -> x + y)))
               AS cell_cos
      FROM q CROSS JOIN cents c
    ),
    probed AS (
      SELECT query_id, qv, label FROM (
        SELECT query_id, qv, label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cell_cos DESC, label) AS cr
        FROM cell_scores
      ) WHERE cr <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {{COS}} AS cos
      FROM probed p JOIN embeddings c ON c.label = p.label
                                     AND c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos
    FROM ranked WHERE rank <= 5
    """.replace("{COS}", _cos_sql("p.qv", "c.embedding")),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search end-to-end with a full-fidelity oracle: deterministic
    fixed-point centroids, nprobe=2 coarse probe, exact re-ranking within
    probed cells — the oracle replays the identical probe in SQL, so even
    the approximation is value-checked."""
    from delta_sharing_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb.filter(F.col("vec_id") < 6), emb, "label",
                   k=5, nprobe=2, dim=64)
    return out.withColumn("rank", F.col("rank").cast("int"))


@workload(
    "q_embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, i.i AS pos, embedding[i.i]::DOUBLE AS v
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
      WHERE i.i <= len(embedding)
    ),
    s AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM e GROUP BY pos),
    q AS (
      SELECT vec_id, pos, v, mn, mx,
             round(((v - mn) * 255.0) / (mx - mn)) - 128 AS qv
      FROM e JOIN s USING (pos)
    ),
    t AS (
      SELECT vec_id, pos,
             (v - (mn + ((qv + 128) * (mx - mn)) / 255.0))
             * (v - (mn + ((qv + 128) * (mx - mn)) / 255.0)) AS term
      FROM q
    ),
    f AS (
      SELECT vec_id, list(term ORDER BY pos) AS ts FROM t GROUP BY vec_id
    )
    SELECT vec_id,
           round(list_reduce(ts, (a, b) -> a + b), 9) AS recon_err
    FROM f
    ORDER BY recon_err DESC, vec_id
    LIMIT 20
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus: per-dimension
    [min, max] ranges -> 8-bit codes -> dequantized reconstruction, scored
    by per-vector squared reconstruction error (worst 20 reported). The
    compression step of an embedding-heavy pipeline (4x smaller ANN index).

    Plan shape: posexplode -> tiny per-dimension min/max agg (64 rows,
    broadcast back) -> quantize/dequantize as JVM expressions -> per-vector
    ordered fold (sort_array over 64 structs, left-to-right double sum —
    deterministic cross-engine, no cross-row float accumulation). The only
    corpus-wide shuffles are the dim-stats agg and the per-vector regroup;
    both hash aggs with map-side partials."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos0", "vf"))
        .select("vec_id", (F.col("pos0") + 1).alias("pos"),
                F.col("vf").cast("double").alias("v"))
    )
    stats = e.groupBy("pos").agg(F.min("v").alias("mn"),
                                 F.max("v").alias("mx"))
    q = (
        e.join(F.broadcast(stats), "pos")
        .withColumn(
            "qv",
            F.round(((F.col("v") - F.col("mn")) * F.lit(255.0))
                    / (F.col("mx") - F.col("mn"))) - 128)
        .withColumn(
            "deq",
            F.col("mn") + ((F.col("qv") + 128)
                           * (F.col("mx") - F.col("mn"))) / F.lit(255.0))
        .withColumn("term",
                    (F.col("v") - F.col("deq")) * (F.col("v") - F.col("deq")))
    )
    return (
        q.groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "term")))
             .alias("ts"))
        .withColumn(
            "recon_err",
            F.round(F.expr(
                "aggregate(ts, cast(0 as double), (a, x) -> a + x.term)"),
                9))
        .select("vec_id", "recon_err")
        .orderBy(F.desc("recon_err"), "vec_id")
        .limit(20)
    )


@workload(
    "q_embedding_near_dup_ivf",
    oracle=f"""
    SELECT a.label AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.42
    """,
)
def q_embedding_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-verify embedding dedup: near-dup pairs only WITHIN IVF
    cells (here the label assignment) — the pair join collapses from an
    all-pairs cross join to ONE equi-join shuffle on the cell key. The
    100 TB shape: kmeans_assign cells (or RP-LSH buckets), then this."""
    from delta_sharing_spark.operators.similarity import near_dup_pairs_cells

    emb = read_table(spark, sf_dir, "embeddings")
    return near_dup_pairs_cells(emb, "label", threshold=0.42) \
        .withColumnRenamed("label", "cell")


@workload(
    "q_knn_label_propagation",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id % 11 = 0),
    c AS (SELECT vec_id, label, embedding FROM embeddings
          WHERE vec_id % 11 <> 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
             {_cos_sql('q.qv', 'c.embedding')} AS cos
      FROM q JOIN c ON c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, label, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rank <= 5),
    votes AS (
      SELECT query_id, label, COUNT(*) AS votes, MAX(cos) AS top_cos
      FROM topk GROUP BY query_id, label
    ),
    best AS (
      SELECT query_id, label, votes, top_cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label) AS rk
      FROM votes
    )
    SELECT query_id AS vec_id, label AS predicted_label,
           CAST(votes AS BIGINT) AS votes, top_cos
    FROM best WHERE rk = 1
    """,
)
def q_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised labeling: every 11th vector treated as unlabeled and
    labeled by majority vote of its 5 nearest labeled neighbors — the
    weak-labeling pass of a curation pipeline, with the full vote replayed
    in SQL (deterministic (votes desc, label) tie-break)."""
    from delta_sharing_spark.operators.similarity import (
        knn_label_propagation,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    unlabeled = emb.filter("vec_id % 11 = 0")
    labeled = emb.filter("vec_id % 11 != 0")
    out = knn_label_propagation(unlabeled, labeled, "label", k=5)
    return out.select("vec_id", "predicted_label",
                      F.col("votes").cast("long").alias("votes"), "top_cos")


# ------------------------------------------------- product quantization

def _pq_ctes(m: int, k: int, dim: int) -> str:
    """DuckDB CTE chain replaying pq_fit(iters=1) + pq_encode exactly:
    per-subspace init = the k smallest ids' subvectors, one Lloyd
    iteration (same fold, same tie-break, same fixed-point update as the
    kmeans CTEs), then the final assignment ``penc`` under the updated
    codebooks ``pc1``."""
    sl = dim // m
    fold = (f"list_reduce(list_transform(generate_series(1, {sl}),"
            " i -> (v.sv[i] - c.centroid[i]) * (v.sv[i] - c.centroid[i])),"
            " (x, y) -> x + y)")
    return f"""
    psubs AS (
      SELECT vec_id, s.sub,
             list_transform(embedding[s.sub*{sl}+1 : s.sub*{sl}+{sl}],
                            x -> x::DOUBLE) AS sv
      FROM embeddings,
           (SELECT unnest(generate_series(0, {m - 1})) AS sub) s
    ),
    pinit AS (
      SELECT sub,
             CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                  AS INT) AS cell,
             sv AS centroid
      FROM psubs
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id
                       LIMIT {k})
    ),
    pa1 AS (
      SELECT vec_id, sub, cell FROM (
        SELECT v.vec_id, v.sub, c.cell,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {fold}, c.cell) AS rn
        FROM psubs v JOIN pinit c ON c.sub = v.sub
      ) WHERE rn = 1
    ),
    ps1 AS (
      SELECT sub, cell, i,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS DECIMAL(38,0))) AS DOUBLE)
               / 1e12 / COUNT(*) AS v,
             COUNT(*) AS n
      FROM (SELECT a.sub, a.cell, u.i AS i, v.sv[u.i] AS x
            FROM pa1 a
            JOIN psubs v ON v.vec_id = a.vec_id AND v.sub = a.sub,
                 (SELECT unnest(generate_series(1, {sl})) AS i) u)
      GROUP BY sub, cell, i
    ),
    pc1 AS (
      SELECT sub, cell, list(v ORDER BY i) AS centroid, MAX(n) AS n
      FROM ps1 GROUP BY sub, cell
    ),
    penc AS (
      SELECT vec_id, sub, cell FROM (
        SELECT v.vec_id, v.sub, c.cell,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {fold}, c.cell) AS rn
        FROM psubs v JOIN pc1 c ON c.sub = v.sub
      ) WHERE rn = 1
    )"""


@workload(
    "q_ann_pq_codebooks",
    oracle=f"""
    WITH {_pq_ctes(4, 8, 64)}
    SELECT sub, cell, CAST(i - 1 AS INT) AS dim, v AS value, n
    FROM ps1
    """,
)
def q_ann_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebooks (m=4 subspaces x k=8 codewords, one
    Lloyd iteration): all m subspaces fit in one corpus pass per round —
    the oracle replays init, assignment, and the fixed-point update per
    subspace bit-exactly."""
    from delta_sharing_spark.operators.similarity import pq_fit

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=4, k=8, iters=1, dim=64)
    return books.select(
        "sub", "cell", F.posexplode("centroid").alias("dim", "value"), "n"
    ).select("sub", "cell", "dim", "value", "n")


@workload(
    "q_ann_pq_adc",
    oracle=f"""
    WITH {_pq_ctes(4, 8, 64)},
    pq AS (SELECT vec_id AS query_id, sub, sv FROM psubs WHERE vec_id < 6),
    plut AS (
      SELECT v.query_id, c.sub, c.cell AS code,
             CAST(FLOOR(list_reduce(list_transform(generate_series(1, 16),
               i -> (v.sv[i] - c.centroid[i]) * (v.sv[i] - c.centroid[i])),
               (x, y) -> x + y) * 1e9) AS BIGINT) AS d_fx
      FROM pq v JOIN pc1 c ON c.sub = v.sub
    ),
    pscore AS (
      SELECT l.query_id, e.vec_id AS neighbor_id,
             CAST(SUM(d_fx) AS DOUBLE) / 1e9 AS adc_dist
      FROM penc e JOIN plut l ON l.sub = e.sub AND l.code = e.cell
      WHERE e.vec_id <> l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rank
      FROM pscore
    ) WHERE rank <= 5
    """,
)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k: the corpus compressed to (sub, code) rows,
    search = broadcast (m x k) lookup table + equi-join on (sub, code) +
    one (query, id) sum — no per-pair vector math. LUT entries are
    integer-quantized so the m-way sum is exact and order-independent;
    the oracle replays fit, encode, LUT, and ranking end to end."""
    from delta_sharing_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=4, k=8, iters=1, dim=64)
    codes = pq_encode(emb, books, m=4, dim=64)
    return pq_adc_topk(emb.filter(F.col("vec_id") < 6), codes, books,
                       k=5, m=4, dim=64)


# -------------------------------------------------------------- IVF-PQ

def _ivfpq_ctes(k_c: int, c_iters: int, m: int, k: int, dim: int) -> str:
    """CTE chain replaying ivf_pq_fit exactly: the kmeans chain (ending
    c{c_iters}), the final coarse assignment ``pa3`` under it, residual
    subvectors ``rsubs``, and the PQ chain over residuals (init from the
    k lowest ids, one Lloyd iteration, final encode ``qenc``)."""
    sl = dim // m
    cfin = f"c{c_iters}"
    fold = (f"list_reduce(list_transform(generate_series(1, {sl}),"
            " i -> (v.sv[i] - c.centroid[i]) * (v.sv[i] - c.centroid[i])),"
            " (x, y) -> x + y)")
    return f"""{_kmeans_ctes(k_c, c_iters)},
    pa3 AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT v.vec_id, v.embedding, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce(list_transform(generate_series(1, {dim}),
                   i -> (v.embedding[i]::DOUBLE - c.centroid[i])
                      * (v.embedding[i]::DOUBLE - c.centroid[i])),
                   (x, y) -> x + y), c.cell) AS rn
        FROM embeddings v CROSS JOIN {cfin} c
      ) WHERE rn = 1
    ),
    rsubs AS (
      SELECT a.vec_id, a.cell AS coarse_cell, s.sub,
             list_transform(generate_series(1, {sl}),
               i -> a.embedding[s.sub*{sl}+i]::DOUBLE
                  - c.centroid[s.sub*{sl}+i]) AS sv
      FROM pa3 a JOIN {cfin} c ON c.cell = a.cell,
           (SELECT unnest(generate_series(0, {m - 1})) AS sub) s
    ),
    qinit AS (
      SELECT sub,
             CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                  AS INT) AS cell,
             sv AS centroid
      FROM rsubs
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id
                       LIMIT {k})
    ),
    qa1 AS (
      SELECT vec_id, sub, cell FROM (
        SELECT v.vec_id, v.sub, c.cell,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {fold}, c.cell) AS rn
        FROM rsubs v JOIN qinit c ON c.sub = v.sub
      ) WHERE rn = 1
    ),
    qs1 AS (
      SELECT sub, cell, i,
             CAST(SUM(CAST(FLOOR(x * 1e12) AS DECIMAL(38,0))) AS DOUBLE)
               / 1e12 / COUNT(*) AS v,
             COUNT(*) AS n
      FROM (SELECT a.sub, a.cell, u.i AS i, v.sv[u.i] AS x
            FROM qa1 a
            JOIN rsubs v ON v.vec_id = a.vec_id AND v.sub = a.sub,
                 (SELECT unnest(generate_series(1, {sl})) AS i) u)
      GROUP BY sub, cell, i
    ),
    qc1 AS (
      SELECT sub, cell, list(v ORDER BY i) AS centroid, MAX(n) AS n
      FROM qs1 GROUP BY sub, cell
    ),
    qenc AS (
      SELECT v.vec_id, v.coarse_cell, v.sub, cc.cell AS code FROM (
        SELECT v.vec_id, v.coarse_cell, v.sub, c.cell,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY {fold}, c.cell) AS rn
        FROM rsubs v JOIN qc1 c ON c.sub = v.sub
      ) v JOIN qc1 cc ON cc.sub = v.sub AND cc.cell = v.cell
      WHERE v.rn = 1
    )"""


@workload(
    "q_ann_ivf_pq",
    oracle=f"""
    WITH {_ivfpq_ctes(8, 2, 4, 8, 64)},
    qq AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id < 6),
    probed AS (
      SELECT query_id, cell, centroid FROM (
        SELECT q.query_id, c.cell, c.centroid,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_reduce(list_transform(generate_series(1, 64),
                   i -> (q.embedding[i]::DOUBLE - c.centroid[i])
                      * (q.embedding[i]::DOUBLE - c.centroid[i])),
                   (x, y) -> x + y), c.cell) AS rn
        FROM qq q CROSS JOIN c2 c
      ) WHERE rn <= 2
    ),
    qres AS (
      SELECT p.query_id, p.cell, s.sub,
             list_transform(generate_series(1, 16),
               i -> q.embedding[s.sub*16+i]::DOUBLE
                  - p.centroid[s.sub*16+i]) AS sv
      FROM probed p JOIN qq q USING (query_id),
           (SELECT unnest(generate_series(0, 3)) AS sub) s
    ),
    lut AS (
      SELECT v.query_id, v.cell, v.sub, c.cell AS code,
             CAST(FLOOR(list_reduce(list_transform(generate_series(1, 16),
               i -> (v.sv[i] - c.centroid[i]) * (v.sv[i] - c.centroid[i])),
               (x, y) -> x + y) * 1e9) AS BIGINT) AS d_fx
      FROM qres v JOIN qc1 c ON c.sub = v.sub
    ),
    pscore AS (
      SELECT l.query_id, e.vec_id AS neighbor_id,
             CAST(SUM(d_fx) AS DOUBLE) / 1e9 AS adc_dist
      FROM qenc e
      JOIN lut l ON l.cell = e.coarse_cell AND l.sub = e.sub
                AND l.code = e.code
      WHERE e.vec_id <> l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rank
      FROM pscore
    ) WHERE rank <= 5
    """,
)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the composed FAISS-style index): learned coarse quantizer
    (2 Lloyd iterations), residual product quantization (m=4, k=8, one
    iteration), nprobe=2 L2 cell probe, residual-LUT ADC scoring. The
    oracle replays the ENTIRE pipeline — coarse fit, final assignment,
    residuals, PQ fit, encoding, probe, LUT, ranking — in SQL."""
    from delta_sharing_spark.operators.similarity import (
        ivf_pq_fit,
        ivf_pq_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    coarse, books, codes = ivf_pq_fit(emb, k_coarse=8, m=4, k=8,
                                      coarse_iters=2, pq_iters=1, dim=64)
    return ivf_pq_topk(emb.filter(F.col("vec_id") < 6), coarse, books,
                       codes, k=5, nprobe=2, m=4, dim=64)


@workload(
    "q_dedup_semantic",
    oracle=f"""
    WITH {_kmeans_ctes(8, 2)},
    a3 AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT v.vec_id, v.embedding, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce(list_transform(generate_series(1, 64),
                   i -> (v.embedding[i]::DOUBLE - c.centroid[i])
                      * (v.embedding[i]::DOUBLE - c.centroid[i])),
                   (x, y) -> x + y), c.cell) AS rn
        FROM embeddings v CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM a3 a JOIN a3 b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.42
    )
    SELECT a3.cell, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(a3.vec_id) AS BIGINT) AS sum_id
    FROM a3 LEFT JOIN dropped d ON a3.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
    GROUP BY a3.cell
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end to end: learned k-means clusters
    (2 Lloyd iterations, exact fixed-point updates), within-cluster cosine
    near-dup pairs, drop every row with a lower-id near-dup in its cluster.
    The ENTIRE pipeline — iterative fit, assignment, pair join, keep-one
    policy — is replayed by the SQL oracle and value-checked."""
    from delta_sharing_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
        semantic_dedup,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, iters=2, dim=64)
    assigned = kmeans_assign(emb, cents).localCheckpoint()
    kept = semantic_dedup(assigned, "cell", threshold=0.42)
    return kept.groupBy("cell").agg(
        F.count("*").alias("n_kept"),
        F.sum("vec_id").alias("sum_id"),
    )
