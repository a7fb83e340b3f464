"""Similarity search over embedding columns: brute-force top-k (the exact
baseline) and IVF-style partition-pruned search (the scale path).

Shapes at 100 TB:

- ``brute_force_topk``: broadcast the Q query vectors against the N
  candidates (one map-side pass computing Q*N similarities), then a single
  shuffle on query_id for the global top-k. Never materializes the full
  similarity matrix beyond the per-task stream.
- ``ivf_topk``: restrict the scan to candidates in the nprobe closest coarse
  cells (centroid assignment = the inverted file). Cell assignment is an
  equi-join on cell id — candidates outside probed cells are never read
  when the table is partitioned by cell, which is the point: partition
  pruning does the ANN work.
- ``near_dup_pairs``: exact threshold self-join; at scale the same call is
  fed LSH/IVF candidates instead of the raw cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from delta_sharing_spark.functions.vectors import cosine


def _topk_per_query(scored: DataFrame, k: int, score_col: str = "cos",
                    ascending: bool = False) -> DataFrame:
    """Exact two-phase top-k over (query_id, neighbor_id, <score>) rows.

    Phase 1 keeps the per-(query, input-partition) top-k — a window
    partitioned by (query_id, spark_partition_id()), so each reducer sees
    ~N/P candidate rows instead of a whole query's N (the single-reducer-
    per-query funnel the one-window form has: 8 queries over a 10⁹-row
    corpus = 8 tasks × 10⁹ rows each). Phase 2 merges the ≤ k·P survivors
    per query — tiny. Exact: every global top-k row is its partition's
    top-k; deterministic: final rank orders by (score, neighbor_id asc)
    regardless of partitioning."""
    score = F.asc(score_col) if ascending else F.desc(score_col)
    part_w = Window.partitionBy("query_id", "_pid").orderBy(
        score, F.asc("neighbor_id")
    )
    merge_w = Window.partitionBy("query_id").orderBy(
        score, F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_pr", F.row_number().over(part_w))
        .filter(F.col("_pr") <= k)
        .drop("_pr", "_pid")
        .withColumn("rank", F.row_number().over(merge_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score_col)
    )


def brute_force_topk(queries: DataFrame, candidates: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     k: int = 5) -> DataFrame:
    """Exact cosine top-k: for each query row, the k most similar candidate
    rows (self-matches excluded), ties broken by candidate id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine("q_vec", "c_vec"))
    )
    return _topk_per_query(scored, k)


def hard_negatives(queries: DataFrame, candidates: DataFrame,
                   label_col: str = "label", id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 5) -> DataFrame:
    """Contrastive hard-negative mining: for each query row, the k most
    cosine-similar candidates carrying a DIFFERENT label — the negatives a
    contrastive/embedding trainer most needs next to each anchor (highest
    loss contribution). Same shape as brute_force_topk — broadcast
    queries, one candidate pass, exact two-phase top-k — with the
    label anti-predicate folded into the join condition so same-label
    candidates never reach scoring; the IVF cell-scoped variant drops in
    the same way as for positives at the 100 TB regime."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("c_label"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_label") != F.col("c_label"))
        .withColumn("cos", cosine("q_vec", "c_vec"))
    )
    return _topk_per_query(scored, k)


def ivf_centroids(candidates: DataFrame, cell_col: str,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int = 64) -> DataFrame:
    """Per-cell centroids, deterministic AND scale-safe.

    posexplode to (cell, dim, x), then one shuffled aggregation per
    (cell, dim) summing ``FLOOR(x * 1e12)`` as DECIMAL(38,0): integer sums
    are exact and order-independent (reproducible across engines and
    partial-agg orders, unlike float sums), the quantization (1e-12) is far
    below any coarse-quantizer signal, and no aggregation buffer ever holds
    more than a counter — a cell of millions of vectors costs millions of
    tiny rows, not one collect_list row (the 100 TB OOM shape). The final
    64-element array rebuild groups 64 scalars per cell — bounded."""
    ex = candidates.select(
        F.col(cell_col), F.posexplode(vec_col).alias("dim", "x")
    )
    sums = ex.groupBy(cell_col, "dim").agg(
        F.expr(
            "SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e12) AS DECIMAL(38,0)))"
        ).alias("s_fx"),
        F.count("*").alias("n"),
    )
    per_dim = sums.select(
        cell_col, "dim",
        F.expr("CAST(s_fx AS DOUBLE) / 1e12 / n").alias("value"), "n",
    )
    return per_dim.groupBy(cell_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, value))),"
            " s -> s.value)"
        ).alias("centroid"),
        F.max("n").alias("n"),
    )


def kmeans_assign(vectors: DataFrame, cents: DataFrame,
                  id_col: str = "vec_id", vec_col: str = "embedding"
                  ) -> DataFrame:
    """Assign each vector to its nearest centroid by squared L2 (per-row
    left-to-right double fold — deterministic, replayable in SQL; ties break
    to the lowest cell id). One broadcast of the k centroids, no shuffle."""
    d = vectors.crossJoin(F.broadcast(cents.select("cell", "centroid")))
    dist = F.expr(
        f"aggregate(zip_with({vec_col}, centroid,"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy(id_col).orderBy("dist", "cell")
    return (
        d.withColumn("dist", dist)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "centroid", "dist")
    )


def _check_vector_lengths(op: str, flat, rows: int, dim: int) -> None:
    """Raise unless a batch's flattened embeddings hold exactly ``rows``
    vectors of ``dim`` values: a mis-sized vector whose flat length still
    divides by ``dim`` would otherwise reshape into misaligned rows and
    silently corrupt every partial."""
    if flat.size != rows * dim:
        raise ValueError(
            f"{op}: embedding vectors must all have length {dim}; a batch "
            f"of {rows} rows holds {flat.size} values")


def _fixed_point(op: str, X):
    """``FLOOR(X * 1e12)`` as int64 — the exact integer update terms of
    the fused Lloyd rounds. Raises unless every term fits int64 (|x| below
    about 9.2e6, finite): numpy's cast would wrap silently where the SQL
    DECIMAL(38,0) sum it mirrors does not."""
    import numpy as np

    scaled = np.floor(X * 1e12)
    if not (np.abs(scaled) < 2.0 ** 63).all():
        raise ValueError(
            f"{op}: embedding values must be finite and below "
            f"{2.0 ** 63 / 1e12:.4g} in magnitude for the exact fixed-point "
            "update (FLOOR(x * 1e12) as int64)")
    return scaled.astype(np.int64)


def _lloyd_partials_fn(cells: list, cents: list, dim: int):
    """mapInArrow factory: one corpus pass computing, per task, the exact
    integer update partials of a Lloyd iteration against the broadcast
    centroid digest. Emits (cell, dim, s_fx, n) — k*dim rows per task.

    Bit-exactness contract (what makes the fused iteration value-identical
    to the kmeans_assign + ivf_centroids plan it replaces):
    - distances accumulate dim-by-dim with vectorized float64 ops in the
      SAME order as the left-to-right SQL fold (acc + (x-y)*(x-y) per
      dimension) — IEEE doubles are deterministic, so ties fall exactly
      where the fold put them;
    - assignment = argmin over cells sorted ascending — numpy's
      first-minimum matches the (dist, cell) row_number tie-break;
    - update sums are FLOOR(x*1e12) integers accumulated in Python ints —
      exact and order-independent, like the DECIMAL(38,0) SUM.
    """
    import numpy as np

    C = np.array(cents, dtype=np.float64)          # (k, dim), cell-sorted

    def fn(batches):
        import pyarrow as pa

        S = {}                                     # cell -> int sums [dim]
        N = {}                                     # cell -> row count
        for batch in batches:
            col = batch.column(0)
            if col.null_count:
                raise ValueError(
                    "kmeans_fit: null embedding rows are not supported "
                    "(the dense-vector contract)")
            flat = col.flatten().to_numpy(zero_copy_only=False)
            _check_vector_lengths("kmeans_fit", flat, len(col), dim)
            X = flat.astype(np.float64).reshape(-1, dim)
            acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
            for j in range(dim):
                d = X[:, j:j + 1] - C[None, :, j]
                acc += d * d
            amin = acc.argmin(axis=1)
            X_int = _fixed_point("kmeans_fit", X)
            for ci in range(C.shape[0]):
                mask = amin == ci
                cnt = int(mask.sum())
                if not cnt:
                    continue
                cell = cells[ci]
                part = X_int[mask].sum(axis=0)     # batch-bounded: exact
                if cell in S:
                    prev = S[cell]
                    S[cell] = [p + int(v) for p, v in zip(prev, part)]
                    N[cell] += cnt
                else:
                    S[cell] = [int(v) for v in part]
                    N[cell] = cnt
        out_cell, out_dim, out_s, out_n = [], [], [], []
        for cell, sums in S.items():
            for j, s in enumerate(sums):
                out_cell.append(cell)
                out_dim.append(j)
                out_s.append(s)
                out_n.append(N[cell])
        import decimal

        yield pa.record_batch(
            [pa.array(out_cell, pa.int32()),
             pa.array(out_dim, pa.int32()),
             pa.array([decimal.Decimal(s) for s in out_s],
                      pa.decimal128(38, 0)),
             pa.array(out_n, pa.int64())],
            names=["cell", "dim", "s_fx", "n"])

    return fn


def kmeans_fit(candidates: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = 64) -> DataFrame:
    """Lloyd's k-means — the learned-centroid coarse quantizer for IVF.
    Deterministic end to end: init = the k vectors with the smallest ids
    (cast to double), assignment = per-row squared-L2 with (dist, cell)
    tie-break, update = the exact fixed-point per-(cell, dim) integer
    sums of :func:`ivf_centroids`. Returns (cell, centroid, n); cells
    that lose all members drop out (standard Lloyd behavior, replayed
    identically by the SQL oracle).

    r13 fused iteration: the centroid set is a k-row DIGEST, so each
    Lloyd round runs as ONE corpus pass — a mapInArrow computing
    vectorized assignments + per-task integer update partials against
    the broadcast digest (`_lloyd_partials_fn`) — followed by a tiny
    (k*dim rows/task) aggregation collected to the driver, which rebuilds
    the centroids exactly as the SQL plan did (CAST(decimal AS
    DOUBLE)/1e12/n). The previous all-DataFrame iteration planned a
    crossJoin(k) + row_number window (an Exchange + sort of k*N rows) +
    posexplode + two more Exchanges PER ROUND; the fused round shuffles
    k*dim*tasks digest rows instead of ever shuffling the corpus, and
    values are bit-identical (argmin/tie-break/update order replicated —
    see `_lloyd_partials_fn`'s contract and
    tests/test_opt_r13.py::TestFusedLloyd)."""
    spark = candidates.sparkSession
    seed_rows = sorted(
        candidates.orderBy(id_col).limit(k)
        .select(id_col, vec_col).collect(),
        key=lambda r: r[0])
    cells = list(range(len(seed_rows)))
    cents = [[float(x) for x in r[1]] for r in seed_rows]
    ns = [1] * len(seed_rows)
    if not cents:
        iters = 0  # empty input: no cells, nothing to iterate
    for _ in range(iters):
        parts = candidates.select(vec_col).mapInArrow(
            _lloyd_partials_fn(cells, cents, dim),
            schema="cell int, dim int, s_fx decimal(38,0), n bigint")
        rows = (parts.groupBy("cell", "dim")
                .agg(F.expr("SUM(s_fx)").alias("s_fx"),
                     F.sum("n").alias("n"))
                .collect())
        by_cell: dict = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = \
                (int(r["s_fx"]), int(r["n"]))
        cells, cents, ns = [], [], []
        for cell in sorted(by_cell):
            dims = by_cell[cell]
            # CAST(s_fx AS DOUBLE) / 1e12 / n, in the plan's exact op order
            cents.append([float(dims[j][0]) / 1e12 / dims[j][1]
                          for j in range(dim)])
            cells.append(cell)
            ns.append(dims[0][1])
    return spark.createDataFrame(
        [(c, v, n) for c, v, n in zip(cells, cents, ns)],
        "cell int, centroid array<double>, n long")


def ivf_topk(queries: DataFrame, candidates: DataFrame, cell_col: str,
             id_col: str = "vec_id", vec_col: str = "embedding",
             k: int = 5, nprobe: int = 2, dim: int = 64) -> DataFrame:
    """IVF search: score query x centroid (tiny), keep ``nprobe`` cells per
    query, then brute-force only within probed cells (equi-join on cell).

    With the table partitioned/bucketed by cell, the probe join prunes the
    scan to nprobe/num_cells of the data — that ratio is the speedup and it
    is independent of total data size.
    """
    cents = ivf_centroids(candidates, cell_col, id_col, vec_col, dim)
    return ivf_search(queries, candidates, cents, cell_col,
                      id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe)


def ivf_search(queries: DataFrame, candidates: DataFrame, cents: DataFrame,
               cell_col: str, id_col: str = "vec_id",
               vec_col: str = "embedding", k: int = 5, nprobe: int = 2
               ) -> DataFrame:
    """IVF search against precomputed centroids (label-derived via
    :func:`ivf_centroids` or learned via :func:`kmeans_fit`): probe the
    ``nprobe`` closest cells per query, brute-force only within them."""
    if cell_col not in cents.columns and "cell" in cents.columns:
        cents = cents.withColumnRenamed("cell", cell_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("cell_cos"), F.asc(cell_col)
    )
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("cell_cos", cosine("q_vec", "centroid"))
        .withColumn("cell_rank", F.row_number().over(probe_w))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "q_vec", cell_col)
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(cell_col),
    )
    scored = (
        c.join(F.broadcast(probed), on=cell_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine("q_vec", "c_vec"))
    )
    return _topk_per_query(scored, k)


def near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) above a threshold.

    Norms are computed ONCE per row before the pair join (the naive
    ``cosine(va, vb)`` per pair re-folds both norms for every pair — 3x the
    interpreted higher-order-function work). The per-pair fold is exactly
    ``dot/(na*nb)`` with the same operation order as the naive form, so
    results stay bit-identical.
    """
    from delta_sharing_spark.functions.vectors import dot, norm

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")) \
        .withColumn("na", norm("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")) \
        .withColumn("nb", norm("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def near_dup_pairs_cells(df: DataFrame, cell_col: str,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.9) -> DataFrame:
    """Cell-scoped near-dup: candidate pairs only WITHIN a cell (an IVF /
    k-means assignment, an LSH bucket, a language, a domain...). The pair
    join becomes an EQUI-join on the cell key — one hash shuffle, each
    cell's pairs computed where its rows land — instead of the all-pairs
    cross join. This is the standard cluster-then-verify shape for
    embedding dedup at corpus scale: recall is bounded by the cell
    assignment (true near-dups in different cells are missed), which is
    why the cell column should come from the same embedding space
    (``kmeans_assign`` / ``rp_lsh_buckets``)."""
    from delta_sharing_spark.functions.vectors import dot, norm

    a = df.select(F.col(cell_col).alias("__cell"),
                  F.col(id_col).alias("id_a"),
                  F.col(vec_col).alias("va")).withColumn("na", norm("va"))
    b = df.select(F.col(cell_col).alias("__cell"),
                  F.col(id_col).alias("id_b"),
                  F.col(vec_col).alias("vb")).withColumn("nb", norm("vb"))
    return (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select(F.col("__cell").alias(cell_col), "id_a", "id_b", "cos")
    )


def near_dup_pairs_blocked(df: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.9, block_size: int = 1024,
                           round_to: int = 9) -> DataFrame:
    """Scale-path near-dup: block-nested-loop with vectorized numpy GEMM.

    Rows are grouped into blocks of ``block_size``; each block PAIR becomes
    one task that computes a (block x block) similarity matrix with a single
    float64 matrix multiply (Arrow transfer, no per-pair Python). With B
    blocks the shuffle replicates each block B times — the standard
    distributed all-pairs shape; at 100 TB feed this LSH/IVF candidates
    instead of all block pairs.

    Similarities are rounded to ``round_to`` decimals (GEMM accumulation
    order differs from a sequential fold in the last ~1-2 ulps; rounding
    makes results reproducible across BLAS implementations).

    Each block is packed ONCE into compact binary matrices (row-normalized
    float64 + int64 ids) BEFORE the B-fold replicating join, so the
    per-block-pair task is frombuffer + GEMM — zero per-element Python.
    The pre-r11 form rebuilt numpy arrays from arrow structs per PARTNER
    block: an O(N^2 * d) interpreted conversion that dominated the GEMM
    and drove the sf0.1->sf1 decade ratio super-linear (11.27x).
    """
    import pandas as pd

    bid = F.floor(F.col(id_col) / block_size)
    rows = df.groupBy(bid.alias("bid")).agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        ).alias("rows")
    )

    def pack(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for _i, row in pdf.iterrows():
                ia = np.array([r["id"] for r in row["rows"]],
                              dtype=np.int64)
                va = np.array([list(r["v"]) for r in row["rows"]],
                              dtype=np.float64)
                va /= np.linalg.norm(va, axis=1, keepdims=True)
                out.append((int(row["bid"]), va.shape[1],
                            ia.tobytes(), va.tobytes()))
            yield pd.DataFrame(out, columns=["bid", "dim", "ids", "mat"])

    blocks = rows.mapInPandas(
        pack, schema="bid long, dim int, ids binary, mat binary") \
        .localCheckpoint(eager=True)
    # materialized ONCE (minhash_lsh_candidates rationale): the replicating
    # self-join consumes the packed blocks on BOTH sides, and exchange
    # reuse cannot fire across the broadcast/stream pair, so without this
    # the whole collect_list + pack pipeline runs once per side. The packed
    # blocks are exactly the bytes the join replicates anyway.
    pairs = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.bid") <= F.col("b.bid"))
        .select(
            F.col("a.dim").alias("dim"),
            F.col("a.ids").alias("ids_a"), F.col("a.mat").alias("mat_a"),
            F.col("b.ids").alias("ids_b"), F.col("b.mat").alias("mat_b"),
        )
    )

    def compute(batches):
        import numpy as np

        for pdf in batches:
            ids_a_out, ids_b_out, cos_out = [], [], []
            for _i, row in pdf.iterrows():
                d = int(row["dim"])
                ia = np.frombuffer(row["ids_a"], dtype=np.int64)
                va = np.frombuffer(row["mat_a"],
                                   dtype=np.float64).reshape(-1, d)
                ib = np.frombuffer(row["ids_b"], dtype=np.int64)
                vb = np.frombuffer(row["mat_b"],
                                   dtype=np.float64).reshape(-1, d)
                sims = np.round(va @ vb.T, round_to)
                keep = (sims >= threshold) & (ia[:, None] < ib[None, :])
                xs, ys = np.nonzero(keep)
                ids_a_out.append(ia[xs])
                ids_b_out.append(ib[ys])
                cos_out.append(sims[xs, ys])
            if ids_a_out:
                yield pd.DataFrame({
                    "id_a": np.concatenate(ids_a_out),
                    "id_b": np.concatenate(ids_b_out),
                    "cos": np.concatenate(cos_out),
                })

    return pairs.mapInPandas(compute, schema="id_a long, id_b long, cos double")


def knn_label_propagation(unlabeled: DataFrame, labeled: DataFrame,
                          label_col: str, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          k: int = 5) -> DataFrame:
    """Propagate labels to unlabeled rows by majority vote of their k
    nearest labeled neighbors (cosine) — the standard semi-supervised
    labeling pass for training-data curation (weak labels from a labeled
    seed set). Ties break by (count desc, label asc) — deterministic.

    Scale shape: the same one broadcast + one top-k shuffle as
    ``brute_force_topk``; the vote is one more small aggregation on
    (query, label). At corpus scale, run per IVF cell (restrict
    ``labeled`` to probed cells) — the operator composes unchanged.
    Returns (id, predicted_label, votes, top_cos)."""
    nn = brute_force_topk(unlabeled, labeled,
                          id_col=id_col, vec_col=vec_col, k=k)
    lbl = labeled.select(F.col(id_col).alias("neighbor_id"),
                         F.col(label_col).alias("__label"))
    votes = (
        nn.join(F.broadcast(lbl), "neighbor_id")
        .groupBy("query_id", "__label")
        .agg(F.count("*").alias("votes"), F.max("cos").alias("top_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("__label"))
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(F.col("query_id").alias(id_col),
                F.col("__label").alias("predicted_label"),
                "votes", "top_cos")
    )


# ---------------------------------------------------- product quantization
#
# PQ (Jégou/Douze/Schmid 2011, public): split each vector into m
# subvectors, k-means each subspace into k codewords, store each vector as
# m small codes. Search is ADC (asymmetric distance computation): per
# query, ONE (m x k) lookup table of query-subvector-to-codeword
# distances; a candidate's approximate distance is m table lookups summed.
# The 100 TB shape: the corpus holds m bytes-ish per vector instead of
# dim floats, and the scoring join is an EQUI-join on (sub, code) against
# a broadcast LUT + one (query, id) aggregation — no per-pair vector math.


def _subvectors(df: DataFrame, id_col: str, vec_col: str,
                m: int, dim: int) -> DataFrame:
    """(id, sub, sv): the m double-cast subvectors of each embedding."""
    sub_len = dim // m
    return df.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(s).alias("sub"),
                F.expr(
                    f"transform(slice({vec_col}, {s * sub_len + 1},"
                    f" {sub_len}), x -> CAST(x AS DOUBLE))"
                ).alias("sv"),
            ) for s in range(m)
        ])).alias("__s"),
    ).select(id_col, "__s.sub", "__s.sv")


def _pq_assign(subs: DataFrame, books: DataFrame, id_col: str) -> DataFrame:
    """Nearest codeword per (vector, subspace): broadcast the m*k codebook,
    same deterministic left-to-right double fold + (dist, cell) tie-break
    as kmeans_assign."""
    d = subs.join(F.broadcast(books.select("sub", "cell", "centroid")),
                  "sub")
    dist = F.expr(
        "aggregate(zip_with(sv, centroid,"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy(id_col, "sub").orderBy("dist", "cell")
    return (
        d.withColumn("dist", dist)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "sub", F.col("cell").alias("code"))
    )


def _pq_partials_fn(books: dict, m: int, sub_len: int):
    """mapInArrow factory for the fused PQ Lloyd round: one corpus pass
    emits, per task, the exact integer update partials for ALL m
    subspaces — (sub, cell, i, s_fx, n) rows. Same bit-exactness
    contract as `_lloyd_partials_fn` (dim-ordered float64 accumulation ==
    the `_pq_assign` fold; argmin over cell-ascending == the (dist, cell)
    tie-break; FLOOR(x*1e12) Python-int sums == the DECIMAL(38,0) SUM)."""
    import numpy as np

    Cs = {s: np.array(cents, dtype=np.float64)
          for s, (_cells, cents) in books.items()}

    def fn(batches):
        import decimal

        import pyarrow as pa

        S: dict = {}
        N: dict = {}
        for batch in batches:
            col = batch.column(0)
            if col.null_count:
                raise ValueError(
                    "pq_fit: null embedding rows are not supported "
                    "(the dense-vector contract)")
            flat = col.flatten().to_numpy(zero_copy_only=False)
            _check_vector_lengths("pq_fit", flat, len(col), m * sub_len)
            X = flat.astype(np.float64).reshape(-1, m * sub_len)
            for s in range(m):
                Xs = X[:, s * sub_len:(s + 1) * sub_len]
                C = Cs[s]
                acc = np.zeros((Xs.shape[0], C.shape[0]), dtype=np.float64)
                for j in range(sub_len):
                    d = Xs[:, j:j + 1] - C[None, :, j]
                    acc += d * d
                amin = acc.argmin(axis=1)
                Xs_int = _fixed_point("pq_fit", Xs)
                cells_s = books[s][0]
                for ci in range(C.shape[0]):
                    mask = amin == ci
                    cnt = int(mask.sum())
                    if not cnt:
                        continue
                    key = (s, cells_s[ci])
                    part = Xs_int[mask].sum(axis=0)
                    if key in S:
                        S[key] = [p + int(v) for p, v in zip(S[key], part)]
                        N[key] += cnt
                    else:
                        S[key] = [int(v) for v in part]
                        N[key] = cnt
        out = {"sub": [], "cell": [], "i": [], "s_fx": [], "n": []}
        for (s, cell), sums in S.items():
            for i, v in enumerate(sums):
                out["sub"].append(s)
                out["cell"].append(cell)
                out["i"].append(i)
                out["s_fx"].append(decimal.Decimal(v))
                out["n"].append(N[(s, cell)])
        yield pa.record_batch(
            [pa.array(out["sub"], pa.int32()),
             pa.array(out["cell"], pa.int32()),
             pa.array(out["i"], pa.int32()),
             pa.array(out["s_fx"], pa.decimal128(38, 0)),
             pa.array(out["n"], pa.int64())],
            names=["sub", "cell", "i", "s_fx", "n"])

    return fn


def pq_fit(candidates: DataFrame, id_col: str = "vec_id",
           vec_col: str = "embedding", m: int = 4, k: int = 8,
           iters: int = 1, dim: int = 64) -> DataFrame:
    """Per-subspace codebooks (sub, cell, centroid, n) via Lloyd
    iterations — the same deterministic, SQL-replayable recipe as
    :func:`kmeans_fit`, for all m subspaces in one pass.

    r13 fused iteration (same rationale as ``kmeans_fit``): the m*k
    codebook is a digest, so each round is ONE corpus pass (mapInArrow
    partials for all subspaces at once) + a tiny aggregation collected
    and rebuilt driver-side — replacing the per-round broadcast join +
    (id, sub) row_number window + re-join + posexplode + two-Exchange
    aggregate. Values bit-identical (`_pq_partials_fn` contract;
    tests/test_opt_r13.py::TestFusedLloyd)."""
    spark = candidates.sparkSession
    sub_len = dim // m
    seed_rows = sorted(
        candidates.orderBy(id_col).limit(k)
        .select(id_col, vec_col).collect(),
        key=lambda r: r[0])
    books = {
        s: (list(range(len(seed_rows))),
            [[float(x) for x in r[1][s * sub_len:(s + 1) * sub_len]]
             for r in seed_rows])
        for s in range(m)
    }
    ns = {s: [1] * len(seed_rows) for s in range(m)}
    if not seed_rows:
        iters = 0
    for _ in range(iters):
        parts = candidates.select(vec_col).mapInArrow(
            _pq_partials_fn(books, m, sub_len),
            schema="sub int, cell int, i int, s_fx decimal(38,0), n bigint")
        rows = (parts.groupBy("sub", "cell", "i")
                .agg(F.expr("SUM(s_fx)").alias("s_fx"),
                     F.sum("n").alias("n"))
                .collect())
        agg: dict = {}
        for r in rows:
            agg.setdefault((int(r["sub"]), int(r["cell"])), {})[
                int(r["i"])] = (int(r["s_fx"]), int(r["n"]))
        books = {s: ([], []) for s in range(m)}
        ns = {s: [] for s in range(m)}
        for (s, cell) in sorted(agg):
            dims = agg[(s, cell)]
            books[s][0].append(cell)
            # CAST(s_fx AS DOUBLE) / 1e12 / n — the plan's exact op order
            books[s][1].append([float(dims[i][0]) / 1e12 / dims[i][1]
                                for i in range(sub_len)])
            ns[s].append(dims[0][1])
    return spark.createDataFrame(
        [(s, cell, cent, n)
         for s in sorted(books)
         for cell, cent, n in zip(books[s][0], books[s][1], ns[s])],
        "sub int, cell int, centroid array<double>, n long")


def pq_encode(vectors: DataFrame, books: DataFrame,
              id_col: str = "vec_id", vec_col: str = "embedding",
              m: int = 4, dim: int = 64) -> DataFrame:
    """(id, sub, code) rows — the PQ-compressed corpus representation
    (persist this partitioned by sub, or pivot to an array column)."""
    subs = _subvectors(vectors, id_col, vec_col, m, dim)
    return _pq_assign(subs, books, id_col)


def pq_adc_topk(queries: DataFrame, codes: DataFrame, books: DataFrame,
                id_col: str = "vec_id", vec_col: str = "embedding",
                k: int = 5, m: int = 4, dim: int = 64) -> DataFrame:
    """ADC top-k: per query, an (m x k) LUT of squared L2 distances from
    each query subvector to each codeword; candidate distance = sum of m
    LUT lookups via an equi-join on (sub, code) + one (query, id)
    aggregation. Returns (query_id, neighbor_id, rank, adc_dist) —
    approximate by construction (quantization error), which is the PQ
    trade; re-rank the top candidates with exact vectors when recall
    matters."""
    q_subs = _subvectors(queries, id_col, vec_col, m, dim) \
        .withColumnRenamed(id_col, "query_id")
    lut_d = F.expr(
        "aggregate(zip_with(sv, centroid,"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    # LUT entries quantized to integer nano-units: the m-way sum becomes
    # exact and order-independent (a float sum's result depends on partial
    # aggregation order — unreproducible across engines/runs)
    lut = (
        q_subs.join(F.broadcast(books.select("sub", "cell", "centroid")),
                    "sub")
        .select("query_id", "sub", F.col("cell").alias("code"),
                F.floor(lut_d * 1e9).cast("long").alias("d_fx"))
    )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("d_fx").cast("double") / F.lit(1e9)).alias("adc_dist"))
    )
    return _topk_per_query(scored, k, score_col="adc_dist", ascending=True)


# ------------------------------------------------------------------ IVF-PQ
#
# The composed index (Jégou et al. 2011 §IV): a coarse k-means quantizer
# routes each vector to a cell; PQ encodes the RESIDUAL (v - coarse
# centroid), which has far less variance than v itself, so the same
# codebook budget quantizes much finer. Search probes nprobe cells and
# runs ADC over the residual LUT of each probed cell. At 100 TB:
# partition/bucket the encoded corpus by cell — the probe join prunes to
# nprobe/k_coarse of the data, and each candidate costs m integer lookups.


def _residuals(assigned: DataFrame, coarse: DataFrame, id_col: str,
               vec_col: str) -> DataFrame:
    """(id, cell, __resid): per-vector residual against its coarse
    centroid (double), one broadcast join."""
    return assigned.join(
        F.broadcast(coarse.select("cell", "centroid")), "cell"
    ).select(
        F.col(id_col), F.col("cell"),
        F.expr(f"zip_with({vec_col}, centroid,"
               " (x, y) -> CAST(x AS DOUBLE) - y)").alias("__resid"),
    )


def ivf_pq_fit(candidates: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", k_coarse: int = 8,
               m: int = 4, k: int = 8, coarse_iters: int = 2,
               pq_iters: int = 1, dim: int = 64):
    """Fit the composed index: returns ``(coarse, books, codes)`` —
    coarse centroids (cell, centroid, n), per-subspace residual codebooks
    (sub, cell, centroid, n), and the encoded corpus
    (id, cell, sub, code). Every stage reuses the deterministic,
    SQL-replayable recipes (kmeans_fit / pq_fit)."""
    # fit artifacts are MODELS: materialize the tiny results (k_coarse
    # rows / m*k rows) so downstream consumers (assignment, residuals,
    # encoding, every search) don't re-execute the whole iterative fit
    # lineage per use — "fit" semantics, not lazy-plan semantics
    coarse = kmeans_fit(candidates, k=k_coarse, iters=coarse_iters,
                        id_col=id_col, vec_col=vec_col, dim=dim) \
        .localCheckpoint(eager=True)
    assigned = kmeans_assign(candidates, coarse, id_col, vec_col)
    resid = _residuals(assigned, coarse, id_col, vec_col)
    books = pq_fit(resid, id_col=id_col, vec_col="__resid",
                   m=m, k=k, iters=pq_iters, dim=dim) \
        .localCheckpoint(eager=True)
    codes = pq_encode(resid, books, id_col=id_col, vec_col="__resid",
                      m=m, dim=dim).join(
        resid.select(id_col, "cell"), id_col)
    return coarse, books, codes


def ivf_pq_topk(queries: DataFrame, coarse: DataFrame, books: DataFrame,
                codes: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", k: int = 5, nprobe: int = 2,
                m: int = 4, dim: int = 64) -> DataFrame:
    """IVF-PQ search: probe the ``nprobe`` L2-closest coarse cells per
    query, build the residual ADC LUT per (query, probed cell), and score
    candidates of those cells via the (cell, sub, code) equi-join + one
    (query, id) sum — integer-quantized LUT entries keep the sum exact
    and order-independent. Returns (query_id, neighbor_id, rank,
    adc_dist)."""
    sub_len = dim // m
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
    coarse_dist = F.expr(
        "aggregate(zip_with(q_vec, centroid,"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    probe_w = Window.partitionBy("query_id").orderBy("cdist", "cell")
    probed = (
        q.crossJoin(F.broadcast(coarse.select("cell", "centroid")))
        .withColumn("cdist", coarse_dist)
        .withColumn("__rn", F.row_number().over(probe_w))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "cell",
                F.expr("zip_with(q_vec, centroid,"
                       " (x, y) -> CAST(x AS DOUBLE) - y)").alias("__qr"))
    )
    q_subs = probed.select(
        "query_id", "cell",
        F.explode(F.array(*[
            F.struct(
                F.lit(s).alias("sub"),
                F.expr(f"slice(__qr, {s * sub_len + 1}, {sub_len})")
                .alias("sv"),
            ) for s in range(m)
        ])).alias("__s"),
    ).select("query_id", "cell", "__s.sub", "__s.sv")
    lut_d = F.expr(
        "aggregate(zip_with(sv, centroid,"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    lut = (
        q_subs.join(F.broadcast(
            books.select("sub", F.col("cell").alias("code"), "centroid")),
            "sub")
        .select("query_id", "cell", "sub", "code",
                F.floor(lut_d * 1e9).cast("long").alias("d_fx"))
    )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["cell", "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("d_fx").cast("double") / F.lit(1e9)).alias("adc_dist"))
    )
    return _topk_per_query(scored, k, score_col="adc_dist", ascending=True)


def semantic_dedup(df: DataFrame, cell_col: str, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   threshold: float = 0.9) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space (``cell_col`` = a k-means
    assignment or any bucket key), find within-cluster cosine near-dup
    pairs, and DROP every row that has a lower-id near-duplicate in its
    cluster — one deterministic survivor per duplicate chain, the paper's
    practical keep-one policy.

    Scale shape: the pair join is the cell equi-join of
    :func:`near_dup_pairs_cells` (one hash shuffle, no cross join); the
    drop is a distinct + broadcast-able left anti join. Everything JVM-side,
    no Python in the hot path. Recall is bounded by the clustering — true
    near-dups split across cells survive, exactly like the paper (dedup
    within k-means clusters only)."""
    pairs = near_dup_pairs_cells(df, cell_col, id_col=id_col,
                                 vec_col=vec_col, threshold=threshold)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")
