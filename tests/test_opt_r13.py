"""Round-13 optimization regression tests.

Pins the three operator-internal changes of the round:
- the skew-hybrid duplicated-key routing in dedup (_dup_key_rows):
  value-equivalence of the hot (aggregate + broadcast digest) route vs the
  window route vs brute force, and the plan-shape guarantees (no Union at
  bench scales where the guard is off; Union + broadcast attach when hot
  keys are detected);
- the driver-side BPE fit: identical merges to the distributed
  argmax/replace loop it replaced, including tie-breaks;
- scale-adaptive state partitions for stateful drains: the sizing formula.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import delta_sharing_spark.operators.dedup as dedup_mod


def _brute_spans(texts: dict[int, str], k: int) -> dict:
    """Brute-force duplicated-gram islands accounting (same reference as
    tests/test_opt_r12.py::TestDupGramWindowPath)."""
    grams: dict[str, set[int]] = {}
    for d, t in texts.items():
        for i in range(len(t) - k + 1):
            grams.setdefault(t[i:i + k], set()).add(d)
    want = {}
    for d, t in texts.items():
        hits = sorted(i for i in range(len(t) - k + 1)
                      if len(grams.get(t[i:i + k], set())) >= 2)
        islands, island = [], None
        for i in hits:
            if island and i <= island[1]:
                island = (island[0], i + k)
            else:
                if island:
                    islands.append(island)
                island = (i, i + k)
        if island:
            islands.append(island)
        if islands:
            want[d] = (len(islands), sum(e - s for s, e in islands))
    return want


def _boilerplate_corpus() -> dict[int, str]:
    """One shared boilerplate string in most docs (the hot-gram scenario),
    plus pairwise duplicates and clean docs."""
    boiler = "SHARED-BOILERPLATE-HEADER-0123456789"
    texts = {}
    for d in range(24):
        texts[d] = f"{boiler} unique tail number {d} padding {d * 7}"
    texts[24] = "a clean document with nothing shared at all here"
    texts[25] = "pairdup pairdup common segment XYZXYZXYZ end one"
    texts[26] = "other text with the common segment XYZXYZXYZ too"
    return texts


class TestDupKeySkewHybrid:
    def _spans(self, spark, texts, k):
        from delta_sharing_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        return {r["doc_id"]: (r["n_dup_spans"], r["dup_chars"])
                for r in duplicate_spans(df, "doc_id", "text", k=k,
                                         min_docs=2, stride=1).collect()}

    def test_guard_off_plan_has_no_union(self, spark):
        """At bench scales the input-size guard keeps the pure window
        plan: no sampled detection job, no Union, no broadcast attach."""
        from delta_sharing_spark.operators.dedup import duplicate_spans

        texts = _boilerplate_corpus()
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        plan = duplicate_spans(df, "doc_id", "text", k=6, min_docs=2,
                               stride=1)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Union" not in plan

    def test_hot_route_matches_window_and_brute_force(self, spark,
                                                      monkeypatch):
        """With detection forced on (guard bypassed, every doc sampled,
        tiny volume threshold), the hybrid must produce exactly the pure
        window path's rows — the hot classification is perf-only."""
        texts = _boilerplate_corpus()
        k = 6
        want = _brute_spans(texts, k)
        pure = self._spans(spark, texts, k)
        monkeypatch.setattr(dedup_mod, "_input_bytes", lambda df: 1 << 40)
        monkeypatch.setattr(dedup_mod, "_HOT_SAMPLE_MOD", 1)
        monkeypatch.setattr(dedup_mod, "_HOT_MIN_TOTAL_ROWS", 8)
        hybrid = self._spans(spark, texts, k)
        assert hybrid == pure == want

    def test_hot_route_plan_shape(self, spark, monkeypatch):
        """Forced detection must actually split the plan: hot keys leave
        the window partition (Union of window side + broadcast-attach
        side), so a boilerplate gram can never pin one window task."""
        from delta_sharing_spark.operators.dedup import duplicate_spans

        monkeypatch.setattr(dedup_mod, "_input_bytes", lambda df: 1 << 40)
        monkeypatch.setattr(dedup_mod, "_HOT_SAMPLE_MOD", 1)
        monkeypatch.setattr(dedup_mod, "_HOT_MIN_TOTAL_ROWS", 8)
        texts = _boilerplate_corpus()
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        plan = duplicate_spans(df, "doc_id", "text", k=6, min_docs=2,
                               stride=1)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Union" in plan
        assert "BroadcastHashJoin" in plan  # digest attach + anti filter
        assert "Window" in plan             # cold keys keep the window

    def test_hot_detection_volume_threshold(self, spark, monkeypatch):
        """Only keys over the sampled volume threshold are routed hot: with
        a threshold above the boilerplate volume, no key qualifies and the
        plan stays pure-window even with the guard forced open."""
        from delta_sharing_spark.operators.dedup import duplicate_spans

        monkeypatch.setattr(dedup_mod, "_input_bytes", lambda df: 1 << 40)
        monkeypatch.setattr(dedup_mod, "_HOT_SAMPLE_MOD", 1)
        monkeypatch.setattr(dedup_mod, "_HOT_MIN_TOTAL_ROWS", 10_000_000)
        texts = _boilerplate_corpus()
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        plan = duplicate_spans(df, "doc_id", "text", k=6, min_docs=2,
                               stride=1)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Union" not in plan

    def test_exact_involved_set_hybrid(self, spark, monkeypatch):
        """duplicate_spans_exact's involved-set window gets the same
        hybrid: forced-hot output equals the unforced output."""
        from delta_sharing_spark.operators.dedup import duplicate_spans_exact

        texts = _boilerplate_corpus()
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")

        def run():
            return {r["doc_id"]: (r["n_dup_spans"], r["dup_chars"])
                    for r in duplicate_spans_exact(
                        df, "doc_id", "text", min_len=10).collect()}

        pure = run()
        monkeypatch.setattr(dedup_mod, "_input_bytes", lambda df: 1 << 40)
        monkeypatch.setattr(dedup_mod, "_HOT_SAMPLE_MOD", 1)
        monkeypatch.setattr(dedup_mod, "_HOT_MIN_TOTAL_ROWS", 4)
        assert run() == pure


class TestBpeDriverFit:
    def _old_distributed_fit(self, spark, df, text_col, num_merges):
        """The pre-r13 Spark merge loop, replicated verbatim (argmax via
        orderBy(desc(pair_n), l, r).limit(1), merge via chained replace)."""
        from delta_sharing_spark.operators.tokenizer import (
            _adjacent_pairs,
            word_symbol_freqs,
        )

        freqs = word_symbol_freqs(df, text_col).localCheckpoint(eager=True)
        merges = []
        for rank in range(num_merges):
            best = (_adjacent_pairs(freqs)
                    .orderBy(F.desc("pair_n"), "l", "r").limit(1).collect())
            if not best:
                break
            left, right = best[0]["l"], best[0]["r"]
            merges.append((rank, left, right, left + right,
                           int(best[0]["pair_n"])))
            freqs = freqs.select(
                F.trim(F.replace(
                    F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                    F.lit(f" {left} {right} "),
                    F.lit(f" {left}{right} "))).alias("sym"),
                "n").localCheckpoint(eager=True)
        return merges

    def test_matches_distributed_loop(self, spark):
        """Driver-side fit == the distributed loop it replaced, on a
        corpus with count ties (tie-break: count DESC then pair ASC) and
        repeated in-word pairs (non-overlapping replace semantics)."""
        from delta_sharing_spark.operators.tokenizer import bpe_train

        rows = [("aaa bbb aaa ccc",), ("ab ba ab",), ("low lower lowest",),
                ("zz zz zz yy",), ("mississippi",)] * 3
        df = spark.createDataFrame(rows, ["text"])
        want = self._old_distributed_fit(spark, df, "text", 5)
        got = [tuple(r) for r in bpe_train(df, "text", num_merges=5)
               .collect()]
        assert got == want

    def test_vocab_exhaustion_stops_early(self, spark):
        """Single-symbol vocabulary: zero merges, like the old loop's
        empty-argmax break."""
        from delta_sharing_spark.operators.tokenizer import bpe_train

        # "ab" + "bc": merges (a,b) then (b,c); the 3rd round finds no
        # adjacent pairs left -> early break, exactly 2 rows
        df = spark.createDataFrame([("ab bc",)], ["text"])
        assert bpe_train(df, "text", num_merges=3).count() == 2
        # single-symbol words -> no pairs at all -> zero merges
        df1 = spark.createDataFrame([("a a a",)], ["text"])
        assert bpe_train(df1, "text", num_merges=3).count() == 0


class TestFusedLloyd:
    """The fused (mapInArrow partials + driver rebuild) kmeans_fit /
    pq_fit must be bit-identical to the all-DataFrame Lloyd loops they
    replaced — including assignment tie-breaks and dropped empty cells."""

    def _vectors(self, spark, dim=8, n=40):
        rows = []
        for i in range(n):
            # includes exact ties: vectors 2i and 2i+1 coincide for i<5
            base = [(((i // 2 if i < 10 else i) * 7 + j * 3) % 13) / 4.0
                    for j in range(dim)]
            rows.append((i, base))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"), dim

    def _old_kmeans(self, candidates, k, iters, dim):
        from delta_sharing_spark.operators.similarity import (
            ivf_centroids,
            kmeans_assign,
        )

        init_w = Window.partitionBy(
            F.pmod(F.col("vec_id"), F.lit(1))).orderBy("vec_id")
        cents = (
            candidates.orderBy("vec_id").limit(k)
            .withColumn("cell", F.row_number().over(init_w) - 1)
            .select("cell",
                    F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                    .alias("centroid"),
                    F.lit(1).cast("long").alias("n")))
        for _ in range(iters):
            assigned = kmeans_assign(candidates, cents, "vec_id",
                                     "embedding")
            cents = ivf_centroids(assigned, "cell", "vec_id", "embedding",
                                  dim)
        return cents

    def test_kmeans_fit_matches_dataframe_loop(self, spark):
        from delta_sharing_spark.operators.similarity import kmeans_fit

        df, dim = self._vectors(spark)
        for iters in (1, 3):
            old = {r["cell"]: (r["centroid"], r["n"]) for r in
                   self._old_kmeans(df, 4, iters, dim).collect()}
            new = {r["cell"]: (r["centroid"], r["n"]) for r in
                   kmeans_fit(df, k=4, iters=iters, dim=dim).collect()}
            assert new == old

    def test_pq_fit_matches_dataframe_loop(self, spark):
        from delta_sharing_spark.operators.similarity import (
            _pq_assign,
            _subvectors,
            pq_fit,
        )

        df, dim = self._vectors(spark)
        m, k = 2, 4
        sub_len = dim // m
        subs = _subvectors(df, "vec_id", "embedding", m, dim)
        init_w = Window.partitionBy("sub").orderBy("vec_id")
        seed_ids = df.orderBy("vec_id").limit(k).select("vec_id")
        books = (subs.join(F.broadcast(seed_ids), "vec_id")
                 .withColumn("cell", F.row_number().over(init_w) - 1)
                 .select("sub", "cell", F.col("sv").alias("centroid"),
                         F.lit(1).cast("long").alias("n")))
        for _ in range(2):
            assigned = _pq_assign(subs, books, "vec_id")
            ex = subs.join(assigned, ["vec_id", "sub"]) \
                .select("sub", F.col("code").alias("cell"),
                        F.posexplode("sv").alias("i", "x"))
            sums = ex.groupBy("sub", "cell", "i").agg(
                F.expr("SUM(CAST(FLOOR(x * 1e12) AS DECIMAL(38,0)))")
                .alias("s_fx"),
                F.count("*").alias("n"))
            books = (
                sums.select("sub", "cell", "i",
                            F.expr("CAST(s_fx AS DOUBLE) / 1e12 / n")
                            .alias("v"), "n")
                .groupBy("sub", "cell")
                .agg(F.expr("transform(array_sort(collect_list("
                            "struct(i, v))), s -> s.v)").alias("centroid"),
                     F.max("n").alias("n")))
        old = {(r["sub"], r["cell"]): (r["centroid"], r["n"])
               for r in books.collect()}
        new = {(r["sub"], r["cell"]): (r["centroid"], r["n"])
               for r in pq_fit(df, m=m, k=k, iters=2, dim=dim).collect()}
        assert new == old

    def test_kmeans_fit_empty_input(self, spark):
        from delta_sharing_spark.operators.similarity import kmeans_fit

        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        assert kmeans_fit(df, k=4, iters=2, dim=8).count() == 0

    @staticmethod
    def _embedding_batch(vectors):
        import pyarrow as pa

        return pa.record_batch(
            [pa.array(vectors, pa.list_(pa.float64()))],
            names=["embedding"])

    def test_lloyd_partials_reject_mis_sized_vectors(self):
        # two 2-value vectors flatten to 4 values, which reshape(-1, 4)
        # would silently read as ONE 4-dim vector
        from delta_sharing_spark.operators.similarity import (
            _lloyd_partials_fn,
        )

        fn = _lloyd_partials_fn([0], [[0.0, 0.0, 0.0, 0.0]], 4)
        batch = self._embedding_batch([[1.0, 2.0], [3.0, 4.0]])
        with pytest.raises(ValueError, match="length 4"):
            list(fn([batch]))
        ok = self._embedding_batch([[1.0, 2.0, 3.0, 4.0]])
        assert list(fn([ok]))[0].num_rows == 4

    def test_pq_partials_reject_mis_sized_vectors(self):
        # m=2 subspaces of 2 values: three 4-value vectors and one
        # 0-value vector flatten to 12 values, still divisible by 4
        from delta_sharing_spark.operators.similarity import _pq_partials_fn

        books = {0: ([0], [[0.0, 0.0]]), 1: ([0], [[0.0, 0.0]])}
        fn = _pq_partials_fn(books, 2, 2)
        batch = self._embedding_batch(
            [[1.0, 2.0, 3.0, 4.0]] * 3 + [[]])
        with pytest.raises(ValueError, match="length 4"):
            list(fn([batch]))
        ok = self._embedding_batch([[1.0, 2.0, 3.0, 4.0]] * 3)
        assert list(fn([ok]))[0].num_rows == 4

    def test_partials_reject_values_past_fixed_point_range(self):
        # FLOOR(x * 1e12) of |x| = 1e7 is 1e19, past int64's 9.22e18:
        # numpy's cast would wrap it into a wrong update sum
        from delta_sharing_spark.operators.similarity import (
            _lloyd_partials_fn,
            _pq_partials_fn,
        )

        kmeans = _lloyd_partials_fn([0], [[0.0, 0.0, 0.0, 0.0]], 4)
        pq = _pq_partials_fn({0: ([0], [[0.0, 0.0]]),
                              1: ([0], [[0.0, 0.0]])}, 2, 2)
        for fn in (kmeans, pq):
            for bad in (1e7, -1e7, float("nan")):
                batch = self._embedding_batch([[1.0, 2.0, bad, 4.0]])
                with pytest.raises(ValueError, match="fixed-point"):
                    list(fn([batch]))
            ok = self._embedding_batch([[9e6, -9e6, 0.0, 4.0]])
            assert list(fn([ok]))[0].num_rows == 4

    def test_fits_raise_past_fixed_point_range(self, spark):
        from delta_sharing_spark.operators.similarity import kmeans_fit, pq_fit

        df = spark.createDataFrame(
            [(i, [1e7 * (i + 1), 0.0, 0.0, 0.0]) for i in range(6)],
            "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="fixed-point"):
            kmeans_fit(df, k=2, iters=1, dim=4).collect()
        with pytest.raises(Exception, match="fixed-point"):
            pq_fit(df, m=2, k=2, iters=1, dim=4).collect()


class TestWinnowBatchVectorization:
    def test_matches_per_doc_reference(self):
        """Batch-concatenated winnowing must be bit-identical to the
        per-document ``winnow_minima`` reference for every length class:
        empty, shorter than K, exactly K, K..K+W, long, unicode, None."""
        import hashlib

        import pandas as pd

        from delta_sharing_spark.workloads.text import (
            _winnow_fingerprint_batches,
            winnow_minima,
        )

        texts = ["", "a", "short", "x" * 15, "y" * 16, "z" * 22, "w" * 23,
                 "the quick brown fox jumps over the lazy dog " * 5,
                 None, "unicode ünïcødé ƒingerprint τεχτ " * 3, "tail"]
        pdf = pd.DataFrame({"doc_id": list(range(len(texts))), "t": texts})
        out = pd.concat(list(_winnow_fingerprint_batches(iter([pdf]))))
        assert list(out["doc_id"]) == list(range(len(texts)))
        for id_, t in zip(out["doc_id"], texts):
            row = out[out["doc_id"] == id_].iloc[0]
            if t is None:
                assert row["content_md5"] is None
                assert row["winnow_fp"] is None
                continue
            digest = ",".join(str(v) for v in winnow_minima(t))
            assert row["winnow_fp"] == \
                hashlib.md5(digest.encode()).hexdigest()
            assert row["content_md5"] == \
                hashlib.md5(t.encode("utf-8")).hexdigest()


class TestStatefulStatePartitions:
    def test_sizing_formula(self, spark, tmp_path):
        """~32 MB per partition, floor 8 (where per-partition state-commit
        overhead amortizes — measured at sf0.1 and sf1), capped by
        parallelism."""
        from delta_sharing_spark.workloads.streaming import (
            _stateful_shuffle_partitions,
        )

        cores = spark.sparkContext.defaultParallelism
        data = tmp_path / "data"
        data.mkdir()
        (tmp_path / "_dsl_log").mkdir()
        (data / "f1.parquet").write_bytes(b"x" * 1024)
        assert _stateful_shuffle_partitions(spark, str(tmp_path)) == \
            min(cores, 8)
        (data / "f2.parquet").write_bytes(b"x" * (400 << 20))
        got = _stateful_shuffle_partitions(spark, str(tmp_path))
        assert got == min(cores, 13)
