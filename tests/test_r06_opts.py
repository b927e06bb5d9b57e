"""Round-6 optimization pins: internals changed for speed must stay
bit-identical to their previous semantics."""

import re

import numpy as np
import pytest

from tsf.pairwise import ksg1_mi_batch


class TestKsgIntPath:
    def test_int_path_bit_identical_to_float(self):
        rng = np.random.RandomState(11)
        B, N = 8, 64
        X = rng.randint(0, 50257, (B, N)).astype(np.float64)
        Y = rng.randint(0, 50257, (B, N)).astype(np.float64)
        a = ksg1_mi_batch(X, Y, k=20)
        b = ksg1_mi_batch(X, Y, k=20, assume_int=True)
        assert np.array_equal(a, b, equal_nan=True)

    def test_int_path_degenerate_window_nan(self):
        # >= k identical joint points -> NaN in both paths
        X = np.zeros((2, 64))
        Y = np.zeros((2, 64))
        X[1] = np.arange(64)
        Y[1] = np.arange(64) * 3 % 17
        a = ksg1_mi_batch(X, Y, k=20)
        b = ksg1_mi_batch(X, Y, k=20, assume_int=True)
        assert np.isnan(a[0]) and np.isnan(b[0])
        assert np.array_equal(a, b, equal_nan=True)


class TestPmiBitmap:
    def test_bitmap_matches_array_contains(self, spark):
        """pmi_topk's packed-bitmap membership must agree with the
        previous array_contains form (same vocab, same pairs)."""
        from pyspark.sql import functions as F

        from tsf.pmi import _pairs_expr, pmi_topk, top_vocab
        rows = [(f"d{i}", [int(x) for x in
                           np.random.RandomState(i).randint(0, 40, 30)],
                 30, "web") for i in range(20)]
        seq = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string")
        out = pmi_topk(seq, k_vocab=10, window=2, k_out=50, min_count=1)
        got = {(r.t1, r.t2): (r.c_pair, r.pmi_micro) for r in out.collect()}
        # reference: the old array_contains pair counting
        vocab = top_vocab(seq, 10)
        in_set = f"array({','.join(str(t) for t, _ in vocab)})"
        ref_pc = (seq.select(F.explode(F.expr(_pairs_expr(2))).alias("p"))
                  .where(F.expr(f"array_contains({in_set}, p.a)"
                                f" AND array_contains({in_set}, p.b)"))
                  .groupBy(F.col("p.a").alias("t1"),
                           F.col("p.b").alias("t2"))
                  .agg(F.count(F.lit(1)).alias("c")))
        ref = {(r.t1, r.t2): r.c for r in ref_pc.collect()}
        assert {k: v[0] for k, v in got.items()} == \
            {k: v for k, v in ref.items() if k in got}
        # every ref pair with enough count must appear unless cut by k_out
        assert len(got) == min(50, len(ref))


#: operators that pass rows through unchanged in count and placement
_PASS_THROUGH = {"Project", "Filter", "ColumnarToRow", "InputAdapter",
                 "WholeStageCodegen"}


def _nested_repartitions(plan: str) -> list[str]:
    """REPARTITION_BY_NUM Exchanges directly over another one — nothing
    but projections/filters between, so the lower shuffle's placement
    is thrown away: the signature of a guard landing on an
    already-spread frame."""
    stack, nodes = [], []  # node: (depth, op, line, children)
    for line in plan.splitlines():
        prefix = re.match(r"[ :+\-]*", line).group(0)
        text = re.sub(r"^\*\(\d+\) ", "", line[len(prefix):])
        node = (len(prefix) // 3, re.match(r"\w*", text).group(0), text, [])
        while stack and stack[-1][0] >= node[0]:
            stack.pop()
        if stack:
            stack[-1][3].append(node)
        stack.append(node)
        nodes.append(node)

    def by_num(n):
        return n[1] == "Exchange" and "REPARTITION_BY_NUM" in n[2]

    def directly_below(n):
        for c in n[3]:
            yield c
            if c[1] in _PASS_THROUGH:
                yield from directly_below(c)

    return [n[2] for n in nodes
            if by_num(n) and any(map(by_num, directly_below(n)))]


class TestSpreadRows:
    def test_narrow_scan_spreads_and_preserves_rows(self, spark, tmp_path):
        from tsf.spread import spread_rows
        p = str(tmp_path / "one")
        spark.range(1000).selectExpr(
            "cast(id as string) doc_id", "id * 2 v") \
            .coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        out = spread_rows(df)
        par = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == par
        assert sorted(r.v for r in out.collect()) == \
            sorted(r.v for r in df.collect())

    def test_wide_scan_is_returned_unchanged(self, spark, tmp_path):
        from tsf.spread import spread_rows
        par = spark.sparkContext.defaultParallelism
        p = str(tmp_path / "wide")
        spark.range(1000).selectExpr("cast(id as string) doc_id") \
            .repartition(par).write.parquet(p)
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) >= par
        assert spread_rows(df) is df

    def test_in_memory_frame_is_returned_unchanged(self, spark):
        from tsf.spread import spread_rows
        df = spark.createDataFrame([("a", 1), ("b", 2)], "doc_id string, v int")
        assert spread_rows(df) is df

    def test_nested_repartition_detector(self):
        nested = """AdaptiveSparkPlan isFinalPlan=false
+- Exchange hashpartitioning(doc_id#1, 8), REPARTITION_BY_NUM, [plan_id=9]
   +- *(1) Project [doc_id#1]
      +- Exchange hashpartitioning(doc_id#1, 8), REPARTITION_BY_NUM, [plan_id=7]
         +- FileScan parquet [doc_id#1]"""
        assert len(_nested_repartitions(nested)) == 1
        worked = nested.replace("+- *(1) Project [doc_id#1]",
                                "+- MapInPandas fn(doc_id#1)")
        assert _nested_repartitions(worked) == []

    def test_no_guard_lands_on_a_spread_frame(self, spark, sf001,
                                              monkeypatch):
        """Every queries() entry that reaches the guard at sf0.001 plans
        no REPARTITION_BY_NUM Exchange directly under another one."""
        import __spark_entry__ as entrymod
        from tsf import spread
        from tsf.caching import persist_scope
        calls = []
        real = spread.spread_rows

        def counted(*a, **k):
            calls.append(1)
            return real(*a, **k)

        monkeypatch.setattr(spread, "spread_rows", counted)
        reached = {}
        for name, fn in entrymod.queries().items():
            before = len(calls)
            with persist_scope():
                df = fn(spark, sf001)
                if len(calls) > before:
                    reached[name] = _nested_repartitions(
                        df._jdf.queryExecution().executedPlan().toString())
        assert "minhash_check" in reached and "kernel_features" in reached
        assert {k: v for k, v in reached.items() if v} == {}


def _fold_cos(a: str, b: str):
    """The cosine from the fold alone: the reference every flat cosine
    must equal bit for bit."""
    from pyspark.sql import functions as F
    from tsf.similarity import _dot
    return F.round(F.expr(_dot(a, b)) / F.nullif(
        F.sqrt(F.expr(_dot(a, a))) * F.sqrt(F.expr(_dot(b, b))),
        F.lit(0.0)), 6)


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


class TestFlatDotEquivalence:
    """Every cosine site — cosine_scores, hard_negatives,
    embedding_near_dups and semdedup — computes its dots with the
    width-guarded flat sum (similarity._dot_flat). Its rows must equal a
    reference built from the fold (similarity._dot) alone: bit-for-bit
    on conforming rows, and the fold's exact NULL/padding values on
    off-width, NULL and NULL-element rows."""

    def _frame(self, spark):
        rows = [
            (0, "a", [0.25, -1.5, 3.0, 0.125]),      # conforming width 4
            (1, "a", [1.0, 2.0]),                     # too short
            (2, "b", [1.0, 2.0, 3.0, 4.0, 5.0]),      # too long
            (3, "b", None),                            # NULL embedding
            (4, "a", [0.0, 0.0, 0.0, 0.0]),           # zero norm
            (5, "b", [3.0, -1.0]),                    # too short, as row 1
            (6, "b", [1.0, None, 2.0, 0.5]),          # NULL element
            (7, "a", [0.5, -1.0, 2.5, 0.25]),         # conforming
            (8, "b", [-0.25, 1.5, -3.0, -0.125]),     # conforming
        ]
        return spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<double>")

    def test_cosine_scores_matches_fold_reference(self, spark):
        from pyspark.sql import functions as F
        from tsf.similarity import EMB_DOUBLE, _dot, _vec_lit, cosine_scores
        emb = self._frame(spark)
        q = [0.5, 0.25, -2.0, 1.0]
        got = {r["vec_id"]: r["cos"]
               for r in cosine_scores(emb, q).collect()}
        qn = float(np.sqrt(np.dot(q, q)))
        ref_cos = (F.expr(_dot(EMB_DOUBLE, _vec_lit(q))) / F.nullif(
            F.sqrt(F.expr(_dot(EMB_DOUBLE, EMB_DOUBLE))) * F.lit(qn),
            F.lit(0.0)))
        ref = {r["vec_id"]: r["cos"] for r in emb.select(
            "vec_id", F.round(ref_cos, 6).alias("cos")).collect()}
        assert got == ref  # exact, including None for rows 1-6
        assert None not in (got[0], got[7], got[8]) and got[6] is None

    def test_hard_negatives_matches_fold_reference(self, spark):
        from pyspark.sql import Window, functions as F
        from tsf.similarity import EMB_DOUBLE, hard_negatives
        emb = self._frame(spark)
        got = _rows(hard_negatives(emb, n_queries=2, k=3))
        d = emb.select("vec_id", "label", F.expr(EMB_DOUBLE).alias("v"))
        q = (d.where("vec_id < 2")
             .select(F.col("vec_id").alias("q_id"),
                     F.col("label").alias("q_label"),
                     F.col("v").alias("q_emb")))
        w = Window.partitionBy("q_id").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
        ref = _rows(d.join(q, F.expr("label != q_label"))
                    .select("q_id", "q_label", "vec_id", "label",
                            _fold_cos("v", "q_emb").alias("cos"))
                    .withColumn("rnk", F.row_number().over(w))
                    .where("rnk <= 3"))
        assert got == ref
        # two width-2 rows of different labels: only the fold fallback
        # scores this pair (dim is 4)
        assert (1, "a", 5, "b", 0.141421, 1) in got

    def test_embedding_near_dups_matches_fold_reference(self, spark):
        from pyspark.sql import functions as F
        from tsf.similarity import (EMB_DOUBLE, _bucket_col,
                                    embedding_near_dups, random_hyperplanes)
        emb = self._frame(spark)
        got = _rows(embedding_near_dups(emb, threshold=-1.0, nbits=1))
        d = emb.select("vec_id", F.expr(EMB_DOUBLE).alias("v"))
        for t in range(2):
            d = d.withColumn(f"b{t}", _bucket_col(
                "v", random_hyperplanes(4, 1, 7 + t)))
        a, b = d.alias("a"), d.alias("b")
        ref = _rows(a.join(b, (F.col("a.vec_id") < F.col("b.vec_id"))
                           & ((F.col("a.b0") == F.col("b.b0"))
                              | (F.col("a.b1") == F.col("b.b1"))))
                    .select(F.col("a.vec_id"), F.col("b.vec_id"),
                            _fold_cos("a.v", "b.v").alias("cos"))
                    .where("cos >= -1.0"))
        assert got == ref and got

    def test_semdedup_matches_fold_reference(self, spark):
        from pyspark.sql import functions as F
        from tsf.caching import persist_scope
        from tsf.similarity import EMB_DOUBLE, ivf_cells, semdedup
        emb = self._frame(spark)
        # a width-2 centroid gives rows 1 and 5 a cell of their own, so
        # their pair reaches the fold fallback (dim is 4)
        cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [1.0, 0.0]]
        with persist_scope():
            got = _rows(semdedup(emb, threshold=0.1, cents=cents))
        cells = ivf_cells(emb, cents).select(
            "vec_id", F.expr(EMB_DOUBLE).alias("v"), "cell")
        a, b = cells.alias("a"), cells.alias("b")
        dups = (a.join(b, "cell")
                .where((F.col("b.vec_id") < F.col("a.vec_id"))
                       & (_fold_cos("a.v", "b.v") >= 0.1))
                .groupBy(F.col("a.vec_id").alias("vec_id"))
                .agg(F.count("*").cast("int").alias("n"),
                     F.min("b.vec_id").alias("dup_of")))
        ref = _rows(cells.join(dups, "vec_id", "left").select(
            "vec_id", F.col("cell").cast("int"),
            F.coalesce("n", F.lit(0)).cast("int"), "dup_of",
            F.col("dup_of").isNull()))
        assert got == ref
        assert (5, 2, 1, 1, False) in got

    def test_cosine_queries_compile_without_fallback(self, spark, sf001):
        """With codegen fallback off, a whole-stage codegen overflow in
        any cosine query fails here instead of quietly running
        interpreted."""
        import __spark_entry__ as entrymod
        from tsf.caching import persist_scope
        qs = entrymod.queries()
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            for name in ("cosine_threshold", "hard_negatives",
                         "embedding_near_dups", "semdedup"):
                with persist_scope():
                    qs[name](spark, sf001).collect()
        finally:
            spark.conf.unset("spark.sql.codegen.fallback")

    def test_hard_negatives_empty_input_typed_empty(self, spark):
        from tsf.similarity import hard_negatives
        out = hard_negatives(self._frame(spark).limit(0))
        assert out.columns == ["q_id", "q_label", "vec_id", "label",
                               "cos", "rnk"]
        assert out.count() == 0


class TestInPlaceXxh64:
    def test_into_matches_functional_path(self):
        from tsf.dedup import _np_xxh64_int, _np_xxh64_int_into
        rng = np.random.default_rng(3)
        seed = rng.integers(0, 2 ** 63, 4096,
                            dtype=np.int64).view(np.uint64)
        b = np.empty_like(seed)
        t = np.empty_like(seed)
        for i in (0, 1, 17, 31, 63, 2 ** 31 - 1):
            assert np.array_equal(_np_xxh64_int(i, seed),
                                  _np_xxh64_int_into(i, seed, b, t)), i

    def test_simhash_progressive_shift_counts(self):
        # ones-per-bit via (H >> j) & 1 vs the in-place progressive
        # shift must agree for negative (sign-extended) hashes too
        rng = np.random.default_rng(5)
        H = rng.integers(-2 ** 63, 2 ** 63 - 1, 1000, dtype=np.int64)
        off = np.array([0, 100, 500])
        work = H.copy()
        mask = np.empty_like(H)
        for j in range(64):
            ref = np.add.reduceat((H >> j) & 1, off)
            np.bitwise_and(work, 1, out=mask)
            got = np.add.reduceat(mask, off)
            assert np.array_equal(ref, got), j
            np.right_shift(work, 1, out=work)
