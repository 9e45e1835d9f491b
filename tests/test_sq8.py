"""SQ8 scalar quantization: encode/decode, top-k, recall gate."""

import polars_net_spark as pl
from polars_net_spark.llm.similarity import (
    cosine_topk,
    sq8_quantize,
    sq8_recall_frame,
    sq8_topk,
)


def vecs(spark, n=40, dim=8):
    # deterministic clustered vectors: two lobes + small per-id wiggle
    rows = []
    for i in range(n):
        base = 1.0 if i % 2 == 0 else -1.0
        v = [base * (1.0 + 0.01 * ((i * 7 + j * 3) % 5)) for j in range(dim)]
        v[i % dim] += 0.25
        rows.append((i, v))
    return pl.from_records(rows, ["vec_id", "embedding"]).lazy()


def test_sq8_quantize_codes_and_bounds(spark):
    out = sq8_quantize(vecs(spark)).collect()
    rows = out.rows()
    assert len(rows) == 40
    for _, codes, dq in rows:
        assert all(0 <= c <= 255 for c in codes)
        assert len(codes) == len(dq) == 8
    # dequantization error is bounded by scale/2 = (max-min)/510 per dim
    raw = {r[0]: r[1] for r in vecs(spark).collect().rows()}
    spread = 2 * (1.0 + 0.01 * 4) + 0.25  # conservative per-dim range bound
    tol = spread / 510 + 1e-9
    for vid, _, dq in rows:
        for a, b in zip(raw[vid], dq):
            assert abs(a - b) <= tol


def test_sq8_flat_dimension_is_exact(spark):
    d = pl.from_records(
        [(0, [1.0, 5.0]), (1, [1.0, 7.0]), (2, [1.0, 6.0])], ["vec_id", "embedding"]
    ).lazy()
    out = {r[0]: r[2] for r in sq8_quantize(d).collect().rows()}
    for vid in (0, 1, 2):
        assert out[vid][0] == 1.0  # flat dim dequantizes exactly


def test_sq8_topk_close_to_exact(spark):
    d = vecs(spark)
    q = pl.from_records(
        [r for r in vecs(spark).collect().rows()[:4]], ["vec_id", "embedding"]
    ).lazy()
    approx = sq8_topk(d, q, k=5).collect().rows()
    assert len(approx) == 20
    exact = cosine_topk(d, q, k=5).collect().rows()
    a_sets = {}
    e_sets = {}
    for qid, cid, _, _ in approx:
        a_sets.setdefault(qid, set()).add(cid)
    for qid, cid, _, _ in exact:
        e_sets.setdefault(qid, set()).add(cid)
    for qid in a_sets:
        inter = len(a_sets[qid] & e_sets[qid])
        assert inter >= 4  # 8-bit codes: at most one borderline swap


def test_sq8_recall_frame(spark):
    d = vecs(spark)
    q = pl.from_records(
        [r for r in vecs(spark).collect().rows()[:4]], ["vec_id", "embedding"]
    ).lazy()
    out = sq8_recall_frame(d, q, k=5, min_recall=0.6).collect()
    assert out.height == 4
    for _, recall, ok in out.rows():
        assert 0.0 <= recall <= 1.0
        assert ok == (1 if recall >= 0.6 else 0)
        assert recall >= 0.6


class TestPQ:
    def _toy(self, spark):
        import polars_net_spark as pl

        # 8 vectors in dim 4, two obvious clusters per 2-dim subspace
        rows = [
            (0, [0.0, 0.0, 10.0, 10.0]),
            (1, [0.1, 0.0, 10.0, 9.9]),
            (2, [0.0, 0.2, 9.8, 10.0]),
            (3, [5.0, 5.0, 0.0, 0.0]),
            (4, [5.1, 5.0, 0.1, 0.0]),
            (5, [5.0, 4.9, 0.0, 0.2]),
            (6, [0.0, 0.1, 0.0, 0.1]),
            (7, [5.0, 5.1, 10.0, 10.1]),
        ]
        return pl.from_records(rows, ["vec_id", "embedding"]).lazy()

    def test_encode_deterministic_and_in_range(self, spark):
        from polars_net_spark.llm.similarity import pq_init_codebooks, pq_encode

        d = self._toy(spark)
        cb = pq_init_codebooks(d, m=2, k=4)
        assert len(cb) == 2 and len(cb[0]) == 4 and len(cb[0][0]) == 2
        codes = {r[0]: r[1] for r in pq_encode(d, cb).collect().rows()}
        assert all(len(c) == 2 and all(0 <= x < 4 for x in c) for c in codes.values())
        # codebook vectors encode to themselves (distance 0 at own index)
        assert codes[0] == [0, 0] and codes[3] == [3, 3]
        codes2 = {r[0]: r[1] for r in pq_encode(d, cb).collect().rows()}
        assert codes == codes2

    def test_exact_when_codebook_covers(self, spark):
        """With every distinct subvector in the codebook, ADC distances are
        EXACT squared L2 -> top-k equals brute force."""
        import itertools
        import polars_net_spark as pl
        from polars_net_spark.llm.similarity import pq_topk

        vecs = {
            0: [0.0, 0.0, 1.0, 1.0],
            1: [0.0, 0.0, 2.0, 2.0],
            2: [3.0, 3.0, 1.0, 1.0],
            3: [3.0, 3.0, 2.0, 2.0],
        }
        d = pl.from_records(sorted(vecs.items()), ["vec_id", "embedding"]).lazy()
        cb = [
            [[0.0, 0.0], [3.0, 3.0], [9.0, 9.0], [8.0, 8.0]],
            [[1.0, 1.0], [2.0, 2.0], [9.0, 9.0], [8.0, 8.0]],
        ]
        got = pq_topk(d, d, cb, k=3).collect().rows()
        # brute-force truth
        def l2(a, b):
            return sum((x - y) ** 2 for x, y in zip(a, b))
        for qid in vecs:
            want = sorted(
                ((l2(vecs[qid], vecs[c]), c) for c in vecs if c != qid)
            )[:3]
            mine = sorted(
                (r for r in got if r[0] == qid), key=lambda r: r[3]
            )
            assert [(r[1]) for r in mine] == [c for _, c in want]
            assert [r[2] for r in mine] == [round(float(dd), 6) for dd, _ in want]

    def test_train_reduces_quantization_error(self, spark):
        """Lloyd monotonically reduces the k-means objective: total squared
        distance to the assigned centroid must not increase with iterations
        (the guaranteed invariant; recall@k on random vectors is not)."""
        from polars_net_spark.llm.similarity import pq_init_codebooks, pq_train
        import polars_net_spark as pl

        d = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
        vecs = [list(map(float, r[1])) for r in d.collect().rows()]

        def objective(cb):
            m, sub = len(cb), len(cb[0][0])
            tot = 0.0
            for v in vecs:
                for s in range(m):
                    sv = v[s * sub:(s + 1) * sub]
                    tot += min(
                        sum((a - b) ** 2 for a, b in zip(sv, c)) for c in cb[s]
                    )
            return tot

        cb0 = pq_init_codebooks(d, m=8, k=16)
        cb1 = pq_train(d, m=8, k=16, iters=1)
        cb2 = pq_train(d, m=8, k=16, iters=3)
        o0, o1, o2 = objective(cb0), objective(cb1), objective(cb2)
        assert o1 <= o0 and o2 <= o1
        assert o2 < o0 * 0.9  # and materially so on random vectors

    def test_recall_frame_shape(self, spark):
        from polars_net_spark.llm.similarity import pq_init_codebooks, pq_recall_frame
        import polars_net_spark as pl
        from pyspark.sql import functions as F

        d = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = pl.LazyFrame(d.spark.filter(F.col("vec_id") < 5))
        cb = pq_init_codebooks(d, m=8, k=16)
        rows = pq_recall_frame(d, q, cb, k=10).collect().rows()
        assert len(rows) == 5
        assert all(0.0 <= r[1] <= 1.0 and r[2] in (0, 1) for r in rows)

    def test_dim_not_divisible_raises(self, spark):
        import pytest
        import polars_net_spark as pl
        from polars_net_spark.llm.similarity import pq_init_codebooks

        d = pl.from_records([(0, [1.0, 2.0, 3.0])], ["vec_id", "embedding"]).lazy()
        with pytest.raises(ValueError):
            pq_init_codebooks(d, m=2, k=1)


class TestIVFPQ:
    def _fixture(self, spark):
        from polars_net_spark.llm.similarity import pq_init_codebooks

        c = vecs(spark, n=48, dim=8)
        cb = pq_init_codebooks(c, m=2, k=8)
        q = pl.LazyFrame(c._sdf.filter("vec_id < 4"))
        return c, q, cb

    def test_index_layout_and_determinism(self, spark):
        from polars_net_spark.llm.similarity import ivfpq_index, pq_init_codebooks

        c, _, cb = self._fixture(spark)
        idx = ivfpq_index(c, cb, nlist=4).collect()
        rows = idx.rows()
        assert len(rows) == 48
        for _, cid, codes in rows:
            assert 0 <= cid < 4
            assert len(codes) == 2 and all(0 <= j < 8 for j in codes)
        assert ivfpq_index(c, cb, nlist=4).collect().rows() == rows

    def test_index_build_has_zero_exchange(self, spark):
        import io, contextlib

        from polars_net_spark.llm.similarity import ivfpq_index

        c, _, cb = self._fixture(spark)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            ivfpq_index(c, cb, nlist=4).spark.explain("formatted")
        plan = buf.getvalue()
        # the two 1-row broadcasts are BroadcastExchange; assert no SHUFFLE
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "Exchange rangepartitioning" not in plan

    def test_prebuilt_index_identical_to_inline(self, spark):
        from polars_net_spark.llm.similarity import ivfpq_index, ivfpq_topk

        c, q, cb = self._fixture(spark)
        inline = ivfpq_topk(c, q, cb, k=3, nlist=4, nprobe=2).collect().rows()
        idx = ivfpq_index(c, cb, nlist=4)
        via_index = (
            ivfpq_topk(c, q, cb, k=3, nlist=4, nprobe=2, index=idx).collect().rows()
        )
        assert sorted(inline) == sorted(via_index)

    def test_full_probe_matches_pq_ranking_order(self, spark):
        # nprobe == nlist with residual=False scores every corpus vector with
        # plain PQ/ADC — ranking must equal pq_topk's
        from polars_net_spark.llm.similarity import ivfpq_topk, pq_topk

        c, q, cb = self._fixture(spark)
        a = sorted(ivfpq_topk(c, q, cb, k=3, nlist=4, nprobe=4, residual=False).collect().rows())
        b = sorted(pq_topk(c, q, cb, k=3).collect().rows())
        assert a == b

    def test_recall_against_exact(self, spark):
        # residual IVF-PQ on a 2-lobe corpus: top-3 of exact L2 should be
        # mostly recovered with half the lists probed
        from polars_net_spark.llm.similarity import ivfpq_topk
        from pyspark.sql import functions as F

        c, q, cb = self._fixture(spark)
        approx = ivfpq_topk(c, q, cb, k=3, nlist=4, nprobe=2).collect().rows()
        cs, qs = c._sdf.alias("c"), q._sdf.alias("q")
        d2 = F.aggregate(
            F.zip_with("q.embedding", "c.embedding", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy("d2", "corpus_id")
        exact = (
            qs.crossJoin(cs)
            .filter(F.col("c.vec_id") != F.col("q.vec_id"))
            .select(F.col("q.vec_id").alias("query_id"), F.col("c.vec_id").alias("corpus_id"), d2.alias("d2"))
            .withColumn("rn", F.row_number().over(w)).filter("rn <= 3").collect()
        )
        exact_set = {(r["query_id"], r["corpus_id"]) for r in exact}
        hits = sum(1 for r in approx if (r[0], r[1]) in exact_set)
        assert hits >= len(approx) // 2

    def test_too_few_vectors_raises(self, spark):
        import pytest

        from polars_net_spark.llm.similarity import ivfpq_init_centroids

        c = vecs(spark, n=3, dim=8)
        with pytest.raises(ValueError, match="nlist"):
            ivfpq_init_centroids(c, nlist=8)


class TestEmbeddingDrift:
    def test_identical_corpora(self, spark):
        from polars_net_spark.llm.similarity import embedding_drift_report

        c = vecs(spark, n=20, dim=8)
        (r,) = embedding_drift_report(c, c, dim=8).collect().rows()
        assert r[0] == r[1] == 20
        assert r[4] == 1.0 and r[5] == 0.0  # cosine 1, shift 0
        assert r[6] == r[7]  # same dispersion

    def test_opposite_centroids(self, spark):
        from polars_net_spark.llm.similarity import embedding_drift_report
        import polars_net_spark as pl

        a = pl.from_records([(i, [1.0, 0.0]) for i in range(5)], ["vec_id", "embedding"]).lazy()
        b = pl.from_records([(i, [-1.0, 0.0]) for i in range(5)], ["vec_id", "embedding"]).lazy()
        (r,) = embedding_drift_report(a, b).collect().rows()  # dim probed
        assert r[4] == -1.0 and r[5] == 2.0
        assert r[6] == 0.0 and r[7] == 0.0  # degenerate clouds: no spread

    def test_dim_mismatch_rows_excluded(self, spark):
        from polars_net_spark.llm.similarity import embedding_drift_report
        import polars_net_spark as pl

        a = pl.from_records(
            [(0, [1.0, 1.0]), (1, [1.0])], ["vec_id", "embedding"]
        ).lazy()
        (r,) = embedding_drift_report(a, a, dim=2).collect().rows()
        assert r[0] == r[1] == 1  # the dim-1 row is screened out

    def test_empty_reference_raises(self, spark):
        import pytest

        from polars_net_spark.llm.similarity import embedding_drift_report
        import polars_net_spark as pl

        a = pl.from_records([(0, [1.0, 1.0])], ["vec_id", "embedding"]).lazy()
        empty = pl.LazyFrame(a._sdf.filter("vec_id < 0"))
        with pytest.raises(ValueError, match="dim"):
            embedding_drift_report(empty, a)


class TestMmrRerank:
    def test_diversification_beats_near_dup(self, spark):
        from polars_net_spark.llm.similarity import mmr_rerank

        rows_ = [
            (1, "a", 0.9, [1.0, 0.0]),
            (1, "b", 0.85, [0.999, 0.04]),  # near-dup of a
            (1, "c", 0.5, [0.0, 1.0]),      # orthogonal
        ]
        df = spark.createDataFrame(
            rows_, "query_id long, doc_id string, rel double, embedding array<double>"
        )
        out = sorted(mmr_rerank(df, k=3, lam=0.5).collect().rows(),
                     key=lambda r: r[2])
        assert [r[1] for r in out] == ["a", "c", "b"]
        assert out[0][3] == 0.45  # lam * rel

    def test_lambda_one_is_pure_relevance(self, spark):
        from polars_net_spark.llm.similarity import mmr_rerank

        rows_ = [
            (1, "a", 0.9, [1.0, 0.0]), (1, "b", 0.8, [1.0, 0.0]),
            (1, "c", 0.7, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(
            rows_, "query_id long, doc_id string, rel double, embedding array<double>"
        )
        out = sorted(mmr_rerank(df, k=3, lam=1.0).collect().rows(),
                     key=lambda r: r[2])
        assert [r[1] for r in out] == ["a", "b", "c"]

    def test_short_candidate_lists_stop_early(self, spark):
        from polars_net_spark.llm.similarity import mmr_rerank

        df = spark.createDataFrame(
            [(1, "a", 0.9, [1.0]), (2, "x", 0.5, [1.0]), (2, "y", 0.4, [0.5])],
            "query_id long, doc_id string, rel double, embedding array<double>",
        )
        out = mmr_rerank(df, k=3, lam=0.7).collect().rows()
        per_q = {}
        for r in out:
            per_q.setdefault(r[0], []).append(r)
        assert len(per_q[1]) == 1 and len(per_q[2]) == 2

    def test_param_validation(self, spark):
        from polars_net_spark.llm.similarity import mmr_rerank

        df = spark.createDataFrame(
            [(1, "a", 0.9, [1.0])],
            "query_id long, doc_id string, rel double, embedding array<double>",
        )
        import pytest as _pt
        with _pt.raises(ValueError):
            mmr_rerank(df, k=0)
        with _pt.raises(ValueError):
            mmr_rerank(df, lam=1.5)
