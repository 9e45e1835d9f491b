"""LLM pipeline operators: dedup, similarity, text analysis, multimodal."""

import polars_net_spark as pl
from polars_net_spark.frame import LazyFrame
from polars_net_spark.llm import (
    content_fingerprint,
    cosine_topk,
    dedup_exact,
    embedding_near_dup_pairs,
    language_id,
    lsh_bucket_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_score,
    simhash_signatures,
    token_count,
)
from pyspark.sql import functions as F


def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "el gato la casa de que los perros"),
    ]
    return pl.from_records(rows, ["doc_id", "text"])


def test_dedup_exact(spark):
    out = dedup_exact(docs(spark).lazy()).collect()
    ids = sorted(r[0] for r in out.rows())
    assert ids == [0, 1, 2, 4]  # doc 3 deduped (keeps lowest id)


def test_ngram_jaccard_and_minhash_agree(spark):
    d = docs(spark).lazy()
    exact = sorted(ngram_jaccard_pairs(d, threshold=0.5).collect().rows())
    approx = sorted(minhash_lsh_pairs(d, threshold=0.5).collect().rows())
    assert exact == approx
    assert (0, 3, 1.0) in [(a, b, j) for a, b, j in exact]
    assert any(a == 0 and b == 1 for a, b, _ in exact)


def test_simhash_near_for_near_dups(spark):
    out = simhash_signatures(docs(spark).lazy()).collect()
    sig = {r[0]: r[1] for r in out.rows()}
    assert sig[0] == sig[3]  # identical docs → identical simhash
    ham01 = bin((sig[0] ^ sig[1]) & ((1 << 64) - 1)).count("1")
    ham02 = bin((sig[0] ^ sig[2]) & ((1 << 64) - 1)).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_simhash_near_dup_pairs_exact_vs_bruteforce(spark):
    from polars_net_spark.llm import simhash_near_dup_pairs

    d = docs(spark).lazy()
    # brute-force truth from the signatures themselves
    sig = {r[0]: r[1] for r in simhash_signatures(d).collect().rows()}
    k = 10
    truth = sorted(
        (a, b, bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1"))
        for a in sig
        for b in sig
        if a < b and bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1") <= k
    )
    # max_hamming < bands ⇒ pigeonhole total recall ⇒ exact equality
    got = sorted(
        simhash_near_dup_pairs(d, max_hamming=k, bands=16).collect().rows()
    )
    assert got == truth
    assert (0, 3, 0) in got  # exact dup pair at distance 0


def test_banded_hamming_pairs_bits60(spark):
    from polars_net_spark.llm import banded_hamming_pairs

    rows = [(1, 0b111), (2, 0b110), (3, 0)]  # d(1,2)=1, d(1,3)=3, d(2,3)=2
    hashed = spark.createDataFrame(rows, ["id", "h"])
    out = sorted(
        banded_hamming_pairs(
            hashed, hash_col="h", id_col="id", max_hamming=2, bands=5, bits=60
        ).collect().rows()
    )
    assert out == [(1, 2, 1), (2, 3, 2)]


def test_preference_pairs_best_worst(spark):
    from polars_net_spark.llm import preference_pairs

    rows = [
        # prompt 1: scores 5 > 3 > 1
        (1, 10, "best", 5.0),
        (1, 11, "mid", 3.0),
        (1, 12, "worst", 1.0),
        # prompt 2: tie on score → id breaks it (21 chosen, 20 rejected)
        (2, 20, "a", 2.0),
        (2, 21, "b", 2.0),
        # prompt 3: single response → dropped (self-pair)
        (3, 30, "solo", 9.0),
    ]
    d = spark.createDataFrame(rows, ["prompt_id", "doc_id", "text", "score"])
    out = sorted(preference_pairs(d).collect().rows())
    assert out == [
        (1, 10, 12, "best", "worst", 4.0),
        (2, 21, 20, "b", "a", 0.0),
    ]
    # min_margin drops the zero-margin tie pair
    out2 = sorted(preference_pairs(d, min_margin=0.5).collect().rows())
    assert out2 == [(1, 10, 12, "best", "worst", 4.0)]


def test_preference_pairs_all_pairs(spark):
    from polars_net_spark.llm import preference_pairs

    rows = [(1, 10, "x", 3.0), (1, 11, "y", 2.0), (1, 12, "z", 1.0)]
    d = spark.createDataFrame(rows, ["prompt_id", "doc_id", "text", "score"])
    out = sorted(
        preference_pairs(d, strategy="all_pairs").collect().rows()
    )
    assert [(r[1], r[2], r[5]) for r in out] == [
        (10, 11, 1.0),
        (10, 12, 2.0),
        (11, 12, 1.0),
    ]
    out2 = preference_pairs(d, strategy="all_pairs", min_margin=1.5).collect().rows()
    assert [(r[1], r[2]) for r in out2] == [(10, 12)]


def test_token_count_quality_lang(spark):
    d = docs(spark)
    out = d.spark.select(
        F.col("doc_id"),
        token_count(F.col("text")).alias("tc"),
        quality_score(F.col("text")).alias("q"),
        language_id(F.col("text")).alias("lang"),
        content_fingerprint(F.col("text")).alias("fp"),
    )
    rows = {r[0]: r for r in out.collect()}
    assert rows[0]["tc"] == 9
    assert 0.0 <= rows[0]["q"] <= 1.0
    assert rows[0]["lang"] == "en"
    assert rows[4]["lang"] == "es"
    assert rows[0]["fp"] == rows[3]["fp"]


def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    return pl.from_records(rows, ["vec_id", "embedding"]).lazy()


def test_embedding_near_dup(spark):
    pairs = embedding_near_dup_pairs(vectors(spark), threshold=0.9).collect()
    assert [(r[0], r[1]) for r in pairs.rows()] == [(0, 1)]


def test_cosine_topk_exact_and_lsh(spark):
    v = vectors(spark)
    q = LazyFrame(v._sdf.filter(F.col("vec_id") == 0))
    exact = cosine_topk(v, q, k=2).collect()
    assert [r[1] for r in sorted(exact.rows(), key=lambda r: r[3])] == [1, 2]
    approx = lsh_bucket_topk(v, q, k=2, num_planes=4, num_tables=8, dim=3).collect()
    assert approx.rows()[0][1] == 1  # nearest neighbour found by LSH


def test_multimodal_plumbing(spark):
    from polars_net_spark.llm.multimodal import attach_media_metadata, extract_image_features

    media = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff\xe0hello")), (2, None)], ["media_id", "payload"]
    )
    mm = attach_media_metadata(LazyFrame(media)).collect()
    d = {r[0]: r for r in mm.spark.collect()}
    assert d[1]["sniffed_mime"] == "image/jpeg"
    assert d[1]["n_bytes"] == 9
    feats = extract_image_features(LazyFrame(media)).collect()
    rows = {r[0]: r for r in feats.spark.collect()}
    assert len(rows[1]["features"]) == 8
    assert rows[2]["n_bytes"] == 0  # null payload handled


def test_lambda_arity_regression(spark):
    """PySpark binds 2-ary transform lambdas as (element, index): seeded hash
    families must close over the seed, never pass it as a default arg."""
    d = docs(spark).lazy()
    sigs = (
        d._sdf.select(
            F.array_min(F.transform(F.split(F.col("text"), " "), lambda w: F.xxhash64(w, F.lit(7)))).alias("a"),
            F.array_min(F.transform(F.split(F.col("text"), " "), lambda w: F.xxhash64(w, F.lit(8)))).alias("b"),
        )
        .filter(F.col("a") == F.col("b"))
        .count()
    )
    assert sigs < 5  # different seeds must give (mostly) different minima


def test_prefix_filter_jaccard_equals_baseline(spark):
    from polars_net_spark.llm import ngram_jaccard_pairs_prefix

    d = docs(spark).lazy()
    base = sorted(ngram_jaccard_pairs(d, threshold=0.5).collect().rows())
    pref = sorted(ngram_jaccard_pairs_prefix(d, threshold=0.5).collect().rows())
    assert base == pref  # AllPairs prefix bound is exact, not approximate


def test_simhash_md5_matches_python_reference(spark):
    """hash_fn='md5' is the externally-verifiable variant (q36 oracle): check
    it against an independent pure-Python recompute."""
    import hashlib

    d = docs(spark).lazy()
    out = {r[0]: r[1] for r in simhash_signatures(d, bits=60, hash_fn="md5").collect().rows()}

    def ref_sig(text):
        toks = []
        for w in text.strip().lower().split():
            if w not in toks:
                toks.append(w)
        sums = [0] * 60
        for w in toks:
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(60):
                sums[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if sums[b] > 0)

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "el gato la casa de que los perros"),
    ]
    for i, text in rows:
        assert out[i] == ref_sig(text), f"doc {i}"


def test_lsh_topk_containment_and_recall(spark):
    """Every LSH-returned neighbour's cosine must equal an exact recompute
    (precision 1), and recall vs brute force must be high at these settings."""
    import math

    v = vectors(spark)
    q = LazyFrame(v._sdf.filter(F.col("vec_id") == 0))
    exact = {(r[0], r[1]): r[2] for r in cosine_topk(v, q, k=2).collect().rows()}
    approx = lsh_bucket_topk(v, q, k=2, num_planes=4, num_tables=8, dim=3).collect().rows()
    vecs = {r[0]: list(r[1]) for r in v._sdf.collect()}
    for qid, cid, cos, _rank in approx:
        a, b = vecs[qid], vecs[cid]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert abs(cos - dot / (na * nb)) < 1e-5, (qid, cid)
    # recall: LSH hits are a subset of the exact top-k universe at these seeds
    hit = sum(1 for (qid, cid, _c, _r) in approx if (qid, cid) in exact)
    assert hit / max(len(exact), 1) >= 0.5


def _seeded_cluster_vectors(spark, n_clusters=120, per_cluster=5, dim=8):
    """Deterministic corpus with built-in near-dup clusters (cos ≥ ~0.999
    within a cluster): LCG-seeded, no RNG state."""
    rows = []
    vid = 0
    state = 123456789
    for c in range(n_clusters):
        base = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            base.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
        for j in range(per_cluster):
            vec = [x + j * 1e-4 for x in base]
            rows.append((vid, vec))
            vid += 1
    return pl.from_records(rows, ["vec_id", "embedding"]).lazy()


def test_bucketed_near_dup_no_cross_join_and_matches_exact(spark, force_distributed):
    """Above its bound the route must be the hyperplane-bucketed equi-join
    (no CartesianProduct / nested-loop join in the plan) and, at these
    settings, return exactly the numpy path's pairs."""
    v = _seeded_cluster_vectors(spark)  # 600 rows
    exact = sorted(embedding_near_dup_pairs(v, threshold=0.99).collect().rows())
    force_distributed()
    bucketed = embedding_near_dup_pairs(v, threshold=0.99, num_planes=8, num_tables=16)
    plan = bucketed._sdf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = sorted(bucketed.collect().rows())
    assert len(exact) > 100  # the corpus really contains near-dup clusters
    assert got == exact
    pl.release_caches()


def test_lazy_builders_run_no_eager_jobs(spark, force_distributed):
    """Building (not executing) the llm similarity plans: lsh_bucket_topk
    runs no Spark job, and each guarded vector operator runs exactly its
    guard's one count job and records one decision.  Every bound is 0 here,
    so no bounded side is collected for a broadcast."""
    from polars_net_spark import _bounded
    from polars_net_spark.llm import embedding_threshold_join

    sc = spark.sparkContext
    v = _seeded_cluster_vectors(spark, n_clusters=4)
    q = LazyFrame(v._sdf.filter(F.col("vec_id") < 3))
    force_distributed()
    builders = {
        "lsh_bucket_topk": lambda: lsh_bucket_topk(v, q, k=2, num_planes=4, num_tables=2),
        "embedding_near_dup_pairs": lambda: embedding_near_dup_pairs(v),
        "cosine_topk": lambda: cosine_topk(v, q, k=2),
        "embedding_threshold_join": lambda: embedding_threshold_join(v, q),
    }
    for name, build in builders.items():
        group = f"probe_check_{name}"
        _bounded.clear_decisions()
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        guarded = name != "lsh_bucket_topk"
        assert len(jobs) == guarded, (name, jobs)
        assert [(d["operator"], d["path"]) for d in _bounded.decisions()] == (
            [(name, "distributed")] if guarded else []
        )
    pl.release_caches()


def test_sink_releases_operator_caches(spark, tmp_path):
    """Terminal sinks release register_cache intermediates (VERDICT item 4)."""
    from polars_net_spark import cached_count, release_caches

    release_caches()
    d = docs(spark).lazy()
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    assert cached_count() > 0
    pairs.sink_parquet(str(tmp_path / "pairs.parquet"))
    assert cached_count() == 0


def test_scoped_caches_manager(spark):
    # r12: simhash_signatures no longer stages a persist (the bit-sum fold
    # moved into an opaque mapInArrow kernel), so the scope is exercised
    # with an op that still registers internal caches (the gram stage)
    from polars_net_spark import cached_count, scoped_caches

    with scoped_caches():
        d = docs(spark).lazy()
        out = ngram_jaccard_pairs(d, threshold=0.5).collect().rows()
        assert len(out) >= 1
        assert cached_count() > 0
    assert cached_count() == 0


def test_gram_df_cutoff_guard(spark):
    """Skew guard: generous cutoff == baseline; aggressive cutoff still finds
    pairs that share any sub-cutoff gram, with exact similarity values."""
    d = docs(spark).lazy()
    base = sorted(ngram_jaccard_pairs(d, threshold=0.5).collect().rows())
    generous = sorted(
        ngram_jaccard_pairs(d, threshold=0.5, max_gram_df=10**9).collect().rows()
    )
    assert generous == base
    guarded = sorted(
        ngram_jaccard_pairs(d, threshold=0.5, max_gram_df=2).collect().rows()
    )
    assert set(guarded) <= set(base)  # pruning can only reduce recall
    for a, b, j in guarded:  # never changes a similarity value
        assert (a, b, j) in base
    pl.release_caches()


def test_gram_df_cutoff_equivalence_sf01(spark):
    """VERDICT item 5 proof: at sf0.1 with the size filter intact, a
    duplicate-cluster-sized df cutoff returns the exact baseline pairs."""
    import os

    path = "/root/testdata/sf0.1/documents.parquet"
    if not os.path.exists(path):
        import pytest

        pytest.skip("sf0.1 not present")
    d = pl.scan_parquet(path)
    base = sorted(ngram_jaccard_pairs(d, threshold=0.8).collect().rows())
    guarded = sorted(
        ngram_jaccard_pairs(d, threshold=0.8, max_gram_df=50).collect().rows()
    )
    assert guarded == base
    pl.release_caches()


def test_dedup_clusters_components(spark):
    from polars_net_spark.llm import dedup_clusters

    pairs = pl.from_records(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    verts = pl.from_records([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], ["doc_id"])
    out = dict(dedup_clusters(pairs, vertices=verts, vertex_id="doc_id").collect().rows())
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 99: 99}


def test_dedup_clusters_long_chain_converges(spark):
    from polars_net_spark.llm import dedup_clusters

    # path graph 0-1-2-...-40: min-label + path-halving must converge in
    # O(log n) rounds, well under max_iter
    pairs = pl.from_records([(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    out = dedup_clusters(pairs, max_iter=12).collect().rows()
    assert len(out) == 41 and all(lbl == 0 for _, lbl in out)


def test_ivf_topk_exact_when_all_lists_probed(spark):
    from polars_net_spark.llm import ivf_topk

    e = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 8))
    exact = sorted(cosine_topk(e, q, k=5).collect().rows())
    # nprobe == nlist probes every inverted list -> brute force
    ivf = sorted(ivf_topk(e, q, k=5, nlist=8, nprobe=8).collect().rows())
    assert ivf == exact


def test_ivf_topk_recall_and_plan(spark):
    from polars_net_spark.llm import ivf_topk

    e = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 8))
    lf = ivf_topk(e, q, k=5, nlist=16, nprobe=4)
    plan = lf._sdf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan  # centroid NL joins must broadcast
    got = {(r[0], r[1]) for r in lf.collect().rows()}
    exact = {(r[0], r[1]) for r in cosine_topk(e, q, k=5).collect().rows()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5  # nprobe=4/16 on an unclustered quantizer
    # every emitted cosine is a true cosine (exact re-verification)
    from polars_net_spark.llm.similarity import cosine_sim

    ver = (
        lf._sdf.alias("r")
        .join(e._sdf.alias("c"), F.col("r.corpus_id") == F.col("c.vec_id"))
        .join(e._sdf.alias("qq"), F.col("r.query_id") == F.col("qq.vec_id"))
        .withColumn("truth", F.round(cosine_sim(F.col("qq.embedding"), F.col("c.embedding")), 6))
        .filter(F.col("truth") != F.col("cosine"))
        .count()
    )
    assert ver == 0


def test_dedup_fuzzy_end_to_end(spark):
    from polars_net_spark.llm import dedup_fuzzy

    d = pl.scan_parquet("/root/testdata/sf0.001/documents.parquet")
    kept = dedup_fuzzy(d, method="minhash", threshold=0.5, n=3, num_hashes=64, bands=16)
    rows = kept.collect()
    assert rows.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    # kept set == docs that are their own cluster min over the exact pair graph
    from polars_net_spark.llm import dedup_clusters

    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)
    cl = dedup_clusters(pairs, vertices=d, vertex_id="doc_id").collect().rows()
    expected = sorted(i for i, c in cl if i == c)
    assert sorted(r[0] for r in rows.rows()) == expected


def test_kmeans_refined_ivf_recall(spark):
    from polars_net_spark.llm import ivf_topk, kmeans_centroids

    e = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = LazyFrame(e.spark.filter(F.col("vec_id") < 8))
    cents = kmeans_centroids(e, k=8, iters=3)
    assert len(cents) == 8 and all(len(c) == len(cents[0]) for c in cents)
    exact = {(r[0], r[1]) for r in cosine_topk(e, q, k=5).collect().rows()}
    got = {
        (r[0], r[1])
        for r in ivf_topk(e, q, k=5, nprobe=2, centroids=cents).collect().rows()
    }
    recall = len(got & exact) / len(exact)
    # embeddings are label-clustered: a 3-round Lloyd quantizer at nprobe=2/8
    # must capture most true neighbours
    assert recall >= 0.6, recall


def test_dedup_clusters_driver_path_matches_distributed(spark, force_distributed):
    """The small-graph union-find shortcut must produce exactly the
    distributed fixpoint's labels (min reachable id), including singletons,
    chains, and vertex filtering."""
    from polars_net_spark.llm import dedup_clusters

    # chain 1-2-3-4, pair (10,11), singleton 20, edge endpoint 99 outside verts
    pairs = pl.from_records(
        [(1, 2), (2, 3), (3, 4), (10, 11), (4, 99)], ["id_a", "id_b"]
    ).lazy()
    verts = pl.from_records(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 20)], ["doc_id"]
    ).lazy()
    fast = sorted(
        dedup_clusters(pairs, vertices=verts, vertex_id="doc_id").collect().rows()
    )
    force_distributed()
    slow = sorted(
        dedup_clusters(pairs, vertices=verts, vertex_id="doc_id").collect().rows()
    )
    assert fast == slow
    assert fast == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20)]


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path, force_distributed):
    """checkpoint_dir= switches the fixpoint to reliable .checkpoint()
    (cluster-grade: blocks survive executor loss) with identical output."""
    from polars_net_spark.llm import dedup_clusters

    pairs = pl.from_records(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    ).lazy()
    ckdir = str(tmp_path / "ck")
    force_distributed()
    out = sorted(dedup_clusters(pairs, checkpoint_dir=ckdir).collect().rows())
    assert out == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)]
    import os

    assert os.listdir(ckdir)  # reliable checkpoint actually wrote blocks


def test_dedup_fuzzy_driver_and_distributed_agree(spark, force_distributed):
    from polars_net_spark.llm import dedup_fuzzy

    d = docs(spark).lazy()
    fast = sorted(r[0] for r in dedup_fuzzy(d, threshold=0.5).collect().rows())
    force_distributed()
    slow = sorted(r[0] for r in dedup_fuzzy(d, threshold=0.5).collect().rows())
    assert fast == slow


def test_kmeans_centroids_cached_memoizes(spark, sf_dir=None):
    import polars_net_spark as pl
    from polars_net_spark.llm import similarity as sim
    from polars_net_spark.llm import kmeans_centroids_cached, clear_centroid_memo

    clear_centroid_memo()
    e = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = kmeans_centroids_cached(e, k=4, iters=1)
    assert len(c1) == 4 and len(sim._CENTROID_MEMO) == 1
    # second call: served from the memo (same object, no refit)
    c2 = kmeans_centroids_cached(e, k=4, iters=1)
    assert c2 is c1
    # different params -> separate fit
    c3 = kmeans_centroids_cached(e, k=2, iters=1)
    assert len(c3) == 2 and len(sim._CENTROID_MEMO) == 2
    clear_centroid_memo()
    assert not sim._CENTROID_MEMO


def test_duplicated_spans_merge_and_bounds(spark):
    import polars_net_spark as pl
    from polars_net_spark.llm import duplicated_spans

    rows = [
        (1, "a b c d e f g h unique tail one"),
        (2, "x a b c d e f g h y z completely different ending here"),
        (3, "nothing shared with anyone at all in this one doc"),
        (4, "r r r r r r r r r r"),  # self-repeating doc: duplicated within itself
    ]
    sdf = pl.get_spark().createDataFrame(rows, "doc_id long, text string")
    out = sorted(map(tuple, duplicated_spans(sdf, k=5).spark.collect()))
    # shared run "a b c d e f g h" (8 words = 4 overlapping 5-grams) merges to ONE span
    assert (1, 0, 8, 4) in out
    assert (2, 1, 9, 4) in out
    # within-doc repetition counts too (gram "r r r r r" occurs 6x in doc 4)
    assert (4, 0, 10, 6) in out
    # doc 3 shares nothing
    assert not any(r[0] == 3 for r in out)
    pl.release_caches()


def test_duplicated_spans_min_count_and_short_docs(spark):
    import polars_net_spark as pl
    from polars_net_spark.llm import duplicated_spans

    rows = [(1, "a b c"), (2, "a b c"), (3, "one two three four five six")]
    sdf = pl.get_spark().createDataFrame(rows, "doc_id long, text string")
    # k=5 > doc length for docs 1/2 -> no grams -> no spans anywhere
    assert duplicated_spans(sdf, k=5).spark.count() == 0
    # k=3: docs 1 and 2 are a full duplicated span
    out = sorted(map(tuple, duplicated_spans(sdf, k=3).spark.collect()))
    assert out == [(1, 0, 3, 1), (2, 0, 3, 1)]
    pl.release_caches()


def test_remove_duplicated_spans(spark):
    import polars_net_spark as pl
    from polars_net_spark.llm import duplicated_spans, remove_duplicated_spans

    rows = [
        (1, "a b c d e f g h unique tail one"),
        (2, "x a b c d e f g h y z completely different ending here"),
        (3, "clean doc with no shared runs whatsoever in it here"),
    ]
    sdf = pl.get_spark().createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(sdf, k=5).spark.collect()}
    assert out[1]["cleaned_text"] == "unique tail one" and out[1]["n_removed_words"] == 8
    assert out[2]["cleaned_text"] == "x y z completely different ending here"
    assert out[3]["cleaned_text"] == rows[2][1] and out[3]["n_removed_words"] == 0
    # custom span policy: only remove spans of >= 10 words -> nothing removed
    spans = duplicated_spans(sdf, k=5)
    big = pl.LazyFrame(spans._sdf.filter("span_end - span_start >= 10"))
    out2 = {r["doc_id"]: r for r in remove_duplicated_spans(sdf, spans=big).spark.collect()}
    assert all(out2[i]["n_removed_words"] == 0 for i in (1, 2, 3))
    pl.release_caches()


class TestCleanText:
    def test_control_and_whitespace(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import clean_text_frame

        sdf = spark.createDataFrame(
            [(1, "a\x00b\x1fc\x7fd"), (2, "  x \t\n y  "), (3, None)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in clean_text_frame(pl.LazyFrame(sdf)).spark.collect()}
        assert out[1]["clean_text"] == "abcd"
        assert out[2]["clean_text"] == "x y"
        assert out[3]["clean_text"] is None and out[3]["n_chars_after"] is None

    def test_newlines_survive_to_collapse(self, spark):
        """\\t/\\n/\\r are NOT stripped as control chars — they collapse to
        single spaces, so words never merge across line breaks (round-3
        advice item: 'line1\\nline2' must not become 'line1line2')."""
        import polars_net_spark as pl
        from polars_net_spark.llm import clean_text_frame

        sdf = spark.createDataFrame(
            [(1, "line1\nline2"), (2, "a\tb\r\nc"), (3, "v\x0bf\x0cw")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in clean_text_frame(pl.LazyFrame(sdf)).spark.collect()}
        assert out[1]["clean_text"] == "line1 line2"
        assert out[2]["clean_text"] == "a b c"
        assert out[3]["clean_text"] == "vfw"  # VT/FF are controls, stripped

    def test_nfc_path(self, spark):
        import unicodedata
        import polars_net_spark as pl
        from polars_net_spark.llm import clean_text_frame

        decomposed = "éclair"  # e + combining acute
        sdf = spark.createDataFrame([(1, decomposed)], "doc_id long, text string")
        out = clean_text_frame(pl.LazyFrame(sdf), nfc=True).spark.collect()[0]
        assert out["clean_text"] == unicodedata.normalize("NFC", decomposed)
        assert out["clean_text"].startswith("é")

    def test_cum_prod_semantics(self, spark):
        import polars_net_spark as pl
        from polars_net_spark import col

        sdf = spark.createDataFrame(
            [(1, 2.0), (2, None), (3, 3.0), (4, -4.0)], "i long, v double"
        )
        out = pl.LazyFrame(sdf).select(
            col("i"), col("v").cum_prod(order_by="i").alias("cp")
        ).sort("i").collect().rows()
        assert [r[1] for r in out] == [2.0, None, 6.0, -24.0]


class TestUrlCuration:
    def test_normalize_host_domain(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import url_metrics_frame

        urls = [
            (1, "HTTPS://Example.COM:443/Path?utm_source=x&q=1&fbclid=a#frag"),
            (2, "http://sub.news.co.uk:80/a/b/"),
            (3, "https://example.com/?ref=twitter"),
        ]
        sdf = spark.createDataFrame(urls, "doc_id long, url string")
        out = {r["doc_id"]: r for r in url_metrics_frame(pl.LazyFrame(sdf), "url").spark.collect()}
        assert out[1]["url_canonical"] == "https://example.com/Path?q=1"
        assert out[1]["host"] == "example.com" and out[1]["domain"] == "example.com"
        assert out[2]["url_canonical"] == "http://sub.news.co.uk/a/b"
        assert out[2]["domain"] == "news.co.uk"  # two-level TLD keeps 3 labels
        assert out[3]["url_canonical"] == "https://example.com"

    def test_url_key_dedups_tracking_variants(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import url_metrics_frame

        sdf = spark.createDataFrame(
            [(1, "https://a.com/x?utm_c=1"), (2, "https://A.com/x"), (3, "https://a.com/y")],
            "doc_id long, url string",
        )
        keys = [r["url_key"] for r in url_metrics_frame(pl.LazyFrame(sdf), "url").spark.collect()]
        assert keys[0] == keys[1] and keys[0] != keys[2]


class TestCorpusStats:
    def test_report_per_source_and_all(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import corpus_stats_frame

        sdf = spark.createDataFrame(
            [(1, "a b c", "s1"), (2, "", "s1"), (3, "héllo wörld", "s2"), (4, None, "s2")],
            "doc_id long, text string, source string",
        )
        per = {r["source"]: r for r in corpus_stats_frame(sdf, source_col="source").collect().spark.collect()}
        assert per["s1"]["n_docs"] == 2 and per["s1"]["total_tokens"] == 3
        assert per["s1"]["empty_frac"] == 0.5 and per["s1"]["ascii_frac"] == 1.0
        assert per["s2"]["ascii_frac"] == 0.0  # null text counts as non-ascii, héllo too
        alle = corpus_stats_frame(sdf).collect().rows()
        assert len(alle) == 1 and alle[0][1] == 4

    def test_approx_percentiles_path(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import corpus_stats_frame

        sdf = spark.createDataFrame(
            [(i, " ".join("w" * 1 for _ in range(i))) for i in range(1, 101)],
            "doc_id long, text string",
        )
        exact = corpus_stats_frame(sdf).collect().rows()[0]
        approx = corpus_stats_frame(sdf, exact_percentiles=False).collect().rows()[0]
        assert abs(exact[4] - approx[4]) <= 1.0  # p50 within a rank


def test_filter_by_domains(spark):
    from polars_net_spark.llm import filter_by_domains

    sdf = spark.createDataFrame(
        [(1, "https://good.com/a"), (2, "https://Spam.xyz/b"), (3, "http://sub.good.com/c")],
        "doc_id long, url string",
    )
    assert sorted(r[0] for r in filter_by_domains(sdf, block=["spam.xyz"]).collect().rows()) == [1, 3]
    assert sorted(r[0] for r in filter_by_domains(sdf, allow=["good.com"]).collect().rows()) == [1, 3]
    assert sorted(
        r[0] for r in filter_by_domains(sdf, allow=["good.com"], block=["good.com"]).collect().rows()
    ) == []
    import pytest as _pt

    with _pt.raises(ValueError):
        filter_by_domains(sdf)


def test_build_vocab_and_encode(spark):
    import polars_net_spark as pl
    from polars_net_spark.llm import build_vocab, encode_tokens_frame

    rows = [(1, "a b a c"), (2, "a b b"), (3, "zz")]
    d = pl.from_records(rows, ["doc_id", "text"])
    vocab = build_vocab(d, vocab_size=2)
    v = dict((r[0], r[1]) for r in vocab.collect().rows())
    # a:3, b:3 tie -> term asc; c/zz cut
    assert v == {"a": 0, "b": 1}
    enc = sorted(encode_tokens_frame(d, vocab).collect().rows())
    assert enc == [
        (1, [0, 1, 0, -1], 4),
        (2, [0, 1, 1], 3),
        (3, [-1], 1),
    ]
    # oov_id=None drops OOV tokens (doc 3 vanishes entirely)
    enc2 = sorted(encode_tokens_frame(d, vocab, oov_id=None).collect().rows())
    assert enc2 == [(1, [0, 1, 0], 3), (2, [0, 1, 1], 3)]


def test_encode_tokens_map_only_kernel(spark):
    """r12 rewrite guards: map-only plan (no shuffle/join), token_id dtype
    follows the vocab (int from build_vocab, bigint from a user frame),
    duplicate vocab terms resolve to the smallest id."""
    import polars_net_spark as pl
    from pyspark.sql.types import ArrayType, IntegerType, LongType
    from polars_net_spark.llm import build_vocab, encode_tokens_frame

    d = pl.from_records([(1, "a b a"), (2, "   "), (3, None)], ["doc_id", "text"])
    vocab = build_vocab(d, vocab_size=5)
    enc = encode_tokens_frame(d, vocab)
    plan = enc.spark._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Join" not in plan and "MapInArrow" in plan
    assert enc.spark.schema["token_ids"].dataType == ArrayType(IntegerType())
    # blank/null docs drop (posexplode parity of the r11 shape)
    assert sorted(enc.collect().rows()) == [(1, [0, 1, 0], 3)]

    big = spark.createDataFrame(
        [("a", 7), ("b", 9), ("a", 3)], ["term", "token_id"]  # bigint, dup term
    )
    enc2 = encode_tokens_frame(d, big)
    assert enc2.spark.schema["token_ids"].dataType == ArrayType(LongType())
    assert sorted(enc2.collect().rows()) == [(1, [3, 9, 3], 3)]


def test_build_vocab_min_count(spark):
    import polars_net_spark as pl
    from polars_net_spark.llm import build_vocab

    d = pl.from_records([(1, "x x y")], ["doc_id", "text"])
    out = build_vocab(d, vocab_size=10, min_count=2).collect().rows()
    assert [(r[0], r[1], r[2]) for r in out] == [("x", 0, 2)]


def test_split_sentences(spark):
    import polars_net_spark as pl
    from polars_net_spark.llm import split_sentences_frame

    rows = [
        (1, "Hello world. Second one!  Third?"),
        (2, "no terminator at all"),
        (3, "Multi!! Bang?! end"),
    ]
    d = pl.from_records(rows, ["doc_id", "text"])
    out = sorted(split_sentences_frame(d).collect().rows())
    assert out == [
        (1, 0, "Hello world."),
        (1, 1, "Second one!"),
        (1, 2, "Third?"),
        (2, 0, "no terminator at all"),
        (3, 0, "Multi!!"),
        (3, 1, "Bang?!"),
        (3, 2, "end"),
    ]


def test_dedup_against_reference(spark):
    from polars_net_spark.llm import dedup_against

    new = pl.from_records(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (2, "totally novel content nothing like the reference set"),
            (4, "hi"),  # < n words: no grams, always survives
        ],
        ["doc_id", "text"],
    )
    ref = pl.from_records(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # dup of 0
            (3, "reference material about engines and turbines"),
        ],
        ["doc_id", "text"],
    )
    out = sorted(r[0] for r in dedup_against(new, ref, threshold=0.8).collect().rows())
    assert out == [2, 4]
    # threshold high enough -> nothing drops
    out2 = sorted(r[0] for r in dedup_against(new, ref, threshold=1.01).collect().rows())
    assert out2 == [0, 2, 4]
    # new batch is never compared to itself: identical docs WITHIN new survive
    new2 = pl.from_records(
        [(0, "aa bb cc dd ee"), (2, "aa bb cc dd ee")], ["doc_id", "text"]
    )
    ref2 = pl.from_records([(1, "zz yy xx ww vv")], ["doc_id", "text"])
    out3 = sorted(r[0] for r in dedup_against(new2, ref2).collect().rows())
    assert out3 == [0, 2]


def test_embedding_threshold_join_paths_agree(spark, force_distributed):
    from polars_net_spark.llm import embedding_threshold_join

    left = pl.from_records(
        [(0, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])], ["vec_id", "embedding"]
    ).lazy()
    right = pl.from_records(
        [(1, [0.99, 0.1, 0.0]), (3, [0.0, 0.0, 1.0]), (5, [0.1, 0.99, 0.0])],
        ["vec_id", "embedding"],
    ).lazy()
    numpy_out = sorted(
        embedding_threshold_join(left, right, threshold=0.9).collect().rows()
    )
    assert [(a, b) for a, b, _ in numpy_out] == [(0, 1), (2, 5)]
    # bucketed path: same pairs (recall holds at these settings), precision 1
    force_distributed()
    bucketed = sorted(
        embedding_threshold_join(
            left, right, threshold=0.9, num_planes=4, num_tables=16,
        ).collect().rows()
    )
    assert bucketed == numpy_out
    # bucketed plan never cross-joins
    plan = (
        embedding_threshold_join(left, right, threshold=0.9)
        .spark._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_containment_pairs_asymmetric(spark):
    from polars_net_spark.llm import containment_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),     # long doc
        (2, "alpha beta gamma delta"),                  # prefix excerpt of 1
        (3, "totally different words entirely here now"),
    ]
    d = pl.from_records(rows, ["doc_id", "text"])
    out = {(a, b): c for a, b, c in containment_pairs(d, threshold=0.9).collect().rows()}
    # doc2's grams are all inside doc1 -> containment(2 in 1) = 1.0
    assert out == {(2, 1): 1.0}
    # symmetric jaccard would be 2/4 = 0.5 — the asymmetric score is the point
    low = containment_pairs(d, threshold=0.4).collect().rows()
    assert (1, 2, 0.5) in [tuple(r) for r in low]


def test_dedup_against_index_steady_state(spark):
    """Persisted gram index: build once, dedup many batches against it.
    Output must be identical to the direct dedup_against path, and the
    reference side must read pre-bucketed files (no Exchange above either
    reference scan — the new batch's own shuffle is the only one)."""
    from polars_net_spark.llm import (
        build_gram_index, dedup_against, dedup_against_index,
    )

    ref_rows = [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "pack my box with five dozen liquor jugs right now"),
        (102, "sphinx of black quartz judge my vow said the king"),
    ]
    new_rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),   # dup of 100
        (2, "a completely novel document with fresh unseen words"),
        (3, "pack my box with five dozen liquor jugs right now"),   # dup of 101
        (4, "another unique crawl page nothing like the reference"),
    ]
    ref = pl.from_records(ref_rows, ["doc_id", "text"])
    new = pl.from_records(new_rows, ["doc_id", "text"])
    try:
        build_gram_index(ref, "t_gram_idx", num_buckets=8)
        direct = sorted(r[0] for r in dedup_against(new, ref).collect().rows())
        for _ in range(2):  # recurring batches reuse the same index
            got = dedup_against_index(new, "t_gram_idx")
            assert sorted(r[0] for r in got.collect().rows()) == direct == [2, 4]
        # plan: bucketed reference scans, and strictly fewer shuffles than
        # the direct path (which must explode + shuffle the reference)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            idx_plan = (
                dedup_against_index(new, "t_gram_idx")
                .spark._jdf.queryExecution().executedPlan().toString()
            )
            direct_plan = (
                dedup_against(new, ref)
                .spark._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Bucketed: true" in idx_plan
        assert idx_plan.count("Exchange") < direct_plan.count("Exchange")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_gram_idx_postings")
        spark.sql("DROP TABLE IF EXISTS t_gram_idx_grams")


def test_dedup_against_index_capped_matches_direct_cap(spark):
    """A build-time max_gram_df cap reproduces the direct capped path:
    candidates prune on the capped postings, verification stays exact."""
    from polars_net_spark.llm import (
        build_gram_index, dedup_against, dedup_against_index,
    )

    hot = "copyright two thousand all rights reserved worldwide"
    ref = pl.from_records(
        [(i, f"{hot} ref tail {i} alpha{i} beta{i}") for i in range(50, 60)],
        ["doc_id", "text"],
    )
    new = pl.from_records(
        [(1, f"{hot} ref tail 51 alpha51 beta51"),    # true dup of ref 51
         (2, f"{hot} brand new body text here")],     # shares only hot grams
        ["doc_id", "text"],
    )
    try:
        build_gram_index(ref, "t_gram_idx_cap", num_buckets=8, max_gram_df=3)
        got = sorted(
            r[0] for r in dedup_against_index(new, "t_gram_idx_cap", threshold=0.5)
            .collect().rows()
        )
        direct = sorted(
            r[0] for r in dedup_against(new, ref, threshold=0.5, max_gram_df=3)
            .collect().rows()
        )
        assert got == direct
    finally:
        spark.sql("DROP TABLE IF EXISTS t_gram_idx_cap_postings")
        spark.sql("DROP TABLE IF EXISTS t_gram_idx_cap_grams")


def test_containment_prefix_orders_exact(spark):
    """Both prefix orders are EXACT (recall 1): identical output to the
    unfiltered postings join on a corpus with shared boilerplate grams."""
    from polars_net_spark.llm import containment_pairs

    boiler = "all rights reserved by the site"
    rows = [
        (i, f"{boiler} unique tail words {i} {'x'*(i % 3)} y{i} z{i}")
        for i in range(1, 21)
    ] + [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon"),          # contained in 100
        (102, f"{boiler} unique tail words 1 x y1 z1 and more trailing text"),
    ]
    d = pl.from_records(rows, ["doc_id", "text"])
    for t in (0.5, 0.8):
        base = sorted(
            tuple(r) for r in
            containment_pairs(d, threshold=t, prefix_order=None).collect().rows()
        )
        for order in ("lex", "df"):
            got = sorted(
                tuple(r) for r in
                containment_pairs(d, threshold=t, prefix_order=order).collect().rows()
            )
            assert got == base, (t, order)
    assert any(a == 101 and b == 100 for a, b, _ in base)


def test_containment_df_probe_runs_once(spark):
    """With max_gram_df set and prefix_order="df", two gram-df tables attach
    but the occurrence-count probe that decides their broadcast runs once:
    building the plan submits as many Spark jobs as the one-attach form,
    and the output is unchanged."""
    from polars_net_spark.llm import containment_pairs

    hot = "the quick brown fox jumps over dog"
    rows = [(i, f"{hot} filler{i} pad{i} tail{i}") for i in range(1, 16)]
    rows += [(200, hot), (201, hot + " extra trailing words here")]
    d = pl.from_records(rows, ["doc_id", "text"])
    sc = spark.sparkContext

    def build_jobs(**kw):
        pl.release_caches()
        group = f"containment_probe_{len(kw)}"
        sc.setJobGroup(group, group)
        try:
            lf = containment_pairs(d, threshold=0.9, prefix_order="df", **kw)
            return len(sc.statusTracker().getJobIdsForGroup(group)), lf
        finally:
            sc.setJobGroup(None, None)

    one_attach, _ = build_jobs()
    two_attach, lf = build_jobs(max_gram_df=1000)
    assert one_attach >= 1
    assert two_attach == one_attach
    got = sorted(tuple(r) for r in lf.collect().rows())
    full = sorted(
        tuple(r) for r in
        containment_pairs(d, threshold=0.9, prefix_order=None).collect().rows()
    )
    assert got == full
    pl.release_caches()


def test_containment_max_gram_df_recall_contract(spark):
    """max_gram_df is approximate: capped output ⊆ uncapped output, every
    emitted value is the true containment, and a generous cap changes
    nothing.  A pair is missed only when every prefix gram the container
    shares is hotter than the cap."""
    from polars_net_spark.llm import containment_pairs

    hot = "the quick brown fox jumps over dog"   # shared by many docs
    rows = [(i, f"{hot} filler{i} pad{i} tail{i}") for i in range(1, 16)]
    rows += [(200, hot), (201, hot + " extra trailing words here")]
    d = pl.from_records(rows, ["doc_id", "text"])
    full = {
        (a, b): c for a, b, c in
        containment_pairs(d, threshold=0.9).collect().rows()
    }
    generous = {
        (a, b): c for a, b, c in
        containment_pairs(d, threshold=0.9, max_gram_df=1000).collect().rows()
    }
    assert generous == full
    capped = {
        (a, b): c for a, b, c in
        containment_pairs(d, threshold=0.9, max_gram_df=3).collect().rows()
    }
    assert set(capped) <= set(full)              # never invents pairs
    for k, v in capped.items():
        assert v == full[k]                      # emitted values stay exact
    # doc 200 is fully contained in 201 via hot grams only -> capped run
    # may drop it, the uncapped run must have it
    assert (200, 201) in full


class TestBPE:
    @staticmethod
    def _reference_bpe(word_counts, num_merges, eow="</w>", min_pair_count=2):
        """Single-node reference trainer (Sennrich-style) the distributed
        trainer must reproduce exactly, ties broken lexicographically."""
        vocab = {tuple(list(w) + [eow]): c for w, c in word_counts.items()}
        merges = []
        for r in range(num_merges):
            pairs = {}
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            (l, rr), c = best
            if c < min_pair_count:
                break
            merges.append((r, l, rr, c))
            new_vocab = {}
            for syms, cnt in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == rr:
                        out.append(l + rr)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
            vocab = new_vocab
        return merges

    def test_matches_reference_trainer(self, spark):
        from collections import Counter
        from polars_net_spark.llm.vocab import train_bpe

        corpus = [
            "low low low low low",
            "lower lower newest newest",
            "newest newest newest newest widest",
            "widest widest low lower",
        ]
        d = pl.from_records([(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"])
        got = [tuple(r) for r in train_bpe(d, num_merges=8).collect().rows()]
        wc = Counter(w for t in corpus for w in t.split())
        want = self._reference_bpe(wc, 8)
        assert got == [(r, l, rr, c) for r, l, rr, c in want]
        assert len(got) == 8

    def test_min_pair_count_stops(self, spark):
        from polars_net_spark.llm.vocab import train_bpe

        d = pl.from_records([(1, "ab cd ef")], ["doc_id", "text"])  # all pairs count 1
        assert train_bpe(d, num_merges=5, min_pair_count=2).collect().height == 0

    def test_driver_and_distributed_paths_identical(self, spark, force_distributed):
        # a bound of 0 forces the distributed loop; both paths must
        # produce the identical merge table (the r8 fast-path contract)
        from polars_net_spark.llm.vocab import train_bpe

        corpus = [
            "low low low lower newest",
            "newest newest widest low lowest",
            "wide wider widest newest ab",
        ]
        d = pl.from_records([(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"])
        fast = train_bpe(d, num_merges=6).collect().rows()
        force_distributed()
        dist = train_bpe(d, num_merges=6).collect().rows()
        assert fast == dist and len(fast) > 0

    def test_greedy_overlap(self, spark):
        from polars_net_spark.llm.vocab import train_bpe

        # "aaa": pair (a,a) counts twice per word (overlapping occurrences
        # both counted), merge is greedy left-to-right -> ["aa","a","</w>"]
        d = pl.from_records([(1, "aaa aaa aaa")], ["doc_id", "text"])
        rows = train_bpe(d, num_merges=1, min_pair_count=2).collect().rows()
        assert [tuple(r) for r in rows] == [(0, "a", "a", 6)]

    def test_encode_roundtrip(self, spark):
        from collections import Counter
        from polars_net_spark.llm.vocab import train_bpe, bpe_encode_frame

        corpus = ["low low lower lowest", "newest newest lowest low"]
        d = pl.from_records([(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"])
        merges = train_bpe(d, num_merges=6, min_pair_count=2)
        enc = bpe_encode_frame(d, merges)
        got = {r[0]: (r[1], r[2]) for r in enc.collect().rows()}
        # every doc encodes; concatenating token strings reproduces the words
        for i, t in enumerate(corpus):
            toks, n = got[i]
            assert n == len(toks) > 0
            rebuilt = "".join(toks).replace("</w>", " ").strip()
            assert rebuilt == t
        # high-frequency words compress below character count
        toks0 = got[0][0]
        assert len(toks0) < sum(len(w) + 1 for w in corpus[0].split())

    def test_encode_no_forced_broadcast(self, spark):
        # scale contract: distinct_words is corpus-derived and unbounded —
        # the reassembly join must NOT carry a forced broadcast hint (AQE
        # may still pick broadcast at runtime when the measured size fits;
        # that is exactly the behavior we want)
        from polars_net_spark.llm.vocab import train_bpe, bpe_encode_frame

        d = pl.from_records(
            [(0, "low low lower"), (1, "newest lowest low")], ["doc_id", "text"]
        )
        merges = train_bpe(d, num_merges=4, min_pair_count=2)
        plain = bpe_encode_frame(d, merges)
        analyzed = plain.spark._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed
        forced = bpe_encode_frame(d, merges, broadcast_vocab=True)
        analyzed_f = forced.spark._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" in analyzed_f
        # results identical either way
        a = sorted(plain.collect().rows())
        b = sorted(forced.collect().rows())
        assert a == b

    def test_checkpoint_dir(self, spark, tmp_path):
        from polars_net_spark.llm.vocab import train_bpe

        d = pl.from_records(
            [(1, "banana banana bandana banana bandana")], ["doc_id", "text"]
        )
        base = [tuple(r) for r in train_bpe(d, num_merges=4, checkpoint_every=2).collect().rows()]
        ck = [tuple(r) for r in train_bpe(
            d, num_merges=4, checkpoint_every=2, checkpoint_dir=str(tmp_path / "bpe")
        ).collect().rows()]
        assert base == ck and len(base) >= 1


class TestDedupKeepBest:
    def test_keeps_highest_quality_per_cluster(self, spark):
        from polars_net_spark.llm import dedup_keep_best

        docs = pl.from_records(
            [
                (1, "aa", 0.2), (2, "aa2", 0.9), (3, "aa3", 0.9),   # cluster {1,2,3}
                (4, "bb", 0.5),                                     # singleton
                (5, "cc", 0.1), (6, "cc2", 0.7),                    # cluster {5,6}
            ],
            ["doc_id", "text", "score"],
        )
        pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
        out = dedup_keep_best(docs, pairs, "score").collect()
        kept = sorted(r[0] for r in out.rows())
        # cluster {1,2,3}: 2 and 3 tie on 0.9 -> lowest id (2) wins
        assert kept == [2, 4, 6]
        assert set(out.columns) == {"doc_id", "text", "score"}

    def test_expression_quality_and_cluster_audit(self, spark):
        from polars_net_spark.llm import dedup_keep_best

        docs = pl.from_records(
            [(1, "short"), (2, "the much longer body"), (3, "x")],
            ["doc_id", "text"],
        )
        pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        out = dedup_keep_best(
            docs, pairs, F.length("text"), keep_cluster_id=True
        ).collect()
        rows = {r[0]: r for r in out.rows()}
        assert sorted(rows) == [2, 3]            # longest of {1,2}; singleton 3
        assert rows[2][out.columns.index("cluster_id")] == 1
