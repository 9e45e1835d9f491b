"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design: the only O(n²) computations happen *within candidate buckets*
(LSH bands / hash buckets), never across the corpus.  Candidate generation is
pure Column expressions; exact verification joins only the candidate pairs.
At 100 TB the shuffles are: one on shingle/band hash (bounded by bucket
sizes), one on doc_id for verification — both key-partitioned and AQE-skew
handled.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame as SparkDF, Window
from pyspark.sql import functions as F

from .._arrow import map_batches
from .._bounded import bounded, record
from .._cache import register_cache
from ..frame import LazyFrame
from ..operators.graph import _min_id_components

__all__ = [
    "dedup_exact",
    "dedup_clusters",
    "dedup_fuzzy",
    "dedup_against",
    "dedup_keep_best",
    "build_gram_index",
    "dedup_against_index",
    "containment_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_prefix",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_near_dup_pairs",
    "banded_hamming_pairs",
    "embedding_near_dup_pairs",
]


def _sdf(frame) -> SparkDF:
    """Unwrap LazyFrame / eager DataFrame / raw pyspark DataFrame."""
    return frame if isinstance(frame, SparkDF) else frame.spark


def dedup_exact(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> LazyFrame:
    """Exact dedup: keep the lowest id per identical (normalized) text.

    hash-groupBy on the text content — one shuffle, map-side combine.  The
    shuffle key is md5(text), not the text itself, so 100 TB of documents
    shuffles 16 bytes per row + ids.
    """
    sdf = _sdf(frame)
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    keyed = sdf.withColumn("__key__", F.md5(text))
    keep = keyed.groupBy("__key__").agg(F.min(id_col).alias(id_col))
    out = keyed.join(keep, ["__key__", id_col], "inner").drop("__key__")
    return LazyFrame(out)


def _word_ngrams(text: Column, n: int) -> Column:
    words = F.split(F.trim(F.lower(text)), r"\s+")
    cnt = F.size(words)
    # zip_with over shifted slices evaluates `words` n times per row; the
    # transform(idx, slice...) form re-evaluated it once PER GRAM (no CSE
    # into the lambda -> O(words^2) regex work; same fix as ngram_coverage)
    ln = F.greatest(cnt - (n - 1), F.lit(0))
    grams = F.slice(words, 1, ln)
    for _j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(words, 1 + _j, ln),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(F.when(cnt >= n, grams).otherwise(F.array()))


def _grams_frame(
    sdf: SparkDF, text_col: str, id_col: str, n: int, cache_words: bool = False,
    nonempty: bool = False, hash_grams: bool = False,
) -> SparkDF:
    """(id, grams) projection, staged for downstream explodes/joins.

    ``nonempty=True`` drops docs with fewer than n words BEFORE the gram
    projection via the equivalent cheap predicate ``size(words) >= n``.
    Callers must NOT filter ``size(grams) > 0`` afterwards: a filter on the
    gram expression re-evaluates the whole shingle transform for the
    predicate (no CSE through Filter+Project — measured 6.4 s vs 0.5 s
    cache populate at sf0.1, a 12x tax).

    The words split is staged *below a repartition exchange* before the
    shingle transform: when the split is inlined into the transform lambda,
    Catalyst's project-collapse re-evaluates it per shingle (~7x, measured);
    the exchange is a collapse barrier, so ``__ws__`` stays a materialized
    attribute.  It also rebalances single-file inputs across the cluster.

    ``cache_words=True`` additionally persists the words stage — only worth
    it when the CALLER reads this frame's output more than once WITHOUT
    persisting it (decontam's empty/non-empty split); callers that persist
    the gram output themselves (minhash, jaccard) must not pay the extra
    materialization (the r2 q31 3x regression).
    """
    par = sdf.sparkSession.sparkContext.defaultParallelism
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    staged = sdf.select(F.col(id_col).alias("id"), words.alias("__ws__")).repartition(par)
    if cache_words:
        staged = register_cache(staged)
    ws = F.col("__ws__")
    if nonempty:
        # cheap pre-projection equivalent of size(grams) > 0
        staged = staged.filter(F.size(ws) >= n)
    cnt = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))

    def shingle(i):
        s = F.array_join(F.slice(ws, i + 1, n), " ")
        # hash_grams: gram IDENTITY becomes its xxhash64 — caching/shuffling
        # 8-byte longs instead of strings is the dominant cost of the gram
        # family (measured 5.9 s -> 0.6 s postings materialization at sf0.1);
        # distinctness/joins/intersections are exact modulo a 2^-64-class
        # collision (the md5-fingerprint trade the dedup family already makes)
        return F.xxhash64(s) if hash_grams else s

    grams = F.array_distinct(
        F.when(cnt >= n, F.transform(idx, shingle)).otherwise(F.array())
    )
    return staged.select("id", grams.alias("grams"))


def _verify_pairs_exact(grams: SparkDF, cands: SparkDF, threshold: float, round_to: int) -> SparkDF:
    """Join candidate (id_a, id_b) pairs back to their full gram sets and
    compute the TRUE Jaccard — used by every candidate-generation strategy so
    pruning can never change an emitted similarity value."""
    ga = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("sa"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("sb"))
    paired = cands.join(ga, "id_a").join(gb, "id_b")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    jac = F.round(inter / union, round_to)
    return (
        paired.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    round_to: int = 6,
    max_gram_df: int | None = None,
    gram_hash: bool = True,
) -> LazyFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, sim >= threshold).

    Inverted-index candidate generation: explode distinct n-grams, self-join
    on the gram (only docs sharing ≥1 gram ever meet), count shared grams per
    pair, then jaccard = shared / (|A| + |B| - shared).  No minhash error —
    this is the exact oracle the approximate methods are verified against.

    ``max_gram_df`` is the gram-skew guard for corpus scale: grams appearing
    in more than that many documents ("stop grams") are excluded from the
    inverted index, so one hot gram can't produce an O(df²) postings
    self-join.  Candidates surviving the pruned index are then verified
    against their FULL gram sets, so every emitted pair carries its true
    Jaccard (precision 1); only pairs whose shared grams are ALL stop grams
    can be missed — at high thresholds such pairs must share many grams, so
    the df of their rarest shared gram bounds the loss (pick max_gram_df
    above the expected duplicate-cluster size).

    ``gram_hash=True`` (default) keys the inverted index and the shared
    counts by the gram's xxhash64 instead of the gram string — 8-byte join
    keys and long-array caches instead of strings (measured 5.9 s -> 0.6 s
    postings materialization at sf0.1).  Exact modulo a 2^-64-class hash
    collision per gram pair — the same trade dedup_exact's md5 fingerprint
    already makes; pass False for the string-keyed path.
    """
    sdf = _sdf(frame)
    if max_gram_df is not None:
        grams = register_cache(
            _grams_frame(sdf, text_col, id_col, n, nonempty=True, hash_grams=gram_hash)
        )
        exploded = grams.select(
            "id", F.size("grams").alias("g"), F.explode("grams").alias("gram")
        )
        gram_df = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        kept = (
            exploded.join(gram_df.filter(F.col("df") <= max_gram_df), "gram")
            .select("id", "g", "gram")
        )
        lhs = kept.select(F.col("id").alias("id_a"), F.col("g").alias("ga"), "gram")
        rhs = kept.select(F.col("id").alias("id_b"), F.col("g").alias("gb"), "gram")
        cands = (
            lhs.join(rhs, "gram")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                (F.col("ga") >= threshold * F.col("gb"))
                & (F.col("gb") >= threshold * F.col("ga"))
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        return LazyFrame(_verify_pairs_exact(grams, cands, threshold, round_to))
    # persist the gram ARRAY frame, not the postings: size()+explode() over
    # one un-cached Project collapse into TWO evaluations of the shingle
    # transform (measured 2.8 s vs 0.3 s array-cache populate at sf0.1);
    # exploding from the cached arrays is cheap and runs per join side
    grams = register_cache(_grams_frame(sdf, text_col, id_col, n, hash_grams=gram_hash))
    exploded = grams.select(
        "id", F.size("grams").alias("n_grams"), F.explode("grams").alias("gram")
    )
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("n_grams").alias("na"), "gram"
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("n_grams").alias("nb"), "gram"
    )
    # size filter: jaccard >= t needs |A| >= t·|B| (and vice versa) — prunes
    # candidate pairs before the aggregation, exactly.
    pairs = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sim = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    out = (
        pairs.withColumn("jaccard", F.round(sim, round_to))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return LazyFrame(out)


def ngram_jaccard_pairs_prefix(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    round_to: int = 6,
    gram_hash: bool = True,
) -> LazyFrame:
    """Exact n-gram Jaccard pairs via AllPairs/PPJoin prefix filtering.

    Same output as :func:`ngram_jaccard_pairs`, different candidate
    generation: grams are canonically ordered by global document frequency
    (rarest first); a doc of g grams indexes only its first
    g - ceil(t·g) + 1 grams.  Any pair with J ≥ t must collide inside these
    prefixes (standard AllPairs bound), so recall stays exact while the
    inverted index shrinks — and because rare grams come first, the surviving
    postings have short lists.  Candidates are then verified with the true
    Jaccard.  The scale path for high-threshold joins over huge corpora.
    ``gram_hash`` as in :func:`ngram_jaccard_pairs` (df ordering and the
    AllPairs bound are oblivious to gram identity, so the prefix filter is
    unchanged).
    """
    from pyspark.sql import Window

    sdf = _sdf(frame)
    grams = register_cache(
        _grams_frame(sdf, text_col, id_col, n, nonempty=True, hash_grams=gram_hash)
    )
    exploded = grams.select("id", F.size("grams").alias("g"), F.explode("grams").alias("gram"))
    gram_df = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = (F.col("g") - F.ceil(F.lit(threshold) * F.col("g")) + 1).cast("int")
    ranked = (
        exploded.join(gram_df, "gram")
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("id").orderBy(F.col("df"), F.col("gram"))),
        )
        .filter(F.col("rnk") <= prefix_len)
        .select("id", "g", "gram")
    )
    lhs = ranked.select(F.col("id").alias("id_a"), F.col("g").alias("ga"), "gram")
    rhs = ranked.select(F.col("id").alias("id_b"), F.col("g").alias("gb"), "gram")
    cands = (
        lhs.join(rhs, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("ga") >= threshold * F.col("gb"))
            & (F.col("gb") >= threshold * F.col("ga"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return LazyFrame(_verify_pairs_exact(grams, cands, threshold, round_to))


def minhash_lsh_pairs(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify: bool = True,
    round_to: int = 6,
) -> LazyFrame:
    """MinHash + LSH near-dup pairs: shingle → minhash signature → band
    buckets → bucket-join candidates → (optionally) exact-Jaccard verify.

    The signature is computed without any explode, via the
    Kirsch-Mitzenmacher two-hash family: each shingle is hashed TWICE
    (xxhash64 seeds 1/2, staged behind a cache boundary so Catalyst cannot
    inline the recompute), then hash_k(g) = h1(g) + k*h2(g) — sig[k] =
    array_min of a zip_with, pure codegen arithmetic.  64 independent
    hashes per gram -> 2 hashes + multiply-adds (measured 1.29 s -> 0.45 s
    for the signature stage at sf0.1).  The standard trade: pairwise
    instead of full independence — with verify=True the output is
    exact-Jaccard-filtered, so the family only affects RECALL of the
    candidate step, never precision (and the gate oracles pin recall=1 at
    their settings).  Bands of r = num_hashes/bands rows are hashed to
    buckets; only same-bucket docs become candidates.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sdf = _sdf(frame)
    # persisted: feeds signature computation AND both sides of the
    # candidate-verification join
    grams = register_cache(
        _grams_frame(sdf, text_col, id_col, n, nonempty=True)
    )
    # per-gram base hashes stay JVM-native xxhash64; the 64-seed
    # Kirsch-Mitzenmacher fold (sig[k] = min over grams of h1 + k·h2)
    # moves to a vectorized numpy mapInArrow kernel — the r11 Catalyst
    # version ran it as transform(seeds, array_min(zip_with(...))), all
    # interpreted (HOFs have no codegen), ~num_hashes dispatches per gram.
    # Java long wrap-around arithmetic is replicated exactly: uint64
    # mul/add (mod 2^64), then an int64 view for the SIGNED min.
    hashed = grams.select(
        "id",
        F.transform("grams", lambda g: F.xxhash64(g, F.lit(1))).alias("__h1__"),
        F.transform("grams", lambda g: F.xxhash64(g, F.lit(2))).alias("__h2__"),
    )
    id_type = hashed.schema["id"].dataType.simpleString()
    num = int(num_hashes)

    def _sig_batches(batches):
        import numpy as np

        ks = np.arange(num, dtype=np.uint64)
        for batch in batches:
            ids = batch.column(0)
            h1l = batch.column(1).to_pylist()
            h2l = batch.column(2).to_pylist()
            sigs: list = []
            for h1v, h2v in zip(h1l, h2l):
                if not h1v:
                    sigs.append(None)
                    continue
                a = np.array(h1v, np.int64).view(np.uint64)
                b = np.array(h2v, np.int64).view(np.uint64)
                m = (
                    (a[None, :] + ks[:, None] * b[None, :])
                    .view(np.int64)
                    .min(axis=1)
                )
                sigs.append(m.tolist())
            yield {"id": ids, "sig": sigs}

    sig_df = map_batches(hashed, _sig_batches, f"id {id_type}, sig array<bigint>")

    # band entries carry only (id, band, bucket) — no arrays — and are
    # persisted so the bucket self-join reads them twice for free
    band_entries = (
        sig_df
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.xxhash64(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.element_at(F.col("sig"), bi * r + j + 1).cast("string")
                                        for j in range(r)
                                    ],
                                )
                            ).alias("bucket"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )
    band_entries = register_cache(band_entries)

    lhs = band_entries.select(F.col("id").alias("id_a"), "band", "bucket")
    rhs = band_entries.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = (
        lhs.join(rhs, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return LazyFrame(cands)
    # exact verification: join the (few) candidates back to the gram sets
    return LazyFrame(_verify_pairs_exact(grams, cands, threshold, round_to))


def simhash_signatures(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> LazyFrame:
    """SimHash per document, as pure Column expressions.

    For each bit i: sum over tokens of (+1 if bit set in hash(token) else
    -1); sign → bit.  Near-dups then cluster by Hamming distance (e.g. join on
    16-bit chunks of the signature — any chunk equal ⇒ distance ≤ 48 candidate).

    hash_fn='xxhash64' (default): 64-bit JVM hash, the fast path.
    hash_fn='md5' (bits ≤ 60): token hash = first 15 hex chars of md5 read as
    a 60-bit integer — bit-identical to any engine with md5 (the DuckDB
    oracle replicates it digit-by-digit), so the output is externally
    verifiable, at the cost of the md5 evaluation.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    if hash_fn == "md5" and bits > 60:
        raise ValueError("hash_fn='md5' supports at most 60 bits (15 hex chars)")
    sdf = _sdf(frame)
    words = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    # Tokenization (and, for xxhash64, the JVM-native token hash) stays in
    # Spark expressions; the per-token ±1 bit-sum fold moves to a
    # vectorized numpy mapInArrow kernel.  The r11 fold was an aggregate()
    # HOF whose merge step built a `bits`-wide when() array per token —
    # higher-order functions have no codegen, so every token paid `bits`
    # interpreted-lambda dispatches.  The kernel computes the identical
    # integers: bit i of hash h via (h >> i) & 1 (sign bit included — the
    # hashes ride in as uint64 views), sum over tokens, sign → bit.
    from .._spread import spread_plain_scan

    staged = sdf.select(F.col(id_col).alias("__id__"), words.alias("__w__"))
    staged = spread_plain_scan(staged)
    use_md5 = hash_fn == "md5"
    if not use_md5:
        staged = staged.select(
            "__id__",
            F.transform("__w__", lambda w: F.xxhash64(w)).alias("__w__"),
        )
    id_type = staged.schema["__id__"].dataType.simpleString()
    bits_ = int(bits)

    def _sig(batches):
        import hashlib

        import numpy as np

        shifts = np.arange(bits_, dtype=np.uint64)
        bitvals = (np.uint64(1) << shifts)
        for batch in batches:
            ids = batch.column(0)
            col = batch.column(1).to_pylist()
            sims = np.zeros(len(col), dtype=np.uint64)
            for i, toks in enumerate(col):
                if not toks:  # null or empty token array -> all-zero sums
                    continue
                if use_md5:
                    h = np.array(
                        [
                            int(
                                hashlib.md5(t.encode("utf-8")).hexdigest()[:15],
                                16,
                            )
                            for t in toks
                        ],
                        dtype=np.uint64,
                    )
                else:
                    h = np.array(toks, dtype=np.int64).view(np.uint64)
                set_counts = (
                    ((h[:, None] >> shifts[None, :]) & np.uint64(1))
                    .astype(np.int64)
                    .sum(axis=0)
                )
                pos = (2 * set_counts - h.size) > 0
                sims[i] = bitvals[pos].sum()
            yield {"__id__": ids, "simhash": sims.view(np.int64)}

    out = map_batches(staged, _sig, f"__id__ {id_type}, simhash bigint").select(
        F.col("__id__").alias(id_col), "simhash"
    )
    return LazyFrame(out)


def banded_hamming_pairs(
    hashed: "LazyFrame | SparkDF",
    hash_col: str,
    id_col: str,
    max_hamming: int = 6,
    bands: int = 4,
    bits: int = 64,
) -> LazyFrame:
    """All id pairs whose integer fingerprints are within ``max_hamming`` bits,
    found via banded bucket joins — the shared candidate engine behind simhash,
    image-aHash, and audio-fingerprint near-dup.

    The ``bits``-bit hash splits into ``bands`` equal bit-slices; only rows
    sharing at least one slice value ever meet (equi join on (band, slice)).
    Pigeonhole: a pair at Hamming distance d < ``bands`` always has an
    untouched band, so recall is TOTAL for max_hamming < bands — the output
    is then exactly {pairs : Hamming ≤ max_hamming}, independent of banding.
    Verification is exact (``bit_count(xor)``), so precision is always 1.

    100 TB: one narrow (id, hash) projection explodes to ``bands`` rows, the
    join shuffles on (band, slice-value) — bucket-bounded, never all-pairs;
    AQE splits skewed buckets (e.g. the all-zero-band of near-empty docs).
    The narrow projection is staged behind a persist: the self-join's two
    legs would otherwise each recompute the upstream fingerprint (for
    simhash that is the whole 60-way bit-sum assembly — measured 2.4x on
    the sf0.1 gate).
    """
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    sdf = register_cache(_sdf(hashed).select(F.col(id_col), F.col(hash_col)))
    width = bits // bands
    mask = (1 << width) - 1
    h = F.col(hash_col)
    entries = sdf.select(
        F.col(id_col),
        h.alias("__h__"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(h, b * width).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "__h__", F.col("bb.band").alias("band"), F.col("bb.val").alias("val"))
    lhs = entries.select(F.col(id_col).alias("id_a"), F.col("__h__").alias("ha"), "band", "val")
    rhs = entries.select(F.col(id_col).alias("id_b"), F.col("__h__").alias("hb"), "band", "val")
    cands = (
        lhs.join(rhs, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    out = (
        cands.withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return LazyFrame(out)


def simhash_near_dup_pairs(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 8,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> LazyFrame:
    """SimHash near-duplicate pairs: per-doc simhash signature → banded
    Hamming join (:func:`banded_hamming_pairs`) → exact bit_count verify.

    Completes the dedup family alongside minhash-LSH (set-similarity) and
    embedding near-dup (semantic): simhash captures *weighted token overlap*
    in one 64-bit word, so the whole corpus comparison is integer math.

    With the default max_hamming < bands the result is exactly
    {(a, b) : Hamming(sig_a, sig_b) ≤ max_hamming, a < b} — reproducible by
    any engine (the hash_fn='md5' path is engine-portable bit-for-bit).
    Columns: id_a, id_b, hamming.
    """
    sigs = simhash_signatures(
        frame, text_col=text_col, id_col=id_col, bits=bits, hash_fn=hash_fn
    )
    return banded_hamming_pairs(
        sigs.spark.withColumnRenamed(id_col, "__id__"),
        hash_col="simhash",
        id_col="__id__",
        max_hamming=max_hamming,
        bands=bands,
        bits=bits,
    )


def embedding_near_dup_pairs(
    frame: "LazyFrame | SparkDF",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    round_to: int = 6,
    num_planes: int = 8,
    num_tables: int = 16,
) -> LazyFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold).

    The (id, vector) frame is cached and counted once
    (``_bounded.bounded``).  Up to 200,000 rows: broadcast the id/vector
    matrix, then every executor scores its Arrow batches against it with
    one BLAS matmul and emits only above-threshold pairs — the standard
    blocked all-pairs design.  Compute is O(n²·d) either way, but the
    matmul path is ~10-50× faster than per-pair expressions and shuffles
    nothing (output pairs only).

    Above the bound (the 100 TB path): random-hyperplane LSH buckets
    (``num_planes``/``num_tables``, shared with
    :func:`~.similarity.lsh_bucket_topk`), equi-join on (table, bucket), then
    exact cosine verification of the candidates.  Never a cross join; recall
    at the default settings is ≥1-(1-p^planes)^tables where p = 1-θ/π (≈99.98%
    per true pair at cosine 0.95).  Emitted pairs are always exact-verified,
    so precision is 1 regardless of bucket settings."""
    sdf, _, small = bounded(
        _sdf(frame).select(id_col, vec_col), "embedding_near_dup_pairs"
    )
    if small:
        return _numpy_near_dup_pairs(sdf, vec_col, id_col, threshold, round_to)
    return _bucketed_near_dup_pairs(
        sdf, vec_col, id_col, threshold, round_to, num_planes, num_tables
    )


def _bucketed_near_dup_pairs(
    sdf: SparkDF, vec_col, id_col, threshold, round_to, num_planes, num_tables
) -> LazyFrame:
    """Hyperplane-bucketed near-dup pairs: the large-n route.

    One bucket-assignment pass (``_arrow.map_batches``, numpy matmul per
    Arrow batch),
    a self equi-join on (table, bucket) — hash join, never a cross join —
    then exact cosine verification of the surviving candidates with pure
    Column expressions.  Shuffle volume = num_tables × corpus (bucket
    replicas) + candidate pairs; O(n²) work only within buckets."""
    from .similarity import _dot_expr, _norm_expr, hyperplane_buckets

    # norms once per (id, table) row — not once per candidate pair; same FP
    # order as the naive cosine, so emitted values are unchanged
    b = register_cache(
        hyperplane_buckets(sdf, id_col, vec_col, "id", "v", num_planes, num_tables)
        .withColumn("nrm", _norm_expr(F.col("v")))
    )
    lhs = b.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"),
        "table", "bucket",
    )
    rhs = b.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"),
        "table", "bucket",
    )
    cands = (
        lhs.join(rhs, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    out = (
        cands.withColumn(
            "cosine",
            F.round(_dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_to),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return LazyFrame(out)


def _numpy_near_dup_pairs(sdf: SparkDF, vec_col, id_col, threshold, round_to) -> LazyFrame:
    from .similarity import _ship_matrix, _threshold_pairs, _vectors

    # the broadcast side is the guarded frame, at most its bound in rows
    get_matrix = _ship_matrix(sdf, id_col, vec_col)

    def gen(batches):
        for a, b, cos in _threshold_pairs(
            batches, id_col, vec_col, get_matrix(), threshold, round_to
        ):
            mask = a < b
            if mask.any():
                yield {"id_a": a[mask], "id_b": b[mask], "cosine": cos[mask]}

    par = sdf.sparkSession.sparkContext.defaultParallelism
    out = map_batches(
        _vectors(sdf, id_col, vec_col).repartition(par), gen, "id_a long, id_b long, cosine double"
    )
    return LazyFrame(out)


def dedup_clusters(
    pairs: "LazyFrame | SparkDF",
    id_a: str = "id_a",
    id_b: str = "id_b",
    vertices: "LazyFrame | SparkDF | None" = None,
    vertex_id: str | None = None,
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> LazyFrame:
    """Connected components over a near-dup pair list: every id gets the
    minimum id reachable through pairs as its ``cluster_id`` — the step that
    turns pairwise similarity output (:func:`ngram_jaccard_pairs`,
    :func:`minhash_lsh_pairs`, :func:`embedding_near_dup_pairs`) into actual
    keep/drop decisions (canonical doc = ``id == cluster_id``).

    Pass ``vertices`` (e.g. the documents frame) + ``vertex_id`` to include
    singletons — docs in no pair become their own cluster.  Output columns:
    (<id name>, cluster_id).

    The components come from the min-id engine that
    ``operators.graph.connected_components`` shares
    (``graph._min_id_components``).  Above the bound it is an iterative
    fixpoint (like GraphFrames' connectedComponents): min-label propagation
    with path-halving, which converges in O(log diameter) rounds — near-dup
    graphs are small-diameter, so typically 3-5 rounds.  Each round is two
    key-partitioned shuffles (neighbor min + label-of-label) and ends in a
    checkpoint: without lineage truncation the logical plan doubles per
    round (labels feeds both joins) and Catalyst planning blows the driver
    heap by ~10 rounds.  ``checkpoint_dir=None`` (default) uses
    ``localCheckpoint()`` — fastest, but blocks live in executor memory and
    die with an executor, so it is single-node grade.  **On a multi-node
    cluster pass ``checkpoint_dir`` (an HDFS/S3 path)**: each round then
    runs a reliable ``.checkpoint()`` whose blocks survive executor loss
    (this sets the SparkContext checkpoint dir for the session).  Raises
    RuntimeError after ``max_iter`` non-converged rounds rather than
    returning wrong clusters.

    Driver path: near-dup edge lists are typically minuscule next to
    the corpus (the expensive part was finding them), and the iterative
    fixpoint pays ~6 Spark jobs per round in fixed overhead.  The strategy
    probe is one ``count()`` of the cached candidate-generation output —
    which BOTH strategies must fully materialize anyway, so no extra scan
    happens (a limit-bounded probe is strictly worse here: CollectLimit's
    incremental partition scanning re-runs the expensive upstream stages).
    When the count is at most 400,000 directed edges (its ``_bounded``
    bound), the components are solved with a driver-side union-find over
    one collect — identical output (min reachable id), one job instead of
    rounds.  Above the bound the distributed fixpoint runs unchanged.
    """
    p = _sdf(pairs).select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # strategy probe = count() of the cached edges frame.  This is not an
    # eager scan of the input: edges is the candidate-generation OUTPUT,
    # which both strategies must fully materialize anyway (the fixpoint
    # joins it every round), and the count is what populates the cache they
    # read.  limit-based probing is wrong here — CollectLimit's incremental
    # partition scanning re-runs the expensive upstream stages several times
    # (measured 6.8s vs 0.2s on a 512-edge graph).
    guarded = bounded(
        p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct(),
        "dedup_clusters",
    )
    # iterate only over the edge-induced subgraph: vertices in no pair can
    # never change label, so the fixpoint runs on ~2·|pairs| rows regardless
    # of corpus size (at 100 TB that's the difference between iterating over
    # duplicates and iterating over everything); singletons join back at the
    # end as their own cluster
    active = guarded.frame.select(F.col("src").alias("id")).distinct()
    if vertices is not None:
        out_name = vertex_id or id_a
        verts = _sdf(vertices).select(F.col(out_name).alias("id")).distinct()
        # endpoints outside the vertex set don't participate (their labels
        # would otherwise leak in as cluster ids)
        active = active.join(verts, "id", "semi")
    else:
        out_name = id_a
        verts = None
    clustered = _min_id_components(
        guarded, active, "dedup_clusters", max_iter, checkpoint_dir
    ).select("id", F.col("component").alias("cluster_id"))
    if verts is not None:
        clustered = verts.join(clustered, "id", "left").select(
            "id", F.coalesce("cluster_id", "id").alias("cluster_id")
        )
    return LazyFrame(clustered.select(F.col("id").alias(out_name), "cluster_id"))


def dedup_fuzzy(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "minhash",
    threshold: float = 0.8,
    n: int = 3,
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
    **method_kwargs,
) -> LazyFrame:
    """End-to-end fuzzy dedup: keep one canonical document per near-dup
    cluster (the lowest id), with all original columns.

    The one-call composition a training-data pipeline actually runs:
    candidate pairs (``method``: 'minhash' — banded LSH + exact verify;
    'ngram' — exact inverted-index Jaccard; 'prefix' — PPJoin prefix filter)
    → connected components (:func:`dedup_clusters`) → keep docs whose id
    equals their cluster id.  Because every method exact-verifies its pairs,
    the kept set depends only on the true Jaccard graph, not on LSH
    parameters (those affect recall of the *pair* step; see method docs).

    Extra ``method_kwargs`` pass through (num_hashes/bands for minhash,
    max_gram_df for ngram, ...).
    """
    builders = {
        "minhash": minhash_lsh_pairs,
        "ngram": ngram_jaccard_pairs,
        "prefix": ngram_jaccard_pairs_prefix,
    }
    if method not in builders:
        raise ValueError(f"unknown method {method!r}; expected one of {sorted(builders)}")
    sdf = _sdf(frame)
    pairs = builders[method](
        sdf, text_col=text_col, id_col=id_col, n=n, threshold=threshold, **method_kwargs
    )
    clusters = dedup_clusters(
        pairs, vertices=sdf, vertex_id=id_col, max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
    )
    canon = clusters.spark.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return LazyFrame(sdf.join(canon, id_col, "semi"))


def duplicated_spans(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
) -> LazyFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" building block, word
    granularity): mark every position whose ``k``-gram occurs at least
    ``min_count`` times in the corpus, then merge overlapping/adjacent marked
    grams into maximal spans per document.  Output: (doc_id, span_start,
    span_end, n_grams) in word offsets, span = [start, end).

    Scale shape: one corpus scan builds (doc, pos, gram-hash); the hot-gram
    set is a count aggregate; marking is a LEFT SEMI join on the hash (no
    fan-out — an occurrence is marked once no matter how hot its gram); the
    interval merge is a per-doc window (cumsum over gap flags), shuffling
    only marked positions.  A true distributed suffix array is not needed:
    any duplicated substring of length ≥ k words is a run of duplicated
    k-grams, so spans over-approximate by at most k-1 words per end.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    sdf = _sdf(frame)
    par = sdf.sparkSession.sparkContext.defaultParallelism
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    staged = sdf.select(F.col(id_col).alias("id"), words.alias("__ws__")).repartition(par)
    ws = F.col("__ws__")
    n = F.size(ws)
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(F.array().cast("array<int>"))
    gram_at = lambda i: F.xxhash64(F.array_join(F.slice(ws, i + 1, k), " "))  # noqa: E731
    tok = staged.select(
        "id",
        F.explode(
            F.transform(idx, lambda i: F.struct(i.cast("int").alias("pos"), gram_at(i).alias("h")))
        ).alias("g"),
    ).select("id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    tok = register_cache(tok)
    hot = tok.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= min_count)
    dup = tok.join(hot.select("h"), "h", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dup.withColumn(
        "flag", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    )
    sid = F.sum("flag").over(w.rowsBetween(Window.unboundedPreceding, 0))
    spans = (
        flagged.withColumn("sid", sid)
        .groupBy("id", "sid")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(F.col("id").alias(id_col), "span_start", "span_end", "n_grams")
    )
    return LazyFrame(spans)


def remove_duplicated_spans(
    frame: "LazyFrame | SparkDF",
    spans: "LazyFrame | SparkDF | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
) -> LazyFrame:
    """Cut the :func:`duplicated_spans` regions out of each document's text
    (word granularity), keeping everything else in order.  Output: all input
    columns + ``cleaned_text`` + ``n_removed_words``.

    ``spans`` defaults to ``duplicated_spans(frame, ...)`` — pass a
    precomputed/filtered span frame to control the removal policy (e.g. only
    spans above a length threshold, or spans minus each cluster's canonical
    occurrence).  The application is pure codegen: spans collect to a small
    per-doc list (docs have few maximal spans), the word filter is one
    ``F.filter`` with an ``exists`` over that list — no shuffle beyond the
    span join itself.
    """
    sdf = _sdf(frame)
    sp = _sdf(spans) if spans is not None else _sdf(
        duplicated_spans(sdf, text_col=text_col, id_col=id_col, k=k, min_count=min_count)
    )
    sp_by_doc = sp.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))).alias(
            "__spans__"
        )
    )
    joined = sdf.join(sp_by_doc, id_col, "left")
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    indexed = F.transform(words, lambda w, i: F.struct(w.alias("w"), i.cast("long").alias("i")))
    in_span = lambda s: F.exists(  # noqa: E731
        F.col("__spans__"), lambda r: (r["s"] <= s["i"]) & (s["i"] < r["e"])
    )
    kept = F.filter(indexed, lambda s: ~in_span(s))
    cleaned = F.array_join(F.transform(kept, lambda s: s["w"]), " ")
    n_removed = (F.size(words) - F.size(kept)).cast("long")
    out = joined.withColumn(
        "cleaned_text",
        F.when(F.col("__spans__").isNull(), F.array_join(words, " ")).otherwise(cleaned),
    ).withColumn(
        "n_removed_words", F.when(F.col("__spans__").isNull(), F.lit(0).cast("long")).otherwise(n_removed)
    ).drop("__spans__")
    return LazyFrame(out)


def dedup_lines(
    frame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    normalize: bool = True,
):
    """Corpus-wide line/paragraph dedup (boilerplate removal): split every
    document on ``sep``, keep each distinct line ONLY at its first corpus
    occurrence (lowest ``(doc_id, position)``), drop every later repeat —
    headers, footers, cookie banners — and reassemble the surviving lines in
    document order.  ``normalize`` compares lines case/edge-whitespace
    insensitively (the emitted text keeps the original bytes).

    Output: ``(id, text, n_lines, n_kept)`` — every input document appears;
    NULL text counts as one empty line, and empty text is emitted when
    nothing survived.  ``sep`` is a LITERAL separator (quoted before the
    regex split so ``|``/``.`` etc. behave), matching its literal use in the
    reassembly join.

    Scale shape: the keep-first rule is ``row_number() == 1`` over the line
    key ordered by (doc, pos) — Catalyst's WindowGroupLimit(Partial) prunes
    losers map-side before the exchange, so a boilerplate line repeated a
    billion times ships at most one candidate row per map task instead of
    flooding one reducer.  One more shuffle (``doc_id``) reassembles.  The
    line key is the raw (normalized) line, not a digest: Spark's shuffle
    hashing is already content-based, and carrying the line itself lets the
    winner row re-emit the original text without a join back.
    """
    from ..frame import LazyFrame

    sdf = _sdf(frame)
    if "\\E" in sep:
        raise ValueError(r"sep must not contain \E (regex quoting boundary)")
    sep_re = "\\Q" + sep + "\\E"  # literal match, not a regex
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = sdf.select(
        F.col(id_col),
        F.posexplode(F.split(text, sep_re)).alias("__pos__", "__line__"),
    )
    key = F.lower(F.trim(F.col("__line__"))) if normalize else F.col("__line__")
    w = Window.partitionBy(key.alias("__key__")).orderBy(
        F.col(id_col).asc(), F.col("__pos__").asc()
    )
    winners = (
        lines.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    kept = winners.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos__"), F.col("__line__")))
                ),
                lambda s: s.getField("__line__"),
            ),
            sep,
        ).alias("text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = sdf.select(
        F.col(id_col),
        F.size(F.split(text, sep_re)).cast("long").alias("n_lines"),
    )
    out = totals.join(kept, id_col, "left").select(
        id_col,
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )
    return LazyFrame(out)


def dedup_against(
    frame: "LazyFrame | SparkDF",
    reference: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    round_to: int = 6,
    max_gram_df: int | None = None,
    gram_hash: bool = True,
) -> LazyFrame:
    """Incremental dedup: keep only rows of ``frame`` that are NOT near-
    duplicates (n-gram Jaccard ≥ threshold) of ANY ``reference`` document —
    the "dedup the new crawl against the existing corpus" step.  The new
    batch is never compared against itself (use :func:`ngram_jaccard_pairs`
    + :func:`dedup_clusters` for that).

    Same inverted-index machinery as ngram_jaccard_pairs but the postings
    join is new×reference only; verification computes the TRUE Jaccard on
    full gram sets, so pruning never flips a keep/drop decision.
    ``max_gram_df`` prunes hot grams from the reference postings (same
    recall contract as ngram_jaccard_pairs).  Docs with fewer than ``n``
    words have no grams and always survive.

    100 TB: reference postings shuffle once by gram; at steady state the
    reference gram index is the thing you'd persist (write_bucketed by gram)
    so each new batch pays only its own explode + a bucketed join.
    ``gram_hash`` as in :func:`ngram_jaccard_pairs` (both sides must use the
    same setting; the keep/drop decision is unchanged modulo a 2^-64-class
    collision).
    """
    new_sdf, ref_sdf = _sdf(frame), _sdf(reference)
    gn = register_cache(_grams_frame(new_sdf, text_col, id_col, n, nonempty=True, hash_grams=gram_hash))
    gr = register_cache(_grams_frame(ref_sdf, text_col, id_col, n, nonempty=True, hash_grams=gram_hash))
    en = gn.select("id", F.size("grams").alias("na"), F.explode("grams").alias("gram"))
    er = gr.select(
        F.col("id").alias("rid"), F.size("grams").alias("nb"),
        F.explode("grams").alias("gram"),
    )
    if max_gram_df is not None:
        hot = (
            er.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_gram_df).select("gram")
        )
        er = er.join(hot, "gram", "anti")
    cands = (
        en.join(er, "gram")
        # size prefilter: |A∩B| ≤ min(|A|,|B|), so jac ≥ t needs t·|B| ≤ |A| ≤ |B|/t
        .filter(
            (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .select("id", "rid")
        .dropDuplicates(["id", "rid"])
    )
    ga = gn.select("id", F.col("grams").alias("sa"))
    gb = gr.select(F.col("id").alias("rid"), F.col("grams").alias("sb"))
    paired = cands.join(ga, "id").join(gb, "rid")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    dup_ids = (
        paired.filter(F.round(inter / union, round_to) >= threshold)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    out = new_sdf.join(dup_ids, id_col, "anti")
    return LazyFrame(out)


def build_gram_index(
    reference: "LazyFrame | SparkDF",
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_buckets: int = 32,
    max_gram_df: int | None = None,
    mode: str = "overwrite",
    gram_hash: bool = True,
) -> None:
    """Persist the reference-corpus gram index for STEADY-STATE incremental
    dedup — the pay-the-shuffle-once pattern :func:`dedup_against`'s
    docstring prescribes.  Writes two bucketed catalog tables:

    * ``{table}_postings`` — ``(gram, rid, nb)`` bucketed by ``gram``: the
      candidate-generation side.  ``nb`` is each reference doc's FULL gram
      count (captured before any pruning, so the Jaccard size prefilter
      stays exact).  ``max_gram_df`` prunes hot grams here at build time,
      with the same recall contract as :func:`dedup_against`.
    * ``{table}_grams`` — ``(rid, sb)`` full gram sets bucketed by ``rid``:
      the exact-verification side (always unpruned, so every keep/drop
      decision is made on the TRUE Jaccard).

    At 100 TB the reference corpus explodes + shuffles ONCE here; every
    later crawl batch run through :func:`dedup_against_index` pays only its
    own explode plus joins in which the reference side reads pre-bucketed
    files with no Exchange (plan-asserted in tests/test_llm.py).
    """
    from ..io import write_bucketed

    ref_sdf = _sdf(reference)
    gr = register_cache(
        _grams_frame(ref_sdf, text_col, id_col, n, nonempty=True, hash_grams=gram_hash)
    )
    er = gr.select(
        F.col("id").alias("rid"), F.size("grams").alias("nb"),
        F.explode("grams").alias("gram"),
    )
    if max_gram_df is not None:
        hot = (
            er.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_gram_df).select("gram")
        )
        er = er.join(hot, "gram", "anti")
    write_bucketed(er, f"{table}_postings", "gram", num_buckets=num_buckets, mode=mode)
    write_bucketed(
        gr.select(F.col("id").alias("rid"), F.col("grams").alias("sb")),
        f"{table}_grams", "rid", num_buckets=num_buckets, mode=mode,
    )


def dedup_against_index(
    frame: "LazyFrame | SparkDF",
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    round_to: int = 6,
    gram_hash: bool = True,
) -> LazyFrame:
    """Incremental dedup of a new batch against a PRE-BUILT reference gram
    index (:func:`build_gram_index`) — same output as
    :func:`dedup_against(frame, reference, max_gram_df=<build cap>)` but the
    reference corpus is never re-exploded or re-shuffled: the postings scan
    is bucketed by gram and the verification gram-set scan is bucketed by
    rid, so both reference-side joins run without an Exchange.  The only
    shuffle each recurring crawl batch pays is its own postings.
    ``gram_hash`` MUST match the :func:`build_gram_index` setting — the
    persisted postings/grams carry whichever gram identity the build used.
    """
    new_sdf = _sdf(frame)
    sp = new_sdf.sparkSession
    postings = sp.table(f"{table}_postings")
    ref_grams = sp.table(f"{table}_grams")
    gn = register_cache(
        _grams_frame(new_sdf, text_col, id_col, n, nonempty=True, hash_grams=gram_hash)
    )
    en = gn.select("id", F.size("grams").alias("na"), F.explode("grams").alias("gram"))
    cands = (
        en.join(postings, "gram")
        # size prefilter: jac >= t needs t·|B| <= |A| <= |B|/t (nb is the
        # FULL reference gram count, stored at build time)
        .filter(
            (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .select("id", "rid")
        .dropDuplicates(["id", "rid"])
    )
    ga = gn.select("id", F.col("grams").alias("sa"))
    paired = cands.join(ga, "id").join(ref_grams, "rid")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    dup_ids = (
        paired.filter(F.round(inter / union, round_to) >= threshold)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return LazyFrame(new_sdf.join(dup_ids, id_col, "anti"))


def containment_pairs(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    round_to: int = 6,
    max_gram_df: int | None = None,
    prefix_order: str | None = "lex",
    gram_hash: bool = True,
) -> LazyFrame:
    """Asymmetric near-CONTAINMENT pairs: |grams(A) ∩ grams(B)| / |grams(A)|
    ≥ threshold, emitted as (id_a, id_b, containment) meaning "A is nearly
    contained in B" — catches quotes, excerpts, and prefix/suffix copies
    that symmetric Jaccard misses (a short doc inside a long one has tiny
    Jaccard but containment ≈ 1).  Both directions of each candidate pair
    are scored.

    Candidate generation is the inverted-index join of ngram_jaccard_pairs,
    hardened for hot grams two ways (verification is always exact on full
    gram sets, so precision is 1 regardless):

    * Containment PREFIX filter (``prefix_order``, EXACT — recall 1): the
      symmetric Jaccard SIZE prefilter can't apply here (sizes may differ
      arbitrarily), but the AllPairs prefix bound survives asymmetry on the
      contained side.  If A is t-contained in B then B misses fewer than
      ``L = |A| - ceil(t·|A|) + 1`` of A's grams, so B must share one of
      A's first L grams under ANY fixed canonical gram order.  Only each
      doc's L-gram prefix is indexed on the CONTAINED side of the join; the
      container side keeps full postings — pruning the contained side only
      is what preserves the |A∩B|/|A| bound.  Orders:

      - ``"lex"`` (default): canonical sort of the gram VALUES — computed
        from the gram array with ``array_sort``+``slice``, pure codegen,
        ZERO extra shuffles; cuts the postings join to ~(1-t)·Σ_g df_g²
        uniformly.  With ``gram_hash=True`` the values are xxhash64 longs,
        so this order is effectively uniform-random — a standard AllPairs
        variant that also stops boilerplate from clustering into prefixes
        the way true lexicographic order does.
      - ``"df"``: ascending global document frequency (rarest first) — pays
        one gram-df aggregate + a per-doc rank window, but hot boilerplate
        grams almost never make a prefix, so the Σ_g df_g² blowup collapses
        to Σ_g prefix_df_g·df_g.  Pick this for templated corpora at scale.
      - ``None``: no prefix filter (full postings both sides).
    * ``max_gram_df`` (optional, approximate): additionally drops grams with
      document frequency above the cap from the CONTAINER-side postings —
      same recall contract as :func:`dedup_against`: a directed pair
      (A contained in B) can be missed only if every prefix gram of A that
      B shares is hotter than the cap; pick the cap above the expected
      duplicate-cluster size.  Emitted containments are still true values.

    100 TB: run ``prefix_order="df"`` (+ ``max_gram_df`` if boilerplate is
    extreme) — cost is short rare-gram prefix lists joined against df-capped
    container postings, never the raw sum-of-df² self-join.
    """
    if prefix_order not in (None, "lex", "df"):
        raise ValueError("prefix_order must be 'lex', 'df', or None")
    sdf = _sdf(frame)
    grams = register_cache(
        _grams_frame(sdf, text_col, id_col, n, nonempty=True, hash_grams=gram_hash)
    )
    g = F.size("grams")
    exploded = grams.select("id", g.alias("g"), F.explode("grams").alias("gram"))

    @functools.cache
    def _broadcast_df() -> bool:
        # the gram-df table has at most one (gram, df) row per gram
        # occurrence; when those rows' bytes (read off the cached gram
        # table, one cache-read aggregate, run at most once per call) fit
        # in a broadcast relation, broadcasting it removes the gram-keyed
        # exchange of the full postings stream (the cell_ranks broadcast
        # guard convention — measured 2.33 s -> 1.38 s on the candidate pass
        # at sf0.1).  Bytes, not occurrences: a few long string grams can
        # outweigh millions of hashed ones.  Above the
        # bound the plain shuffle join stands: at corpus scale the gram-df
        # table is corpus-sized and must never be broadcast.
        gram_bytes = (
            F.size("grams") * 8 if gram_hash
            else F.octet_length(F.array_join("grams", ""))
        )
        est = grams.agg(
            F.sum(F.size("grams")).alias("occ"), F.sum(gram_bytes).alias("gram_bytes")
        ).first()
        n_bytes = int(est["gram_bytes"] or 0) + 8 * int(est["occ"] or 0)
        return record("containment_pairs", n_bytes)

    def _df_attach(tbl):
        return F.broadcast(tbl) if _broadcast_df() else tbl

    rhs_post = exploded
    if max_gram_df is not None:
        gram_df_tbl = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        rhs_post = exploded.join(
            _df_attach(gram_df_tbl.filter(F.col("df") <= max_gram_df).select("gram")),
            "gram",
        )
    prefix_len = (F.col("g") - F.ceil(F.lit(threshold) * F.col("g")) + 1).cast("int")
    if prefix_order == "lex":
        lex_len = (g - F.ceil(F.lit(threshold) * g) + 1).cast("int")
        lhs_post = grams.select(
            "id", g.alias("g"),
            F.explode(F.slice(F.array_sort("grams"), F.lit(1), lex_len)).alias("gram"),
        )
    elif prefix_order == "df":
        from pyspark.sql import Window

        gram_df_full = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        lhs_post = (
            exploded.join(_df_attach(gram_df_full), "gram")
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(F.col("df"), F.col("gram"))
                ),
            )
            .filter(F.col("rnk") <= prefix_len)
            .select("id", "g", "gram")
        )
    else:
        lhs_post = exploded
    lhs = lhs_post.select(F.col("id").alias("id_a"), F.col("g").alias("ga"), "gram")
    rhs = rhs_post.select(F.col("id").alias("id_b"), F.col("g").alias("gb"), "gram")
    cands = (
        lhs.join(rhs, "gram")
        .filter(F.col("id_a") != F.col("id_b"))
        # container must be able to hold t·|contained| grams
        .filter(F.col("gb") >= threshold * F.col("ga"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("sa"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("sb"))
    paired = cands.join(ga, "id_a").join(gb, "id_b")
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    both = F.explode(
        F.array(
            F.struct(
                F.col("id_a").alias("a"), F.col("id_b").alias("b"),
                F.round(inter / F.size("sa"), round_to).alias("c"),
            ),
            F.struct(
                F.col("id_b").alias("a"), F.col("id_a").alias("b"),
                F.round(inter / F.size("sb"), round_to).alias("c"),
            ),
        )
    )
    out = (
        paired.select(both.alias("e"))
        .select(
            F.col("e.a").alias("id_a"), F.col("e.b").alias("id_b"),
            F.col("e.c").alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return LazyFrame(out)


def dedup_keep_best(
    frame: "LazyFrame | SparkDF",
    pairs: "LazyFrame | SparkDF",
    quality_col,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_cluster_id: bool = False,
    **cluster_kwargs,
) -> LazyFrame:
    """Canonical-document selection: cluster the near-dup ``pairs``
    (:func:`dedup_clusters` connected components, singletons included) and
    keep ONE row per cluster — the highest ``quality_col``, ties broken by
    lowest id.  This is the policy step real pipelines want instead of
    dedup_fuzzy's "keep lowest id": given jaccard/minhash/simhash/embedding
    pair output and any quality signal (gopher score, length, recency), the
    survivor is the BEST copy, not an arbitrary one.

    ``quality_col`` is a column name or Column expression evaluated against
    ``frame`` (e.g. ``F.length("text")``).  All original columns survive.
    Selection is a cluster-keyed window (rank within cluster) — shards on
    the cluster id, no global ordering.  ``keep_cluster_id=True`` appends
    the cluster_id column for audit trails.
    """
    sdf = _sdf(frame)
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    from pyspark.sql import Window

    clusters = dedup_clusters(
        _sdf(pairs), id_a=id_a, id_b=id_b,
        vertices=sdf, vertex_id=id_col, **cluster_kwargs,
    )
    joined = sdf.withColumn("__q__", q.cast("double")).join(
        clusters.spark.withColumnRenamed(id_col, "__cid__"),
        F.col(id_col) == F.col("__cid__"),
    ).drop("__cid__")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__q__").desc_nulls_last(), F.col(id_col).asc()
    )
    out = (
        joined.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "__q__")
    )
    if not keep_cluster_id:
        out = out.drop("cluster_id")
    return LazyFrame(out)


def dedup_cluster_stats(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> LazyFrame:
    """Exact-duplicate cluster diagnostics — the one-row corpus health
    probe that tells you whether dedup is even worth running: documents
    group by content fingerprint (md5 of the text), and the report gives
    n_docs, n_clusters (distinct contents), n_dup_docs (docs beyond each
    cluster's first), dup_rate, max_cluster, and the top-heavy share
    (fraction of all duplicate mass held by the single largest cluster —
    boilerplate detectors key off this).

    Shuffle shape: one fingerprint-keyed map-side-combining count + one
    bounded 1-row reduce.  Null texts are excluded (they are a quality
    problem, not a dedup problem)."""
    sdf = _sdf(frame)
    sizes = (
        sdf.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col).cast("string")).alias("__fp__"))
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    out = sizes.agg(
        F.sum("sz").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("sz") - 1).cast("long").alias("n_dup_docs"),
        F.round(
            F.sum(F.col("sz") - 1) / F.sum("sz"), round_to
        ).alias("dup_rate"),
        F.max("sz").cast("long").alias("max_cluster"),
        F.round(
            F.when(
                F.sum(F.col("sz") - 1) > 0,
                (F.max("sz") - 1) / F.sum(F.col("sz") - 1),
            ).otherwise(F.lit(0.0)),
            round_to,
        ).alias("top_cluster_dup_share"),
    )
    return LazyFrame(out)


__all__.append("dedup_cluster_stats")


def strip_boilerplate_lines(
    frame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_share: float = 0.05,
    min_df: int = 2,
    sep: str = "\n",
    by: "str | None" = None,
    normalize: bool = True,
):
    """Corpus-frequency boilerplate removal (the C4/RefinedWeb rule this
    family was missing): a line is boilerplate when it appears in MORE THAN
    ``max_df_share`` of documents (and in at least ``min_df`` of them) —
    cookie banners, nav bars, license footers — and is then dropped from
    EVERY document, unlike :func:`dedup_lines` which keeps the first
    occurrence.  ``by`` scopes the frequency table per segment (per-domain
    is the production setting — a line common on one site is boilerplate
    there even if globally rare).

    Document frequency counts each document once however often it repeats
    the line; ``normalize`` matches lines case/edge-whitespace
    insensitively while emitting the original bytes.

    Scale shape: posexplode -> per-(line, doc) distinct -> line-keyed count
    (all map-side-combining equi-shuffles on content, never all-pairs);
    per-segment doc totals join back on the segment key (broadcast hash
    join); with ``by=None`` the global total is a driver scalar instead
    (one bounded action — a constant join key would constant-fold into a
    keyless nested-loop join); one ``id``-keyed shuffle reassembles
    surviving lines in order.  Output: (id[, by], text, n_lines, n_kept)."""
    from ..frame import LazyFrame

    sdf = _sdf(frame)
    if "\\E" in sep:
        raise ValueError(r"sep must not contain \E (regex quoting boundary)")
    if not 0.0 < max_df_share <= 1.0:
        raise ValueError("max_df_share must be in (0, 1]")
    sep_re = "\\Q" + sep + "\\E"
    seg = F.col(by) if by is not None else F.lit(1)
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = sdf.select(F.col(id_col), seg.alias("__seg__"), text.alias("__t__"))
    lines = base.select(
        F.col(id_col),
        "__seg__",
        F.posexplode(F.split(F.col("__t__"), sep_re)).alias("__pos__", "__line__"),
    )
    key = (
        F.lower(F.trim(F.col("__line__"))) if normalize else F.col("__line__")
    )
    lines = lines.withColumn("__key__", key)
    df_counts = (
        lines.select("__seg__", "__key__", F.col(id_col))
        .distinct()
        .groupBy("__seg__", "__key__")
        .agg(F.count(F.lit(1)).alias("__df__"))
    )
    # blank lines are STRUCTURE, not boilerplate: '' trivially saturates
    # document frequency in any multi-paragraph corpus, and stripping it
    # would silently delete every paragraph separator corpus-wide
    nonblank = F.length(F.col("__key__")) > 0
    if by is None:
        # global totals as a driver scalar (one bounded action, the
        # median_ci/jackknife eager pattern): joining on the constant
        # __seg__ key would constant-fold into a keyless
        # BroadcastNestedLoopJoin — benign for 1 row, but no join at all
        # is strictly better and keeps the no-cartesian audit clean
        ndocs = base.count()
        bad = df_counts.filter(
            nonblank
            & (F.col("__df__") >= F.lit(int(min_df)))
            & (F.col("__df__") > F.lit(float(ndocs) * float(max_df_share)))
        ).select("__seg__", "__key__")
    else:
        totals = base.groupBy("__seg__").agg(
            F.count(F.lit(1)).alias("__ndocs__")
        )
        bad = (
            df_counts.join(totals, "__seg__")
            .filter(
                nonblank
                & (F.col("__df__") >= F.lit(int(min_df)))
                & (
                    F.col("__df__")
                    > F.col("__ndocs__") * F.lit(float(max_df_share))
                )
            )
            .select("__seg__", "__key__")
        )
    marked = lines.join(bad, ["__seg__", "__key__"], "left_anti")
    kept = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos__"), F.col("__line__")))
                ),
                lambda s: s.getField("__line__"),
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    tot_lines = base.select(
        F.col(id_col),
        *( [F.col("__seg__").alias(by)] if by is not None else [] ),
        F.size(F.split(F.col("__t__"), sep_re)).cast("long").alias("n_lines"),
    )
    out = tot_lines.join(kept, id_col, "left").select(
        id_col,
        *( [by] if by is not None else [] ),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )
    return LazyFrame(out)


__all__.append("strip_boilerplate_lines")


def winnowing_fingerprints(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    normalized: bool = True,
):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS algorithm): hash every k-gram of the (optionally
    normalized) text with a polynomial rolling hash, slide a window of
    ``window`` consecutive hashes, and keep each window's MINIMUM — the
    guarantee is that any shared substring of length ≥ k + window − 1
    between two documents shares at least one fingerprint, at ~2/(w+1)
    the storage of full k-gram sets.  The plagiarism/excerpt-detection
    primitive: position-insensitive (fingerprints are DISTINCT hash
    values per doc).

    The hash is Σ code_j·131^(k−1−j) mod 1e9+7 in explicit long
    arithmetic (NOT an engine-native hash), so any engine can replay it —
    the md5-determinism convention, but cheaper.  The rolling hash +
    window minima run as ONE vectorized numpy pass inside mapInArrow
    (map-only, no shuffle): the r11 Catalyst version built the same
    values through zip_with/transform chains, but higher-order functions
    have no codegen — every element paid an interpreted-lambda dispatch,
    measured 10.9 s vs ~0.6 s for this numpy pass on the sf0.1 gate
    corpus.  Code units are UTF-16 (numpy reads the utf-16-le encoding),
    matching the split('')/ascii() semantics of the expression version.
    Output: (id, fingerprints array<long>, n_fp)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if window < 1:
        raise ValueError("window must be >= 1")
    sdf = _sdf(frame)
    t = F.lower(F.col(text_col))
    if normalized:
        t = F.regexp_replace(t, r"[^a-z0-9]", "")
    base = sdf.select(F.col(id_col).alias("id"), t.alias("__t__")).filter(
        F.char_length("__t__") >= k + window - 1
    )
    # single-file gate corpora scan as one partition; the interpreted-HOF
    # predecessor serialized there, and so would one Arrow task — spread
    # only when the scan is narrower than the session parallelism
    from .._spread import spread_plain_scan

    base = spread_plain_scan(base)
    id_type = base.schema["id"].dataType.simpleString()
    M = 1_000_000_007
    B = 131
    kk, ww = int(k), int(window)

    def _fp_batches(batches):
        import numpy as np

        for batch in batches:
            ids = batch.column(0)
            fps_out: list = []
            nfp_out: list = []
            for s in batch.column(1).to_pylist():
                c = np.frombuffer(
                    s.encode("utf-16-le"), dtype=np.uint16
                ).astype(np.int64)
                ln = c.size - (kk - 1)
                h = c[:ln].copy()
                for j in range(1, kk):
                    h *= B
                    h += c[j : j + ln]
                    h %= M
                m = h[: h.size - (ww - 1)].copy()
                for j in range(1, ww):
                    np.minimum(m, h[j : j + m.size], out=m)
                # first-occurrence distinct == Catalyst array_distinct
                vals, idx = np.unique(m, return_index=True)
                u = vals[np.argsort(idx, kind="stable")]
                fps_out.append(u.tolist())
                nfp_out.append(u.size)
            yield {"id": ids, "fingerprints": fps_out, "n_fp": nfp_out}

    out = map_batches(
        base, _fp_batches, f"id {id_type}, fingerprints array<bigint>, n_fp bigint"
    )
    return LazyFrame(out)


def winnowing_pairs(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    threshold: float = 0.5,
    max_fp_df: "int | None" = None,
    round_to: int = 6,
):
    """Near-dup/excerpt pairs by shared winnowing fingerprints: score =
    |fp(A) ∩ fp(B)| / min(|fp(A)|, |fp(B)|) ≥ threshold (the containment
    normalization, so an excerpt inside a long doc still scores high).

    Same inverted-index candidate shape as ngram_jaccard_pairs — explode
    fingerprints, equi-join on the fingerprint, count shared per pair —
    but over the ~2/(w+1)-compressed fingerprint sets, so the postings
    join is smaller than the gram join by construction.  ``max_fp_df``
    is the hot-fingerprint guard (boilerplate): fingerprints shared by
    more than that many docs leave the index AND the shared counts, so
    with the guard on, ``score`` is a LOWER BOUND (hot boilerplate can
    only be un-counted, never fabricated — pairs can be missed or
    under-scored, never over-scored; denominators stay the full set
    sizes).  Output: (id_a, id_b, shared, score)."""
    fps = register_cache(
        winnowing_fingerprints(
            frame, text_col, id_col, k=k, window=window
        ).spark
    )
    exploded = fps.select("id", "n_fp", F.explode("fingerprints").alias("fp"))
    if max_fp_df is not None:
        fp_df = exploded.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
        exploded = exploded.join(
            fp_df.filter(F.col("df") <= max_fp_df).select("fp"), "fp"
        )
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("n_fp").alias("na"), "fp"
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("n_fp").alias("nb"), "fp"
    )
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    score = F.col("shared") / F.least("na", "nb")
    out = (
        pairs.withColumn("score", F.round(score, round_to))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", F.col("shared").cast("long").alias("shared"), "score")
    )
    return LazyFrame(out)


__all__.extend(["winnowing_fingerprints", "winnowing_pairs"])
