"""Vocabulary construction and token-id encoding.

The tokenizer is the engine's whitespace/lowercase one (token_count /
text.py); this module adds the trainer-facing step: build a top-V vocabulary
from the corpus and encode documents as integer id sequences.

Scale design (100 TB corpus):
- vocab build: one (term)-keyed count aggregate with map-side combine, then
  TakeOrdered top-V — V rows ever reach the driver side of the plan (the
  final rank window runs on the V-row frame, bounded by construction).
- encoding: MAP-ONLY — the V-row vocab collects once driver-side (the same
  memory contract as the broadcast join it replaces) and every task
  dict-encodes its own documents in a mapInArrow kernel.  The corpus is
  never shuffled: encoding a doc needs no other doc's data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window
from pyspark.sql import functions as F

from .._arrow import map_batches
from .._bounded import bounded, ship
from .._cache import register_cache, replace_cache, scoped_caches
from ..frame import LazyFrame
from ..session import scoped_checkpoint_dir

__all__ = ["build_vocab", "encode_tokens_frame"]


def _words(text_col: str):
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return F.filter(w, lambda t: F.length(t) > 0)


def build_vocab(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    vocab_size: int = 30000,
    min_count: int = 1,
) -> LazyFrame:
    """(term, token_id, count) for the ``vocab_size`` most frequent terms;
    ranked by count desc then term asc (deterministic ids).  token_id is
    0-based and dense.

    The rank window runs AFTER the top-V limit, so it orders ``vocab_size``
    rows, not the term universe — the only full-corpus work is one
    map-side-combining count aggregate."""
    sdf = frame if isinstance(frame, SparkDF) else frame.spark
    counts = (
        sdf.select(F.explode(_words(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
        .orderBy(F.col("count").desc(), F.col("term"))
        .limit(vocab_size)
    )
    w = Window.orderBy(F.col("count").desc(), F.col("term"))
    out = counts.select(
        "term", (F.row_number().over(w) - 1).alias("token_id"), "count"
    )
    return LazyFrame(out)


def _ship_vocab(vdf: SparkDF):
    """Collect a (term, token_id) frame into the term -> token_id map the
    encoders read (a duplicate term keeps its smallest id, null ids are
    skipped) and broadcast it (``_bounded.ship``).  Returns ``(get_vmap,
    tid_type)``: the worker-side getter and the id's SQL type, ``"int"``
    unless token_id is ``bigint``."""
    vmap: dict = {}
    for r in vdf.select("term", "token_id").collect():
        t, i = r["term"], r["token_id"]
        if i is not None and (t not in vmap or i < vmap[t]):
            vmap[t] = int(i)
    tid_type = vdf.schema["token_id"].dataType.simpleString()
    if tid_type not in ("int", "bigint"):
        tid_type = "int"
    return ship(vdf.sparkSession.sparkContext, vmap), tid_type


def encode_tokens_frame(
    frame: "LazyFrame | SparkDF",
    vocab: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = -1,
) -> LazyFrame:
    """(id, token_ids, n_tokens): each document as its integer id sequence
    under ``vocab`` (a build_vocab output or any (term, token_id) frame).
    Out-of-vocabulary tokens encode as ``oov_id`` (set None to drop them).

    MAP-ONLY: encoding one document never needs another document's data,
    so no cross-doc rows ever have to move — the vocabulary collects ONCE
    driver-side (bounded: the identical memory contract as the broadcast
    hash relation the r11 join built) and each task dict-encodes its own
    docs in a ``mapInArrow`` kernel over the JVM-split words.  The r11
    shape posexploded every token and reassembled sequences with a
    corpus-wide collect_list shuffle — the ONLY shuffle in the plan, gone.
    Zero-token docs vanish (posexplode parity) and a duplicate ``term`` in
    a user vocab resolves to its smallest token_id."""
    sdf = frame if isinstance(frame, SparkDF) else frame.spark
    vdf = vocab if isinstance(vocab, SparkDF) else vocab.spark
    get_vmap, tid_type = _ship_vocab(vdf)
    from .._spread import spread_plain_scan

    staged = sdf.select(F.col(id_col).alias("__id__"), _words(text_col).alias("__ws__"))
    staged = spread_plain_scan(staged)
    id_type = staged.schema["__id__"].dataType.simpleString()
    drop_oov = oov_id is None
    oov = None if drop_oov else int(oov_id)

    def _enc(batches):
        import numpy as np

        vmap = get_vmap()
        get = vmap.get
        for batch in batches:
            toks_in = batch.column(1).to_pylist()
            keep: list = []
            seqs: list = []
            for j, toks in enumerate(toks_in):
                if not toks:
                    continue  # posexplode parity: zero-token docs drop
                if drop_oov:
                    seq = [vmap[t] for t in toks if t in vmap]
                    if not seq:
                        continue  # all tokens OOV-dropped -> no group row
                else:
                    seq = [get(t, oov) for t in toks]
                keep.append(j)
                seqs.append(seq)
            yield {
                "__id__": batch.column(0).take(np.array(keep, dtype=np.int64)),
                "token_ids": seqs,
                "n_tokens": [len(s) for s in seqs],
            }

    out = map_batches(
        staged, _enc, f"__id__ {id_type}, token_ids array<{tid_type}>, n_tokens int"
    ).select(F.col("__id__").alias(id_col), "token_ids", "n_tokens")
    return LazyFrame(out)


def _train_bpe_driver(
    wc_rows, num_merges: int, min_pair_count: int, end_of_word: str
) -> "list[tuple[int, str, str, int]]":
    """Driver-side BPE trainer over a COLLECTED (word, cnt) table — the
    exact semantics of the distributed loop (same pair counting, same
    (count desc, left asc, right asc) tie-break, same greedy left-to-right
    fold), minus ten rounds of Spark job overhead.  Used only when the
    vocabulary is bounded (see train_bpe)."""
    vocab: list[tuple[int, list[str]]] = [
        (int(r["cnt"]), list(r["word"]) + [end_of_word]) for r in wc_rows
    ]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(int(num_merges)):
        counts: dict[tuple[str, str], int] = {}
        for cnt, syms in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_count:
            break
        merges.append((rank, l, r, c))
        merged = l + r
        nxt: list[tuple[int, list[str]]] = []
        for cnt, syms in vocab:
            acc: list[str] = []
            for s in syms:
                if acc and acc[-1] == l and s == r:
                    acc[-1] = merged
                else:
                    acc.append(s)
            nxt.append((cnt, acc))
        vocab = nxt
    return merges


def train_bpe(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_count: int = 2,
    end_of_word: str = "</w>",
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
) -> LazyFrame:
    """Byte-pair-encoding MERGE TABLE learned from the corpus: the standard
    BPE trainer (Sennrich et al. 2016) run distributed.  Returns
    (rank, left, right, pair_count) — rank r is the r-th merge learned;
    feed it to :func:`bpe_encode_frame` to tokenize.

    Scale design — the corpus is shuffled EXACTLY ONCE: the only
    corpus-sized job is the initial word-count aggregate (map-side
    combining).  Every merge iteration then runs on the DISTINCT-WORD table
    (vocabulary-sized, weighted by word count): one pair-count aggregate +
    a 1-row argmax collect + one map-only array rewrite.  That makes the
    per-iteration cost O(vocab), not O(corpus) — the property that makes
    BPE trainable on 100 TB at all.  Ties in pair count break
    lexicographically (left asc, right asc) so the merge table is
    deterministic across runs/partitionings.

    The iterative loop is checkpoint-truncated like dedup_clusters /
    pagerank: each iteration re-persists the vocab symbols and unpersists
    the previous; ``checkpoint_dir`` upgrades the periodic lineage cut to
    reliable checkpoints for long cluster runs.  Stops early when the best
    pair's count falls below ``min_pair_count`` (merging hapax pairs only
    memorizes noise).

    Driver fast-path (the bradley_terry pattern): the word-count table is
    persisted through the cache registry and counted once
    (``_bounded.bounded``); when the DISTINCT vocabulary is ≤ 65,536 rows
    (``_bounded.BOUND``) the table collects and the merge loop runs in
    plain Python with identical semantics — num_merges sequential Spark jobs over a
    small cached table are pure scheduler overhead (measured 8.3 s → <1 s
    for 10 merges on a 31-word corpus).  Web-scale corpora (raw
    vocabularies of 10^8–10^9 words) exceed the threshold and take the
    distributed loop.

    Greedy left-to-right merge semantics within a word ("aaa" under (a,a)
    → ["aa","a"]), matching the reference implementation; ``end_of_word``
    is appended as a trailing symbol so word-final units are distinct.
    """
    sdf = frame if isinstance(frame, SparkDF) else frame.spark
    spark = sdf.sparkSession
    schema = "rank INT, left STRING, right STRING, pair_count BIGINT"
    wc = (
        sdf.select(F.explode(_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the scope releases the registered word-count cache on return: the
    # merge table is a local list and never reads it
    with scoped_caches():
        # the count is the one corpus-sized job either way, and both paths
        # then read the registered cache
        wc, _, small = bounded(wc, "train_bpe")
        if small:
            merges = _train_bpe_driver(wc.collect(), num_merges, min_pair_count, end_of_word)
            return LazyFrame(spark.createDataFrame(merges, schema=schema))
        # with-block: restore the previous checkpoint dir on ALL exit paths,
        # including a mid-merge exception (r7 ADVICE)
        with scoped_checkpoint_dir(spark.sparkContext, checkpoint_dir) as ckpt:
            # initial symbols: characters + the end-of-word marker.  Spark's split
            # keeps trailing empties (limit -1) and "(?!^)" matches at end-of-string,
            # so drop empty symbols explicitly.
            chars = F.filter(F.split(F.col("word"), "(?!^)"), lambda s: F.length(s) > 0)
            vocab = register_cache(
                wc.select("cnt", F.concat(chars, F.array(F.lit(end_of_word))).alias("sym"))
            )
            sym = F.col("sym")
            lefts = F.slice(sym, 1, F.size(sym) - 1)
            rights = F.slice(sym, 2, F.size(sym) - 1)

            def argmax(v: SparkDF):
                """The most frequent adjacent pair of ``v``; its one job
                reads every row, so it also fills ``v``'s cache."""
                pairs = (
                    v.filter(F.size(sym) >= 2)
                    .select(
                        "cnt",
                        F.explode(
                            F.zip_with(
                                lefts, rights, lambda a, b: F.struct(a.alias("l"), b.alias("r"))
                            )
                        ).alias("p"),
                    )
                    .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                    .agg(F.sum("cnt").alias("c"))
                )
                return pairs.orderBy(F.col("c").desc(), F.col("l"), F.col("r")).first()

            merges: list[tuple[int, str, str, int]] = []
            best = argmax(vocab) if num_merges > 0 else None
            while best is not None and best["c"] >= min_pair_count:
                l, rr = best["l"], best["r"]
                merges.append((len(merges), l, rr, int(best["c"])))
                if len(merges) == int(num_merges):
                    break
                merged = l + rr
                # greedy left-to-right fold: pop-and-replace when the running tail
                # is `l` and the next symbol is `r`
                fold = F.aggregate(
                    sym,
                    F.array().cast("array<string>"),
                    lambda acc, s: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == F.lit(l))
                        & (s == F.lit(rr)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                        ),
                    ).otherwise(F.concat(acc, F.array(s))),
                )
                staged = vocab.select("cnt", fold.alias("sym"))
                # lineage cut; both checkpoint flavors also store the data,
                # so a checkpoint round persists nothing on top
                stored = bool(checkpoint_every) and len(merges) % int(checkpoint_every) == 0
                # the next argmax is the ONE job per merge: it fills the new
                # vocab before the previous one is released
                vocab, best = replace_cache(
                    vocab, ckpt(staged, eager=False) if stored else staged, argmax, stored
                )

    out = spark.createDataFrame(merges, schema=schema)
    return LazyFrame(out)


def bpe_encode_frame(
    frame: "LazyFrame | SparkDF",
    merges: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    end_of_word: str = "</w>",
    broadcast_vocab: bool = False,
) -> LazyFrame:
    """(id, tokens, n_tokens): documents tokenized under a
    :func:`train_bpe` merge table — merges apply in rank order, exactly as
    the reference BPE encoder does.

    Scale design: the Python stage touches DISTINCT WORDS ONLY.  Words
    posexplode map-side, dedupe to the vocabulary, an Arrow-batched
    pandas_udf (never per-row Python) encodes each distinct word once with
    the broadcast merge ranks, and the corpus reassembles through a plain
    word-keyed equi-join + one id-keyed shuffle (same shape as
    encode_tokens_frame).  Encoding work is O(vocab · merge depth), not
    O(corpus).

    Size contract: the distinct-word frame is CORPUS-DERIVED and unbounded —
    on web-scale text the raw vocabulary (typos, URLs, numerals) reaches
    10^8–10^9 rows, far past any broadcast budget.  The reassembly join is
    therefore NOT hinted: AQE broadcasts it automatically when the measured
    size fits ``spark.sql.autoBroadcastJoinThreshold``, and falls back to a
    word-keyed shuffle join otherwise (perfectly fine — both sides hash on
    ``word``).  Pass ``broadcast_vocab=True`` only when the CALLER knows the
    vocabulary is bounded (e.g. pre-normalized token streams); the collected
    merge table itself stays bounded by ``num_merges`` regardless."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sdf = frame if isinstance(frame, SparkDF) else frame.spark
    mdf = merges if isinstance(merges, SparkDF) else merges.spark
    rank_rows = mdf.select("rank", "left", "right").collect()
    ranks = {(row["left"], row["right"]): int(row["rank"]) for row in rank_rows}
    get_ranks = ship(sdf.sparkSession.sparkContext, ranks)
    eow = end_of_word

    # no type hints: `from __future__ import annotations` stringifies them
    # and pyspark's hint parser can't resolve the function-local pd import
    def _encode(words):
        table = get_ranks()

        def enc(word):
            # reference semantics: find the lowest-rank pair present, merge
            # ALL its occurrences left-to-right, repeat until none applies —
            # the same greedy pass train_bpe's fold uses per merge
            syms = list(word) + [eow]
            while len(syms) >= 2:
                best, bl, br = None, None, None
                for i in range(len(syms) - 1):
                    rk = table.get((syms[i], syms[i + 1]))
                    if rk is not None and (best is None or rk < best):
                        best, bl, br = rk, syms[i], syms[i + 1]
                if best is None:
                    break
                nxt, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == bl and syms[i + 1] == br:
                        nxt.append(bl + br)
                        i += 2
                    else:
                        nxt.append(syms[i])
                        i += 1
                syms = nxt
            return syms

        cache: dict[str, list[str]] = {}
        out = []
        for w in words:
            if w not in cache:
                cache[w] = enc(w)
            out.append(cache[w])
        return pd.Series(out)

    _encode = pandas_udf(_encode, "array<string>")

    posed = sdf.select(
        F.col(id_col), F.posexplode(_words(text_col)).alias("pos", "word")
    )
    distinct_words = posed.select("word").distinct().withColumn("toks", _encode("word"))
    if broadcast_vocab:
        distinct_words = F.broadcast(distinct_words)
    joined = posed.join(distinct_words, "word")
    packed = F.sort_array(F.collect_list(F.struct(F.col("pos"), F.col("toks"))))
    out = (
        joined.groupBy(id_col)
        .agg(packed.alias("__p__"))
        .select(
            id_col,
            F.flatten(F.transform("__p__", lambda s: s["toks"])).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens"))
    )
    return LazyFrame(out)


__all__.extend(["train_bpe", "bpe_encode_frame"])


def feature_hash_frame(
    frame: "LazyFrame | SparkDF",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1024,
    seed: str = "fh",
    signed: bool = True,
) -> LazyFrame:
    """Hashing-trick featurizer: each document becomes a sparse
    ``n_features``-dimensional bag-of-words vector with NO vocabulary pass —
    bucket = md5(seed‖term) mod n_features, and (``signed=True``, the
    Weinberger et al. convention) a second md5 digit flips the contribution
    sign so hash collisions cancel in expectation instead of accumulating.

    Entirely map-side: token→bucket, per-document bucket aggregation, and
    zero-weight elimination are all array expressions inside whole-stage
    codegen — ZERO shuffles, no vocabulary state, no driver round trip.
    That statelessness is the point at 100 TB: featurization composes with
    any upstream scan without a trainer artifact to version or broadcast.
    Per-document cost is O(unique_buckets × tokens) array work; documents
    cap unique_buckets at min(tokens, n_features).

    Output: (id_col, indices array<int> ascending, values array<double>) —
    exactly-zero entries (signed cancellation) are dropped, so empty docs
    yield empty arrays."""
    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    sdf = frame if isinstance(frame, SparkDF) else frame.spark

    # Tokenization stays a Spark expression (exact \s+ parity); the
    # bucket/sign hashing and the signed accumulation run as one numpy
    # bincount kernel in mapInArrow.  The r11 expression version was
    # O(unique_buckets × tokens) INTERPRETED per-element HOF work per doc
    # (transform × zip_with × aggregate — no codegen) and hashed every
    # token twice (bucket md5 + sign md5 of the same input); the kernel
    # reads both fields from one digest.  Buckets ascending + zero-weight
    # elimination match the array_sort/filter semantics exactly (integer
    # sums — bit-identical).
    from .._spread import spread_plain_scan

    staged = sdf.select(F.col(id_col).alias("__id__"), _words(text_col).alias("__w__"))
    staged = spread_plain_scan(staged)
    id_type = staged.schema["__id__"].dataType.simpleString()
    nf = int(n_features)
    seed_s = str(seed)
    want_sign = bool(signed)

    def _fh(batches):
        from hashlib import md5 as _md5

        import numpy as np

        seed_b = seed_s.encode("utf-8")
        for batch in batches:
            ids = batch.column(0)
            idx_out: list = []
            val_out: list = []
            for toks in batch.column(1).to_pylist():
                if toks is None:
                    idx_out.append(None)
                    val_out.append(None)
                    continue
                if not toks:
                    idx_out.append([])
                    val_out.append([])
                    continue
                acc = np.zeros(nf, dtype=np.int64)
                for t in toks:
                    h = _md5(seed_b + t.encode("utf-8")).hexdigest()
                    b = int(h[:8], 16) % nf
                    if want_sign and int(h[8], 16) % 2:
                        acc[b] -= 1
                    else:
                        acc[b] += 1
                nz = np.nonzero(acc)[0]
                idx_out.append([int(i) for i in nz])
                val_out.append([float(acc[i]) for i in nz])
            yield {"__id__": ids, "indices": idx_out, "values": val_out}

    out = map_batches(
        staged, _fh, f"__id__ {id_type}, indices array<int>, values array<double>"
    ).select(F.col("__id__").alias(id_col), "indices", "values")
    return LazyFrame(out)


__all__.append("feature_hash_frame")
