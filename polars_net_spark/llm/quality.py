"""Corpus-quality heuristics for LLM training-data pipelines.

Beyond-reference scope (the reference engine has no text-quality layer); the
rule set follows the published Gopher/C4-style filters: word-count bands,
mean-word-length bands, symbol-to-word ratios, bulleted/ellipsis line
fractions, alphabetic-word fraction, required-stopword hits, duplicate-line
and repeated-n-gram ratios, and PII pattern scrubbing.

Everything here is pure Column expressions or a small explode->groupBy->window
pipeline — no Python UDFs — so each metric runs JVM-side at scan speed and
scales linearly: per-doc metrics are map-only; the top-n-gram metric shuffles
once on (doc_id) after a map-side explode.  All rules are deterministic and
ANSI-SQL-expressible, so every frame here is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from .._arrow import map_batches
from .._bounded import ship
from .._cache import register_cache

__all__ = [
    "blocklist_metrics_frame",
    "gopher_quality_frame",
    "unigram_logprob_frame",
    "bigram_logprob_frame",
    "train_linear_quality",
    "repetition_metrics_frame",
    "pii_metrics_frame",
    "word_entropy_frame",
    "REQUIRED_STOPWORDS",
    "PII_PATTERNS",
]

# Gopher's "required word" list: a document is kept only if at least
# `min_stop_hits` of these appear (proxy for real prose).
REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB): no backrefs,
# no lookaround.  Each maps name -> (pattern, replacement token).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
}


def _words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def _lines(text: Column) -> Column:
    return F.split(text, r"\n")


def _frac(num: Column, den: Column, round_to: int) -> Column:
    return F.round(F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0)), round_to)


def gopher_quality_frame(
    frame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
):
    """Per-document Gopher-style quality metrics + a `passes` verdict.

    Map-only (one scan, no shuffle): every metric is a Column expression over
    a single staged word/line split, so at 100 TB this runs at parquet-scan
    speed with full codegen.  Metrics:

    - n_words, mean_word_len (sum of word lengths / n_words)
    - symbol_ratio: (# '#' chars + '...' runs) / n_words
    - bullet_frac / ellipsis_frac: fraction of lines starting with a bullet
      ('-', '*') / ending with an ellipsis
    - alpha_frac: fraction of words containing an ASCII letter
    - stop_hits: how many DISTINCT required stopwords appear
    - passes: AND of the standard Gopher thresholds (all configurable)
    """
    from ..frame import LazyFrame

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    text = F.col(text_col)
    staged = sdf.select(
        F.col(id_col),
        text,
        _words(text).alias("__ws__"),
        _lines(text).alias("__ls__"),
    )
    ws, ls = F.col("__ws__"), F.col("__ls__")
    blank = F.length(F.trim(text)) == 0
    n_words = F.when(blank, F.lit(0)).otherwise(F.size(ws))
    n_lines = F.size(ls)
    word_chars = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    symbols = F.regexp_count(text, F.lit(r"#")) + F.regexp_count(text, F.lit(r"\.\.\."))
    bullet_lines = F.size(F.filter(ls, lambda l: F.ltrim(l).rlike(r"^[-*]")))
    ellipsis_lines = F.size(F.filter(ls, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$")))
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike(r"[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(ws, F.lower)),
            F.array(*[F.lit(s) for s in REQUIRED_STOPWORDS]),
        )
    )
    out = staged.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        _frac(word_chars, n_words, round_to).alias("mean_word_len"),
        _frac(symbols, n_words, round_to).alias("symbol_ratio"),
        _frac(bullet_lines, n_lines, round_to).alias("bullet_frac"),
        _frac(ellipsis_lines, n_lines, round_to).alias("ellipsis_frac"),
        _frac(alpha_words, n_words, round_to).alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_frac") <= max_bullet_frac)
        & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        & (F.col("alpha_frac") >= min_alpha_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return LazyFrame(out.withColumn("passes", passes))


def repetition_metrics_frame(
    frame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
    round_to: int = 6,
):
    """Per-document repetition metrics (Gopher's repetition filters):

    - dup_line_frac: 1 - distinct(lines)/lines — map-only Column math.
    - top_ngram_frac: fraction of the document's characters covered by its
      single most frequent word n-gram (occurrences x gram length / chars).

    The n-gram metric is the one that needs distribution: grams are exploded
    map-side, counted with a (doc_id, gram) hash aggregate (partial
    aggregation applies), and the argmax gram is taken with a per-doc window.
    One shuffle keyed by doc_id — no global state, scales linearly in corpus
    size.  Ties break deterministically (count desc, gram asc).
    """
    from ..frame import LazyFrame

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    text = F.col(text_col)
    staged = register_cache(
        sdf.select(
            F.col(id_col),
            F.length(text).alias("__nc__"),
            _words(F.lower(text)).alias("__ws__"),
            _lines(text).alias("__ls__"),
        )
    )
    ws, ls = F.col("__ws__"), F.col("__ls__")
    dup_line_frac = F.when(
        F.size(ls) > 1,
        F.round(1.0 - F.size(F.array_distinct(ls)).cast("double") / F.size(ls).cast("double"), round_to),
    ).otherwise(F.lit(0.0))
    base = staged.select(
        F.col(id_col),
        F.col("__nc__"),
        dup_line_frac.alias("dup_line_frac"),
        F.col("__ws__"),
    )

    n = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(n - ngram, F.lit(0)))
    grams = F.when(
        n >= ngram,
        F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, ngram), " ")),
    ).otherwise(F.array().cast("array<string>"))
    exploded = base.select(F.col(id_col), F.explode(grams).alias("gram"))
    counts = exploded.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    top = (
        counts.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(F.col(id_col), F.col("gram").alias("top_gram"), F.col("cnt").alias("top_gram_count"))
    )
    out = (
        base.drop("__ws__")
        .join(top, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("dup_line_frac"),
            F.coalesce(F.col("top_gram"), F.lit("")).alias("top_gram"),
            F.coalesce(F.col("top_gram_count"), F.lit(0)).cast("long").alias("top_gram_count"),
            F.round(
                F.coalesce(
                    F.col("top_gram_count") * F.length(F.col("top_gram")) / F.col("__nc__"),
                    F.lit(0.0),
                ),
                round_to,
            ).alias("top_ngram_frac"),
        )
    )
    return LazyFrame(out)


def pii_metrics_frame(
    frame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, tuple[str, str]] | None = None,
):
    """Per-document PII detection + redaction: one count column per pattern
    plus a `redacted` text with every match replaced by its token.

    Map-only regex work (regexp_count / regexp_replace) — JVM regex engine,
    no Python.  Patterns are restricted to the Java-regex/RE2 common subset
    (no backreferences or lookaround) so the same pattern text runs in Spark
    and in the DuckDB oracle.
    """
    from ..frame import LazyFrame

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    pats = PII_PATTERNS if patterns is None else patterns
    text = F.col(text_col)
    cols = [F.col(id_col)]
    for name, (pat, _) in pats.items():
        cols.append(F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}"))
    redacted = text
    for _, (pat, token) in pats.items():
        redacted = F.regexp_replace(redacted, pat, token)
    cols.append(redacted.alias("redacted"))
    return LazyFrame(sdf.select(*cols))


def unigram_logprob_frame(
    frame,
    vocab_size: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
):
    """Per-document mean unigram log10-probability — the classic cheap
    perplexity proxy for corpus quality filtering (docs of improbable tokens
    score low; boilerplate of ultra-common tokens scores high).

    The language model is the corpus itself: the top-``vocab_size`` words by
    frequency carry p(w) = count(w)/N; everything rarer shares the floor
    probability 1/N.  Scale shape matches :func:`~.decontam.oov_rate_frame`:
    ONE cached corpus scan (``_staged_words``) feeds a map-side-combined
    word-count shuffle and a ``TakeOrderedAndProject`` vocabulary (ties
    broken by word so the model is deterministic), broadcast back over the
    word stream, then one ``doc_id`` count shuffle.  Exact integer counts +
    a fixed expression shape keep the score bit-replicable in ANSI SQL.

    Output: ``(doc_id, n_words, mean_logprob)``; total over the corpus —
    NULL-text and empty docs get ``(0, 0.0)``.
    """
    from ..frame import LazyFrame
    from .decontam import _staged_words

    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    staged = _staged_words(sdf, text_col, id_col)
    exploded = staged.select("id", F.explode("__ws__").alias("word"))
    total = exploded.select(F.count("*").alias("__N__"))
    vocab = (
        exploded.groupBy("word")
        .agg(F.count("*").alias("__cnt__"))
        .orderBy(F.col("__cnt__").desc(), F.col("word"))
        .limit(vocab_size)
    )
    # p(w) = cnt/N in-vocab, 1/N floor otherwise; N attaches via a 1-row
    # broadcast (empty-partition window would also work but the join keeps
    # the word stream partition-local)
    scored = (
        exploded.join(F.broadcast(vocab), "word", "left")
        .join(F.broadcast(total))
        .withColumn(
            "__lp__",
            F.log10(
                F.coalesce(F.col("__cnt__"), F.lit(1)).cast("double")
                / F.col("__N__").cast("double")
            ),
        )
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.round(F.avg("__lp__"), round_to).alias("mean_logprob"),
        )
    )
    empty = staged.filter(F.size("__ws__") == 0).select(
        "id",
        F.lit(0).cast("long").alias("n_words"),
        F.lit(0.0).alias("mean_logprob"),
    )
    return LazyFrame(scored.unionByName(empty).withColumnRenamed("id", id_col))


def blocklist_metrics_frame(
    frame,
    phrases: "Sequence[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    word_boundary: bool = True,
    round_to: int = 6,
):
    """C4-style blocklist filtering: per-document hit count against a phrase
    blocklist + keep/drop verdict.  Output: (doc_id, n_blocked_hits,
    blocked_frac, blocked).

    The phrase list compiles into the plan as an array literal (a few
    thousand phrases is kilobytes — closure-broadcast, no join, no shuffle;
    the whole operator is one map-only corpus pass).  ``word_boundary=True``
    matches phrases only at word boundaries (C4 semantics: "ass" must not
    flag "class") via a regexp per phrase; False does raw substring
    containment.  ``blocked_frac`` = hits / word count, so long documents
    aren't dropped for one incidental hit downstream.
    """
    import re as _re

    from ..frame import LazyFrame

    if not phrases:
        raise ValueError("blocklist_metrics_frame needs at least one phrase")
    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    low = F.lower(F.col(text_col))
    if word_boundary:
        hit_exprs = [
            F.when(low.rlike(r"(^|\W)" + _re.escape(p.lower()) + r"($|\W)"), 1).otherwise(0)
            for p in phrases
        ]
    else:
        hit_exprs = [F.when(low.contains(p.lower()), 1).otherwise(0) for p in phrases]
    hits = hit_exprs[0]
    for h in hit_exprs[1:]:
        hits = hits + h
    n_words = F.size(_words(F.col(text_col)))
    out = sdf.select(
        F.col(id_col),
        hits.cast("long").alias("n_blocked_hits"),
        F.round(hits.cast("double") / F.greatest(n_words, F.lit(1)), round_to).alias(
            "blocked_frac"
        ),
        (hits > 0).alias("blocked"),
    )
    return LazyFrame(out)


def linear_quality_score_frame(
    frame,
    weights: "list[float]",
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "lq",
    threshold: float = 0.5,
    round_to: int = 6,
) -> LazyFrame:
    """fastText-style linear quality classifier over HASHED bag-of-words
    features: each lowercased word hashes to a bucket in [0, len(weights))
    (md5 hex-fold — engine-portable, llm/splits.py hash_bucket), the doc's
    score is sigmoid(bias + mean of its words' bucket weights).

    This is the serving half of the classic quality-filter setup (train a
    linear model offline, score the corpus at ingest): weights ride into the
    plan as an array literal (broadcast by closure), scoring is one map-only
    pass — F.aggregate over the split words, element_at into the weight
    array, no UDF, no shuffle, no vocabulary join.  At 100 TB this is the
    cheapest possible classifier shape: corpus scanned once, zero state.

    Output: (id, n_words, q_score, keep) with keep = q_score >= threshold.
    """
    from ..frame import LazyFrame
    from .splits import hash_bucket

    nb = len(weights)
    if nb < 1:
        raise ValueError("weights must be non-empty")
    sdf = frame.spark if hasattr(frame, "spark") else frame
    warr = F.array(*[F.lit(float(w)) for w in weights])
    words = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: F.length(w) > 0
    )
    contrib = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, w: acc + F.element_at(warr, (hash_bucket(w, salt, nb) + 1).cast("int")),
    )
    n = F.size(words)
    z = F.lit(float(bias)) + contrib / F.greatest(n, F.lit(1)).cast("double")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), round_to)
    out = sdf.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        score.alias("q_score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )
    return LazyFrame(out)


def bigram_logprob_frame(
    frame,
    vocab_size: int = 50_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
):
    """Per-document mean BIGRAM log10-probability with stupid-backoff to the
    unigram floor — one step closer to a real perplexity filter than
    :func:`unigram_logprob_frame` (catches scrambled/boilerplate word order
    that unigram stats cannot see).

    Model = the corpus itself: p(w2|w1) = cnt(w1 w2)/cnt(w1) for the
    top-``vocab_size`` bigrams by count, else backoff 0.4 * cnt(w2)/N (or
    the 1/N floor for OOV w2).  Scale shape: ONE cached corpus scan
    (``_staged_words``) feeds two map-side-combined count shuffles (the
    bigram and unigram models — both keyed, both bounded artifacts: the
    bigram table is TakeOrdered'd to ``vocab_size`` and the unigram table
    is the SAME object the r11 plan shipped whole as three broadcast hash
    relations).  Both models then collect once driver-side and SCORING IS
    MAP-ONLY — a dict-lookup mapInArrow kernel computes each doc's mean
    log-prob in place, replacing the r11 shape's second interpreted
    bigram-expansion pass, its three broadcast joins, and the corpus-wide
    ``doc_id`` regroup shuffle (a doc's score needs no other doc's rows).
    Deterministic ties (count desc, gram asc) keep the model
    ANSI-SQL-replicable.

    Output: ``(doc_id, n_bigrams, mean_logprob)``; docs with < 2 words get
    ``(0, 0.0)``.
    """
    from ..frame import LazyFrame
    from .decontam import _staged_words

    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    staged = _staged_words(sdf, text_col, id_col)
    ws = F.col("__ws__")
    bigrams = staged.select(
        F.explode(
            F.when(
                F.size(ws) >= 2,
                F.transform(
                    F.slice(ws, 1, F.size(ws) - 1),
                    lambda w, i: F.struct(
                        w.alias("w1"), F.element_at(ws, i + F.lit(2)).alias("w2")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    words = staged.select(F.explode(ws).alias("word"))
    uni = words.groupBy("word").agg(F.count("*").alias("__uc__"))
    bi_vocab = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("__bc__"))
        .orderBy(F.col("__bc__").desc(), F.col("w1"), F.col("w2"))
        .limit(vocab_size)
    )
    uni_map: dict = {}
    n_total = 0
    for r in uni.collect():
        c = int(r["__uc__"])
        uni_map[r["word"]] = c
        n_total += c
    bi_map = {
        (r["w1"], r["w2"]): int(r["__bc__"]) for r in bi_vocab.collect()
    }
    n_f = float(n_total) if n_total else 1.0
    # broadcast the two model tables (_bounded.ship).
    # DRIVER-MEMORY BOUND: the bigram table is capped at vocab_size rows,
    # but the unigram table is the full corpus vocabulary — it grows
    # ~O(corpus^beta) under Heaps' law (beta ~ 0.5), i.e. a 100 TB corpus
    # is on the order of 10^8 distinct words ~ a few GB as a Python dict.
    # That is the same object the pre-r12 plan shipped whole as a
    # broadcast hash relation; beyond it, shard the unigram floor lookup
    # or raise spark.driver.memory — the backoff floor is part of the
    # declared result, so it cannot be silently truncated.
    get_models = ship(sdf.sparkSession.sparkContext, (uni_map, bi_map))

    # the kernel emits the raw log-prob SUM; the mean's division and
    # F.round stay Spark expressions so the rounding convention (HALF_UP)
    # is bit-identical to the aggregate it replaces
    def _score(batches):
        from math import log10

        uni_m, bi_m = get_models()
        uget = uni_m.get
        bget = bi_m.get
        for batch in batches:
            toks_in = batch.column(1).to_pylist()
            nbg: list = []
            sums: list = []
            for toks in toks_in:
                n = len(toks)
                if n < 2:
                    nbg.append(0)
                    sums.append(0.0)
                    continue
                s = 0.0
                for i in range(n - 1):
                    w1, w2 = toks[i], toks[i + 1]
                    bc = bget((w1, w2))
                    if bc is not None:
                        s += log10(bc / uget(w1))
                    else:
                        s += log10(0.4 * uget(w2, 1) / n_f)
                sums.append(s)
                nbg.append(n - 1)
            yield {"id": batch.column(0), "n_bigrams": nbg, "__s__": sums}

    id_type = staged.schema["id"].dataType.simpleString()
    out = (
        map_batches(staged, _score, f"id {id_type}, n_bigrams bigint, __s__ double")
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            F.when(
                F.col("n_bigrams") > 0,
                F.round(F.col("__s__") / F.col("n_bigrams"), round_to),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_logprob"),
        )
    )
    return LazyFrame(out)


def train_linear_quality(
    frame,
    label_col: str = "label",
    text_col: str = "text",
    num_buckets: int = 256,
    salt: str = "lq",
    reg_param: float = 0.0,
    max_iter: int = 100,
) -> "tuple[list[float], float]":
    """The TRAINING half of the quality-filter setup: fit a logistic
    regression over the SAME hashed bag-of-words features the serving path
    (:func:`linear_quality_score_frame`) reads, and return ``(weights,
    bias)`` ready to plug straight into it.

    Features per doc = dense bucket-frequency vector (count of words in
    bucket b / n_words, same md5 ``hash_bucket`` as serving, so
    train-vs-serve feature parity is by construction).  Feature building is
    pure Column HOF math (one transform over the bucket range counting
    matches — O(num_buckets * words) per doc, fine for the classifier-size
    bucket counts this is for); the fit is Spark MLlib's distributed LBFGS
    — the standard way to train a linear model over a corpus too big for
    one machine.  Deterministic given the data (no sampling).

    Returns (weights: list of num_buckets floats, bias: float).
    Train-serve consistency is pinned by test: serving scores equal
    MLlib's own predicted probabilities on the training frame.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from .splits import hash_bucket

    sdf = frame.spark if hasattr(frame, "spark") else frame
    words = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: F.length(w) > 0
    )
    n = F.greatest(F.size(words), F.lit(1)).cast("double")
    # bucket-frequency vector: for each bucket b, (#words hashing to b) / n
    feats = F.transform(
        F.sequence(F.lit(0), F.lit(int(num_buckets) - 1)),
        lambda b: F.size(
            F.filter(words, lambda w: hash_bucket(w, salt, num_buckets) == b.cast("long"))
        ).cast("double")
        / n,
    )
    train = sdf.select(
        F.col(label_col).cast("double").alias("label"),
        array_to_vector(feats).alias("features"),
    )
    lr = LogisticRegression(
        maxIter=int(max_iter), regParam=float(reg_param), standardization=False
    )
    model = lr.fit(train)
    return [float(w) for w in model.coefficients], float(model.intercept)


def word_entropy_frame(
    frame,
    text_col: str = "text",
    round_to: int = 6,
    lowercase: bool = True,
) -> "LazyFrame":
    """Shannon entropy (bits) of each document's unigram distribution —
    the classic "is this prose or a keyword dump / repeated boilerplate"
    quality feature: low entropy = few distinct words dominate, high
    entropy = diverse vocabulary.  Appends ``n_words`` and ``word_entropy``
    (empty docs → 0 words, null entropy).

    ZERO-shuffle design: no explode + per-doc groupBy (two corpus-wide
    shuffles keyed by doc).  Each doc's word array is sorted, then ONE
    ``aggregate`` fold walks it tracking (previous word, current run
    length, Σ run·log2(run)); the finish lambda flushes the last run.
    Entropy = log2(n) − Σ run·log2(run) / n.  O(d log d) per doc, whole
    codegen, and — critically — the sorted array is an aggregate OPERAND,
    evaluated once.  The first cut indexed into the sorted-array
    EXPRESSION from inside per-element lambdas, and Catalyst re-evaluates
    a non-attribute expression at every lambda reference: the sort ran
    per element, O(d²·log d) — 47 s instead of 1.4 s over 5 000 docs.
    """
    from pyspark.sql import DataFrame as SparkDF

    from ..frame import LazyFrame

    sdf = frame if isinstance(frame, SparkDF) else frame.spark
    raw = F.trim(F.col(text_col))
    if lowercase:
        raw = F.lower(raw)
    words = F.filter(F.split(raw, r"\s+"), lambda w: F.length(w) > 0)
    sw = F.array_sort(words)
    n = F.size(sw)
    nd = n.cast("double")

    def term(run):
        return F.when(run > 0, run.cast("double") * F.log2(run.cast("double"))).otherwise(F.lit(0.0))

    s_runs = F.aggregate(
        sw,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0.0).alias("s")
        ),
        lambda acc, x: F.when(
            x == acc["prev"],
            F.struct(x.alias("prev"), (acc["run"] + 1).alias("run"), acc["s"].alias("s")),
        ).otherwise(
            F.struct(x.alias("prev"), F.lit(1).alias("run"), (acc["s"] + term(acc["run"])).alias("s"))
        ),
        lambda acc: acc["s"] + term(acc["run"]),
    )
    # trailing "+ 0.0" normalizes a 1-ulp negative residual's round to +0.0
    # (-0.0 would value-hash unequal); the oracle applies the same formula
    # and the same normalization
    ent = F.round(F.log2(nd) - s_runs / nd, round_to) + F.lit(0.0)
    out = sdf.withColumn("n_words", n.cast("long")).withColumn(
        "word_entropy",
        F.when(n > 0, ent),
    )
    # guard: split("") yields [""] filtered to [] -> n=0 -> null entropy
    return LazyFrame(out)
