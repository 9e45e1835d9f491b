"""Benchmark decontamination and vocabulary-coverage analysis.

Beyond-reference scope (the reference engine has no corpus layer); the
semantics follow the published train/test-overlap procedure used for LLM
corpora (GPT-3 appendix C / PaLM-style n-gram collision checks): a training
document is *contaminated* when a sufficient fraction of its word n-grams
also appear in an evaluation benchmark.

Scale shape (the part that matters at 100 TB):

- The benchmark side is small (eval suites are MBs, not TBs) — its distinct
  gram set is **broadcast**, so the corpus is scanned exactly once, map-side,
  with no shuffle on the gram key.  Contrast with the corpus-vs-corpus dedup
  joins in :mod:`.dedup`, which must shuffle on the gram.
- The only shuffle is the per-document count aggregation on ``doc_id``
  (map-side combine; 8-byte key).
- Zero-gram documents (shorter than *n* words) are re-attached map-only, so
  the operator is total over the corpus.

``oov_rate_frame`` is the same broadcast pattern with a *learned* small side:
the top-``vocab_size`` words by corpus frequency (a word-count aggregation +
``TakeOrderedAndProject``) become the vocabulary; per-document out-of-vocab
rates then need only the one ``doc_id`` shuffle.

Everything is deterministic Column algebra — no RNG, no Python UDFs — so both
frames are DuckDB-oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from .dedup import _word_ngrams

__all__ = ["contamination_frame", "oov_rate_frame"]


def _sdf(frame) -> SparkDF:
    from ..frame import LazyFrame

    return frame._sdf if isinstance(frame, LazyFrame) else frame


def _staged_words(sdf: SparkDF, text_col: str, id_col: str) -> SparkDF:
    """Cached ``(id, __ws__)`` lowered-word projection (NULL text → no words)
    — the one corpus scan every word-level consumer below shares.  Without
    the staging cache each consumer (vocab agg, per-doc counts, the
    empty-doc re-attach) re-scans and re-splits the corpus; see
    ``_grams_frame``.  Measured on q67 at sf0.1: 11.4 s unstaged, 1.25 s
    staged (9x)."""
    from .._cache import register_cache

    par = sdf.sparkSession.sparkContext.defaultParallelism
    words = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    return register_cache(
        sdf.select(F.col(id_col).alias("id"), words.alias("__ws__")).repartition(par)
    )


def contamination_frame(
    corpus,
    benchmark,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    round_to: int = 6,
):
    """Per-document benchmark-overlap frame:
    ``(doc_id, n_grams, n_matched, overlap_frac, contaminated)``.

    ``n_grams`` is the document's count of *distinct* word ``n``-grams,
    ``n_matched`` how many of those occur anywhere in ``benchmark``, and
    ``contaminated`` is 1 when the rounded overlap fraction reaches
    ``threshold``.  The benchmark gram set is broadcast — decontaminating a
    100 TB corpus against a benchmark suite costs one corpus scan plus one
    ``doc_id``-keyed count aggregation.
    """
    from ..frame import LazyFrame
    from .dedup import _grams_frame

    if n < 1:
        raise ValueError("n must be >= 1")
    corpus_sdf, bench_sdf = _sdf(corpus), _sdf(benchmark)
    btext = bench_text_col or text_col

    bench_grams = (
        bench_sdf.select(F.explode(_word_ngrams(F.col(btext), n)).alias("gram"))
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )

    # staged + CACHED (id, grams) projection: the non-empty and empty
    # branches below both FILTER on size(grams) — against an uncached frame
    # that re-evaluates the whole shingle transform per branch (no CSE
    # through Filter+Project; measured 12x on the dedup path), so the gram
    # OUTPUT itself is persisted and the filters read cached columns.
    from .._cache import register_cache as _rc

    grams = _rc(_grams_frame(corpus_sdf, text_col, id_col, n))
    nonempty = grams.filter(F.size("grams") > 0)
    counted = (
        nonempty.select(
            "id", F.size("grams").alias("n_grams"), F.explode("grams").alias("gram")
        )
        .join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("id")
        .agg(
            F.first("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.sum("__hit__"), F.lit(0)).cast("long").alias("n_matched"),
        )
    )
    empty = grams.filter(F.size("grams") == 0).select(
        "id", F.lit(0).cast("long").alias("n_grams"), F.lit(0).cast("long").alias("n_matched")
    )
    frac = F.round(
        F.when(
            F.col("n_grams") > 0, F.col("n_matched").cast("double") / F.col("n_grams")
        ).otherwise(F.lit(0.0)),
        round_to,
    )
    out = (
        counted.unionByName(empty)
        .withColumnRenamed("id", id_col)
        .withColumn("overlap_frac", frac)
        .withColumn(
            "contaminated", (F.col("overlap_frac") >= threshold).cast("long")
        )
    )
    return LazyFrame(out)


def oov_rate_frame(
    corpus,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
):
    """Per-document out-of-vocabulary frame:
    ``(doc_id, n_words, n_oov, oov_frac)`` against the corpus's own
    top-``vocab_size`` words (frequency desc, word asc — a deterministic
    vocabulary, so the frame is exactly replicable).

    Two aggregations over ONE cached corpus scan (``_staged_words``): a
    word-count shuffle (map-side combined) feeding a
    ``TakeOrderedAndProject`` for the vocabulary, and one ``doc_id`` count
    shuffle for the rates.  The vocabulary — by construction bounded at
    ``vocab_size`` rows — is broadcast back against the word stream.  Total
    over the corpus: NULL-text and empty docs get an ``n_words = 0`` row.
    """
    from ..frame import LazyFrame

    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    staged = _staged_words(_sdf(corpus), text_col, id_col)
    exploded = staged.select("id", F.explode("__ws__").alias("word"))
    vocab = (
        exploded.groupBy("word")
        .agg(F.count("*").alias("__cnt__"))
        .orderBy(F.col("__cnt__").desc(), F.col("word"))
        .limit(vocab_size)
        .select("word", F.lit(1).alias("__in_vocab__"))
    )
    counted = (
        exploded.join(F.broadcast(vocab), "word", "left")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.when(F.col("__in_vocab__").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    empty = staged.filter(F.size("__ws__") == 0).select(
        "id",
        F.lit(0).cast("long").alias("n_words"),
        F.lit(0).cast("long").alias("n_oov"),
    )
    frac = F.round(
        F.when(F.col("n_words") > 0, F.col("n_oov").cast("double") / F.col("n_words"))
        .otherwise(F.lit(0.0)),
        round_to,
    )
    return LazyFrame(
        counted.unionByName(empty)
        .withColumnRenamed("id", id_col)
        .withColumn("oov_frac", frac)
    )
