"""Document chunking and sequence packing for training pipelines.

- :func:`chunk_documents`: split each document into overlapping fixed-size
  token windows (the pre-tokenizer step before embedding or sequence
  training).  Pure map-side explode — one scan, no shuffle, chunk count
  derives from a closed-form formula so the DuckDB oracle replicates it
  exactly.

- :func:`pack_sequences`: assign documents to fixed-token-budget packs
  (sequence packing for training efficiency).  True first-fit packing is
  sequential; this is the scalable deterministic variant: documents are
  hashed into ``num_buckets`` independent streams (portable md5 bucket, so
  membership is reproducible anywhere), and each stream packs greedily in
  doc-id order via one cumulative-sum window partitioned by bucket.  A
  document straddling a boundary overflows its pack (packs may exceed the
  budget by at most one document's tokens) — the standard approximation that
  keeps the operator a single windowed pass instead of an iterative
  bin-packer.  One shuffle keyed by bucket; parallelism = num_buckets.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .._arrow import map_batches
from .splits import hash_bucket

__all__ = ["chunk_documents", "pack_sequences", "mask_tokens_frame", "flatten_chat_frame", "length_bucket_batches"]


def chunk_documents(
    frame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 512,
    overlap: int = 0,
    lowercase: bool = False,
):
    """Explode each document into whitespace-token windows of ``size`` tokens
    with ``overlap`` tokens shared between consecutive chunks.

    Output: (id, chunk_id, n_tokens, chunk).  Empty/blank documents produce
    no chunks.  The final chunk may be shorter than ``size``.
    n_chunks = 1 + ceil(max(n - size, 0) / stride), stride = size - overlap.
    Chunk text preserves the original casing unless ``lowercase=True``.
    """
    from ..frame import LazyFrame

    if size <= 0:
        raise ValueError("size must be positive")
    if not 0 <= overlap < size:
        raise ValueError("overlap must satisfy 0 <= overlap < size")
    stride = size - overlap

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    text = F.trim(F.col(text_col))
    if lowercase:
        text = F.lower(text)
    words = F.split(text, r"\s+")
    words = F.filter(words, lambda w: F.length(w) > 0)
    base = sdf.select(F.col(id_col), words.alias("__ws__"))
    n = F.size("__ws__")
    # ceil((n - size)+ / stride) via integer arithmetic, identical in SQL
    n_chunks = 1 + (
        (F.greatest(n - size, F.lit(0)) + F.lit(stride - 1)) / F.lit(stride)
    ).cast("long")
    chunk_ids = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<long>")
    )
    exploded = base.select(
        F.col(id_col), F.col("__ws__"), F.explode(chunk_ids).alias("chunk_id")
    )
    piece = F.slice(F.col("__ws__"), (F.col("chunk_id") * stride + 1).cast("int"), size)
    out = exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk"),
    )
    return LazyFrame(out)


def pack_sequences(
    frame,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    budget: int = 2048,
    num_buckets: int = 1024,
    salt: str = "",
):
    """Greedy deterministic sequence packing: documents are split into
    ``num_buckets`` md5-hashed streams; within a stream (ordered by id) the
    running token total assigns each doc to pack floor((cum - tokens)/budget).

    Output adds (bucket, pack_id, cum_tokens); global pack identity is the
    (bucket, pack_id) pair.  Deterministic across runs/engines/cluster
    layouts; one bucket-keyed shuffle."""
    from ..frame import LazyFrame

    if budget <= 0:
        raise ValueError("budget must be positive")
    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    b = hash_bucket(F.col(id_col), salt=salt, num_buckets=num_buckets)
    staged = sdf.withColumn("bucket", b.cast("long"))
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col(token_col)).over(w)
    out = staged.withColumn("cum_tokens", cum.cast("long")).withColumn(
        "pack_id",
        ((F.col("cum_tokens") - F.col(token_col)) / F.lit(budget)).cast("long"),
    )
    return LazyFrame(out)


def mask_tokens_frame(
    frame,
    mask_rate: float = 0.15,
    span_len: int = 1,
    seed: str = "",
    mask_token: str = "<MASK>",
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Deterministic masked-LM corpus prep: mask ``mask_rate`` of token
    positions (BERT-style; ``span_len`` > 1 extends every selected start to
    a fixed-length span, T5-ish span corruption without sentinel renumbering).

    Randomness is a portable hash, not an RNG: position i of doc d draws
    from md5(seed||d||'\\x1f'||i), so the same (seed, corpus) masks the same
    positions on any engine and any partitioning — reproducible training
    data, oracle-checkable.  Start rate is ``mask_rate / span_len`` so the
    EXPECTED masked fraction stays ~mask_rate for any span length.  A null
    id draws no position (md5 over a null is null in SQL): its row comes
    out with every token kept and no targets.

    Map-only at any scale; the draw/span/corrupt math runs as ONE hashlib
    mapInArrow kernel over the JVM-split words (exact \\s+ parity).  The
    r11 Catalyst version drew INLINE per (position, span-offset) — an
    O(n·span_len) interpreted md5 chain (HOFs have no codegen, and a
    precomputed starts array is a Catalyst CSE trap measured O(n²), see
    git history) — where the kernel hashes each position ONCE off a
    reusable md5 prefix state, identical digests bit-for-bit.

    Output: (id, corrupted text, targets = masked tokens in order,
    n_tokens, n_masked).
    """
    from ..frame import LazyFrame

    if not (0.0 < mask_rate < 1.0):
        raise ValueError("mask_rate must be in (0, 1)")
    if span_len < 1:
        raise ValueError("span_len must be >= 1")
    sdf = frame._sdf if hasattr(frame, "_sdf") else frame
    start_rate = mask_rate / span_len
    # md5 -> first 8 hex chars -> uniform in [0, 16^8)
    threshold = int(start_rate * 16**8)
    text = F.col(text_col)
    # null text behaves as empty: 0 tokens, empty targets, null corrupted
    ws = F.filter(F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+"), lambda w: F.length(w) > 0)
    staged = sdf.select(
        F.col(id_col).alias("__mt_id__"),
        F.col(id_col).cast("string").alias("__mt_did__"),
        text.isNull().alias("__mt_tnull__"),
        ws.alias("__mt_ws__"),
    )
    # Guarded spread (shared helper, extracted from this function's r12
    # version): probe + round-robin only on plain scan chains — see
    # polars_net_spark/_spread.py for the re-planning rationale.
    from .._spread import spread_plain_scan

    staged = spread_plain_scan(staged)
    id_type = staged.schema["__mt_id__"].dataType.simpleString()
    seed_s = str(seed)
    span = int(span_len)
    mt = str(mask_token)

    def _mask(batches):
        from hashlib import md5 as _md5

        sep = "\x1f"
        for batch in batches:
            dids = batch.column(1).to_pylist()
            tnulls = batch.column(2).to_pylist()
            toks_in = batch.column(3).to_pylist()
            corr: list = []
            targ: list = []
            n_tok: list = []
            n_msk: list = []
            for did, tnull, toks in zip(dids, tnulls, toks_in):
                n = len(toks)
                if n == 0:
                    corr.append(None if tnull else "")
                    targ.append([])
                    n_tok.append(0)
                    n_msk.append(0)
                    continue
                masked = [False] * n
                # a null id draws no position: md5 over a null is null in SQL
                if did is not None:
                    prefix = _md5((seed_s + did + sep).encode("utf-8"))
                    for i in range(n):
                        h = prefix.copy()
                        h.update(str(i).encode("ascii"))
                        if int(h.hexdigest()[:8], 16) < threshold:
                            hi = i + span if i + span < n else n
                            for j in range(i, hi):
                                masked[j] = True
                nm = sum(masked)
                corr.append(
                    " ".join(mt if m else w for w, m in zip(toks, masked))
                )
                targ.append([w for w, m in zip(toks, masked) if m])
                n_tok.append(n)
                n_msk.append(nm)
            yield {
                "__mt_id__": batch.column(0),
                "corrupted": corr,
                "targets": targ,
                "n_tokens": n_tok,
                "n_masked": n_msk,
            }

    masked_df = map_batches(
        staged,
        _mask,
        f"__mt_id__ {id_type}, corrupted string, targets array<string>, "
        "n_tokens bigint, n_masked bigint",
    )
    final = masked_df.select(
        F.col("__mt_id__").alias(id_col),
        "corrupted",
        "targets",
        "n_tokens",
        "n_masked",
    )
    return LazyFrame(final)


def flatten_chat_frame(
    frame,
    messages_col: str = "messages",
    id_col: str = "doc_id",
    role_field: str = "role",
    content_field: str = "content",
    template: str = "<|{role}|>\n{content}",
    joiner: str = "\n",
    roles_keep: "list[str] | None" = None,
):
    """SFT corpus prep: flatten a chat transcript column —
    ``array<struct<role,content>>`` (or a JSON string of the same shape) —
    into one role-tagged training text per conversation, plus turn counts.

    Pure higher-order Column ops (optional from_json -> filter ->
    transform -> array_join) — map-only at any scale, no UDF.  ``template``
    formats each turn ({role}/{content} placeholders); ``roles_keep``
    drops other roles (e.g. tool traces) BEFORE formatting.

    Output: (id, text, n_turns, n_chars).
    """
    from pyspark.sql import types as T

    from ..frame import LazyFrame

    sdf = frame._sdf if hasattr(frame, "_sdf") else frame
    c = F.col(messages_col)
    dt = dict(sdf.dtypes).get(messages_col, "")
    if dt.startswith("string"):
        schema = T.ArrayType(
            T.StructType(
                [
                    T.StructField(role_field, T.StringType()),
                    T.StructField(content_field, T.StringType()),
                ]
            )
        )
        c = F.from_json(c, schema)
    if roles_keep is not None:
        kept = [F.lit(r) for r in roles_keep]
        c = F.filter(c, lambda m: m.getField(role_field).isin(*roles_keep))
    pre, mid_post = template.split("{role}", 1)
    mid, post = mid_post.split("{content}", 1)
    rendered = F.transform(
        c,
        lambda m: F.concat(
            F.lit(pre),
            F.coalesce(m.getField(role_field), F.lit("")),
            F.lit(mid),
            F.coalesce(m.getField(content_field), F.lit("")),
            F.lit(post),
        ),
    )
    text = F.array_join(rendered, joiner)
    out = sdf.select(
        F.col(id_col),
        text.alias("text"),
        F.when(c.isNull(), F.lit(0)).otherwise(F.size(c)).cast("long").alias("n_turns"),
        F.coalesce(F.length(text), F.lit(0)).cast("long").alias("n_chars"),
    )
    return LazyFrame(out)


def length_bucket_batches(
    frame,
    token_col: str,
    id_col: str,
    batch_size: int,
    edges: "list[float]",
    num_shards: int = 32,
    salt: str = "",
):
    """Length-bucketed batch assignment: group rows of similar length into
    fixed-size training batches so padding waste is bounded by the bucket
    width, with a deterministic hash order inside each bucket (no RNG —
    rerun-identical batch membership).

    ``length_bucket`` = #edges ≤ value (0..len(edges)).  Rows are then split
    into ``num_shards`` hash shards and numbered inside each
    (bucket, shard) by md5(salt‖id); ``batch_idx`` / ``pos_in_batch`` tile
    that order into runs of ``batch_size``.  Batches NEVER mix length
    buckets or shards, so every batch except at most one trailing partial
    per (bucket, shard) is exactly ``batch_size`` rows of one bucket.

    Scale: one shuffle keyed on (bucket, shard).  The shard key is the
    anti-skew lever — a single global bucket would funnel into one window
    task; with shards the largest task sorts ~corpus/(buckets·shards) rows.
    Set num_shards ≈ cluster cores (default 32 matches local[32]).
    """
    from pyspark.sql import Window

    from ..frame import LazyFrame

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    v = F.col(token_col)
    bucket = sum(
        (v >= F.lit(e)).cast("int") for e in edges
    )
    order = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    staged = sdf.withColumn("length_bucket", bucket).withColumn(
        "shard", hash_bucket(F.col(id_col), salt=salt + "|shard") % num_shards
    )
    w = Window.partitionBy("length_bucket", "shard").orderBy(order, F.col(id_col))
    rn = F.row_number().over(w) - 1
    out = staged.withColumn("batch_idx", (rn / batch_size).cast("int")).withColumn(
        "pos_in_batch", rn % batch_size
    )
    return LazyFrame(out)


def build_sft_examples(
    frame,
    vocab,
    prompt_col: str = "prompt",
    response_col: str = "response",
    id_col: str = "doc_id",
    mask_label: int = -100,
    oov_id: int = -1,
) -> "LazyFrame":
    """Supervised-fine-tuning example prep: encode prompt + response into ONE
    token sequence and emit the matching ``labels`` with every prompt
    position masked to ``mask_label`` (-100, the loss-ignore convention) and
    every response position carrying its token id — the tensor pair a
    trainer consumes directly.

    Output: (id, input_ids, labels, n_tokens, n_prompt_tokens).

    MAP-ONLY (the encode_tokens_frame shape): the vocabulary collects once
    driver-side (bounded — the same memory contract as the broadcast hash
    relation the r11 join built; OOV encodes as ``oov_id``) and each task
    dict-encodes prompt+response and masks labels in one ``mapInArrow``
    kernel over the JVM-split words.  The r11 shape posexploded every
    token and reassembled sequences with a corpus-wide collect_list
    shuffle — the only shuffle in the plan, now gone.  Zero-token docs
    vanish (posexplode parity); a duplicate ``term`` in a user vocab
    resolves to its smallest token_id.
    """
    from pyspark.sql import DataFrame as SparkDF

    from ..frame import LazyFrame
    from .vocab import _ship_vocab

    sdf = frame if isinstance(frame, SparkDF) else frame.spark
    vdf = vocab if isinstance(vocab, SparkDF) else vocab.spark
    get_vmap, tid_type = _ship_vocab(vdf)

    def _w(c):
        w = F.split(F.lower(F.trim(F.coalesce(F.col(c), F.lit("")))), r"\s+")
        return F.filter(w, lambda t: F.length(t) > 0)

    pw, rw = _w(prompt_col), _w(response_col)
    staged = sdf.select(
        F.col(id_col).alias("__id__"), pw.alias("__pw__"), rw.alias("__rw__")
    )
    from .._spread import spread_plain_scan

    staged = spread_plain_scan(staged)
    id_type = staged.schema["__id__"].dataType.simpleString()
    oov = int(oov_id)
    mask = int(mask_label)

    def _enc(batches):
        import numpy as np

        get = get_vmap().get
        for batch in batches:
            pws = batch.column(1).to_pylist()
            rws = batch.column(2).to_pylist()
            keep: list = []
            ids_out: list = []
            lbl_out: list = []
            np_out: list = []
            for j, (p, r) in enumerate(zip(pws, rws)):
                n_p = len(p)
                if n_p + len(r) == 0:
                    continue  # posexplode parity: zero-token docs drop
                seq = [get(t, oov) for t in p]
                seq += [get(t, oov) for t in r]
                keep.append(j)
                ids_out.append(seq)
                lbl_out.append([mask] * n_p + seq[n_p:])
                np_out.append(n_p)
            yield {
                "__id__": batch.column(0).take(np.array(keep, dtype=np.int64)),
                "input_ids": ids_out,
                "labels": lbl_out,
                "n_tokens": [len(s) for s in ids_out],
                "n_prompt_tokens": np_out,
            }

    out = map_batches(
        staged,
        _enc,
        f"__id__ {id_type}, input_ids array<{tid_type}>, "
        f"labels array<{tid_type}>, n_tokens bigint, n_prompt_tokens bigint",
    ).select(
        F.col("__id__").alias(id_col),
        "input_ids",
        "labels",
        "n_tokens",
        "n_prompt_tokens",
    )
    return LazyFrame(out)


__all__.append("build_sft_examples")
