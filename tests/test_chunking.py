"""Document chunking and deterministic sequence packing."""

import polars_net_spark as pl
from polars_net_spark.llm import chunk_documents, pack_sequences


def test_chunk_exact_windows(spark):
    text = " ".join(f"w{i}" for i in range(10))
    d = pl.from_records([(1, text)], ["doc_id", "text"]).lazy()
    out = sorted(chunk_documents(d, size=4, overlap=1).collect().rows())
    # stride 3: starts at 0,3,6,9 -> n_chunks = 1 + ceil(6/3) = 3
    assert [(r[1], r[2]) for r in out] == [(0, 4), (1, 4), (2, 4)]
    assert out[0][3] == "w0 w1 w2 w3"
    assert out[1][3] == "w3 w4 w5 w6"
    assert out[2][3] == "w6 w7 w8 w9"


def test_chunk_short_and_empty_docs(spark):
    d = pl.from_records(
        [(1, "a b c"), (2, ""), (3, "   ")], ["doc_id", "text"]
    ).lazy()
    out = chunk_documents(d, size=8).collect().rows()
    assert len(out) == 1  # blank docs emit nothing
    assert out[0][0] == 1 and out[0][2] == 3 and out[0][3] == "a b c"


def test_chunk_tail_shorter(spark):
    text = " ".join(str(i) for i in range(7))
    d = pl.from_records([(1, text)], ["doc_id", "text"]).lazy()
    out = sorted(chunk_documents(d, size=4, overlap=0).collect().rows())
    assert [(r[1], r[2]) for r in out] == [(0, 4), (1, 3)]


def test_chunk_coverage_reconstructs_doc(spark):
    text = " ".join(f"t{i}" for i in range(100))
    d = pl.from_records([(1, text)], ["doc_id", "text"]).lazy()
    out = sorted(chunk_documents(d, size=16, overlap=4).collect().rows())
    stride = 12
    seen = []
    for cid, (_, chunk_id, _, chunk) in enumerate(out):
        assert chunk_id == cid
        toks = chunk.split(" ")
        start = cid * stride
        assert toks == [f"t{i}" for i in range(start, min(start + 16, 100))]
        seen.extend(toks[: stride] if cid < len(out) - 1 else toks)
    assert seen == [f"t{i}" for i in range(100)]


def test_pack_sequences_deterministic_and_bounded(spark):
    rows = [(i, 100 + (i * 37) % 400) for i in range(300)]
    d = pl.from_records(rows, ["doc_id", "n_tokens"]).lazy()
    out = pack_sequences(d, budget=1000, num_buckets=8).collect()
    assert out.height == 300
    again = pack_sequences(d, budget=1000, num_buckets=8).collect()
    assert sorted(out.rows()) == sorted(again.rows())
    # per (bucket, pack): tokens minus the last doc must stay under budget
    packs = {}
    for doc_id, n_tokens, bucket, cum, pack in sorted(out.rows()):
        packs.setdefault((bucket, pack), []).append(n_tokens)
        assert pack == (cum - n_tokens) // 1000
    for toks in packs.values():
        assert sum(toks) - toks[-1] < 1000  # overflow bounded by one doc
    assert len(packs) > 30  # actually packs into many groups


class TestMaskTokens:
    def test_deterministic_and_consistent(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import mask_tokens_frame

        sdf = spark.createDataFrame(
            [(1, "a b c d e f g h i j k l m n o p"), (2, ""), (3, None)],
            "doc_id long, text string",
        )
        out = {r[0]: r for r in mask_tokens_frame(
            pl.LazyFrame(sdf), mask_rate=0.4, seed="s").collect().rows()}
        again = {r[0]: r for r in mask_tokens_frame(
            pl.LazyFrame(sdf), mask_rate=0.4, seed="s").collect().rows()}
        assert out == again  # hash-driven, no RNG state
        # corrupted/targets consistent: targets are exactly the masked slots
        r = out[1]
        corrupted, targets, n_tokens, n_masked = r[1], r[2], r[3], r[4]
        assert corrupted.split().count("<MASK>") == n_masked == len(targets)
        assert n_tokens == 16 and 0 < n_masked < 16
        orig = "a b c d e f g h i j k l m n o p".split()
        rebuilt = []
        ti = iter(targets)
        for w in corrupted.split():
            rebuilt.append(next(ti) if w == "<MASK>" else w)
        assert rebuilt == orig
        assert out[2][1] == "" and out[2][3] == 0
        assert out[3][1] is None and out[3][3] == 0

    def test_null_id_masks_nothing(self, spark):
        """md5 over a null id is null in SQL, so a null-id row draws no
        position; the other rows are unchanged by its presence."""
        import polars_net_spark as pl
        from polars_net_spark.llm import mask_tokens_frame

        rows = [(1, "the cat sat on the mat the cat"), (None, "the cat sat on a mat"),
                (3, "a b c d e f g h")]
        ddl = "doc_id long, text string"

        def run(data):
            lf = pl.LazyFrame(spark.createDataFrame(data, ddl))
            return sorted(mask_tokens_frame(lf, mask_rate=0.5, span_len=2, seed="r4")
                          .collect().rows(), key=repr)

        with_null = run(rows)
        assert (None, "the cat sat on a mat", [], 6, 0) in with_null
        without = run([r for r in rows if r[0] is not None])
        assert [r for r in with_null if r[0] is not None] == without
        assert any(r[4] > 0 for r in without)  # the other rows do get masked

    def test_span_extension_and_guards(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import mask_tokens_frame
        import pytest as _pt

        sdf = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(200)))], "doc_id long, text string"
        )
        one = mask_tokens_frame(pl.LazyFrame(sdf), mask_rate=0.3, span_len=1, seed="q").collect().rows()[0]
        spn = mask_tokens_frame(pl.LazyFrame(sdf), mask_rate=0.3, span_len=3, seed="q").collect().rows()[0]
        # same expected rate: both should mask a similar fraction (~0.3)
        assert 0.15 < one[4] / one[3] < 0.45
        assert 0.15 < spn[4] / spn[3] < 0.45
        # span runs: masked positions in the span variant come in runs >= 1;
        # at least one run of length >= 2 with 200 tokens at rate 0.3
        flags = [w == "<MASK>" for w in spn[1].split()]
        runs = []
        cur = 0
        for f in flags:
            cur = cur + 1 if f else (runs.append(cur) if cur else None) or 0
        if cur:
            runs.append(cur)
        assert max(runs) >= 2
        with _pt.raises(ValueError):
            mask_tokens_frame(pl.LazyFrame(sdf), mask_rate=0.0)
        with _pt.raises(ValueError):
            mask_tokens_frame(pl.LazyFrame(sdf), span_len=0)


class TestMaskTokensKernel:
    def test_draw_spec_parity_and_plan(self, spark):
        """r12 kernel guards: masked positions match an independent
        recompute of the documented md5 draw spec, the plan is a MapInArrow
        kernel, and the parallelism spread fires only for plain scan
        chains (not for composed join/window upstreams)."""
        from hashlib import md5

        import polars_net_spark as pl
        from polars_net_spark.llm import mask_tokens_frame

        words = " ".join(f"t{i}" for i in range(60))
        sdf = spark.createDataFrame([(7, words)], "doc_id long, text string")
        rate, span, seed = 0.3, 2, "spec"
        row = mask_tokens_frame(
            pl.LazyFrame(sdf), mask_rate=rate, span_len=span, seed=seed
        ).collect().rows()[0]
        # independent recompute of the draw spec
        thr = int((rate / span) * 16**8)
        starts = [
            int(md5(f"{seed}7\x1f{i}".encode()).hexdigest()[:8], 16) < thr
            for i in range(60)
        ]
        masked = [
            any(starts[max(0, i - span + 1): i + 1]) for i in range(60)
        ]
        got = [w == "<MASK>" for w in row[1].split()]
        assert got == masked
        assert row[4] == sum(masked)

        out = mask_tokens_frame(pl.LazyFrame(sdf), mask_rate=rate, seed=seed)
        plan = out.spark._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "Join" not in plan
        # composed upstream (join) must NOT trigger the round-robin spread
        j = sdf.join(spark.createDataFrame([(7, 1)], "doc_id long, k int"), "doc_id")
        plan2 = (
            mask_tokens_frame(pl.LazyFrame(j), mask_rate=rate, seed=seed)
            .spark._jdf.queryExecution().executedPlan().toString()
        )
        assert "RoundRobinPartitioning" not in plan2


class TestFlattenChat:
    def test_json_input_with_role_filter(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import flatten_chat_frame

        sdf = spark.createDataFrame(
            [
                (1, '[{"role":"user","content":"hi"},{"role":"assistant","content":"hello!"},{"role":"tool","content":"{}"}]'),
                (2, "[]"),
                (3, None),
            ],
            "doc_id long, messages string",
        )
        out = {r[0]: r for r in flatten_chat_frame(sdf, roles_keep=["user", "assistant"]).collect().rows()}
        assert out[1][1] == "<|user|>\nhi\n<|assistant|>\nhello!"
        assert out[1][2] == 2
        assert out[2] == (2, "", 0, 0)
        assert out[3][1] is None and out[3][2] == 0

    def test_struct_array_input_and_template(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import flatten_chat_frame
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("messages", T.ArrayType(T.StructType([
                T.StructField("role", T.StringType()),
                T.StructField("content", T.StringType()),
            ]))),
        ])
        sdf = spark.createDataFrame(
            [(1, [("user", "q?"), ("assistant", "a.")])], schema
        )
        out = flatten_chat_frame(sdf, template="{role}: {content}", joiner=" | ").collect().rows()[0]
        assert out[1] == "user: q? | assistant: a."


class TestBuildSFTExamples:
    def test_mask_and_ids(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import build_sft_examples

        vocab = spark.createDataFrame(
            [("hello", 0), ("world", 1), ("answer", 2)], ["term", "token_id"]
        )
        d = pl.from_records(
            [(1, "Hello world", "answer hello"),
             (2, "", "world world"),          # empty prompt: nothing masked
             (3, "hello unknown", "answer")], # OOV in prompt
            ["doc_id", "prompt", "response"],
        )
        out = {r[0]: r for r in build_sft_examples(d, vocab).collect().rows()}
        assert out[1][1] == [0, 1, 2, 0]                 # input_ids
        assert out[1][2] == [-100, -100, 2, 0]           # prompt masked
        assert (out[1][3], out[1][4]) == (4, 2)
        assert out[2][1] == [1, 1] and out[2][2] == [1, 1] and out[2][4] == 0
        assert out[3][1] == [0, -1, 2]                   # OOV -> -1
        assert out[3][2] == [-100, -100, 2]

    def test_map_only_shape(self, spark):
        import polars_net_spark as pl
        from polars_net_spark.llm import build_sft_examples

        vocab = spark.createDataFrame([("a", 0)], ["term", "token_id"])
        d = pl.from_records([(1, "a", "a a")], ["doc_id", "prompt", "response"])
        plan = build_sft_examples(d, vocab).spark._jdf.queryExecution().executedPlan().toString()
        # r12: dict-encode kernel — no keyed shuffle, no join; the corpus
        # never moves (only the guarded round-robin spread may appear).
        assert plan.count("Exchange hashpartitioning") == 0
        assert "Join" not in plan
        assert "MapInArrow" in plan
