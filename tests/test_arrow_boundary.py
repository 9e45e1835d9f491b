"""One Python-worker boundary (``polars_net_spark/_arrow.py``).

(a) Every kernel that builds its own output batches goes through
    ``_arrow.map_batches``; the only other ``mapInArrow``/``mapInPandas``
    calls are the kept ones listed in ``KEPT``.
(b) Every operator whose kernel runs on that boundary is driven through
    adversarial inputs: an int64 above 2^53 in a batch with nulls, NaN and
    ±inf values, an all-null input column, a single row and an empty input,
    plus zero-norm vectors and an empty WAV.  ``EXPECTED`` holds the rows
    the pandas-built kernels produced for these inputs, with two
    differences, both fixes: the 64-bit ``ahash``/``afp`` values that share
    a batch with a null are exact (pandas rounded them through float64),
    and so is every other bigint column next to a null.
"""

import ast
import io
import math
import os
import struct
import wave
from collections import Counter

import numpy as np
import pytest

from polars_net_spark.frame import LazyFrame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "polars_net_spark")

# (module, outermost def, call) -> count: the calls that stay off the
# helper.  ewm's kernels compute with pandas' groupby-ewm; frame.map_batches
# is the public pandas surface; io.scan_batches' factory yields RecordBatches.
KEPT = {
    ("operators/ewm.py", "_ewm_unkeyed_distributed", "mapInPandas"): 2,
    ("operators/ewm.py", "_ewm_unkeyed_adjfalse", "mapInPandas"): 2,
    ("operators/ewm.py", "with_ewm", "mapInPandas"): 1,
    ("operators/ewm.py", "_ewm_mean_by_unkeyed", "mapInPandas"): 2,
    ("operators/ewm.py", "with_ewm_mean_by", "mapInPandas"): 1,
    ("frame.py", "map_batches", "mapInPandas"): 1,
    ("io.py", "scan_batches", "mapInArrow"): 1,
}


def _defs(tree):
    """Top-level functions and the methods of top-level classes."""
    for node in tree.body:
        if isinstance(node, ast.ClassDef):
            yield from (n for n in node.body if isinstance(n, ast.FunctionDef))
        elif isinstance(node, ast.FunctionDef):
            yield node


def _boundary_calls():
    found = Counter()
    for root, _, files in os.walk(PKG):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), PKG).replace(os.sep, "/")
            if not name.endswith(".py") or rel == "_arrow.py":
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for fn in _defs(tree):
                for node in ast.walk(fn):
                    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                        continue
                    attr = node.func.attr
                    if attr in ("mapInArrow", "mapInPandas"):
                        found[(rel, fn.name, attr)] += 1
                    elif attr == "from_arrays" and "RecordBatch" in ast.unparse(node.func):
                        found[(rel, fn.name, "RecordBatch.from_arrays")] += 1
    return found


def test_one_python_worker_boundary():
    found = _boundary_calls()
    assert found == Counter(KEPT), {
        "unexpected": sorted((found - Counter(KEPT)).items()),
        "missing": sorted((Counter(KEPT) - found).items()),
    }


# --- (b) adversarial inputs through every operator on the boundary -------

BIG = 2**60 + 7  # above 2^53: float64 cannot hold it
NAN, INF = float("nan"), float("inf")
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "arrow_boundary_expected.json")


def _bmp(px):
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    img = b"".join(
        bytes(px[y, :, ::-1].reshape(-1)) + b"\x00" * (stride - w * 3) for y in range(h - 1, -1, -1)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + info + img


def _ppm(px):
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()


def _wav(n, freq=440.0, rate=8000):
    samples = (np.sin(2 * np.pi * freq * np.arange(n) / rate) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(samples.tobytes())
    return buf.getvalue()


_PX = np.random.default_rng(42).integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
_PX2 = np.random.default_rng(7).integers(0, 256, size=(8, 6, 3), dtype=np.uint8)

# family -> (DDL, rows of the mixed input)
FAMILIES = {
    "text": (
        "doc_id long, text string",
        [(BIG, "the cat sat on the mat the cat"), (None, "the cat sat on a mat"), (3, ""),
         (4, None), (5, "héllo wörld the cat"), (6, "word"), (7, "the cat sat on the mat the dog")],
    ),
    "sft": (
        "doc_id long, prompt string, response string",
        [(BIG, "the cat", "sat on the mat"), (None, None, "the"), (3, "", ""),
         (4, "word", None), (5, "héllo", "the wörld")],
    ),
    "eval": (
        "id long, hyp string, ref string",
        [(BIG, "the cat sat on the mat", "the cat sat on a mat"), (None, "a b", "a b"),
         (3, "", "x y"), (4, None, "z"), (5, "héllo wörld", "hello world"), (6, "word", "")],
    ),
    "perm": (
        "id long, g string, v double",
        [(BIG, "a", 1.5), (None, "a", 2.0), (3, "b", NAN), (4, "b", INF), (5, "a", -INF),
         (6, "b", 0.25), (7, "a", None), (8, "b", 3.0)],
    ),
    "sketch": (
        "g string, v long",
        [("a", BIG), ("a", None), ("b", BIG), ("b", 2), ("a", 3), (None, 4), ("b", None)],
    ),
    "vec": (
        "vec_id long, embedding array<double>",
        [(BIG, [1.0, 0.0, 0.0]), (BIG + 1, [0.9, 0.1, 0.0]), (3, [0.0, 0.0, 0.0]),
         (4, [NAN, 1.0, 0.0]), (5, [INF, 1.0, 0.0]), (6, [-INF, 0.0, 1.0]),
         (7, [0.0, 1.0, 0.0]), (8, [0.5, 0.5, 0.0])],
    ),
    "media": (
        "media_id long, payload binary",
        [(BIG, _bmp(_PX)), (2, _wav(4000)), (3, None), (4, _wav(0)), (5, b"\xff\xd8\xffJPEG"),
         (6, _ppm(_PX)), (7, b"BM" + b"\x00" * 10), (8, _wav(800, freq=5.0))],
    ),
    "video": (
        "media_id long, payload binary",
        [(BIG, _ppm(_PX) + _ppm(_PX2) + _ppm(_PX)), (2, None), (3, _ppm(_PX2))],
    ),
}
# which column each family's all-null input nulls out
NULLED = {"text": "text", "sft": "response", "eval": "hyp", "perm": "v", "sketch": "v",
          "vec": "embedding", "media": "payload", "video": "payload"}


def _inputs(family):
    ddl, rows = FAMILIES[family]
    pos = [c.split()[0] for c in ddl.split(", ")].index(NULLED[family])
    out = {
        "mixed": rows,
        "nulls": [r[:pos] + (None,) + r[pos + 1:] for r in rows],
        "one": rows[:1],
        "empty": [],
    }
    if family == "vec":
        out["finite"] = [r for r in rows if all(map(math.isfinite, r[1]))]
    if family == "perm":
        out["finite"] = [r for r in rows if r[2] is not None and math.isfinite(r[2])]
    return out


def _ops():
    from polars_net_spark.llm import (
        bigram_logprob_frame,
        build_sft_examples,
        build_vocab,
        cosine_topk,
        embedding_near_dup_pairs,
        encode_tokens_frame,
        feature_hash_frame,
        lsh_bucket_topk,
        mask_tokens_frame,
        minhash_lsh_pairs,
        simhash_signatures,
    )
    from polars_net_spark.llm.dedup import winnowing_fingerprints
    from polars_net_spark.llm.evaluation import bleu_corpus, chrf_corpus, rouge_n
    from polars_net_spark.llm.multimodal import (
        decode_media_features,
        extract_image_features,
        sample_video_frames,
    )
    from polars_net_spark.llm.similarity import embedding_covariance, embedding_threshold_join
    from polars_net_spark.operators.regression import permutation_test
    from polars_net_spark.operators.sketches import kmv_distinct, kmv_jaccard

    def vocab(spark):
        ddl, rows = FAMILIES["text"]
        return build_vocab(spark.createDataFrame(rows, ddl), vocab_size=5)

    # name -> (family, fn(frame, spark)); a name ending in _bucketed runs
    # with every bound at 0
    return {
        "encode_tokens": ("text", lambda d, s: encode_tokens_frame(d, vocab(s))),
        "encode_tokens_drop_oov": ("text", lambda d, s: encode_tokens_frame(d, vocab(s), oov_id=None)),
        "feature_hash": ("text", lambda d, s: feature_hash_frame(d, n_features=8)),
        "mask_tokens": ("text", lambda d, s: mask_tokens_frame(d, mask_rate=0.5, span_len=2, seed="s")),
        "minhash_pairs": ("text", lambda d, s: minhash_lsh_pairs(d, n=2, num_hashes=16, bands=8, threshold=0.2)),
        "simhash_xxhash64": ("text", lambda d, s: simhash_signatures(d)),
        "simhash_md5": ("text", lambda d, s: simhash_signatures(d, bits=60, hash_fn="md5")),
        "winnowing": ("text", lambda d, s: winnowing_fingerprints(d, k=3, window=2)),
        "bigram_logprob": ("text", lambda d, s: bigram_logprob_frame(d)),
        "sft_examples": ("sft", lambda d, s: build_sft_examples(d, vocab(s))),
        "bleu": ("eval", lambda d, s: bleu_corpus(d, "hyp", "ref", "id")),
        "rouge_n": ("eval", lambda d, s: rouge_n(d, "hyp", "ref", "id")),
        "chrf": ("eval", lambda d, s: chrf_corpus(d, "hyp", "ref", "id")),
        "permutation_test": ("perm", lambda d, s: permutation_test(d, "v", "g", "id", "a", "b", n_perms=8)),
        "kmv_distinct": ("sketch", lambda d, s: kmv_distinct(d, "v", k=4)),
        "kmv_jaccard": ("sketch", lambda d, s: kmv_jaccard(d, "v", "g", "a", "b", k=4)),
        "cosine_topk": ("vec", lambda d, s: cosine_topk(d, d, k=2)),
        "lsh_bucket_topk": ("vec", lambda d, s: lsh_bucket_topk(d, d, k=2, num_planes=2, num_tables=2)),
        "threshold_join_numpy": ("vec", lambda d, s: embedding_threshold_join(d, d, threshold=0.5)),
        "threshold_join_bucketed": ("vec", lambda d, s: embedding_threshold_join(
            d, d, threshold=0.5, num_planes=2, num_tables=2)),
        "covariance": ("vec", lambda d, s: embedding_covariance(d)),
        "near_dup_numpy": ("vec", lambda d, s: embedding_near_dup_pairs(d, threshold=0.5)),
        "near_dup_bucketed": ("vec", lambda d, s: embedding_near_dup_pairs(
            d, threshold=0.5, num_planes=2, num_tables=2)),
        "image_features": ("media", lambda d, s: extract_image_features(d, feature_dim=4)),
        "media_features": ("media", lambda d, s: decode_media_features(d)),
        "video_frames": ("video", lambda d, s: sample_video_frames(d, every=2, thumb=(2, 2))),
    }


def _canon(v):
    """JSON-stable form of a collected value: NaN/±inf as strings, bytes as
    hex, rows and arrays as lists."""
    if isinstance(v, float) and not math.isfinite(v):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def run_case(spark, name, inp):
    return run_rows(spark, name, _inputs(_ops()[name][0])[inp])


def run_rows(spark, name, rows):
    family, fn = _ops()[name]
    ddl, _ = FAMILIES[family]
    frame = LazyFrame(spark.createDataFrame(rows, ddl).coalesce(1))
    try:
        rows = fn(frame, spark).spark.collect()
    except Exception:  # where Spark wraps the error varies from run to run
        return "raises"
    return sorted((_canon(list(r)) for r in rows), key=repr)


def _cases():
    return [
        (name, inp) for name, (family, _) in _ops().items() for inp in _inputs(family)
    ]


@pytest.fixture(scope="module")
def expected():
    import json

    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


@pytest.mark.parametrize("name,inp", _cases())
def test_boundary_operator_outputs(spark, expected, force_distributed, name, inp):
    if name.endswith("_bucketed"):
        force_distributed()
    assert run_case(spark, name, inp) == expected[f"{name}/{inp}"]


@pytest.mark.parametrize("name", [
    "cosine_topk", "lsh_bucket_topk", "threshold_join_numpy", "threshold_join_bucketed",
    "near_dup_numpy", "near_dup_bucketed",
])
def test_null_vector_drops(spark, force_distributed, name):
    """A null vector among valid ones drops, as embedding_covariance and
    kmeans_report drop it: the rows equal those of the input without it."""
    if name.endswith("_bucketed"):
        force_distributed()
    rows = _inputs("vec")["mixed"]
    with_null = rows[:3] + [(99, None)] + rows[3:]
    got = run_rows(spark, name, with_null)
    assert got != "raises"
    assert got == run_rows(spark, name, rows)


def test_media_hashes_exact_next_to_nulls(expected):
    """The image and audio rows share one batch with null ``ahash``/``afp``
    cells; the recorded hashes are the exact codec values."""
    from polars_net_spark.llm import media_codecs as mc

    rows = {r[0]: r for r in expected["media_features/mixed"]}
    ahash, afp = 6, 11  # positions in MEDIA_FEATURE_SCHEMA
    assert rows[BIG][ahash] == rows[6][ahash] == mc.ahash64(_PX)
    _, _, samples = mc.decode_wav(_wav(4000))
    assert rows[2][afp] == mc.audio_fingerprint64(samples)
    assert rows[4][10] is None  # an empty WAV's rms is null, not NaN
