"""Tile the driver's sf0.1 testdata N× (default 10 → "sf1") with key offsets,
preserving join structure, for scale-slope benchmarking only.

Replica i shifts every entity key by i*STRIDE, so each replica joins onto
itself exactly like the original: per-key distributions are identical, total
volume is N×.  Dimension tables (region, nation) stay fixed, like TPC-H.
Correctness gates always run on the driver's own parquet — this output is
ONLY for measuring how query time scales with input size.

Similarity columns are made cross-replica DISTINCT so tiling scales the
dedup/ANN workload linearly instead of quadratically:
  - documents.text: replica i>0 applies an AFFINE letter substitution
    x -> (a_i*x + b_i) mod 26 to a-z/A-Z (byte count, word lengths,
    punctuation all preserved), so shingle / gram / minhash structure within
    a replica is isomorphic to the original but cross-replica gram sets are
    disjoint (Jaccard ~0) for up to 312 replicas.  Without this, N identical
    copies of each doc create C(N,2) true duplicate pairs per doc and the
    pair count grows N², which measures the data artifact, not the join.
    (r10 used a plain Caesar rotation, which wraps at 26 — the 100-replica
    sf10 corpus contained ~4 true copies of every doc and the r10 probe's
    q30/q197/q212 ratios measured that: q30 pairs grew 320x on 10x data,
    2,560 -> 819,328.)
  - embeddings.embedding: replica i flips component signs by a deterministic
    per-replica ±1 mask.  cosine(s.u, s.v) == cosine(u, v), so within-replica
    geometry (and every LSH/top-k result shape) is preserved exactly, while
    cross-replica cosine of formerly-identical vectors drops to ~0.

Usage: python tools/gen_scale.py [N] [out_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, "/root/repo")

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000

# table -> columns shifted by replica*STRIDE (entity + foreign keys)
SHIFT = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY = ["region", "nation"]


def main() -> None:
    import pyspark.sql.functions as F

    from polars_net_spark import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scratch/sf1.0"
    spark = get_spark(app_name="gen_scale")
    os.makedirs(out_dir, exist_ok=True)

    for t in COPY:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")
        print(f"copied {t}")

    for t, keys in SHIFT.items():
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for i in range(n):
            rep = src
            for k in keys:
                rep = rep.withColumn(k, (F.col(k) + F.lit(i * STRIDE)).cast("long"))
            if i > 0 and t == "documents":
                # AFFINE substitution x -> (a*x + b) mod 26, not a Caesar
                # rotation: rotation wraps at 26, so replicas 0/26/52/78 of
                # a 100x tiling got IDENTICAL text and every doc gained ~4
                # true copies — the r10 sf10 probe then measured that
                # duplicate-dense corpus (q30 pairs 320x at 10x data), not
                # the operators.  The 12 units of
                # Z26* x 26 shifts give 312 distinct bijections that all
                # preserve byte count / word lengths / punctuation.
                lo = "abcdefghijklmnopqrstuvwxyz"
                hi = lo.upper()
                units = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
                a = units[(i // 26) % 12]
                b = i % 26
                sub = "".join(lo[(a * j + b) % 26] for j in range(26))
                rep = rep.withColumn(
                    "text", F.translate("text", lo + hi, sub + sub.upper())
                )
            if i > 0 and t == "embeddings":
                rep = rep.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x, j: (
                            x
                            * F.when(
                                F.pmod(F.xxhash64(j, F.lit(i)), 2) == 0, F.lit(1.0)
                            ).otherwise(F.lit(-1.0))
                        ).cast("float"),
                    ),
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"tiled {t} x{n}")
    print("done:", out_dir)


if __name__ == "__main__":
    main()
