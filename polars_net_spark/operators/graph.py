"""Graph operators over an edge list: PageRank, label propagation,
triangle counts, the degree report, k-core peeling, connected components
and multi-source BFS distances.

Every undirected operator reads its edges through ``_undirected`` (null
endpoints and self-loops drop, duplicates and reversals collapse).  The
fixed-round operators (pagerank, label_propagation) are closed-form, so
the oracle replays them as chained CTEs; the fixpoint operators (k_core,
connected_components, bfs_distances) are monotone and raise at
``max_rounds`` rather than return a truncated answer.

Min-id connected components have one engine, ``_min_id_components``,
shared with ``llm.dedup.dedup_clusters``: a bounded edge list is solved by
union-find in driver memory, a larger one by a distributed min-label loop
with path halving.  Iterative loops cut their lineage with the checkpoint
function ``session.scoped_checkpoint_dir`` hands out: local by default,
reliable when ``checkpoint_dir=`` names a path (blocks then survive
executor loss on a real cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from .._bounded import Guarded, bounded
from .._cache import full_count, register_cache, replace_cache, scoped_caches
from ..frame import LazyFrame
from ..session import scoped_checkpoint_dir

__all__ = ["pagerank"]

# k_core and bfs_distances store every fourth round's state as a checkpoint,
# which cuts the plan lineage that otherwise grows with every round
_CHECKPOINT_EVERY = 4


def _undirected(esdf: SparkDF, src: str, dst: str) -> SparkDF:
    """The undirected edge set as ``(a, b)`` with ``a < b``: null endpoints
    and self-loops drop, duplicates and reversed duplicates collapse."""
    return (
        esdf.filter(F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst)))
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .distinct()
    )


def pagerank(
    edges: "LazyFrame | SparkDF",
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 3,
    vertices: "LazyFrame | SparkDF | None" = None,
    vertex_id: str = "id",
    round_to: int = 6,
    checkpoint_every: int = 4,
    checkpoint_dir: str | None = None,
) -> LazyFrame:
    """(id, rank) after ``iterations`` power-iteration rounds from the
    uniform start 1/N; rank_new(v) = (1−d)/N + d·Σ_{u→v} rank(u)/deg(u).

    Simple-variant semantics (documented): dangling vertices (no out-edges)
    leak their mass — ranks sum to < 1, as in the textbook edge-only
    formulation; renormalize downstream if a distribution is needed.
    Duplicate (src, dst) edges count once.  ``vertices`` widens the vertex
    set beyond edge endpoints (isolated vertices hold (1−d)/N).

    Scale: per round one join keyed on src + one aggregate keyed on dst —
    both map-side combining; degree and N are computed once.  Rounds are
    short by construction; a checkpoint every ``checkpoint_every`` rounds
    truncates the doubling plan lineage.  ``checkpoint_dir`` upgrades those
    checkpoints from localCheckpoint (blocks die with their executor —
    fine on local[n], fatal for a long run on a real cluster) to RELIABLE
    checkpoints written to that path (HDFS/S3), same option and semantics
    as dedup_clusters.
    """
    esdf = edges if isinstance(edges, SparkDF) else edges.spark
    # with-block: restore the previous checkpoint dir on ALL exit paths,
    # including a mid-iteration exception
    with scoped_checkpoint_dir(esdf.sparkSession.sparkContext, checkpoint_dir) as ckpt:
        e = esdf.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
        verts = e.select(F.col("s").alias("v")).union(e.select(F.col("d").alias("v"))).distinct()
        if vertices is not None:
            vsdf = vertices if isinstance(vertices, SparkDF) else vertices.spark
            verts = verts.union(vsdf.select(F.col(vertex_id).alias("v"))).distinct()
        verts = ckpt(verts, eager=False)
        n = verts.count()
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        ranks = verts.select("v", (F.lit(1.0) / n).alias("r"))
        base = (1.0 - damping) / n
        for i in range(int(iterations)):
            contribs = (
                e.join(ranks.withColumnRenamed("v", "s"), "s")
                .join(deg, "s")
                .select(F.col("d").alias("v"), (F.col("r") / F.col("deg")).alias("c"))
                .groupBy("v")
                .agg(F.sum("c").alias("in_sum"))
            )
            ranks = (
                verts.join(contribs, "v", "left")
                .select(
                    "v",
                    (F.lit(base) + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))).alias("r"),
                )
            )
            if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
                ranks = ckpt(ranks)
        out = ranks.select(F.col("v").alias(vertex_id), F.round("r", round_to).alias("rank"))
    return LazyFrame(out)


def triangle_count(
    edges: "LazyFrame | SparkDF",
    src: str = "src",
    dst: str = "dst",
    per_node: bool = False,
) -> LazyFrame:
    """Exact triangle counting on an undirected graph via degree-ordered
    orientation (the Suri–Vassilvitskii / GraphX design): orient each edge
    from the (degree, id)-smaller endpoint to the larger, enumerate wedges
    by self-joining oriented edges on their source, and confirm each wedge's
    closing edge with one equi-join.  Orientation makes every triangle
    countable exactly once AND bounds the wedge fan-out: Σ outdeg² = O(m^1.5)
    on any graph, so no hub node ever explodes the join (the naive
    direction-free wedge count is Σ deg², quadratic in hub degree).

    Input edges are treated as undirected: self-loops drop, duplicates and
    reversed duplicates collapse.  Output: one row ``(n_triangles)``; with
    ``per_node=True``, ``(node, n_triangles)`` for every vertex (triangle
    membership credited to all three corners — the clustering-coefficient
    numerator), isolated-in-triangle-terms vertices included with 0.

    Shuffle shape: two node-keyed joins to attach degrees, one src-keyed
    wedge self-join, one (lo, hi)-keyed closing join — all equi-joins,
    all map-side combinable aggregates."""
    esdf = edges if isinstance(edges, SparkDF) else edges.spark
    canon = _undirected(esdf, src, dst)
    deg = (
        canon.select(F.col("a").alias("v"))
        .union(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # (deg, id) total order; orient low → high.  Carrying both endpoint keys
    # lets the wedge stage order its two spokes without re-joining degrees.
    keyed = (
        canon.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a", "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("i")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("i")).alias("kb"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kw"),
    )
    e1 = oriented.select(F.col("u"), F.col("w").alias("w1"), F.col("kw").alias("k1"))
    e2 = oriented.select(F.col("u"), F.col("w").alias("w2"), F.col("kw").alias("k2"))
    wedges = e1.join(e2, "u").filter(F.col("k1") < F.col("k2")).select(
        "u", F.col("w1").alias("lo"), F.col("w2").alias("hi")
    )
    closing = oriented.select(F.col("u").alias("lo"), F.col("w").alias("hi"))
    tris = wedges.join(closing, ["lo", "hi"])
    if not per_node:
        out = tris.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        return LazyFrame(out)
    credited = (
        tris.select(F.explode(F.array("u", "lo", "hi")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("nt"))
    )
    out = (
        deg.select("v")
        .join(credited, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.coalesce("nt", F.lit(0)).cast("long").alias("n_triangles"),
        )
    )
    return LazyFrame(out)


__all__.append("triangle_count")


def label_propagation(
    edges: "LazyFrame | SparkDF",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    checkpoint_every: int = 4,
    checkpoint_dir: str | None = None,
) -> LazyFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the GraphX LPA
    variant) for community detection: every vertex starts as its own label;
    each round it adopts the most frequent label among its neighbors, ties
    to the SMALLEST label — fully deterministic, so a fixed ``iterations``
    is closed-form and the oracle replays it as unrolled CTE rounds (the
    pagerank/BPE convention; synchronous LPA on bipartite structures can
    oscillate, which a fixed round count makes an explicit, reproducible
    choice).

    Edges are undirected (loops drop, duplicates/reversals collapse);
    the vertex set is the edge endpoints.  Per round: one adjacency⋈labels
    equi-join + one (vertex, label) count aggregate + one per-vertex argmax
    via min(struct(-count, label)) — all map-side combining, lineage
    checkpoint-truncated like pagerank (same ``checkpoint_dir`` semantics).
    Output: (id, label)."""
    esdf = edges if isinstance(edges, SparkDF) else edges.spark
    # with-block: restore the previous checkpoint dir on ALL exit paths
    with scoped_checkpoint_dir(esdf.sparkSession.sparkContext, checkpoint_dir) as ckpt:
        canon = _undirected(esdf, src, dst)
        adj = canon.select(F.col("a").alias("v"), F.col("b").alias("n")).union(
            canon.select(F.col("b").alias("v"), F.col("a").alias("n"))
        )
        labels = adj.select("v").distinct().select("v", F.col("v").alias("lab"))
        for i in range(int(iterations)):
            counts = (
                adj.join(labels.withColumnRenamed("v", "n"), "n")
                .groupBy("v", "lab")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = counts.groupBy("v").agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("l")))
                .getField("l")
                .alias("lab")
            )
            if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
                labels = ckpt(labels)
        out = labels.select(F.col("v").alias("id"), F.col("lab").alias("label"))
    return LazyFrame(out)


__all__.append("label_propagation")


def degree_report(
    edges: "LazyFrame | SparkDF",
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> LazyFrame:
    """Degree summary + degree assortativity of an undirected graph
    (Newman 2002): assortativity is the Pearson correlation of the two
    endpoint degrees over every edge counted in BOTH directions (the
    standard convention) — positive means hubs attach to hubs (social
    graphs), negative means hub-and-spoke (the web, infrastructure).
    The one-row structural health check to sit beside triangle_count.

    Edges canonicalize as in triangle_count (loops drop, duplicates and
    reversals collapse).  Shuffle shape: one degree aggregate + two
    node-keyed joins to attach endpoint degrees + one fused 1-row corr
    reduce — all map-side combining.  Output (1 row): n_nodes, n_edges,
    mean_degree, max_degree, assortativity (null on degree-regular
    graphs, where the correlation is undefined)."""
    esdf = edges if isinstance(edges, SparkDF) else edges.spark
    canon = _undirected(esdf, src, dst)
    deg = (
        canon.select(F.col("a").alias("v"))
        .union(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    both = canon.select(F.col("a").alias("u"), F.col("b").alias("w")).union(
        canon.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    joined = (
        both.join(deg.select(F.col("v").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("v").alias("w"), F.col("deg").alias("dw")), "w")
    )
    stats = joined.agg(
        F.corr(F.col("du").cast("double"), F.col("dw").cast("double")).alias("r"),
    )
    dstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).alias("n_edges"),
        F.avg("deg").alias("mean_degree"),
        F.max("deg").alias("max_degree"),
    )
    out = dstats.join(F.broadcast(stats)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round("mean_degree", round_to).alias("mean_degree"),
        F.col("max_degree").cast("long").alias("max_degree"),
        F.round("r", round_to).alias("assortativity"),
    )
    return LazyFrame(out)


__all__.append("degree_report")


def k_core(
    edges: "LazyFrame | SparkDF",
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    checkpoint_dir: str | None = None,
) -> LazyFrame:
    """k-core decomposition membership: iteratively peel every vertex with
    degree < k until none remain; what survives is the maximal subgraph
    where everyone keeps >= k neighbors — the standard "dense backbone"
    filter (spam-farm detection, influence seeding, collaboration cores)
    beside triangle_count's local view.

    Peeling is MONOTONE (a removed vertex never comes back), so the
    fixpoint is unique and an oracle that unrolls at least as many rounds
    as convergence took replays it exactly (the pagerank/LPA convention,
    extended: extra unrolled rounds are no-ops after the fixpoint).
    Edges are undirected (loops drop, duplicates/reversals collapse).

    Scale shape: per round ONE degree aggregate (map-side combining) and
    TWO left_anti equi-joins against the (small, shrinking) peel set; a
    driver count() per round is the loop condition — bounded by the round
    count, which is at most the graph's degeneracy ordering depth (tiny
    for real graphs: web/social cores converge in < 20 rounds).  Every
    ``_CHECKPOINT_EVERY``-th round's edge set is a checkpoint, which cuts
    the lineage; ``checkpoint_dir`` makes it reliable, as in pagerank.
    Raises RuntimeError if ``max_rounds`` is hit before the fixpoint so a
    truncated answer can never masquerade as the core.  Output:
    (id, degree) of surviving vertices — degree WITHIN the k-core."""
    if k < 1:
        raise ValueError("k must be >= 1")
    esdf = edges if isinstance(edges, SparkDF) else edges.spark
    with scoped_caches(), scoped_checkpoint_dir(esdf.sparkSession.sparkContext, checkpoint_dir) as ckpt:
        e = register_cache(_undirected(esdf, src, dst))
        for r in range(int(max_rounds)):
            deg = (
                e.select(F.col("a").alias("v"))
                .unionAll(e.select(F.col("b").alias("v")))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            with scoped_caches():
                # cached peel set: isEmpty() materializes it here, and the
                # two anti-joins below then reuse the cached rows instead of
                # re-running the degree shuffle inside their own lineage
                bad = register_cache(deg.filter(F.col("c") < F.lit(int(k))).select("v"))
                if bad.isEmpty():
                    break
                nxt = e.join(
                    bad.withColumnRenamed("v", "a"), "a", "left_anti"
                ).join(bad.withColumnRenamed("v", "b"), "b", "left_anti")
                stored = (r + 1) % _CHECKPOINT_EVERY == 0
                e, _ = replace_cache(e, ckpt(nxt) if stored else nxt, stored=stored)
        else:
            raise RuntimeError(
                f"k_core did not converge within max_rounds={max_rounds}"
            )
        out = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .select(F.col("v").alias("id"), "degree")
        )
        # materialize before the scope releases the loop frame's cache: the
        # lazy result would otherwise recompute the whole peel from source
        out = ckpt(out)
    return LazyFrame(out)


__all__.append("k_core")


def _driver_union_find(edges: SparkDF, active: SparkDF) -> SparkDF:
    """The bounded side of :func:`_min_id_components`: collect the cached
    edge list and the active vertices, run union-find keeping the SMALLER
    root as parent (so every component's root is its minimum id, the exact
    labels the distributed loop converges to) and return an
    ``(id, component)`` frame."""
    from pyspark.sql import types as T

    act = {r[0] for r in active.collect()}
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        a, b = row[0], row[1]
        if a in act and b in act:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    rows = [(i, find(i)) for i in act]
    id_type = active.schema.fields[0].dataType
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )
    return active.sparkSession.createDataFrame(rows, schema)


def _min_id_components(
    edges: Guarded,
    active: SparkDF,
    operator: str,
    max_rounds: int,
    checkpoint_dir: "str | None",
) -> SparkDF:
    """Min-id connected components of the ``active`` vertices (one ``id``
    column) over ``edges``, a guarded frame of directed ``(src, dst)`` rows
    holding both directions of every edge.  Edges with an endpoint outside
    ``active`` take no part.  Returns ``(id, component)`` with component
    = the minimum id reachable from ``id``.

    Below the bound the components are solved by union-find in driver
    memory over one collect: exact, so ``max_rounds`` never applies.
    Above it, a distributed min-label loop with path halving: each round
    takes the least of a vertex's own label, its neighbours' labels and its
    label's label, which shortens paths geometrically, so rounds grow with
    the log of the diameter.  A round is two key-partitioned shuffles and
    an eager checkpoint (without the lineage cut the plan doubles per round
    and planning exhausts the driver heap within ~10 rounds).  Raises
    RuntimeError naming ``operator`` after ``max_rounds`` rounds without
    convergence rather than return wrong labels."""
    if edges.small:
        return _driver_union_find(edges.frame, active)
    e = edges.frame
    # no checkpoint on the seed: round 1's checkpoint cuts the lineage,
    # and the edges are already cached by the guard
    labels = active.select("id", F.col("id").alias("lbl"))
    # with-block: restore the previous checkpoint dir on ALL exit paths,
    # convergence, the non-convergence raise or a mid-round failure
    with scoped_checkpoint_dir(e.sparkSession.sparkContext, checkpoint_dir) as ckpt:
        for _ in range(int(max_rounds)):
            nmin = (
                e.join(labels, e["src"] == labels["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("lbl").alias("nlbl"))
            )
            parent = labels.select(F.col("id").alias("p_id"), F.col("lbl").alias("plbl"))
            stage = ckpt(
                labels.join(nmin, "id", "left")
                .join(parent, F.col("lbl") == F.col("p_id"), "left")
                .select("id", "lbl", F.least("lbl", "nlbl", "plbl").alias("new_lbl"))
            )
            changed = stage.filter(F.col("new_lbl") != F.col("lbl")).count()
            labels = stage.select("id", F.col("new_lbl").alias("lbl"))
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"{operator} did not converge in {max_rounds} rounds; raise its "
                "round limit (the graph has a very long path)"
            )
    return labels.select("id", F.col("lbl").alias("component"))


def connected_components(
    edges: "LazyFrame | SparkDF",
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
) -> LazyFrame:
    """Connected components with min-id labels: every vertex gets the
    minimum vertex id of its component as ``component``.  This is the
    entity-resolution / "how many disjoint clusters does this graph have"
    primitive beside label_propagation's modular communities (which uses
    the MODE and can split a connected graph; this one never does).

    Edges are undirected: null endpoints and self-loops drop, duplicates
    and reversals collapse.  The vertex set is the edge endpoints.
    Output: (id, component).

    Scale shape: the canonical edge list is cached in both directions and
    counted once against ``_bounded.BOUND`` (the decision is recorded as
    ``connected_components``).  A bounded edge list is solved by union-find
    in driver memory: one count and two collects, whatever the diameter.
    A larger one runs the distributed min-label loop with path halving
    that llm.dedup.dedup_clusters shares: two key-partitioned shuffles and
    a checkpoint per round, rounds logarithmic in the diameter.  ``max_rounds`` applies
    only to that loop, which raises RuntimeError when it is reached before
    the fixpoint; the driver path is exact and never truncates.
    ``checkpoint_dir`` makes the loop's checkpoints reliable, as in
    dedup_clusters."""
    esdf = edges if isinstance(edges, SparkDF) else edges.spark
    e = _undirected(esdf, src, dst)
    directed = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    guarded = bounded(directed, "connected_components")
    active = guarded.frame.select(F.col("src").alias("id")).distinct()
    out = _min_id_components(guarded, active, "connected_components", max_rounds, checkpoint_dir)
    return LazyFrame(out)


__all__.append("connected_components")


def bfs_distances(
    edges: "LazyFrame | SparkDF",
    sources: "list",
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
) -> LazyFrame:
    """Multi-source BFS hop distances: dist(v) = fewest undirected hops
    from any vertex in ``sources`` — the "blast radius" primitive behind
    influence reach, contamination spread, and k-hop neighborhood
    queries, beside connected_components' reachability-only view.

    MONOTONE (a distance only ever decreases), so the fixpoint is unique
    and an unrolled oracle replays it exactly, extra rounds being no-ops
    (the k_core/connected_components convention).  Converges within the
    sources' eccentricity; raises RuntimeError at ``max_rounds`` so a
    truncated frontier can't masquerade as the answer.  Unreached
    vertices are ABSENT from the output (no infinity sentinel).

    Every listed source appears at distance 0 even when isolated (no
    incident edges) — a missing seed row would read as a silently
    dropped input.  Scale shape: per round one union + min aggregate
    over the reached set joined to the edge list on each endpoint
    (plain equi-joins, map-side-combining min) + a count of the changed rows
    as the stop condition; lineage checkpoint-truncated every
    ``_CHECKPOINT_EVERY`` rounds, as in k_core.  Output: (id,
    distance)."""
    if not sources:
        raise ValueError("sources must be non-empty")
    esdf = edges if isinstance(edges, SparkDF) else edges.spark
    spark = esdf.sparkSession
    changed = F.col("__prev__").isNull() | (F.col("d") != F.col("__prev__"))
    with scoped_caches(), scoped_checkpoint_dir(spark.sparkContext, checkpoint_dir) as ckpt:
        e = register_cache(_undirected(esdf, src, dst))
        # the loop state: (v, d) plus, after round one, each vertex's
        # previous distance __prev__
        state = register_cache(
            spark.createDataFrame([(s,) for s in sources], ["v"])
            .distinct()
            .select("v", F.lit(0).cast("long").alias("d"))
        )
        for r in range(int(max_rounds)):
            dist = state.select("v", "d")
            # own-distance rows ride the union FLAGGED so the previous
            # distance falls out of the same min-aggregate, with no re-join
            # of nxt to dist for the "did anything change" probe (a newly
            # reached vertex has no own row, so __prev__ is NULL)
            nxt = (
                dist.select("v", "d", F.lit(True).alias("__own__"))
                .unionAll(
                    dist.join(e, dist["v"] == e["a"], "inner")
                    .select(F.col("b").alias("v"), (F.col("d") + 1).alias("d"),
                            F.lit(False).alias("__own__"))
                )
                .unionAll(
                    dist.join(e, dist["v"] == e["b"], "inner")
                    .select(F.col("a").alias("v"), (F.col("d") + 1).alias("d"),
                            F.lit(False).alias("__own__"))
                )
                .groupBy("v")
                .agg(
                    F.min("d").alias("d"),
                    F.min(F.when(F.col("__own__"), F.col("d"))).alias("__prev__"),
                )
            )
            stored = (r + 1) % _CHECKPOINT_EVERY == 0
            # the probe counts the changed rows: it reads every partition,
            # so the round is fully cached before the previous one goes
            state, n_changed = replace_cache(
                state, ckpt(nxt) if stored else nxt,
                lambda df: full_count(df.filter(changed)), stored,
            )
            if n_changed == 0:
                break
        else:
            raise RuntimeError(
                f"bfs_distances did not converge within max_rounds={max_rounds}"
            )
        out = ckpt(state.select(F.col("v").alias("id"), F.col("d").alias("distance")))
    return LazyFrame(out)


__all__.append("bfs_distances")
