"""Connected components over a pair relation — the clustering step that
turns near-duplicate PAIRS (minhash/simhash/ngram/embedding) into
deduplication GROUPS with one canonical survivor per group. The reference
has no graph operator at all; a training-data pipeline cannot ship pair
lists to a filter, it needs `doc → canonical doc`, which is exactly a
connected-components labeling with min-id as the canonical choice.

Two paths, one labeling (node, min id of its component):

- at or below ``LOCAL_EDGE_LIMIT`` edges, driver-side union-find over
  one bounded collect (``_local_components``);
- above it, alternating large-star/small-star contraction [Rastogi et
  al., "Finding Connected Components in MapReduce in Logarithmic
  Rounds", ICDE'13] (``connected_components_logrounds``): O(log n)
  rounds on any graph shape, long paths included, each round one
  groupBy over the symmetric edge list.

Execution contract (the part that matters in a long-lived session): the
contraction loop runs on eagerly localCheckpoint'ed iterates — truncated
lineage, one small fixpoint aggregate per round — and the converged
relation lands in session scratch (operators/materialize.py), so the
returned plan scans parquet at O(1) depth and no cached state outlives
the call (the r1 verdict's persist-leak rule). A loop that reaches
``max_iter`` without a fixpoint raises instead of returning a partial
labeling. At 100 TB prefer materializing the edge list as a table first
so the gate's collect and the first round scan parquet instead of
recomputing the pair pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge lists at or below this size are solved driver-side with union-find.
# The edge relation is the LSH-*reduced* pair graph — orders of magnitude
# smaller than the corpus — so even petabyte corpora usually land under it;
# 1M edges of two longs is ~30 MB on the driver, and union-find closes them
# in one pass where the star contraction pays a few Spark jobs per round.
# The same small-model-locally reasoning as the IVF centroid collect
# (operators/similarity.py). Above the limit the star contraction takes
# over; tests monkeypatch this constant to 0 to force it and assert the two
# paths agree.
LOCAL_EDGE_LIMIT = 1_000_000


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _local_components(edges: DataFrame, src: str, dst: str, rows) -> DataFrame:
    """Driver-side union-find over a collected edge list. Union-by-min-root
    keeps every root the minimum id of its component, so ``find`` yields the
    same labeling the star contraction converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    nodes = set()
    for r in rows:
        nodes.add(r[0])
        nodes.add(r[1])
    node_type = edges.schema[src].dataType
    schema = StructType(
        [StructField("node", node_type), StructField("label", node_type)]
    )
    return edges.sparkSession.createDataFrame(
        [(n, find(n)) for n in sorted(nodes)], schema
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, label) for every node in ``edges``, where label is the
    smallest node id in the node's connected component. Nodes absent from
    ``edges`` are absent from the result (singletons label themselves —
    callers coalesce on join, see dedup_components).

    Edge lists within ``LOCAL_EDGE_LIMIT`` are closed with union-find in
    one collect; larger graphs run ``connected_components_logrounds``
    with ``max_iter`` rounds. Both paths return the same labeling
    (property-tested)."""
    head = edges.select(src, dst).limit(LOCAL_EDGE_LIMIT + 1).collect()
    if len(head) <= LOCAL_EDGE_LIMIT:
        return _local_components(edges, src, dst, head)
    return connected_components_logrounds(edges, src, dst, max_iter)


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round [Rastogi et al. ICDE'13].

    Every node u links a subset of its neighborhood directly to
    m = min(N(u) ∪ {u}): the large-star round re-points u's STRICTLY
    LARGER neighbors at m (shrinking tall chains from both ends), the
    small-star round re-points the ≤ u neighbors (flattening what's
    left into stars). Alternating rounds converge to per-component
    stars centered on the min id in O(log n) rounds on ANY graph shape.
    Implemented as one groupBy per round over the symmetric edge list:
    collect each node's neighbor set, compute m array-side, re-emit
    edges — no joins, the aggregate's shuffle is the only exchange.

    Memory bound, stated honestly: ``collect_set`` materializes one
    node's whole neighborhood in a single aggregation buffer, so the
    per-executor ceiling is the maximum degree (and rounds concentrate
    edges onto component minima, raising it). Fine up to ~10^7-degree
    hubs on normal executors; past that, swap the set-collect for the
    published streaming form — a (node, min-neighbor) aggregate joined
    back to the edge list — which trades a join per round for O(1)
    aggregation state per key."""
    nbrs = edges.groupBy("src").agg(
        F.collect_set("dst").alias("ns")
    )
    m = F.array_min(F.concat(F.col("ns"), F.array(F.col("src"))))
    if large:
        targets = F.filter(F.col("ns"), lambda v: v > F.col("src"))
    else:
        targets = F.filter(
            F.col("ns"), lambda v: (v <= F.col("src")) & (v != m)
        )
    out = nbrs.select(
        m.alias("m"),
        F.explode(
            F.array_union(targets, F.array(F.col("src")))
        ).alias("node"),
    ).filter(F.col("node") != F.col("m"))
    return out.select(
        F.col("node").alias("src"), F.col("m").alias("dst")
    ).distinct()


def connected_components_logrounds(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, label) via alternating large-star/small-star — the
    distributed path of ``connected_components`` above its union-find
    gate: O(log n) rounds on any graph shape, long chains included.
    Returns the identical labeling as union-find (property-tested).

    No cache outlives the call. A star round references ITS OWN previous
    output twice (the small-star input is big ∪ swap(big)), so an
    unrolled star plan doubles per round — 2^rounds analysis blowup,
    measured as a driver OOM on long-chain graphs. Instead the loop runs
    on eager localCheckpoints, the converged relation lands in session
    scratch via the materialize-then-probe API and the returned plan
    reads the parquet: O(1) plan depth at any round count, every
    checkpoint freed before return (the r8 ordering-sensitive pytest
    caught the old returned-live-checkpoint form leaking one persistent
    RDD into every later workload in the session). Raises
    ``RuntimeError`` when ``max_iter`` rounds end without a fixpoint: a
    partial contraction is a wrong labeling, not an approximation."""
    import uuid

    from hdfs_mapreduce_spark.functions.checkpoints import CheckpointJanitor
    from hdfs_mapreduce_spark.operators.materialize import materialize

    janitor = CheckpointJanitor(edges.sparkSession)
    try:
        cur = (
            _symmetric(edges, src, dst).distinct().localCheckpoint(eager=True)
        )
        prev_sig = None
        for _ in range(max_iter):
            big = _star_round(cur, large=True)
            small = _star_round(
                big.unionByName(
                    big.select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                ),
                large=False,
            )
            cur = _symmetric(small, "src", "dst").distinct().localCheckpoint(
                eager=True
            )
            janitor.free_all_but_latest()
            # type-agnostic fixpoint signature: row count + an order-free
            # sum of per-edge hashes (xxhash64 takes any column type — a
            # sum over src+dst would ANSI-throw on string/binary node ids;
            # the pmod bounds each term so the sum can't ANSI-overflow a
            # long before 2^31 edges)
            sig = cur.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.pmod(F.xxhash64("src", "dst"), F.lit(1 << 31))
                ).alias("h"),
            ).collect()[0]
            sig = (sig["n"], sig["h"])
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                "connected_components_logrounds: no fixpoint within "
                f"max_iter={max_iter} star rounds"
            )
        cur = materialize(cur, f"logrounds_{uuid.uuid4().hex[:12]}")
    finally:
        janitor.free_all()
    # converged: every edge points a node at its component min — the
    # symmetric closure contains both directions, keep node > label, and
    # re-attach each component's root as (root, root) so the output
    # contract matches connected_components exactly (every node of the
    # edge set gets a row)
    non_root = (
        cur.filter(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("node"), F.col("dst").alias("label"))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return (
        cur.select(F.col("src").alias("node"))
        .distinct()
        .join(non_root, "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
    )


def canonical_assignment(
    nodes: DataFrame,
    node_col: str,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, canonical) for EVERY row of ``nodes``: the min id of the
    node's near-dup component, or the node itself when it has no edges.
    ``keep = canonical == node`` is the dedup survivor predicate."""
    labels = connected_components(edges, src, dst)
    return nodes.select(F.col(node_col).alias("node")).join(
        labels, "node", "left"
    ).select(
        F.col("node").alias(node_col),
        F.coalesce("label", "node").alias("canonical"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list: ``iters``
    rounds of

        rank(v) = (1 - d)/N + d * Σ_{u → v} rank(u) / out_degree(u)

    from the uniform start, returned as (node, rank) over every node
    that appears in the edge list. In a curation pipeline this is the
    centrality pass over a similarity/link graph — which documents are
    hubs of a near-dup neighborhood, which domains dominate a link
    graph — the weighting signal web-scale corpus work feeds into
    sampling (contrast connected_components, which only partitions).

    Scale shape: per round one join of ranks onto edge sources (shuffle
    keyed on src, or free if the edge list is pre-bucketed by src), one
    groupBy-sum keyed on dst with map-side partials, and a broadcast-size
    constant term; the rank relation is one row per node. The declared
    instance unrolls a FIXED ``iters`` as a pure plan — no caching, the
    components-operator contract — which Catalyst serves with a
    ReusedExchange for the repeated edge scan; for deep iteration counts
    switch to the localCheckpoint loop-driver pattern
    (connected_components_logrounds above) or materialize ranks per
    round.
    Dangling nodes (no out-edges) keep their mass out of circulation —
    acceptable for symmetric similarity graphs, where they cannot occur
    (every edge is bidirectional, so every node has out-degree ≥ 1).

    Determinism: the arithmetic is the same expression tree on both
    engines; only float SUM order differs (~1e-16 relative per round),
    so consumers pin results by rounding — the declared query rounds to
    6 decimals, far above the drift."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # one bounded probe: N is the uniform-start constant
    if n == 0:
        return nodes.select(
            "node", F.lit(None).cast("double").alias("rank")
        )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph given as
    a canonical (a < b) pair relation: (node, n_tri) for every node that
    closes at least one triangle.

    Algorithm: degree-ordered orientation ("compact-forward" /
    node-iterator with degree ordering). Every undirected edge {u, v} is
    oriented from the endpoint that is SMALLER under the total order
    (degree, id) toward the larger; a triangle {u, v, w} then exists as
    exactly one oriented wedge u→v, u→w (v before w in the same order)
    whose closing edge v→w is present — so each triangle is enumerated
    once, with no post-hoc dedup.

    Why the orientation matters at 100 TB: without it the wedge join
    explodes around hubs (a degree-d node contributes d² wedges — a
    celebrity node in a co-occurrence graph or a boilerplate hub in a
    near-dup graph is d in the millions). Orienting by degree bounds
    every node's out-degree by O(√|E|) on any graph (a node of degree
    > √|E| has fewer than √|E| neighbors of even higher degree), which
    bounds the wedge relation by O(|E|^1.5) — the best exact bound known
    for a join-based plan, and the difference between "finishes" and
    "dies on the first hub".

    Plan shape: one symmetrize + degree aggregate (shuffle on node), one
    self-join of the oriented edge list on its source (shuffle on src —
    wedge build), one join of wedges onto oriented edges keyed on the
    closing pair (v, w), then an explode-free triple unpivot + count
    keyed on node. All integer arithmetic — no float portability
    surface. Everything downstream of the input relation is
    |E|-proportional, never corpus-proportional.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # Oriented edge list with the target's (degree, id) rank carried so
    # the wedge join can order its two spokes without re-joining degrees.
    withdeg = (
        sym.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("d", "da")
        .join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("db")),
            "b",
        )
    )
    oriented = withdeg.where(
        F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    ).select(
        F.col("a").alias("s"),
        F.col("b").alias("t"),
        F.struct(F.col("db"), F.col("b")).alias("rk_t"),
    )
    w1 = oriented.select(
        F.col("s"), F.col("t").alias("v"), F.col("rk_t").alias("rk_v")
    )
    w2 = oriented.select(
        F.col("s"), F.col("t").alias("w"), F.col("rk_t").alias("rk_w")
    )
    wedges = w1.join(w2, "s").where(F.col("rk_v") < F.col("rk_w"))
    closing = oriented.select(
        F.col("s").alias("v"), F.col("t").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).select(
        F.col("s").alias("u"), "v", "w"
    )
    members = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
    )
    return members.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
