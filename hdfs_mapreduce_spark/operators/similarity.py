"""Embedding similarity search over array<float> columns.

Operator families:

* Exact baselines — ``ann_topk_bruteforce`` (broadcast queries × one
  corpus scan → per-query window top-k, pure expressions; the reference
  every ANN twin is recall-audited against) and ``cosine_pairs`` (all
  pairs with cosine ≥ t, block-partitioned dgemm in ``applyInPandas``).
* Candidate pruning by bucket — ``ann_topk_lsh`` (random-hyperplane
  signatures, multi-probe Hamming buckets) and ``ann_topk_ivf`` (an
  argmax-cosine coarse quantizer); both score candidates with the
  exact-fold Arrow cosine ``cosine_fast``.
* Product quantization — ``pq_encode``, ``ann_topk_pq``, the fused
  IVF-PQ pair ``ann_topk_ivfpq`` / ``ann_topk_ivfpq_residual``, and the
  persisted index in operators/ann_index.py. They share one kernel set:
  ``_model_sample`` (the seeded sample every centroid and codebook is
  fitted from), ``_cos_to_cents`` and ``_probe_cells`` (cell
  assignment and probe order), ``_pq_luts`` and ``_pq_codes`` (ADC
  tables and first-min encoding), ``_adc_probes`` (each query's probed
  cells with their tables), ``_adc_scores`` (the cell-grouped ADC
  scorer) and ``_topk`` (the per-query ranking tail, shared with the
  brute-force, LSH and IVF searches).
* Clustering — ``kmeans_assign``, ``kmeans_fit``, ``kmeans_fit_summary``
  and SemDeDup's ``semantic_dedup``.
* Text to vectors and diverse selection — ``hash_embed_cells`` /
  ``hash_embed_vectors`` (feature hashing) and ``mmr_select``.

Float parity: the Python-boundary kernels (pandas UDFs, ``mapInPandas``)
are Arrow-batched NumPy over two exact-fold primitives, ``_fold_dot``
(Σ a_d·b_d) and ``_fold_sq_l2`` (Σ (a_d − b_d)²). Both keep the SQL
oracle's sequential fold order (acc = acc + term in dimension order from
0.0, all float64) and broadcast over leading axes, so a row-paired
cosine, a (rows × centroids) argmin and an ADC table all run the same
additions in the same order. Spark and the DuckDB twins in
plans/similarity_plans.py therefore agree bit-for-bit and 6-decimal
rounding in the driver's hash is safe. Hyperplanes come from the shared
h56 hash (functions/hashing.py) —
`plane[p][d] = (h56(f"hp:{p}:{d}") % 2001 - 1000) / 1000` — so the oracle
rebuilds the identical planes symbolically, with no literal blobs.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_PLANES = 16  # LSH signature bits


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two array<float> columns in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _fold_dot(a, b):
    """Σ_d a[..., d]·b[..., d] over the last axis, leading axes
    broadcast: accumulated from 0.0 in index order on float64
    (``acc = acc + a_d * b_d``), the left fold of the HOF ``dot`` and of
    DuckDB's ``list_reduce(list_prepend(0.0, ...))``. Vectorized across
    rows (and centroids, planes, ...), never across dimensions, so
    every kernel built on it is bit-identical to its SQL twin; the
    einsum/BLAS forms sum pairwise and drift ~1e-15 off it."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        acc = acc + a[..., d] * b[..., d]
    return acc


def _fold_sq_l2(a, b):
    """Σ_d (a[..., d] − b[..., d])² with ``_fold_dot``'s fold order and
    broadcasting: the squared L2 of the k-means and PQ kernels."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        diff = a[..., d] - b[..., d]
        acc = acc + diff * diff
    return acc


def cosine_fast(
    a: Column, b: Column, nondeterministic: bool = False
) -> Column:
    """Arrow-batched exact-fold cosine: the kernel walks dimensions in index
    order (``acc += a_i*b_i``), vectorized across the rows of each batch —
    the identical left fold the HOF ``cosine`` and DuckDB's
    ``list_reduce(list_prepend(0.0, ...))`` compute, so results are
    BIT-IDENTICAL to the SQL oracle (same additions, same order, all
    float64), not merely close. ~10x the interpreted HOF at sf0.1 (64
    length-n numpy ops per batch vs per-row interpretation); the einsum/BLAS
    variant this replaced was ~1e-15 off the fold (pairwise summation),
    which forced ann_lsh/ann_ivf to rows-only driver checks. The udf is
    built per call — pandas_udf registration needs a live session, so it
    cannot be a module-level decorator.

    ``nondeterministic=True`` marks the UDF non-deterministic so the
    optimizer may not duplicate it (guide §4.4): a downstream filter on
    the returned column otherwise plans the kernel TWICE — once below
    the pushed filter, once in the surviving projection (captured:
    dedup_crosscheck_bucketed ran two stacked ArrowEvalPython over every
    candidate pair). The kernel is pure, so results are unchanged; the
    flag only constrains plan rewrites. Use it at call sites that filter
    on the output; leave it off where the column is select-only (no
    duplication to prevent, and other-filter pushdown stays allowed)."""

    @F.pandas_udf("double")
    def _cos(x: pd.Series, y: pd.Series) -> pd.Series:
        import numpy as np

        if len(x) == 0:
            return pd.Series([], dtype="float64")
        ma = np.stack(x.values).astype(np.float64)
        mb = np.stack(y.values).astype(np.float64)
        return pd.Series(
            _fold_dot(ma, mb)
            / (np.sqrt(_fold_dot(ma, ma)) * np.sqrt(_fold_dot(mb, mb)))
        )

    if nondeterministic:
        _cos = _cos.asNondeterministic()
    return _cos(a, b)


def ann_topk_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_filter: Column | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (queries come from the
    same table; self-matches excluded). Broadcast(query rows) × corpus scan →
    window top-k. Ties broken by neighbor id for determinism.

    ``corpus_filter`` restricts the SEARCHED side only (hybrid search:
    metadata predicate + vector ranking) — the filter sits against the
    corpus scan, so at 100 TB a selective predicate prunes row groups
    before a single dot product runs; query vectors still come from the
    unfiltered table.

    This is the EXACT baseline the ANN twins (``ann_topk_lsh``,
    ``ann_topk_ivf``) are recall-audited against: linear in the corpus
    but multiplied by the query count. ``max_pairs`` bounds
    |filtered corpus| × |queries| with a count probe
    (operators/guards.py) — the declared queries pass the documented
    bound; None leaves the raw operator unguarded."""
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    corpus_src = (
        embeddings.filter(corpus_filter)
        if corpus_filter is not None
        else embeddings
    )
    if max_pairs is not None and query_ids:
        from hdfs_mapreduce_spark.operators.guards import guard_exact_input

        guard_exact_input(
            corpus_src,
            max_pairs // max(len(query_ids), 1),
            "ann_topk_bruteforce",
            "ann_topk_lsh (Hamming buckets) or ann_topk_ivf (coarse-cell "
            "pruning)",
        )
    corpus = corpus_src.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("nvec")).alias("cos_sim"),
        )
    )
    return _topk(scored, k, "cos_sim", ascending=False)


def _h56_py(s: str) -> int:
    """Python twin of functions.hashing.h56 (hashlib md5, first 14 hex)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def hyperplanes(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, components in [-1, 1]:
    plane[p][d] = (h56(f"hp:{p}:{d}") % 2001 - 1000) / 1000. Precomputed in
    Python (exactly the engine hash) and baked as literals — md5 never runs
    at query time, and the expression tree stays small."""
    return [
        [((_h56_py(f"hp:{p}:{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def lsh_signature_fast(dim: int, n_planes: int = N_PLANES):
    """Arrow-batched sign-of-projection signature: bit p = 1 iff
    vec · plane_p > 0, each projection the exact-fold ``_fold_dot``
    (every plane against every batch row), so every sign bit — including
    projections exactly at zero — is bit-identical to the DuckDB
    ``list_reduce`` twin. ~10x the interpreted per-row fold at sf0.1.
    This exactness is what lets ann_lsh carry a hash-checked SQL
    oracle."""
    import numpy as np

    planes = np.array(hyperplanes(dim, n_planes), dtype=np.float64)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = np.stack(vecs.values).astype(np.float64)
        proj = _fold_dot(m[None, :, :], planes[:, None, :])  # (planes, n)
        return pd.Series(((proj > 0).T @ weights).astype(np.int64))

    return sig


def ann_topk_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    probes: int = 2,
) -> DataFrame:
    """Approximate top-k: corpus bucketed by LSH signature; a query scans only
    buckets whose signature is within ``probes`` Hamming bits of its own
    (multi-probe LSH). The candidate join is an equi-join on the signature —
    at 100 TB the corpus is bucketed once (or bucketed-on-write) and each
    query touches a tiny slice instead of the full scan."""
    # asNondeterministic: the join condition references the sig-derived
    # columns, and the optimizer otherwise duplicates the kernel — the
    # executed plan carried TWO stacked ArrowEvalPython[sig] on EACH join
    # side, i.e. the corpus signature pass ran twice per query (guide
    # §4.4; the ann_lsh row of tests/plan_budget.json pins 3
    # Python-boundary nodes, 5 without the flag). The kernel is pure;
    # the flag only forbids the duplicating rewrite.
    sig = lsh_signature_fast(dim).asNondeterministic()
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        sig(F.col(vec_col)).alias("nsig"),
    )
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        sig(F.col(vec_col)).alias("qsig"),
    )
    cand = (
        corpus.join(
            F.broadcast(queries),
            F.expr(f"bit_count(nsig ^ qsig) <= {probes}")
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_fast(F.col("qvec"), F.col("nvec")).alias("cos_sim"),
        )
    )
    return _topk(cand, k, "cos_sim", ascending=False)


def _topk(scored: DataFrame, k: int, score: str, ascending: bool) -> DataFrame:
    """The per-query top-k tail of every ANN twin: rank each query's
    (query_id, neighbor_id, ``score``) candidates by score, ties to the
    lower neighbor id (deterministic, the oracles' ROW_NUMBER order),
    keep rank <= k, present by (query_id, rank)."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
        .orderBy("query_id", "rank")
    )


def ann_topk_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    1. **Train** — ``nlist`` corpus vectors become centroids, chosen by a
       deterministic multiplicative-hash scramble of the id (spread across the
       id space, stable across runs). Collected to the driver: nlist × dim
       doubles, a few KB regardless of corpus size — the same "fit tiny model,
       broadcast it" shape as KMeans.fit.
    2. **Assign** — every corpus vector gets its argmax-cosine cell from one
       Arrow-batched pandas UDF (the exact-fold ``_cos_to_cents``; the
       centroid matrix rides along in the UDF closure = a broadcast).
    3. **Probe** — each query expands to its ``nprobe`` nearest cells and the
       candidate set is the equi-join on ``cell``: only ~nprobe/nlist of the
       corpus is scored per query. At 100 TB the corpus is assigned once (or
       partitioned-on-write by cell) and each query touches nprobe partitions
       instead of a full scan.

    Every arithmetic step — centroid selection (an ORDER BY the oracle can
    express), cell assignment, probe ranking, candidate scoring — uses the
    exact sequential fold, so the whole operator has a hash-checked DuckDB
    twin (plans/similarity_plans.py) despite being "approximate" in the ANN
    sense: approximate vs brute-force recall (bounded in
    tests/test_similarity.py), deterministic as a function of the data.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    cmat = _model_sample(embeddings, nlist, id_col, vec_col)

    @F.pandas_udf(IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = np.stack(vecs.values).astype(np.float64)
        # argmax returns the FIRST maximum -> exact ties go to the lower
        # cell, matching ROW_NUMBER() ORDER BY cos DESC, cell ASC.
        cells = np.argmax(_cos_to_cents(m, cmat), axis=1)
        return pd.Series(cells.astype("int32"))

    # asNondeterministic: the probe join's key is the cell_of-derived
    # column, and the optimizer otherwise plans the assignment kernel
    # TWICE stacked over the corpus scan — a full duplicate corpus
    # encode pass (guide §4.4; the ann_ivf row of tests/plan_budget.json
    # pins 3 Python-boundary nodes, 4 without the flag). Pure kernel;
    # results unchanged.
    cell_of = cell_of.asNondeterministic()

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        m = np.stack(vecs.values).astype(np.float64)
        cells = _probe_cells(m, cmat, nprobe)
        return pd.Series([row.astype("int32") for row in cells])

    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        cell_of(F.col(vec_col)).alias("cell"),
    )
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    cand = (
        corpus.join(F.broadcast(queries), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_fast(F.col("qvec"), F.col("nvec")).alias("cos_sim"),
        )
    )
    return _topk(cand, k, "cos_sim", ascending=False)


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    max_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup: all pairs with cosine ≥ threshold, id_a < id_b.

    This is the EXACT all-pairs baseline — O(N²) dot products by
    construction. Declared queries that consume it pass the
    ``operators/guards.py`` bound via ``max_rows`` (count-probe, raises
    ExactScaleError with a pointer to the sublinear twins: banded LSH
    ``minhash_pairs``, PQ-bucket ``dedup_crosscheck_bucketed``, SemDeDup
    ``semantic_dedup``); the default None keeps the raw operator
    unguarded for bounded slices a caller already vouches for.

    Block-partitioned matmul: vectors are assigned to ``n_blocks`` blocks by
    id; every unordered block pair (i ≤ j) becomes one Arrow group whose
    members are multiplied as two numpy matrices (one dgemm per group) inside
    ``applyInPandas``. Replication factor is ~n_blocks/2 per side — at 100 TB
    pick n_blocks ≈ corpus_size / rows-that-fit-one-executor and the shuffle
    moves each vector ~n_blocks/2 times while the O(N²) arithmetic runs at
    BLAS speed instead of interpreted expression speed (measured 40x).

    cos_sim is rounded to 6 decimals *inside* the query: BLAS pairwise
    summation and the oracle's sequential fold differ at ~1e-15, so the
    definitional value is pinned at the precision the driver hashes."""
    import pandas as pd

    from hdfs_mapreduce_spark.operators.guards import guard_exact_input

    guard_exact_input(
        embeddings,
        max_rows,
        "cosine_pairs",
        "minhash_pairs (banded LSH), dedup_crosscheck_bucketed (PQ "
        "buckets), or semantic_dedup (SemDeDup clusters)",
    )
    blk = (F.col(id_col) % n_blocks).cast("int")
    e = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), blk.alias("blk")
    )
    # Side A: vector in block b joins every pair (b, j), j ≥ b.
    # Side B: vector in block b joins every pair (i, b), i ≤ b.
    pairs_a = e.select(
        "vid",
        "vec",
        "blk",
        F.lit("a").alias("side"),
        F.explode(F.array(*[F.lit(j) for j in range(n_blocks)])).alias("other"),
    ).filter(F.col("other") >= F.col("blk")).select(
        "vid", "vec", "side", F.col("blk").alias("bi"), F.col("other").alias("bj")
    )
    pairs_b = e.select(
        "vid",
        "vec",
        "blk",
        F.lit("b").alias("side"),
        F.explode(F.array(*[F.lit(i) for i in range(n_blocks)])).alias("other"),
    ).filter(F.col("other") <= F.col("blk")).select(
        "vid", "vec", "side", F.col("other").alias("bi"), F.col("blk").alias("bj")
    )
    tagged = pairs_a.unionByName(pairs_b)

    def block_matmul(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = key
        a = pdf[pdf.side == "a"]
        b = pdf[pdf.side == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        ma = np.stack(a.vec.values).astype(np.float64)
        mb = np.stack(b.vec.values).astype(np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        va_all = a.vid.values
        vb_all = b.vid.values
        # Slab the B side so the similarity matrix stays ~O(|A| x 2048)
        # instead of |A| x |B| — same dgemm throughput, bounded peak memory
        # per task (32 concurrent tasks x full-block matrices caused
        # allocator/GC churn).
        slab = 2048
        parts = []
        for s in range(0, mb.shape[0], slab):
            sims = np.round(ma @ mb[s : s + slab].T, 6)
            ia, ib = np.nonzero(sims >= threshold)
            va = va_all[ia]
            vb = vb_all[s + ib]
            if bi == bj:
                # diagonal block holds both orientations of each pair: keep one
                keep = va < vb
            else:
                # off-diagonal blocks hold each unordered pair exactly once,
                # but the a-side id isn't necessarily the smaller one
                keep = va != vb
            lo = np.minimum(va[keep], vb[keep])
            hi = np.maximum(va[keep], vb[keep])
            parts.append(
                pd.DataFrame(
                    {"vec_a": lo, "vec_b": hi, "cos_sim": sims[ia, ib][keep]}
                )
            )
        return pd.concat(parts, ignore_index=True)

    # Pre-partition on the exact group keys so the dgemm tasks get full
    # parallelism (one group ≈ one task) regardless of the session's global
    # shuffle.partitions; the groupBy reuses this exchange.
    n_groups = n_blocks * (n_blocks + 1) // 2
    return (
        tagged.repartition(2 * n_groups, "bi", "bj")
        .groupBy("bi", "bj")
        .applyInPandas(block_matmul, "vec_a long, vec_b long, cos_sim double")
        .orderBy("vec_a", "vec_b")
    )


# --- k-means (one Lloyd assignment step) -----------------------------------------
KMEANS_K = 8

# SemDeDup scale knobs (semantic_dedup): the within-cluster pair search
# is quadratic in cluster size, so cluster size — not cluster count — is
# what must stay bounded as the corpus grows. TARGET sets the cluster
# size the adaptive k aims at (k ≈ N/TARGET); MAX is the hard cap above
# which a cluster is recursively split (skewed seeds can leave one
# cluster holding half the corpus no matter what k was). MODEL_CAP
# bounds the driver/broadcast centroid model (k × dim doubles ≈ 32 MB at
# the cap) — the paper's own deployment uses 50k clusters at web scale;
# past the cap, raise TARGET instead (bigger clusters, one task each,
# dgemm arithmetic still slab-bounded in memory).
SEMANTIC_TARGET_CLUSTER_ROWS = 1024
SEMANTIC_MAX_CLUSTER_ROWS = 4096
SEMANTIC_MODEL_CAP = 65536


def _adaptive_k(
    n_rows: int,
    target_cluster_rows: int = SEMANTIC_TARGET_CLUSTER_ROWS,
    floor: int = KMEANS_K,
    cap: int = SEMANTIC_MODEL_CAP,
) -> int:
    """Cluster count from a corpus count: k ≈ ceil(N / target), floored at
    the historical KMEANS_K=8 (keeps every corpus ≤ 8×target — including
    all sf≤0.1 oracle fixtures — on the exact k=8 plan the DuckDB twin
    unrolls) and capped at the broadcastable-model ceiling."""
    import math

    return max(floor, min(cap, math.ceil(n_rows / max(target_cluster_rows, 1))))


def kmeans_assign(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd's-iteration assignment step with deterministic seeds (the
    k lowest-id vectors), reported per cluster: member count, first member,
    and the within-cluster sum of squared distances.

    This pins the iterative-clustering dataflow: centroids are ALWAYS a
    broadcast-sized model (k × dim floats) — here collected as the seed
    rows (k rows, the IVF-centroid small-model-locally pattern) and
    carried in the assignment kernel's closure — so assignment is pure
    map-side: nothing corpus-sized shuffles until the final per-cluster
    aggregate, which is k rows of partial sums. The kernel is the shared
    exact-fold Arrow argmin (``_assign_to_centroids``): per dimension,
    acc += (x_i - c_i)² in index order — the identical left fold the SQL
    oracle computes, so Spark and DuckDB agree bit-for-bit, at BLAS-ish
    speed instead of the interpreted per-element HOF this used in r2/r3
    (measured ~2x end-to-end; exact ties still go to the lower cid).
    """
    cents = _collect_seed_centroids(embeddings, k, id_col, vec_col)
    if not cents:
        id_type = embeddings.schema[id_col].dataType
        return embeddings.limit(0).select(
            F.lit(None).cast(id_type).alias("cluster"),
            F.lit(None).cast("long").alias("n_members"),
            F.col(id_col).alias("first_member"),
            F.lit(None).cast("double").alias("wcss"),
        )
    return (
        _assign_to_centroids(embeddings, cents, id_col, vec_col)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vid").alias("first_member"),
            F.sum("dist").alias("wcss"),
        )
        .orderBy("cluster")
    )


def _collect_seed_centroids(
    embeddings: DataFrame, k: int, id_col: str, vec_col: str
) -> list[tuple[object, list[float]]]:
    """The k lowest-id vectors as [(id, vector)] — deterministic seeds,
    collected driver-side (k rows: the small-model-locally pattern).
    Ids keep their native type (int, string, ...)."""
    seed_rows = (
        embeddings.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    )
    return [(r[0], [float(x) for x in r[1]]) for r in seed_rows]


def _assign_to_centroids(
    embeddings: DataFrame,
    cents: list[tuple[object, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vid, cluster, dist, emb): map-side argmin of every vector against
    the broadcast centroid model (k x dim doubles — a 1-row LocalRelation
    crossJoined in, no shuffle). Exact ties go to the lower cid, matching
    a ROW_NUMBER ORDER BY (dist, cid) oracle.

    The kernel is the Arrow-batched ``_exact_fold_argmin``: per
    dimension i, ``acc = acc + (x_i - c_i)²`` from 0.0 (``_fold_sq_l2``,
    every batch row against every centroid), i.e. the identical left
    fold the HOF ``aggregate(zip_with(...))`` and DuckDB's
    ``list_reduce(list_prepend(0.0, ...))`` compute, vectorized instead
    of interpreted per element. Results are bit-identical to the oracle
    (not merely close: same additions, same order, all float64), ~3x
    faster than the interpreted HOF per round, and the centroid matrix
    rides in the UDF closure so the model is broadcast by value with no
    join. The centroid rows are sorted by cid, so the first-minimum
    rule gives exact distance ties to the lower cid — the ROW_NUMBER
    (dist, cid) semantics. (Two rejected variants, measured: a
    fully-unrolled literal expression tree re-triggers analysis+codegen
    on every round's fresh literals, ~10x worse end-to-end; a
    broadcast-DataFrame model with the HOF fold saves nothing because
    HOF interpretation, not plan compilation, dominates.)

    The fold is O(k × dim) arithmetic per row with an (n × k)
    temporary per dimension — fine at the oracle-pinned k ≤ 8, a real
    cost once the adaptive SemDeDup path scales k with the corpus (k ∝
    N makes assignment the superlinear term: measured 3.8× for 3× data
    at sf3). Above KMEANS_K the kernel therefore switches to a single
    dgemm (|x|² − 2xCᵀ + |c|², three BLAS calls per batch, same
    first-minimum→lowest-cid tie rule); its distances can differ from
    the fold by ~1 ulp, which is immaterial there — no oracle compares
    a k > 8 assignment (fixtures are all ≤ 8×target rows), and cluster
    membership under either kernel is a valid SemDeDup bucketing."""
    import numpy as np

    # sorted ascending by cid so that argmin's first-minimum == lowest cid
    # on exact ties; the kernel returns the centroid INDEX and the cid maps
    # back through a literal array, so ids keep their native type (int,
    # string, ... — UTF-8 byte order equals codepoint order, so the Python
    # sort matches Spark's string collation)
    cents = sorted(cents)
    cmat = np.array([vec for _, vec in cents], dtype=np.float64)
    exact_fold = len(cents) <= KMEANS_K

    if exact_fold:

        @F.pandas_udf("struct<idx:int,dist:double>")
        def _assign(vecs: pd.Series) -> pd.DataFrame:
            if len(vecs) == 0:
                return pd.DataFrame({"idx": [], "dist": []})
            m = np.stack(vecs.values).astype(np.float64)
            best, dists = _exact_fold_argmin(m, cmat)
            return pd.DataFrame(
                {
                    "idx": best.astype("int32"),
                    "dist": dists[best, np.arange(m.shape[0])],
                }
            )

        # k <= 8 literals: the cid rides back JVM-side with its native type
        cid_array = F.array(*[F.lit(cid) for cid, _ in cents])
        return embeddings.select(
            F.col(id_col).alias("vid"),
            _assign(F.col(vec_col)).alias("m"),
            F.col(vec_col).alias("emb"),
        ).select(
            "vid",
            F.element_at(cid_array, F.col("m.idx") + 1).alias("cluster"),
            F.col("m.dist").alias("dist"),
            "emb",
        )

    # dgemm path: at adaptive k a literal cid array would bloat the plan
    # (up to 65536 entries), so the kernel maps idx -> cid in the closure
    # and emits the cid itself, typed from the id column's schema.
    c_sq = (cmat * cmat).sum(axis=1)  # |c|² once; |x|² per batch
    cids = [cid for cid, _ in cents]
    id_type = embeddings.schema[id_col].dataType

    @F.pandas_udf(f"struct<cid:{id_type.simpleString()},dist:double>")
    def _assign_big(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cid": [], "dist": []})
        m = np.stack(vecs.values).astype(np.float64)
        x_sq = (m * m).sum(axis=1)
        dists = (c_sq[:, None] - (2.0 * m @ cmat.T).T) + x_sq[None, :]
        best = dists.argmin(axis=0)  # first min -> lowest cid on ties
        return pd.DataFrame(
            {
                "cid": [cids[b] for b in best],
                "dist": dists[best, np.arange(m.shape[0])],
            }
        )

    return embeddings.select(
        F.col(id_col).alias("vid"),
        _assign_big(F.col(vec_col)).alias("m"),
        F.col(vec_col).alias("emb"),
    ).select(
        "vid",
        F.col("m.cid").alias("cluster"),
        F.col("m.dist").alias("dist"),
        "emb",
    )


def _split_oversized_clusters(
    assigned: DataFrame,
    id_type,
    target_cluster_rows: int,
    max_cluster_rows: int,
    max_rounds: int = 4,
) -> DataFrame:
    """Recursively split clusters exceeding ``max_cluster_rows``: per
    round, probe cluster sizes (a k-row collect), pick each oversized
    cluster's ``ceil(size/target)`` lowest-id members as sub-seeds (one
    bounded collect — at most N/target rows total across all clusters),
    and reassign ONLY those clusters' members to their own sub-seeds with
    a map-side Arrow kernel (the sub-seed model rides in the closure, no
    shuffle). Sub-cluster labels are the sub-seeds' ids, so labels stay
    ids and stay globally unique (members are disjoint across clusters).
    Rows in right-sized clusters pass through untouched, which makes the
    whole pass a no-op — plan-identical input relation — whenever nothing
    is oversized (every sf ≤ 3 fixture). Each round divides an oversized
    cluster by ~size/target, so ``max_rounds=4`` handles skew up to
    target⁴-fold — beyond any real seed collapse."""
    import math
    from itertools import chain

    import numpy as np

    for _ in range(max_rounds):
        oversized = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_cluster_rows)
            .collect()
        )
        if not oversized:
            return assigned
        ksub = {
            r["cluster"]: max(2, math.ceil(r["n"] / target_cluster_rows))
            for r in oversized
        }
        ksub_col = F.create_map(
            *chain.from_iterable((F.lit(c), F.lit(n)) for c, n in ksub.items())
        )
        w = Window.partitionBy("cluster").orderBy("vid")
        seed_rows = (
            assigned.filter(F.col("cluster").isin(list(ksub)))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= ksub_col[F.col("cluster")])
            .select("cluster", "vid", "emb")
            .collect()
        )
        by_parent: dict = {}
        for r in seed_rows:
            by_parent.setdefault(r["cluster"], []).append(
                (r["vid"], [float(x) for x in r["emb"]])
            )
        # sorted ascending by sub-seed id: argmin's first-minimum gives
        # exact distance ties to the lowest id, the same ROW_NUMBER
        # (dist, cid) tie rule the top-level assignment uses
        model = {
            parent: (
                np.array([v for _, v in sorted(lst)], dtype=np.float64),
                [vid for vid, _ in sorted(lst)],
            )
            for parent, lst in by_parent.items()
        }

        @F.pandas_udf(id_type)
        def _sub_assign(clusters: pd.Series, vecs: pd.Series) -> pd.Series:
            out = clusters.copy()
            for parent, idx in clusters.groupby(
                clusters, sort=False
            ).groups.items():
                entry = model.get(parent)
                if entry is None:
                    continue  # right-sized cluster: label passes through
                cmat, vids = entry
                m = np.stack(vecs.loc[idx].values).astype(np.float64)
                n = m.shape[0]
                dists = np.empty((cmat.shape[0], n))
                for j in range(cmat.shape[0]):
                    d = m - cmat[j]
                    dists[j] = (d * d).sum(axis=1)
                best = dists.argmin(axis=0)
                out.loc[idx] = pd.Series(
                    [vids[b] for b in best], index=idx
                )
            return out

        assigned = assigned.withColumn(
            "cluster", _sub_assign(F.col("cluster"), F.col("emb"))
        )
    return assigned


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_rows: int = SEMANTIC_TARGET_CLUSTER_ROWS,
    max_cluster_rows: int | None = SEMANTIC_MAX_CLUSTER_ROWS,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    data-efficient learning at web-scale through semantic
    deduplication"): cluster the corpus with the deterministic k-means
    assignment, search for near-duplicates ONLY within a cluster (never
    across), and keep the lowest-id member of each near-dup
    neighborhood — the canonical-survivor rule every dedup query here
    uses.

    Returns (vid, cluster, dup_of, kept): dup_of = the lowest
    cluster-mate id with cosine ≥ threshold (NULL ⇒ no earlier near-dup
    ⇒ kept = true).

    Scale shape: assignment is map-side against the broadcast centroid
    model (k × dim doubles in the kernel closure); the pair search is ONE
    ``applyInPandas`` group per cluster — a BLAS matmul over the
    cluster's members (the cosine_pairs block-dgemm pattern, column-
    slabbed so peak memory stays ~O(n × 2048)) — so nothing shuffles but
    the cluster-keyed repartition, and the arithmetic is quadratic only
    WITHIN a cluster. Cluster SIZE is therefore the scale knob, exactly
    SemDeDup's design (the paper runs 50k clusters at web scale), and
    since round 6 it is managed automatically rather than hand-pinned:

    * ``k=None`` (the default, and what the declared query passes)
      derives the cluster count from a corpus count probe —
      k = max(8, min(ceil(N / target_cluster_rows), model cap)) — so
      cluster size stays ~target as the corpus grows 100×. The floor of
      8 keeps every corpus ≤ 8×target (all sf ≤ 0.1 oracle fixtures) on
      the exact k=8 plan the DuckDB twin unrolls, so the declared
      relation is unchanged where it is hash-checked.
    * Deterministic lowest-id seeds can collapse into one region at web
      scale; any cluster still exceeding ``max_cluster_rows`` after
      assignment is recursively split against its own lowest-id
      sub-seeds (``_split_oversized_clusters`` — bounded collects,
      map-side reassignment, a plan-no-op when nothing is oversized).
    * Past the model cap (65536 centroids ≈ 32 MB broadcast), raise
      ``target_cluster_rows`` (~1e6 at 100 TB: one dgemm task per
      cluster, slab-bounded memory) — the same trade the paper makes.

    cos_sim is rounded to 6 decimals inside the kernel, pinning the
    definitional value at the precision the driver hashes (BLAS pairwise
    summation vs the oracle's sequential fold differ at ~1e-15 — the
    same contract cosine_pairs carries).

    A first cut expressed the pair search as a self-join on the cluster
    id with the exact-fold cosine per pair: correct, but the join
    materialized every candidate pair twice through a shuffle with both
    64-float vectors attached (measured 1.7s at sf0.1 vs 0.37s oracle);
    the grouped-dgemm form moves each vector once."""
    import numpy as np
    from pyspark.sql.types import BooleanType, StructField, StructType

    id_type = embeddings.schema[id_col].dataType
    if k is None:
        # one metadata-cheap count probe (parquet row-group counts)
        k = _adaptive_k(embeddings.count(), target_cluster_rows)
    cents = _collect_seed_centroids(embeddings, k, id_col, vec_col)
    if not cents:
        return embeddings.limit(0).select(
            F.lit(None).cast(id_type).alias("vid"),
            F.lit(None).cast(id_type).alias("cluster"),
            F.lit(None).cast(id_type).alias("dup_of"),
            F.lit(None).cast("boolean").alias("kept"),
        )
    assigned = _assign_to_centroids(embeddings, cents, id_col, vec_col).select(
        "vid", "cluster", "emb"
    )
    if max_cluster_rows is not None:
        assigned = _split_oversized_clusters(
            assigned, id_type, target_cluster_rows, max_cluster_rows
        )
    out_schema = StructType(
        [
            StructField("vid", id_type),
            StructField("cluster", id_type),
            StructField("dup_of", id_type),
            StructField("kept", BooleanType()),
        ]
    )

    def cluster_dups(key, pdf):
        n = len(pdf)
        order = np.argsort(pdf["vid"].values, kind="stable")
        vids = pdf["vid"].values[order]
        dup_of = np.full(n, -1, dtype=np.int64)  # index into vids, -1 = kept
        if n >= 2:
            m = np.stack(pdf["emb"].values[order]).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            rows = np.arange(n)[:, None]
            slab = 2048
            for s in range(0, n, slab):
                sims = np.round(m @ m[:, :].T[:, s : s + slab], 6)
                cols = np.arange(s, min(s + slab, n))[None, :]
                valid = (sims >= threshold) & (rows < cols)
                has = valid.any(axis=0)
                first = valid.argmax(axis=0)
                dup_of[s : s + slab][has] = first[has]
        dups = dup_of >= 0
        return pd.DataFrame(
            {
                "vid": vids,
                "cluster": np.repeat(key[0], n),
                "dup_of": pd.Series(
                    [vids[i] if i >= 0 else None for i in dup_of],
                    dtype=object,
                ),
                "kept": ~dups,
            }
        )

    return (
        assigned.groupBy("cluster")
        .applyInPandas(cluster_dups, out_schema)
        .orderBy("vid")
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    max_iter: int = 10,
    tol: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[float]]], DataFrame, int]:
    """Full Lloyd's k-means over the verified assignment step: iterate
    (map-side argmin -> per-cluster mean) until the max squared centroid
    movement is <= ``tol`` or ``max_iter`` rounds ran. Returns
    ``(centroids, assignment, n_iter)`` where centroids is the fitted
    [(cid, vector)] list and assignment is a PURE plan (vid, cluster,
    dist) of every vector against the final centroids — per the
    components-operator contract, no cache outlives the call.

    Scale contract (the IVF-centroid "small model locally" pattern): the
    only driver-side state is k x dim doubles per round. Each round's
    centroid update is posexplode -> per-(cluster, dim) AVG — map-side
    partials compress the shuffle to k x dim rows per input partition —
    and the result collects as the next round's broadcast-by-literal
    model. Clusters that lose every member drop out (k shrinks), the
    same closed-form the unrolled SQL oracle computes. Seeds are the k
    lowest-id vectors, so the whole fit is deterministic given the data;
    centroid means fold floats in partition order, which can differ from
    a sequential engine by ~1 ulp — argmin distances differ by whole
    units on real embeddings, so assignments don't flip (same argument
    as nb_classify).
    """
    cached = _persist_projection(embeddings, id_col, vec_col)
    try:
        cents = _collect_seed_centroids(cached, k, id_col, vec_col)
        if not cents:  # empty input: no clusters, empty pure-plan assignment
            empty = embeddings.limit(0).select(
                F.col(id_col).alias("vid"),
                F.lit(None)
                .cast(embeddings.schema[id_col].dataType)
                .alias("cluster"),
                F.lit(None).cast("double").alias("dist"),
            )
            return [], empty, 0
        cents, n_iter = _lloyd_loop(
            _spark_runner(cached), cents, max_iter, tol, vec_col
        )
        final = _assign_to_centroids(embeddings, cents, id_col, vec_col).select(
            "vid", "cluster", "dist"
        )
        return cents, final, n_iter
    finally:
        cached.unpersist()


def _persist_projection(embeddings: DataFrame, id_col: str, vec_col: str):
    """The fit's working set, cached for the round loop (freed before the
    operator returns — no cache outlives the call). Coalesced to the
    session's declared reduce parallelism (spark.sql.shuffle.partitions):
    on a small local run that collapses 32 near-empty scan tasks into the
    few the data warrants, on a cluster the setting is sized to the data
    so the fit keeps full parallelism. coalesce is a narrow dependency —
    no shuffle either way."""
    from pyspark import StorageLevel

    spark = embeddings.sparkSession
    try:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        target = 200
    return (
        embeddings.select(id_col, vec_col)
        .coalesce(max(target, 1))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _spark_runner(cached: DataFrame):
    """Batch runner over a cached projection: the partials generator runs
    once per partition (``mapInPandas``) and its rows are collected."""
    return lambda gen, schema: cached.mapInPandas(gen, schema).collect()


def _local_runner(frame: pd.DataFrame):
    """Batch runner over one driver-side frame: the same generator sees
    the whole input as its only batch, and no Spark job runs."""
    return lambda gen, schema: [
        row for out in gen(iter([frame])) for row in out.to_dict("records")
    ]


def _lloyd_loop(
    run,
    cents: list[tuple[object, list[float]]],
    max_iter: int,
    tol: float,
    vec_col: str,
) -> tuple[list[tuple[object, list[float]]], int]:
    """The centroid-update rounds, ONE ``run`` each (a ``_spark_runner``
    round is one job): an Arrow kernel fuses the exact-fold argmin
    assignment with per-batch partial sums, so nothing shuffles at all —
    each partition emits at most k (idx, count, sum-vector) rows and the
    driver finishes the mean over ~partitions x k tiny rows. The previous
    shape (assign kernel -> posexplode -> groupBy(cluster, dim))
    exchanged n x dim rows per round and cost ~3x the wall clock at sf0.1
    for identical results. Clusters that lose every member drop out (k
    shrinks), as before."""
    import numpy as np

    n_iter = 0
    for _ in range(max_iter):
        cents_sorted = sorted(cents)
        cmat = np.array([vec for _, vec in cents_sorted], dtype=np.float64)

        def partials(batches, cmat=cmat):
            kk, dim = cmat.shape
            counts = np.zeros(kk, dtype=np.int64)
            sums = np.zeros((kk, dim))
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf[vec_col].values).astype(np.float64)
                best = _exact_fold_argmin(m, cmat)[0]
                for j in range(kk):
                    sel = best == j
                    nj = int(sel.sum())
                    if nj:
                        counts[j] += nj
                        sums[j] += m[sel].sum(axis=0)
            live = np.nonzero(counts)[0]
            # Empty partitions must yield NOTHING: an all-empty frame
            # infers float64 for "s", which Arrow cannot convert to
            # array<double> (object-dtype lists are the convertible form).
            if live.size:
                yield pd.DataFrame(
                    {
                        "idx": live.astype("int32"),
                        "n": counts[live],
                        "s": pd.Series(
                            [sums[j].tolist() for j in live], dtype="object"
                        ),
                    }
                )

        rows = run(partials, "idx int, n long, s array<double>")
        agg: dict[int, tuple[int, object]] = {}
        for r in rows:
            n_prev, s_prev = agg.get(r["idx"], (0, None))
            s = np.asarray(r["s"], dtype=np.float64)
            agg[r["idx"]] = (
                n_prev + r["n"],
                s if s_prev is None else s_prev + s,
            )
        new_cents = [
            (cents_sorted[idx][0], [float(v) for v in s / n])
            for idx, (n, s) in sorted(agg.items())
        ]
        n_iter += 1
        old = dict(cents)
        movement = max(
            (
                sum((a - b) * (a - b) for a, b in zip(old[cid], vec))
                if cid in old
                else float("inf")
            )
            for cid, vec in new_cents
        )
        cents = new_cents
        if movement <= tol:
            break
    return cents, n_iter


def _exact_fold_argmin(m, cmat):
    """(best, dists): per-row argmin cluster index and the (k × n)
    distance matrix, each distance the exact-fold ``_fold_sq_l2``. First
    minimum wins -> exact ties go to the lower centroid index, matching
    ROW_NUMBER (dist, cid)."""
    dists = _fold_sq_l2(m[None, :, :], cmat[:, None, :])
    return dists.argmin(axis=0), dists


# 128k rows x 64 dims x 8 B = ~67 MB — comfortably driver-side; above
# this the fit stays fully distributed.
KMEANS_LOCAL_FIT_MAX_ROWS = 1 << 17


def kmeans_fit_summary(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    max_iter: int = 10,
    tol: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The declared-query fast path over the same fit: identical seeds,
    identical ``_lloyd_loop`` rounds, then ONE more fused kernel pass
    that emits per-cluster (count, min id, wcss) partials against the
    final centroids; the k-row summary is assembled driver-side as a
    LocalRelation. Versus aggregating ``kmeans_fit``'s returned plan
    this saves a full parquet re-scan, an assignment pass and a shuffle
    — total jobs = probe + seeds + rounds + 1, all over the cached
    projection; below ``KMEANS_LOCAL_FIT_MAX_ROWS`` the probe is the only
    job. Numerically identical to summarizing the plan: same
    kernels, same fold order, and the driver-side merge adds the same
    per-partition partials a k-row groupBy would."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = embeddings.sparkSession
    id_type = embeddings.schema[id_col].dataType
    schema = StructType(
        [
            StructField("cluster", id_type),
            StructField("n_members", LongType()),
            StructField("first_member", id_type),
            StructField("wcss", DoubleType()),
        ]
    )
    cached = _persist_projection(embeddings, id_col, vec_col)
    try:
        # Small-input gate: each distributed round is a full Python-worker
        # round trip (~0.2s of pure job overhead locally) while the
        # arithmetic is microseconds, so below the bound the rounds and
        # the summary pass run their same generators driver-side over
        # ONE id-ordered frame of the collected projection, seeded from
        # its first k rows. Results match the distributed path to
        # float-summation order (whole-frame vs per-partition partials).
        # Above the bound (the 100 TB regime) the distributed rounds are
        # the only option that scales; the gate is an exact row bound
        # probed by the SAME job that would fetch the data (limit
        # bound+1: either we got everything, or we fall through).
        probe = cached.limit(KMEANS_LOCAL_FIT_MAX_ROWS + 1).collect()
        if len(probe) <= KMEANS_LOCAL_FIT_MAX_ROWS:
            local = sorted(probe)
            run = _local_runner(pd.DataFrame(local, columns=[id_col, vec_col]))
            cents = [(r[0], [float(x) for x in r[1]]) for r in local[:k]]
        else:
            del probe
            run = _spark_runner(cached)
            cents = _collect_seed_centroids(cached, k, id_col, vec_col)
        if not cents:
            return spark.createDataFrame([], schema)
        cents, _ = _lloyd_loop(run, cents, max_iter, tol, vec_col)
        cents_sorted = sorted(cents)
        cmat = np.array([vec for _, vec in cents_sorted], dtype=np.float64)

        def summarize(batches):
            kk = cmat.shape[0]
            counts = np.zeros(kk, dtype=np.int64)
            wcss = np.zeros(kk)
            first: list = [None] * kk
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf[vec_col].values).astype(np.float64)
                best, dists = _exact_fold_argmin(m, cmat)
                ids = pdf[id_col].values
                for j in range(kk):
                    sel = best == j
                    nj = int(sel.sum())
                    if nj:
                        counts[j] += nj
                        wcss[j] += dists[j][sel].sum()
                        mn = min(ids[sel])
                        if first[j] is None or mn < first[j]:
                            first[j] = mn
            live = np.nonzero(counts)[0]
            # Same empty-partition rule as _lloyd_loop's kernel: an
            # all-empty frame would infer float64 for "f" and break the
            # Arrow cast to the id type.
            if live.size:
                yield pd.DataFrame(
                    {
                        "idx": live.astype("int32"),
                        "n": counts[live],
                        "w": wcss[live],
                        "f": pd.Series(
                            [first[j] for j in live], dtype="object"
                        ),
                    }
                )

        # the id's own Spark type, not a long/string guess — an int id
        # table must behave identically above and below the local-fit gate
        rows = run(
            summarize, f"idx int, n long, w double, f {id_type.simpleString()}"
        )
        agg: dict[int, list] = {}
        for r in rows:
            cur = agg.setdefault(r["idx"], [0, 0.0, None])
            cur[0] += r["n"]
            cur[1] += r["w"]
            cur[2] = r["f"] if cur[2] is None else min(cur[2], r["f"])
        out = [
            (cents_sorted[idx][0], n, f, w)
            for idx, (n, w, f) in sorted(agg.items())
        ]
        return spark.createDataFrame(out, schema)
    finally:
        cached.unpersist()


# --- Product quantization and the shared IVF/PQ kernel set -------------------
PQ_M = 8  # subspaces: EMB_DIM 64 → 8 dims per subspace
PQ_KSUB = 16  # codewords per subspace → 4 bits/subspace, 64→4 bytes/vector


def _model_sample(embeddings: DataFrame, n: int, id_col: str, vec_col: str):
    """(n, dim) float64 matrix of the seeded sample every IVF and PQ model
    is fitted from: the n corpus vectors with the lowest Knuth-scrambled
    id — spread across the id space, stable across runs, and one ORDER BY
    ... LIMIT CTE in the SQL oracle. IVF centroids are its first nlist
    rows and PQ codeword sources its first ksub (residual PQ: the ksub
    after the centroids), so every fit is a deterministic function of the
    data, which is what the hash oracle certifies. Driver-side state is
    n × dim doubles (a few KB) at ANY corpus size: the canonical
    fit-tiny-model-then-broadcast shape. A production variant would
    Lloyd-refine the sample with the existing exact-fold kernels."""
    import numpy as np

    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(
            ((F.col(id_col) * F.lit(2654435761)) % F.lit(1 << 32)).asc(),
            F.col(id_col),
        )
        .limit(n)
        .collect()
    )
    if not rows:
        raise ValueError("cannot fit an IVF/PQ model over an empty corpus")
    return np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])


def _cos_to_cents(m, cmat):
    """(n_rows × nlist) cosine from every row of ``m`` to every centroid,
    with the oracle's exact expression shape: fold-dot / (fold-norm(vec)
    * fold-norm(centroid)), each fold a ``_fold_dot`` like _NORM. Every
    IVF path — ann_topk_ivf, the fused IVF-PQ kernels, the persisted
    index's build and probe — assigns cells and orders probes through
    it, and MMR's penalty is its row max, so they stay bit-identical."""
    import numpy as np

    nv = np.sqrt(_fold_dot(m, m))
    cnorm = np.sqrt(_fold_dot(cmat, cmat))
    dots = _fold_dot(m[:, None, :], cmat[None, :, :])
    return dots / (nv[:, None] * cnorm[None, :])


def _probe_cells(m, cmat, nprobe: int):
    """(n_rows, nprobe) nearest cells of every row of ``m``. The stable
    argsort of -cos keeps ascending cell order on exact ties — the
    oracle's (cos DESC, cell ASC) ROW_NUMBER ranking."""
    import numpy as np

    return np.argsort(-_cos_to_cents(m, cmat), kind="stable", axis=1)[
        :, :nprobe
    ]


def _pq_codebook(src, m_sub: int):
    """(m_sub, k, dsub) codebook tensor from k source vectors: codeword
    (s, j) is source j's s-th subvector slice."""
    dim = src.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    # (k, m_sub, dsub) → (m_sub, k, dsub)
    return src.reshape(src.shape[0], m_sub, dim // m_sub).transpose(1, 0, 2)


def _pq_luts(mat, cbs):
    """(n_rows, m_sub, ksub) ADC tables: entry [i, s, j] is the exact-fold
    squared L2 from row i's s-th subvector to codeword (s, j). For a
    query it is the query's lookup table; for a corpus row the argmin
    over j is its PQ code. Sized by the FITTED codebook, so a corpus
    smaller than ksub never folds uninitialized codeword rows. Rows fold
    independently, so stacking any rows into one call changes no bit."""
    m_sub, _, dsub = cbs.shape
    subs = mat.reshape(mat.shape[0], m_sub, 1, dsub)
    return _fold_sq_l2(subs, cbs[None, :, :, :])


def _pq_codes(mat, cbs):
    """(n_rows, m_sub) PQ codes: per subspace the argmin-L2 codeword, the
    first minimum winning ties (lower code, the oracle's ROW_NUMBER
    (dist, j))."""
    return _pq_luts(mat, cbs).argmin(axis=2)


def _ivfpq_model(
    embeddings: DataFrame,
    nlist: int,
    m_sub: int,
    ksub: int,
    id_col: str,
    vec_col: str,
):
    """The raw IVF-PQ model ``(cmat, cbs, origin)`` that both faces — the
    fused ``ann_topk_ivfpq`` and the persisted index (operators/
    ann_index.py) — fit from ONE sample collect: centroids are its first
    nlist rows and codeword sources its first ksub, so they coincide by
    construction and the oracle reproduces both with one CTE. ``origin``
    is what each vector is offset by before PQ encoding: zeros here
    (codes quantize the vector itself); ``ann_topk_ivfpq_residual``
    passes the centroids instead."""
    import numpy as np

    sample = _model_sample(embeddings, max(nlist, ksub), id_col, vec_col)
    cmat = sample[:nlist]
    return cmat, _pq_codebook(sample[:ksub], m_sub), np.zeros_like(cmat)


def _ivf_codes(mat, model):
    """(cells, codes) of a batch of corpus rows under an IVF-PQ ``model``:
    the argmax-cosine cell (first maximum → lower cell, the oracle's
    ROW_NUMBER (cos DESC, cell ASC)) and the PQ codes of each row's
    offset from ``origin[cell]`` (x − 0.0 is x exactly, so raw codes are
    the vector's own)."""
    import numpy as np

    cmat, cbs, origin = model
    cells = np.argmax(_cos_to_cents(mat, cmat), axis=1)
    return cells, _pq_codes(mat - origin[cells], cbs)


def _adc_queries(queries: DataFrame, id_col: str, vec_col: str):
    """(qids, qmat) of a query batch, collected driver-side (a probe batch
    by declared contract, not a corpus); ([], None) when it is empty."""
    import numpy as np

    rows = queries.select(id_col, vec_col).collect()
    if not rows:
        return [], None
    return [r[0] for r in rows], np.stack(
        [np.asarray(r[1], dtype=np.float64) for r in rows]
    )


def _no_neighbors(queries: DataFrame, id_col: str) -> DataFrame:
    """The ADC operators' result for an empty query batch: no rows, the
    declared (query_id, neighbor_id, rank, approx_dist) schema."""
    return queries.limit(0).select(
        F.col(id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.lit(0).alias("rank"),
        F.lit(0.0).alias("approx_dist"),
    )


def _adc_probes(qmat, model, nprobe: int) -> list:
    """probes[qi] = [(cell, lut)]: query qi's nprobe nearest cells, each
    with the (m_sub × ksub) ADC table its rows are scored against — the
    table of (query − origin[cell]). With raw PQ's zero origin every cell
    gets the query's own table; residual PQ's centroid origin gives q's
    residual in each probed cell (nprobe× the tables, still
    O(nprobe·m·ksub) driver floats per query)."""
    cmat, cbs, origin = model
    cells = _probe_cells(qmat, cmat, nprobe)
    offsets = (qmat[:, None, :] - origin[cells]).reshape(-1, qmat.shape[1])
    luts = _pq_luts(offsets, cbs).reshape(*cells.shape, *cbs.shape[:2])
    return [list(zip(row.tolist(), qluts)) for row, qluts in zip(cells, luts)]


def _adc_scores(ids, cells, codes, qids: list, probes: list):
    """The one ADC scorer, over a batch of encoded corpus rows (ids, cells,
    codes): for query qids[qi] and each (cell, lut) in probes[qi], every
    row of that cell except the query itself, at distance Σ_s lut[s,
    code_s] folded s-ascending — the oracle's list_reduce order, so each
    approx_dist is bit-identical to the SQL twin's. PQ without IVF is the
    one-cell case. Rows are grouped by cell ONCE per batch (one stable
    argsort, which keeps batch order within a cell) and each (query,
    cell) fancy-indexes its slice — no per-query × per-row membership
    test. Returns a (query_id, neighbor_id, approx_dist) frame, or None
    when no row scored."""
    import numpy as np

    order = np.argsort(cells, kind="stable")
    uniq, starts = np.unique(cells[order], return_index=True)
    bounds = np.append(starts, len(order))
    cell_rows = {
        int(c): order[bounds[i] : bounds[i + 1]] for i, c in enumerate(uniq)
    }
    parts = []
    for qid, cell_luts in zip(qids, probes):
        for c, lut in cell_luts:
            rows = cell_rows.get(c)
            if rows is None:
                continue
            rows = rows[ids[rows] != qid]
            kcodes = codes[rows]
            acc = np.zeros(len(rows))
            for s in range(lut.shape[0]):
                acc = acc + lut[s, kcodes[:, s]]
            parts.append((np.full(len(rows), qid), ids[rows], acc))
    if not parts:
        return None
    qcol, ncol, dcol = (np.concatenate(col) for col in zip(*parts))
    return pd.DataFrame(
        {"query_id": qcol, "neighbor_id": ncol, "approx_dist": dcol}
    )


def _adc_topk(corpus: DataFrame, encode, qids: list, probes: list, k: int):
    """ONE map-only pass over ``corpus`` — ``encode(pdf)`` gives each
    batch's (ids, cells, codes) and ``_adc_scores`` scores them against
    the probe tables riding in the closure (broadcast-size driver state)
    — then the per-query top-k by ascending approx_dist."""

    def score(batches):
        for pdf in batches:
            if len(pdf):
                out = _adc_scores(*encode(pdf), qids, probes)
                if out is not None:
                    yield out

    scored = corpus.mapInPandas(
        score, "query_id long, neighbor_id long, approx_dist double"
    )
    return _topk(scored, k, "approx_dist", ascending=True)


def pq_encode(
    embeddings: DataFrame,
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook_source: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization encode: (vid, s, code, sq_err) — per vector
    and subspace, the argmin-L2 codeword (first-min ties → lower code,
    matching ROW_NUMBER (dist, j)) and its squared error. 64 float dims
    become m_sub 4-bit codes: the 32× compression that makes a 100 TB
    embedding corpus RAM-resident for ADC scanning (Jégou et al., PQ for
    nearest neighbor search). Codeword sources are the ksub lowest
    Knuth-scrambled ids (``_model_sample``). Map-only over the corpus —
    the codebook rides the UDF closure as a broadcast; nothing shuffles
    but the final presentation sort."""
    import numpy as np

    source = codebook_source if codebook_source is not None else embeddings
    cbs = _pq_codebook(_model_sample(source, ksub, id_col, vec_col), m_sub)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].values).astype(np.float64)
            dists = _pq_luts(mat, cbs)
            codes = dists.argmin(axis=2)  # first min → lower code
            errs = np.take_along_axis(dists, codes[:, :, None], axis=2)
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf[id_col].values, m_sub),
                    "s": np.tile(np.arange(m_sub, dtype=np.int32), len(mat)),
                    "code": codes.reshape(-1).astype(np.int32),
                    "sq_err": errs.reshape(-1),
                }
            )

    out = embeddings.select(id_col, vec_col).mapInPandas(
        encode, "vid long, s int, code int, sq_err double"
    )
    # Streaming input: the encode kernel composes unchanged (map-only),
    # but a global sort is illegal on an unbounded stream — and the
    # codebook must then come from a bounded ``codebook_source`` (the
    # fit-once-broadcast discipline; collecting the stream is impossible).
    if embeddings.isStreaming:
        return out
    return out.orderBy("vid", "s")


def ann_topk_pq(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via asymmetric distance computation (ADC) over
    PQ codes: each query precomputes an (m_sub × ksub) lookup table of
    subspace distances to every codeword, and a candidate's distance is
    the s-ascending fold Σ_s lut[s][code_s] — table lookups, no vector
    arithmetic per candidate. One map-only pass over the corpus encodes
    and scores in the same kernel (at scale the codes would be
    materialized once and scanned), then a per-query top-k window.
    Deterministic end-to-end (seeded codebooks + exact folds), so it has
    a full hash oracle; ANN-approximate only in recall vs brute force
    (bounded in tests/test_similarity.py)."""
    import numpy as np

    cbs = _pq_codebook(_model_sample(embeddings, ksub, id_col, vec_col), m_sub)
    queries = embeddings.filter(F.col(id_col).isin(query_ids))
    qids, qmat = _adc_queries(queries, id_col, vec_col)
    if not qids:
        return _no_neighbors(queries, id_col)

    def encode(pdf):
        mat = np.stack(pdf[vec_col].values).astype(np.float64)
        one_cell = np.zeros(len(mat), dtype=np.int64)
        return pdf[id_col].values, one_cell, _pq_codes(mat, cbs)

    probes = [[(0, lut)] for lut in _pq_luts(qmat, cbs)]
    return _adc_topk(
        embeddings.select(id_col, vec_col), encode, qids, probes, k
    )


def _ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    nprobe: int,
    model,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The fused single pass both IVF-PQ kernels run: plan each query's
    probed cells and tables driver-side, then ONE map-only corpus kernel
    assigns cell + codes (``_ivf_codes``) and emits the ADC candidates of
    the probed cells in the same pass."""
    import numpy as np

    queries = embeddings.filter(F.col(id_col).isin(query_ids))
    qids, qmat = _adc_queries(queries, id_col, vec_col)
    if not qids:
        return _no_neighbors(queries, id_col)

    def encode(pdf):
        mat = np.stack(pdf[vec_col].values).astype(np.float64)
        return (pdf[id_col].values, *_ivf_codes(mat, model))

    return _adc_topk(
        embeddings.select(id_col, vec_col),
        encode,
        qids,
        _adc_probes(qmat, model, nprobe),
        k,
    )


def ann_topk_ivfpq(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the full FAISS-style scale architecture — the coarse
    quantizer (argmax-cosine cell over the Knuth-scramble centroids, as
    ann_topk_ivf) prunes the corpus to each query's ``nprobe`` cells, and
    candidates are ranked by PQ asymmetric distance (per-query lookup
    table over the codes, as ann_topk_pq) instead of full vectors. At
    100 TB the corpus is encoded once — 4 B/vector of codes plus a cell
    id, RAM-resident where the float vectors never could be — and each
    query touches nprobe/nlist of it with table lookups only.

    Locally one fused map-only kernel assigns cell + codes and emits ADC
    candidates per query in the same corpus pass (probe sets and LUTs are
    broadcast-size closure state); at scale the cells+codes relation is
    materialized once and probed (operators/ann_index.py). Centroids and
    PQ codeword sources share the same seeded sample by construction
    (``_ivfpq_model``), which the oracle reproduces with one CTE.
    Deterministic end-to-end → full hash oracle; recall vs brute force
    bounded in tests."""
    model = _ivfpq_model(embeddings, nlist, m_sub, ksub, id_col, vec_col)
    return _ivfpq_topk(
        embeddings, query_ids, k, nprobe, model, id_col, vec_col
    )


def ann_topk_ivfpq_residual(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC proper (Jégou et al. '11, the form FAISS's IndexIVFPQ
    actually implements): PQ codes quantize each vector's RESIDUAL
    x − centroid(cell(x)) rather than x itself. Residuals concentrate
    near zero, so the same 4-bit-per-subspace budget spends its
    resolution on the part of x the coarse quantizer didn't already
    explain — the standard accuracy upgrade over raw-vector PQ
    (``ann_topk_ivfpq``) at identical code size and scan cost. The
    price is query-side: the ADC lookup table becomes per-(query, cell)
    — q's residual differs in every probed cell — i.e. nprobe× the LUT
    build of the raw variant, still O(nprobe·m·ksub) driver floats.

    Same seeded scramble sample, cell assignment, first-min argmin, and
    s-ascending fold as the raw kernel — but the codeword sources are
    the ksub scramble rows AFTER the nlist centroid rows, not the same
    ones: a centroid row's residual w.r.t. its own cell is (near) zero,
    so sharing the slices (the raw kernel's one-collect economy) would
    collapse the residual codebook to ~16 copies of the zero vector and
    degenerate every ADC ranking to the tie order — measured exactly
    that (recall 0.24 → 0.04) before the slices were made disjoint.
    On the synthetic benchmark embeddings recall is at parity with the
    raw kernel (0.22 vs 0.24 at sf0.01): residuals only concentrate —
    and residual PQ only pulls ahead — when the corpus has real cluster
    structure, which iid synthetic vectors lack; the operator exists so
    the engine-exact IVFADC form is available where corpora do.
    Deterministic end-to-end → full hash oracle (the residual
    arithmetic is mirrored subtraction-first in SQL so the doubles are
    bit-identical)."""
    import numpy as np

    sample = _model_sample(embeddings, nlist + ksub, id_col, vec_col)
    cmat, src = sample[:nlist], sample[nlist:]
    if not len(src):
        raise ValueError(
            "corpus too small for residual PQ: needs more than "
            f"nlist={nlist} rows to fit a disjoint codeword sample"
        )
    # codewords = the DISJOINT sample rows' residuals w.r.t. their cells
    src_cells = np.argmax(_cos_to_cents(src, cmat), axis=1)
    cbs = _pq_codebook(src - cmat[src_cells], m_sub)
    return _ivfpq_topk(
        embeddings, query_ids, k, nprobe, (cmat, cbs, cmat), id_col, vec_col
    )


# --- feature-hashing document embeddings ------------------------------------
HASH_EMBED_DIM = 64


def hash_embed_cells(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = HASH_EMBED_DIM,
) -> DataFrame:
    """Hashing-trick document vectors, cell form: (doc, dim, val) with
    val = Σ_tokens sign(t)·1 over tokens hashing to that dimension —
    index = h56(token) % dim, sign from an independent h56('sign:'+token)
    bit (Weinberger et al., feature hashing). No model, no vocabulary,
    no fit: the embedding of 100 TB of text is one map-side tokenize +
    one (doc, dim)-keyed partial-aggregated shuffle of INTEGER cells —
    exact in any engine, which is why the oracle matches by hash, not
    tolerance. Missing dimensions are materialized as explicit zeros so
    the relation is dense (doc × dim)."""
    from hdfs_mapreduce_spark.functions.hashing import h56
    from hdfs_mapreduce_spark.functions.text import tokens

    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    cells = (
        tok.select(
            "doc",
            (h56(F.col("token")) % dim).cast("int").alias("idx"),
            F.when(
                h56(F.concat(F.lit("sign:"), F.col("token"))) % 2 == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        .groupBy("doc", "idx")
        .agg(F.sum("sgn").alias("val"))
    )
    dense = (
        cells.groupBy("doc")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("idx", "val"))
            ).alias("m")
        )
        .select(
            "doc",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.coalesce(
                        F.try_element_at(F.col("m"), i.cast("int")),
                        F.lit(0).cast("bigint"),
                    ),
                )
            ).alias("dim", "val"),
        )
    )
    return dense


def hash_embed_vectors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = HASH_EMBED_DIM,
) -> DataFrame:
    """(doc, vec array<double>) assembled from the dense cells — the
    bridge that lets every vector operator in this module (brute-force /
    LSH / IVF / PQ ANN, k-means, cosine pairs) run over plain text with
    no external embedding model. Docs with zero tokens have no cells and
    are absent, exactly like the SQL twin built from the cells CTE."""
    dense = hash_embed_cells(df, id_col, text_col, dim)
    return dense.groupBy("doc").agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "val"))
        ).alias("cells")
    ).select(
        "doc",
        F.transform(
            F.col("cells"), lambda c: c["val"].cast("double")
        ).alias("vec"),
    )


# --- MMR diverse selection --------------------------------------------------
MMR_LAMBDA = 0.75  # exactly-representable double: identical literal in
MMR_K = 8          # Python, Spark and SQL (as is 1-lambda = 0.25)
MMR_QUERY_ID = 0


def _max_cos_fast(selected: list[list[float]]):
    """Arrow-batched max cosine against the <=k selected vectors. Each
    cosine is ``_cos_to_cents``' exact fold (bit-identical to ``_cos`` /
    the SQL list_reduce twin); max over selected is rounding-free, so
    the result equals SQL ``MAX()`` over the same cosines bit-for-bit."""
    import numpy as np

    smat = np.array(selected, dtype=np.float64)

    @F.pandas_udf("double")
    def _mc(x: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        m = np.stack(x.values).astype(np.float64)
        return pd.Series(_cos_to_cents(m, smat).max(axis=1))

    return _mc


def mmr_select(
    embeddings: DataFrame,
    query_id: int = MMR_QUERY_ID,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein '98) diverse
    top-k: greedily pick argmax over remaining candidates of
    ``lam * rel(d) - (1-lam) * max_{s in S} cos(d, s)`` — the
    dedup-aware selection stage that keeps a sample RELEVANT (to the
    query) without collapsing onto near-duplicates (the penalty term is
    exactly the SemDeDup similarity signal, applied at selection time).

    Scale contract: selection is inherently sequential in k, so the
    shape is k driver-bounded rounds; each round is ONE map pass (rel
    precomputed and persisted; the penalty kernel carries the <=k
    selected vectors in its closure — no shuffle) into a TakeOrdered
    top-1. Driver state = k ids + k vectors. At 100 TB each round is a
    full scan, which is the honest cost of exact MMR — for larger k,
    candidate-pool prefiltering (ann_topk_* to a few thousand rows)
    bounds the scan; k itself stays a constant.

    Determinism: rel and penalty use the exact sequential folds, score
    arithmetic matches the unrolled SQL (0.75/0.25 are exact doubles),
    ties break by id — the whole greedy trajectory is engine-exact."""
    spark = embeddings.sparkSession
    qrow = (
        embeddings.filter(F.col(id_col) == query_id).select(vec_col).collect()
    )
    out_schema = "rank long, vec_id long, rel double, mmr_score double"
    if not qrow:
        return spark.createDataFrame([], out_schema)
    qlit = F.array(*[F.lit(float(v)) for v in qrow[0][0]])
    base = (
        embeddings.filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("emb"),
            cosine_fast(F.col(vec_col), qlit).alias("rel"),
        )
        .persist()
    )
    try:
        rows: list[tuple] = []
        sel_ids: list = []
        sel_vecs: list[list[float]] = []
        for r in range(1, k + 1):
            if sel_vecs:
                pen = _max_cos_fast(sel_vecs)(F.col("emb"))
                score = (
                    F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * pen
                )
                cand = base.filter(~F.col("vid").isin(sel_ids))
            else:
                score = F.lit(lam) * F.col("rel")
                cand = base
            top = (
                cand.select("vid", "rel", "emb", score.alias("score"))
                .orderBy(F.col("score").desc(), F.col("vid"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            t = top[0]
            rows.append((r, t["vid"], t["rel"], t["score"]))
            sel_ids.append(t["vid"])
            sel_vecs.append([float(v) for v in t["emb"]])
        return spark.createDataFrame(rows, out_schema)
    finally:
        base.unpersist()
