"""Similarity-search queries over the embeddings table, with DuckDB oracles.

The cosine expression in SQL mirrors the Spark expression shape exactly
(sequential left-fold in index order, all-double) so the floating-point
results are bit-identical, not merely close.

Since round 4 this includes ``ann_lsh`` and ``ann_ivf``: their Arrow
kernels evaluate every dot/norm with the same exact sequential fold, so
the hyperplane signatures, Hamming buckets, IVF cell assignments and
candidate scores are all deterministic functions of the data that DuckDB
recomputes symbolically (hyperplanes from the shared h56 hash, centroids
from the Knuth-scramble ORDER BY). "Approximate" refers to ANN recall vs
brute force (bounded in tests/test_similarity.py), not to any
nondeterminism — so both carry full hash oracles.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from hdfs_mapreduce_spark.functions.hashing import h56_sql
from hdfs_mapreduce_spark.operators.guards import (
    ANN_BRUTE_MAX_PAIRS,
    EXACT_PAIRS_MAX_ROWS,
)
from hdfs_mapreduce_spark.operators.similarity import (
    KMEANS_K,
    N_PLANES,
    ann_topk_bruteforce,
    ann_topk_ivf,
    ann_topk_lsh,
    cosine_pairs,
    kmeans_assign,
    kmeans_fit,
)
from hdfs_mapreduce_spark.sources.catalog import load_table, spread

# Unique per-invocation suffix for materialized index names: a fresh RAW
# invocation in the same session must never build into a directory a
# concurrently-running invocation's plan is still reading — materialize's
# rename-swap would delete files under the other plan (the same
# discipline streaming_plans' _INVOCATION pins for state dirs).
# itertools.count's __next__ is one C call, atomic under the GIL.
_INVOCATION = itertools.count(1)

QUERY_IDS = [0, 1, 2, 3, 4]
TOP_K = 10
PAIR_THRESHOLD = 0.4
EMB_DIM = 64  # embeddings table dimension (all SFs)
LSH_PROBES = 2  # multi-probe Hamming radius
IVF_NLIST = 16
IVF_NPROBE = 4

# dot(a,b) with the same fold order as Spark's aggregate(zip_with(...)).
_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"({_NORM.format(a=a)} * {_NORM.format(a=b)}))"
    )


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_bruteforce(
        emb, QUERY_IDS, TOP_K, max_pairs=ANN_BRUTE_MAX_PAIRS
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step (broadcast centroids, map-side argmin) —
    see operators/similarity.py kmeans_assign."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, KMEANS_K)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means clusters bucket the corpus, near-dup search runs
    within clusters only, lowest-id survivor kept — see
    operators/similarity.py semantic_dedup (Abbas et al. 2023).

    Since round 6 the declared instance is SCALE-ADAPTIVE (k=None): the
    cluster count derives from a corpus count probe with a floor of
    KMEANS_K=8 and oversized clusters split recursively, so the
    within-cluster dgemm stays ~O(target²·N/target) = linear in N
    instead of O((N/8)²). At every oracle-checked SF (≤ 0.1, N ≤ 8×1024)
    the adaptive path resolves to exactly k=8 with no splits — the same
    relation the DuckDB twin's pinned LIMIT-8 seed CTE computes."""
    from hdfs_mapreduce_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, None, PAIR_THRESHOLD)


KMEANS_FIT_ITERS = 3


def embedding_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's loop (operators/similarity.py kmeans_fit /
    kmeans_fit_summary): 3 rounds of fused assign+update from
    deterministic lowest-id seeds — ONE zero-shuffle job per round over a
    cached projection — then one more fused pass summarizing the final
    assignment per cluster, assembled driver-side as a k-row
    LocalRelation (r4: replaced the parquet re-scan + shuffle aggregate;
    same kernels, same fold order, same result). The oracle unrolls the
    identical 3 rounds as chained CTEs."""
    from hdfs_mapreduce_spark.operators.similarity import kmeans_fit_summary

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fit_summary(
        emb, KMEANS_K, max_iter=KMEANS_FIT_ITERS, tol=0.0
    ).orderBy("cluster")


ANN_FILTER_LABEL = 3


def ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: metadata predicate + exact vector ranking. The label
    filter restricts the searched corpus at the scan (row-group pruning at
    scale) while query vectors come from the unfiltered table."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_bruteforce(
        emb, QUERY_IDS, TOP_K,
        corpus_filter=F.col("label") == ANN_FILTER_LABEL,
        max_pairs=ANN_BRUTE_MAX_PAIRS,
    )


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, QUERY_IDS, TOP_K, dim=EMB_DIM, probes=LSH_PROBES)


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_ivf(
        emb, QUERY_IDS, TOP_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE
    )


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (operators/similarity.py pq_encode):
    per (vector, subspace) the argmin-L2 codeword + squared error, with
    seeded Knuth-scramble codebooks the oracle rebuilds symbolically."""
    from hdfs_mapreduce_spark.operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_encode(emb)


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over PQ codes (operators/similarity.py ann_topk_pq)."""
    from hdfs_mapreduce_spark.operators.similarity import ann_topk_pq

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_pq(emb, QUERY_IDS, TOP_K)


def _pq_keys(emb: DataFrame) -> DataFrame:
    """(vid, pq_key) — each vector's full PQ code vector joined into one
    string key; code-identical vectors share a key. Map-only encode plus
    one groupBy on vid."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.similarity import pq_encode

    return (
        pq_encode(emb)
        .groupBy("vid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "code"))),
                    lambda x: x["code"].cast("string"),
                ),
                "-",
            ).alias("pq_key")
        )
    )


def dedup_pq_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup bucketing by identical PQ code vectors: two
    vectors sharing all m_sub codes are quantization-level duplicates.
    (vid, bucket_head, bucket_size) per vector — bucket_head is the
    lowest member id, the canonical-survivor rule every dedup query here
    uses. Scale shape: after the map-only encode this is ONE exact
    groupBy on a 4-byte key — the cheap first pass that shrinks the
    candidate set before any pairwise cosine runs (the same
    exact-then-verify discipline as dedup_exact → minhash)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    keys = _pq_keys(emb)
    buckets = keys.groupBy("pq_key").agg(
        F.min("vid").alias("bucket_head"),
        F.count(F.lit(1)).alias("bucket_size"),
    )
    return (
        keys.join(buckets, "pq_key")
        .select("vid", "bucket_head", "bucket_size")
        .orderBy("vid")
    )


PCA_ANN_DIM = 16
PCA_ANN_CANDIDATES = 100
# Candidate budget as a corpus FRACTION (floor PCA_ANN_CANDIDATES): a
# fixed count is a shrinking fraction as data grows, so the audited
# recall claim would silently weaken with scale — the sf0.1 full-registry
# sweep (round 9) caught exactly that: recall 0.82 at a 20% fraction at
# every SF, but 0.50 once 100 candidates had fallen to 5% of the corpus.
PCA_ANN_FRAC = 0.2


def ann_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-reduction ANN, recall-audited: project corpus and
    queries onto the top-16 principal components (map-side, 4× fewer
    dot-product FLOPs), take top-100 candidates per query in the reduced
    space, re-rank ONLY those with full-dim exact cosine, and score
    recall@10 against the verified exact baseline (ann_topk_bruteforce).
    The classic PCA-prefilter + exact-rerank pipeline — at 100 TB the
    reduced-space scan is the cheap pass (dim/8 of the FLOPs, or an
    index built in the reduced space) and full vectors are fetched for
    candidates only, the same candidates-then-verify discipline as
    PQ/ADC. The relation is one audit row (n_queries, corpus_rows,
    reduced_dim, top_k, n_candidates, recall_ge_70pct): corpus_rows is
    data the oracle recounts; eigenvector VALUES never enter the hash
    (engine-unportable), the pinned claim is recall ≥ 70% of the exact
    top-10, certified against real distributed computation. The
    candidate budget is a FRACTION of the corpus (PCA_ANN_FRAC, floored
    at PCA_ANN_CANDIDATES): a fixed count shrinks as a corpus fraction
    when data grows, so the claim would silently weaken with scale —
    the round-9 sf0.1 sweep measured exactly that (0.82 recall at a 20%
    fraction at every SF; 0.50 once 100 candidates had fallen to 5%).
    The margin is deliberate: these synthetic embeddings are
    near-ISOTROPIC (top-16 components capture only ~38% of variance —
    PCA's worst case), and surfacing exactly that is the audit's job —
    a production corpus with real low-rank structure achieves the same
    recall at a far smaller fraction, and a corpus where this audit
    fails should not ship a PCA-prefiltered index."""
    import math

    import numpy as np

    from hdfs_mapreduce_spark.operators.embedding_stats import (
        pca_fit,
        pca_project,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus_pre = emb.count()
    n_cand = max(PCA_ANN_CANDIDATES, math.ceil(PCA_ANN_FRAC * n_corpus_pre))
    comps, _ = pca_fit(emb, PCA_ANN_DIM, dim=EMB_DIM)
    reduced = pca_project(emb, comps).withColumnRenamed("proj", "embedding")
    cand = ann_topk_bruteforce(
        reduced, QUERY_IDS, n_cand, id_col="vid"
    ).select("query_id", "neighbor_id")
    # full-dim exact re-rank of the candidate set only
    qv = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nvec")
    )
    from hdfs_mapreduce_spark.operators.similarity import cosine_fast
    from pyspark.sql.window import Window

    rer = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_fast(F.col("qvec"), F.col("nvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    approx = (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    exact = ann_topk_bruteforce(emb, QUERY_IDS, TOP_K).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).count()
    total = len(QUERY_IDS) * TOP_K
    return spark.createDataFrame(
        [
            (
                len(QUERY_IDS),
                n_corpus_pre,
                PCA_ANN_DIM,
                TOP_K,
                n_cand,
                bool(hits >= int(np.ceil(0.7 * total))),
            )
        ],
        "n_queries int, corpus_rows long, reduced_dim int, top_k int, "
        "n_candidates int, recall_ge_70pct boolean",
    )


def text_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document vectors in dense cell form
    (operators/similarity.py hash_embed_cells): model-free text
    vectorization whose integer cells are exact in any engine."""
    from hdfs_mapreduce_spark.operators.similarity import hash_embed_cells

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    return hash_embed_cells(docs, "doc_id", "text").orderBy("doc", "dim")


def text_hash_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine retrieval over the hashed document vectors —
    the full text→vector→ANN bridge with no external embedding model:
    the same brute-force operator the embeddings table uses, fed by
    hash_embed_vectors."""
    from hdfs_mapreduce_spark.operators.similarity import (
        ann_topk_bruteforce,
        hash_embed_vectors,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    vecs = hash_embed_vectors(docs, "doc_id", "text")
    return ann_topk_bruteforce(vecs, QUERY_IDS, TOP_K, id_col="doc", vec_col="vec")


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse cells + PQ asymmetric distance — the composed
    FAISS-style scale path (operators/similarity.py ann_topk_ivfpq)."""
    from hdfs_mapreduce_spark.operators.similarity import ann_topk_ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_ivfpq(
        emb, QUERY_IDS, TOP_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE
    )


def ann_probe_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index ANN lifecycle (operators/ann_index.py —
    VERDICT r6 item 4): build the IVF-PQ index ONCE — centroids,
    codewords, and a cell-clustered codes table materialized as parquet
    — then serve the standard query batch from the index alone, never
    re-reading the raw vectors. Probe cost is a driver-bounded model
    collect plus a codes scan whose ``cell IN`` filter prunes row
    groups (the build writes codes ordered by cell), i.e. ~nprobe/nlist
    of the corpus per query at scale; the build-once/probe-many
    economics the per-call ann_ivfpq can't offer. Same model sample,
    same float64 kernels, same s-ascending ADC fold ⇒ hash-identical
    to ann_ivfpq (the oracle IS ann_ivfpq's); the pytest probes one
    index twice without re-fitting."""
    import os as _os

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.ann_index import (
        ann_probe_ivfpq,
        build_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index = build_ivfpq_index(
        emb,
        nlist=IVF_NLIST,
        name=f"ivfpq_{_os.path.basename(sf_dir.rstrip('/'))}"
        f"_{next(_INVOCATION)}",
    )
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return ann_probe_ivfpq(index, queries, TOP_K, nprobe=IVF_NPROBE)


# Deterministic day-1/day-2 split for the appended-index demonstration:
# vec_id % 5 != 0 builds (and fits the frozen model), the other fifth
# arrives later and is appended encode-only.
APPEND_MOD = 5


def ann_probe_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-model index append (operators/ann_index.py
    append_to_ivfpq_index — the FAISS add() contract): build the IVF-PQ
    index on the day-1 corpus (vec_id % 5 ≠ 0), append the day-2 fifth
    encode-only — model untouched, existing codes never re-read — then
    probe the combined index. The oracle fits the model from the day-1
    subset but encodes and scans EVERY vector (_ann_ivfpq_sql's
    model_rel parameter), pinning exactly the frozen-model semantics:
    this is the production lifecycle where yesterday's index serves
    today's grown corpus until a deliberate rebuild."""
    import os as _os

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.ann_index import (
        ann_probe_ivfpq,
        append_to_ivfpq_index,
        build_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    day1 = emb.filter(F.col("vec_id") % APPEND_MOD != 0)
    day2 = emb.filter(F.col("vec_id") % APPEND_MOD == 0)
    index = build_ivfpq_index(
        day1,
        nlist=IVF_NLIST,
        name=f"ivfpq_app_{_os.path.basename(sf_dir.rstrip('/'))}"
        f"_{next(_INVOCATION)}",
    )
    index = append_to_ivfpq_index(index, day2)
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return ann_probe_ivfpq(index, queries, TOP_K, nprobe=IVF_NPROBE)


# Deterministic delete cohort for the deleted-index demonstration: the
# vec_id % 7 == 0 seventh is tombstoned after the build (includes query
# id 0, so "probe with an erased vector's own embedding" is exercised).
DELETE_MOD = 7


def ann_probe_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index deletes (operators/ann_index.py delete_from_ivfpq_index
    — the FAISS ``remove_ids`` contract, VERDICT r7 item 3): build the
    IVF-PQ index over the full corpus, tombstone the vec_id % 7 == 0
    seventh via the deletion-vector logtable (model FROZEN — centroids,
    codewords, and the cell-clustered codes files are untouched), then
    probe: deleted vectors vanish from every result list and the next
    best survivors fill the top-k. The oracle keeps the full-corpus
    model/cell CTEs and restricts only the CANDIDATE relation to
    surviving ids — exactly the read-through semantics. The logtable
    commit makes the delete replay-idempotent (pytest); the probe pays
    one broadcast anti-join after the cell filter, so the build's
    row-group pruning still bounds the scan."""
    import os as _os

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.ann_index import (
        ann_probe_ivfpq,
        build_ivfpq_index,
        delete_from_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index = build_ivfpq_index(
        emb,
        nlist=IVF_NLIST,
        name=f"ivfpq_del_{_os.path.basename(sf_dir.rstrip('/'))}"
        f"_{next(_INVOCATION)}",
    )
    dels = emb.filter(F.col("vec_id") % DELETE_MOD == 0).select("vec_id")
    index = delete_from_ivfpq_index(index, dels, batch_id=0)
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return ann_probe_ivfpq(index, queries, TOP_K, nprobe=IVF_NPROBE)


def ann_probe_rebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index REBUILD with atomic swap (operators/ann_index.py
    rebuild_ivfpq_index — VERDICT r8 item 4, the drift-recovery verb
    the frozen-model lifecycle lacked): run the full day-2 story —
    create the managed index on the day-1 corpus (log version 0),
    append the day-2 fifth encode-only, tombstone the vec_id % 7 == 0
    seventh — then REBUILD: retrain centroids + codewords on the live
    corpus (tombstones compacted away), write a fresh cell-clustered
    generation, and publish it with one log commit (version 1). The probe
    goes through the post-flip handle, so the oracle is a fresh
    fit+encode of the live corpus (model_rel = corpus_rel = survivors):
    rebuild ≡ build of current data, the invariant that makes the swap
    safe to automate off ann_ivfpq_recall / corpus_drift_psi /
    rebuild_recommended. Probe continuity (old handles keep pre-flip
    results; the flip is all-or-nothing) is pinned in
    tests/test_ann_index.py."""
    import os as _os

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.ann_index import (
        ann_probe_ivfpq,
        append_to_ivfpq_index,
        create_managed_ivfpq,
        delete_from_ivfpq_index,
        rebuild_ivfpq_index,
    )
    from hdfs_mapreduce_spark.operators.materialize import (
        session_scratch_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = (
        f"{session_scratch_dir(spark)}/managed_ivfpq_"
        f"{_os.path.basename(sf_dir.rstrip('/'))}_{next(_INVOCATION)}"
    )
    index = create_managed_ivfpq(
        emb.filter(F.col("vec_id") % APPEND_MOD != 0), root, nlist=IVF_NLIST
    )
    index = append_to_ivfpq_index(
        index, emb.filter(F.col("vec_id") % APPEND_MOD == 0)
    )
    dels = emb.filter(F.col("vec_id") % DELETE_MOD == 0).select("vec_id")
    index = delete_from_ivfpq_index(index, dels, batch_id=0)
    index = rebuild_ivfpq_index(index, emb)
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return ann_probe_ivfpq(index, queries, TOP_K, nprobe=IVF_NPROBE)


def ann_probe_vacuumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation retention — the lifecycle verb after rebuild
    (operators/ann_index.py vacuum_index_generations, round-9 verdict
    stretch): create the managed index on the day-1 corpus (log
    version 0), REBUILD on the full corpus (v1), then vacuum with
    retain_last=1. The declared relation is the post-vacuum probe
    through the newest version — hash-identical to a fresh build over
    the full corpus, proving vacuum touches only dead generations. The
    retention CONTRACT is enforced at plan build and raises on
    violation (driver marks the query red): exactly the v0 generation
    is reclaimed (its log record stays, so version slots never reopen —
    the rebuild-after-vacuum resurrection guard), and an as-of open
    below the horizon fails AT OPEN with IndexRetentionError, the
    logtable read-below-vacuum-horizon semantics."""
    import os as _os

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.ann_index import (
        IndexRetentionError,
        ann_probe_ivfpq,
        create_managed_ivfpq,
        open_managed_ivfpq,
        rebuild_ivfpq_index,
        vacuum_index_generations,
    )
    from hdfs_mapreduce_spark.operators.materialize import (
        session_scratch_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = (
        f"{session_scratch_dir(spark)}/managed_ivfpq_vac_"
        f"{_os.path.basename(sf_dir.rstrip('/'))}_{next(_INVOCATION)}"
    )
    index = create_managed_ivfpq(
        emb.filter(F.col("vec_id") % APPEND_MOD != 0), root, nlist=IVF_NLIST
    )
    index = rebuild_ivfpq_index(index, emb)
    removed = vacuum_index_generations(spark, root, retain_last=1)
    if removed != [0]:
        raise RuntimeError(
            "vacuum retention violated: expected exactly [0] "
            f"reclaimed, got {removed}"
        )
    try:
        open_managed_ivfpq(spark, root, version=0)
    except IndexRetentionError:
        pass
    else:
        raise RuntimeError(
            "as-of open below the vacuum horizon did NOT raise "
            "IndexRetentionError — retention semantics violated"
        )
    handle = open_managed_ivfpq(spark, root)
    if handle["version"] != 1:
        raise RuntimeError(
            f"vacuum moved the newest version: v{handle['version']}"
        )
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS))
    return ann_probe_ivfpq(handle, queries, TOP_K, nprobe=IVF_NPROBE)


def ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC proper (operators/similarity.py ann_topk_ivfpq_residual):
    PQ codes quantize residuals x − centroid(cell(x)) — the form FAISS's
    IndexIVFPQ actually ships, and the standard accuracy upgrade over
    raw-vector PQ at identical code size. The oracle recomputes the
    residual codewords, residual encodes, and per-(query, cell) ADC
    tables symbolically with subtraction-first arithmetic."""
    from hdfs_mapreduce_spark.operators.similarity import (
        ann_topk_ivfpq_residual,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_ivfpq_residual(
        emb, QUERY_IDS, TOP_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE
    )


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-PQ search against the brute-force ground
    truth, per query — the quantified answer to "what does the 16-cell
    coarse quantizer + 8×16 PQ codebook cost in accuracy". Both sides
    are deterministic (seeded model, exact float64 folds), so unlike the
    boolean-invariant audits (ann_pca_audit) the recall NUMBERS carry a
    full hash oracle: DuckDB recomputes the approximate and exact top-k
    symbolically and joins them the same way. Scale: the brute-force
    side is the guarded recall baseline (operators/guards.py) — at
    production scale this runs on a sampled query set, which is exactly
    how FAISS users measure recall."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivfpq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    approx = ann_topk_ivfpq(
        emb, QUERY_IDS, TOP_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE
    ).select("query_id", "neighbor_id")
    exact = ann_topk_bruteforce(
        emb, QUERY_IDS, TOP_K, max_pairs=ANN_BRUTE_MAX_PAIRS
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("h", F.lit(0)).cast("long").alias("hits"),
            F.lit(TOP_K).cast("long").alias("top_k"),
            (F.coalesce("h", F.lit(0)) / F.lit(TOP_K)).alias("recall"),
        )
        .orderBy("query_id")
    )


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, PAIR_THRESHOLD, max_rows=EXACT_PAIRS_MAX_ROWS)


def _crosscheck_report(epairs: DataFrame, tpairs: DataFrame) -> DataFrame:
    """Pair-keyed full-outer of the embedding pair relation against the
    text pair relation: n_signals=2 rows agree, n_signals=1 rows show
    where one modality fired and the other did not."""
    from pyspark.sql import functions as F

    joined = epairs.join(
        tpairs,
        (F.col("ea") == F.col("doc_a")) & (F.col("eb") == F.col("doc_b")),
        "full_outer",
    )
    return joined.select(
        F.coalesce("ea", "doc_a").alias("id_a"),
        F.coalesce("eb", "doc_b").alias("id_b"),
        "cos_sim",
        "jaccard",
        (
            F.col("cos_sim").isNotNull().cast("int")
            + F.col("jaccard").isNotNull().cast("int")
        ).alias("n_signals"),
    ).orderBy("id_a", "id_b")


def _capped_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate-capped exact text pair relation — the declared
    100 TB shape for every audit that consumes a text near-dup signal
    (the r4 verdict's dedup_lsh_recall fix, applied uniformly)."""
    from hdfs_mapreduce_spark.operators.dedup import ngram_jaccard_pairs
    from hdfs_mapreduce_spark.plans.dedup_plans import (
        NGRAM_MAX_DF,
        NGRAM_THRESHOLD,
    )
    from hdfs_mapreduce_spark.sources.catalog import spread

    docs = spread(load_table(spark, sf_dir, "documents"), spark)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", NGRAM_THRESHOLD, max_df=NGRAM_MAX_DF
    )


def dedup_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal near-dup agreement: full-outer join of the embedding
    cosine pair relation against the exact text n-gram Jaccard pair
    relation on the pair key (the synthetic tables share the 0..N id
    space). The multimodal consistency report a curation pipeline checks
    before trusting a cheap signal to stand in for an expensive one.

    Since r5 the text side is the CAPPED jaccard relation (hot shingles
    excluded, dedup.py ngram_jaccard_pairs max_df) — the same fix the r4
    verdict prescribed for dedup_lsh_recall: an audit must not inherit a
    quadratic exact side it would never run at 100 TB. The embedding side
    stays the exact O(N²) block dgemm — that is the audit's definitional
    baseline; the linear-growth production shape is
    ``dedup_crosscheck_bucketed`` below (sf3 smoke: BENCH_SF3.json)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    epairs = cosine_pairs(
        emb, PAIR_THRESHOLD, max_rows=EXACT_PAIRS_MAX_ROWS
    ).select(
        F.col("vec_a").alias("ea"), F.col("vec_b").alias("eb"), "cos_sim"
    )
    return _crosscheck_report(epairs, _capped_jaccard_pairs(spark, sf_dir))


def dedup_crosscheck_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB crosscheck: embedding pairs come from PQ-code buckets
    (identical 4-bit-code vectors — the dedup_pq_buckets relation turned
    into pairs) instead of the all-pairs dgemm, then exact-fold cosine
    verifies each candidate; the text side is the capped jaccard
    relation. Every stage is map-only or bucket-keyed: PQ encode is one
    map pass, the bucket self-join touches only code-identical vectors
    (bucket count 16^PQ_M grows with the codebook, the anti-quadratic
    knob), and the verify join fetches vectors for candidates only. The
    exact twin ``dedup_crosscheck`` is the recall baseline this relation
    is audited against."""
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.similarity import cosine_fast

    emb = load_table(spark, sf_dir, "embeddings")
    keys = _pq_keys(emb)
    a, b = keys.alias("a"), keys.alias("b")
    cand = a.join(
        b,
        (F.col("a.pq_key") == F.col("b.pq_key"))
        & (F.col("a.vid") < F.col("b.vid")),
    ).select(F.col("a.vid").alias("ea"), F.col("b.vid").alias("eb"))
    va = emb.select(F.col("vec_id").alias("ea"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("eb"), F.col("embedding").alias("vb"))
    epairs = (
        cand.join(va, "ea")
        .join(vb, "eb")
        .select(
            "ea",
            "eb",
            # nondeterministic: the threshold filter below otherwise gets
            # pushed beneath this projection AND kept above it, planning
            # the cosine kernel twice over every candidate pair (two
            # stacked ArrowEvalPython — guide §4.4). Pure kernel; results
            # unchanged, only the duplicating rewrite is forbidden.
            F.round(
                cosine_fast(F.col("va"), F.col("vb"), nondeterministic=True),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= PAIR_THRESHOLD)
    )
    return _crosscheck_report(epairs, _capped_jaccard_pairs(spark, sf_dir))


PCA_K = 8


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle population covariance of the embedding column
    (operators/embedding_stats.py covariance_long): ONE mapInPandas pass
    of BLAS partials (XᵀX, Σx, n per task) reduced by a 2,080-row
    groupBy-sum — the shuffle is O(dim²) per task regardless of corpus
    size. The whitening/PCA input every embedding pipeline computes."""
    from hdfs_mapreduce_spark.operators.embedding_stats import (
        covariance_long,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_long(emb, EMB_DIM)


def embedding_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit certified by its mathematical invariants: top-k
    eigendecomposition of the distributed covariance, audited as one row
    (dim, k, total_var, eigs_descending, orthonormal, trace_matches,
    proj_var_matches). total_var enters the hash as data (trace of the
    6dp-rounded covariance — the oracle recomputes it from the raw
    table); the booleans certify, against REAL distributed computation,
    that eigenvalues come out descending, components are orthonormal,
    eigenvalue sum equals the trace, and the variance of each projected
    coordinate (a second corpus pass through pca_project) equals its
    eigenvalue. Engine-specific eigenvector signs/values never enter the
    hash — the same audit-oracle pattern as stream_heavy_hitters_audit."""
    import numpy as np

    from hdfs_mapreduce_spark.operators.embedding_stats import (
        _covariance_matrix,
        _eig_from_cov,
        pca_project,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cov = _covariance_matrix(emb, EMB_DIM)
    comps, vals = _eig_from_cov(cov, PCA_K)
    eigs_descending = bool(np.all(np.diff(vals) <= 1e-12))
    orthonormal = bool(
        np.max(np.abs(comps @ comps.T - np.eye(PCA_K))) < 1e-9
    )
    trace_matches = bool(abs(vals.sum() - np.trace(cov)) < 1e-6)
    stats = (
        pca_project(emb, comps)
        .select(F.posexplode("proj").alias("c", "p"))
        .groupBy("c")
        .agg(F.avg("p").alias("m"), F.avg(F.col("p") * F.col("p")).alias("m2"))
        .collect()
    )
    proj_var = {r["c"]: r["m2"] - r["m"] * r["m"] for r in stats}
    proj_var_matches = bool(
        len(proj_var) == PCA_K
        and all(abs(proj_var[c] - vals[c]) < 1e-3 for c in range(PCA_K))
    )
    return spark.createDataFrame(
        [
            (
                EMB_DIM,
                PCA_K,
                round(float(np.trace(cov)), 4),
                eigs_descending,
                orthonormal,
                trace_matches,
                proj_var_matches,
            )
        ],
        "dim int, k int, total_var double, eigs_descending boolean, "
        "orthonormal boolean, trace_matches boolean, "
        "proj_var_matches boolean",
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per (label, dim).

    posexplode → partial-agg SUM/COUNT keyed on (label, dim) → final avg:
    the shuffle carries only (label × 64 dims) partial sums, never vectors,
    so at 100 TB this is a map-side-combined scan — the standard "class
    prototype" computation for nearest-centroid classification and IVF
    coarse-quantizer seeding. All-double accumulation on both faces."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("centroid"))
        .orderBy("label", "dim")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization audit: scale = max|x|, codes
    q_i = floor(x_i/scale*127 + 0.5). Returns the scale plus integer
    invariants of the code vector (sum of codes, saturated count) — the
    compression accounting an embedding store runs before switching ANN
    serving to int8. Map-only array expressions, zero shuffle; both faces
    compute double-precision in the same operation order, and the emitted
    checks are integers, so oracle parity is exact (scale is a single
    float→double cast, also exact)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))
    )
    base = emb.select("vec_id", "embedding", scale.alias("scale"))
    qv = F.transform(
        F.col("embedding"),
        lambda v: F.floor(
            v.cast("double") / F.col("scale") * F.lit(127.0) + F.lit(0.5)
        ),
    )
    coded = base.select("vec_id", "scale", qv.alias("qv"))
    return coded.select(
        "vec_id",
        "scale",
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("q_sum"),
        F.size(F.filter("qv", lambda v: F.abs(v) == 127)).alias("n_sat"),
    ).orderBy("vec_id")


def dataset_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse selection (operators/similarity.py:mmr_select):
    greedy lam*rel − (1−lam)*max-sim-to-selected top-k against query
    vec 0 — the dedup-aware sampling stage. Oracle = the identical
    greedy trajectory unrolled as k chained CTEs (exact folds, exact
    0.75/0.25 literals, id tie-break)."""
    from hdfs_mapreduce_spark.operators.similarity import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_select(emb)


QUERIES = {
    "ann_bruteforce": ann_bruteforce,
    "dataset_mmr": dataset_mmr,
    "ann_filtered": ann_filtered,
    "embedding_centroids": embedding_centroids,
    "embedding_covariance": embedding_covariance,
    "embedding_pca_audit": embedding_pca_audit,
    "ann_pca_audit": ann_pca_audit,
    "embedding_quantize": embedding_quantize,
    "ann_lsh": ann_lsh,
    "ann_ivf": ann_ivf,
    "embedding_pq_codes": embedding_pq_codes,
    "ann_pq": ann_pq,
    "ann_ivfpq": ann_ivfpq,
    "ann_probe_persisted": ann_probe_persisted,
    "ann_probe_appended": ann_probe_appended,
    "ann_probe_deleted": ann_probe_deleted,
    "ann_probe_rebuilt": ann_probe_rebuilt,
    "ann_probe_vacuumed": ann_probe_vacuumed,
    "ann_ivfpq_recall": ann_ivfpq_recall,
    "ann_ivfpq_residual": ann_ivfpq_residual,
    "dedup_pq_buckets": dedup_pq_buckets,
    "text_hash_embeddings": text_hash_embeddings,
    "text_hash_ann": text_hash_ann,
    "dedup_embedding_pairs": dedup_embedding_pairs,
    "dedup_crosscheck": dedup_crosscheck,
    "dedup_crosscheck_bucketed": dedup_crosscheck_bucketed,
    "dedup_semantic": dedup_semantic,
    "embedding_kmeans": embedding_kmeans,
    "embedding_kmeans_fit": embedding_kmeans_fit,
}

# Squared L2 with the same sequential fold as Spark's aggregate(zip_with).
_SQDIST = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
    "(acc, v) -> acc + v)"
)

_IDS = ", ".join(str(i) for i in QUERY_IDS)


def _pq_ctes(model_rel: str = "embeddings", corpus_rel: str = "embeddings") -> str:
    """Shared PQ CTEs: codeword sources by Knuth-scramble ORDER BY (the
    IVF centroid rule), codeword (s, j) = source j's s-th subvector
    slice, and the per-(vector, subspace) argmin encode with the same
    (dist, j) tie order as the kernel's first-min argmin.
    ``model_rel`` is the relation the MODEL fits from — the full corpus
    by default; the appended-index oracle passes the day-1 subset while
    codes still encode every vector (the frozen-model contract).
    ``corpus_rel`` is the relation that gets ENCODED — the rebuilt-index
    oracle passes the live (post-delete) corpus for both."""
    from hdfs_mapreduce_spark.operators.similarity import PQ_KSUB, PQ_M

    dsub = EMB_DIM // PQ_M
    a = f"list_slice(e.embedding, c.s * {dsub} + 1, (c.s + 1) * {dsub})"
    return f"""src AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                   ) - 1 AS j,
                   v
            FROM (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM {model_rel}
                ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                LIMIT {PQ_KSUB}
            )
        ),
        cw AS (
            SELECT sub.s, src.j,
                   list_slice(src.v, sub.s * {dsub} + 1,
                              (sub.s + 1) * {dsub}) AS cvec
            FROM src,
                 (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s) sub
        ),
        codes AS (
            SELECT vid, s, j AS code, dist AS sq_err FROM (
                SELECT e.vec_id AS vid, c.s, c.j,
                       {_SQDIST.format(a=a, b="c.cvec")} AS dist,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id, c.s
                           ORDER BY {_SQDIST.format(a=a, b="c.cvec")}, c.j
                       ) AS rn
                FROM {corpus_rel} e, cw c)
            WHERE rn = 1
        )"""


def _pq_codes_sql() -> str:
    return f"""
        WITH {_pq_ctes()}
        SELECT vid, s, code, sq_err FROM codes ORDER BY vid, s
    """


def _ann_pq_sql() -> str:
    from hdfs_mapreduce_spark.operators.similarity import PQ_M

    dsub = EMB_DIM // PQ_M
    qslice = f"list_slice(q.embedding, c.s * {dsub} + 1, (c.s + 1) * {dsub})"
    return f"""
        WITH {_pq_ctes()},
        luts AS (
            SELECT q.vec_id AS query_id, c.s, c.j,
                   {_SQDIST.format(a=qslice, b="c.cvec")} AS d
            FROM embeddings q, cw c WHERE q.vec_id IN ({_IDS})
        ),
        adist AS (
            SELECT l.query_id, co.vid AS neighbor_id,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(l.d ORDER BY l.s)),
                       (acc, v) -> acc + v) AS approx_dist
            FROM codes co JOIN luts l ON l.s = co.s AND l.j = co.code
            WHERE co.vid <> l.query_id
            GROUP BY l.query_id, co.vid
        )
        SELECT query_id, neighbor_id, rank, approx_dist FROM (
            SELECT query_id, neighbor_id, approx_dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, neighbor_id
                   ) AS rank
            FROM adist)
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def _kmeans_fit_sql(k: int = KMEANS_K, iters: int = KMEANS_FIT_ITERS) -> str:
    """Unrolled Lloyd's loop: the oracle twin of embedding_kmeans_fit.
    c0 = k lowest-id seeds; each round is an argmin assignment CTE (same
    (dist, cid) tie order as Spark's array_min over structs) followed by
    a per-(cluster, dim) AVG repacked into a list; the final assignment
    against c{iters} is summarized per cluster."""

    def assign(name: str, cents: str) -> str:
        return f"""{name} AS (
            SELECT vid, cid AS cluster, dist, emb FROM (
                SELECT vid, cid, dist, emb,
                       ROW_NUMBER() OVER (PARTITION BY vid
                                          ORDER BY dist, cid) AS rn
                FROM (
                    SELECT e.vec_id AS vid, c.cid,
                           {_SQDIST.format(a='e.embedding', b='c.cvec')} AS dist,
                           e.embedding AS emb
                    FROM embeddings e, {cents} c))
            WHERE rn = 1
        )"""

    def update(name: str, assigned: str) -> str:
        return f"""{name} AS (
            SELECT cluster AS cid, list(av ORDER BY dim) AS cvec FROM (
                SELECT cluster, dim, AVG(v) AS av FROM (
                    SELECT cluster, generate_subscripts(emb, 1) AS dim,
                           CAST(unnest(emb) AS DOUBLE) AS v
                    FROM {assigned})
                GROUP BY cluster, dim)
            GROUP BY cluster
        )"""

    ctes = [
        f"""c0 AS (
            SELECT vec_id AS cid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
            FROM embeddings ORDER BY vec_id LIMIT {k}
        )"""
    ]
    for i in range(1, iters + 1):
        ctes.append(assign(f"a{i}", f"c{i - 1}"))
        ctes.append(update(f"c{i}", f"a{i}"))
    ctes.append(assign("fin", f"c{iters}"))
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined}
        SELECT cluster, COUNT(*) AS n_members, MIN(vid) AS first_member,
               SUM(dist) AS wcss
        FROM fin GROUP BY cluster ORDER BY cluster
    """

# Shared text-shingle fragments (same constants as the text-side pair
# oracle, so the crosscheck joins exactly the relations the text queries
# verify).
from hdfs_mapreduce_spark.plans.dedup_plans import (  # noqa: E402
    NGRAM_MAX_DF as _NGRAM_MAX_DF,
    NGRAM_THRESHOLD as _NGRAM_THRESHOLD,
    _SH,
    _TOKS,
)

# Capped-jaccard pair CTEs (dedup_ngram_jaccard_capped's relation, the
# declared 100 TB text side of both crosscheck variants): hot shingles
# (df > cap) excluded from the inverted index AND the per-doc sizes.
_TPAIRS_CAPPED_CTES = f"""
        sets AS (
            SELECT doc_id AS doc, {_SH} AS sh
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
            WHERE len(toks) >= 1
        ),
        inv0 AS (SELECT doc, unnest(sh) AS h FROM sets),
        hot AS (SELECT h FROM inv0 GROUP BY h
                HAVING COUNT(*) > {_NGRAM_MAX_DF}),
        inv AS (SELECT doc, h FROM inv0 ANTI JOIN hot USING (h)),
        sizes AS (SELECT doc, COUNT(*) AS sz FROM inv GROUP BY doc),
        shared AS (
            SELECT l.doc AS doc_a, r.doc AS doc_b, COUNT(*) AS shared
            FROM inv l JOIN inv r ON l.h = r.h AND l.doc < r.doc
            GROUP BY 1, 2
        ),
        tpairs AS (
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT s.doc_a, s.doc_b,
                       CAST(s.shared AS DOUBLE) / (sa.sz + sb.sz - s.shared)
                           AS jaccard
                FROM shared s
                JOIN sizes sa ON sa.doc = s.doc_a
                JOIN sizes sb ON sb.doc = s.doc_b
            ) WHERE jaccard >= {_NGRAM_THRESHOLD}
        )"""

_CROSSCHECK_SELECT = """
        SELECT COALESCE(ea, doc_a) AS id_a, COALESCE(eb, doc_b) AS id_b,
               cos_sim, jaccard,
               (CASE WHEN cos_sim IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN jaccard IS NOT NULL THEN 1 ELSE 0 END) AS n_signals
        FROM epairs
        FULL OUTER JOIN tpairs ON ea = doc_a AND eb = doc_b
        ORDER BY id_a, id_b"""

def _ann_brute_sql() -> str:
    """Exact top-k cosine over the full corpus — the recall ground truth
    and the ann_bruteforce oracle (one definition serves both)."""
    return f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
            WHERE vec_id IN ({_IDS})
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_cos('q.qvec', 'e.embedding')} AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def _ivfpq_recall_sql() -> str:
    """Per-query recall@k of the IVF-PQ search against brute force —
    BOTH sides are deterministic CTE chains, so the recall numbers
    themselves hash-match (stronger than the boolean-invariant audits)."""
    return f"""
        WITH approx AS ({_ann_ivfpq_sql()}),
        exact AS ({_ann_brute_sql()})
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
               CAST({TOP_K} AS BIGINT) AS top_k,
               COUNT(a.neighbor_id) / {TOP_K} AS recall
        FROM exact e
        LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """


def _ann_ivfpq_residual_sql() -> str:
    """IVFADC-proper oracle: codewords are the model sample's RESIDUALS
    w.r.t. their own cells, encode argmins run on each vector's residual,
    and the ADC lookup table is per-(query, probed cell). Every residual
    is computed subtraction-first ((x[i] − cvec[i]) − cw[i]) exactly as
    the kernel's elementwise numpy, so doubles are bit-identical."""
    from hdfs_mapreduce_spark.operators.similarity import PQ_KSUB, PQ_M

    dsub = EMB_DIM // PQ_M

    def res_sqdist(x: str, cv: str, cw: str, s: str) -> str:
        diff = (
            f"(CAST({x}[{s} * {dsub} + i] AS DOUBLE)"
            f" - CAST({cv}[{s} * {dsub} + i] AS DOUBLE)) - {cw}[i]"
        )
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {dsub}), "
            f"i -> ({diff}) * ({diff}))), (acc, v) -> acc + v)"
        )

    enc = res_sqdist("e.embedding", "ac.cvec", "c.cvec", "c.s")
    lut = res_sqdist("q.embedding", "ct.cvec", "c.cvec", "c.s")
    return f"""
        WITH cents AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                   ) - 1 AS cell,
                   cvec
            FROM (
                SELECT vec_id, embedding AS cvec FROM embeddings
                ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                LIMIT {IVF_NLIST}
            )
        ),
        src AS (
            -- codeword sources: the ksub scramble rows AFTER the nlist
            -- centroid rows (a centroid's own residual is ~zero; shared
            -- slices would degenerate the codebook)
            SELECT rn - {IVF_NLIST} AS j, vec_id, v FROM (
                SELECT ROW_NUMBER() OVER (
                           ORDER BY (vec_id * 2654435761) % 4294967296,
                                    vec_id
                       ) - 1 AS rn,
                       vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM (
                    SELECT vec_id, embedding FROM embeddings
                    ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                    LIMIT {IVF_NLIST + PQ_KSUB}
                )
            ) WHERE rn >= {IVF_NLIST}
        ),
        scored_cells AS (
            SELECT e.vec_id, c.cell, c.cvec,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cell
                   ) AS rn
            FROM embeddings e, cents c
        ),
        allcell AS (
            SELECT vec_id AS vid, cell, cvec FROM scored_cells WHERE rn = 1
        ),
        rcw AS (
            SELECT sub.s, src.j,
                   list_transform(generate_series(1, {dsub}),
                       i -> src.v[sub.s * {dsub} + i]
                          - CAST(ac.cvec[sub.s * {dsub} + i] AS DOUBLE)
                   ) AS cvec
            FROM src
            JOIN allcell ac ON ac.vid = src.vec_id,
                 (SELECT unnest(generate_series(0, {PQ_M - 1})) AS s) sub
        ),
        codes AS (
            SELECT vid, s, j AS code FROM (
                SELECT e.vec_id AS vid, c.s, c.j,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id, c.s
                           ORDER BY {enc}, c.j
                       ) AS rn
                FROM embeddings e
                JOIN allcell ac ON ac.vid = e.vec_id, rcw c)
            WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, cell
            FROM scored_cells
            WHERE rn <= {IVF_NPROBE} AND vec_id IN ({_IDS})
        ),
        luts AS (
            SELECT q.vec_id AS query_id, p.cell, c.s, c.j, {lut} AS d
            FROM embeddings q
            JOIN probes p ON p.query_id = q.vec_id
            JOIN cents ct ON ct.cell = p.cell, rcw c
            WHERE q.vec_id IN ({_IDS})
        ),
        adist AS (
            SELECT l.query_id, co.vid AS neighbor_id,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(l.d ORDER BY l.s)),
                       (acc, v) -> acc + v) AS approx_dist
            FROM codes co
            JOIN allcell ce ON ce.vid = co.vid
            JOIN probes p ON p.cell = ce.cell
            JOIN luts l ON l.query_id = p.query_id AND l.cell = ce.cell
                       AND l.s = co.s AND l.j = co.code
            WHERE co.vid <> p.query_id
            GROUP BY l.query_id, co.vid
        )
        SELECT query_id, neighbor_id, rank, approx_dist FROM (
            SELECT query_id, neighbor_id, approx_dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, neighbor_id
                   ) AS rank
            FROM adist)
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def _ann_ivfpq_sql(
    model_rel: str = "embeddings",
    survivor_pred: str | None = None,
    corpus_rel: str = "embeddings",
) -> str:
    """IVF cell CTEs (the ann_ivf oracle's) composed with the PQ code
    CTEs: candidates are the cell equi-join, ranked by the s-ascending
    list_reduce ADC fold. ``model_rel`` scopes the MODEL sample only
    (centroids + codewords); cell assignment, codes, and candidates
    cover ``corpus_rel`` (the whole corpus by default) — with the
    defaults, this is exactly ann_ivfpq's oracle; with a model subset,
    the appended-index one; with BOTH restricted to the live corpus,
    the rebuilt-index one (a rebuild ≡ a fresh fit+encode of current
    data). ``survivor_pred`` (a predicate over ``co.vid``) restricts
    the CANDIDATE set only — model and cell assignment still see every
    vector — which is exactly the tombstone-read-through semantics of
    the deleted-index probe (FAISS remove_ids: the model never refits
    on delete). Query vectors always come from the full table: a
    deleted/day-2 id may still PROBE."""
    from hdfs_mapreduce_spark.operators.similarity import PQ_M

    dsub = EMB_DIM // PQ_M
    qslice = f"list_slice(q.embedding, c.s * {dsub} + 1, (c.s + 1) * {dsub})"
    return f"""
        WITH {_pq_ctes(model_rel, corpus_rel)},
        cents AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                   ) - 1 AS cell,
                   cvec
            FROM (
                SELECT vec_id, embedding AS cvec FROM {model_rel}
                ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                LIMIT {IVF_NLIST}
            )
        ),
        scored_cells AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cell
                   ) AS rn
            FROM {corpus_rel} e, cents c
        ),
        cellof AS (
            SELECT vec_id AS vid, cell FROM scored_cells WHERE rn = 1
        ),
        {'''qcells AS (
            SELECT q.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ''' + _cos("q.embedding", "c.cvec") + ''' DESC, c.cell
                   ) AS rn
            FROM embeddings q, cents c WHERE q.vec_id IN (''' + _IDS + ''')
        ),''' if corpus_rel != "embeddings" else ""}
        probes AS (
            SELECT vec_id AS query_id, cell
            FROM {"qcells" if corpus_rel != "embeddings" else "scored_cells"}
            WHERE rn <= {IVF_NPROBE} AND vec_id IN ({_IDS})
        ),
        luts AS (
            SELECT q.vec_id AS query_id, c.s, c.j,
                   {_SQDIST.format(a=qslice, b="c.cvec")} AS d
            FROM embeddings q, cw c WHERE q.vec_id IN ({_IDS})
        ),
        adist AS (
            SELECT l.query_id, co.vid AS neighbor_id,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(l.d ORDER BY l.s)),
                       (acc, v) -> acc + v) AS approx_dist
            FROM codes co
            JOIN cellof ce ON ce.vid = co.vid
            JOIN probes p ON p.cell = ce.cell
            JOIN luts l ON l.query_id = p.query_id
                       AND l.s = co.s AND l.j = co.code
            WHERE co.vid <> p.query_id
                  {f"AND ({survivor_pred})" if survivor_pred else ""}
            GROUP BY l.query_id, co.vid
        )
        SELECT query_id, neighbor_id, rank, approx_dist FROM (
            SELECT query_id, neighbor_id, approx_dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, neighbor_id
                   ) AS rank
            FROM adist)
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def _hash_embed_ctes() -> str:
    """Shared feature-hashing CTEs: tokenizer (the NB oracle's), integer
    signed cells via the shared h56 hash, and the dense (doc × dim)
    relation with explicit zeros."""
    from hdfs_mapreduce_spark.functions.hashing import h56_sql
    from hdfs_mapreduce_spark.operators.similarity import HASH_EMBED_DIM

    d = HASH_EMBED_DIM
    return f"""tok AS (
            SELECT doc_id AS doc,
                   unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       t -> t <> '')) AS token
            FROM documents
        ),
        cells AS (
            SELECT doc, {h56_sql('token')} % {d} AS idx,
                   SUM(CASE WHEN {h56_sql("'sign:' || token")} % 2 = 0
                            THEN 1 ELSE -1 END) AS val
            FROM tok GROUP BY doc, idx
        ),
        dense AS (
            SELECT d.doc, g.i AS dim,
                   CAST(COALESCE(c.val, 0) AS BIGINT) AS val
            FROM (SELECT DISTINCT doc FROM cells) d
            CROSS JOIN (SELECT unnest(generate_series(0, {d - 1})) AS i) g
            LEFT JOIN cells c ON c.doc = d.doc AND c.idx = g.i
        )"""


def _text_hash_ann_sql() -> str:
    return f"""
        WITH {_hash_embed_ctes()},
        vecs AS (
            SELECT doc, list(CAST(val AS DOUBLE) ORDER BY dim) AS vec
            FROM dense GROUP BY doc
        ),
        cand AS (
            SELECT q.doc AS query_id, n.doc AS neighbor_id,
                   {_cos('q.vec', 'n.vec')} AS cos_sim
            FROM vecs q, vecs n
            WHERE q.doc IN ({_IDS}) AND n.doc <> q.doc
        )
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id
                   ) AS rank
            FROM cand)
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def _mmr_sql() -> str:
    """The greedy MMR trajectory unrolled: pick1 = argmax lam*rel, then
    per round r: score remaining candidates with the max-cosine penalty
    against sel{r-1}, pick the (score desc, id) top-1, extend the
    selected set. Every cosine is the exact-fold ``_cos``; MAX is
    rounding-free; 0.75/0.25 are exact doubles — the whole trajectory
    matches the Spark face bit-for-bit."""
    from hdfs_mapreduce_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_QUERY_ID,
    )

    lam, om, k, qid = MMR_LAMBDA, 1.0 - MMR_LAMBDA, MMR_K, MMR_QUERY_ID
    ctes = [
        f"""q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}
        ),
        base AS MATERIALIZED (
            SELECT e.vec_id, e.embedding,
                   {_cos('e.embedding', 'q.qv')} AS rel
            FROM embeddings e, q WHERE e.vec_id <> {qid}
        ),
        pick1 AS (
            SELECT CAST(1 AS BIGINT) AS rank, vec_id, embedding, rel,
                   {lam} * rel AS mmr_score
            FROM base ORDER BY {lam} * rel DESC, vec_id LIMIT 1
        ),
        sel1 AS MATERIALIZED (SELECT * FROM pick1)"""
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"""sc{r} AS (
            SELECT b.vec_id, b.embedding, b.rel,
                   {lam} * b.rel - {om}
                       * MAX({_cos('b.embedding', 's.embedding')})
                       AS mmr_score
            FROM base b, sel{r - 1} s
            WHERE b.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
            GROUP BY b.vec_id, b.embedding, b.rel
        ),
        pick{r} AS (
            SELECT CAST({r} AS BIGINT) AS rank, vec_id, embedding, rel,
                   mmr_score
            FROM sc{r} ORDER BY mmr_score DESC, vec_id LIMIT 1
        ),
        sel{r} AS MATERIALIZED (
            SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM pick{r}
        )"""
        )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT rank, vec_id, rel, mmr_score FROM sel{k} ORDER BY rank"""
    )


ORACLE_SQL = {
    "dataset_mmr": _mmr_sql(),
    # audit oracle: corpus_rows is recounted from the table; booleans pin
    # the invariant outcome (the stream_heavy_hitters_audit pattern)
    # n_candidates mirrors the Spark side's FRACTIONAL budget: a fixed
    # candidate count shrinks as a corpus fraction when data grows, so
    # the recall claim silently weakens with scale (measured: 0.82 at a
    # 20% fraction regardless of SF, 0.50 once 100 candidates fell to 5%
    # of the corpus) — the audited invariant must be scale-invariant.
    "ann_pca_audit": f"""
        SELECT CAST({len(QUERY_IDS)} AS INT) AS n_queries,
               CAST(COUNT(*) AS BIGINT) AS corpus_rows,
               CAST({PCA_ANN_DIM} AS INT) AS reduced_dim,
               CAST({TOP_K} AS INT) AS top_k,
               CAST(GREATEST({PCA_ANN_CANDIDATES},
                             CEIL({PCA_ANN_FRAC} * COUNT(*))) AS INT)
                   AS n_candidates,
               TRUE AS recall_ge_70pct
        FROM embeddings
    """,
    # population covariance recomputed from the raw table: E[x_i x_j] −
    # E[x_i]E[x_j], 1-based array index shifted to the 0-based relation
    "embedding_covariance": f"""
        WITH m AS (
            SELECT i, AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS mean_i
            FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) t(i)
            GROUP BY i
        ),
        s AS (
            SELECT ti.i AS i, tj.j AS j,
                   AVG(CAST(embedding[CAST(ti.i AS INT)] AS DOUBLE)
                       * CAST(embedding[CAST(tj.j AS INT)] AS DOUBLE)) AS exx
            FROM embeddings,
                 UNNEST(generate_series(1, {EMB_DIM})) ti(i),
                 UNNEST(generate_series(1, {EMB_DIM})) tj(j)
            WHERE ti.i <= tj.j
            GROUP BY 1, 2
        )
        SELECT CAST(s.i - 1 AS INT) AS i, CAST(s.j - 1 AS INT) AS j,
               ROUND(s.exx - mi.mean_i * mj.mean_i, 6) + 0.0 AS cov
        FROM s JOIN m mi ON mi.i = s.i JOIN m mj ON mj.i = s.j
        ORDER BY i, j
    """,
    # PCA invariants: total_var is data (trace of the 6dp-rounded
    # covariance, summed in the same ascending-diagonal order); the
    # booleans pin the invariant outcomes, never engine-specific
    # eigenvector values — the stream_heavy_hitters_audit pattern.
    "embedding_pca_audit": f"""
        WITH v AS (
            SELECT i,
                   ROUND(AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                             * CAST(embedding[CAST(i AS INT)] AS DOUBLE))
                         - AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE))
                           * AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE)),
                         6) AS var_i
            FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) t(i)
            GROUP BY i
        )
        SELECT CAST({EMB_DIM} AS INT) AS dim, CAST(8 AS INT) AS k,
               ROUND(SUM(var_i ORDER BY i), 4) AS total_var,
               TRUE AS eigs_descending, TRUE AS orthonormal,
               TRUE AS trace_matches, TRUE AS proj_var_matches
        FROM v
    """,
    "text_hash_embeddings": f"""
        WITH {_hash_embed_ctes()}
        SELECT doc, dim, val FROM dense ORDER BY doc, dim
    """,
    "text_hash_ann": _text_hash_ann_sql(),
    "embedding_pq_codes": _pq_codes_sql(),
    "ann_pq": _ann_pq_sql(),
    "ann_ivfpq": _ann_ivfpq_sql(),
    # The persisted-index probe is DEFINED to reproduce ann_ivfpq's
    # relation from materialized state — one oracle serves both faces.
    "ann_probe_persisted": _ann_ivfpq_sql(),
    # Appended index: the MODEL fits from the day-1 subset only, codes
    # and candidates cover every vector — the frozen-model contract.
    "ann_probe_appended": _ann_ivfpq_sql(
        model_rel=f"(SELECT * FROM embeddings"
        f" WHERE vec_id % {APPEND_MOD} <> 0)"
    ),
    # Deleted index: full-corpus model and cells, candidates restricted
    # to surviving ids — the tombstone read-through contract.
    "ann_probe_deleted": _ann_ivfpq_sql(
        survivor_pred=f"co.vid % {DELETE_MOD} <> 0"
    ),
    # Rebuilt index: model AND corpus restricted to the live (post-
    # delete) survivors — rebuild ≡ fresh fit+encode of current data;
    # query probe assignment comes from the full table (a deleted id
    # may still probe).
    "ann_probe_rebuilt": _ann_ivfpq_sql(
        model_rel=f"(SELECT * FROM embeddings"
        f" WHERE vec_id % {DELETE_MOD} <> 0)",
        corpus_rel=f"(SELECT * FROM embeddings"
        f" WHERE vec_id % {DELETE_MOD} <> 0)",
    ),
    # Post-vacuum probe: v1 was built on the day-1 subset but v2 — the
    # only generation left — was rebuilt on the FULL corpus, so the
    # probe is exactly the fresh-build relation; vacuum only reclaims
    # dead data (the retention contract itself is enforced by raises
    # inside the query builder).
    "ann_probe_vacuumed": _ann_ivfpq_sql(),
    "ann_ivfpq_recall": _ivfpq_recall_sql(),
    "ann_ivfpq_residual": _ann_ivfpq_residual_sql(),
    "dedup_pq_buckets": f"""
        WITH {_pq_ctes()},
        keys AS (
            SELECT vid,
                   string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS pq_key
            FROM codes GROUP BY vid
        ),
        buckets AS (
            SELECT pq_key, MIN(vid) AS bucket_head,
                   COUNT(*) AS bucket_size
            FROM keys GROUP BY pq_key
        )
        SELECT k.vid, b.bucket_head, b.bucket_size
        FROM keys k JOIN buckets b USING (pq_key)
        ORDER BY k.vid
    """,
    "embedding_kmeans_fit": _kmeans_fit_sql(),
    # SemDeDup: the embedding_kmeans assignment CTEs (deterministic
    # lowest-id seeds, ROW_NUMBER (dist, cid) ties) feed a within-cluster
    # pair join with the exact-fold cosine — symbolically the Spark plan.
    "dedup_semantic": f"""
        WITH seeds AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings
            ORDER BY vec_id LIMIT {KMEANS_K}
        ),
        dists AS (
            SELECT e.vec_id AS vid, e.embedding AS emb, s.cid,
                   {_SQDIST.format(a='e.embedding', b='s.cvec')} AS dist
            FROM embeddings e, seeds s
        ),
        best AS (
            SELECT vid, emb, cid AS cluster,
                   ROW_NUMBER() OVER (PARTITION BY vid
                                      ORDER BY dist, cid) AS rn
            FROM dists
        ),
        assigned AS (SELECT vid, emb, cluster FROM best WHERE rn = 1),
        dup AS (
            SELECT b.vid AS vid, MIN(a.vid) AS dup_of
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vid < b.vid
            WHERE round({_cos('a.emb', 'b.emb')}, 6) >= {PAIR_THRESHOLD}
            GROUP BY b.vid
        )
        SELECT s.vid, s.cluster, u.dup_of, u.dup_of IS NULL AS kept
        FROM assigned s LEFT JOIN dup u ON u.vid = s.vid
        ORDER BY s.vid
    """,
    "embedding_kmeans": f"""
        WITH seeds AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings
            ORDER BY vec_id LIMIT {KMEANS_K}
        ),
        d AS (
            SELECT e.vec_id AS vid, s.cid,
                   {_SQDIST.format(a='e.embedding', b='s.cvec')} AS dist
            FROM embeddings e, seeds s
        ),
        best AS (
            SELECT vid, cid AS cluster, dist,
                   ROW_NUMBER() OVER (PARTITION BY vid
                                      ORDER BY dist, cid) AS rn
            FROM d
        )
        SELECT cluster, COUNT(*) AS n_members, MIN(vid) AS first_member,
               SUM(dist) AS wcss
        FROM best WHERE rn = 1 GROUP BY cluster ORDER BY cluster
    """,
    "embedding_centroids": """
        WITH flat AS (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding) AS v
            FROM embeddings
        )
        SELECT label, dim, AVG(CAST(v AS DOUBLE)) AS centroid
        FROM flat GROUP BY label, dim ORDER BY label, dim
    """,
    "embedding_quantize": """
        WITH s AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                                           v -> abs(CAST(v AS DOUBLE)))) AS scale
            FROM embeddings
        ),
        coded AS (
            SELECT vec_id, scale,
                   list_transform(embedding,
                       v -> CAST(floor(CAST(v AS DOUBLE) / scale * 127.0 + 0.5)
                                 AS BIGINT)) AS qv
            FROM s
        )
        SELECT vec_id, scale,
               list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                           (acc, v) -> acc + v) AS q_sum,
               len(list_filter(qv, v -> abs(v) = 127)) AS n_sat
        FROM coded ORDER BY vec_id
    """,
    "ann_bruteforce": _ann_brute_sql(),
    "dedup_crosscheck": f"""
        WITH {_TPAIRS_CAPPED_CTES},
        epairs AS (
            SELECT vec_a AS ea, vec_b AS eb, cos_sim FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       round({_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            ) WHERE cos_sim >= {PAIR_THRESHOLD}
        )
        {_CROSSCHECK_SELECT}
    """,
    # Bucketed twin: embedding pairs restricted to PQ-code-identical
    # candidates (the dedup_pq_buckets key), each verified with the
    # exact-fold cosine — symbolically identical to the Spark pipeline.
    "dedup_crosscheck_bucketed": f"""
        WITH {_pq_ctes()},
        keys AS (
            SELECT vid,
                   string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS pq_key
            FROM codes GROUP BY vid
        ),
        cand AS (
            SELECT a.vid AS ea, b.vid AS eb
            FROM keys a JOIN keys b
              ON a.pq_key = b.pq_key AND a.vid < b.vid
        ),
        epairs AS (
            SELECT ea, eb, cos_sim FROM (
                SELECT c.ea, c.eb,
                       round({_cos('va.embedding', 'vb.embedding')}, 6)
                           AS cos_sim
                FROM cand c
                JOIN embeddings va ON va.vec_id = c.ea
                JOIN embeddings vb ON vb.vec_id = c.eb
            ) WHERE cos_sim >= {PAIR_THRESHOLD}
        ),
        {_TPAIRS_CAPPED_CTES.lstrip()}
        {_CROSSCHECK_SELECT}
    """,
    "ann_filtered": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
            WHERE vec_id IN ({_IDS})
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_cos('q.qvec', 'e.embedding')} AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id <> q.query_id AND e.label = {ANN_FILTER_LABEL}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    # ann_lsh: symbolic rebuild of the whole pipeline — hyperplanes from the
    # shared h56 hash, signatures as ordered-fold projections, multi-probe
    # via bit_count(xor()) Hamming distance, candidates scored with the
    # exact-fold cosine. Bit-identical to the Spark kernels by construction.
    "ann_lsh": f"""
        WITH planes AS (
            SELECT p, list(w ORDER BY d) AS pvec
            FROM (
                SELECT pp.p, dd.d,
                       CAST(({h56_sql(
                           "'hp:' || CAST(pp.p AS VARCHAR) || ':' "
                           "|| CAST(dd.d AS VARCHAR)"
                       )} % 2001) - 1000 AS DOUBLE) / 1000.0 AS w
                FROM generate_series(0, {N_PLANES - 1}) pp(p),
                     generate_series(0, {EMB_DIM - 1}) dd(d)
            ) GROUP BY p
        ),
        sigs AS (
            SELECT e.vec_id,
                   CAST(SUM(CASE WHEN {_DOT.format(a='e.embedding',
                                                   b='pl.pvec')} > 0
                                 THEN (CAST(1 AS BIGINT) << pl.p)
                                 ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
            FROM embeddings e, planes pl
            GROUP BY e.vec_id
        ),
        q AS (
            SELECT e.vec_id AS query_id, e.embedding AS qvec, s.sig AS qsig
            FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id
            WHERE e.vec_id IN ({_IDS})
        ),
        c AS (
            SELECT e.vec_id AS neighbor_id, e.embedding AS nvec, s.sig AS nsig
            FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id
        ),
        cand AS (
            SELECT q.query_id, c.neighbor_id,
                   {_cos('q.qvec', 'c.nvec')} AS cos_sim
            FROM c, q
            WHERE bit_count(xor(c.nsig, q.qsig)) <= {LSH_PROBES}
              AND c.neighbor_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM cand
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    # ann_ivf: centroid selection is the Knuth-scramble ORDER BY, cell
    # assignment/probe ranking are ROW_NUMBER over the exact-fold cosine
    # (cos DESC, cell ASC ties == the kernel's first-argmax / stable sort).
    "ann_ivf": f"""
        WITH cents AS (
            SELECT ROW_NUMBER() OVER (
                       ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                   ) - 1 AS cell,
                   cvec
            FROM (
                SELECT vec_id, embedding AS cvec FROM embeddings
                ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                LIMIT {IVF_NLIST}
            )
        ),
        scored_cells AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cell
                   ) AS rn
            FROM embeddings e, cents c
        ),
        corpus AS (
            SELECT vec_id AS neighbor_id, embedding AS nvec, cell
            FROM scored_cells WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS qvec, cell
            FROM scored_cells
            WHERE rn <= {IVF_NPROBE} AND vec_id IN ({_IDS})
        ),
        cand AS (
            SELECT p.query_id, c.neighbor_id,
                   {_cos('p.qvec', 'c.nvec')} AS cos_sim
            FROM corpus c JOIN probes p USING (cell)
            WHERE c.neighbor_id <> p.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM cand
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    "dedup_embedding_pairs": f"""
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round({_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ) WHERE cos_sim >= {PAIR_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
}
