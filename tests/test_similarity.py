"""Similarity-search behavioral tests: LSH on planted clusters, brute-force
consistency."""

from __future__ import annotations

from hdfs_mapreduce_spark.operators.similarity import (
    ann_topk_bruteforce,
    ann_topk_ivf,
    ann_topk_lsh,
)

DIM = 8


def _clustered(spark):
    """Deterministic corpus: a base direction, 5 tiny perturbations of it,
    and 20 orthogonal-ish distractors. No RNG — perturbations are hash-free
    fixed offsets."""
    rows = []
    base = [1.0] * DIM
    rows.append((0, base))
    for i in range(1, 6):  # near-duplicates of vec 0
        rows.append((i, [1.0 + 0.01 * ((i + d) % 3) for d in range(DIM)]))
    for i in range(6, 26):  # distractors pointing elsewhere
        v = [0.0] * DIM
        v[i % DIM] = 1.0
        v[(i + 3) % DIM] = -1.0
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bruteforce_ranks_cluster_first(spark):
    emb = _clustered(spark)
    out = ann_topk_bruteforce(emb, [0], k=5, id_col="vec_id").collect()
    # the 5 perturbed copies of vec 0 outrank every distractor (order within
    # the cluster depends on the mod-3 perturbation pattern, so set-compare)
    assert {r["neighbor_id"] for r in out} == {1, 2, 3, 4, 5}
    assert all(r["cos_sim"] > 0.99 for r in out)


def test_lsh_recall_on_cluster(spark):
    """Near-identical vectors share hyperplane signs, so multi-probe LSH must
    recover the full cluster — recall 1.0 on this fixture."""
    emb = _clustered(spark)
    brute = {
        r["neighbor_id"]
        for r in ann_topk_bruteforce(emb, [0], k=5, id_col="vec_id").collect()
    }
    lsh = {
        r["neighbor_id"]
        for r in ann_topk_lsh(emb, [0], k=5, dim=DIM, probes=2).collect()
    }
    assert brute <= lsh | brute  # sanity
    assert len(brute & lsh) == len(brute), f"LSH missed {brute - lsh}"


def test_ivf_recall_on_cluster(spark):
    """Near-identical vectors land in the same IVF cell (argmax cosine over
    shared centroids), so probing recovers the full cluster."""
    emb = _clustered(spark)
    brute = {
        r["neighbor_id"]
        for r in ann_topk_bruteforce(emb, [0], k=5, id_col="vec_id").collect()
    }
    ivf = {
        r["neighbor_id"]
        for r in ann_topk_ivf(emb, [0], k=5, nlist=4, nprobe=2).collect()
    }
    assert len(brute & ivf) == len(brute), f"IVF missed {brute - ivf}"


def test_ivf_is_subset_ranked_consistently(spark):
    """IVF candidates are a corpus subset; every returned cos_sim must equal
    the brute-force value for that pair, and recall@10 must clear 0.5 with
    nprobe=8 of nlist=16 (deterministic fixture, deterministic centroids;
    uniform-random embeddings are ANN's worst case — no cluster structure —
    so expected recall is only ~nprobe/nlist)."""
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    brute_rows = ann_topk_bruteforce(emb, [0, 1], k=500).collect()
    brute = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute_rows}
    top10 = {
        q: {r["neighbor_id"] for r in brute_rows if r["query_id"] == q and r["rank"] <= 10}
        for q in (0, 1)
    }
    got: dict[int, set] = {0: set(), 1: set()}
    for r in ann_topk_ivf(emb, [0, 1], k=10, nprobe=8).collect():
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute
        assert abs(brute[key] - r["cos_sim"]) < 1e-12
        got[r["query_id"]].add(r["neighbor_id"])
    for q in (0, 1):
        recall = len(got[q] & top10[q]) / len(top10[q])
        assert recall >= 0.5, f"IVF recall@10 for query {q} = {recall}"


def test_lsh_is_subset_ranked_consistently(spark):
    """On real (random) embeddings LSH returns a candidate subset; every
    returned cos_sim must equal the brute-force value for that pair."""
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in ann_topk_bruteforce(emb, [0, 1], k=500).collect()
    }
    for r in ann_topk_lsh(emb, [0, 1], k=10).collect():
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute
        assert abs(brute[key] - r["cos_sim"]) < 1e-12


def test_kmeans_assign_planted_clusters(spark):
    """Two well-separated planted blobs with the two seeds (lowest ids) one
    in each blob: every vector must land with its blob's seed, and wcss
    must equal the hand-computed sum of squared distances."""
    from hdfs_mapreduce_spark.operators.similarity import kmeans_assign

    rows = [
        (0, [0.0, 0.0]),   # seed A
        (1, [10.0, 10.0]), # seed B
        (2, [0.1, 0.0]),   # near A
        (3, [0.0, 0.2]),   # near A
        (4, [10.1, 10.0]), # near B
        (5, [9.9, 10.0]),  # near B
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["cluster"]: r for r in kmeans_assign(emb, k=2).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_members"] == 3 and out[0]["first_member"] == 0
    assert out[1]["n_members"] == 3 and out[1]["first_member"] == 1
    # wcss: cluster 0 = 0 + 0.1^2 + 0.2^2 ; cluster 1 = 0 + 0.1^2 + 0.1^2
    # (float32 storage: compare with tolerance)
    assert abs(out[0]["wcss"] - 0.05) < 1e-6
    assert abs(out[1]["wcss"] - 0.02) < 1e-6


def test_semantic_dedup_prunes_within_clusters_only(spark):
    """SemDeDup semantics: two planted blobs; near-parallel vectors inside
    a blob mark the higher id as a duplicate of the lowest such mate,
    while cross-blob pairs are never compared even if similar — and the
    survivors are exactly the lowest-id representative of each
    neighborhood."""
    from hdfs_mapreduce_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),    # seed A, kept
        (1, [0.0, 1.0]),    # seed B, kept
        (2, [2.0, 0.01]),   # blob A, ~parallel to 0 -> dup_of 0
        (3, [0.01, 3.0]),   # blob B, ~parallel to 1 -> dup_of 1
        (4, [-1.0, 0.3]),   # blob B by distance, dissimilar -> kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vid"]: r for r in semantic_dedup(emb, k=2, threshold=0.9).collect()}
    assert len(out) == 5
    assert out[0]["kept"] and out[0]["dup_of"] is None
    assert out[1]["kept"] and out[1]["dup_of"] is None
    assert not out[2]["kept"] and out[2]["dup_of"] == 0
    assert not out[3]["kept"] and out[3]["dup_of"] == 1
    assert out[4]["kept"] and out[4]["dup_of"] is None
    # cluster bucketing: 2 and 0 share a cluster, 3 and 4 sit with 1
    assert out[2]["cluster"] == out[0]["cluster"]
    assert out[3]["cluster"] == out[1]["cluster"] == out[4]["cluster"]


def test_semantic_dedup_empty_corpus(spark):
    from hdfs_mapreduce_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = semantic_dedup(emb, k=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vid", "cluster", "dup_of", "kept",
    ]


def test_kmeans_fit_converges_on_planted_blobs(spark):
    """Three planted blobs, seeds deliberately all inside blob A (the k
    lowest ids): one assignment step cannot separate them, but the Lloyd
    loop must walk the centroids out to the blobs and converge (movement
    == 0 before max_iter). Each blob then maps to exactly one cluster and
    the final assignment is the pure-plan DataFrame."""
    from hdfs_mapreduce_spark.operators.similarity import kmeans_fit

    blobs = {
        "a": [(0, [0.0, 0.0]), (1, [0.2, 0.0]), (2, [0.0, 0.2]),
              (3, [0.2, 0.2])],
        "b": [(10, [50.0, 0.0]), (11, [50.2, 0.0]), (12, [50.0, 0.2])],
        "c": [(20, [0.0, 80.0]), (21, [0.2, 80.0]), (22, [0.0, 80.2])],
    }
    rows = [r for grp in blobs.values() for r in grp]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, assignment, n_iter = kmeans_fit(emb, k=3, max_iter=20, tol=0.0)
    assert n_iter < 20  # converged, didn't just exhaust the budget
    assigned = {r["vid"]: r["cluster"] for r in assignment.collect()}
    assert len(assigned) == len(rows)
    for grp in blobs.values():
        labels = {assigned[vid] for vid, _ in grp}
        assert len(labels) == 1, f"blob split across clusters: {labels}"
    # the three blobs land in three distinct clusters
    assert len({assigned[g[0][0]] for g in blobs.values()}) == 3
    # fitted centroids are the blob means (float32 storage tolerance)
    means = sorted(
        [sum(v[i] for _, v in grp) / len(grp) for i in (0, 1)]
        for grp in blobs.values()
    )
    got = sorted(vec for _, vec in cents)
    for m, g in zip(means, sorted(got)):
        assert all(abs(a - b) < 1e-5 for a, b in zip(m, g))


def test_kmeans_fit_drops_emptied_clusters(spark):
    """Two seeds land on near-identical vectors inside one tight blob: one
    of them must lose all members after the first update and drop out
    (the documented empty-cluster semantics, matching the SQL oracle)."""
    from hdfs_mapreduce_spark.operators.similarity import kmeans_fit

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.1, 0.0]),
            (3, [0.0, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, assignment, _ = kmeans_fit(emb, k=2, max_iter=10, tol=0.0)
    # vec 1 is identical to seed 0's vector: ties go to the lower cid, so
    # cluster 1 empties immediately and the fit ends with one cluster
    assert [cid for cid, _ in cents] == [0]
    assert {r["cluster"] for r in assignment.collect()} == {0}


def test_kmeans_works_with_string_ids(spark):
    """Cluster ids keep the id column's native type: string-keyed vectors
    cluster with the same semantics (lowest id seeds, lexicographic tie
    order) — the r3 Arrow-kernel swap must not narrow the id domain."""
    from hdfs_mapreduce_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    rows = [
        ("a1", [0.0, 0.0]), ("b2", [10.0, 10.0]),
        ("c3", [0.1, 0.0]), ("d4", [10.1, 10.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = {r["cluster"]: r["n_members"] for r in kmeans_assign(emb, k=2).collect()}
    assert out == {"a1": 2, "b2": 2}
    cents, assignment, _ = kmeans_fit(emb, k=2, max_iter=5, tol=0.0)
    assert {cid for cid, _ in cents} == {"a1", "b2"}
    got = {r["vid"]: r["cluster"] for r in assignment.collect()}
    assert got == {"a1": "a1", "c3": "a1", "b2": "b2", "d4": "b2"}


def test_kmeans_fit_summary_local_gate_matches_distributed(spark):
    """The small-input driver-side fit must produce the same summary as
    the distributed rounds (same kernels; only float-summation grouping
    differs, so wcss agrees to ~1e-9 relative)."""
    import pytest

    import hdfs_mapreduce_spark.operators.similarity as S

    emb = _clustered(spark)
    local = {
        r["cluster"]: r
        for r in S.kmeans_fit_summary(emb, 4, max_iter=3).collect()
    }
    orig = S.KMEANS_LOCAL_FIT_MAX_ROWS
    S.KMEANS_LOCAL_FIT_MAX_ROWS = 0  # force the distributed path
    try:
        dist = {
            r["cluster"]: r
            for r in S.kmeans_fit_summary(emb, 4, max_iter=3).collect()
        }
    finally:
        S.KMEANS_LOCAL_FIT_MAX_ROWS = orig
    assert set(local) == set(dist)
    for cid, lr in local.items():
        dr = dist[cid]
        assert lr["n_members"] == dr["n_members"]
        assert lr["first_member"] == dr["first_member"]
        assert lr["wcss"] == pytest.approx(dr["wcss"], rel=1e-9)


def test_pq_encode_shape_and_determinism(spark):
    """Every (vector, subspace) pair appears once, codes are in
    [0, PQ_KSUB), errors are non-negative, and the codeword SOURCE
    vectors reconstruct themselves in their own subspaces with zero
    error (a source's best codeword in subspace s is its own slice)."""
    from hdfs_mapreduce_spark.operators.similarity import (
        PQ_KSUB,
        PQ_M,
        pq_encode,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    rows = pq_encode(emb).collect()
    assert len(rows) == n * PQ_M
    assert all(0 <= r["code"] < PQ_KSUB for r in rows)
    assert all(r["sq_err"] >= 0.0 for r in rows)
    # Knuth-scramble source set: lowest scrambled ids
    src_ids = [
        r["vec_id"]
        for r in emb.selectExpr(
            "vec_id", "(vec_id * 2654435761) % 4294967296 AS h"
        )
        .orderBy("h", "vec_id")
        .limit(PQ_KSUB)
        .collect()
    ]
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["vid"], []).append(r["sq_err"])
    for sid in src_ids:
        assert all(e == 0.0 for e in by_vid[sid]), f"source {sid} err != 0"


def test_ann_pq_recall_and_consistency(spark):
    """ADC distances must reproduce the exact fold: re-deriving a
    candidate's approx distance from the encode relation's per-subspace
    codes and the query LUT matches bit-for-bit; recall@10 vs brute
    force clears 0.3 on unclustered random embeddings (PQ with 16
    codewords × 8 subspaces; random data is the worst case)."""
    import numpy as np

    from hdfs_mapreduce_spark.operators.similarity import (
        _fold_sq_l2,
        _model_sample,
        _pq_codebook,
        PQ_KSUB,
        PQ_M,
        ann_topk_pq,
        ann_topk_bruteforce,
        pq_encode,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = ann_topk_pq(emb, [0, 1], k=10).collect()
    codes = {
        (r["vid"], r["s"]): r["code"] for r in pq_encode(emb).collect()
    }
    cbs = _pq_codebook(
        _model_sample(emb, PQ_KSUB, "vec_id", "embedding"), PQ_M
    )
    dsub = cbs.shape[2]
    qvecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.filter("vec_id IN (0, 1)").collect()
    }
    for r in out:
        q = qvecs[r["query_id"]]
        acc = 0.0
        for s in range(PQ_M):
            lut = _fold_sq_l2(q[s * dsub : (s + 1) * dsub], cbs[s])
            acc = acc + float(lut[codes[(r["neighbor_id"], s)]])
        assert acc == r["approx_dist"], (r, acc)
    brute10 = {
        q: {
            r["neighbor_id"]
            for r in ann_topk_bruteforce(emb, [q], k=10).collect()
        }
        for q in (0, 1)
    }
    got = {0: set(), 1: set()}
    for r in out:
        got[r["query_id"]].add(r["neighbor_id"])
    for q in (0, 1):
        recall = len(got[q] & brute10[q]) / 10
        assert recall >= 0.3, f"PQ recall@10 for query {q} = {recall}"


def test_ann_ivfpq_prunes_and_scores_consistently(spark):
    """Every IVF-PQ candidate must (a) lie in one of the query's probed
    cells — i.e. also appear in plain IVF's candidate set for the same
    nlist/nprobe (IVF returns exact cosine over the same pruned set) —
    and (b) carry the identical ADC distance ann_topk_pq computes for
    that pair (same codes, same LUT fold)."""
    from hdfs_mapreduce_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_ivfpq,
        ann_topk_pq,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ivf_cand = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_ivf(emb, [0, 1], k=500, nprobe=4).collect()
    }
    pq_dist = {
        (r["query_id"], r["neighbor_id"]): r["approx_dist"]
        for r in ann_topk_pq(emb, [0, 1], k=500).collect()
    }
    out = ann_topk_ivfpq(emb, [0, 1], k=10, nprobe=4).collect()
    assert out, "IVF-PQ returned nothing"
    for r in out:
        key = (r["query_id"], r["neighbor_id"])
        assert key in ivf_cand, f"{key} outside the probed cells"
        assert pq_dist[key] == r["approx_dist"], key


def test_hash_embeddings_behave_like_embeddings(spark):
    """Hashing-trick vectors: identical texts map to identical vectors
    (cos=1), token-disjoint texts stay near-orthogonal, and a shared-token
    pair lands in between — so downstream ANN over text is meaningful."""
    from hdfs_mapreduce_spark.operators.similarity import (
        ann_topk_bruteforce,
        hash_embed_vectors,
    )

    rows = [
        (0, "the quick brown fox jumps"),
        (1, "the quick brown fox jumps"),       # exact duplicate
        (2, "the quick brown fox leaps high"),  # near-duplicate
        (3, "entirely different words here ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = hash_embed_vectors(docs, "doc_id", "text")
    out = {
        r["neighbor_id"]: r["cos_sim"]
        for r in ann_topk_bruteforce(
            vecs, [0], k=3, id_col="doc", vec_col="vec"
        ).collect()
    }
    assert abs(out[1] - 1.0) < 1e-12  # identical vector (fold rounding)
    assert out[1] > out[2] > out[3]
    # dense + integer: every dim materialized, values exact ints
    from hdfs_mapreduce_spark.operators.similarity import (
        HASH_EMBED_DIM,
        hash_embed_cells,
    )

    cells = hash_embed_cells(docs, "doc_id", "text").collect()
    assert len(cells) == 4 * HASH_EMBED_DIM
    assert all(float(r["val"]).is_integer() for r in cells)


def test_adaptive_k_floor_scaling_and_cap():
    """k = max(8, min(ceil(N/target), model cap)): every oracle fixture
    (N <= 8*1024) resolves to exactly 8 — the pinned plan the DuckDB twin
    unrolls — and beyond that k tracks corpus size so cluster size stays
    ~target instead of ~N/8 (round-5 verdict item 1)."""
    from hdfs_mapreduce_spark.operators.similarity import (
        SEMANTIC_MODEL_CAP,
        _adaptive_k,
    )

    assert _adaptive_k(0) == 8
    assert _adaptive_k(500) == 8        # sf0.01 embeddings
    assert _adaptive_k(2_000) == 8      # sf0.1 embeddings
    assert _adaptive_k(8 * 1024) == 8   # floor boundary
    assert _adaptive_k(8 * 1024 + 1) == 9
    assert _adaptive_k(60_000) == 59    # sf3 fixture
    assert _adaptive_k(10**9) == SEMANTIC_MODEL_CAP
    # raising target at extreme scale lowers k back under the cap
    assert _adaptive_k(10**11, target_cluster_rows=10**6) == SEMANTIC_MODEL_CAP
    assert _adaptive_k(10**11, target_cluster_rows=2 * 10**6) == 50_000


def test_semantic_dedup_adaptive_equals_pinned_k_on_small_corpus(spark):
    """At N=500 the adaptive path must resolve to k=8 with zero splits —
    the exact relation the declared oracle pins."""
    from hdfs_mapreduce_spark.operators.similarity import semantic_dedup
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    adaptive = semantic_dedup(emb, None, 0.4).collect()
    pinned = semantic_dedup(emb, 8, 0.4, max_cluster_rows=None).collect()
    assert adaptive == pinned
    assert len(adaptive) == 500


def test_semantic_dedup_splits_oversized_clusters(spark):
    """Seed collapse (k=1 forces everything into one cluster) must be
    repaired by the recursive size-cap split: final clusters respect the
    cap, labels stay member ids, every row appears exactly once, and
    dup_of still points at a same-cluster lower id."""
    from hdfs_mapreduce_spark.operators.similarity import semantic_dedup

    # 120 vectors on a 2-d grid — all distinct directions, no near-dups
    # at threshold 0.999 except planted pairs 100/101 (parallel vectors)
    rows = [(i, [1.0 + (i % 12), 1.0 + (i // 12) * 7.0]) for i in range(100)]
    rows += [(100, [50.0, 1.0]), (101, [100.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(
        emb,
        k=1,
        threshold=0.9999,
        target_cluster_rows=10,
        max_cluster_rows=25,
    ).collect()
    assert sorted(r["vid"] for r in out) == list(range(102))
    sizes: dict = {}
    cluster_of = {}
    for r in out:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
        cluster_of[r["vid"]] = r["cluster"]
    assert max(sizes.values()) <= 25, sizes
    assert len(sizes) > 1
    # labels are member ids of their own cluster
    for label in sizes:
        assert cluster_of[label] == label
    # dedup semantics survive the split: dup_of is a same-cluster lower id
    for r in out:
        if r["dup_of"] is not None:
            assert r["dup_of"] < r["vid"]
            assert cluster_of[r["dup_of"]] == r["cluster"]


def test_mmr_select_trajectory_invariants(spark):
    """Greedy MMR: k distinct picks ranked 1..k; pick 1 is the pure-
    relevance argmax; every later pick's stored score equals
    lam*rel - (1-lam)*max-cos against the PRIOR picks (recomputed
    driver-side with the same exact fold)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_QUERY_ID,
        mmr_select,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    from tests.conftest import SF_CORRECTNESS

    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    out = mmr_select(emb).collect()
    assert [r["rank"] for r in out] == list(range(1, MMR_K + 1))
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == MMR_K
    assert MMR_QUERY_ID not in ids

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def cos(a, b):
        dot = na = nb = 0.0
        for i in range(len(a)):  # sequential fold, like the kernels
            dot += a[i] * b[i]
            na += a[i] * a[i]
            nb += b[i] * b[i]
        return dot / (math.sqrt(na) * math.sqrt(nb))

    q = vecs[MMR_QUERY_ID]
    # pick 1 = argmax rel (tie-break id)
    best = max(
        ((cos(v, q), -i) for i, v in vecs.items() if i != MMR_QUERY_ID),
    )
    assert -best[1] == ids[0]
    for r in out:
        rel = cos(vecs[r["vec_id"]], q)
        assert rel == r["rel"]
        prior = ids[: r["rank"] - 1]
        if prior:
            pen = max(cos(vecs[r["vec_id"]], vecs[p]) for p in prior)
            expect = MMR_LAMBDA * rel - (1.0 - MMR_LAMBDA) * pen
        else:
            expect = MMR_LAMBDA * rel
        assert abs(expect - r["mmr_score"]) < 1e-12


def test_mmr_select_missing_query_is_empty(spark):
    from hdfs_mapreduce_spark.operators.similarity import mmr_select
    from hdfs_mapreduce_spark.sources.catalog import load_table

    from tests.conftest import SF_CORRECTNESS

    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    assert mmr_select(emb, query_id=-999).count() == 0


def test_ivfpq_residual_codebook_not_degenerate(spark):
    """Regression pin for the shared-slice bug: when the codeword sample
    rows coincide with the centroid rows, every residual codeword is
    ~zero and ADC ranking degenerates to the tie order (measured recall
    0.04-0.06). With the disjoint slices the residual kernel must stay
    well above that floor, and a corpus with no rows beyond the
    centroids must refuse to fit."""
    import pytest
    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivfpq_residual,
    )
    from hdfs_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_bruteforce(emb, q, 10).collect()
    }
    res = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_ivfpq_residual(emb, q, 10).collect()
    }
    assert len(res & exact) / len(exact) >= 0.1
    # nlist rows exactly: no disjoint codeword sample can exist
    tiny = emb.orderBy("vec_id").limit(16)
    with pytest.raises(ValueError, match="corpus too small"):
        ann_topk_ivfpq_residual(tiny, [0], 5, nlist=16)
