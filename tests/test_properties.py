"""Property-based tests (hypothesis): the custom join operators must equal a
brute-force reference on arbitrary small inputs — catches boundary/tie cases
fixtures miss (equal times, duplicate keys, empty sides, bucket edges) — and
the vector kernels' exact-fold primitives must equal a plain-Python fold."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

BASE = datetime(2024, 1, 1)
WINDOW_US = 90 * 1_000_000  # 90 s band

row = st.tuples(
    st.integers(min_value=0, max_value=3),    # key
    st.integers(min_value=0, max_value=300),  # seconds offset
)
rows = st.lists(row, min_size=0, max_size=12)


def _ts(sec: int) -> datetime:
    return BASE + timedelta(seconds=sec)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=rows)
def test_band_join_matches_bruteforce(spark, left, right):
    from hdfs_mapreduce_spark.operators.band import band_join

    ldf = spark.createDataFrame(
        [(k, i, _ts(s)) for i, (k, s) in enumerate(left)] or [(None, None, None)],
        "k long, lid long, lt timestamp",
    ).filter("lid is not null")
    rdf = spark.createDataFrame(
        [(k, i, _ts(s)) for i, (k, s) in enumerate(right)] or [(None, None, None)],
        "rk long, rid long, rt timestamp",
    ).filter("rid is not null")
    got = {
        (r["lid"], r["rid"])
        for r in band_join(
            ldf, rdf, "k", "rk", "lt", "rt", lower_us=0, upper_us=WINDOW_US
        ).collect()
    }
    want = {
        (li, ri)
        for li, (lk, ls) in enumerate(left)
        for ri, (rk, rs) in enumerate(right)
        if lk == rk and 0 <= (rs - ls) * 1_000_000 <= WINDOW_US
    }
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=rows, right=rows)
def test_asof_join_matches_bruteforce(spark, left, right):
    from hdfs_mapreduce_spark.operators.asof import as_of_join

    ldf = spark.createDataFrame(
        [(k, i, _ts(s)) for i, (k, s) in enumerate(left)] or [(None, None, None)],
        "k long, lid long, lt timestamp",
    ).filter("lid is not null")
    rdf = spark.createDataFrame(
        [(k, i, _ts(s)) for i, (k, s) in enumerate(right)] or [(None, None, None)],
        "k long, rid long, rt timestamp",
    ).filter("rid is not null")
    out = as_of_join(
        ldf, rdf,
        left_key="k", right_key="k",
        left_time="lt", right_time="rt",
        value_cols=["rid"], right_tiebreak="rid",
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}
    # reference: most recent right row with rt <= lt for the same key;
    # among equal times the HIGHEST tiebreak wins (last in window order)
    want = {}
    for li, (lk, ls) in enumerate(left):
        cands = [
            (rs, ri)
            for ri, (rk, rs) in enumerate(right)
            if rk == lk and rs <= ls
        ]
        want[li] = max(cands)[1] if cands else None
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=rows,
    right=rows,
    tol_s=st.integers(min_value=0, max_value=120),
    forward=st.booleans(),
)
def test_asof_join_tolerance_and_direction_match_bruteforce(
    spark, left, right, tol_s, forward
):
    """Both directions with a staleness bound against the sequential
    model: backward takes the latest right at or before the left time
    within tol, forward the earliest at or after within tol; tie on
    equal times -> highest tiebreak backward, lowest forward."""
    from hdfs_mapreduce_spark.operators.asof import as_of_join

    ldf = spark.createDataFrame(
        [(k, i, _ts(s)) for i, (k, s) in enumerate(left)] or [(None, None, None)],
        "k long, lid long, lt timestamp",
    ).filter("lid is not null")
    rdf = spark.createDataFrame(
        [(k, i, _ts(s)) for i, (k, s) in enumerate(right)] or [(None, None, None)],
        "k long, rid long, rt timestamp",
    ).filter("rid is not null")
    out = as_of_join(
        ldf, rdf,
        left_key="k", right_key="k",
        left_time="lt", right_time="rt",
        value_cols=["rid"], right_tiebreak="rid",
        tolerance_us=tol_s * 1_000_000,
        direction="forward" if forward else "backward",
    )
    got = {r["lid"]: r["rid"] for r in out.collect()}
    want = {}
    for li, (lk, ls) in enumerate(left):
        if forward:
            cands = [
                (rs, ri)
                for ri, (rk, rs) in enumerate(right)
                if rk == lk and ls <= rs <= ls + tol_s
            ]
            want[li] = min(cands)[1] if cands else None
        else:
            cands = [
                (rs, ri)
                for ri, (rk, rs) in enumerate(right)
                if rk == lk and ls - tol_s <= rs <= ls
            ]
            want[li] = max(cands)[1] if cands else None
    assert got == want


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=8
    ),
    st.integers(min_value=2, max_value=6),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=15, deadline=None)
def test_chunk_documents_covers_every_token(spark, texts, size, stride):
    """Every token of every doc appears in at least one chunk, chunk_idx is
    dense from 0, and no chunk exceeds `size` tokens."""
    from hdfs_mapreduce_spark.operators.dedup import chunk_documents

    assume(stride <= size)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = chunk_documents(df, "doc_id", "text", size=size, stride=stride).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc"], []).append(r)
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.lower().split() if t]
        chunks = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_idx"])
        if not toks:
            assert not chunks
            continue
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        seen = []
        for c in chunks:
            ctoks = c["chunk"].split(" ")
            assert len(ctoks) <= size
            start = c["chunk_idx"] * stride
            assert ctoks == toks[start : start + size]
            seen.extend(range(start, start + len(ctoks)))
        assert set(seen) == set(range(len(toks)))


# Tiny alphabet so random corpora actually share k-token windows.
_words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12
)
_corpus = st.lists(_words, min_size=1, max_size=6)
_SPAN_K = 3


def _brute_spans(texts: list[list[str]], k: int):
    """Reference model: duplicated k-window positions, merged to maximal
    spans per doc (count >= 2 corpus-wide, same-doc repeats included)."""
    from collections import Counter

    counts = Counter()
    for toks in texts:
        for p in range(len(toks) - k + 1):
            counts[tuple(toks[p : p + k])] += 1
    out = {}
    for doc, toks in enumerate(texts):
        dup = [
            p
            for p in range(len(toks) - k + 1)
            if counts[tuple(toks[p : p + k])] >= 2
        ]
        spans = []
        for p in dup:
            if spans and p <= spans[-1][1] - k + 1 + k:  # p <= prev_p + k
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + k - 1))
            else:
                spans.append((p, p + k - 1))
        for s, e in spans:
            out[(doc, s)] = e
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus)
def test_duplicate_spans_matches_bruteforce(spark, texts):
    from hdfs_mapreduce_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {
        (r["doc"], r["span_start"]): r["span_end"]
        for r in duplicate_spans(docs, "doc_id", "text", k=_SPAN_K).collect()
    }
    assert got == _brute_spans(texts, _SPAN_K)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus)
def test_span_scrub_matches_bruteforce(spark, texts):
    """Keep-first scrub vs a direct model: a token survives unless some
    duplicated window covers it and no kept (globally-first) one does."""
    import hashlib
    from collections import Counter, defaultdict

    from hdfs_mapreduce_spark.operators.dedup import span_scrub

    k = _SPAN_K
    counts = Counter()
    occs = defaultdict(list)  # window -> [(doc, pos) in global order]
    for doc, toks in enumerate(texts):
        for p in range(len(toks) - k + 1):
            w = tuple(toks[p : p + k])
            counts[w] += 1
            occs[w].append((doc, p))
    covered, kept_cover = set(), set()
    for w, lst in occs.items():
        if counts[w] < 2:
            continue
        for rank, (doc, p) in enumerate(sorted(lst)):
            for i in range(p, p + k):
                covered.add((doc, i))
                if rank == 0:
                    kept_cover.add((doc, i))
    want = {}
    for doc, toks in enumerate(texts):
        kept = [
            t
            for i, t in enumerate(toks)
            if (doc, i) not in covered or (doc, i) in kept_cover
        ]
        n_removed = len(toks) - len(kept)
        want[doc] = (
            n_removed,
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {
        r["doc"]: (r["n_removed"], r["n_kept"], r["scrubbed_hash"])
        for r in span_scrub(docs, "doc_id", "text", k=k).collect()
    }
    assert got == want


# (k1, k2, doc) postings: a two-column key, few docs, so keys repeat a
# (key, doc) row and cross every small document frequency.
_postings = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=4),
    ),
    min_size=0,
    max_size=14,
)
# key (0,0): 3 rows, df 2; key (0,1): df 3; key (1,0): df 2
_BOUNDARY = [(0, 0, 1), (0, 0, 1), (0, 0, 2), (0, 1, 1), (0, 1, 2),
             (0, 1, 3), (1, 0, 1), (1, 0, 2)]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_postings, max_df=st.sampled_from([None, 1, 2, 3]))
@example(rows=[], max_df=2)
@example(rows=_BOUNDARY, max_df=2)
@example(rows=_BOUNDARY, max_df=None)
def test_posting_pairs_matches_bruteforce(spark, rows, max_df):
    """posting_cap keeps a key's rows iff its DISTINCT-doc count is at
    most max_df (df == max_df kept, max_df + 1 dropped, a repeated
    (key, doc) row counted once); posting_pairs then emits every pair of
    kept rows that share the whole key with a.doc < b.doc."""
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from hdfs_mapreduce_spark.operators.dedup import posting_cap, posting_pairs

    docs = defaultdict(set)
    for k1, k2, d in rows:
        docs[(k1, k2)].add(d)
    kept = [
        (i, r)
        for i, r in enumerate(rows)
        if max_df is None or len(docs[r[:2]]) <= max_df
    ]
    want = Counter(
        (ia, ib)
        for ia, a in kept
        for ib, b in kept
        if a[:2] == b[:2] and a[2] < b[2]
    )
    postings = spark.createDataFrame(
        [(k1, k2, d, i) for i, (k1, k2, d) in enumerate(rows)],
        "k1 long, k2 long, doc long, rid long",
    )
    capped = posting_cap(postings, ["k1", "k2"], "doc", max_df)
    assert capped.columns == postings.columns
    assert sorted(r["rid"] for r in capped.collect()) == [i for i, _ in kept]
    pairs = posting_pairs(postings, ["k1", "k2"], "doc", max_df)
    assert len(pairs.columns) == 2 * len(postings.columns)
    got = Counter(
        (r["ra"], r["rb"])
        for r in pairs.select(
            F.col("a.rid").alias("ra"), F.col("b.rid").alias("rb")
        ).collect()
    )
    assert got == want


# Near-duplicate payloads: a few bases (some shorter than the 56 tiles,
# so the fingerprint skips them), each with up to two copies carrying one
# planted 4-byte local edit. At most 18 docs, below PHASH_BAND_MAX (64),
# so the hot-band cap never binds and the banded join must find every
# pair the brute force does.
@st.composite
def _edited_payloads(draw):
    out = []
    for base in draw(st.lists(st.binary(min_size=48, max_size=240), max_size=6)):
        out.append(base)
        for _ in range(draw(st.integers(min_value=0, max_value=2))):
            off = draw(st.integers(min_value=0, max_value=len(base) - 4))
            edit = draw(st.binary(min_size=4, max_size=4))
            out.append(base[:off] + edit + base[off + 4 :])
    return out


# a byte ramp and two copies with 0xff planted at offsets 0 and 100: both
# edits flip 2 fingerprint bits (a pair within PHASH_HAM_MAX that is not
# an exact duplicate)
_RAMP = bytes(i % 251 for i in range(224))
_RAMP_EDITS = [
    _RAMP,
    b"\xff" * 4 + _RAMP[4:],
    _RAMP[:100] + b"\xff" * 4 + _RAMP[104:],
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payloads=_edited_payloads())
@example(payloads=_RAMP_EDITS)
@example(payloads=[])
def test_phash_pairs_matches_bruteforce(spark, payloads):
    """phash_pairs equals the all-pairs relation over the same
    fingerprints: every (id_a < id_b) pair whose perceptual_hash values
    are within PHASH_HAM_MAX bits, with that Hamming distance, once."""
    from hdfs_mapreduce_spark.operators.multimodal import (
        PHASH_BAND_MAX,
        PHASH_HAM_MAX,
        perceptual_hash,
        phash_pairs,
    )

    assert len(payloads) < PHASH_BAND_MAX
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, payload binary",
    )
    hashes = sorted(
        (r["id"], r["phash"]) for r in perceptual_hash(df).collect()
    )
    want = [
        (a, b, bin(ha ^ hb).count("1"))
        for i, (a, ha) in enumerate(hashes)
        for b, hb in hashes[i + 1 :]
        if bin(ha ^ hb).count("1") <= PHASH_HAM_MAX
    ]
    if payloads == _RAMP_EDITS:
        assert (0, 1, 2) in want and (0, 2, 2) in want
    got = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_pairs(df).collect()
    ]
    assert got == want


_iv = st.tuples(
    st.integers(min_value=0, max_value=3),     # key
    st.integers(min_value=0, max_value=400),   # start sec
    st.integers(min_value=0, max_value=200),   # duration sec
)
_ivs = st.lists(_iv, min_size=0, max_size=10)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_ivs, right=_ivs, bucket_sec=st.sampled_from([7, 60, 301]))
def test_interval_join_matches_bruteforce(spark, left, right, bucket_sec):
    """Exactly-once pair emission for arbitrary intervals and bucket widths
    (overlaps spanning many shared buckets, touching endpoints, nested and
    identical intervals, empty sides)."""
    from hdfs_mapreduce_spark.operators.band import interval_join

    ldf = spark.createDataFrame(
        [(k, i, _ts(s), _ts(s + d)) for i, (k, s, d) in enumerate(left)]
        or [(None, None, None, None)],
        "k long, lid long, lst timestamp, len_ timestamp",
    ).filter("lid is not null")
    rdf = spark.createDataFrame(
        [(k, i, _ts(s), _ts(s + d)) for i, (k, s, d) in enumerate(right)]
        or [(None, None, None, None)],
        "rk long, rid long, rst timestamp, ren timestamp",
    ).filter("rid is not null")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_join(
            ldf, rdf, "k", "rk", "lst", "len_", "rst", "ren",
            bucket_us=bucket_sec * 1_000_000,
        ).collect()
    )
    want = sorted(
        (li, ri)
        for li, (lk, lsec, ld) in enumerate(left)
        for ri, (rk, rsec, rd) in enumerate(right)
        if lk == rk and lsec <= rsec + rd and rsec <= lsec + ld
    )
    assert got == want  # sorted WITH duplicates: each pair exactly once


# --- product quantization ---------------------------------------------------
vec8 = st.lists(
    st.floats(
        min_value=-4.0, max_value=4.0, allow_nan=False, allow_infinity=False,
        width=32,
    ),
    min_size=8,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=st.lists(vec8, min_size=4, max_size=10))
def test_pq_encode_picks_the_true_argmin(spark, vecs):
    """For arbitrary small corpora, every emitted (code, sq_err) must be
    the brute-force minimum distance from the vector's subspace slice to
    ANY codeword of that subspace — and ties must go to the lower code
    (the ROW_NUMBER (dist, j) rule the oracle uses)."""
    from hdfs_mapreduce_spark.operators.similarity import (
        _model_sample,
        _pq_codebook,
        pq_encode,
    )

    m_sub, ksub = 2, 3
    dsub = 8 // m_sub
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cbs = _pq_codebook(_model_sample(emb, ksub, "vec_id", "embedding"), m_sub)
    rows = pq_encode(emb, m_sub=m_sub, ksub=ksub).collect()
    assert len(rows) == len(vecs) * m_sub
    # brute-force reference with the same sequential fold
    vec_by_id = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    for r in rows:
        v = vec_by_id[r["vid"]]
        sub = v[r["s"] * dsub : (r["s"] + 1) * dsub]
        dists = []
        for j in range(cbs.shape[1]):
            acc = 0.0
            for d in range(dsub):
                diff = sub[d] - cbs[r["s"], j, d]
                acc += diff * diff
            dists.append(acc)
        best = min(range(len(dists)), key=lambda j: (dists[j], j))
        assert r["code"] == best
        assert r["sq_err"] == dists[best]


def _left_fold(a, b, term):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + term(x, y)
    return acc


def _same_bits(x, y) -> bool:
    import struct

    return struct.pack("<d", float(x)) == struct.pack("<d", float(y))


_coord = st.one_of(
    st.just(0.0),
    st.just(-0.0),
    st.floats(
        min_value=-8.0, max_value=8.0, allow_nan=False, allow_infinity=False,
        width=32,
    ),
)


@st.composite
def _fold_case(draw):
    """(rows, other, cents): n rows and k centroids drawn from a small
    pool of dim-wide vectors (so rows and centroids repeat), plus n
    paired rows."""
    dim = draw(st.integers(min_value=1, max_value=20))
    vec = st.lists(_coord, min_size=dim, max_size=dim)
    pool = draw(st.lists(vec, min_size=1, max_size=4))
    pick = st.sampled_from(pool)
    n = draw(st.integers(min_value=1, max_value=6))
    rows = draw(st.lists(pick, min_size=n, max_size=n))
    other = draw(st.lists(vec, min_size=n, max_size=n))
    cents = draw(st.lists(pick, min_size=1, max_size=5))
    return rows, other, cents


# 1 + fifteen 2**-53 terms: the left fold stays at 1.0, a pairwise or
# BLAS sum does not; the two centroids tie exactly (0.0 vs -0.0)
_FOLD_ORDER = (
    [[1.0] + [2.0**-53] * 15],
    [[1.0] * 16],
    [[0.0] * 16, [-0.0] * 16],
)


@settings(max_examples=60, deadline=None)
@given(case=_fold_case())
@example(case=_FOLD_ORDER)
def test_fold_primitives_match_python_left_fold(case):
    """_fold_dot and _fold_sq_l2 are, bit for bit, the plain left fold
    acc = acc + term over dimensions from 0.0 — row-paired and in the
    (k, n) broadcast shape every centroid kernel uses — and
    _exact_fold_argmin gives an exact distance tie to the first (lowest)
    centroid."""
    import numpy as np

    from hdfs_mapreduce_spark.operators.similarity import (
        _exact_fold_argmin,
        _fold_dot,
        _fold_sq_l2,
    )

    def mul(x, y):
        return x * y

    def sq(x, y):
        return (x - y) * (x - y)

    m, o, c = (np.array(v, dtype=np.float64) for v in case)
    rows, other, cents = case
    for fold, term in ((_fold_dot, mul), (_fold_sq_l2, sq)):
        paired = fold(m, o)
        assert paired.shape == (len(rows),)
        for i, (r, q) in enumerate(zip(rows, other)):
            assert _same_bits(paired[i], _left_fold(r, q, term))
        grid = fold(m[None, :, :], c[:, None, :])
        assert grid.shape == (len(cents), len(rows))
        for j, cv in enumerate(cents):
            for i, r in enumerate(rows):
                assert _same_bits(grid[j, i], _left_fold(r, cv, term))
    best, dists = _exact_fold_argmin(m, c)
    for i, r in enumerate(rows):
        d = [_left_fold(r, cv, sq) for cv in cents]
        assert best[i] == d.index(min(d))
        assert _same_bits(dists[best[i], i], min(d))
