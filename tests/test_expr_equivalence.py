"""The wide generated expressions are built as SQL text (one JVM parse
each) instead of chains of Column calls. The Column-API formulations they
replaced are kept here as the spec: the SQL-text builders must produce the
same rows, bit for bit."""

from __future__ import annotations

import math
import struct
from itertools import chain

import pytest
from pyspark.sql import functions as F

from hdfs_mapreduce_spark.functions.hashing import MERSENNE_31, perm_params
from hdfs_mapreduce_spark.operators import dedup as dd
from hdfs_mapreduce_spark.operators.logreg import (
    LOGREG_DIM,
    _margin,
    _sorted_cells,
    feature_cells,
)
from hdfs_mapreduce_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _spec_banded_sketch(df, id_col, text_col, n_perm, n_bands):
    rows_per_band = n_perm // n_bands
    perms = perm_params(n_perm, seed=42)
    p = F.lit(MERSENNE_31)
    per_doc = dd.shingle_relation(df, id_col, text_col).groupBy("doc").agg(
        F.collect_set("x").alias("sh"),
        *[
            F.min((F.lit(a) * (F.col("x") % p) + F.lit(b)) % p).alias(f"mh{i}")
            for i, (a, b) in enumerate(perms)
        ],
    )
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )
    return per_doc.select(
        "doc", "sh", F.lit(rows_per_band).alias("rpb"), band_keys.alias("bkeys")
    ).select(
        "doc", "sh", "rpb", "bkeys",
        F.posexplode("bkeys").alias("band_idx", "band_key"),
    )


def _spec_earlier_collision(a, b):
    return F.array_contains(
        F.zip_with(
            F.slice(F.col(f"{a}.bkeys"), F.lit(1), F.col(f"{a}.band_idx")),
            F.slice(F.col(f"{b}.bkeys"), F.lit(1), F.col(f"{b}.band_idx")),
            lambda x, y: x == y,
        ),
        F.lit(True),
    )


def _spec_jaccard(a, b):
    return (
        F.size(F.array_intersect(f"{a}.sh", f"{b}.sh"))
        / F.size(F.array_union(f"{a}.sh", f"{b}.sh"))
    ).alias("jaccard")


def _spec_verified_pairs(bands, threshold):
    left, right = bands.alias("l"), bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc") < F.col("r.doc"))
            & ~_spec_earlier_collision("l", "r"),
        )
        .select(
            F.col("l.doc").alias("doc_a"),
            F.col("r.doc").alias("doc_b"),
            _spec_jaccard("l", "r"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _spec_probe_pairs(corpus_sketch, new_bands, threshold):
    nb, cb = new_bands.alias("n"), corpus_sketch.alias("c")
    return (
        cb.join(
            F.broadcast(nb),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_key") == F.col("c.band_key"))
            & ~_spec_earlier_collision("n", "c"),
        )
        .select(
            F.col("n.doc").alias("new_doc"),
            F.col("c.doc").alias("dup_of"),
            _spec_jaccard("n", "c"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _spec_margin(weights, dim):
    wmap = F.create_map(
        *chain.from_iterable((F.lit(i), F.lit(weights[i])) for i in range(dim))
    )
    bias = F.lit(weights[dim])
    fold = F.aggregate(
        F.col("cells"), bias, lambda acc, c: acc + wmap[c["idx"]] * c["x"]
    )
    return F.when(F.col("cells").isNull(), bias).otherwise(fold)


def _spec_edit_variants(text_col, window_len):
    w = F.substring(F.col(text_col), 1, window_len)
    return F.array(
        w,
        *[
            F.concat(
                F.substring(F.col(text_col), 1, i - 1),
                F.substring(F.col(text_col), i + 1, window_len - i),
            )
            for i in range(1, window_len + 1)
        ],
    )


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _bits(v):
    return None if v is None else struct.pack("<d", v)


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").limit(80)


@pytest.mark.parametrize("n_perm,n_bands", [(16, 8), (32, 8)])
def test_banded_sketch_rows_match_the_column_spec(spark, docs, n_perm, n_bands):
    got = dd._banded_sketch(docs, "doc_id", "text", n_perm, n_bands)
    want = _spec_banded_sketch(docs, "doc_id", "text", n_perm, n_bands)
    assert got.columns == want.columns
    assert got.schema == want.schema
    rows = _rows(got, "doc", "band_idx")
    assert rows == _rows(want, "doc", "band_idx")
    assert len(rows) == docs.count() * n_bands


def test_pair_joins_match_the_column_spec(spark, docs):
    """The band self-join and the corpus probe: same join condition and
    select list, so the same pairs with the same Jaccard doubles."""
    sketch = dd._banded_sketch(docs, "doc_id", "text").persist()
    try:
        got = dd._verified_pairs(sketch, 0.3)
        want = _spec_verified_pairs(sketch, 0.3)
        assert got.schema == want.schema
        pairs = _rows(got, "doc_a", "doc_b")
        assert pairs and pairs == _rows(want, "doc_a", "doc_b")
        batch = sketch.filter(F.col("doc").isin([b for _, b, _ in pairs]))
        got = dd._probe_pairs_from_sketches(sketch, batch, 0.3)
        want = _spec_probe_pairs(sketch, batch, 0.3)
        assert got.schema == want.schema
        probed = _rows(got, "new_doc", "dup_of")
        assert probed and probed == _rows(want, "new_doc", "dup_of")
    finally:
        sketch.unpersist()


# literals whose SQL text form must parse back to the same double
_STRESS = [1e-05, -0.0, 1 / 3, 5e-324, 1e300, -2.5e-7, 0.1, -1e300]


@pytest.mark.parametrize("bias", [0.0, -0.0, 1 / 3, 5e-324])
def test_margin_is_bit_identical_to_the_column_spec(spark, docs, bias):
    weights = [_STRESS[i % len(_STRESS)] * (1 + i) for i in range(LOGREG_DIM)]
    weights.append(bias)
    cells = _sorted_cells(feature_cells(docs))
    # a zero-token doc: NULL cells short-circuit to the bias
    empty = spark.createDataFrame(
        [(-1, None)], "doc long, cells array<struct<idx:int,x:double>>"
    )
    base = cells.unionByName(empty)
    got = base.select("doc", _margin(weights, LOGREG_DIM).alias("m"))
    want = base.select("doc", _spec_margin(weights, LOGREG_DIM).alias("m"))
    g, w = _rows(got, "doc"), _rows(want, "doc")
    assert len(g) == len(w) > 1
    assert [(d, _bits(m)) for d, m in g] == [(d, _bits(m)) for d, m in w]
    assert _bits(dict(g)[-1]) == _bits(bias)


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
@pytest.mark.parametrize("at", [0, LOGREG_DIM])
def test_margin_rejects_a_non_finite_weight(bad, at):
    weights = [0.5] * (LOGREG_DIM + 1)
    weights[at] = bad
    with pytest.raises(ValueError, match="non-finite"):
        _margin(weights, LOGREG_DIM)


def test_edit_variant_array_matches_the_column_spec(spark, docs):
    edge = spark.createDataFrame(
        [(-1, ""), (-2, "a"), (-3, "short"), (-4, "éèê ünïcødé tëxt with more"),
         (-5, None)],
        docs.select("doc_id", "text").schema,
    )
    src = docs.select("doc_id", "text").unionByName(edge)
    got = src.select("doc_id", F.expr(dd._deletion_variants("text", 16)).alias("v"))
    want = src.select("doc_id", _spec_edit_variants("text", 16).alias("v"))
    rows = _rows(got, "doc_id")
    assert rows == _rows(want, "doc_id")
    assert all(v is None or len(v) == 17 for _, v in rows)
