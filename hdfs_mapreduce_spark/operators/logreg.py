"""Distributed logistic-regression text classifier over hashed features.

The classifier-filtering stage of an LLM data pipeline (the GPT-3 /
CCNet recipe: train a cheap linear model on weak labels, score every
document, keep or down-weight by confidence) re-expressed Spark-first:

- Features are the hashing trick (Weinberger et al.) over whitespace
  tokens — no vocabulary, no fit state beyond the weight vector. Cell
  values stay INTEGER signed counts through the aggregate and become
  doubles with ONE exact division by the doc's token count, so the
  sparse feature relation is bit-identical in any engine.
- Training is full-batch gradient descent, each round two map-side-
  combined Catalyst aggregates: a per-doc margin fold and a per-feature
  gradient sum. The only driver state is the (dim+1)-float weight
  vector, re-broadcast as literals each round — lineage stays flat and
  nothing corpus-sized ever reaches the driver.

100 TB posture: per round = one explode + feature-keyed partial agg
(dim+1 rows per input partition reach the shuffle) over a cells
relation built by one map-side tokenize; ``dim`` and ``rounds`` are
constants, so total work is O(rounds x tokens) map time plus O(rounds x
dim x partitions) shuffle bytes. Driver memory = O(dim).

Determinism vs the SQL oracle: the per-doc margin folds in a PINNED
order (array_sort by feature index, then a sequential F.aggregate —
exactly the oracle's list_prepend + list_reduce over list(w*x ORDER BY
idx)), so sigmoid inputs are bit-identical. Gradient sums fold in
partition order, which can differ from a sequential engine by ~1 ulp —
invisible at the oracle's 1e-6 rounding (the same acceptance as
kmeans_fit's centroid means, operators/similarity.py).

Reference parity note: the reference engine (hdfs_mapreduce) has no
model-training surface; this extends the §2.12 LLM-pipeline family the
same way the dedup/ANN operators do.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdfs_mapreduce_spark.functions.hashing import h56
from hdfs_mapreduce_spark.functions.text import tokens

LOGREG_DIM = 64  # hashed feature dimensions; weight idx LOGREG_DIM = bias
LOGREG_ROUNDS = 3
LOGREG_LR = 1.0  # lr 1.0 also removes one float rounding site (lr*g == g)


def feature_cells(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = LOGREG_DIM,
) -> DataFrame:
    """(doc, idx, x) sparse hashed features: idx = h56(token) % dim, the
    cell's signed count stays integer through the aggregate, and
    x = signed_count / n_tokens is one exact division — deterministic in
    any engine. Zero-token docs contribute no rows (callers treat their
    margin as bias-only). Map-side tokenize + one (doc, idx)-keyed
    partially-aggregated shuffle of integer cells."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("doc"), toks.alias("tk")).select(
        "doc", F.size("tk").alias("cnt"), F.explode("tk").alias("token")
    )
    return (
        base.select(
            "doc",
            "cnt",
            (h56(F.col("token")) % dim).cast("int").alias("idx"),
            F.when(
                h56(F.concat(F.lit("sign:"), F.col("token"))) % 2 == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        .groupBy("doc", "cnt", "idx")
        .agg(F.sum("sgn").alias("val"))
        .select(
            "doc",
            "idx",
            (F.col("val").cast("double") / F.col("cnt")).alias("x"),
        )
    )


def _sorted_cells(feats: DataFrame) -> DataFrame:
    """(doc, cells array<struct<idx,x>>) with cells sorted ascending by
    idx — the pinned fold order shared with the SQL oracle. idx is unique
    per doc, so struct ordering == idx ordering."""
    return feats.groupBy("doc").agg(
        F.array_sort(F.collect_list(F.struct("idx", "x"))).alias("cells")
    )


def _double(v: float) -> str:
    """``v`` as a SQL DOUBLE literal that parses back to the same bits
    (``repr`` is the shortest round-trip form); non-finite values have
    no literal form and raise."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite logistic-regression weight {v!r}")
    return f"{v!r}D"


def _margin(weights: list[float], dim: int) -> Column:
    """Bias-seeded sequential fold over the idx-sorted cells: acc starts
    at w[dim] (the bias) and adds w[idx] * x per cell in idx order —
    bit-identical to list_reduce(list_prepend(bias, list(w*x ORDER BY
    idx))). NULL cells (zero-token docs) short-circuit to the bias.

    SQL text the JVM parses once: the 64-entry weight map as Column calls
    cost ~650 py4j round trips per call, as text 3."""
    wmap = ", ".join(f"{i}, {_double(weights[i])}" for i in range(dim))
    bias = _double(weights[dim])
    return F.expr(
        f"CASE WHEN cells IS NULL THEN {bias} ELSE aggregate(cells, {bias},"
        f" (acc, c) -> acc + map({wmap})[c.idx] * c.x) END"
    )


def _prob(margin: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))


def _base_relation(
    docs: DataFrame, label: Column, id_col: str, text_col: str, dim: int
) -> DataFrame:
    """(doc, y, cells) — the fit/score working set: labels joined with
    the idx-sorted sparse cells (NULL cells = zero-token doc)."""
    labels = docs.select(
        F.col(id_col).alias("doc"), label.cast("double").alias("y")
    )
    cells = _sorted_cells(feature_cells(docs, id_col, text_col, dim))
    return labels.join(cells, "doc", "left")


def _gd(base: DataFrame, dim: int, rounds: int, lr: float) -> list[float]:
    """Full-batch GD from w=0 over a (persisted) base relation. Returns
    dim+1 weights, bias last.

    Per round ONE distributed job: the residual (sigmoid(margin) - y) is
    computed map-side from the broadcast-literal weights, a sentinel
    bias cell (idx=dim, x=1.0) is appended array-side so the bias
    gradient rides the same explode, and the (dim+1)-key groupBy sums
    with map-side partials. The dim+1-row collect is the only driver
    traffic."""
    n = base.count()
    if n == 0:
        return [0.0] * (dim + 1)
    w = [0.0] * (dim + 1)
    bias_cell = F.array(
        F.struct(
            F.lit(dim).cast("int").alias("idx"),
            F.lit(1.0).alias("x"),
        )
    )
    for _ in range(rounds):
        resid = _prob(_margin(w, dim)) - F.col("y")
        grads = (
            base.select(
                resid.alias("resid"),
                F.concat(
                    F.coalesce(
                        F.col("cells"),
                        F.array().cast("array<struct<idx:int,x:double>>"),
                    ),
                    bias_cell,
                ).alias("cells_b"),
            )
            .select("resid", F.explode("cells_b").alias("c"))
            .groupBy(F.col("c.idx").alias("idx"))
            .agg(F.sum(F.col("resid") * F.col("c.x")).alias("g"))
            .collect()
        )
        g = {r["idx"]: r["g"] for r in grads}
        w = [w[i] - lr * g.get(i, 0.0) / n for i in range(dim + 1)]
    return w


def logreg_fit(
    docs: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = LOGREG_DIM,
    rounds: int = LOGREG_ROUNDS,
    lr: float = LOGREG_LR,
) -> list[float]:
    """Full-batch GD from w=0 (see ``_gd``). ``label`` is a 0.0/1.0
    double Column over ``docs``'s columns. Returns dim+1 weights, bias
    last."""
    base = _base_relation(docs, label, id_col, text_col, dim).persist()
    try:
        return _gd(base, dim, rounds, lr)
    finally:
        base.unpersist()


def logreg_confusion(
    docs: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = LOGREG_DIM,
    rounds: int = LOGREG_ROUNDS,
    lr: float = LOGREG_LR,
) -> DataFrame:
    """Fit, then score every document against the final weights: the
    (label, pred, n, avg_prob) confusion relation — the filter-quality
    readout a pipeline audits before applying a classifier gate. The
    scoring pass runs inside the SAME persist scope as the fit, so the
    tokenize/hash/shuffle feature pipeline is built exactly once; the
    returned relation is collected to a 4-row LocalRelation before the
    cache is released (the group count is bounded by construction)."""
    base = _base_relation(docs, label, id_col, text_col, dim).persist()
    try:
        w = _gd(base, dim, rounds, lr)
        p = _prob(_margin(w, dim))
        rows = (
            base.select(
                F.col("y").cast("bigint").alias("label"),
                (p >= F.lit(0.5)).cast("bigint").alias("pred"),
                p.alias("p"),
            )
            .groupBy("label", "pred")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("p").alias("avg_prob"),
            )
            .orderBy("label", "pred")
            .collect()
        )
        return docs.sparkSession.createDataFrame(
            rows, "label long, pred long, n long, avg_prob double"
        )
    finally:
        base.unpersist()


def logreg_calibration(
    docs: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = LOGREG_DIM,
    rounds: int = LOGREG_ROUNDS,
    lr: float = LOGREG_LR,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for the fitted classifier: bin predicted
    probability into ``n_bins`` equal-width bins and report per bin the
    count, mean predicted probability, and observed positive fraction —
    the calibration readout that decides whether a quality gate's
    threshold means what it says (a filter keeping p ≥ 0.9 docs is only
    as selective as bin 9 is pure). Same persist scope discipline as
    logreg_confusion: features built once, ≤ n_bins rows collected."""
    base = _base_relation(docs, label, id_col, text_col, dim).persist()
    try:
        w = _gd(base, dim, rounds, lr)
        p = _prob(_margin(w, dim))
        bin_ = F.least(
            F.floor(p * n_bins).cast("long"), F.lit(n_bins - 1)
        )
        rows = (
            base.select(F.col("y"), p.alias("p"), bin_.alias("bin"))
            .groupBy("bin")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("p").alias("mean_p"),
                F.avg("y").alias("frac_pos"),
            )
            .orderBy("bin")
            .collect()
        )
        return docs.sparkSession.createDataFrame(
            rows, "bin long, n long, mean_p double, frac_pos double"
        )
    finally:
        base.unpersist()
