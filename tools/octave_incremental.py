"""Round-11 stretch octave: the INGEST-GATE twin of the r10 pairs A/B —
incremental_minhash_pairs (batch-vs-corpus probe, the dedup_incremental
composition) at the default 16x8 (r=2) vs the wide 32x8 (r=4) point,
sf1 -> sf10. Protocol: bench.octave — one session per SF, both
configs interleaved, min-of-2 noop-forced wall-clock, plus the
drift-immune structural metric — candidate-pair counts (threshold=0
keeps every band collision; the production threshold's verify then
kills the junk), split into junk (J < 0.1) and true (J >= 0.5).

Usage: python tools/octave_incremental.py <sf_dir> [out_json]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

INC_MOD = 5  # the declared dedup_incremental split
THRESHOLD = 0.5


def run(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    import hdfs_mapreduce_spark.operators.dedup as dd
    from hdfs_mapreduce_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % INC_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INC_MOD != 0)
    out: dict = {"n_docs": docs.count()}
    configs = {
        "default_16x8": (dd.N_PERM, dd.N_BANDS),
        "wide_32x8": (dd.WIDE_PERM, dd.WIDE_BANDS),
    }
    for tag, (np_, nb) in configs.items():
        plan = dd.incremental_minhash_pairs(
            corpus, new, "doc_id", "text", THRESHOLD, n_perm=np_, n_bands=nb
        )
        out[f"{tag}_sec"] = round(min(bench.force(plan) for _ in range(2)), 4)
        cand = dd.incremental_minhash_pairs(
            corpus, new, "doc_id", "text", 0.0, n_perm=np_, n_bands=nb
        )
        counts = cand.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("jaccard") < 0.1, 1)).alias("junk"),
            F.count(F.when(F.col("jaccard") >= 0.5, 1)).alias("true"),
        ).collect()[0]
        out[f"{tag}_candidates"] = counts["n"]
        out[f"{tag}_junk_lt01"] = counts["junk"]
        out[f"{tag}_true_ge05"] = counts["true"]
    return out


if __name__ == "__main__":
    bench.octave("octave-incremental", run)
