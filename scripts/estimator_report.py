#!/usr/bin/env python
"""Threshold-estimator quality report — the fork tools' experiment.

Every kth_threshold_* fork tool prints the same four lists per run
(real thresholds, estimates, estimated-k landing ranks, times;
e.g. tools/kth_threshold_combine_did_new.cpp:455-486). This script is
that experiment over ALL implemented estimator families at once: it
builds the index over a documents table, runs each family on the same
workload, evaluates each against the true ranked lists with
``thresholds.estimator_quality``, and prints ONE JSON object:

    {"sf_dir": ..., "n_queries": ..., "k": 10,
     "families": {"single": {"estimated": n, "overshoot_rate": ...,
                             "exact_rate": ..., "mean_estimated_k": ...,
                             "mean_gap": ...}, ...}}

- estimated        queries with a usable (>= 0) estimate
- overshoot_rate   share of estimates ABOVE the true k-th (unsound
                   bootstrap events — the sampling fork's O rate;
                   0.0 for every sound family)
- exact_rate       share of estimates equal to the true k-th
- mean_estimated_k mean landing rank (lower = tighter; k is ideal)
- mean_gap         mean estimate/true-k-th ratio over usable
                   estimates (1.0 = exact)

    python scripts/estimator_report.py [sf_dir] [--cores N] [--k K]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the JVM, and the Python workers it starts, inherit PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (ROOT, os.environ.get("PYTHONPATH")))
)


def family_estimates(index, parsed, k: int):
    """Ordered {family: (query_id, threshold_micro) DataFrame} over
    every implemented estimator family (the fork constellation)."""
    from pyspark.sql import functions as F

    from pisa_spark.query.thresholds import (
        budget_kth_thresholds, combine_did_kth_thresholds,
        combine_did_new_kth_thresholds, estimate_thresholds,
        estimate_thresholds_with_pairs, intersection_kth_thresholds,
        kth_score_cache, lookup_kth_thresholds, sampling_kth_thresholds,
        substructure_kth_thresholds,
    )

    cache = kth_score_cache(index, k=k)
    return {
        "single": estimate_thresholds(parsed, cache),
        "pairs": estimate_thresholds_with_pairs(index, parsed, cache, k=k),
        "budget": budget_kth_thresholds(index, parsed, budget=64, k=k),
        "sampling": sampling_kth_thresholds(index, parsed, k=k),
        "combine_did": combine_did_kth_thresholds(index, parsed, k=k),
        "combine_did_new": combine_did_new_kth_thresholds(
            index, parsed, k=k, gram=2
        ),
        "substructure": substructure_kth_thresholds(index, parsed, k=k, gram=2),
        "intersection": intersection_kth_thresholds(index, parsed, k=k, gram=2),
        "lookup": lookup_kth_thresholds(index, parsed, budget=64, k=k),
    }


def evaluate(index, parsed, estimates, k: int, ranked=None) -> dict:
    from pisa_spark.query.thresholds import estimator_quality

    pdf = estimator_quality(
        index, parsed, estimates, k=k, ranked=ranked
    ).toPandas()
    usable = pdf[(pdf["est_micro"].notna()) & (pdf["est_micro"] >= 0)
                 & (pdf["real_micro"].notna())]
    n = len(usable)
    if n == 0:
        return {"estimated": 0}
    return {
        "estimated": int(n),
        "overshoot_rate": round(float(usable["overshoot"].mean()), 4),
        "exact_rate": round(
            float((usable["est_micro"] == usable["real_micro"]).mean()), 4
        ),
        "mean_estimated_k": round(float(usable["estimated_k"].mean()), 2),
        "mean_gap": round(
            float((usable["est_micro"] / usable["real_micro"]).mean()), 4
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pisa_spark.config import AnalyzerConfig, EngineConfig
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.gated.entries import _queries_df
    from pisa_spark.index import build_index
    from pisa_spark.query.parser import parse_queries
    from pisa_spark.session import get_spark

    from pyspark.sql import functions as F

    from pisa_spark.query.thresholds import quality_ranked

    spark = get_spark(cores=args.cores)
    cfg = EngineConfig(analyzer=AnalyzerConfig(tokenizer="whitespace"))
    index = build_index(spark, pages_from_documents(spark, args.sf_dir), cfg)
    parsed = parse_queries(
        _queries_df(spark), index.lexicon, pre_tokenized=True
    )
    # the gate workload pins k=10 per query; re-key it to the
    # requested k so the per-k-guarded estimator families see a
    # consistent workload instead of filtering it to empty
    parsed = parsed.withColumn("k", F.lit(args.k)).persist()
    n_queries = parsed.select("query_id").distinct().count()

    # ONE truth job (true ranked lists) shared by every family
    ranked = quality_ranked(
        index, parsed, depth=max(500, args.k)
    ).localCheckpoint()

    families = {
        name: evaluate(index, parsed, est, args.k, ranked=ranked)
        for name, est in family_estimates(index, parsed, args.k).items()
    }
    print(json.dumps({
        "sf_dir": args.sf_dir, "n_queries": n_queries, "k": args.k,
        "families": families,
    }))


if __name__ == "__main__":
    main()
