"""Calibrate kernels.ADAPTIVE_TAAT_MAX_POSTINGS.

Measures per-query min latency (1 warmup + 3 timed, the bench
protocol) of exhaustive TAAT vs the pruned kernels over the sf0.1
workload, bucketed by the query's TOTAL candidate postings (sum of
term dfs) — the exact statistic choose_algorithm reads. Prints the
per-bucket means and the empirical crossover so the constant in
query/kernels.py can be pinned to measured data. The kernels run over
protos built as the executor builds them: every term decodes once in
the proto build, outside the timed calls, so pruning is not credited
with decode savings the executor never sees.

Run solo (shared-host VM — see BENCH.md measurement discipline):
    python scripts/calibrate_adaptive.py [sf_dir] [n_queries]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# the JVM, and the Python workers it starts, inherit PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (ROOT, os.environ.get("PYTHONPATH")))
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 400

    from pyspark.sql import SparkSession

    from pisa_spark.session import local_worker_conf

    spark = (
        SparkSession.builder.master("local[8]")
        .config(map=local_worker_conf("local[8]"))
        .appName("calibrate-adaptive")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pisa_spark.codecs import CODECS
    from pisa_spark.config import AnalyzerConfig, EngineConfig, IndexConfig
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.index import build_index
    from pisa_spark.query.executor import (
        _build_batch_protos, _factored_rows, _stats, _walk_batch_queries,
    )
    from pisa_spark.query.kernels import (
        block_max_maxscore_kernel, maxscore_kernel, ranked_or_kernel,
    )
    from pisa_spark.query.parser import parse_queries

    cfg = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=1 << 20),
    )
    index = build_index(spark, pages_from_documents(spark, sf_dir), cfg)
    index.segments.persist().count()
    index.term_meta.persist().count()

    # Workload spanning the df spectrum: singles of every lexicon
    # term stratum + multi-term mixes, so buckets are populated from
    # tiny (rare single term) to huge (several head terms).
    terms = [
        (r["term"], r["df"])
        for r in index.lexicon.select("term", "df").collect()
    ]
    terms.sort(key=lambda x: x[1])
    rows = []
    for qi in range(n_queries):
        n = 1 + qi % 5
        stride = max(1, len(terms) // n_queries)
        base = (qi * stride) % len(terms)
        picks = [terms[(base + j * 37) % len(terms)][0] for j in range(n)]
        rows.append((f"c{qi:04d}", picks, 10))
    qdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True)
    pdf = _factored_rows(index, parsed).toPandas()

    decode = CODECS[cfg.index.codec][1]
    kernels = {
        "taat": ranked_or_kernel,
        "bmm": block_max_maxscore_kernel,
        "maxscore": maxscore_kernel,
    }
    recs = []

    def timed_kernels(tps, k, stats, init_threshold=0.0):
        total_df = sum(int(t.df) for t in tps)
        rec = {"total_df": total_df, "n_terms": len(tps)}
        for name, kern in kernels.items():
            kern(tps, 10, stats)  # warmup
            best = float("inf")
            for _ in range(3):
                t = time.perf_counter()
                kern(tps, 10, stats)
                best = min(best, time.perf_counter() - t)
            rec[name] = best * 1e6
        recs.append(rec)
        return np.empty(0, np.int64), np.empty(0)

    protos, base_bm = _build_batch_protos(
        pdf.drop_duplicates(["term_id", "block_id"]), decode
    )
    queries = pdf[["query_id", "k", "term_id", "weight"]].drop_duplicates()
    for _ in _walk_batch_queries(
        queries, protos, base_bm, timed_kernels, _stats(index)
    ):
        pass
    df = pd.DataFrame(recs)
    edges = [0, 256, 512, 1024, 2048, 4096, 8192, 16384, 1 << 30]
    df["bucket"] = pd.cut(df["total_df"], edges)
    by = df.groupby("bucket", observed=True)[["taat", "bmm", "maxscore"]].mean()
    cnt = df.groupby("bucket", observed=True).size()
    print(pd.concat([by.round(1), cnt.rename("n")], axis=1).to_string())
    win = by["taat"] < by[["bmm", "maxscore"]].min(axis=1)
    print("\nTAAT wins buckets:", [str(b) for b in by.index[win]])
    spark.stop()


if __name__ == "__main__":
    main()
