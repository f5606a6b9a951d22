#!/usr/bin/env python
"""spark-submit entry point: end-to-end build + query batch.

Run on a cluster (master from spark-submit):

    spark-submit --py-files pisa_spark.zip scripts/run_pipeline.py \
        --out /data/index --n-docs 1000000

or locally in this sandbox (the scaling protocol, BASELINE.md):

    python scripts/run_pipeline.py --local 8  --n-docs 40000 --out /tmp/i8
    python scripts/run_pipeline.py --local 32 --n-docs 40000 --out /tmp/i32

Prints one JSON line: build/query wall seconds, docs/sec, queries/sec,
and the checkpoint lineage report. The input corpus is the
deterministic synthetic pages table (corpus.synth_pages) generated
with a FIXED partition count so the work is identical at any
parallelism — only the executor count varies, which is exactly the
north-rule N-vs-4N measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

try:  # spark-submit --py-files pisa_spark.zip provides the package
    import pisa_spark  # noqa: F401
except ImportError:  # plain `python scripts/run_pipeline.py` from anywhere
    ROOT = str(Path(__file__).resolve().parent.parent)
    sys.path.insert(0, ROOT)
    # the JVM, and the Python workers it starts, inherit PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH")))
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="checkpoint/index dir")
    ap.add_argument("--n-docs", type=int, default=40_000)
    ap.add_argument("--n-queries", type=int, default=200)
    ap.add_argument("--partitions", type=int, default=64,
                    help="fixed input/shuffle partitioning (parallelism-independent)")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] (omit under spark-submit)")
    # adaptive = per-query kernel selection (kernels.choose_algorithm):
    # the fastest driver-visible kernel row (BENCH_r04 mean 4.23 ms vs
    # maxscore 4.26) with rank-identity pinned every round by the
    # strategy_topk gate entry's 'adaptive' tag.
    ap.add_argument("--algorithm", default="adaptive")
    ap.add_argument("--warmup", type=int, default=1,
                    help="run an untimed small warmup build first")
    ap.add_argument("--codec-profile", default="phased",
                    choices=["phased", "flat"],
                    help="phased (default): the build runs in a "
                         "zstd-shuffle session, then a FRESH lz4 "
                         "session serves the query batch — the "
                         "per-phase optimum (BENCH.md A/B: zstd buys "
                         "+15-23%% build throughput where the memory "
                         "bus saturates, but taxes small query "
                         "shuffles ~25%%). On a real cluster these "
                         "are separate spark-submit applications "
                         "(index-build job vs query service), each "
                         "with its own --conf. flat: one session, "
                         "lz4 throughout.")
    ap.add_argument("--conf", action="append", default=[],
                    metavar="K=V",
                    help="extra spark conf (repeatable), e.g. "
                         "--conf spark.io.compression.codec=zstd; "
                         "applied LAST to every phase session")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pisa_spark.session import local_worker_conf

    def make_session(phase_conf: dict[str, str]):
        b = SparkSession.builder.appName("pisa-spark-pipeline")
        if args.local:
            master = f"local[{args.local}]"
            b = b.master(master).config(map=local_worker_conf(master))
            # 2 task waves per scan on small local inputs (straggler
            # smoothing; see pisa_spark.session). Under spark-submit
            # the executor-count default is left in charge.
            b = b.config(
                "spark.sql.files.minPartitionNum", str(2 * args.local)
            )
        b = (
            b.config("spark.sql.shuffle.partitions", str(args.partitions))
            .config("spark.sql.adaptive.enabled", "false")  # fixed plan for scaling runs
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        )
        for k, v in phase_conf.items():
            b = b.config(k, v)
        # user --conf LAST so it overrides every default above
        for kv in args.conf:
            k, _, v = kv.partition("=")
            b = b.config(k, v)
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # Build-phase session. Shuffle codec per phase (the measured
    # trade, pisa_spark.session): zstd for the shuffle-heavy build,
    # lz4 for the small query shuffles. `flat` keeps one lz4 session.
    build_conf = (
        {"spark.io.compression.codec": "zstd"}
        if args.codec_profile == "phased" else {}
    )
    spark = make_session(build_conf)

    import pandas as pd

    from pisa_spark.build.pipeline import BuildPipeline
    from pisa_spark.config import EngineConfig
    from pisa_spark.corpus import synth_pages, synth_queries
    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.parser import parse_queries

    def search(index, parsed, **kw):
        # batches pinned to the fixed partition count so the job is
        # IDENTICAL at every parallelism level (the batch count
        # otherwise defaults to 2x cluster parallelism, which would
        # change the measured work between N and 4N)
        return topk_search(index, parsed, batches=args.partitions, **kw)

    # Untimed warmup build on a small slice (JIT, codegen, Python
    # worker pool, shuffle paths) — the reference bench protocol also
    # warms up before timing (tools/queries.cpp:74-90).
    if args.warmup:
        import shutil

        wdir = f"{args.out}/_warmup"
        wpages = synth_pages(spark, 2000, partitions=args.partitions)
        widx = BuildPipeline(
            spark, wdir, EngineConfig(), input_desc={"warmup": True}
        ).run(wpages)
        widx.segments.count()
        shutil.rmtree(wdir, ignore_errors=True)

    # Materialize the input table first (production inputs are an
    # existing Iceberg/parquet table of pages — the build metric must
    # measure the ENGINE, not the synthetic generator).
    pages_dir = f"{args.out}/pages"
    tgen0 = time.perf_counter()
    synth_pages(spark, args.n_docs, partitions=args.partitions).write.mode(
        "overwrite"
    ).parquet(pages_dir)
    datagen_wall = time.perf_counter() - tgen0
    pages = spark.read.parquet(pages_dir)

    # one input identity for the build and the phased resume, so the
    # resume's stage fingerprints match the build's
    input_desc = {"gen": "synth_pages", "n_docs": args.n_docs,
                  "partitions": args.partitions}
    t0 = time.perf_counter()
    pipe = BuildPipeline(spark, args.out, EngineConfig(), input_desc=input_desc)
    index = pipe.run(pages)
    index.segments.count()
    build_wall = time.perf_counter() - t0
    build_executed = pipe.executed
    build_lineage = pipe.report()["stages"]

    if args.codec_profile == "phased":
        # Query phase gets its own session (lz4 shuffle): stop the
        # build session and RESUME the pipeline from its manifests —
        # zero recompute, the returned index is backed by the same
        # checkpoint parquet. The JVM restart sits OUTSIDE both
        # timers, exactly like the separate build-job / query-service
        # applications it models on a cluster.
        spark.stop()
        spark = make_session({"spark.io.compression.codec": "lz4"})
        pages = spark.read.parquet(pages_dir)
        index = BuildPipeline(
            spark, args.out, EngineConfig(), input_desc=input_desc
        ).run(pages)

    qpdf = synth_queries(args.n_queries)
    qdf = spark.createDataFrame(
        qpdf, schema="query_id string, terms array<string>, k int"
    )
    parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True).persist()
    parsed.count()

    # one untimed pass (python-worker pool at this parallelism, plan
    # compilation) — the reference protocol warms up before timing
    search(index, parsed, algorithm=args.algorithm, k=10).count()
    t1 = time.perf_counter()
    n_rows = search(index, parsed, algorithm=args.algorithm, k=10).count()
    query_wall = time.perf_counter() - t1

    print(
        json.dumps(
            {
                "n_docs": args.n_docs,
                "partitions": args.partitions,
                "parallelism": spark.sparkContext.defaultParallelism,
                "datagen_wall_s": round(datagen_wall, 3),
                "build_wall_s": round(build_wall, 3),
                "build_docs_per_sec": round(args.n_docs / build_wall, 2),
                "n_queries": args.n_queries,
                "query_wall_s": round(query_wall, 3),
                "queries_per_sec": round(args.n_queries / query_wall, 2),
                "result_rows": n_rows,
                "codec_profile": args.codec_profile,
                "stages_executed": build_executed,
                "lineage": build_lineage,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
