"""Driver benchmark: ONE JSON line with end-to-end timings at sf0.1.

Protocol (BASELINE.md "Target protocol"): build the inverted index
over the documents corpus (throughput = docs/sec), then run the
headline query workloads — exhaustive SQL oracle (pure Catalyst),
BMW / MaxScore / WAND kernels (applyInArrow), and the
training-data-pipeline jobs — each timed after one untimed warmup of
the Spark session (mirrors the reference's 1-warmup protocol,
tools/queries.cpp:74-90).

Besides batch wall times, the bench reports PER-QUERY kernel latency
percentiles (mean/p50/p90/p95/p99 microseconds, 1 warmup + 2 timed
runs, min per query — the reference's queries protocol,
tools/queries.cpp:74-115) measured in-process over the workload's
decoded segments, so round-over-round per-algorithm regressions are
visible independent of Spark scheduling noise.

Noise robustness: this box is a shared-host VM with up to 2x
neighbor CPU steal (BENCH.md), so every job is timed as BEST-OF-N
after one untimed warmup (the scripts/scaling.py protocol) — the
reported number reflects the code, not the neighbors. Repeat counts
ride in the output JSON.

Env:
  SPARK_GRAFT_SF_DIR      input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS        local[N] cores (default 32)
  SPARK_GRAFT_REPEATS     timed runs per query job, best-of (default 5)
  SPARK_GRAFT_BUILD_REPEATS  full index builds, best-of (default 3)
  SPARK_GRAFT_SYNTH_DOCS  ALSO build a deterministic synthetic corpus
                          of this many docs (corpus.synth_pages) and
                          report build + kernel numbers under "synth".
                          Default 64000 — the scaling-protocol corpus
                          (BENCH.md), where build throughput is
                          corpus-bound rather than fixed-overhead-
                          bound like the 5k-doc sf0.1 table, so the
                          recorded docs/sec is comparable to the
                          reference's published single-node band.
                          Set 0 to skip. The synth build runs once in
                          the already-warm session (BENCH.md separates
                          cold vs warm-session build numbers).

Output: {"metric": "e2e_sec", "value": <total query sec>, "unit":
"sec", "queries": {...}, "kernel_latency_us": {...}, "sf": ...,
"build_sec": ..., "build_docs_per_sec": ..., "cores": N}
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

PCTS = (50, 90, 95, 99)


def kernel_latencies(index, parsed, algos, k: int = 10) -> dict:
    """Per-query kernel latency stats (µs): pull the workload's
    segment rows once (query-term lists only — workload-sized, the
    in-memory form the reference benchmarks), then per query run each
    kernel with 1 warmup + 3 timed runs and keep the min. Protos are
    built with ``cap=0``, so block decode happens inside every timed
    kernel call."""
    from pisa_spark.codecs import CODECS
    from pisa_spark.query.executor import (
        RANKED_KERNELS, _build_batch_protos, _query_segments, _stats,
        _walk_batch_queries,
    )

    decode = CODECS[index.config.index.codec][1]
    pdf = _query_segments(index, parsed).toPandas()
    lat: dict[str, list[float]] = {a: [] for a in algos}

    def timed_kernels(terms, kk, stats, init_threshold=0.0):
        for algo in algos:
            kernel = RANKED_KERNELS[algo]
            kernel(terms, kk, stats)  # warmup
            best = float("inf")
            for _ in range(3):
                t = time.perf_counter()
                kernel(terms, kk, stats)
                best = min(best, time.perf_counter() - t)
            lat[algo].append(best * 1e6)
        return np.empty(0, np.int64), np.empty(0)

    protos, base_bm = _build_batch_protos(
        pdf.drop_duplicates(["term_id", "block_id"]), decode, cap=0
    )
    queries = pdf[["query_id", "k", "term_id", "weight"]].drop_duplicates()
    for _ in _walk_batch_queries(
        queries, protos, base_bm, timed_kernels, _stats(index)
    ):
        pass
    out = {}
    for algo, xs in lat.items():
        arr = np.asarray(xs)
        entry = {"mean": round(float(arr.mean()), 1)}
        for p in PCTS:
            entry[f"p{p}"] = round(float(np.percentile(arr, p)), 1)
        out[algo] = entry
    return out


def _synth_section(spark, synth_docs: int, kernel_algos) -> dict:
    """Build + query numbers over the deterministic synthetic corpus
    (corpus.synth_pages) at ``synth_docs`` docs — the scale where build
    throughput is corpus-bound, not fixed-overhead-bound (BENCH.md
    "Build-number correction"). One warm-session build: the session's
    plan/codegen warmup already happened in the sf pass."""
    import pandas as pd

    from pisa_spark.config import EngineConfig
    from pisa_spark.corpus import synth_pages
    from pisa_spark.index import build_index
    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.parser import parse_queries

    spages = synth_pages(
        spark, synth_docs, vocab_size=max(2000, synth_docs // 10),
        max_len=200,
    ).persist()
    sn = spages.count()
    t0 = time.perf_counter()
    sindex = build_index(spark, spages, EngineConfig())
    sindex.segments.persist().count()
    sindex.term_meta.persist().count()
    sbuild = time.perf_counter() - t0
    # orderBy before limit: a bare limit() takes whatever rows the
    # plan yields first — the workload must be identical run-to-run
    # and round-to-round for the recorded numbers to be comparable
    sterms = [r["term"]
              for r in sindex.lexicon.orderBy("term_id").limit(400).collect()]
    srows = []
    for qi in range(100):
        n = 1 + qi % 5
        srows.append(
            (f"s{qi:04d}",
             [sterms[(qi * 7 + j * 13) % len(sterms)] for j in range(n)],
             10)
        )
    sqdf = spark.createDataFrame(
        pd.DataFrame(srows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    sparsed = parse_queries(sqdf, sindex.lexicon, pre_tokenized=True).persist()
    sparsed.count()
    sq: dict[str, float] = {}
    for algo, key in (("block_max_wand", "bmw_100q"),
                      ("block_max_maxscore", "bmm_100q"),
                      ("maxscore", "maxscore_100q")):
        t = time.perf_counter()
        topk_search(sindex, sparsed, algorithm=algo, k=10).count()
        sq[key] = round(time.perf_counter() - t, 4)
    out = {
        "n_docs": sn,
        "build_sec": round(sbuild, 4),
        "build_docs_per_sec": round(sn / sbuild, 2),
        "queries": sq,
        "kernel_latency_us": kernel_latencies(
            sindex, sparsed, kernel_algos, k=10
        ),
    }
    # Release the synth corpus/index cache before the caller prints.
    spages.unpersist()
    sindex.segments.unpersist()
    sindex.term_meta.unpersist()
    sparsed.unpersist()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pisa-spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2 task waves per scan on small inputs (straggler smoothing;
        # see pisa_spark.session) — maxPartitionBytes governs at scale.
        .config("spark.sql.files.minPartitionNum", str(2 * cpus))
        # shuffle codec: lz4 default — zstd taxed every small query
        # job ~25% for a flat sf-build (pisa_spark.session comment)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pisa_spark.config import AnalyzerConfig, EngineConfig, IndexConfig
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.index import build_index

    # Defaults raised 3->5 / 2->3 in the round-5 continuation session:
    # that session's windows showed steal arriving in sub-minute
    # bursts (BENCH.md "Continuation-session note"), so more best-of
    # samples per job materially improve the recorded number's odds
    # of catching a quiet micro-window at ~+1 min total cost.
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "5"))
    build_repeats = int(os.environ.get("SPARK_GRAFT_BUILD_REPEATS", "3"))

    pages = pages_from_documents(spark, sf_dir)
    n_docs = pages.count()  # warms the session + pins the input size

    cfg = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=1 << 20),
    )

    # Best-of-N full builds (neighbor-steal robustness) after ONE
    # untimed warmup build — the first build of a session pays plan
    # compilation + Arrow/codegen warmup (~3x; the same reason every
    # query job below gets an untimed warmup, tools/queries.cpp:74-90).
    # The LAST build's artifacts are persisted for the query jobs.
    build_sec = float("inf")
    index = build_index(spark, pages, cfg)  # untimed warmup
    index.segments.persist().count()
    index.term_meta.persist().count()
    for _ in range(max(1, build_repeats)):
        # Drop ALL of the previous build's cache entries — not just
        # segments/term_meta but build_index's internal docs/postings
        # persists, which would otherwise accumulate one full corpus
        # copy per repeat (CacheManager entries survive driver GC) and
        # run later repeats + the query section under memory pressure.
        # Every timed build starts from the same cold-cache state.
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        index = build_index(spark, pages, cfg)
        # Force every artifact the queries need (segments + meta + lexicon).
        index.segments.persist().count()
        index.term_meta.persist().count()
        build_sec = min(build_sec, time.perf_counter() - t0)

    queries: dict[str, float] = {}

    def best_of(fn) -> float:
        """ONE measurement protocol for every number in this file:
        untimed warmup (plan compilation, shuffle file warmup), then
        best of `repeats` timed runs."""
        fn()
        best = float("inf")
        for _ in range(max(1, repeats)):
            t = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t)
        return best

    def timed(name: str, fn) -> None:
        queries[name] = round(best_of(fn), 4)

    # --- SQL path: exhaustive ranked_or over the documents view (Catalyst).
    from pisa_spark.gated.sql import DIALECT_SPARK, core_sql_entries

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    sql_entries = core_sql_entries(DIALECT_SPARK)
    timed("ranked_or_sql", lambda: spark.sql(sql_entries["ranked_or_topk"]).count())

    # --- Kernel path: synthetic 100-query workload against the index.
    import pandas as pd

    from pisa_spark.corpus import synth_queries
    from pisa_spark.query.executor import topk_range, topk_search
    from pisa_spark.query.parser import parse_queries

    # Query terms drawn from the documents vocabulary (Zipf-free small
    # vocab): reuse lexicon terms cyclically for a 100-query batch.
    # orderBy pins the workload run-to-run (bare limit() order is a
    # plan artifact).
    terms = [r["term"]
             for r in index.lexicon.orderBy("term_id").limit(400).collect()]
    rows = []
    for qi in range(100):
        n = 1 + qi % 5
        rows.append(
            (f"q{qi:04d}", [terms[(qi * 7 + j * 13) % len(terms)] for j in range(n)], 10)
        )
    qdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True).persist()
    parsed.count()

    for algo, key in (
        ("block_max_wand", "bmw_100q"),
        ("block_max_maxscore", "bmm_100q"),
        ("maxscore", "maxscore_100q"),
        ("wand", "wand_100q"),
        ("ranked_or", "taat_100q"),
    ):
        timed(key, lambda a=algo: topk_search(
            index, parsed, algorithm=a, k=10).count())
    timed(
        "range_maxscore_100q",
        lambda: topk_range(index, parsed, algorithm="maxscore", k=10).count(),
    )

    # Threshold-bootstrapped BMW (kth_threshold pipeline end-to-end).
    from pisa_spark.query.thresholds import estimate_thresholds, kth_score_cache

    cache = kth_score_cache(index, k=10).persist()
    cache.count()
    est = estimate_thresholds(parsed, cache).persist()
    est.count()
    timed(
        "bmw_boot_100q",
        lambda: topk_search(index, parsed, algorithm="block_max_wand", k=10,
                            thresholds=est).count(),
    )

    # --- Training-data pipeline jobs (datapipe module), if present.
    try:
        from pisa_spark.datapipe.entries import bench_jobs

        for name, job in bench_jobs().items():
            timed(name, lambda j=job: j(spark, sf_dir))
    except ImportError:
        pass

    # --- Batch throughput at 3200 queries (topk_search amortizes
    # payload transfer + block decode across each batch — BENCH.md
    # "Batch-major execution"). Reported SEPARATELY from `queries` so
    # the summed e2e headline stays comparable round-over-round.
    brows = []
    for qi in range(3200):
        n = 1 + qi % 5
        brows.append(
            (f"b{qi:05d}",
             [terms[(qi * 7 + j * 13) % len(terms)] for j in range(n)], 10)
        )
    bqdf = spark.createDataFrame(
        pd.DataFrame(brows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    bparsed = parse_queries(bqdf, index.lexicon, pre_tokenized=True).persist()
    bparsed.count()

    bm_s = best_of(
        lambda: topk_search(
            index, bparsed, algorithm="block_max_maxscore", k=10
        ).count()
    )
    throughput = {"n_queries": 3200, "batch_major_qps": round(3200 / bm_s, 1)}
    bparsed.unpersist()

    # --- Per-query kernel latency percentiles (reference protocol).
    KERNEL_ALGOS = (
        "block_max_wand", "block_max_maxscore", "maxscore", "wand", "ranked_or",
        "adaptive",
    )
    kernel_latency_us = kernel_latencies(index, parsed, KERNEL_ALGOS, k=10)

    # --- Optional synthetic big-corpus pass (SPARK_GRAFT_SYNTH_DOCS).
    synth = None
    synth_docs = int(os.environ.get("SPARK_GRAFT_SYNTH_DOCS", "64000"))
    try:
        synth = _synth_section(spark, synth_docs, KERNEL_ALGOS) if synth_docs else None
    except Exception as exc:  # never lose the headline JSON to the add-on
        print(f"synth section failed: {exc!r}", file=sys.stderr)
        synth = None

    # --- Hot-path codec microbench (the reference's benchmarks/
    # suite; full registry in scripts/codec_perftest.py). Only the
    # families a query/build hot path actually touches, at a size
    # that costs ~2s total, so the driver JSON tracks per-round
    # decode-throughput regressions in the codec kernels themselves.
    codec_us = None
    try:
        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "scripts"
        ))
        from codec_perftest import bench_codec, synth_gaps

        from pisa_spark.codecs import CODECS

        cgaps = synth_gaps(100_000)
        codec_us = {
            name: bench_codec(name, *CODECS[name], cgaps, repeats=2)
            for name in ("varint", "bitpack", "streamvbyte", "ef")
        }
    except Exception as exc:
        print(f"codec section failed: {exc!r}", file=sys.stderr)

    total = round(sum(queries.values()), 4)
    print(
        json.dumps(
            {
                "metric": "e2e_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "throughput": throughput,
                "kernel_latency_us": kernel_latency_us,
                "sf": sf,
                "repeats": repeats,
                "build_repeats": build_repeats,
                "build_sec": round(build_sec, 4),
                "build_docs_per_sec": round(n_docs / build_sec, 2),
                "n_docs": n_docs,
                "cores": cpus,
                **({"synth": synth} if synth else {}),
                **({"codec_mposts": codec_us} if codec_us else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
