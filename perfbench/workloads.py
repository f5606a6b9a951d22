"""The benchmark's workloads.

Each workload has four phases, driven by run.py:

- ``setup(rep)``: generate this seed's inputs with ``pisa_spark.corpus``
  and write them to parquet. Repeated; the median is ``setup_s``.
- ``prepare()``: untimed warm-up and the references every check
  compares against (a reference build, the exhaustive query oracle).
- ``op(i)``: one measured operation through the public entry points.
  Returns what ``check`` needs.
- ``check(result)``: True when the operation's output is right.

``layers()`` returns the per-layer numbers of the traced run; it may
run extra probes, which happen after the measured operations and
outside their spans.
"""

from __future__ import annotations

import functools
import shutil
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

from spans import median, percentile, timed

N_DOCS = 4000
N_QUERIES = 600
K = 10
PROBE_REPS = 3
# the first batches after the base build still run slow (worker and JIT
# warm-up), so two are untimed
WARMUP_BATCHES = 2

BUILD_STAGES = ("docs", "term_ids", "stats", "postings", "lexicon",
                "term_meta", "segments")


class Context:
    """What every workload needs: the session, a scratch dir, the
    seed and the tracer."""

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer


def _noop_write(df) -> None:
    """Force every column of ``df`` (count() would prune payloads)."""
    df.write.format("noop").mode("overwrite").save()


def _write_pages(ctx: Context, path: Path) -> None:
    from pisa_spark.corpus import synth_pages

    synth_pages(ctx.spark, N_DOCS, seed=ctx.seed).write.mode(
        "overwrite").parquet(str(path))


class BuildBatch:
    """Full checkpointed build of the seeded pages into a fresh dir."""

    name = "build_batch"
    items = N_DOCS

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.pages_path = ctx.work / "pages"
        self.reports: list[dict] = []

    def setup(self, rep: int) -> None:
        _write_pages(self.ctx, self.pages_path)
        self.n_input = self.ctx.spark.read.parquet(str(self.pages_path)).count()

    def _build(self, out: Path):
        from pisa_spark.build.pipeline import BuildPipeline
        from pisa_spark.config import EngineConfig

        pages = self.ctx.spark.read.parquet(str(self.pages_path))
        pipe = BuildPipeline(self.ctx.spark, str(out), EngineConfig(),
                             input_desc={"seed": self.ctx.seed, "docs": N_DOCS})
        tr = self.ctx.tracer
        with tr.span("build.pipeline.run"):
            index = pipe.run(pages)
        with tr.span("build.force"):
            index.segments.count()
        return pipe, index, out

    def prepare(self) -> None:
        pipe, index, out = self._build(self.ctx.work / "build_ref")
        stages = pipe.report()["stages"]
        self.ref_rows = {s: stages[s]["n_rows"] for s in ("postings", "segments")}
        if not self._valid(stages, index):
            raise RuntimeError("reference build failed its own checks")
        shutil.rmtree(out)

    def op(self, i: int):
        return self._build(self.ctx.work / f"build_{i}")

    def _valid(self, stages: dict, index) -> bool:
        tf_sum = index.postings.agg(F.sum("tf")).collect()[0][0]
        return (
            stages["docs"]["n_rows"] == self.n_input
            and tf_sum == index.collection_len
            and all(stages[s]["n_rows"] == n for s, n in self.ref_rows.items())
        )

    def check(self, result) -> bool:
        pipe, index, out = result
        report = pipe.report()
        self.reports.append(report)
        ok = self._valid(report["stages"], index)
        shutil.rmtree(out)
        return ok

    def layers(self) -> dict:
        walls = {s: [] for s in BUILD_STAGES}
        gaps = []
        for rep, run_wall in zip(self.reports, self._run_walls()):
            st = rep["stages"]
            for s in BUILD_STAGES:
                walls[s].append(st[s]["wall_s"])
            gaps.append(run_wall - sum(st[s]["wall_s"] for s in st))
        last = self.reports[-1]["stages"]
        out = {f"build.{s}.wall_s": median(v) for s, v in walls.items()}
        out["build.driver_gap_s"] = median(gaps)
        for s in ("postings", "segments"):
            out[f"build.{s}.rows"] = last[s]["n_rows"]
            out[f"build.{s}.bytes"] = last[s]["n_bytes"]
        return out

    def _run_walls(self) -> list[float]:
        spans = self.ctx.tracer.spans
        return [s["end"] - s["start"] for s in spans
                if s["name"] == "build.pipeline.run" and s["request"] is not None]


class QueryBatch:
    """Seeded Zipf queries through batch-major top-k against the
    file-backed index that prepare() builds."""

    name = "query_batch"
    items = N_QUERIES

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.pages_path = ctx.work / "pages"
        self.queries_path = ctx.work / "queries"

    def setup(self, rep: int) -> None:
        from pisa_spark.corpus import synth_queries

        spark = self.ctx.spark
        _write_pages(self.ctx, self.pages_path)
        spark.createDataFrame(
            synth_queries(N_QUERIES, seed=self.ctx.seed),
            schema="query_id string, terms array<string>, k int",
        ).write.mode("overwrite").parquet(str(self.queries_path))
        spark.read.parquet(str(self.pages_path)).count()
        spark.read.parquet(str(self.queries_path)).count()

    def _parse(self):
        from pisa_spark.query.parser import parse_queries

        q = self.ctx.spark.read.parquet(str(self.queries_path))
        return parse_queries(q, self.index.lexicon, pre_tokenized=True)

    def prepare(self) -> None:
        from pisa_spark.build.pipeline import BuildPipeline
        from pisa_spark.config import EngineConfig
        from pisa_spark.query.thresholds import quality_ranked

        spark = self.ctx.spark
        pipe = BuildPipeline(spark, str(self.ctx.work / "index"), EngineConfig(),
                             input_desc={"seed": self.ctx.seed, "docs": N_DOCS})
        self.index = pipe.run(spark.read.parquet(str(self.pages_path)))
        self.segment_rows_total = pipe.report()["stages"]["segments"]["n_rows"]
        self.parsed = self._parse().persist()
        self.parsed.count()
        self.expected = {
            (r["query_id"], r["rn"], r["doc_id"])
            for r in quality_ranked(self.index, self.parsed, K).collect()
        }
        for _ in range(WARMUP_BATCHES):
            if not self.check(self.op(-1)):
                raise RuntimeError("warm-up batch disagrees with the oracle")

    def op(self, i: int):
        from pisa_spark.query.executor import topk_search_batch

        with self.ctx.tracer.span("query.executor.topk_search_batch"):
            return topk_search_batch(
                self.index, self.parsed, algorithm="adaptive", k=K
            ).collect()

    def check(self, rows) -> bool:
        got = {(r["query_id"], r["rank"], r["doc_id"]) for r in rows}
        return len(got) == len(rows) and got == self.expected

    def layers(self) -> dict:
        from pisa_spark.query import executor as ex

        spark, tr = self.ctx.spark, self.ctx.tracer
        out = {}
        parse = []
        for _ in range(PROBE_REPS):
            with tr.span("probe.query.parser"):
                parse.append(timed(lambda: self._parse().count()))
        out["query.parser.parse_s"] = median(parse)

        pruned = ex._pruned_segments(self.index, self.parsed, None)
        out["query.executor.scan_prune_on"] = int(pruned is not self.index.segments)
        with tr.span("probe.query.segment_scan"):
            _noop_write(pruned)
        out["query.executor.segment_rows_total"] = self.segment_rows_total

        # The cogroup inputs of topk_search_batch, rebuilt from the same
        # helpers so the boundary and kernel layers can be timed alone.
        batches = 2 * spark.sparkContext.defaultParallelism
        batch_expr = F.pmod(F.xxhash64("query_id"), F.lit(batches)).cast("int")
        bt = self.parsed.select(batch_expr.alias("batch_id"), "term_id").distinct()

        def rows():
            return ex._factored_segment_rows(
                self.index, self.parsed, bt, None
            ).repartition(batches, "batch_id")

        def cogroup_noop():
            pq = self.parsed.withColumn("batch_id", batch_expr).repartition(
                batches, "batch_id")
            return rows().groupBy("batch_id").cogroup(pq.groupBy("batch_id")) \
                .applyInPandas(_empty_frame, "batch_id int")

        scan, cog = [], []
        for _ in range(PROBE_REPS):
            with tr.span("probe.query.scan_join"):
                scan.append(timed(lambda: _noop_write(rows())))
            with tr.span("probe.query.boundary"):
                cog.append(timed(lambda: _noop_write(cogroup_noop())))
        out["query.executor.scan_join_s"] = median(scan)
        out["query.executor.boundary_s"] = median(cog) - median(scan)

        with tr.span("probe.query.kernels"):
            left = rows().toPandas()
            right = self.parsed.withColumn("batch_id", batch_expr).toPandas()
            out.update(self._replay(left, right))
        return out

    def _replay(self, left, right) -> dict:
        """Serial in-process replay of every batch through the
        executor's own proto build and query walk, with decode timed
        and counted (kernels.Profiler)."""
        from pisa_spark.codecs import CODECS
        from pisa_spark.query import executor as ex
        from pisa_spark.query import kernels as kn

        idx = self.index
        decode = CODECS[idx.config.index.codec][1]
        stats = kn.Stats(num_docs=float(idx.num_docs), avg_len=float(idx.avg_len),
                         k1=idx.config.bm25.k1, b=idx.config.bm25.b,
                         quantized=bool(idx.config.index.quantize_bits))
        decode_s = [0.0]

        @functools.wraps(decode)
        def timed_decode(*a, **kw):
            t0 = time.perf_counter()
            try:
                return decode(*a, **kw)
            finally:
                decode_s[0] += time.perf_counter() - t0

        routed = {"taat": 0, "all": 0}
        adaptive = ex.RANKED_KERNELS["adaptive"]

        def kernel(terms, k, stats, init_threshold=0.0):
            routed["all"] += 1
            if kn.choose_algorithm(terms, k, init_threshold) == "ranked_or":
                routed["taat"] += 1
            return adaptive(terms, k, stats, init_threshold=init_threshold)

        kn.Profiler.reset()
        proto_s = walk_s = 0.0
        per_batch, per_query, results = [], [], set()
        payload = 0
        for b, lg in left.groupby("batch_id"):
            rg = right[right["batch_id"] == b]
            payload += int(sum(lg[c].map(len).sum()
                               for c in ("doc_bytes", "tf_bytes", "len_bytes")))
            t0 = time.perf_counter()
            protos, base_bm = ex._build_batch_protos(lg, timed_decode)
            t1 = time.perf_counter()
            walk = ex._walk_batch_queries(rg, protos, base_bm, kernel, stats)
            while True:
                tq = time.perf_counter()
                try:
                    qid, docs, _ = next(walk)
                except StopIteration:
                    break
                per_query.append(time.perf_counter() - tq)
                results.update((qid, r + 1, int(d)) for r, d in enumerate(docs))
            t2 = time.perf_counter()
            proto_s += t1 - t0
            walk_s += t2 - t1
            per_batch.append(t2 - t0)
        if results != self.expected:
            raise RuntimeError("in-process kernel replay disagrees with the oracle")
        shipped = len(left)
        return {
            "query.executor.payload_bytes_shipped": payload,
            "query.executor.batch_skew": max(per_batch) / median(per_batch),
            "query.kernels.proto_s": proto_s,
            "query.kernels.walk_s": walk_s,
            "query.kernels.decode_s": decode_s[0],
            "query.kernels.blocks_decoded": kn.Profiler.blocks,
            "query.kernels.blocks_shipped": shipped,
            "query.kernels.block_decode_frac": kn.Profiler.blocks / shipped,
            "query.kernels.postings_decoded": kn.Profiler.postings,
            "query.kernels.route_taat_frac": routed["taat"] / routed["all"],
            "query.kernels.query_us_p50": percentile(per_query, 50) * 1e6,
            "query.kernels.query_us_p90": percentile(per_query, 90) * 1e6,
        }


def _empty_frame(left, right):
    import pandas as pd

    return pd.DataFrame({"batch_id": pd.Series([], dtype="int32")})


WORKLOADS = {w.name: w for w in (BuildBatch, QueryBatch)}


def codec_gauge(repo: Path, postings: int = 50_000) -> dict:
    """Single-process encode/decode throughput of the configured codec
    (scripts/codec_perftest.bench_codec): no Spark, so it reads the
    machine's CPU weather as much as the code."""
    sys.path.insert(0, str(repo / "scripts"))
    try:
        from codec_perftest import bench_codec, synth_gaps
    finally:
        sys.path.pop(0)
    from pisa_spark.codecs import CODECS
    from pisa_spark.config import EngineConfig

    codec = EngineConfig().index.codec
    r = bench_codec(codec, *CODECS[codec], synth_gaps(postings), repeats=5)
    return {"codec": codec, "enc_mposts": r["enc_mposts"], "dec_mposts": r["dec_mposts"]}

