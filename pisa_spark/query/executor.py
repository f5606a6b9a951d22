"""Distributed query execution: one Arrow boundary, one physical shape.

Every executor runs its kernels inside one kind of Python group: a
``cogroup(...).applyInArrow`` per (query batch, docID bucket)
(_cogroup). The left side carries the batch's DISTINCT term segment
rows within the bucket, the right side the batch's parsed queries.
Each term's payload crosses the wire once per group and decodes once
per group, columnar, straight from the Arrow buffers
(_build_batch_protos); the batch's queries then walk the shared
protos (_walk_batch_queries). This is the amortized shape the
reference gets from its resident index (tools/queries.cpp batch
loop), run range by range with a shared heap (range_query.hpp:8-37).

Buckets are the segment salt buckets, ceil(num_docs /
salt_bucket_docs) of them:

- one bucket: a group is a whole query batch (tools/queries.cpp:
  175-288). Nothing is replicated and nothing merged; the query side
  broadcasts, so Catalyst plans a broadcast-hash join against the big
  segment table — segments never move.
- several buckets: the batch's queries replicate to every (live)
  bucket, each group returns a partial top-k, and a window merges the
  partial heaps per query. This is the 10^12-doc shape: no task ever
  sees a full head-term posting list.

The segment side has one shape for every request (_factored_rows):
``segments ⨝ broadcast(term_meta ⨝ broadcast(query side))``. There
is no per-request scan decision, as the reference answers every query
from its resident index. Building an unbootstrapped request's
DataFrame submits no Spark job, only the caller's action does; a
bootstrapped request first pins its query side with thresholds
(_bootstrapped) and, over several buckets, its live ranges, each
with one eager localCheckpoint. (A per-request term_id
filter on the parquet scan, and segments partitioned by term range
for dynamic partition pruning, were both measured to cost more jobs
or scan tasks than they saved; ROADMAP.md keeps the numbers.)

No group touches any global per-document structure: doc
lengths are encoded inside each segment block (segments.py
``len_bytes``), so there is no driver-side collect and no broadcast
of anything proportional to the corpus — the reference's design of
keeping lengths with the wand data (wand_data.hpp:38-117), in Spark
form.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, Window
from pyspark.sql.pandas.types import from_arrow_schema

from pisa_spark.build.segments import blocks_per_bucket
from pisa_spark.codecs import CODECS
from pisa_spark.codecs.columns import binary_column, decode_column, docs_from_payload
from pisa_spark.functions.scoring import MICRO
from pisa_spark.index import InvertedIndex
from pisa_spark.query.kernels import (
    adaptive_kernel,
    PRUNE_EPS,
    Profiler,
    Stats,
    TermPostings,
    and_kernel,
    block_max_maxscore_kernel,
    block_max_ranked_and_kernel,
    block_max_wand_kernel,
    maxscore_kernel,
    or_kernel,
    ranked_and_kernel,
    ranked_or_kernel,
    wand_kernel,
)

RANKED_KERNELS = {
    # per-query algorithm selection from pre-decode metadata
    # (kernels.choose_algorithm) — latency-only, answers identical
    "adaptive": adaptive_kernel,
    "ranked_or": ranked_or_kernel,
    "ranked_and": ranked_and_kernel,
    "block_max_ranked_and": block_max_ranked_and_kernel,
    "wand": wand_kernel,
    "block_max_wand": block_max_wand_kernel,
    "block_max_maxscore": block_max_maxscore_kernel,
    "maxscore": maxscore_kernel,
}
BOOLEAN_KERNELS = {"and": and_kernel, "or": or_kernel}

# Algorithms whose score is a sum over ALL matching terms of >= 0
# contributions (disjunctive semantics). Only for these is a cached
# k-th best SINGLE-TERM score a lower bound on the query's k-th final
# score. Conjunctive algorithms (ranked_and / block_max_ranked_and)
# restrict candidates to the intersection, whose k-th score can be
# LOWER than one term's k-th score — bootstrapping them with the same
# cache silently drops valid results, so the executors reject it.
DISJUNCTIVE_ALGORITHMS = frozenset(
    {"ranked_or", "wand", "block_max_wand", "block_max_maxscore",
     "maxscore", "adaptive"}  # adaptive dispatches to disjunctive only
)


def _factored_rows(index: InvertedIndex, query_side: DataFrame) -> DataFrame:
    """``index.segments ⨝ broadcast(term_meta ⨝ broadcast(query_side))``
    — the one segment-side shape of every executor. ``query_side`` is
    the parsed queries (query_id, k, term_id, weight) or a batch term
    set; it is tiny, so it broadcasts into the vocabulary-sized
    term_meta (never the reverse), and the result broadcasts into the
    segment scan: the segment table (the 100TB side) is scanned once
    with a broadcast-hash join and never shuffled. Building the frame
    submits no Spark job.

    This is also the ONE place the bound-factor contract is applied
    (every executor's segment side and the live-range metadata both
    come through here, so they can never diverge on pruning bounds).
    Incrementally-built indexes carry a per-term ``bound_factor`` in
    term_meta (streaming/incremental.py): the sound upper-bound
    inflation for terms whose stored blocks were encoded under older
    global stats. It is multiplied into the term max and the block
    maxes here, so stored segments stay immutable while every kernel's
    pruning bounds stay one-sided. Batch indexes have no such column
    (factor 1 by construction)."""
    tm = index.term_meta
    has_factor = "bound_factor" in tm.columns
    cols = ["term_id", "df", F.col("max_score").alias("term_max_score")]
    if has_factor:
        cols.append("bound_factor")
    qt = tm.select(*cols).join(F.broadcast(query_side), "term_id")
    rows = index.segments.join(F.broadcast(qt), "term_id")
    if has_factor:
        rows = rows.withColumn(
            "term_max_score", F.col("term_max_score") * F.col("bound_factor")
        )
        if "max_score" in rows.columns:
            rows = rows.withColumn(
                "max_score", F.col("max_score") * F.col("bound_factor")
            )
        # compressed block maxes (max_score_q) are relative to the
        # term max and inherit its scaling automatically
        rows = rows.drop("bound_factor")
    return rows


# The two hooks below are kept only because perfbench's query probe
# (perfbench/workloads.py) calls them with these positional
# signatures; drop them once the benchmark stops doing so.
def _pruned_segments(index: InvertedIndex, _parsed, _flag) -> DataFrame:
    return index.segments


def _factored_segment_rows(index: InvertedIndex, _parsed, query_side,
                           _flag) -> DataFrame:
    return _factored_rows(index, query_side)


def _stats(index: InvertedIndex) -> Stats:
    """The kernels' collection statistics and BM25 parameters."""
    return Stats(
        num_docs=float(index.num_docs),
        avg_len=float(index.avg_len),
        k1=index.config.bm25.k1,
        b=index.config.bm25.b,
        quantized=bool(index.config.index.quantize_bits),
    )


def _bootstrapped(parsed: DataFrame, algorithm: str, thresholds) -> DataFrame:
    """``parsed`` with each query's ``threshold_micro`` joined on (NULL
    = no bootstrap); conjunctive algorithms are rejected. The join is
    pinned by an eager localCheckpoint (over persist, the repo rule:
    CacheManager entries leak in per-micro-batch callers), since the
    live ranges, the batch term set, the cogroup's query side and the
    merge's per-query k each re-plan it otherwise."""
    if thresholds is None:
        return parsed
    if algorithm not in DISJUNCTIVE_ALGORITHMS:
        raise ValueError(
            f"threshold bootstrapping is unsound for conjunctive "
            f"algorithm {algorithm!r}: the cached k-th single-term "
            f"score can exceed the intersection's k-th score"
        )
    return parsed.join(
        F.broadcast(thresholds), "query_id", "left"
    ).localCheckpoint()


def _with_k(parsed: DataFrame, k: int) -> DataFrame:
    """``parsed`` with a per-query ``k`` column, the ``k`` argument
    where it had none (a cogroup ships the column)."""
    if "k" in parsed.columns:
        return parsed
    return parsed.withColumn("k", F.lit(int(k)))


def topk_search_safe(
    index: InvertedIndex,
    parsed: DataFrame,
    algorithm: str = "block_max_wand",
    k: int = 10,
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """topk_search bootstrapped by POSSIBLY-UNSOUND threshold
    estimates, made exact by the reference's --safe rerun
    (tools/queries.cpp:74-90: a heap that did not fill to k under the
    initial threshold is rerun from threshold 0).

    The sound estimators (kth_score_cache / pairs / combine_did /
    intersection / lookup) never need this — topk_search alone is
    already exact with them. This is the companion of the RISKY
    sampling estimator (thresholds.sampling_kth_thresholds): its
    estimate over-shoots the true k-th score with probability <=
    target_o, in which case the bootstrapped heap under-fills; the
    rerun restores exactness, so the pipeline trades a bounded
    probability of one extra (cheap, per-query) pass for starting
    every heap near its final threshold.

    Under-fill is counted over RELIABLE entries only — those scoring
    >= the query's estimate. The reference's topk_queue never admits
    a sub-threshold entry, so its heap size is that count by
    construction; these kernels admit any doc they happened to score
    (a decoded block can contain sub-threshold docs), and with an
    over-shot threshold such lucky entries could fill the heap while
    a true top-k doc's block was pruned. Counting entries >= the
    estimate restores the WAND invariant the rerun rests on: every
    doc scoring >= theta is provably enumerated (its upper bound
    exceeds theta), so k reliable entries == the exact top-k, and
    fewer means rerun. Scores must be in the engine's micro scale
    (non-quantized indexes — same contract as the estimators).

    Spark shape: one bootstrapped pass over all queries, one
    unbootstrapped pass over ONLY the under-filled queries (per-query
    k respected when the workload carries a k column), stitched by an
    anti-join. The rerun side is workload-sized — never a second full
    pass."""
    first = topk_search(
        index, parsed, algorithm=algorithm, k=k, thresholds=thresholds,
    )
    if thresholds is None:
        return first
    # `first` feeds the under-fill count AND both stitch branches —
    # pin it eagerly so the kernel pass runs once, not per consumer
    # (eager localCheckpoint over persist per the repo rule:
    # CacheManager entries leak in per-micro-batch callers).
    first = first.localCheckpoint()
    reliable = (
        first.join(F.broadcast(thresholds), "query_id", "left")
        .filter(
            F.col("threshold_micro").isNull()
            | (
                F.floor(F.col("score") * F.lit(1e6) + F.lit(0.5))
                >= F.col("threshold_micro")
            )
        )
    )
    counts = reliable.groupBy("query_id").agg(F.count("*").alias("nres"))
    qk = _with_k(parsed, k).select(
        "query_id", F.col("k").alias("qk")
    ).distinct()
    # only a genuinely bootstrapped heap (non-negative estimate) can
    # under-fill from over-pruning; NULL/sentinel-threshold queries
    # already ran unbootstrapped and exact — rerunning them would
    # just repeat the identical pass
    under = (
        qk.join(counts, "query_id", "left")
        .join(F.broadcast(thresholds), "query_id", "left")
        .filter(
            (F.coalesce(F.col("nres"), F.lit(0)) < F.col("qk"))
            & (F.coalesce(F.col("threshold_micro"), F.lit(-1)) >= 0)
        )
        .select("query_id")
    )
    rerun = topk_search(
        index,
        parsed.join(F.broadcast(under), "query_id"),
        algorithm=algorithm, k=k, thresholds=None,
    )
    kept = first.join(F.broadcast(under), "query_id", "left_anti")
    return kept.unionByName(rerun)


def boolean_query(
    index: InvertedIndex,
    parsed: DataFrame,
    op: str = "and",
) -> DataFrame:
    """(query_id, doc_id) Boolean AND/OR result sets, through the same
    cogroup, proto build and query walk as topk_search. The buckets
    are disjoint doc ranges, so their results need no merge."""
    op_kernel = BOOLEAN_KERNELS[op]
    decode = CODECS[index.config.index.codec][1]

    def kernel(terms, k, stats, init_threshold=0.0):  # docs, no scores
        return op_kernel(terms), None

    def run(left: pa.Table, right: pa.Table) -> pa.Table:
        protos, base_bm = _build_batch_protos(left, decode)
        if op == "and":
            right = _complete_queries(right, protos)
        return _results_table(
            _walk_batch_queries(right, protos, base_bm, kernel, None),
            _BOOLEAN_SCHEMA,
        )

    return _cogroup(
        index, _with_k(parsed, 0), None, run, _BOOLEAN_SCHEMA,
        _n_buckets(index),
    )


def live_ranges(rows: DataFrame) -> DataFrame:
    """(query_id, bucket) ranges that can still beat their query's
    threshold — the Catalyst form of wand_data_range.hpp
    compute_live_blocks. ``rows`` is the (segments ⨝ parsed-with-
    thresholds ⨝ bucket) table; a range's score upper bound is the
    sum over query terms of the term's best weighted block-max inside
    the range (micro units, +1 quantization margin exactly like
    _build_batch_protos). Queries with NULL thresholds keep every
    range."""
    if "max_score_q" in rows.columns:  # wand_data_compressed segments
        bm = F.col("max_score_q") / F.lit(255.0) * F.col("term_max_score")
    else:
        bm = F.col("max_score")
    term_ub = rows.groupBy("query_id", "bucket", "term_id").agg(
        (F.max(F.col("weight") * bm) * F.lit(MICRO)
         + F.lit(1.0)).alias("t_ub"),
        F.first("threshold_micro").alias("thr"),
    )
    return (
        term_ub.groupBy("query_id", "bucket")
        .agg(
            F.sum("t_ub").alias("range_ub"),
            F.first("thr").alias("thr"),
        )
        .filter(
            F.col("thr").isNull()
            | (F.col("range_ub") > F.col("thr") - F.lit(float(PRUNE_EPS)))
        )
        .select("query_id", "bucket")
    )


def _merge_partials(
    partial: DataFrame, parsed: DataFrame, k: int
) -> DataFrame:
    """Shared heap merge across buckets (range_query.hpp's single heap
    across ranges, in window form): rank the per-bucket partial top-k
    rows per query and cap at the query's k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    merged = partial.withColumn("rank", F.row_number().over(w))
    if "k" in parsed.columns:
        # Per-query k: each bucket's partial already honored the
        # query's own k, so the merge must cap at the same per-query
        # value (the arg k is only the no-column fallback).
        # Query-count-sized side -> broadcast.
        qk = parsed.select("query_id", F.col("k").alias("merge_k")).distinct()
        merged = merged.join(F.broadcast(qk), "query_id").filter(
            F.col("rank") <= F.col("merge_k")
        )
    else:
        merged = merged.filter(F.col("rank") <= k)
    return merged.select(
        "query_id", F.col("rank").cast("int"), "doc_id", "score"
    )


_PAYLOADS = ("doc_bytes", "tf_bytes", "len_bytes")
_RANKED_SCHEMA = pa.schema([
    ("query_id", pa.string()), ("rank", pa.int32()),
    ("doc_id", pa.int64()), ("score", pa.float64()),
])
_PROFILE_SCHEMA = _RANKED_SCHEMA.append(
    pa.field("blocks_decoded", pa.int64())
).append(pa.field("postings_decoded", pa.int64()))
_BOOLEAN_SCHEMA = pa.schema([("query_id", pa.string()), ("doc_id", pa.int64())])


def _build_batch_protos(left: pa.Table | pd.DataFrame, decode):
    """(protos, base_bm) for one cogroup's distinct term segment rows
    — the per-batch TermPostings prototypes every executor shares,
    with weight-neutral bounds (weight rebound per query via
    dataclasses.replace).

    One columnar pass: rows sort once by (term_id, block_id) and every
    term decodes eagerly — one decode call per payload column for
    self-delimiting codecs, one segmented cumsum rebuilding absolute
    docIDs (codecs/columns.py) — so its proto carries term-level
    (docs, tfs, lens) views plus block offsets, and kernels.Profiler
    counts every decoded block here, once. A group holds one salt
    bucket of each term (build/segments.py), which bounds the decoded
    working set. A pandas frame (in-process callers) is converted
    first."""
    if isinstance(left, pd.DataFrame):
        left = pa.Table.from_pandas(left, preserve_index=False)
    protos: dict[int, TermPostings] = {}
    base_bm: dict[int, np.ndarray] = {}
    if left.num_rows == 0:
        return protos, base_bm
    order = pc.sort_indices(
        left, sort_keys=[("term_id", "ascending"), ("block_id", "ascending")]
    ).to_numpy()

    def col(name, dtype):
        return left.column(name).to_numpy()[order].astype(dtype, copy=False)

    term = col("term_id", np.int64)
    counts = col("count", np.int64)
    df = col("df", np.float64)
    tmax = col("term_max_score", np.float64)
    max_doc = col("max_doc_id", np.uint64)
    if "max_score_q" in left.column_names:
        # wand_data_compressed recovery: u8 relative to term max
        # (quantization rounded up at build -> still one-sided)
        bm = col("max_score_q", np.float64) / 255.0 * tmax
    else:
        bm = col("max_score", np.float64)
    bm_micro = bm * MICRO
    # term t owns sorted rows tb[t]:tb[t + 1]; pcum = postings before row
    tb = np.concatenate(([0], np.flatnonzero(np.diff(term)) + 1, [len(term)]))
    pcum = np.concatenate(([0], np.cumsum(counts)))
    payload, tfs, lens = (
        decode_column(binary_column(left, c), order, counts, decode)
        for c in _PAYLOADS
    )
    tfs += 1
    lens += 1
    docs = docs_from_payload(payload, counts)
    for a in (docs, tfs, lens):
        a.setflags(write=False)  # shared by every query of the batch
    Profiler.blocks += len(order)
    Profiler.postings += int(pcum[-1])
    for t in range(len(tb) - 1):
        r0, r1 = int(tb[t]), int(tb[t + 1])
        tid = int(term[r0])
        base_bm[tid] = bm_micro[r0:r1]
        sl = slice(int(pcum[r0]), int(pcum[r1]))
        # Upper bounds in MICRO units (+1 covers the <=0.5-micro
        # quantization shift) so they stay sound vs micro-int scores.
        protos[tid] = TermPostings(
            term_id=tid,
            df=float(df[r0]),
            weight=1.0,
            max_score=float(tmax[r0]) * MICRO + 1.0,
            block_max_doc=max_doc[r0:r1],
            block_max_score=base_bm[tid] + 1.0,
            block_count=counts[r0:r1],
            decoded=(docs[sl], tfs[sl], lens[sl]),
            block_offsets=pcum[r0:r1 + 1] - pcum[r0],
        )
    return protos, base_bm


def _walk_batch_queries(right: pa.Table | pd.DataFrame, protos, base_bm,
                        kernel, stats):
    """Column-array walk over a batch's parsed rows, sorted by query —
    no per-query groupby/iterrows. Yields (query_id, docs, scores) per
    query: protos rebound to the query's weights (shared decoded
    payloads), threshold bootstrap honored, per-query k from
    the mandatory k column, idf caches shared back into the protos. A
    pandas frame (in-process callers) is converted first."""
    from dataclasses import replace

    if isinstance(right, pd.DataFrame):
        right = pa.Table.from_pandas(right, preserve_index=False)
    r = right.take(pc.sort_indices(right, sort_keys=[("query_id", "ascending")]))
    q_ids = r.column("query_id").to_numpy()
    t_ids = r.column("term_id").to_numpy()
    weights = r.column("weight").to_numpy().astype(np.float64, copy=False)
    ks = r.column("k").to_numpy()
    thr = (
        r.column("threshold_micro").cast(pa.float64()).to_numpy()
        if "threshold_micro" in r.column_names
        else None
    )
    i, n_rows = 0, r.num_rows
    while i < n_rows:
        j = i
        terms = []
        while j < n_rows and q_ids[j] == q_ids[i]:
            proto = protos.get(int(t_ids[j]))
            if proto is not None:
                w = float(weights[j])
                terms.append(replace(
                    proto,
                    weight=w,
                    max_score=w * (proto.max_score - 1.0) + 1.0,
                    block_max_score=w * base_bm[proto.term_id] + 1.0,
                ))
            j += 1
        init = 0.0
        if thr is not None and not np.isnan(thr[i]):
            # estimate is a true lower bound; keep the quantization
            # slack so boundary ties are never pruned
            init = float(thr[i]) - PRUNE_EPS
        docs, scores = kernel(terms, int(ks[i]), stats, init_threshold=init)
        for tp in terms:  # idf grows once, shared thereafter
            if tp.idf_cache is not None:
                protos[tp.term_id].idf_cache = tp.idf_cache
        yield q_ids[i], docs, scores
        i = j


def _results_table(walk, schema: pa.Schema) -> pa.Table:
    """One cogroup's output table from _walk_batch_queries' per-query
    (query_id, docs, scores), typed exactly as ``schema``; a ``rank``
    field gets 1..n within each query, and a schema without ``score``
    (Boolean results) leaves the scores out."""
    q_ids, docs, scores = [], [], []
    for qid, d, sc in walk:
        q_ids.append(qid)
        docs.append(d)
        scores.append(sc)
    n = np.array([len(d) for d in docs], dtype=np.int64)
    cols = {
        "query_id": pa.array(q_ids, pa.string()).take(
            np.repeat(np.arange(len(n)), n)
        ),
        "doc_id": np.concatenate(docs).astype(np.int64) if docs else [],
    }
    if "score" in schema.names:
        cols["score"] = (
            np.concatenate(scores).astype(np.float64) if docs else []
        )
    if "rank" in schema.names:
        cols["rank"] = (
            np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n) + 1
        ).astype(np.int32)
    return pa.table(cols, schema=schema)


def _n_buckets(index: InvertedIndex) -> int:
    """The index's docID buckets: its segment salt buckets, which the
    dense doc ids (build/ids.assign_global_ids; incremental
    generations stack contiguous offsets) fill in order."""
    docs = max(int(index.num_docs), 1)
    return math.ceil(docs / index.config.index.salt_bucket_docs)


def _complete_queries(right: pa.Table, protos) -> pa.Table:
    """``right`` without the queries that miss a term in ``protos``:
    a conjunction is empty over a docID bucket where one of its terms
    has no posting."""
    present = pc.is_in(
        right.column("term_id"), value_set=pa.array(list(protos), pa.int64())
    )
    drop = pc.unique(pc.filter(right.column("query_id"), pc.invert(present)))
    return right.filter(
        pc.invert(pc.is_in(right.column("query_id"), value_set=drop))
    )


def _cogroup(
    index: InvertedIndex,
    parsed: DataFrame,
    batches: int | None,
    run,
    schema: pa.Schema,
    n_buckets: int,
) -> DataFrame:
    """``run(left, right)`` once per (query batch, docID bucket) over
    ``n_buckets`` buckets (_n_buckets, or 1 for whole docID ranges):
    queries hash into ``batches`` batches, and (the batch's distinct
    term segment rows within the bucket) cogroup with (the batch's
    parsed queries) under ``applyInArrow``.

    ``batches`` defaults to ceil(2 x defaultParallelism / buckets).
    At one bucket that is 2x the cores — the sharing/parallelism
    sweet spot measured in BENCH.md (at 3200 queries, sf0.1: 1x par =
    3.7x over one group per query but the largest per-task frames;
    2x = 2.9x; 4x = 2.3x; AQE-uncoalesced 16x = 1.2x): 2x keeps
    working sets half the size of 1x and smooths hash-collision
    stragglers across two waves. At scale buckets are the parallelism
    axis, so batches -> 1 (full payload sharing per bucket).

    With several buckets each query replicates to every bucket (an
    explode — only fixed-width query rows replicate, never payload
    bytes), or, when ``parsed`` carries bootstrap thresholds, only to
    its LIVE buckets (live_ranges), whose per-batch projection also
    drops dead buckets off the segment side before any payload ships.
    At one bucket none of that runs: a group is a whole batch."""
    par = index.segments.sparkSession.sparkContext.defaultParallelism
    if batches is None:
        batches = math.ceil(2 * par / n_buckets)
    batch_expr = F.pmod(F.xxhash64("query_id"), F.lit(batches)).cast("int")
    pq = parsed.withColumn("batch_id", batch_expr)
    # Segments side: DISTINCT terms per batch (this dedup is the whole
    # point) joined with term stats, then broadcast into the segment
    # scan — segments still never shuffle and are never broadcast.
    # batch_id is recomputed from `parsed` (not projected off `pq`) so
    # the cogroup's two sides carry distinct attribute ids.
    bt = parsed.select(batch_expr.alias("batch_id"), "term_id").distinct()
    rows = _factored_rows(index, bt)
    keys = ["batch_id"]
    if n_buckets > 1:
        keys.append("bucket")
        bucket = (
            F.col("block_id") / F.lit(blocks_per_bucket(index.config.index))
        ).cast("long")
        rows = rows.withColumn("bucket", bucket)
        if "threshold_micro" in parsed.columns:
            # Live-range pruning in Catalyst (metadata columns only —
            # the aggregate reads block maxes/weights, so column
            # pruning keeps payload bytes out of this pass). No
            # broadcast hint: at 10^12 docs the live set can be large
            # (AQE broadcasts small live sets on its own).
            live = live_ranges(
                _factored_rows(index, parsed)
                .withColumn("bucket", bucket)
            ).localCheckpoint()
            live_b = live.join(
                pq.select("query_id", "batch_id").distinct(), "query_id"
            ).select(*keys).distinct()
            rows = rows.join(live_b, keys)
            pq = pq.join(live, "query_id")
        else:
            # Every bucket: doc ids are dense, so every real bucket is
            # < n_buckets; `guarded` below fails loudly otherwise.
            pq = pq.withColumn("bucket", F.explode(
                F.sequence(F.lit(0), F.lit(n_buckets - 1)).cast("array<long>")
            ))
    # Explicit repartition on BOTH cogroup sides: the cogroup's
    # required hash distribution is then already satisfied, so no
    # extra shuffle is planned — and the user-specified partition
    # count is exempt from AQE coalescing, which otherwise merges
    # these byte-light but CPU-heavy Python groups onto a fraction of
    # the cores (measured: AQE coalesced 512 batches to 10 tasks).
    # ~One group per partition up to 4x the cores; beyond that the
    # groups of a partition run in sequence inside one task, the right
    # shape when buckets vastly outnumber cores.
    n_parts = max(batches, min(batches * n_buckets, 4 * par))
    rows = rows.repartition(n_parts, *keys)
    pq = pq.repartition(n_parts, *keys)

    def guarded(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows and not right.num_rows:
            # A group with segment rows but no queries: returning empty
            # would silently drop its docs from every result.
            group = {c: left.column(c)[0].as_py() for c in keys}
            raise RuntimeError(
                f"segment group {group} outside the replicated query "
                "range — non-dense doc ids?"
            )
        return run(left, right)

    return rows.groupBy(*keys).cogroup(pq.groupBy(*keys)).applyInArrow(
        guarded, from_arrow_schema(schema)
    )


def topk_search(
    index: InvertedIndex,
    parsed: DataFrame,
    algorithm: str = "block_max_wand",
    k: int = 10,
    thresholds: DataFrame | None = None,
    batches: int | None = None,
    profile: bool = False,
) -> DataFrame:
    """(query_id, rank, doc_id, score), one cogroup group per (query
    batch, docID bucket) (_cogroup). With several buckets each group
    returns a partial top-k and a window merges them per query
    (range_query.hpp's per-range runs, merged instead of sharing one
    heap), so per-task working set = the batch's distinct lists
    WITHIN ONE BUCKET: the salt bucket (at most salt_bucket_docs
    postings per term) is the one bound on decoded memory. A parsed
    frame without a per-query ``k`` column falls back to the ``k``
    argument.

    ``thresholds``: optional (query_id, threshold_micro) sound lower
    bounds (thresholds.estimate_thresholds) that bootstrap each
    kernel's heap threshold — the fork's kth_threshold pipeline, but
    safe by construction (no --safe rerun needed) — and prune dead
    (query, bucket) ranges before any kernel runs. Only valid for
    DISJUNCTIVE_ALGORITHMS (see above): passing thresholds with a
    conjunctive algorithm raises ValueError instead of silently
    dropping intersection results below the single-term bound.

    ``profile``: adds (blocks_decoded, postings_decoded) per query —
    the reference's profile_queries/block_profiler counters — making
    pruning effectiveness measurable (a pruned kernel must touch
    fewer blocks than the exhaustive one on the same query). Profiled
    batches run over the whole docID space, one heap per query like
    the reference's: a bucket's fresh heap cannot skip a list that
    has one block in the bucket. Their protos are the same eager ones
    every request builds; the counts are the blocks and postings each
    query's kernel reads from them (kernels.Profiler read counters).
    At one bucket a group holds its batch's whole decoded lists, not
    one salt bucket of them: profiling is a diagnostic, sized for
    tests, not for production corpora."""
    kernel = RANKED_KERNELS[algorithm]
    decode = CODECS[index.config.index.codec][1]
    stats = _stats(index)
    parsed = _bootstrapped(parsed, algorithm, thresholds)
    n_buckets = 1 if profile else _n_buckets(index)

    def run(left: pa.Table, right: pa.Table) -> pa.Table:
        # left: the group's distinct term segment rows (+ term stats);
        # right: the batch's parsed queries (query_id, k, term_id,
        # weight[, threshold_micro]). Shared proto build + query walk
        # (_build_batch_protos/_walk_batch_queries); one output table.
        protos, base_bm = _build_batch_protos(left, decode)
        if algorithm not in DISJUNCTIVE_ALGORITHMS:
            right = _complete_queries(right, protos)
        if not profile:
            return _results_table(
                _walk_batch_queries(right, protos, base_bm, kernel, stats),
                _RANKED_SCHEMA,
            )
        per_query = []  # (results, blocks, postings) from read deltas

        def profiled(terms, kk, stats, init_threshold=0.0):
            b0, p0 = Profiler.blocks_read, Profiler.postings_read
            docs, scores = kernel(terms, kk, stats, init_threshold=init_threshold)
            per_query.append((
                len(docs), Profiler.blocks_read - b0,
                Profiler.postings_read - p0,
            ))
            return docs, scores

        table = _results_table(
            _walk_batch_queries(right, protos, base_bm, profiled, stats),
            _RANKED_SCHEMA,
        )
        n, blocks, postings = np.array(per_query, np.int64).reshape(-1, 3).T
        return table.append_column(
            "blocks_decoded", pa.array(np.repeat(blocks, n))
        ).append_column("postings_decoded", pa.array(np.repeat(postings, n)))

    schema = _PROFILE_SCHEMA if profile else _RANKED_SCHEMA
    out = _cogroup(
        index, _with_k(parsed, k), batches, run, schema, n_buckets
    )
    return _merge_partials(out, parsed, k) if n_buckets > 1 else out


topk_search_batch = topk_search
