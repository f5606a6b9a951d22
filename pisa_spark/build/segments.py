"""Segment stage: postings -> block-encoded immutable index segments.

Physical layout (per FIXTURES.md §3, modeled on the reference's
``block_posting_list`` writer, block_posting_list.hpp:12-50):

  segments(term_id long, block_id long, count int, max_doc_id long,
           max_score float, doc_bytes binary, tf_bytes binary,
           len_bytes binary)

- 128-posting blocks (codec/simdbp.hpp:13 block size);
- ``doc_bytes``: the block's first docID *absolute*, then gaps-1 —
  unlike the reference (whose first gap chains from the previous
  block via the block-max array) every block here is self-contained,
  which lets BMW skip straight into any block without touching its
  neighbor and lets buckets encode independently;
- ``tf_bytes``: tf-1 per posting (same trick as the reference);
- ``len_bytes``: doc_len-1 per posting (doc_len >= 1 whenever a
  posting exists). The reference keeps document lengths WITH the wand
  data (wand_data.hpp:38-117, mmapped next to the index) rather than
  at the coordinator; the Spark shape of that design is doc lengths
  riding inside the blocks, so query kernels never need a
  driver-collected doc-length array or a per-executor broadcast —
  at 10^11+ docs either would be a hard scale-killer. The payload
  costs ~1 varint byte/posting and compresses like tf;
- ``max_score``: per-block BM25 upper bound (the WAND/BMW block-max
  metadata, wand_utils.hpp:23-54), computed in float64 and rounded
  *up* into float32 so pruning bounds stay sound under either score
  precision.

Head-term skew (north rule): Zipf head terms have posting lists far
bigger than one task. Postings are salted into ``doc_id //
salt_bucket_docs`` buckets *before* the (term_id, bucket)
repartition, so no single task ever materializes a full head-term
list; buckets cover disjoint ordered docID ranges, so concatenating
their blocks in (bucket, position) order yields exactly the
docID-sorted list — this replaces the reference's serial
``merge_batches`` (invert.cpp:167-238) with a shuffle-parallel merge.

Encoder: one ``mapInArrow`` pass over each partition's sorted Arrow
batches, like the reference writing every list block by block into
one buffer. ``complete_groups`` re-cuts the batches into tables of
complete (term, bucket) groups (carrying at most one batch-spanning
group), and ``encode_groups`` encodes each table columnar: block
starts, payloads, BM25 scores, impacts and block maxes in whole-table
numpy passes, then one encode call per payload column for
``concat_safe`` codecs (codecs/columns.py). Python work is per batch,
not per group, at any vocabulary size. ``decode_segments`` is the
same shape in reverse.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from pisa_spark.codecs import CODECS
from pisa_spark.codecs.columns import (
    binary_column, decode_column, docs_from_payload, encode_column,
)
from pisa_spark.config import BM25Params, IndexConfig
from pisa_spark.functions.scoring import bm25_score_np


def _round_up_f32(x: np.ndarray) -> np.ndarray:
    f = x.astype(np.float32)
    lower = f.astype(np.float64) < x
    f[lower] = np.nextafter(f[lower], np.float32(np.inf))
    return f


def blocks_per_bucket(cfg: IndexConfig) -> int:
    """block_id stride per salt bucket — must be >= the max possible
    blocks a (term, bucket) group can produce, so bucket-local block
    ids never collide across buckets and (bucket, position) order is
    exactly docID order. Fixed blocks: ceil(bucket/block)+slack;
    variable blocks can in principle be 1 posting each, so the stride
    is the bucket's doc capacity."""
    if cfg.block_partition == "variable":
        return cfg.salt_bucket_docs + 2
    return cfg.salt_bucket_docs // cfg.block_size + 2


def scored_postings(
    postings: DataFrame,
    doc_sizes: DataFrame,
    lexicon: DataFrame,
    num_docs: int,
    avg_len: float,
    lexicon_size: int | None = None,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """postings + the per-posting columns BM25 needs (df, doc_len).

    Postings that already carry ``doc_len`` (build_postings
    ``carry_doc_len=True`` — the full-build paths) skip the
    postings ⨝ doc_sizes join entirely: that join re-shuffles every
    corpus pair on doc_id, the single biggest avoidable byte-move in
    the build. Without the column it stays a doc_id co-partitioned
    big-big join (AQE-planned). The lexicon df join is broadcast only
    when the vocabulary is known small (invert.maybe_broadcast) —
    never force-broadcast a web-scale vocabulary.
    """
    from pisa_spark.build.invert import maybe_broadcast

    lex_side = maybe_broadcast(
        lexicon.select("term_id", "df"), lexicon_size, broadcast_threshold
    )
    if "doc_len" in postings.columns:
        base = postings
    else:
        base = postings.join(doc_sizes.select("doc_id", "doc_len"), "doc_id")
    return (
        base.join(lex_side, "term_id")
        .select("term_id", "doc_id", "tf", "doc_len", "df")
    )


_SEGMENT_SCHEMA = pa.schema([
    ("term_id", pa.int64()), ("block_id", pa.int64()),
    ("count", pa.int32()), ("max_doc_id", pa.int64()),
    ("max_score", pa.float32()), ("doc_bytes", pa.binary()),
    ("tf_bytes", pa.binary()), ("len_bytes", pa.binary()),
])


def _run_positions(new: np.ndarray) -> np.ndarray:
    """Position of every element within its run; ``new`` marks run
    starts (``new[0]`` must be True)."""
    idx = np.arange(len(new))
    return idx - np.maximum.accumulate(np.where(new, idx, 0))


def encode_groups(groups: pa.Table, cfg: IndexConfig, bm25: BM25Params,
                  num_docs: int, avg_len: float,
                  index_max_score: float | None = None) -> pa.RecordBatch:
    """Encode a table of COMPLETE (term_id, bucket) groups, rows sorted
    by (term_id, bucket, doc_id), into segment rows in one columnar
    pass: group and block starts from one key-change mask, payloads,
    scores and block maxes over the whole table, then one encode call
    per payload column for concat_safe codecs (codecs/columns.py).
    Only ``block_partition="variable"`` runs per group: its starts come
    from the per-list score-optimal DP."""
    def col(name, dtype):
        return groups.column(name).to_numpy().astype(dtype, copy=False)

    term, bucket = col("term_id", np.int64), col("bucket", np.int64)
    docs = col("doc_id", np.uint64)
    tfs, dls = col("tf", np.uint64), col("doc_len", np.uint64)
    scores = bm25_score_np(
        col("tf", np.float64), col("df", np.float64),
        col("doc_len", np.float64), float(num_docs), float(avg_len),
        k1=bm25.k1, b=bm25.b,
    )
    if cfg.quantize_bits:
        # impact quantization: the tf slot carries q instead of tf
        q = np.ceil(
            scores * float(1 << cfg.quantize_bits) / float(index_max_score)
        ).astype(np.uint64)
        tfs = np.maximum(q, 1)
        scores = tfs.astype(np.float64)  # block maxes bound q sums
    n = len(term)
    new = np.ones(n, dtype=bool)
    new[1:] = (term[1:] != term[:-1]) | (bucket[1:] != bucket[:-1])
    if cfg.block_partition == "variable":
        # Score-optimal boundaries (VSBMW DP, build/varblock.py): cuts
        # follow the score distribution instead of a fixed stride, so
        # each block's max is a tight bound.
        from pisa_spark.build.varblock import score_opt_partition

        g = np.append(np.flatnonzero(new), n)
        starts = np.concatenate([
            g0 + np.concatenate(([0], score_opt_partition(
                scores[g0:g1], fixed_cost=cfg.block_lambda)[:-1]))
            for g0, g1 in zip(g[:-1].tolist(), g[1:].tolist())
        ]).astype(np.int64)
    else:
        starts = np.flatnonzero(_run_positions(new) % cfg.block_size == 0)
    ends = np.append(starts[1:], n)
    # payload: gaps-1 everywhere, block-leading values absolute (each
    # block self-contained; group starts are block starts)
    payload = np.empty(n, dtype=np.uint64)
    payload[1:] = docs[1:] - docs[:-1] - 1
    payload[starts] = docs[starts]
    encode, _ = CODECS[cfg.codec]
    return pa.RecordBatch.from_arrays([
        term[starts],
        bucket[starts] * blocks_per_bucket(cfg) + _run_positions(new[starts]),
        (ends - starts).astype(np.int32),
        docs[ends - 1].astype(np.int64),
        _round_up_f32(np.maximum.reduceat(scores, starts)),
        encode_column(payload, starts, encode),
        encode_column(tfs - 1, starts, encode),
        encode_column(dls - 1, starts, encode),
    ], schema=_SEGMENT_SCHEMA)


def complete_groups(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.Table]:
    """Re-cut a partition's (term_id, bucket, doc_id)-sorted Arrow
    batches into tables of complete (term_id, bucket) groups: each
    batch's rows up to its last key change complete every group they
    touch, the trailing (possibly batch-spanning) group is carried
    forward. The carry is a list of slices concatenated only when its
    group completes (no quadratic recopying for head-term groups that
    span many batches), and it holds ONE group, so peak memory stays
    bounded by one salt bucket."""
    carry: list[pa.Table] = []  # zero-copy slices of ONE group
    carry_key = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        t = rb.column("term_id").to_numpy()
        b = rb.column("bucket").to_numpy()
        chg = np.flatnonzero((t[1:] != t[:-1]) | (b[1:] != b[:-1])) + 1
        table = pa.Table.from_batches([rb])
        if len(chg):
            last = int(chg[-1])
            yield pa.concat_tables(carry + [table.slice(0, last)])
            carry = []
        else:
            last = 0
            if carry and (t[0], b[0]) != carry_key:
                yield pa.concat_tables(carry)
                carry = []
        carry.append(table.slice(last))
        carry_key = (t[last], b[last])
    if carry:
        yield pa.concat_tables(carry)


def build_segments(
    scored: DataFrame,
    num_docs: int,
    avg_len: float,
    index_cfg: IndexConfig | None = None,
    bm25: BM25Params | None = None,
    index_max_score: float | None = None,
    term_meta: DataFrame | None = None,
) -> DataFrame:
    """scored postings -> segments (see module docstring for layout).

    With ``index_cfg.quantize_bits`` set, the tf slot stores the
    linearly quantized impact instead (``ceil(score * 2^bits /
    index_max_score)``, reference linear_quantizer.hpp:8-26 +
    quantized build src/compress.cpp:72-91); ``index_max_score`` (the
    index-wide max term weight, wand_data ``index_max_term_weight``)
    is then required. Query-side the ``quantized`` scorer returns the
    stored impact as-is (scorer/quantized.hpp).

    With ``index_cfg.compress_blockmax`` set, block maxes are stored
    as u8 ``max_score_q`` relative to each term's max in
    ``term_meta`` (``compress_block_maxes``), which is then required."""
    cfg = index_cfg or IndexConfig()
    params = bm25 or BM25Params()
    if cfg.quantize_bits and not index_max_score:
        raise ValueError("quantized build requires index_max_score")
    if cfg.compress_blockmax and term_meta is None:
        raise ValueError("compressed block maxes require term_meta")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for groups in complete_groups(batches):
            yield encode_groups(groups, cfg, params, num_docs, avg_len,
                                index_max_score)

    salted = scored.withColumn(
        "bucket", (F.col("doc_id") / F.lit(cfg.salt_bucket_docs)).cast("long")
    )
    parted = salted.repartition("term_id", "bucket").sortWithinPartitions(
        "term_id", "bucket", "doc_id"
    )
    segments = parted.mapInArrow(kernel, from_arrow_schema(_SEGMENT_SCHEMA))
    if cfg.compress_blockmax:
        segments = compress_block_maxes(segments, term_meta)
    return segments


def compress_block_maxes(segments: DataFrame, term_meta: DataFrame) -> DataFrame:
    """f32 per-block max_score -> u8 ``max_score_q`` relative to the
    term's global max (wand_data_compressed parity,
    wand_data_compressed.hpp quantized payload).

    q = min(255, floor(b * 255 / tmax) + 2): the floor+2 dominates
    ceil of the exact ratio even after f64 rounding, so the recovered
    bound q/255 * tmax is ALWAYS >= the true block max (one-sided,
    like every other bound in the engine); q == 255 recovers tmax
    itself, which bounds every block. Query-side recovery happens in
    the executor from the term_meta max the kernels already join."""
    tmax = term_meta.select("term_id", F.col("max_score").alias("__tmax"))
    q = F.least(
        F.lit(255),
        (F.floor(F.col("max_score") * 255.0 / F.col("__tmax")) + 2).cast("int"),
    )
    return (
        segments.join(tmax, "term_id")
        .withColumn("max_score_q", q)
        .drop("max_score", "__tmax")
    )


def build_term_meta(scored: DataFrame, num_docs: int, avg_len: float,
                    bm25: BM25Params | None = None) -> DataFrame:
    """Per-term WAND metadata (wand_data.hpp:159-169): df,
    occurrence_count, max BM25 score. Small (|vocab| rows) —
    broadcastable to query kernels."""
    params = bm25 or BM25Params()
    from pisa_spark.functions.scoring import bm25_sql_expr

    expr = bm25_sql_expr(
        tf="tf", df="df", doc_len="doc_len",
        num_docs=str(float(num_docs)), avg_len=str(float(avg_len)),
        k1=params.k1, b=params.b,
    )
    return (
        scored.withColumn("score", F.expr(expr))
        .groupBy("term_id")
        .agg(
            F.max("df").alias("df"),
            F.sum("tf").cast("long").alias("occurrence_count"),
            F.max("score").alias("max_score"),
        )
    )


def decode_segments(segments: DataFrame, index_cfg: IndexConfig | None = None,
                    include_len: bool = False) -> DataFrame:
    """segments -> postings(term_id, doc_id, tf[, doc_len]): the
    verification decode pass (util/verify_collection.hpp,
    compress.cpp:108-110). Every block is self-contained, so this is
    a stateless mapInArrow, columnar per batch: one decode call per
    payload column for concat_safe codecs (per block from zero-copy
    slices otherwise) and one segmented cumsum rebuilding docIDs.
    ``include_len`` also decodes the inline per-posting doc lengths
    (checked against doc_sizes in tests)."""
    cfg = index_cfg or IndexConfig()
    _, decode = CODECS[cfg.codec]
    payloads = ["doc_bytes", "tf_bytes"] + (["len_bytes"] if include_len else [])
    fields = [("term_id", pa.int64()), ("doc_id", pa.int64()), ("tf", pa.int32())]
    if include_len:
        fields.append(("doc_len", pa.int32()))
    schema = pa.schema(fields)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            counts = rb.column("count").to_numpy().astype(np.int64)
            doc, *rest = (
                decode_column(binary_column(rb, c), None, counts, decode)
                for c in payloads
            )
            yield pa.RecordBatch.from_arrays([
                np.repeat(rb.column("term_id").to_numpy(), counts),
                docs_from_payload(doc, counts),
                *((v + 1).astype(np.int32) for v in rest),
            ], schema=schema)

    return segments.select("term_id", "count", *payloads).mapInArrow(
        kernel, from_arrow_schema(schema))
