"""Scalable deterministic dense-ID assignment.

The reference assigns docIDs by input order and recommends URL
ordering for web corpora (``reorder_by_feature``,
reorder_docids.hpp:240-266); term IDs are the rank of the
lexicographically sorted term set (forward_index_builder.cpp:85-133).
Both are "row_number over a global sort" — which in naive Spark
(``row_number() over (order by col)``) collapses to ONE partition and
dies at scale.

``assign_global_ids`` is the scalable idiom, all JVM-native:
range-repartition and sort within each range (a distributed sort),
pin that layout with an eager localCheckpoint, count rows per
partition (a partition-count-sized collect), then number every row IN
PLACE as ``offset[pid] + its position inside the partition``. The
offsets are a literal array indexed by partition id
(``partition_offsets``) and the position is the partition-local row
counter of ``monotonically_increasing_id()`` — no window, no second
exchange, no offsets table and no Python anywhere. Deterministic
because range boundaries only affect WHERE a row is numbered, not its
global rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# monotonically_increasing_id() = (partition index << 33) + row
# position inside the partition; the low 33 bits are the position.
_ROW_IN_PARTITION = (1 << 33) - 1


def pinned_ranges(df: DataFrame, order_col: str,
                  num_partitions: int | None = None) -> DataFrame:
    """``df`` range-partitioned and sorted on ``order_col``, tagged with
    its partition id ``__pid``, and materialized NOW.

    Pinning the physical partitioning is load-bearing: offsets
    collected from this frame must describe the SAME partitioning the
    numbering reads — otherwise the range partitioner re-samples on
    the second job and boundaries can shift (observed: duplicate ids).
    localCheckpoint(eager=True) materializes it once and, unlike
    persist() (whose CacheManager entry survives driver GC), is
    released by the ContextCleaner once the frame goes out of scope —
    so per-micro-batch callers (IncrementalIndexer) don't accumulate
    cached partitions forever."""
    # Default to the input's partition count (parallelism-independent:
    # the same input produces the same layout at any core count);
    # defaultParallelism only as a floor for degenerate 1-part inputs.
    spark = df.sparkSession
    parts = num_partitions or max(
        df.rdd.getNumPartitions(),
        spark.sparkContext.defaultParallelism,
    )
    return (
        df.repartitionByRange(parts, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def partition_offsets(totals: dict[int, int]) -> Column:
    """Per row: the sum of ``totals`` over every partition id below the
    row's ``__pid`` (an exclusive prefix sum over partitions; ids
    missing from ``totals`` are empty partitions). A literal array, so
    the offsets need no table, no job and no broadcast join."""
    offsets, acc = [], 0
    for pid in range(max(totals, default=0) + 1):
        offsets.append(F.lit(acc))
        acc += totals.get(pid, 0)
    return F.element_at(
        F.array(*offsets).cast("array<bigint>"), F.col("__pid") + 1
    )


def assign_global_ids(
    df: DataFrame,
    order_col: str,
    id_col: str = "id",
    num_partitions: int | None = None,
    count_out: dict | None = None,
    forbid_null: bool = False,
) -> DataFrame:
    """Add ``id_col`` = 0-based dense rank of ``order_col`` (must be
    unique) without a single-partition window.

    ``count_out``: pass a dict to receive ``{"n_rows": total}`` for
    free — the per-partition offset collect below already knows the
    total, so callers that need the row count (e.g. the lexicon
    broadcast gate) don't have to run a separate count job.

    ``forbid_null=True`` raises if any ``order_col`` value is NULL
    (checked from the same offset collect, no extra job). A NULL key
    violates the uniqueness contract and — for callers that JOIN the
    ids back on the key (forward._with_assigned_ids) — would silently
    drop the row in the inner join instead of failing."""
    ranged = pinned_ranges(df, order_col, num_partitions)
    aggs = [F.count("*").alias("__n")]
    if forbid_null:
        # count(col) skips NULLs, count(*) does not — the difference
        # is the null-key count, from the same partition-sized result
        aggs.append(F.count(F.col(order_col)).alias("__nn"))
    rows = ranged.groupBy("__pid").agg(*aggs).collect()  # tiny
    if forbid_null:
        nulls = sum(int(r["__n"]) - int(r["__nn"]) for r in rows)
        if nulls:
            raise ValueError(
                f"{nulls} NULL {order_col!r} value(s) in id-assignment "
                f"input: {order_col} is the unique key and must be "
                "non-null"
            )
    counts = {r["__pid"]: int(r["__n"]) for r in rows}
    if count_out is not None:
        count_out["n_rows"] = sum(counts.values())

    # The position counter restarts in every task, so it is a row's
    # rank inside its range only while each task reads exactly the
    # checkpoint partition the offsets were counted from, in its
    # stored (sorted) order. A plan that re-partitions the checkpoint
    # before this projection would silently number rows twice — fail
    # the task instead.
    position = F.monotonically_increasing_id().bitwiseAND(
        F.lit(_ROW_IN_PARTITION)
    )
    rid = F.when(
        F.spark_partition_id() == F.col("__pid"),
        partition_offsets(counts) + position,
    ).otherwise(F.raise_error(F.lit(
        "assign_global_ids: checkpoint partitioning changed before "
        "numbering (dense ids would repeat)"
    )))
    return ranged.withColumn(id_col, rid).drop("__pid")
