"""Recursive graph bisection docID reordering (BP).

Reference parity: ``recursive_graph_bisection.hpp:160-340`` (Dhulipala
et al., "Compressing Graphs and Indexes with Recursive Graph
Bisection", KDD 2016), the reference's ``reorder-docids
--recursive-graph-bisection``. Minimizes the log-gap cost of the
inverted index (evaluate_collection_ordering / ``log_gap_cost`` gate
entry is the objective this optimizes).

Algorithm, level by level (this is the reference's recursion unrolled
breadth-first — every tree node at one depth processes in the same
Spark job, which is exactly the parallelism the reference gets from
TBB, minus the shared-memory coupling):

  1. inside every node (``label``), docs sort by doc_id and split at
     the median into sides L/R (document_range::split);
  2. ``iterations`` times (process_partition): per-term side degrees,
     per-doc move gains via the expb formula
     (compute_move_gains_caching), sort each side by gain desc, and
     swap the r-th best L doc with the r-th best R doc while the
     pair's combined gain is positive (swap(), whose early break
     equals filtering on the non-increasing pair-gain sum);
  3. children become labels 2l and 2l+1; recurse until ``depth``.

Gain formula (bp::expb decoded from its SSE lanes):

    expb(l1, l2, d1, d2) = d1*l1 - d1*log2(d1+1) + d2*l2 - d2*log2(d2+1)
    term_gain = expb(log2 n_from, log2 n_to, fd, td)
              - expb(log2 n_from, log2 n_to, fd-1, td+1)

computed here as native Catalyst LOG2 arithmetic (the reference uses
a 4096-entry lookup approximation; we use exact log2 — same algorithm,
slightly different tie decisions).

Everything is DataFrame-native: degrees = one groupBy, gains = one
join + aggregation, swaps = a distributed in-group rank
(_grouped_ranks — at level 0 a node side is HALF THE CORPUS, so
every rank that a naive window would compute in one task instead
range-partitions on (group, key) and only windows within a Spark
partition) plus one bounded 2-row-pair window. No driver-side state,
no Python in the loop; per level the working set re-materializes via
an eager localCheckpoint to keep the plan flat. Cost: O(depth *
iterations) shuffles over the forward index — BP is an expensive
offline job in the reference too (hours on large corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _grouped_ranks(d: DataFrame, group_cols: list[str],
                   order_cols: list, rank_col: str) -> DataFrame:
    """row_number() OVER (PARTITION BY group_cols ORDER BY order_cols)
    without ever holding a whole group in one task — the
    assign_global_ids range-partition pattern generalized to groups:
    range-partition on (group, order) so every group is a contiguous
    run of partitions, count rows per (partition, group) — a
    combine-shrunk aggregate — and turn the counts into per-group
    offsets with a window whose partitions hold at most one row per
    Spark partition. The only per-row window runs inside one Spark
    partition. BP nodes at shallow levels hold up to the whole corpus
    (label 0 IS the corpus), so a plain per-label window here would be
    a single-task sort of everything.

    The eager localCheckpoint pins the sampled range boundaries
    (spark_partition_id is only stable within one evaluation — the
    ids.py rule)."""
    spark = d.sparkSession
    parts = max(4, spark.sparkContext.defaultParallelism)
    ranged = (
        d.repartitionByRange(parts, *[F.col(c) for c in group_cols],
                             *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    cnt = ranged.groupBy("__pid", *group_cols).agg(F.count("*").alias("__n"))
    # Without group_cols this window is unpartitioned (Spark warns "No
    # Partition Defined"): benign, it runs over ``cnt``, one row per
    # range partition, never over corpus rows.
    wo = (
        Window.partitionBy(*group_cols).orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
        if group_cols
        else Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    offs = cnt.withColumn(
        "__off", F.coalesce(F.sum("__n").over(wo), F.lit(0))
    ).drop("__n")
    wp = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    return (
        ranged.join(offs, ["__pid", *group_cols])
        .withColumn(rank_col, F.col("__off") + F.row_number().over(wp))
        .drop("__pid", "__off")
    )


def _expb(l1: str, l2: str, d1: str, d2: str) -> str:
    return (
        f"({d1}) * {l1} - ({d1}) * LOG2(({d1}) + 1.0D)"
        f" + ({d2}) * {l2} - ({d2}) * LOG2(({d2}) + 1.0D)"
    )


def _swap_rounds(d: DataFrame, iterations: int) -> DataFrame:
    """Run the per-node swap iterations (process_partition,
    recursive_graph_bisection.hpp:233-254) on ``d(label, side,
    doc_id, terms[, n_iters])``.

    ``iterations`` is the loop bound; when a ``n_iters`` column is
    present, a node whose own count is lower stops flipping early
    (per-node iteration counts are what ``--node-config`` lines
    carry). Returns ``d`` with final sides, same columns."""
    per_node = "n_iters" in d.columns
    for _it in range(iterations):
        ex = d.select(
            "label", "side", "doc_id", F.explode("terms").alias("term")
        )
        deg = ex.groupBy("label", "term").agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("dl"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("dr"),
        )
        ns = d.groupBy("label").agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n1"),
        )
        fd = "CASE WHEN side = 0 THEN dl ELSE dr END"
        td = "CASE WHEN side = 0 THEN dr ELSE dl END"
        lf = "LOG2(CASE WHEN side = 0 THEN n0 ELSE n1 END + 1e-9D)"
        lt = "LOG2(CASE WHEN side = 0 THEN n1 ELSE n0 END + 1e-9D)"
        tg = (
            f"({_expb(lf, lt, fd, td)})"
            f" - ({_expb(lf, lt, f'({fd}) - 1', f'({td}) + 1')})"
        )
        gains = (
            ex.join(deg, ["label", "term"])
            .join(ns, "label")
            .withColumn("tg", F.expr(tg))
            .groupBy("label", "side", "doc_id")
            .agg(F.sum("tg").alias("gain"))
        )
        d = d.join(
            gains.select("doc_id", "gain"), "doc_id", "left"
        ).fillna(0.0, ["gain"])
        # rank by gain desc inside (label, side); pair rank r of L
        # with rank r of R; both sides' ranked gains are
        # non-increasing, so "swap while sum > 0" == filter on the
        # pair's gain sum — computed with ONE window over
        # (label, r) (the pair has exactly 2 rows) instead of a
        # split + self-join, so the gains plan evaluates once.
        # The rank itself is distributed (_grouped_ranks): at level 0
        # a side holds HALF THE CORPUS, which a per-(label, side)
        # window would sort in one task.
        wp = Window.partitionBy("label", "r")
        flip = (F.col("pair_cnt") == 2) & (F.col("pair_sum") > 0)
        if per_node:
            flip = flip & (F.col("n_iters") > F.lit(_it))
        d = (
            _grouped_ranks(
                d, ["label", "side"],
                [F.col("gain").desc(), F.col("doc_id").asc()], "r",
            )
            .withColumn("pair_sum", F.sum("gain").over(wp))
            .withColumn("pair_cnt", F.count("*").over(wp))
            .withColumn(
                "side",
                F.when(flip, 1 - F.col("side")).otherwise(
                    F.col("side")
                ),
            )
            .drop("r", "gain", "pair_sum", "pair_cnt")
        )
        # flatten the plan EVERY round — without a checkpoint the
        # per-iteration joins stack into an exponentially growing
        # logical plan
        d = d.localCheckpoint(eager=True)
    return d


def recursive_graph_bisection(
    docs: DataFrame,
    depth: int = 6,
    iterations: int = 8,
) -> DataFrame:
    """docs(doc_id, terms) -> (doc_id, new_doc_id): BP ordering.

    ``depth`` levels of bisection (reference default is
    ceil(log2(n)) - 5), ``iterations`` swap rounds per node
    (reference default 20; gains converge much earlier on small
    nodes)."""
    d = docs.select("doc_id", "terms").withColumn(
        "label", F.lit(0).cast("long")
    )
    for _level in range(depth):
        # split each node at the median of docID order (split());
        # distributed rank — label 0 IS the whole corpus, so a plain
        # per-label window would sort everything in one task
        sizes = d.groupBy("label").agg(F.count("*").alias("n_node"))
        d = (
            _grouped_ranks(d, ["label"], [F.col("doc_id").asc()], "rn")
            .join(sizes, "label")
            .withColumn(
                "side",
                (F.col("rn") > F.floor(F.col("n_node") / 2)).cast("int"),
            )
            .drop("rn", "n_node")
        )
        d = _swap_rounds(d, iterations)
        if iterations <= 0:
            # _swap_rounds checkpoints per round; with zero rounds the
            # level loop would stack a self-join + window per level
            # unchecked (CLAUDE.md: iterative loops MUST checkpoint
            # every iteration) — flatten here instead
            d = d.localCheckpoint(eager=True)
        d = d.withColumn(
            "label", F.col("label") * 2 + F.col("side")
        ).drop("side")

    # final ordering: leaves in label order, docID order inside a leaf
    # (the reference sorts leaf ranges back to identifier order) —
    # one global distributed dense rank over (label, doc_id). The
    # previous two-window form was only bounded when depth tracked
    # log2(n): at 10^12 docs the label-offset table itself is
    # corpus-scale (n/leaf rows) and its global cumulative window was
    # a single task.
    ranked = _grouped_ranks(
        d, [], [F.col("label").asc(), F.col("doc_id").asc()], "rn"
    )
    return ranked.select(
        "doc_id", (F.col("rn") - 1).alias("new_doc_id")
    )


def read_node_config(text: str) -> list[dict]:
    """Parse a ``--node-config`` file (computation_node::from_stream,
    recursive_graph_bisection.hpp:134-146): per line
    ``level iterations left_first left_last right_first right_last
    [cache]``; the trailing cache flag is optional and defaults to
    ``size > 64`` exactly as the reference does (:142-143 — the flag
    only gates the reference's degree-map reuse; here it is parsed
    and carried for parity but the DataFrame form recomputes degrees
    per round regardless)."""
    nodes = []
    for line in text.splitlines():
        parts = line.split()
        if not parts:
            continue
        level, iters, lf, ll, rf, rl = (int(x) for x in parts[:6])
        cache = (
            bool(int(parts[6]))
            if len(parts) > 6
            else (ll - lf) + (rl - rf) > 64
        )
        nodes.append(
            {
                "level": level,
                "iters": iters,
                "lf": lf,
                "ll": ll,
                "rf": rf,
                "rl": rl,
                "cache": cache,
            }
        )
    return nodes


def recursive_graph_bisection_from_config(
    docs: DataFrame, nodes: list[dict]
) -> DataFrame:
    """BP over an EXPLICIT bisection tree (the reference's
    ``reorder-docids --node-config``, reorder_docids.hpp:40-63 +
    tools/app.cpp:338): node ranges are POSITIONS in the document
    array, mutated in place level by level, so ``docs`` must carry
    dense doc_ids 0..n-1 (the assign_global_ids contract) — those are
    the initial positions.

    Per level (processed in ascending level order, the reference's
    sort at :55): every node claims positions [lf,ll) as side 0 and
    [rf,rl) as side 1, runs its own ``iters`` swap rounds, then side-0
    docs re-occupy the left range and side-1 the right (stable in
    prior position order — the reference's in-place swap permutes
    exact slots; any slot order inside a side is equivalent for every
    later level, which only tests range membership, and for the
    log-gap objective). Unclaimed positions pass through untouched.
    Returns (doc_id, new_doc_id) where new_doc_id is the final
    position."""
    d = docs.select(
        "doc_id", "terms", F.col("doc_id").cast("long").alias("pos")
    )
    by_level: dict[int, list[dict]] = {}
    for n in nodes:
        by_level.setdefault(n["level"], []).append(n)
    spark = docs.sparkSession
    for level in sorted(by_level):
        nl = by_level[level]
        # malformed configs with overlapping ranges at one level would
        # silently duplicate docs through the range join — reject them
        # (driver-side: the node table is tiny)
        spans = sorted(
            r for n in nl for r in ((n["lf"], n["ll"]), (n["rf"], n["rl"]))
        )
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            if b0 < a1:
                raise ValueError(
                    f"node-config level {level}: overlapping ranges "
                    f"[{a0},{a1}) and [{b0},{b1})"
                )
        node_df = spark.createDataFrame(
            [
                (i, n["lf"], n["ll"], n["rf"], n["rl"], n["iters"])
                for i, n in enumerate(nl)
            ],
            "label long, lf long, ll long, rf long, rl long, n_iters int",
        )
        # tiny node table (≤ one row per tree node at this level)
        # against the corpus: broadcast range join
        claim = (
            (F.col("pos") >= F.col("lf")) & (F.col("pos") < F.col("ll"))
        ) | ((F.col("pos") >= F.col("rf")) & (F.col("pos") < F.col("rl")))
        joined = d.join(F.broadcast(node_df), claim, "left")
        untouched = joined.where(F.col("label").isNull()).select(
            "doc_id", "terms", "pos"
        )
        claimed = joined.where(F.col("label").isNotNull()).withColumn(
            "side",
            ((F.col("pos") >= F.col("rf")) & (F.col("pos") < F.col("rl")))
            .cast("int"),
        )
        claimed = _swap_rounds(
            claimed, max(n["iters"] for n in nl)
        )
        # side 0 docs fill [lf,ll), side 1 fill [rf,rl), stable by
        # incoming position; swap rounds preserve per-side counts
        # (every flip exchanges one doc of each side). Distributed
        # rank — a root node's side is half the corpus.
        claimed = _grouped_ranks(
            claimed, ["label", "side"], [F.col("pos").asc()], "__r"
        ).select(
            "doc_id",
            "terms",
            (
                F.when(F.col("side") == 0, F.col("lf")).otherwise(
                    F.col("rf")
                )
                + F.col("__r")
                - 1
            ).alias("pos"),
        )
        d = untouched.unionByName(claimed).localCheckpoint(eager=True)
    return d.select("doc_id", F.col("pos").alias("new_doc_id"))
