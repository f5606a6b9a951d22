"""Sequence packing: concat-and-chunk documents into fixed-length
training sequences (the standard GPT/T5-style packing step — public
papers; no reference analogue, web-pipeline scope like the rest of
datapipe).

Semantics: documents form one global token stream in ``doc_id``
order; training sequence ``s`` covers stream positions
``[s*L, (s+1)*L)``. A document spanning a boundary is SPLIT across
consecutive sequences (concat-and-chunk — no padding waste, the
common pretraining layout). The output is the pack PLAN — one row
per (document, sequence) overlap with exact in-document token
ranges — which a writer joins back to token arrays to emit shards;
the plan is what must be exact, distributed, and reproducible.

Scale shape (100 TB): the only global coordination is the exclusive
prefix sum of per-doc token counts, computed the assign_global_ids
way — range-shuffle ONE small (doc_id, n_tokens) projection, collect
per-partition sums (read back as literal offsets), then a
per-partition window —
never a single-partition global window (a naive
``SUM() OVER (ORDER BY doc_id)`` puts the whole corpus in one task).
Everything downstream is per-row ``sequence`` + ``explode`` Catalyst
math; rows produced = docs + boundary crossings = corpus tokens / L
extra rows at most.

Cross-engine: all math is integer (token counts, floor division);
the DuckDB oracle uses the plain window prefix sum — tiny-scale
exactness against the distributed form is the gate contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pisa_spark.build.ids import partition_offsets, pinned_ranges

SEQ_LEN = 2048  # default training sequence length (tokens)


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str = "offset",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = sum of ``weight_col`` over all rows STRICTLY
    before this row in ``order_col`` order (exclusive prefix sum),
    without a single-partition window.

    The build/ids.assign_global_ids pattern generalized to weights:
    range-partition on the order column (pinned with an eager
    localCheckpoint so the offsets describe the partitioning the
    second job reads — see ids.py for the duplicate-id race this
    prevents), collect per-partition weight sums (partition-count
    rows) into literal offsets (``ids.partition_offsets``), then a
    per-partition window adds local prefix sums. ``order_col`` must be
    unique."""
    ranged = pinned_ranges(df, order_col, num_partitions)
    rows = ranged.groupBy("__pid").agg(
        F.sum(weight_col).alias("__w")
    ).collect()  # tiny: one row per partition
    off = partition_offsets({r["__pid"]: int(r["__w"] or 0) for r in rows})
    w = Window.partitionBy("__pid").orderBy(order_col)
    return (
        ranged.withColumn(
            out_col,
            (off + F.sum(weight_col).over(w) - F.col(weight_col)).cast("long"),
        )
        .drop("__pid")
    )


def doc_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens): whitespace token counts — the same native
    expression as textstats.token_counts' ws_tokens column (the pack
    plan keys off the analyzer a pipeline actually applies; swap the
    expression to repack under a different tokenizer)."""
    return docs.select(
        "doc_id",
        F.expr(
            "CAST(size(filter(split(lower(text), '\\\\s+'), t -> t <> '')) "
            "AS BIGINT)"
        ).alias("n_tokens"),
    )


def seq_span_exprs(seq_len: int):
    """(first_seq, last_seq) Columns over (tok_start, n_tokens):
    exact integer DIV, matching the DuckDB oracle's `//` for ALL long
    values — double `/`-then-cast loses exactness once tok_start
    passes ~2^52, which a 100 TB token stream reaches (pinned at
    2^55 in tests/test_datapipe.py)."""
    l = int(seq_len)
    return (
        F.expr(f"tok_start DIV CAST({l} AS BIGINT)"),
        F.expr(f"(tok_start + n_tokens - 1L) DIV CAST({l} AS BIGINT)"),
    )


def pack_sequences(docs: DataFrame, seq_len: int = SEQ_LEN,
                   counts: DataFrame | None = None) -> DataFrame:
    """The pack plan: (seq_id, doc_id, doc_tok_start, doc_tok_end,
    seq_off) — document ``doc_id``'s tokens
    [doc_tok_start, doc_tok_end) land in sequence ``seq_id`` starting
    at in-sequence offset ``seq_off``. Zero-token docs contribute no
    rows. Every sequence is exactly ``seq_len`` tokens except the
    stream's last.

    ``counts`` overrides the (doc_id, n_tokens) table (pass
    pre-computed counts to share the tokenize scan with other
    signals)."""
    if counts is None:
        counts = doc_token_counts(docs)
    nz = counts.filter(F.col("n_tokens") > 0)
    offs = exclusive_prefix_sum(nz, "doc_id", "n_tokens", "tok_start")
    l = F.lit(int(seq_len)).cast("long")
    first_seq, last_seq = seq_span_exprs(seq_len)
    exploded = offs.select(
        "doc_id", "n_tokens", "tok_start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    start_in_doc = F.greatest(
        F.lit(0).cast("long"), F.col("seq_id") * l - F.col("tok_start")
    )
    end_in_doc = F.least(
        F.col("n_tokens"), (F.col("seq_id") + 1) * l - F.col("tok_start")
    )
    return exploded.select(
        "seq_id",
        "doc_id",
        start_in_doc.alias("doc_tok_start"),
        end_in_doc.alias("doc_tok_end"),
        (F.col("tok_start") + start_in_doc - F.col("seq_id") * l)
        .alias("seq_off"),
    )


def pack_sequences_oracle(seq_len: int = SEQ_LEN) -> str:
    """DuckDB: identical plan via a window prefix sum (fine at oracle
    scale; the Spark side's distributed prefix sum must agree
    value-for-value) over the same whitespace token counts."""
    return f"""WITH cnt AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
nz AS (SELECT * FROM cnt WHERE n_tokens > 0),
offs AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tok_start
  FROM nz
),
ex AS (
  SELECT o.doc_id, o.n_tokens, o.tok_start, s.seq_id
  FROM offs o, LATERAL (
    SELECT unnest(generate_series(o.tok_start // {seq_len},
                                  (o.tok_start + o.n_tokens - 1)
                                    // {seq_len})) AS seq_id
  ) s
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       doc_id,
       CAST(GREATEST(0, seq_id * {seq_len} - tok_start) AS BIGINT)
         AS doc_tok_start,
       CAST(LEAST(n_tokens, (seq_id + 1) * {seq_len} - tok_start)
            AS BIGINT) AS doc_tok_end,
       CAST(tok_start + GREATEST(0, seq_id * {seq_len} - tok_start)
            - seq_id * {seq_len} AS BIGINT) AS seq_off
FROM ex"""


def materialize_sequences(docs: DataFrame, plan: DataFrame | None = None,
                          seq_len: int = SEQ_LEN) -> DataFrame:
    """(seq_id, n_tokens, tokens array<string>): the actual packed
    training sequences — the pack plan joined back to per-doc token
    arrays, chunks sliced and stitched in seq_off order. The shard
    writer's last step before serialization.

    Scale shape: tokenize is a per-row native expression; the join is
    plan ⨝ docs on doc_id (co-partitioned hash join); the stitch is
    one groupBy(seq_id) whose groups are bounded by seq_len tokens —
    never corpus-proportional state. ``plan`` defaults to
    pack_sequences(docs, seq_len); pass a precomputed plan to share
    it with audits."""
    if plan is None:
        plan = pack_sequences(docs, seq_len=seq_len)
    toks = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), '\\\\s+'), t -> t <> '')"
        ).alias("toks"),
    )
    chunks = (
        plan.join(toks, "doc_id")
        .select(
            "seq_id", "seq_off",
            # slice() is 1-based; length = end - start
            F.expr(
                "slice(toks, CAST(doc_tok_start + 1 AS INT), "
                "CAST(doc_tok_end - doc_tok_start AS INT))"
            ).alias("chunk"),
        )
    )
    stitched = (
        chunks.groupBy("seq_id")
        .agg(
            F.flatten(
                F.expr("transform(array_sort(collect_list("
                       "struct(seq_off, chunk))), x -> x.chunk)")
            ).alias("tokens")
        )
    )
    return stitched.select(
        "seq_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        "tokens",
    )
