"""Invert stage: docs -> lexicon, postings, doc sizes, collection stats.

The heart of the reference build (src/invert.cpp). Mapping:

- ``map_to_postings`` (invert.cpp:45-56)  -> ``explode(terms)``
- par sort by (term, doc) (invert.cpp:109) -> shuffle on the groupBy keys
- run-length tf count (invert.cpp:270-296) -> ``groupBy(term, doc).count()``
  — Spark's partial (map-side) + final hash aggregation IS the
  reference's per-batch invert + ``merge_batches`` k-way combine
  (invert.cpp:167-238); no serial merge stage remains.
- ``.sizes`` (invert.cpp:77-83,120-137)    -> ``size(terms)`` projection
- lexicon (forward_index_builder.cpp:85-133) -> distinct terms, dense
  rank by sorted order (assign_global_ids), df from distinct
  (term, doc) pairs.

Scale notes: postings shuffle hash-partitions on (term_id, doc_id) so
Zipf head terms spread across reducers — the skew problem only
appears later when collecting per-term lists, which segments.py
handles with salt buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pisa_spark.build.ids import assign_global_ids


def build_lexicon(docs: DataFrame) -> DataFrame:
    """docs(doc_id, terms) -> lexicon(term, term_id, df).

    term_id = dense rank of lexicographically sorted terms (parity
    with the reference's sorted global term space); df = number of
    distinct docs containing the term.

    Kept as the agreement reference for the ids-first lexicon
    (``test_ids_first_lexicon_matches_standalone``), with one
    corpus-pair shuffle of its own. The build DAG
    (``pipeline.build_dag``) does NOT call this: it goes ids-first —
    ``build_term_ids`` (distinct terms only, a tiny shuffle thanks to
    map-side partial dedup) -> ``build_postings`` (the single
    corpus-pair shuffle) -> ``lexicon_with_df`` (df counted off the
    postings, vocabulary-sized) — so the corpus is exploded and
    pair-shuffled exactly once per build instead of twice. Both
    routes produce value-identical lexicons.
    """
    term_docs = docs.select(
        F.explode("terms").alias("term"), F.col("doc_id")
    ).distinct()
    df_counts = term_docs.groupBy("term").agg(F.count("*").alias("df"))
    lex = assign_global_ids(df_counts, "term", "term_id")
    return lex.select("term", "term_id", "df")


def build_term_ids(
    docs: DataFrame, count_out: dict | None = None
) -> DataFrame:
    """docs(doc_id, terms) -> (term, term_id), df-free.

    ``distinct`` over bare terms partially aggregates map-side, so the
    shuffle carries each task's LOCAL vocabulary (bounded by Heaps'
    law), not corpus pairs — cheap at any corpus size. Same dense
    sorted-rank ids as build_lexicon (assign_global_ids is
    deterministic in the value set, not the partitioning).
    ``count_out`` receives ``{"n_rows": vocabulary size}`` for free
    (assign_global_ids' offset collect)."""
    terms = docs.select(F.explode("terms").alias("term")).distinct()
    # Range over the distinct's planned partition count: left to
    # default, assign_global_ids would read it off ``terms.rdd``, and
    # AQE answers that by RUNNING the explode->distinct map stage
    # outside the query, which then runs it again.
    parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return assign_global_ids(terms, "term", "term_id", num_partitions=parts,
                             count_out=count_out)


def lexicon_with_df(term_ids: DataFrame, postings: DataFrame) -> DataFrame:
    """(term, term_id) + postings -> lexicon(term, term_id, df).

    df = rows per term_id in postings (postings are one row per
    distinct (term, doc) pair by construction) — a vocabulary-sized
    aggregate off the already-materialized postings, replacing
    build_lexicon's corpus-wide distinct(term, doc_id) shuffle."""
    df_counts = postings.groupBy("term_id").agg(F.count("*").alias("df"))
    return term_ids.join(df_counts, "term_id").select("term", "term_id", "df")


def maybe_broadcast(
    df: DataFrame,
    known_rows: int | None,
    broadcast_threshold: int,
) -> DataFrame:
    """Broadcast hint ONLY when the row count is known to be under the
    threshold. ``F.broadcast`` is a hard hint AQE honors, so hinting a
    web-scale vocabulary (billions of distinct tokens) would OOM every
    executor; with no hint Catalyst/AQE picks broadcast vs sort-merge
    from runtime statistics, which is the safe default when the size
    is unknown."""
    if known_rows is not None and broadcast_threshold and known_rows < broadcast_threshold:
        return F.broadcast(df)
    return df


def build_postings(
    docs: DataFrame,
    lexicon: DataFrame,
    lexicon_size: int | None = None,
    broadcast_threshold: int = 1_000_000,
    carry_doc_len: bool = False,
) -> DataFrame:
    """docs ⨝ lexicon -> postings(term_id, doc_id, tf[, doc_len]).

    ``lexicon`` may be a full lexicon or the df-free ``build_term_ids``
    output — only (term, term_id) is read. The join is broadcast only
    when the vocabulary is known to be small (``lexicon_size`` under
    ``broadcast_threshold`` — build_index passes the counted size);
    otherwise a plain join lets AQE choose. tf via hash aggregation
    with map-side partial combine: this groupBy is the build's single
    corpus-pair shuffle.

    ``carry_doc_len=True`` rides ``doc_len`` (functionally dependent
    on doc_id, already on the docs side) through the explode and agg
    for ~8 bytes/pair in this one shuffle — which lets
    ``scored_postings`` skip its postings ⨝ doc_sizes join, i.e. a
    second full corpus-pair shuffle on doc_id. The full builds turn
    it on; default off keeps the minimal public schema.
    """
    cols = [F.col("doc_id"), F.explode("terms").alias("term")]
    aggs = [F.count("*").cast("int").alias("tf")]
    if carry_doc_len:
        cols.append(F.col("doc_len"))
        aggs.append(F.first("doc_len").cast("int").alias("doc_len"))
    exploded = docs.select(*cols)
    lex_side = maybe_broadcast(
        lexicon.select("term", "term_id"), lexicon_size, broadcast_threshold
    )
    joined = exploded.join(lex_side, "term")
    return joined.groupBy("term_id", "doc_id").agg(*aggs)


def build_doc_sizes(docs: DataFrame) -> DataFrame:
    """docs -> doc_sizes(doc_id, doc_len) (the ``.sizes`` sequence)."""
    return docs.select("doc_id", F.col("doc_len").cast("int").alias("doc_len"))


def collection_stats(doc_sizes: DataFrame) -> DataFrame:
    """Global stats for BM25: num_docs, avg_len, collection_len
    (wand_data.hpp:38-117 global pass)."""
    return doc_sizes.agg(
        F.count("*").alias("num_docs"),
        F.avg("doc_len").alias("avg_len"),
        F.sum("doc_len").cast("long").alias("collection_len"),
    )
