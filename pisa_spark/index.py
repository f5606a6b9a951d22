"""Index artifact bundle + end-to-end build orchestration.

The Spark-side equivalents of the reference's on-disk artifacts
(SURVEY §1.3): lexicon, doc map/sizes, long-format postings, block
segments, per-term WAND metadata, global stats. ``build_index`` wires
the full pipeline (parse -> invert -> segment/wand encode), i.e. the
reference's parse_collection → invert → create_wand_data →
compress_inverted_index chain (docs/source/indexing_pipeline.md:1-60)
as three shuffle stages with no serial section.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pisa_spark.build import (
    build_doc_sizes,
    build_lexicon,
    build_postings,
    build_segments,
    build_term_ids,
    build_term_meta,
    collection_stats,
    lexicon_with_df,
    tokenize_pages,
)
from pisa_spark.build.segments import scored_postings
from pisa_spark.config import EngineConfig


@dataclass
class InvertedIndex:
    lexicon: DataFrame  # (term, term_id, df)
    docmap: DataFrame  # (doc_id, url)
    doc_sizes: DataFrame  # (doc_id, doc_len)
    postings: DataFrame  # (term_id, doc_id, tf) — long format
    segments: DataFrame  # block-encoded (segments.py layout)
    term_meta: DataFrame  # (term_id, df, occurrence_count, max_score)
    num_docs: int
    avg_len: float
    collection_len: int
    config: EngineConfig
    # True when `segments` reads stored parquet (BuildPipeline /
    # IncrementalIndexer): the executor then pushes the workload's
    # term_ids into the scan (executor._pruned_segments) so each query
    # batch reads O(workload lists), not O(corpus). In-memory builds
    # leave it False — there is no scan to prune.
    segments_file_backed: bool = False
    # Vocabulary size when known for free (build_index counts it for
    # the broadcast gate; BuildPipeline reads it off the term_ids
    # manifest). The executor's auto scan-prune uses it to disengage
    # when the workload covers so much of the vocabulary that an
    # IN(term_id) filter cannot skip row groups (executor.
    # SCAN_PRUNE_MAX_VOCAB_FRAC). None = unknown -> no fraction check.
    num_terms: int | None = None
    # NOTE deliberately no doc_lens_array(): per-posting doc lengths
    # are encoded inside the segment blocks (segments.py len_bytes),
    # so query execution never collects or broadcasts anything
    # proportional to the corpus.


def quantized_rescale(term_meta: DataFrame, quantize_bits: int):
    """(index_max_score, rescaled term_meta) for an impact-quantized
    build: index_max_score is the index-wide max term weight
    (wand_data ``index_max_term_weight``); per-term bounds become
    quantized-impact bounds (ceil is monotone, so
    max_q = ceil(max_score * scale))."""
    from pyspark.sql import functions as F

    index_max_score = float(term_meta.agg(F.max("max_score")).collect()[0][0])
    scale = float(1 << quantize_bits) / index_max_score
    rescaled = term_meta.withColumn(
        "max_score",
        F.greatest(F.ceil(F.col("max_score") * scale), F.lit(1)).cast("double"),
    )
    return index_max_score, rescaled


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    config: EngineConfig | None = None,
    lang_filter: str | None = None,
    cache: bool = True,
) -> InvertedIndex:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> InvertedIndex.

    Stage layout (each boundary is a shuffle, not a serial merge):
      1. tokenize (mapInPandas) + docID assignment (url-projection
         sort + gated join — the corpus itself never moves for ids)
      2. term ids (distinct terms + sort — tiny shuffle after map-side
         dedup), postings (explode + broadcast join + hash agg with
         map-side combine: the ONE corpus-pair shuffle), lexicon df
         counted off the postings (vocabulary-sized)
      3. segments (salted repartition + one columnar mapInArrow encode
         per Arrow batch)

    ``cache=False`` keeps every artifact recomputable from ``pages``
    — which now means the tokenize kernel re-runs per downstream
    action (the docs frame is a lazy join; nothing materializes it).
    Use the default for any multi-action workflow.
    """
    config = config or EngineConfig()
    id_stats: dict = {}
    from pisa_spark.build.forward import ID_BROADCAST_ROWS

    docs = tokenize_pages(
        pages, config.analyzer, lang_filter=lang_filter,
        stats_out=id_stats,
        # same gate policy as BuildPipeline: the configured broadcast
        # threshold caps the id-side hint too (threshold 0 disables)
        id_broadcast_rows=min(
            config.index.lexicon_broadcast_threshold, ID_BROADCAST_ROWS
        ),
    )
    if cache:
        docs = docs.persist()

    # Ids-first invert (see invert.build_lexicon docstring): term ids
    # from distinct terms (tiny shuffle), ONE corpus-pair shuffle in
    # build_postings (doc_len riding along so scored_postings never
    # re-shuffles the pairs on doc_id), then df counted off the
    # postings — instead of a second corpus-wide distinct(term, doc)
    # pass for the lexicon. term_ids needs no extra lineage cut here:
    # assign_global_ids already pins its range partitioning with an
    # eager localCheckpoint, so only a vocabulary-sized window sits
    # above the cut. The lexicon gets a LAZY localCheckpoint (not
    # persist — see the comment at the call site for why lazy): it is
    # reused intra-build and joins into parsed queries and query-side
    # broadcasts, where its postings self-reference (df comes FROM
    # postings) would bloat analysis and nest corpus lineage under
    # broadcast hints.
    bcast = config.index.lexicon_broadcast_threshold
    if cache:
        # Vocabulary size (gating the maybe_broadcast hints) comes
        # free from assign_global_ids' offset collect — no count job.
        vocab: dict = {}
        term_ids = build_term_ids(docs, count_out=vocab)
        lexicon_size = vocab["n_rows"]
        doc_sizes = build_doc_sizes(docs)
        postings = build_postings(
            docs, term_ids,
            lexicon_size=lexicon_size, broadcast_threshold=bcast,
            carry_doc_len=True,
        ).persist()
        # Lazy checkpoint: the first downstream action (typically the
        # segment encode) materializes postings cache + lexicon in ONE
        # job — no extra barrier — and every plan built afterwards
        # sees a cut lineage, keeping the postings self-reference (df
        # comes FROM postings) out of query-side broadcast subtrees.
        lexicon = lexicon_with_df(term_ids, postings).localCheckpoint(
            eager=False
        )
    else:
        # Lazy mode keeps every artifact recomputable from pages, so
        # the lexicon takes the standalone route (independent lineage,
        # no postings self-reference to recompute twice).
        lexicon = build_lexicon(docs)
        lexicon_size = lexicon.count()
        doc_sizes = build_doc_sizes(docs)
        postings = build_postings(
            docs, lexicon,
            lexicon_size=lexicon_size, broadcast_threshold=bcast,
            carry_doc_len=True,
        )

    # One corpus-column aggregate over the (persisted) docs. The docID
    # assignment no longer range-shuffles the tokenized corpus
    # (url-projection + join in tokenize_pages), so the old ride-along
    # sum over its offsets is gone — this single agg job is the trade
    # for removing a full-corpus shuffle + localCheckpoint per build.
    stats = collection_stats(doc_sizes).collect()[0]
    num_docs = int(stats["num_docs"])
    avg_len = float(stats["avg_len"] or 0.0)
    collection_len = int(stats["collection_len"] or 0)
    if id_stats and num_docs != id_stats["n_rows"]:
        # duplicate-url guard (forward._with_assigned_ids contract):
        # the id join fans out on duplicate urls — fail the build
        # instead of shipping doubled postings/inflated stats. NULL
        # urls were already rejected inside the id assignment. Drop
        # this build's cache entries on the error path: CacheManager
        # entries survive driver GC (CLAUDE.md), so a long-lived
        # session retrying bad inputs must not accumulate corpus
        # copies.
        if cache:
            postings.unpersist()
            docs.unpersist()
        raise ValueError(
            f"duplicate urls in input: {id_stats['n_rows']} distinct-"
            f"numbered urls joined into {num_docs} doc rows "
            "(url is the corpus key and must be unique)"
        )

    scored = scored_postings(
        postings, doc_sizes, lexicon, num_docs, avg_len,
        lexicon_size=lexicon_size, broadcast_threshold=bcast,
    )
    term_meta = build_term_meta(scored, num_docs, avg_len, config.bm25)
    index_max_score = None
    if config.index.quantize_bits:
        index_max_score, term_meta = quantized_rescale(
            term_meta, config.index.quantize_bits
        )
    segments = build_segments(
        scored, num_docs, avg_len, config.index, config.bm25,
        index_max_score=index_max_score,
    )
    if config.index.compress_blockmax:
        from pisa_spark.build.segments import compress_block_maxes

        segments = compress_block_maxes(segments, term_meta)

    return InvertedIndex(
        lexicon=lexicon,
        docmap=docs.select("doc_id", "url"),
        doc_sizes=doc_sizes,
        # Public postings contract stays (term_id, doc_id, tf); the
        # doc_len-carrying frame is a build-internal shuffle shape
        # (the select reuses the same cached/persisted data).
        postings=postings.select("term_id", "doc_id", "tf"),
        segments=segments,
        term_meta=term_meta,
        num_docs=num_docs,
        avg_len=avg_len,
        collection_len=collection_len,
        config=config,
        num_terms=int(lexicon_size) if lexicon_size is not None else None,
    )
