"""Index artifact bundle + the in-memory build.

The Spark-side equivalents of the reference's on-disk artifacts
(SURVEY §1.3): lexicon, doc map/sizes, long-format postings, block
segments, per-term WAND metadata, global stats. ``build_index`` runs
the one build DAG (``build.pipeline.build_dag``: the reference's
parse_collection → invert → create_wand_data → compress_inverted_index
chain, docs/source/indexing_pipeline.md:1-60) with an in-memory stage
store; ``build.pipeline.BuildPipeline`` runs the same DAG with parquet
checkpoints.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

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


class _MemoryStore:
    """build_index's stage store: nothing is written, and a stage is
    materialized only where reuse pays for it. term_ids needs no cut
    of its own: assign_global_ids numbers it in place over its eager
    localCheckpoint, so every reuse is a projection of pinned rows."""

    def __init__(self):
        self.persisted: list[DataFrame] = []

    def stage(self, name: str, parents: list[str], compute) -> DataFrame:
        df = compute()
        if name in ("docs", "postings"):
            # each feeds several downstream stages
            df = df.persist()
            self.persisted.append(df)
        elif name == "lexicon":
            # Lazy checkpoint: the first downstream action (typically
            # the segment encode) materializes postings cache + lexicon
            # in ONE job, and every plan built afterwards sees a cut
            # lineage — keeping the postings self-reference (df comes
            # FROM postings) out of query-side broadcast subtrees.
            df = df.localCheckpoint(eager=False)
        return df

    def n_rows(self, name: str, counted: dict) -> int | None:
        # free from the compute's offset collect (count_out)
        return counted.get("n_rows")

    def discard(self) -> None:
        # CacheManager entries outlive their DataFrames: a long-lived
        # session retrying bad inputs must not accumulate corpus copies.
        for df in self.persisted:
            df.unpersist()


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    config: EngineConfig | None = None,
    lang_filter: str | None = None,
) -> InvertedIndex:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> InvertedIndex,
    built in memory by the one build DAG (``build.pipeline.build_dag``):

      1. tokenize (mapInPandas) + docID assignment (url-projection
         sort + gated join — the corpus itself never moves for ids)
      2. term ids (distinct terms + sort — tiny shuffle after map-side
         dedup), postings (explode + broadcast join + hash agg with
         map-side combine: the ONE corpus-pair shuffle), lexicon df
         counted off the postings (vocabulary-sized)
      3. segments (salted repartition + one columnar mapInArrow encode
         per Arrow batch)

    docs and postings are persisted, the lexicon is lazily
    local-checkpointed, every other artifact is lazy. Use
    ``BuildPipeline`` for a resumable build with checkpoints.
    """
    from pisa_spark.build.pipeline import build_dag

    return build_dag(pages, config or EngineConfig(), _MemoryStore(),
                     lang_filter=lang_filter)
