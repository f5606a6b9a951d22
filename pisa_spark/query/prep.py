"""Offline query-preparation tools.

Reference parity: ``tools/extract_topics.cpp`` (TREC topic / AOL log
-> `id:text` query lines), ``tools/stem_queries.cpp`` (QueryStemmer,
query/query_stemmer.hpp:15-35), ``tools/map_queries.cpp`` (text ->
term-id lines, order + duplicates preserved — map_query_lines;
query.parser.parse_queries remains the execution-side form with
duplicates collapsed to weights). Workload files are small, but every
transformation here still runs executor-side (mapInPandas /native
expressions) so a billion-line query log works unchanged.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pisa_spark.analysis import analyze_series

# trec_topic_reader.hpp:60-106 semantics: every field reads until the
# next '<'; the Number:/Description:/Narrative: attribute labels and
# the closing tags are optional; whitespace is trimmed. Fields are
# located independently per block, so a topic missing <desc>/<narr>
# (or carrying extra sections like <smry>) still parses instead of
# being silently skipped.
_FIELD_RES = (
    re.compile(r"<num>\s*(?:Number:)?\s*([^<]*)"),
    re.compile(r"<title>\s*([^<]*)"),
    re.compile(r"<desc>\s*(?:Description:)?\s*([^<]*)"),
    re.compile(r"<narr>\s*(?:Narrative:)?\s*([^<]*)"),
)


def _parse_topic_blocks(text: str) -> list[tuple[str, str, str, str]]:
    rows = []
    for blk in text.split("<top>")[1:]:
        blk = blk.split("</top>")[0]
        rows.append(tuple(
            m.group(1).strip() if (m := rx.search(blk)) else ""
            for rx in _FIELD_RES
        ))
    return rows


def trec_topics(spark: SparkSession, path: str) -> DataFrame:
    """TREC topic file(s) -> (num, title, desc, narr) — the parse
    behind ``extract_topics -f trec`` (tools/extract_topics.cpp:30-46
    via trec_topic_reader.hpp). One row per ``<top>`` block; absent
    sections come back as empty strings. Parsing runs per FILE on
    executors (topic files are tiny; many files parallelize)."""
    raw = spark.read.format("text").option("wholetext", True).load(path)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for text in b["value"]:
                yield pd.DataFrame(
                    _parse_topic_blocks(text),
                    columns=["num", "title", "desc", "narr"],
                )

    return raw.mapInPandas(
        kernel, "num string, title string, desc string, narr string"
    )


def topics_to_query_lines(topics: DataFrame, field: str = "title") -> DataFrame:
    """(num, title, desc, narr) -> (line) in the ``num:text`` output
    format extract_topics writes per field (:42-44)."""
    if field not in ("title", "desc", "narr"):
        raise ValueError(f"field must be title/desc/narr, got {field!r}")
    return topics.select(
        F.concat_ws(":", F.col("num"), F.col(field)).alias("line")
    )


def aol_queries(lines: DataFrame, unique: bool = False) -> DataFrame:
    """AOL query-log lines -> (query_id, query) — ``extract_topics -f
    aol`` (tools/extract_topics.cpp:47-67). ``lines`` is (line_no
    bigint, value string) — the caller supplies file order, the same
    contract as parser.parse_query_id_lines. A log line is tab-
    separated with the query in field 1; blank and ``-`` queries are
    skipped, surviving queries keep their line number as id. (The
    reference's aol_reader.hpp:28-30 condition reads
    ``fields[1].empty() and fields[1] != "-"``, which as written
    accepts only empty queries — an upstream bug; this implements the
    evident intent it documents.) ``unique=True`` mirrors the
    --unique output: distinct queries renumbered densely in sorted
    order (std::set iteration, :59-66). The unique window is
    single-partition — workload-sized output files only, like the
    tool it mirrors."""
    fields = F.split("value", "\t")
    q = lines.select(
        "line_no", F.element_at(fields, 2).alias("query")
    ).where(
        F.col("query").isNotNull()
        & (F.length("query") > 0)
        & (F.col("query") != "-")
    )
    if unique:
        # Unpartitioned window (Spark warns "No Partition Defined"):
        # benign, it numbers the distinct queries of one workload file.
        w = F.row_number().over(Window.orderBy("query")) - 1
        return q.select("query").distinct().select(
            w.cast("string").alias("query_id"), "query"
        )
    return q.select(
        F.col("line_no").cast("string").alias("query_id"), "query"
    )


def filter_query_lines(
    lines: DataFrame, term_count: int, include_longer: bool = False
) -> DataFrame:
    """Tab-separated query lines filtered by term count — the
    reference's script/filter_query.py (csv.reader with tab
    delimiter; exact length match, or >= with --include-longer).
    ``lines`` is any DataFrame with a ``value`` string column; the
    output keeps the matching lines verbatim, exactly like the
    script's tab-rejoin print. A blank line counts 0 fields
    (csv.reader yields an empty row there; a bare split('') would
    count 1)."""
    n = F.when(F.col("value") == "", F.lit(0)).otherwise(
        F.size(F.split("value", "\t"))
    )
    cond = n >= term_count if include_longer else n == term_count
    return lines.where(cond)


def stem_query_lines(
    lines: DataFrame, stemmer: str | None = None
) -> DataFrame:
    """Query lines -> stemmed query lines, the stem_queries tool
    (tools/stem_queries.cpp via QueryStemmer, query_stemmer.hpp:15-35):
    keep the optional ``id:`` prefix, EnglishTokenStream tokens,
    lowercase(+stem) each (term_transformer_builder,
    src/query/term_processor.cpp:9-44), join with single spaces.

    ``lines`` is (line string); returns (line string). Arrow-batched —
    the analyzer kernel is the same one the build uses."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            raw = b["line"].astype(str)
            has_colon = raw.str.contains(":", regex=False)
            ids = raw.str.split(":", n=1).str[0].where(has_colon, None)
            bodies = raw.str.split(":", n=1).str[-1].where(
                has_colon, raw
            )
            toks = analyze_series(
                bodies,
                tokenizer="english",
                lowercase=True,
                stemmer=stemmer,
            )
            joined = pd.Series([" ".join(t) for t in toks])
            out = joined.where(ids.isna(), ids.fillna("") + ":" + joined)
            yield pd.DataFrame({"line": out})

    return lines.select("line").mapInPandas(kernel, "line string")


def map_query_lines(
    lines: DataFrame,
    lexicon: DataFrame,
    stemmer: str | None = None,
    separator: str = " ",
    print_query_id: bool = True,
) -> DataFrame:
    """Query lines -> term-ID lines, the map_queries tool
    (tools/map_queries.cpp:25-32): optional ``id:`` prefix kept when
    ``print_query_id``, tokens analyzed with the SAME transformer as
    the build (lowercase+stem), looked up in the lexicon with OOV
    terms dropped (term_processor.hpp:19-63), and ids joined by
    ``separator`` in ORIGINAL token order WITH duplicates — unlike
    parse_queries, which collapses duplicates to weights for
    execution; this tool renders the query file itself.

    Every input line produces an output line: a query whose tokens
    are all OOV (or that has no tokens) renders as an empty id list,
    exactly as the reference tool prints one line per input query —
    dropping it would break positional alignment with qrels.

    Shape: posexplode the analyzed tokens, join against the lexicon
    UNHINTED (workloads can be billion-line logs and lexicons can be
    web-scale vocabularies — AQE picks broadcast vs sort-merge from
    runtime sizes, the assign_shards_from_mapping pattern), regroup
    by line sorted by position, then left-join back onto the full
    line set. ``lines`` is (line_no bigint, line string)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            raw = b["line"].astype(str)
            has_colon = raw.str.contains(":", regex=False)
            ids = raw.str.split(":", n=1).str[0].where(has_colon, None)
            bodies = raw.str.split(":", n=1).str[-1].where(has_colon, raw)
            yield pd.DataFrame(
                {
                    "line_no": b["line_no"],
                    "query_id": ids,
                    "terms": analyze_series(
                        bodies,
                        tokenizer="english",
                        lowercase=True,
                        stemmer=stemmer,
                    ),
                }
            )

    tok_lines = lines.select("line_no", "line").mapInPandas(
        kernel, "line_no bigint, query_id string, terms array<string>"
    )
    toks = tok_lines.select(
        "line_no", F.posexplode("terms").alias("pos", "term")
    )
    mapped = lexicon.select("term", "term_id").join(toks, "term")
    grouped = mapped.groupBy("line_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "term_id"))
                ),
                lambda s: s["term_id"].cast("string"),
            ),
            separator,
        ).alias("ids")
    )
    base = tok_lines.select("line_no", "query_id")
    joined = base.join(grouped, "line_no", "left").withColumn(
        "ids", F.coalesce(F.col("ids"), F.lit(""))
    )
    line = (
        F.when(
            F.lit(print_query_id) & F.col("query_id").isNotNull(),
            F.concat_ws(":", "query_id", "ids"),
        ).otherwise(F.col("ids"))
    )
    return joined.select("line_no", line.alias("line"))
