"""Forward-index stage: pages -> docs(doc_id, url, terms, doc_len).

Replaces the reference's batch-pipelined ``Forward_Index_Builder``
(src/forward_index_builder.cpp:29-71,208-267): Spark partitions
replace the 100k-doc batches, the Spark scheduler replaces the TBB
producer/consumer queue, and the global-lexicon merge
(``collect_terms`` + remap, :85-206) becomes a distributed distinct +
sort in build_lexicon — no serial merge stage exists.

Tokenization runs in one Arrow-batched ``mapInPandas`` kernel
(analyze_series), emitting term *strings*; term->id conversion is a
broadcast join against the lexicon at invert time (Spark-native,
instead of the reference's per-batch local-ID + remap dance).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pisa_spark.analysis import analyze_series, strip_html_series
from pisa_spark.build.ids import assign_global_ids
from pisa_spark.config import AnalyzerConfig


def extract_text(pages: DataFrame, cfg: AnalyzerConfig) -> DataFrame:
    """Text extraction. The input table already carries extracted
    ``text`` (per-url byte-identity invariant, BASELINE.json
    input_hint) so default is identity; ``strip_html`` derives it from
    the ``html`` binary column instead (src/parsing/html.cpp:7-40)."""
    if not cfg.strip_html:
        return pages

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            html = b["html"].apply(lambda x: bytes(x).decode("utf-8", "replace"))
            b = b.copy()
            b["text"] = strip_html_series(html)
            yield b

    return pages.mapInPandas(kernel, pages.schema.simpleString()[7:-1])


def native_terms_col(cfg: AnalyzerConfig):
    """Compile the analyzer to a NATIVE Spark column when possible
    (no stemmer, no html strip): tokenization + token filters become
    whole-stage-codegen JVM expressions — no Python in the build hot
    path at all. Returns None when the config needs the pandas kernel
    (porter2, strip_html).

    Semantics are pinned to analyze_series (tests compare them
    token-for-token): the english lexer runs as regexp_extract_all
    with the same first-match-wins alternation, and the shared
    post-rule (strip dots, cut at apostrophe) as a transform.
    """
    if cfg.stemmer or cfg.strip_html:
        return None
    lowered = False
    if cfg.tokenizer == "english":
        pat = r"(?:[a-zA-Z]+\.){2,}|[a-zA-Z0-9]+(?:'[a-zA-Z]+)?"
        toks = F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        if cfg.lowercase:
            # English tokens are ASCII-only by construction (the
            # pattern admits [a-zA-Z0-9.'] alone), so lower() equals
            # the A-Z -> a-z translate — fold it into the dot-strip
            # translate pass: one string allocation fewer per token
            # than a separate transform(lower), ~15% off the tokenize
            # scan (the build's hottest stage). Post-rule order is
            # preserved: translate touches neither the apostrophe nor
            # case-insensitive content the later cut depends on.
            up = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            lo = "abcdefghijklmnopqrstuvwxyz"
            toks = F.transform(
                toks,
                lambda t: F.substring_index(
                    F.translate(t, up + ".", lo), "'", 1
                ),
            )
            lowered = True
        else:
            toks = F.transform(
                toks,
                lambda t: F.substring_index(F.translate(t, ".", ""), "'", 1),
            )
    elif cfg.tokenizer == "whitespace":
        toks = F.filter(
            F.split(F.col("text"), r"\s+"), lambda t: t != F.lit("")
        )
    else:
        return None
    if cfg.lowercase and not lowered:
        toks = F.transform(toks, F.lower)
    if cfg.stopwords:
        stop_arr = F.array(*[F.lit(w) for w in sorted(cfg.stopwords)])
        toks = F.filter(toks, lambda t: ~F.array_contains(stop_arr, t))
    return toks


def tokenize_pages(
    pages: DataFrame,
    cfg: AnalyzerConfig | None = None,
    lang_filter: str | None = None,
    stats_out: dict | None = None,
    id_broadcast_rows: int | None = None,
) -> DataFrame:
    """pages -> docs(doc_id long, url string, terms array<string>,
    doc_len int).

    doc_id: dense rank of url (deterministic; doubles as the
    reference's recommended URL reordering for web corpora,
    reorder_docids.hpp:240-266). If the input already has a ``doc_id``
    column it is kept verbatim (the driver's ``documents`` table path).

    ``stats_out``: when THIS call assigns doc ids, the dict receives
    ``{"n_rows": num_docs}`` for free from the id assignment's offset
    collect. Left empty on the pre-assigned-doc_id path.
    """
    cfg = cfg or AnalyzerConfig()
    if lang_filter:
        pages = pages.filter(F.col("lang") == lang_filter)
    # url (and lang) pass through text extraction unchanged, so the
    # docID side below projects from the PRE-extract frame — a pruned
    # scan that never runs the html kernel.
    base = pages
    pages = extract_text(pages, cfg)

    has_doc_id = "doc_id" in pages.columns

    native = native_terms_col(cfg)
    if native is not None:
        sel = [F.col("url"), native.alias("terms")]
        if has_doc_id:
            sel.insert(0, F.col("doc_id"))
        docs = pages.select(*sel).withColumn(
            "doc_len", F.size("terms").cast("int")
        )
        if has_doc_id:
            return docs.select("doc_id", "url", "terms", "doc_len")
        docs = _with_assigned_ids(
            base, docs, stats_out,
            id_broadcast_rows if id_broadcast_rows is not None
            else ID_BROADCAST_ROWS,
        )
        return docs.select("doc_id", "url", "terms", "doc_len")

    cols = "url string, terms array<string>, doc_len int" + (
        ", doc_id long" if has_doc_id else ""
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            terms = analyze_series(
                b["text"],
                tokenizer=cfg.tokenizer,
                lowercase=cfg.lowercase,
                stopwords=cfg.stopwords,
                stemmer=cfg.stemmer,
            )
            out = pd.DataFrame(
                {
                    "url": b["url"],
                    "terms": terms,
                    "doc_len": terms.str.len().astype("int32"),
                }
            )
            if has_doc_id:
                out["doc_id"] = b["doc_id"]
            yield out

    docs = pages.mapInPandas(kernel, cols)
    if has_doc_id:
        return docs.select("doc_id", "url", "terms", "doc_len")
    docs = _with_assigned_ids(
        base, docs, stats_out,
        id_broadcast_rows if id_broadcast_rows is not None
        else ID_BROADCAST_ROWS,
    )
    return docs.select("doc_id", "url", "terms", "doc_len")


# (url, doc_id) broadcast gate, in ROWS. Conservative by bytes: at
# ~100-150 B/url, 400k rows is a ~40-60 MB hash table — under the
# session's 64 MB autoBroadcastJoinThreshold. Above the gate the id
# join is a plain hash join (AQE decides): the corpus then moves
# through ONE hash shuffle on url — the same single movement the old
# in-place numbering's range shuffle made — but still without the
# second materialization (localCheckpoint) or the window sort.
ID_BROADCAST_ROWS = 400_000


def _with_assigned_ids(
    base: DataFrame,
    docs: DataFrame,
    stats_out: dict | None,
    broadcast_rows: int = ID_BROADCAST_ROWS,
) -> DataFrame:
    """Join docIDs into the tokenize scan instead of numbering it.

    docIDs are a function of url alone, so they are assigned over the
    column-pruned url projection of the raw input — the range shuffle
    and pinning localCheckpoint inside assign_global_ids then carry
    one small column per document instead of the full terms arrays
    (at 100 TB the old in-place numbering range-shuffled the whole
    corpus AND materialized it a second time just to add an id
    column; this shape shuffles the corpus at most once — not at all
    below the broadcast gate — and never re-materializes it). The
    (url, doc_id) side is corpus-ROW-sized, so the broadcast is gated
    on the counted size (``broadcast_rows``, see ID_BROADCAST_ROWS).
    url must be UNIQUE (the corpus key — input_hint contract, already
    required by assign_global_ids' order column): a duplicate url
    would multiply through this join, where the old in-place
    numbering silently gave duplicates arbitrary distinct ids.
    Callers that can count the joined result cheaply should compare
    it against ``stats_out['n_rows']`` (build_dag and every
    IncrementalIndexer generation do) — any fan-out is a duplicate-url
    input error."""
    from pisa_spark.build.invert import maybe_broadcast

    cnt: dict = {}
    ids = assign_global_ids(base.select("url"), "url", "doc_id",
                            count_out=cnt, forbid_null=True)
    if stats_out is not None:
        stats_out["n_rows"] = cnt["n_rows"]
    return docs.join(maybe_broadcast(ids, cnt["n_rows"], broadcast_rows),
                     "url")
