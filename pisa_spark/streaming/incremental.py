"""Incremental indexing: append-only generations + Structured Streaming.

The reference has no streaming path (SURVEY §1.3: its
"compress_index_streaming" is out-of-core batch) — continuously
arriving crawl data means a full rebuild. This module adds the
Spark-native incremental story, with DELTA-PROPORTIONAL WRITES per
generation (no stored artifact proportional to the corpus is ever
rewritten):

- ``IncrementalIndexer.add_generation(pages)``: append a batch of new
  pages as generation ``g``:
  * new docs get docIDs AFTER all existing ones (url-ordered within
    the generation) — docID monotonicity keeps every existing block
    valid and makes new postings land in fresh tail salt buckets;
  * the lexicon grows stably: existing terms keep their term_id, new
    terms get ids after the previous max — no remap of existing
    postings ever;
  * ``docs`` / ``postings`` / ``doc_sizes`` are APPENDED (new docs
    only);
  * ``segments`` is APPEND-ONLY, partitioned by ``segment_gen``:
    generation g re-encodes ONLY terms occurring in the new batch
    (their full lists, with fresh stats) into ``segment_gen=g``;
    prior generations' files are never touched. Which encoding is
    CURRENT per term is the ``seg_gen`` column of the lexicon
    (term's latest affected generation); ``index()`` exposes the
    deduplicated view ``segments ⨝ lexicon WHERE segment_gen =
    seg_gen``. Superseded generations are reclaimed by ``compact()``;
  * vocabulary-sized metadata (``lexicon``, ``term_meta``) is updated
    incrementally — df/occurrence_count are ADDED from the delta
    (docID monotonicity means a (term, doc) pair lives in exactly one
    generation), never recounted from all postings; global stats ride
    a single-row ``stats`` file (counts added, never rescanned).
- A generation runs the batch build's own stage functions
  (``tokenize_pages``' docIDs + ``doc_base``, the ``stats`` stage's
  duplicate-url guard, ``build_postings``, the ``encode_stages``
  term_meta -> segments tail) through a generation store that
  appends segments under ``segment_gen=g``; refresh and ``compact()``
  share one encode (``_encode``). Only the delta-additive lexicon df
  and global stats are the stream's own.
- Stale-bound repair is QUERY-SIDE: BM25 scores of untouched terms
  still shift because num_docs/avg_len moved. Exact per-posting
  scores are always recomputed at query time from fresh stats, so
  only the max-score UPPER BOUNDS could go stale — and they can go
  stale UPWARD: idf = ln((N−df+.5)/(df+.5)) grows with N, and a
  larger avg_len shrinks the length norm. Instead of rewriting stored
  bounds, ``term_meta`` carries a per-term ``bound_factor`` that
  accumulates the sound inflation
  ``idf(df, N_new)/idf(df, N_old) * max(1, avg_new/avg_old)``
  per generation for untouched terms (re-encoded terms reset to 1).
  The executor multiplies both the term max and the block maxes by it
  on the query path (executor._factored_rows, which already joins
  term_meta into every query) — bounds stay one-sided, kernels stay
  exact, stored segments stay immutable. The factor only compounds
  for terms never re-touched; ``compact()`` resets it to 1 exactly.
- ``stream_pages``/``run_stream_indexing``: Structured Streaming
  wrapper — ``readStream`` on a pages directory, ``foreachBatch``
  feeding ``add_generation``, ``availableNow`` trigger for catch-up
  runs (a continuous trigger works identically on a cluster).
- CRASH SAFETY (generation commit protocol): every per-generation
  write is partitioned by its generation (``docs``/``postings``/
  ``doc_sizes``/``lexicon_ids`` by ``generation``, ``segments`` by
  ``segment_gen``) and the vocabulary-sized snapshots live in
  versioned dirs (``lexicon_g{g}``/``term_meta_g{g}``); the commit
  pointer is a versioned single-row ``stats_g{g}`` dir written LAST
  and considered committed only once its ``_SUCCESS`` marker exists
  (one file create — atomic on every FS; pointers are never
  overwritten, so no crash window can unread a committed
  generation). A crash mid-generation leaves partition dirs /
  snapshots / marker-less pointers with a generation ABOVE the
  committed one; the next mutating call rolls them back — including
  any write job's ``_temporary`` staging dir, so a crashed attempt's
  task-committed files can never merge into a retried append — and
  the read path filters to the committed generation, so a
  half-written generation can never collide doc/term ids or leak
  into queries. A dir with index tables but NO commit record is
  refused loudly (never guessed at). On a real deployment the
  local-FS deletes become Hadoop FileSystem calls — or the whole
  table rides a format with atomic pointer swaps (Iceberg), which is
  this exact protocol built in.

Query-side nothing else changes: ``InvertedIndex`` artifacts come
from the stored union (same schemas as the batch build), so every
kernel and gate oracle applies to an incrementally-built index
unchanged (gate entry ``incremental_postings``).
"""

from __future__ import annotations

import hashlib
import json
import logging
import re
from dataclasses import asdict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pisa_spark.build import (
    build_doc_sizes, build_postings, collection_stats, tokenize_pages,
)
from pisa_spark.build.ids import assign_global_ids
from pisa_spark.build.pipeline import duplicate_urls, encode_stages
from pisa_spark.build.segments import scored_postings
from pisa_spark.codecs import WIRE_VERSION
from pisa_spark.config import EngineConfig
from pisa_spark.index import InvertedIndex

_STATS_RE = re.compile(r"stats_g(\d+)")
# Versioned vocabulary snapshots and commit pointers (one dir per
# generation): rolled back above the committed one, dropped below it.
_SNAPSHOT_RE = re.compile(r"(?:lexicon|term_meta|stats)_g(\d+)")
log = logging.getLogger(__name__)

# Schemas for generation-partitioned tables that can legitimately be
# EMPTY (an all-stopword batch indexes zero terms): a zero-row
# partitioned write leaves no part-files, so reads go through
# _read_or_empty with these DDLs instead of schema inference.
_LEX_IDS_DDL = "term string, term_id bigint, generation int"
_POSTINGS_DDL = "term_id bigint, doc_id bigint, tf int, generation int"
_SEGMENTS_DDL = (
    "term_id long, block_id long, count int, max_doc_id long, "
    "max_score float, doc_bytes binary, tf_bytes binary, "
    "len_bytes binary, segment_gen int"
)

# Ownership marker: touched (atomically) before generation 0's first
# table write, so _begin can tell "our generation-0 build crashed
# before committing" (safe to roll back and retry — the Structured
# Streaming retry path) from "a foreign/old-layout dir" (refused).
_MARKER = ".pisa_spark_incremental"


def _cfg_fp(payload: dict) -> str:
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class _GenerationStore:
    """A generation's stage store for the build's encode tail
    (pipeline.encode_stages): ``segments`` is APPENDED under
    ``segment_gen=gen``; every other stage is returned as computed."""

    def __init__(self, path: str, gen: int):
        self.path, self.gen = path, gen

    def stage(self, name: str, parents: list[str], compute) -> DataFrame:
        df = compute()
        if name == "segments":
            df.withColumn("segment_gen", F.lit(self.gen)).write.mode(
                "append"
            ).partitionBy("segment_gen").parquet(self.path)
        return df


class IncrementalIndexer:
    def __init__(self, spark: SparkSession, out_dir: str,
                 config: EngineConfig | None = None,
                 snapshot_grace: int = 0):
        """``snapshot_grace``: keep the vocabulary snapshots
        (lexicon_g*/term_meta_g*/stats_g*) of that many generations
        BELOW the committed one instead of dropping them at commit.
        The default (0) reclaims immediately — right for a single
        reader that re-opens ``index()`` per generation. A deployment
        serving queries from handles opened at generation g while the
        stream commits g+1 needs grace >= 1, or the commit's cleanup
        deletes parquet files a lazy DataFrame still references.
        (``compact()`` is different: it reclaims superseded SEGMENT
        partitions by design — quiesce readers, or re-open handles,
        around a compact.)"""
        self.spark = spark
        self.out = Path(out_dir)
        self.config = config or EngineConfig()
        self.snapshot_grace = int(snapshot_grace)
        # Config fingerprints ride the stats row so a reopen with a
        # different config is refused instead of silently mixing
        # incompatible generations (e.g. f32 vs u8 block maxima, or
        # two tokenizations of one corpus). The analyzer fingerprint
        # must match FOREVER (stored postings are its output); the
        # build fingerprint (scorer/layout) may change across a
        # compact(), which re-encodes every segment under the new
        # config — but never across an append.
        a = self.config.analyzer
        self._analyzer_fp = _cfg_fp(
            {"analyzer": asdict(a) | {"stopwords": sorted(a.stopwords)}}
        )
        self._build_fp = _cfg_fp(
            {"bm25": asdict(self.config.bm25),
             "index": asdict(self.config.index)}
        )
        # compress_blockmax IS supported: u8 block maxima are relative
        # to the term max AS STORED in term_meta at encode time, and
        # the query-side recovery multiplies term_max * bound_factor
        # (executor._factored_rows) — so kept blocks' recovered
        # bounds inflate by exactly the same sound factor as f32
        # bounds, and re-encoded terms reset max+factor together.
        if self.config.index.quantize_bits:
            # impact quantization is relative to the GLOBAL index max
            # at build time; generations built at different maxima
            # would mix incompatible quanta in one index
            raise ValueError(
                "IncrementalIndexer does not support quantize_bits "
                "(impact quanta are relative to a build-time global "
                "max); build quantized indexes in batch"
            )
        self.out.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ storage

    def _path(self, name: str) -> str:
        return str(self.out / name)

    def _exists(self, name: str) -> bool:
        p = self.out / name
        return p.exists() and any(p.rglob("*.parquet"))

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def _read_or_empty(self, name: str, ddl: str) -> DataFrame:
        """Read a generation-partitioned table that may legitimately
        hold ZERO rows: a partitioned write of an empty frame leaves
        no part-files (only _SUCCESS), and a later read of the dir
        would crash with 'unable to infer schema'. Returns an empty
        frame with the declared schema instead — the all-stopword /
        empty-vocabulary generation must degrade to empty postings,
        not wedge the stream on every replay."""
        p = self.out / name
        if p.exists() and any(p.rglob("*.parquet")):
            return self._read(name)
        return self.spark.createDataFrame([], ddl)

    def _committed_gen(self) -> int | None:
        """The last COMMITTED generation, or None for a virgin dir.

        The commit pointer is the highest ``stats_g{g}`` dir whose
        Spark job committed (``_SUCCESS`` marker present): the marker
        is a single file create — atomic on every FS — and a stats
        dir is NEVER overwritten, so no crash window can make a
        committed generation unreadable (an interrupted commit just
        leaves a marker-less dir the next rollback removes)."""
        best = None
        if self.out.exists():
            for d in self.out.iterdir():
                m = _STATS_RE.fullmatch(d.name)
                if m and (d / "_SUCCESS").exists():
                    g = int(m.group(1))
                    best = g if best is None else max(best, g)
        return best

    def _commit(self, gen: int, num_docs: int, collection_len: int,
                next_doc_id: int, next_term_id: int,
                epoch_id: int | None = None) -> None:
        """COMMIT the generation: write its stats pointer (fresh dir,
        committed by the atomic _SUCCESS marker), then drop superseded
        pointers and snapshots — cleanup failures after the marker
        cannot lose the commit. ``snapshot_grace`` generations below
        the committed one are retained for readers holding handles
        opened at a previous generation. ``epoch_id`` records the
        Structured Streaming epoch this generation indexed (None for
        direct batch calls) — the replay guard in add_generation."""
        self.spark.createDataFrame(
            [(gen, num_docs, collection_len, next_doc_id, next_term_id,
              WIRE_VERSION, self._analyzer_fp, self._build_fp,
              epoch_id)],
            schema="gen int, num_docs long, collection_len long, "
                   "next_doc_id long, next_term_id long, "
                   "wire_version int, analyzer_fp string, "
                   "build_fp string, epoch_id long",
        ).write.mode("overwrite").parquet(self._path(f"stats_g{gen}"))
        if not (self.out / f"stats_g{gen}" / "_SUCCESS").exists():
            raise RuntimeError(
                f"{self.out}: stats_g{gen} job committed without a "
                "_SUCCESS marker — is "
                "mapreduce.fileoutputcommitter.marksuccessfuljobs off? "
                "The commit protocol relies on it."
            )
        self._drop_snapshots(before=gen - self.snapshot_grace)

    _GEN_TABLES = (
        ("docs", "generation"), ("postings", "generation"),
        ("doc_sizes", "generation"), ("lexicon_ids", "generation"),
        ("segments", "segment_gen"),
    )

    def _rollback(self, committed: int) -> None:
        """Delete every partition dir / versioned snapshot / stats
        pointer whose generation is ABOVE the committed one —
        leftovers of a generation that crashed before its commit
        marker — plus any write job's ``_temporary`` staging dir (a
        retried append must never let a crashed attempt's
        task-committed files merge into the table at job commit).
        Deletions RAISE on failure: correctness depends on them (a
        surviving leftover would silently double rows on retry).
        Idempotent; local-FS form of a Hadoop FS delete (module
        docstring)."""
        import shutil

        for table, key in self._GEN_TABLES:
            base = self.out / table
            if not base.exists():
                continue
            staging = base / "_temporary"
            if staging.exists():
                shutil.rmtree(staging)
            for d in base.iterdir():
                m = re.fullmatch(rf"{key}=(\d+)", d.name)
                if m and int(m.group(1)) > committed:
                    shutil.rmtree(d)
        for d in self.out.iterdir():
            m = _SNAPSHOT_RE.fullmatch(d.name)
            if m and int(m.group(1)) > committed:
                shutil.rmtree(d)

    def _checked_stats(self, recoding: bool = False) -> dict:
        """The committed stats row, refused unless the stored index
        matches this indexer: codec wire version, analyzer and —
        unless ``recoding`` (compact re-encodes every segment) — the
        scorer/layout config. Mixed generations or a mis-read layout
        would silently mis-decode or mis-bound (e.g. f32 vs u8
        maxima). Legacy rows without fingerprints skip those checks."""
        gen = self._committed_gen()
        if gen is None:
            raise ValueError(f"{self.out}: no committed generation")
        st = self._read(f"stats_g{gen}").collect()[0].asDict()
        stored = st.get("wire_version", 1)
        if stored != WIRE_VERSION:
            raise ValueError(
                f"{self.out}: stored segments use codec wire version "
                f"{stored} but this build is {WIRE_VERSION} — mixing or "
                "reading them would mis-decode; rebuild (or compact "
                "with the writing version first)"
            )
        a_fp, b_fp = st.get("analyzer_fp"), st.get("build_fp")
        if a_fp not in (None, self._analyzer_fp):
            raise ValueError(
                f"{self.out}: stored generations were tokenized under "
                "a different analyzer config (two tokenizations of one "
                "corpus); open with the stored config, or rebuild"
            )
        if not recoding and b_fp not in (None, self._build_fp):
            raise ValueError(
                f"{self.out}: stored segments were encoded under a "
                "different scorer/layout config; open with the stored "
                "config, or compact() with the new one to re-encode"
            )
        return st

    def _begin(self, recoding: bool = False) -> dict | None:
        """Start a mutating call: refuse an uncommitted-foreign or
        config-mismatched (``_checked_stats``) dir, roll back crash
        leftovers, return the committed stats row (None for a virgin
        dir)."""
        committed = self._committed_gen()
        if committed is None:
            stray = [t for t, _ in self._GEN_TABLES if self._exists(t)]
            if self._exists("stats"):  # pre-commit-protocol layout
                stray.append("stats")
            if stray:
                if (self.out / _MARKER).exists():
                    # our own generation-0 build crashed before its
                    # commit pointer: roll everything back so the
                    # retry (Structured Streaming replays the batch)
                    # starts from a clean virgin dir instead of
                    # wedging forever
                    self._rollback(-1)
                else:
                    raise ValueError(
                        f"{self.out} contains index tables {stray} "
                        "but no stats_g* commit record and no "
                        f"{_MARKER} ownership marker — a foreign/"
                        "old-layout dir; refusing to guess id bases "
                        "(clear the dir, or rebuild it with this "
                        "version, to proceed)"
                    )
            return None
        st = self._checked_stats(recoding)
        self._rollback(committed)
        return st

    # ------------------------------------------------------------- update

    def add_generation(self, pages: DataFrame,
                       epoch_id: int | None = None,
                       check_recrawls: bool = True,
                       on_recrawl: str = "error") -> int:
        """Index a new batch of pages; returns the generation number.

        Per-generation write volume: O(|batch|) postings/docs/sizes +
        O(affected-term lists) segments + O(vocabulary) metadata —
        never O(corpus).

        An empty batch is a committed no-op: it returns the current
        generation unchanged (a zero-row partitioned write leaves no
        parquet files, so 'indexing' it would crash the read-back);
        on a virgin dir it raises instead of guessing id bases.

        ``epoch_id``: the Structured Streaming epoch delivering this
        batch. foreachBatch is AT-LEAST-ONCE — if the driver dies
        after this generation's commit marker lands but before the
        stream checkpoint records the batch, restart REPLAYS the
        identical batch; without the guard it would re-index as a new
        generation, silently duplicating every document. The commit
        records the epoch, and a replayed epoch <= the stored one is
        a committed no-op. Scoped to ONE stream checkpoint per index
        dir (epochs restart at 0 under a fresh checkpoint — don't
        point a new stream at an old index dir without compacting the
        guard expectation); direct batch calls pass None and skip it.

        url is the corpus key (the batch-build contract): NULL urls
        and within-batch duplicates are rejected loudly.
        ``check_recrawls=True`` also rejects urls already indexed by
        a PREVIOUS generation — that costs one column-pruned scan of
        the stored docs urls per batch (broadcast semi-join of the
        delta, corpus-proportional READ, delta-proportional
        everything else); pipelines that guarantee url-uniqueness
        upstream can disable it to keep batches corpus-independent.
        ``on_recrawl`` picks the policy when a duplicate IS found:
        ``"error"`` (default — the batch-build contract, fail loudly)
        or ``"filter"`` (crawl-stream mode — deterministically keep
        one row per url, drop already-indexed urls, keep going; an
        all-recrawl batch degrades to a committed no-op with a
        warning instead of wedging the stream. No per-batch drop
        counting: that would cost an extra delta-sized job per
        micro-batch — derive drop rates from the stored docs table
        offline instead)."""
        if on_recrawl not in ("error", "filter"):  # before any side effect
            raise ValueError(
                f"on_recrawl={on_recrawl!r}: expected 'error' or 'filter'"
            )
        if pages.isEmpty():
            prev = self._committed_gen()
            if prev is None:
                raise ValueError(
                    f"{self.out}: cannot bootstrap an index from an "
                    "empty batch"
                )
            return prev
        st = self._begin()
        first = st is None
        if first:
            # ownership marker BEFORE the first table write: a crashed
            # generation 0 must be recognizably ours so _begin can
            # roll it back on retry (one atomic file create)
            (self.out / _MARKER).touch()
            prev, gen, doc_base, term_base = None, 0, 0, 0
            n_old, len_old, avg_old = 0, 0, 0.0
        else:
            prev = int(st["gen"])
            if epoch_id is not None:
                last_epoch = st.get("epoch_id")
                if last_epoch is not None and epoch_id <= int(last_epoch):
                    # at-least-once replay of an already-committed
                    # epoch (crash between index commit and stream
                    # checkpoint): committed no-op
                    return prev
            gen = prev + 1
            doc_base = int(st["next_doc_id"])
            term_base = int(st["next_term_id"])
            n_old = int(st["num_docs"])
            len_old = int(st["collection_len"])
            avg_old = (len_old / n_old) if n_old else 0.0

        # url-key guards: NULL urls are rejected inside the id
        # assignment and duplicate urls by the stats guard below (both
        # the batch build's own); recrawls of stored urls here.
        if on_recrawl == "filter":
            # Crawl-stream mode: recrawls/refetches are ordinary data,
            # not poison. Deterministically keep ONE row per url
            # (latest warc_ts, ties broken by content hash) and drop
            # urls a previous generation already indexed. Both are
            # delta-sized jobs: the window shuffles only the batch,
            # and the stored-urls scan is a column-pruned read joined
            # against the BROADCAST batch url set. Eager checkpoint so
            # the (corpus-proportional-read) anti-join runs once, not
            # once per downstream write job.
            w = Window.partitionBy("url").orderBy(
                F.col("warc_ts").desc_nulls_last(),
                F.md5(F.coalesce(F.col("text"), F.lit(""))).desc(),
            )
            pages = (
                pages.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn")
            )
            if not first and check_recrawls:
                stored = self._read("docs").select("url").join(
                    F.broadcast(pages.select("url").distinct()), "url"
                )
                pages = pages.join(F.broadcast(stored), "url", "left_anti")
            pages = pages.localCheckpoint(eager=True)
            if pages.isEmpty():
                # every url was a recrawl: committed no-op (cannot
                # happen on first — within-batch dedup keeps >= 1 row
                # and there is no stored corpus to collide with)
                log.warning(
                    "add_generation: batch contained only already-"
                    "indexed urls; skipped (committed no-op)"
                )
                return prev
        elif not first and check_recrawls:
            # recrawled url = a second doc_id for the same key. One
            # column-pruned stored-urls scan per batch (see docstring).
            seen = (
                self._read("docs").select("url")
                .join(F.broadcast(pages.select("url").distinct()), "url")
                .limit(1).collect()
            )
            if seen:
                raise ValueError(
                    f"url {seen[0]['url']!r} was already indexed by a "
                    "previous generation: url is the corpus key "
                    "(dedup recrawls upstream, pass "
                    "check_recrawls=False if uniqueness is guaranteed "
                    "there, or on_recrawl='filter' to keep-first and "
                    "continue)"
                )
        # docIDs: the batch build's url-projection numbering
        # (tokenize_pages), offset past every stored doc. An input
        # doc_id would be kept verbatim, so it is dropped: ids stay
        # dense from doc_base.
        ids: dict = {}
        tokenize_pages(
            pages.drop("doc_id"), self.config.analyzer, stats_out=ids
        ).withColumn(
            "doc_id", F.col("doc_id") + F.lit(doc_base)
        ).withColumn("generation", F.lit(gen)).write.mode(
            "append"
        ).partitionBy("generation").parquet(self._path("docs"))
        gen_docs = self._read("docs").filter(F.col("generation") == gen)
        # The batch build's stats stage and duplicate-url guard, over
        # this generation's docs; global stats add, never rescan.
        gen_sizes = build_doc_sizes(gen_docs)
        stats = collection_stats(gen_sizes).collect()[0]
        n_delta = int(stats["num_docs"])
        if n_delta != ids["n_rows"]:
            raise duplicate_urls(ids["n_rows"], n_delta)
        n_new = n_old + n_delta
        len_new = len_old + int(stats["collection_len"] or 0)
        avg_new = (len_new / n_new) if n_new else 0.0
        gen_sizes.withColumn("generation", F.lit(gen)).write.mode(
            "append"
        ).partitionBy("generation").parquet(self._path("doc_sizes"))

        # Stable lexicon growth: unseen terms get ids after term_base.
        new_terms = gen_docs.select(F.explode("terms").alias("term")).distinct()
        if not first:
            new_terms = new_terms.join(
                self._read_or_empty("lexicon_ids", _LEX_IDS_DDL)
                .select("term"),
                "term", "left_anti",
            )
        # Ranged over the planned shuffle partition count, as
        # invert.build_term_ids: left to default, AQE would run the
        # explode->distinct->anti-join map stage outside the query to
        # answer new_terms.rdd.getNumPartitions(), then again inside it.
        lex_count: dict = {}
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        appended_lex = assign_global_ids(
            new_terms, "term", "term_id", num_partitions=parts,
            count_out=lex_count,
        ).withColumn(
            "term_id", F.col("term_id") + F.lit(term_base)
        ).withColumn("generation", F.lit(gen))
        appended_lex.write.mode("append").partitionBy("generation").parquet(
            self._path("lexicon_ids")
        )
        # count_out rides the id-assignment's offset collect — no
        # vocabulary-sized count job per micro-batch.
        n_new_terms = int(lex_count["n_rows"])

        # Postings for the new generation only (df joins come later —
        # postings are (term_id, doc_id, tf), df-free by design).
        # Same explode ⨝ lexicon ⨝ tf-agg as the batch builds — the
        # SHARED invert.build_postings, with no lexicon_size: lex_ids
        # is the FULL vocabulary (grows with the crawl), so no
        # broadcast hint — AQE picks the strategy from parquet stats.
        lex_ids = self._read_or_empty("lexicon_ids", _LEX_IDS_DDL)
        new_postings = build_postings(gen_docs, lex_ids).withColumn(
            "generation", F.lit(gen)
        )
        new_postings.write.mode("append").partitionBy("generation").parquet(
            self._path("postings")
        )

        self._refresh_metadata(gen, prev, n_old, avg_old, n_new, avg_new)

        # COMMIT: stats pointer last — everything above is invisible
        # (and gets rolled back) until its _SUCCESS marker lands.
        self._commit(gen, n_new, len_new, doc_base + n_delta,
                     term_base + n_new_terms, epoch_id=epoch_id)
        return gen

    def _drop_snapshots(self, before: int) -> None:
        """Post-commit cleanup: superseded lexicon_g*/term_meta_g*
        snapshots and stats_g* pointers (generations below the
        committed one). ignore_errors: a failed cleanup leaves only
        redundant dirs behind — never an incorrect state — and the
        next commit retries it."""
        import shutil

        for d in self.out.iterdir():
            m = _SNAPSHOT_RE.fullmatch(d.name)
            if m and int(m.group(1)) < before:
                shutil.rmtree(d, ignore_errors=True)

    def _refresh_metadata(self, gen: int, prev: int | None, n_old: int,
                          avg_old: float, n_new: int, avg_new: float) -> None:
        """Vocabulary-sized metadata refresh + delta-proportional
        segment append for generation ``gen``. ``prev`` is the last
        committed generation (None for the first)."""
        first = prev is None
        postings = self._read_or_empty("postings", _POSTINGS_DDL)
        gen_postings = postings.filter(F.col("generation") == gen)

        # df/occurrence deltas from THIS generation only (docID
        # monotonicity: a (term, doc) pair exists in exactly one
        # generation, so df adds exactly).
        delta_meta = gen_postings.groupBy("term_id").agg(
            F.countDistinct("doc_id").cast("long").alias("ddf"),
            F.sum("tf").cast("long").alias("docc"),
        )

        # Lexicon: term ids are stable; df adds; seg_gen tracks each
        # term's CURRENT segment generation (affected terms -> gen).
        lex_ids = self._read_or_empty("lexicon_ids", _LEX_IDS_DDL)
        if first:
            lexicon = lex_ids.join(delta_meta, "term_id", "left").select(
                "term", "term_id",
                F.coalesce("ddf", F.lit(0)).alias("df"),
                F.lit(gen).alias("seg_gen"),
            )
        else:
            old_lex = self._read(f"lexicon_g{prev}").select(
                "term_id", F.col("df").alias("df_old"),
                F.col("seg_gen").alias("seg_gen_old"),
            )
            lexicon = (
                lex_ids.join(old_lex, "term_id", "left")
                .join(delta_meta, "term_id", "left")
                .select(
                    "term", "term_id",
                    (F.coalesce("df_old", F.lit(0))
                     + F.coalesce("ddf", F.lit(0))).alias("df"),
                    F.when(F.col("ddf").isNotNull(), F.lit(gen))
                    .otherwise(F.coalesce("seg_gen_old", F.lit(gen)))
                    .alias("seg_gen"),
                )
            )
        # Versioned snapshot: a fresh dir per generation (no tmp-copy
        # dance — nothing reads its own input, and an uncommitted
        # snapshot is invisible until the stats commit / rolled back).
        lexicon.write.mode("overwrite").parquet(self._path(f"lexicon_g{gen}"))

        # Re-encode ONLY affected terms (full lists, fresh stats) into
        # the new generation's partition — prior partitions untouched.
        # Their term_meta is exact; untouched terms keep their stored
        # values and accumulate the sound query-side bound inflation.
        affected = delta_meta.select("term_id")
        affected_meta = self._encode(
            gen, postings.join(affected, "term_id"),
            self._read(f"lexicon_g{gen}"), n_new, avg_new,
        )
        if first:
            term_meta = affected_meta
        else:
            half = "0.5D"
            idf = f"GREATEST(1e-6D, LN(({{n}}) - df + {half}) - LN(df + {half}))"
            ratio = (
                f"({idf.format(n=float(n_new))})"
                f" / ({idf.format(n=float(n_old))})"
            )
            norm_factor = max(1.0, (avg_new / avg_old) if avg_old else 1.0)
            untouched = (
                self._read(f"term_meta_g{prev}")
                .join(affected, "term_id", "left_anti")
                .withColumn(
                    "bound_factor",
                    F.col("bound_factor") * F.expr(ratio) * F.lit(norm_factor),
                )
            )
            term_meta = untouched.unionByName(affected_meta)
        term_meta.write.mode("overwrite").parquet(self._path(f"term_meta_g{gen}"))

    def _encode(self, gen: int, postings: DataFrame, lexicon: DataFrame,
                num_docs: int, avg_len: float) -> DataFrame:
        """Score ``postings`` under (num_docs, avg_len) and run the
        build's encode tail (pipeline.encode_stages) over them: their
        segments are appended as generation ``gen``, and their
        term_meta is returned with ``bound_factor`` 1 — fresh stats,
        exact bounds. Compressed block maxes are u8 relative to that
        same fresh term max, so query-side recovery (q/255 * term_max
        * bound_factor) is sound, and the factor inflates both
        together.

        Eager localCheckpoint (CLAUDE.md): ``scored`` feeds the
        segment write AND the term_meta (and the compressed-blockmax
        join) — pin the score join once instead of recomputing it per
        consumer (a touched head term re-scores its full list every
        micro-batch otherwise)."""
        scored = scored_postings(
            postings.select("term_id", "doc_id", "tf"),
            self._read("doc_sizes").drop("generation"), lexicon,
            num_docs, avg_len,
        ).localCheckpoint(eager=True)
        term_meta, _ = encode_stages(
            _GenerationStore(self._path("segments"), gen), scored,
            num_docs, avg_len, self.config,
        )
        return term_meta.withColumn("bound_factor", F.lit(1.0))

    # ------------------------------------------------------------ compact

    def compact(self) -> int:
        """Reclaim superseded segment generations and reset bound
        inflation: RE-ENCODE the whole index as a FRESH generation
        (one segment partition, no new docs) with fresh global stats,
        recompute term_meta exactly, reset bound_factor to 1.
        Re-encoding (not just re-writing the current view) is what
        makes the factor reset SOUND: stored block maxima were
        computed under the stats of each term's last touch, so
        carrying them verbatim with factor=1 would under-bound any
        term whose scores inflated since — exactly the staleness the
        factor existed to cover. Encoding as a NEW generation keeps
        the commit protocol: the re-encode appends one partition +
        two snapshots, the stats pointer commits it, and only then
        are superseded partitions reclaimed. A crash BEFORE the
        commit rolls the new generation back; a crash AFTER it (mid
        reclaim) leaves dead below-committed segment partitions that
        queries never select (lexicon seg_gen filter) — they are
        reclaimed by the NEXT compact, not by add_generation, which
        cannot tell a dead old partition from a live one without a
        vocabulary scan. Corpus-proportional by design — run
        occasionally, not per batch (the reference's merge step,
        SURVEY §2.4). Returns the new generation number."""
        import shutil

        st = self._begin(recoding=True)
        if st is None:
            raise ValueError(f"{self.out}: nothing to compact")
        gen = int(st["gen"]) + 1
        n, ln = int(st["num_docs"]), int(st["collection_len"])
        lexicon = self._read(f"lexicon_g{gen - 1}")
        term_meta = self._encode(
            gen, self._read_or_empty("postings", _POSTINGS_DDL), lexicon,
            n, (ln / n) if n else 0.0,
        )
        lexicon.withColumn("seg_gen", F.lit(gen)).write.mode(
            "overwrite"
        ).parquet(self._path(f"lexicon_g{gen}"))
        term_meta.write.mode("overwrite").parquet(
            self._path(f"term_meta_g{gen}")
        )
        # COMMIT: same id bases and corpus counts, new generation —
        # the stored stream epoch carries forward so the replay guard
        # survives a compact between micro-batches.
        self._commit(gen, n, ln, int(st["next_doc_id"]),
                     int(st["next_term_id"]),
                     epoch_id=st.get("epoch_id"))
        # Reclaim: every segment partition below the committed one is
        # now superseded (all seg_gen point at `gen`); idempotent —
        # and safe to ignore failures (docstring: dead partitions are
        # never selected; the next compact retries).
        base = self.out / "segments"
        for d in base.iterdir():
            m = re.fullmatch(r"segment_gen=(\d+)", d.name)
            if m and int(m.group(1)) < gen:
                shutil.rmtree(d, ignore_errors=True)
        return gen

    # -------------------------------------------------------------- query

    def _segments_current(self, committed: int) -> DataFrame:
        """The deduplicated segment view: per term, only the blocks of
        its latest affected generation (lexicon.seg_gen) are current;
        older generations' rows for re-encoded terms are superseded
        (each re-encode covers the term's FULL list). The committed
        lexicon only ever points at committed generations, so
        uncommitted crash leftovers can never join in."""
        seg = self._read_or_empty("segments", _SEGMENTS_DDL)
        cur = self._read(f"lexicon_g{committed}").select("term_id", "seg_gen")
        return seg.join(cur, "term_id").filter(
            F.col("segment_gen") == F.col("seg_gen")
        ).drop("seg_gen", "segment_gen")

    def index(self) -> InvertedIndex:
        # a read-only open refuses a mismatched stored index too, or
        # queries decode old-layout payloads (silent garbage) or
        # parse/score inconsistently with the stored segments
        st = self._checked_stats()
        committed = int(st["gen"])
        # Committed-state reads: the generation filters prune any
        # partition a crashed (not yet rolled-back) generation left.
        live = F.col("generation") <= committed
        docs = self._read("docs").filter(live)
        n = int(st["num_docs"])
        ln = int(st["collection_len"])
        return InvertedIndex(
            lexicon=self._read(f"lexicon_g{committed}"),
            docmap=docs.select("doc_id", "url"),
            doc_sizes=self._read("doc_sizes").filter(live).drop("generation"),
            postings=self._read_or_empty("postings", _POSTINGS_DDL)
            .filter(live).select("term_id", "doc_id", "tf"),
            segments=self._segments_current(committed),
            term_meta=self._read(f"term_meta_g{committed}"),
            num_docs=n,
            avg_len=(ln / n) if n else 0.0,
            collection_len=ln,
            config=self.config,
        )


# ------------------------------------------------------------- streaming

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a directory of pages parquet files (a landing
    zone fed by the crawler)."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def run_stream_indexing(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    config: EngineConfig | None = None,
    available_now: bool = True,
    check_recrawls: bool = True,
    on_recrawl: str = "filter",
):
    """Micro-batch incremental indexing: each foreachBatch becomes one
    index generation. availableNow=True drains what's there and stops
    (catch-up/cron mode); False runs continuously.

    Recrawl policy defaults to ``on_recrawl="filter"`` here (unlike
    the batch ``add_generation`` default of ``"error"``): a crawl
    stream ordinarily refetches urls, and a raise inside foreachBatch
    would fail the query — and since foreachBatch replays the SAME
    batch on every restart, the identical raise recurs forever: a
    permanent stream wedge. Filter-and-warn keeps the first-indexed
    copy and progresses. Pass ``on_recrawl="error"`` to restore
    fail-loud, or ``check_recrawls=False`` to skip the per-batch
    stored-urls scan when uniqueness is guaranteed upstream."""
    indexer = IncrementalIndexer(spark, index_dir, config)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # epoch_id makes an at-least-once replay of an already-
        # committed batch a no-op (add_generation's replay guard)
        indexer.add_generation(
            batch_df, epoch_id=epoch_id,
            check_recrawls=check_recrawls, on_recrawl=on_recrawl,
        )

    writer = (
        stream_pages(spark, input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return indexer
    return writer.start(), indexer
