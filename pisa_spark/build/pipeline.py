"""The index-build DAG, written once, over two stage stores.

``build_dag`` is the reference's parse_collection -> invert ->
create_wand_data -> compress chain (docs/source/indexing_pipeline.md)
as one stage graph (each arrow is a shuffle boundary, SURVEY §3.1):

    pages -> docs -> term_ids -> postings -> lexicon -> segments
                  \\-> stats                     \\-> term_meta

(quantized builds add ``term_meta_raw`` ahead of ``term_meta``;
doc_sizes / docmap are column-pruned projections of docs, not
stages). Each stage goes through ``store.stage(name, parents,
compute)``; the store decides only how it is kept:

- ``BuildPipeline`` (this module) checkpoints every stage to parquet,
  so a killed build resumes. The reference's analogue is its
  batch-spill files (`.batch.N.{docs,freqs,sizes}`,
  src/invert.cpp:139-165); here each STAGE is a directory and each
  part-file the per-partition unit:

      out_dir/<stage>/part-*.parquet      stage output, partitioned
      out_dir/<stage>/_MANIFEST.json      lineage + per-partition metrics

  A manifest records the stage's config fingerprint, its parents'
  manifest fingerprints (lineage chain), wall seconds, and per
  part-file rows/bytes (read from parquet footers — no extra scan).
  ``run`` skips any stage whose manifest exists and whose fingerprint
  (config + parents) is unchanged, so a config change invalidates
  exactly the stages downstream of it.
- ``index.build_index`` keeps stages in memory: docs and postings
  persisted, the lexicon lazily local-checkpointed, the rest lazy.

The encode tail (``term_meta`` -> ``segments``) is its own function,
``encode_stages``, so an ``IncrementalIndexer`` generation runs it
too, over a generation store that appends segments under
``segment_gen=g`` (streaming/incremental.py).

A store also answers ``n_rows(name, counted)`` (vocabulary size:
the manifest, or the free ``count_out`` of the compute) and
``discard()`` (cleanup when the duplicate-url guard fires).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import asdict
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from pisa_spark.build import (
    build_doc_sizes, build_postings, build_segments, build_term_ids,
    build_term_meta, collection_stats, lexicon_with_df, tokenize_pages,
)
from pisa_spark.build.forward import ID_BROADCAST_ROWS
from pisa_spark.build.segments import scored_postings
from pisa_spark.codecs import WIRE_VERSION
from pisa_spark.config import EngineConfig
from pisa_spark.index import InvertedIndex, quantized_rescale

MANIFEST = "_MANIFEST.json"

# Checkpoint parquet codec: zstd compresses the corpus-sized stage
# checkpoints ~2x tighter than snappy at a small CPU cost — fewer
# bytes through the page cache / disk on every write AND every
# downstream re-read (parquet is self-describing, so resuming across
# a codec change is safe).
CHECKPOINT_CODEC = "zstd"


def _fingerprint(payload: dict) -> str:
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True).encode()
    ).hexdigest()[:16]


def _partition_metrics(stage_dir: Path) -> list[dict]:
    """Per part-file (rows, bytes) from parquet footers only."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(stage_dir.glob("*.parquet")):
        out.append(
            {
                "file": str(f.relative_to(stage_dir)),
                "rows": pq.ParquetFile(f).metadata.num_rows,
                "bytes": f.stat().st_size,
            }
        )
    return out


def build_dag(pages: DataFrame, config: EngineConfig, store,
              lang_filter: str | None = None) -> InvertedIndex:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> InvertedIndex
    through the stage graph above, each stage kept by ``store``."""
    bcast = config.index.lexicon_broadcast_threshold
    # ONE corpus-sized stage: docIDs are a function of url alone, so
    # they are assigned over the column-pruned url projection of the
    # INPUT and joined back into the tokenize scan — broadcast when
    # the counted doc count is under the gate (capped by the
    # configured threshold; 0 disables), else a plain join for AQE.
    ids: dict = {}
    docs = store.stage("docs", [], lambda: tokenize_pages(
        pages, config.analyzer, lang_filter=lang_filter, stats_out=ids,
        id_broadcast_rows=min(bcast, ID_BROADCAST_ROWS),
    ))
    # Ids-first invert (invert.build_lexicon docstring): term ids from
    # distinct terms (map-side partial dedup -> a vocabulary-sized
    # shuffle), build_postings is the ONE corpus-pair shuffle, and the
    # lexicon's df is a vocabulary-sized aggregate off the postings.
    vocab: dict = {}
    term_ids = store.stage(
        "term_ids", ["docs"], lambda: build_term_ids(docs, count_out=vocab)
    )
    # gates the broadcast hints (invert.maybe_broadcast)
    lexicon_size = store.n_rows("term_ids", vocab)
    doc_sizes = build_doc_sizes(docs)
    stats = store.stage(
        "stats", ["docs"], lambda: collection_stats(doc_sizes)
    ).collect()[0]
    num_docs = int(stats["num_docs"])
    avg_len = float(stats["avg_len"] or 0.0)
    collection_len = int(stats["collection_len"] or 0)
    if ids and num_docs != ids["n_rows"]:
        store.discard()
        raise duplicate_urls(ids["n_rows"], num_docs)

    # carry_doc_len: postings keep doc_len, so the segment encode
    # never re-shuffles the pairs on doc_id for the doc_sizes join.
    postings = store.stage(
        "postings", ["docs", "term_ids"],
        lambda: build_postings(
            docs, term_ids, lexicon_size=lexicon_size,
            broadcast_threshold=bcast, carry_doc_len=True,
        ),
    )
    lexicon = store.stage(
        "lexicon", ["term_ids", "postings"],
        lambda: lexicon_with_df(term_ids, postings),
    )
    scored = scored_postings(
        postings, doc_sizes, lexicon, num_docs, avg_len,
        lexicon_size=lexicon_size, broadcast_threshold=bcast,
    )
    term_meta, segments = encode_stages(store, scored, num_docs, avg_len,
                                        config)
    return InvertedIndex(
        lexicon=lexicon,
        docmap=docs.select("doc_id", "url"),
        doc_sizes=doc_sizes,
        # Public contract: (term_id, doc_id, tf); doc_len is a
        # build-internal column (see build_postings).
        postings=postings.select("term_id", "doc_id", "tf"),
        segments=segments,
        term_meta=term_meta,
        num_docs=num_docs,
        avg_len=avg_len,
        collection_len=collection_len,
        config=config,
    )


def duplicate_urls(n_ids: int, num_docs: int) -> ValueError:
    """The duplicate-url guard's error (free: both counts are in
    hand): the id join fans out on duplicate urls, and a doubled index
    (tf, stats) must fail the build, not ship. NULL urls were already
    rejected inside the id assignment (forward._with_assigned_ids)."""
    return ValueError(
        f"duplicate urls in input: {n_ids} distinct-numbered urls "
        f"joined into {num_docs} doc rows (url is the corpus key and "
        "must be unique)"
    )


def encode_stages(store, scored: DataFrame, num_docs: int, avg_len: float,
                  config: EngineConfig) -> tuple[DataFrame, DataFrame]:
    """The build's encode tail: scored postings -> (term_meta,
    segments), each a ``store`` stage. ``build_dag`` and every
    IncrementalIndexer generation (refresh and compact) run it, so
    this is the one place term metadata and segments are built."""
    # Quantized builds need the index-wide max term weight BEFORE the
    # segment encode, and their term_meta carries quantized bounds:
    # the raw metadata is its own stage so a resume has it.
    bits = config.index.quantize_bits
    seg_parents = ["postings", "lexicon", "stats"]
    term_meta = store.stage(
        "term_meta_raw" if bits else "term_meta", seg_parents,
        lambda: build_term_meta(scored, num_docs, avg_len, config.bm25),
    )
    index_max_score = None
    if bits:
        index_max_score, rescaled = quantized_rescale(term_meta, bits)
        term_meta = store.stage("term_meta", ["term_meta_raw"], lambda: rescaled)
        seg_parents = seg_parents + ["term_meta_raw"]
    if config.index.compress_blockmax:
        seg_parents = seg_parents + ["term_meta"]
    segments = store.stage("segments", seg_parents, lambda: build_segments(
        scored, num_docs, avg_len, config.index, config.bm25,
        index_max_score=index_max_score, term_meta=term_meta,
    ))
    return term_meta, segments


class BuildPipeline:
    """The checkpoint store: runs ``build_dag`` with every stage
    written to (or resumed from) parquet under ``out_dir``.

    >>> pipe = BuildPipeline(spark, out_dir, config)
    >>> index = pipe.run(pages)        # full build or resume
    >>> pipe.report()                  # lineage + metrics per stage
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 config: EngineConfig | None = None,
                 input_desc: dict | None = None):
        """``input_desc`` identifies the input corpus (e.g. source
        path / doc count / generator seed) and is part of every stage
        fingerprint — without it a checkpoint dir reused with a
        different input would wrongly resume."""
        self.spark = spark
        self.out = Path(out_dir)
        self.config = config or EngineConfig()
        self.cfg_fp = _fingerprint(
            {
                "analyzer": asdict(self.config.analyzer) | {"stopwords": sorted(self.config.analyzer.stopwords)},
                "bm25": asdict(self.config.bm25),
                "index": asdict(self.config.index),
                "input": input_desc or {},
                # encoded-segment byte layout: a checkpoint written
                # under a different wire version must re-encode, not
                # resume (a resumed pef stage would mis-decode)
                "codec_wire": WIRE_VERSION,
            }
        )
        self.executed: list[str] = []  # stages actually computed this run
        self.skipped: list[str] = []

    # ------------------------------------------------------------- stages

    def _manifest_path(self, stage: str) -> Path:
        return self.out / stage / MANIFEST

    def _load_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if p.exists():
            return json.loads(p.read_text())
        return None

    def _job_ids(self) -> list[int]:
        """Spark job ids the status tracker holds for the calling
        thread's job group (None when unset). The pipeline never sets
        a group itself, so a caller's own groups keep attributing its
        jobs."""
        sc = self.spark.sparkContext
        return sc.statusTracker().getJobIdsForGroup(
            sc.getLocalProperty("spark.jobGroup.id")
        )

    def stage(self, stage: str, parents: list[str],
              compute: Callable[[], DataFrame]) -> DataFrame:
        """Run-or-resume one stage; returns the checkpointed DataFrame.

        A resumed stage is read back with parquet schema inference
        (itself a Spark job); a fresh one with the schema of the frame
        it just wrote, so reading it back submits no job."""
        parent_fps = {
            p: (self._load_manifest(p) or {}).get("fingerprint", "?")
            for p in parents
        }
        want_fp = _fingerprint({"config": self.cfg_fp, "parents": parent_fps})
        man = self._load_manifest(stage)
        stage_dir = self.out / stage
        if man and man.get("fingerprint") == want_fp:
            self.skipped.append(stage)
            return self.spark.read.parquet(str(stage_dir))

        t0 = time.perf_counter()
        last_job = max(self._job_ids(), default=-1)
        df = compute()
        df.write.mode("overwrite").option(
            "compression", CHECKPOINT_CODEC
        ).parquet(str(stage_dir))
        wall = time.perf_counter() - t0
        n_jobs = sum(1 for j in self._job_ids() if j > last_job)
        parts = _partition_metrics(stage_dir)
        manifest = {
            "stage": stage,
            "fingerprint": want_fp,
            "config": self.cfg_fp,
            "parents": parent_fps,
            "wall_s": round(wall, 3),
            "n_jobs": n_jobs,
            "n_rows": sum(p["rows"] for p in parts),
            "n_bytes": sum(p["bytes"] for p in parts),
            "n_partitions": len(parts),
            "partitions": parts,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._manifest_path(stage).write_text(json.dumps(manifest, indent=1))
        self.executed.append(stage)
        return self.spark.read.schema(df.schema).parquet(str(stage_dir))

    def n_rows(self, stage: str, counted: dict) -> int | None:
        """Row count off the stage manifest (also on resume, when the
        compute that would have filled ``counted`` never ran)."""
        return (self._load_manifest(stage) or {}).get("n_rows")

    def discard(self) -> None:
        """Failed build: delete every checkpoint this run wrote, so a
        rerun recomputes them (and re-raises) instead of resuming a
        corrupt docs stage with the guard's id count missing."""
        import shutil

        for stage in self.executed:
            shutil.rmtree(self.out / stage, ignore_errors=True)

    # ---------------------------------------------------------------- run

    def run(self, pages: DataFrame) -> InvertedIndex:
        """Build (or resume) the full index; returns InvertedIndex
        backed by the checkpoint parquet (every artifact re-readable
        without recompute)."""
        return build_dag(pages, self.config, self)

    # ------------------------------------------------------------- report

    def report(self) -> dict:
        """Lineage + metrics summary across all stage manifests."""
        stages = {}
        for p in sorted(self.out.glob(f"*/{MANIFEST}")):
            m = json.loads(p.read_text())
            stages[m["stage"]] = {
                "fingerprint": m["fingerprint"],
                "parents": m["parents"],
                "wall_s": m["wall_s"],
                # absent from manifests written before it was recorded
                "n_jobs": m.get("n_jobs"),
                "n_rows": m["n_rows"],
                "n_bytes": m["n_bytes"],
                "n_partitions": m["n_partitions"],
            }
        return {
            "config": self.cfg_fp,
            "executed": self.executed,
            "skipped": self.skipped,
            "stages": stages,
        }
