"""Incremental / Structured-Streaming indexing tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pisa_spark.config import AnalyzerConfig, EngineConfig, IndexConfig

SF = "/root/testdata/sf0.001"
CFG = EngineConfig(
    analyzer=AnalyzerConfig(tokenizer="whitespace"),
    index=IndexConfig(salt_bucket_docs=256),
)


def _pages(spark):
    from pisa_spark.corpus import pages_from_documents

    return pages_from_documents(spark, SF).limit(120).drop("doc_id")


def _pages_slice(spark, lo, hi):
    """Pages with doc_id in [lo, hi) — url-DISJOINT from _pages()
    when lo >= 120, for tests appending extra generations (url is the
    corpus key; add_generation rejects recrawled urls)."""
    from pisa_spark.corpus import pages_from_documents

    p = pages_from_documents(spark, SF)
    return p.filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    ).drop("doc_id")


def _query(spark, index, terms_pool, n=8):
    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.parser import parse_queries

    # k > corpus size: no truncation boundary, so the full matching
    # result set must be identical regardless of docID permutation
    # (docID tie-breaks at a top-k cutoff legitimately differ between
    # the two id assignments).
    rows = [(f"q{i}", [terms_pool[(2 * i) % len(terms_pool)],
                       terms_pool[(2 * i + 5) % len(terms_pool)]], 500)
            for i in range(n)]
    qdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True)
    res = topk_search(index, parsed, algorithm="block_max_wand", k=500)
    return (
        res.join(index.docmap, "doc_id")
        .select("query_id", "url", "score")
        .toPandas()
    )


def test_incremental_matches_batch_build(spark, tmp_path):
    """Two generations must answer queries identically (by url+score)
    to a one-shot batch build over the same corpus."""
    from pisa_spark.index import build_index
    from pisa_spark.streaming import IncrementalIndexer

    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)

    inc = IncrementalIndexer(spark, str(tmp_path / "inc"), CFG)
    assert inc.add_generation(gen0) == 0
    assert inc.add_generation(gen1) == 1
    inc_index = inc.index()

    batch_index = build_index(spark, pages, CFG)
    assert inc_index.num_docs == batch_index.num_docs
    assert abs(inc_index.avg_len - batch_index.avg_len) < 1e-9

    terms = [r["term"] for r in batch_index.lexicon.limit(30).collect()]
    got = _query(spark, inc_index, terms).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    want = _query(spark, batch_index, terms).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    # same (query, url, score) result sets — docIDs differ by design
    assert len(got) == len(want)
    assert (got["query_id"].values == want["query_id"].values).all()
    assert (got["url"].values == want["url"].values).all()
    assert np.allclose(got["score"].values, want["score"].values, atol=1e-9)


def test_kept_block_bounds_stay_sound(spark, tmp_path):
    """After a generation that does NOT touch a term, its kept blocks'
    stored max_score TIMES the query-side term_meta.bound_factor must
    still upper-bound the true (fresh-stats) block max score — the
    executor applies exactly this product (_factored_rows)."""
    from pisa_spark.build import decode_segments
    from pisa_spark.functions.scoring import bm25_score_np
    from pisa_spark.streaming import IncrementalIndexer

    gen0 = _pages(spark).persist()
    # gen1 introduces ONLY new vocabulary with very long docs, so every
    # gen0 term is untouched while num_docs and avg_len shift a lot.
    gen1_pdf = pd.DataFrame(
        {
            "url": [f"https://new.example/{i}" for i in range(10)],
            "warc_ts": pd.Timestamp("2024-06-01"),
            "html": [b"<html/>"] * 10,
            "text": [" ".join(f"zzznew{i}w{j}" for j in range(900))
                     for i in range(10)],
            "lang": "en",
        }
    )
    gen1 = spark.createDataFrame(
        gen1_pdf,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    gen1_terms = {f"zzznew{i}w{j}" for i in range(10) for j in range(900)}

    inc = IncrementalIndexer(spark, str(tmp_path / "inc2"), CFG)
    inc.add_generation(gen0)
    inc.add_generation(gen1)
    idx = inc.index()

    lex = idx.lexicon.toPandas()
    untouched_ids = set(lex[~lex["term"].isin(gen1_terms)]["term_id"])
    if not untouched_ids:
        pytest.skip("no untouched terms in this split")

    seg = idx.segments.toPandas()
    dec = decode_segments(idx.segments, CFG.index).toPandas()
    sizes = idx.doc_sizes.toPandas().set_index("doc_id")["doc_len"]
    dfs = lex.set_index("term_id")["df"]

    dec = dec[dec["term_id"].isin(untouched_ids)]
    scores = bm25_score_np(
        dec["tf"].to_numpy(float),
        dec["term_id"].map(dfs).to_numpy(float),
        dec["doc_id"].map(sizes).to_numpy(float),
        float(idx.num_docs), float(idx.avg_len),
    )
    dec = dec.assign(score=scores)
    # per-block soundness: assign each posting to its block by
    # (term, first block whose max_doc_id >= doc_id) and compare
    # stored_max * bound_factor (the executor's effective bound)
    factors = idx.term_meta.toPandas().set_index("term_id")["bound_factor"]
    assert (factors[factors.index.isin(untouched_ids)] >= 1.0).all()
    seg_u = seg[seg["term_id"].isin(untouched_ids)]
    for tid, g in seg_u.groupby("term_id"):
        g = g.sort_values("block_id")
        term_dec = dec[dec["term_id"] == tid].sort_values("doc_id")
        bounds = g["max_doc_id"].to_numpy()
        blk = np.searchsorted(bounds, term_dec["doc_id"].to_numpy())
        fac = float(factors[tid])
        for bi, bmax in enumerate(g["max_score"].to_numpy()):
            mask = blk == bi
            if mask.any():
                assert bmax * fac + 1e-6 >= (
                    term_dec["score"].to_numpy()[mask].max()
                )


def _dir_snapshot(root):
    """{relative file path: (size, md5)} over all parquet data files."""
    import hashlib
    from pathlib import Path

    out = {}
    for p in Path(root).rglob("*.parquet"):
        out[str(p.relative_to(root))] = (
            p.stat().st_size, hashlib.md5(p.read_bytes()).hexdigest()
        )
    return out


def test_refresh_writes_are_delta_proportional(spark, tmp_path):
    """Generation g's refresh must leave generation <g segment files
    BYTE-IDENTICAL on disk (append-only, partitioned by segment_gen)
    and never rewrite the corpus-sized docs/postings/doc_sizes tables
    — the incremental story's write volume is O(delta) + O(vocab)."""
    from pisa_spark.streaming import IncrementalIndexer

    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)

    out = tmp_path / "inc3"
    inc = IncrementalIndexer(spark, str(out), CFG)
    inc.add_generation(gen0)
    before = {
        name: _dir_snapshot(out / name)
        for name in ("segments", "docs", "postings", "doc_sizes")
    }
    inc.add_generation(gen1)
    after = {
        name: _dir_snapshot(out / name)
        for name in ("segments", "docs", "postings", "doc_sizes")
    }
    for name in before:
        for path, sig in before[name].items():
            assert path in after[name], f"{name}/{path} deleted by refresh"
            assert after[name][path] == sig, f"{name}/{path} rewritten"
        # and the new generation really appended something
        assert len(after[name]) > len(before[name]), f"{name}: nothing appended"
    # gen-0 segment partition untouched, gen-1 partition created
    assert any("segment_gen=1" in p for p in after["segments"])


def test_incremental_with_compressed_blockmax(spark, tmp_path):
    """compress_blockmax under incremental generations: the u8 block
    maxima recover against term_max * bound_factor query-side, so a
    two-generation compressed index must answer BMW queries
    identically (by url+score) to the batch build — including for
    untouched terms whose bounds ride the inflation factor."""
    from pisa_spark.index import build_index
    from pisa_spark.streaming import IncrementalIndexer

    ccfg = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=256, compress_blockmax=True),
    )
    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)
    inc = IncrementalIndexer(spark, str(tmp_path / "inc5"), ccfg)
    inc.add_generation(gen0)
    inc.add_generation(gen1)
    inc_index = inc.index()
    assert "max_score_q" in inc_index.segments.columns
    batch_index = build_index(spark, pages, ccfg)
    terms = [r["term"] for r in batch_index.lexicon.limit(20).collect()]
    got = _query(spark, inc_index, terms, n=5).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    want = _query(spark, batch_index, terms, n=5).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    assert len(got) == len(want)
    assert (got["url"].values == want["url"].values).all()
    assert np.allclose(got["score"].values, want["score"].values, atol=1e-9)
    # compact() must RE-ENCODE (fresh stats, fresh u8 maxima) — after
    # it, the same queries still match batch exactly and the factor
    # is reset to 1.
    inc.compact()
    cidx = inc.index()
    assert "max_score_q" in cidx.segments.columns
    factors = cidx.term_meta.select("bound_factor").distinct().collect()
    assert [r[0] for r in factors] == [1.0]
    got2 = _query(spark, cidx, terms, n=5).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    assert (got2["url"].values == want["url"].values).all()
    assert np.allclose(got2["score"].values, want["score"].values, atol=1e-9)


def test_compact_reclaims_superseded_generations(spark, tmp_path):
    """compact() folds the current view into one generation, resets
    bound_factor to exactly 1, and queries stay identical."""
    from pisa_spark.streaming import IncrementalIndexer

    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)
    inc = IncrementalIndexer(spark, str(tmp_path / "inc4"), CFG)
    inc.add_generation(gen0)
    inc.add_generation(gen1)
    terms = [r["term"] for r in inc.index().lexicon.limit(20).collect()]
    want = _query(spark, inc.index(), terms, n=4).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    inc.compact()
    idx = inc.index()
    tm = idx.term_meta.toPandas()
    assert (tm["bound_factor"] == 1.0).all()
    # compact re-encodes as a FRESH generation (commit protocol): two
    # add_generations used 0-1, so the compacted view is generation 2
    # and older segment partitions are reclaimed.
    gens = {r["seg_gen"] for r in idx.lexicon.select("seg_gen").distinct().collect()}
    assert gens == {2}
    seg_dirs = {p.name for p in (tmp_path / "inc4" / "segments").iterdir()
                if p.name.startswith("segment_gen=")}
    assert seg_dirs == {"segment_gen=2"}
    got = _query(spark, idx, terms, n=4).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    assert (got["url"].values == want["url"].values).all()
    assert np.allclose(got["score"].values, want["score"].values, atol=1e-9)


def test_compacted_generations_equal_batch_build(spark, tmp_path):
    """compact() and build_index encode through one tail
    (pipeline.encode_stages): after two generations and a compact,
    term_meta equals the batch build's per term string EXACTLY on df,
    occurrence_count and max_score, and the decoded segments hold the
    same (term, url, tf) postings (docIDs differ by design)."""
    from pisa_spark.build import decode_segments
    from pisa_spark.index import build_index
    from pisa_spark.streaming import IncrementalIndexer

    pages = _pages(spark).persist()
    inc = IncrementalIndexer(spark, str(tmp_path / "inc_tail"), CFG)
    inc.add_generation(pages.filter(F.crc32(F.col("url")) % 2 == 0))
    inc.add_generation(pages.filter(F.crc32(F.col("url")) % 2 == 1))
    inc.compact()
    inc_index = inc.index()
    batch_index = build_index(spark, pages, CFG)

    def term_meta(idx):
        return (
            idx.term_meta.join(idx.lexicon.select("term", "term_id"), "term_id")
            .select("term", "df", "occurrence_count", "max_score")
            .toPandas().sort_values("term").reset_index(drop=True)
        )

    def postings(idx):
        return (
            decode_segments(idx.segments, CFG.index)
            .join(idx.lexicon.select("term", "term_id"), "term_id")
            .join(idx.docmap, "doc_id")
            .select("term", "url", "tf")
            .toPandas().sort_values(["term", "url"]).reset_index(drop=True)
        )

    want = term_meta(batch_index)
    assert len(want) > 0
    pd.testing.assert_frame_equal(term_meta(inc_index), want, check_exact=True)
    want = postings(batch_index)
    assert len(want) > 0
    pd.testing.assert_frame_equal(postings(inc_index), want, check_exact=True)
    pages.unpersist()


def test_structured_streaming_drains_landing_zone(spark, tmp_path):
    from pisa_spark.streaming import run_stream_indexing

    landing = tmp_path / "landing"
    landing.mkdir()
    pages = _pages(spark).persist()
    n_total = pages.count()
    pages.filter(F.crc32(F.col("url")) % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(landing / "chunk0"))
    pages.filter(F.crc32(F.col("url")) % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(landing / "chunk1"))
    # flatten chunk files into the landing dir (file source reads *.parquet)
    import shutil

    for i, f in enumerate(sorted(landing.glob("chunk*/*.parquet"))):
        shutil.move(str(f), str(landing / f"part-{i}.parquet"))
    for d in landing.glob("chunk*"):
        shutil.rmtree(d)

    indexer = run_stream_indexing(
        spark, str(landing), str(tmp_path / "sidx"),
        str(tmp_path / "ckpt"), CFG, available_now=True,
    )
    idx = indexer.index()
    assert idx.num_docs == n_total
    terms = [r["term"] for r in idx.lexicon.limit(10).collect()]
    res = _query(spark, idx, terms, n=3)
    assert len(res) > 0 and (res["score"] > 0).all()

def test_crashed_generation_rolls_back(spark, tmp_path, monkeypatch):
    """A generation that crashes BEFORE its stats commit must be
    invisible to index() and fully rolled back by the next
    add_generation — the retry reuses the same doc/term id bases, so
    the final index matches the batch build exactly (no duplicate
    ids, no orphan rows)."""
    from pisa_spark.index import build_index
    from pisa_spark.streaming import IncrementalIndexer

    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)
    out = tmp_path / "inc6"
    inc = IncrementalIndexer(spark, str(out), CFG)
    inc.add_generation(gen0)
    n_gen0 = inc.index().num_docs

    # Crash point: every table of generation 1 is written (docs,
    # lexicon_ids, postings, doc_sizes, segments, lexicon_g1,
    # term_meta_g1) but the stats commit never lands.
    real = IncrementalIndexer._refresh_metadata

    def crash_after_refresh(self, *a, **k):
        real(self, *a, **k)
        raise RuntimeError("simulated crash before stats commit")

    monkeypatch.setattr(
        IncrementalIndexer, "_refresh_metadata", crash_after_refresh
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        inc.add_generation(gen1)
    monkeypatch.setattr(IncrementalIndexer, "_refresh_metadata", real)

    # The uncommitted generation left partition dirs behind...
    assert any("generation=1" in str(p) for p in (out / "docs").iterdir())
    # ...but the committed view is still generation 0 only.
    assert inc.index().num_docs == n_gen0

    # Retry: rollback removes the leftovers, then the generation
    # re-runs with the SAME id bases.
    inc.add_generation(gen1)
    idx = inc.index()
    assert idx.num_docs == pages.count()
    dd = idx.docmap.select("doc_id").distinct().count()
    assert dd == idx.num_docs, "duplicate doc_ids after crash recovery"
    lex = idx.lexicon.toPandas()
    assert lex["term_id"].is_unique, "duplicate term_ids after recovery"
    # the retried generation 1 is now the committed snapshot; the
    # superseded generation-0 snapshot was dropped post-commit
    assert (out / "lexicon_g1").exists()
    assert not (out / "lexicon_g0").exists(), "superseded snapshot kept"
    assert (out / "stats_g1" / "_SUCCESS").exists()

    batch_index = build_index(spark, pages, CFG)
    terms = [r["term"] for r in batch_index.lexicon.limit(20).collect()]
    got = _query(spark, idx, terms, n=5).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    want = _query(spark, batch_index, terms, n=5).sort_values(
        ["query_id", "score", "url"], ascending=[True, False, True]
    )
    assert len(got) == len(want)
    assert (got["url"].values == want["url"].values).all()
    assert np.allclose(got["score"].values, want["score"].values, atol=1e-9)

    # the commit pointer is only valid WITH its _SUCCESS marker: a
    # marker-less stats dir (a commit interrupted mid-write) is
    # invisible to reads and rolled back by the next mutating call
    (out / "stats_g9").mkdir()
    assert inc.index().num_docs == pages.count()  # still generation 1
    inc.compact()
    assert not (out / "stats_g9").exists(), "interrupted pointer kept"


def test_refuses_dir_without_commit_record(spark, tmp_path):
    """Index tables with no stats commit record (a foreign dir, or a
    generation-0 build that crashed) must be refused loudly — the old
    code silently restarted ids at 0 and corrupted the index."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc7"
    (out / "docs").mkdir(parents=True)
    spark.range(3).write.mode("overwrite").parquet(str(out / "docs" / "generation=0"))
    inc = IncrementalIndexer(spark, str(out), CFG)
    with pytest.raises(ValueError, match="commit record"):
        inc.add_generation(_pages(spark).limit(5))


def test_empty_batch_is_a_committed_noop(spark, tmp_path):
    """An empty batch must not crash the read-back (a zero-row
    partitioned write leaves no parquet files): committed dirs get a
    no-op returning the current generation; virgin dirs refuse."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_empty"
    inc = IncrementalIndexer(spark, str(out), CFG)
    pages = _pages(spark).limit(10)
    empty = pages.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty batch"):
        inc.add_generation(empty)
    g0 = inc.add_generation(pages)
    before = _dir_snapshot(out)
    assert inc.add_generation(empty) == g0
    assert _dir_snapshot(out) == before  # nothing written, still queryable
    assert inc.index().num_docs == 10


def test_refuses_mismatched_wire_version(spark, tmp_path):
    """Stored segments encoded under a different codec wire version
    must be refused on append — mixing layouts would mis-decode the
    kept generations (pef's v1->v2 header widening is the motivating
    case)."""
    import pisa_spark.streaming.incremental as inc_mod
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_wire"
    inc = IncrementalIndexer(spark, str(out), CFG)
    inc.add_generation(_pages(spark).limit(10))
    orig = inc_mod.WIRE_VERSION
    try:
        inc_mod.WIRE_VERSION = orig + 1
        with pytest.raises(ValueError, match="wire"):
            IncrementalIndexer(spark, str(out), CFG).add_generation(
                _pages(spark).limit(10)
            )
        # a read-only open must refuse too: queries against the old
        # layout would silently mis-decode, same as an append would
        with pytest.raises(ValueError, match="wire"):
            IncrementalIndexer(spark, str(out), CFG).index()
    finally:
        inc_mod.WIRE_VERSION = orig


def test_pipeline_reencodes_on_wire_version_change(spark, tmp_path):
    """BuildPipeline resume folds the codec wire version into every
    stage fingerprint: a checkpoint written under another layout
    re-encodes instead of resuming (a resumed pef stage would
    mis-decode)."""
    import pisa_spark.build.pipeline as pipe_mod
    from pisa_spark.build.pipeline import BuildPipeline

    out = tmp_path / "pipe_wire"
    pages = _pages(spark).limit(10)
    p1 = BuildPipeline(spark, str(out), CFG, input_desc={"n": 10})
    p1.run(pages)
    p1b = BuildPipeline(spark, str(out), CFG, input_desc={"n": 10})
    p1b.run(pages)
    assert p1b.skipped and not p1b.executed  # same version resumes
    orig = pipe_mod.WIRE_VERSION
    try:
        pipe_mod.WIRE_VERSION = orig + 1
        p2 = BuildPipeline(spark, str(out), CFG, input_desc={"n": 10})
        p2.run(pages)
        assert p2.executed and not p2.skipped  # full re-encode
    finally:
        pipe_mod.WIRE_VERSION = orig

def test_config_mismatch_refused_mixed_generations(spark, tmp_path):
    """Reopening an index dir with a different config must be refused:
    appending under a changed INDEX config would mix incompatible
    segment generations (f32 vs u8 block maxima — NaN bounds, silently
    wrong top-k); a changed ANALYZER config would mix two
    tokenizations of one corpus. compact() may change the build
    config (it re-encodes everything); an analyzer change never can."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_cfg"
    IncrementalIndexer(spark, str(out), CFG).add_generation(
        _pages(spark).limit(20)
    )

    cfg_bm = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=256, compress_blockmax=True),
    )
    inc_bm = IncrementalIndexer(spark, str(out), cfg_bm)
    with pytest.raises(ValueError, match="scorer/layout"):
        inc_bm.add_generation(_pages(spark).limit(10))
    with pytest.raises(ValueError, match="stored config"):
        inc_bm.index()

    cfg_an = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="english"),
        index=IndexConfig(salt_bucket_docs=256),
    )
    inc_an = IncrementalIndexer(spark, str(out), cfg_an)
    with pytest.raises(ValueError, match="analyzer"):
        inc_an.add_generation(_pages(spark).limit(10))
    with pytest.raises(ValueError, match="analyzer"):
        inc_an.compact()

    # compact() re-encodes every segment, so a BUILD config change is
    # legal there — and afterwards appends under the new config work.
    g = inc_bm.compact()
    assert (out / f"stats_g{g}" / "_SUCCESS").exists()
    inc_bm.add_generation(_pages_slice(spark, 400, 410))
    assert inc_bm.index().num_docs > 20


def test_crashed_generation_zero_recovers_on_retry(spark, tmp_path,
                                                   monkeypatch):
    """A generation-0 build that crashes before its commit must NOT
    wedge the stream: the ownership marker lets the next attempt roll
    the leftovers back and retry from a virgin state (a foreign dir —
    tables but no marker — is still refused)."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_g0"
    inc = IncrementalIndexer(spark, str(out), CFG)
    real = IncrementalIndexer._refresh_metadata

    def crash(self, *a, **k):
        real(self, *a, **k)
        raise RuntimeError("simulated crash before gen-0 commit")

    monkeypatch.setattr(IncrementalIndexer, "_refresh_metadata", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        inc.add_generation(_pages(spark).limit(20))
    monkeypatch.setattr(IncrementalIndexer, "_refresh_metadata", real)

    # leftovers exist, nothing committed
    assert (out / "docs").exists()
    with pytest.raises(ValueError, match="no committed generation"):
        inc.index()

    # retry succeeds from clean state — same id bases as a fresh build
    assert inc.add_generation(_pages(spark).limit(20)) == 0
    idx = inc.index()
    assert idx.num_docs == 20
    assert idx.docmap.select("doc_id").distinct().count() == 20


def test_snapshot_grace_keeps_previous_generation(spark, tmp_path):
    """snapshot_grace=1: the previous generation's vocabulary
    snapshots survive the next commit, so an InvertedIndex handle
    opened before the commit keeps answering queries."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_grace"
    inc = IncrementalIndexer(spark, str(out), CFG, snapshot_grace=1)
    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)
    inc.add_generation(gen0)
    idx0 = inc.index()
    terms = [r["term"] for r in idx0.lexicon.limit(10).collect()]

    inc.add_generation(gen1)
    # grace keeps generation 0's snapshots...
    assert (out / "lexicon_g0").exists()
    assert (out / "term_meta_g0").exists()
    # ...so the old handle still answers
    res = _query(spark, idx0, terms, n=3)
    assert len(res) > 0

    # and they are reclaimed once generation 2 commits
    inc.add_generation(_pages_slice(spark, 400, 415))
    assert not (out / "lexicon_g0").exists()
    assert (out / "lexicon_g1").exists()


def test_replayed_epoch_is_a_committed_noop(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the index commit
    and the stream checkpoint replays the SAME epoch — the replay
    guard must make it a no-op instead of re-indexing the batch as a
    duplicate generation (doubled docs/df/stats)."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_epoch"
    inc = IncrementalIndexer(spark, str(out), CFG)
    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)

    assert inc.add_generation(gen0, epoch_id=0) == 0
    n0 = inc.index().num_docs
    before = _dir_snapshot(out)
    # replay of the committed epoch (same batch redelivered)
    assert inc.add_generation(gen0, epoch_id=0) == 0
    assert _dir_snapshot(out) == before  # nothing written
    assert inc.index().num_docs == n0
    # the NEXT epoch indexes normally
    assert inc.add_generation(gen1, epoch_id=1) == 1
    assert inc.index().num_docs > n0
    # and the guard survives a compact between epochs
    g = inc.compact()
    assert inc.add_generation(gen1, epoch_id=1) == g  # still a no-op
    pages.unpersist()


def test_url_key_guards(spark, tmp_path):
    """url is the corpus key: a duplicate url inside a batch and a
    recrawled url from a previous generation are both rejected loudly
    (the batch builds' duplicate-url guard, applied to the stream);
    check_recrawls=False restores append-at-your-own-risk."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_urls"
    inc = IncrementalIndexer(spark, str(out), CFG)
    pages = _pages(spark).limit(20).persist()

    with pytest.raises(ValueError, match="duplicate url"):
        inc.add_generation(pages.unionByName(pages.limit(3)))
    # the failed guard left no committed generation
    inc.add_generation(pages)
    with pytest.raises(ValueError, match="already indexed"):
        inc.add_generation(pages.limit(5))
    # uniqueness guaranteed upstream -> opt out
    g = inc.add_generation(_pages_slice(spark, 400, 405),
                           check_recrawls=False)
    assert inc.index().num_docs == 25
    assert g == 1
    pages.unpersist()


def test_empty_vocabulary_generation_degrades_gracefully(spark, tmp_path):
    """A first batch whose pages tokenize to ZERO terms (all
    whitespace) must index as a degenerate-but-committed generation —
    not crash on the zero-file lexicon/postings read-back and wedge
    the stream on every replay — and a later real batch must build a
    queryable index on top of it."""
    import pandas as pd

    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_novocab"
    inc = IncrementalIndexer(spark, str(out), CFG)
    blank = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"u{i}" for i in range(4)],
                "warc_ts": [pd.Timestamp("2024-01-01")] * 4,
                "html": [b""] * 4,
                "text": ["   ", "\t", " \n ", ""],
                "lang": ["en"] * 4,
            }
        ),
        schema="url string, warc_ts timestamp, html binary, "
               "text string, lang string",
    )
    assert inc.add_generation(blank) == 0
    idx = inc.index()
    assert idx.num_docs == 4
    assert idx.postings.count() == 0
    assert idx.segments.count() == 0

    # a real generation on top becomes queryable
    inc.add_generation(_pages_slice(spark, 400, 410))
    idx = inc.index()
    assert idx.num_docs == 14
    terms = [r["term"] for r in idx.lexicon.limit(6).collect()]
    assert terms
    res = _query(spark, idx, terms, n=2)
    assert len(res) > 0


def test_on_recrawl_filter_keeps_stream_alive(spark, tmp_path):
    """on_recrawl='filter' (the run_stream_indexing default): a batch
    carrying within-batch duplicates and already-indexed urls indexes
    only the genuinely-new pages; an all-recrawl batch is a committed
    no-op instead of a raise (the raise would wedge foreachBatch —
    every restart replays the identical batch)."""
    from pisa_spark.streaming import IncrementalIndexer

    out = tmp_path / "inc_recrawl"
    inc = IncrementalIndexer(spark, str(out), CFG)
    gen0 = _pages_slice(spark, 0, 10)
    inc.add_generation(gen0)
    assert inc.index().num_docs == 10

    # batch 1: 5 recrawls of gen0 urls + 4 new urls, with one new url
    # duplicated within the batch (a refetch inside the window)
    recrawls = _pages_slice(spark, 3, 8)
    fresh = _pages_slice(spark, 120, 124)
    dup_row = fresh.orderBy("url").limit(1).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")
    )
    batch = recrawls.unionByName(fresh).unionByName(dup_row)
    g1 = inc.add_generation(batch, on_recrawl="filter")
    assert g1 == 1
    assert inc.index().num_docs == 14  # 10 + 4 new, dupes dropped

    # determinism: the kept copy of the duplicated url is the LATEST
    # warc_ts one — its doc row exists exactly once
    docs = spark.read.parquet(str(out / "docs"))
    dup_url = dup_row.collect()[0]["url"]
    assert docs.filter(F.col("url") == dup_url).count() == 1

    # batch 2: pure recrawls — committed no-op, not a raise
    before = inc.index().num_docs
    g2 = inc.add_generation(_pages_slice(spark, 0, 6),
                            on_recrawl="filter")
    assert g2 == g1
    assert inc.index().num_docs == before

    # default batch contract unchanged: same batch raises loudly
    with pytest.raises(ValueError, match="already indexed"):
        inc.add_generation(_pages_slice(spark, 0, 6))


def test_bad_on_recrawl_refused_before_any_side_effect(spark, tmp_path):
    """An unknown on_recrawl policy is refused before the call touches
    the dir: on a virgin dir no ownership marker (which would let a
    later call take stray tables for its own crashed build) and no
    file is left behind."""
    from pisa_spark.streaming import IncrementalIndexer
    from pisa_spark.streaming.incremental import _MARKER

    out = tmp_path / "inc_bad_policy"
    inc = IncrementalIndexer(spark, str(out), CFG)
    with pytest.raises(ValueError, match="on_recrawl='keep'"):
        inc.add_generation(_pages(spark).limit(5), on_recrawl="keep")
    assert not (out / _MARKER).exists()
    assert list(out.rglob("*")) == []


def test_twenty_generation_soak_with_midstream_compact(spark, tmp_path):
    """Depth soak (VERDICT r3 next-#5): 21 generations of appends with
    a compact() mid-stream, asserting after every phase that the
    incremental index answers queries identically (url+score) to a
    from-scratch batch build of the same corpus, and that the
    accumulated bound_factor inflation stays bounded."""
    from pisa_spark.index import build_index
    from pisa_spark.streaming import IncrementalIndexer

    from pisa_spark.corpus import pages_from_documents

    all_pages = pages_from_documents(spark, SF).limit(420)  # of 500
    # deterministic 21-way split on doc_id, ~20 docs each
    slices = [
        all_pages.filter(F.col("doc_id") % 21 == g).drop("doc_id")
        .localCheckpoint(eager=True)
        for g in range(21)
    ]
    inc = IncrementalIndexer(spark, str(tmp_path / "soak"), CFG)

    def check_matches_batch(n_gens: int):
        inc_index = inc.index()
        corpus = slices[0]
        for s in slices[1:n_gens]:
            corpus = corpus.unionByName(s)
        batch_index = build_index(spark, corpus, CFG)
        assert inc_index.num_docs == batch_index.num_docs
        terms = [r["term"]
                 for r in batch_index.lexicon.orderBy("term_id")
                 .limit(30).collect()]
        got = _query(spark, inc_index, terms, n=4).sort_values(
            ["query_id", "score", "url"], ascending=[True, False, True]
        )
        want = _query(spark, batch_index, terms, n=4).sort_values(
            ["query_id", "score", "url"], ascending=[True, False, True]
        )
        assert len(got) == len(want)
        assert (got["query_id"].values == want["query_id"].values).all()
        assert (got["url"].values == want["url"].values).all()
        assert np.allclose(got["score"].values, want["score"].values,
                           atol=1e-9)

    for g in range(10):
        inc.add_generation(slices[g])
    check_matches_batch(10)

    # bound_factor stays bounded: it only compounds for never-touched
    # terms, and each generation's inflation ratio is idf/avg_len
    # drift — with ~5% corpus growth per generation the product stays
    # near 1 (sound means >= 1 up to f32 rounding)
    bf = inc.index().term_meta.toPandas()["bound_factor"]
    assert (bf >= 1.0 - 1e-6).all()
    assert bf.max() < 3.0, f"bound_factor inflated to {bf.max()}"

    # compact mid-stream: fresh committed generation, factors reset
    inc.compact()
    bf2 = inc.index().term_meta.toPandas()["bound_factor"]
    assert (bf2 == 1.0).all()
    check_matches_batch(10)

    for g in range(10, 21):
        inc.add_generation(slices[g])
    check_matches_batch(21)
    bf3 = inc.index().term_meta.toPandas()["bound_factor"]
    assert (bf3 >= 1.0 - 1e-6).all()
    assert bf3.max() < 3.0, f"bound_factor inflated to {bf3.max()}"


def test_range_batch_on_incremental_index(spark, tmp_path):
    """topk_search at a pinned batch count over a two-generation
    incremental index (with real bound_factor inflation in term_meta)
    must agree rank-identically with the exhaustive disjunction
    (thresholds.quality_ranked) on the same index — the bound-factor
    contract goes through the shared _factored_rows, so this
    pins that inflated bounds never prune a true top-k doc."""
    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.parser import parse_queries
    from pisa_spark.query.thresholds import quality_ranked
    from pisa_spark.streaming import IncrementalIndexer

    pages = _pages(spark).persist()
    gen0 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    gen1 = pages.filter(F.crc32(F.col("url")) % 2 == 1)
    inc = IncrementalIndexer(spark, str(tmp_path / "inc_rb"), CFG)
    inc.add_generation(gen0)
    inc.add_generation(gen1)
    idx = inc.index()

    terms = [r["term"] for r in idx.lexicon.orderBy("term_id").limit(30).collect()]
    rows = [
        (f"q{i}", [terms[(3 * i) % len(terms)],
                   terms[(3 * i + 7) % len(terms)]], 10)
        for i in range(12)
    ]
    qdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    parsed = parse_queries(qdf, idx.lexicon, pre_tokenized=True)
    exp = (
        quality_ranked(idx, parsed, 10).toPandas()
        .rename(columns={"rn": "rank"})
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got = (
        topk_search(idx, parsed, algorithm="maxscore", k=10, batches=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert len(exp) > 0
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]].astype({"rank": "int64"}),
        exp[["query_id", "rank", "doc_id"]].astype({"rank": "int64"}),
    )
    np.testing.assert_allclose(got["score"] * 1e6, exp["ms"], rtol=0, atol=0.5)
