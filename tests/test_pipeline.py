"""Resumable-build pipeline tests (build/pipeline.py).

Pins the north-rule behavior: checkpoint manifests with lineage +
per-partition metrics; resume skips finished stages; invalidation
cascades from a changed stage/config.
"""

from __future__ import annotations

import json

import pytest

from pisa_spark.build.pipeline import MANIFEST, BuildPipeline
from pisa_spark.config import AnalyzerConfig, EngineConfig, IndexConfig

SF = "/root/testdata/sf0.001"

CFG = EngineConfig(
    analyzer=AnalyzerConfig(tokenizer="whitespace"),
    index=IndexConfig(salt_bucket_docs=256),
)


# Spark jobs a fresh BuildPipeline build of the 100-page fixture
# submits, summed over its stage manifests (measured: term_ids 7,
# every other stage 2-3).
N_JOBS_100_PAGES = 23


@pytest.fixture()
def pages(spark):
    from pisa_spark.corpus import pages_from_documents

    return pages_from_documents(spark, SF).limit(100)


def test_build_checkpoint_resume_and_metrics(spark, pages, tmp_path):
    out = str(tmp_path / "index")

    pipe1 = BuildPipeline(spark, out, CFG)
    idx1 = pipe1.run(pages)
    n_seg = idx1.segments.count()
    assert n_seg > 0
    all_stages = ["docs", "term_ids", "stats", "postings", "lexicon",
                  "term_meta", "segments"]
    assert pipe1.executed == all_stages

    # Manifests carry lineage + per-partition rows/bytes.
    man = json.loads((tmp_path / "index" / "segments" / MANIFEST).read_text())
    assert man["parents"].keys() == {"postings", "lexicon", "stats"}
    assert man["n_rows"] == n_seg
    assert man["n_partitions"] >= 1
    for p in man["partitions"]:
        assert p["rows"] >= 0 and p["bytes"] > 0

    # Second run: everything resumes from checkpoints.
    pipe2 = BuildPipeline(spark, out, CFG)
    idx2 = pipe2.run(pages)
    assert pipe2.executed == []
    assert pipe2.skipped == all_stages
    assert idx2.segments.count() == n_seg

    report = pipe2.report()
    assert set(report["stages"]) == set(all_stages)
    assert report["stages"]["postings"]["n_rows"] == idx2.postings.count()

    # A fresh stage is read back with the schema it was written with,
    # a resumed one with the inferred schema: the two must agree.
    for art in ("lexicon", "docmap", "doc_sizes", "postings", "segments",
                "term_meta"):
        assert getattr(idx1, art).schema == getattr(idx2, art).schema, art

    # Spark jobs per stage (statusTracker count, recorded by the fresh
    # run): the build's per-job overhead, pinned at its measured total.
    n_jobs = {s: m["n_jobs"] for s, m in report["stages"].items()}
    assert all(n >= 1 for n in n_jobs.values()), n_jobs
    assert sum(n_jobs.values()) <= N_JOBS_100_PAGES, n_jobs


def test_deleted_stage_recomputes_only_downstream(spark, pages, tmp_path):
    import shutil

    out = tmp_path / "index"
    pipe1 = BuildPipeline(spark, str(out), CFG)
    pipe1.run(pages)

    # Wipe the segments checkpoint: only it must recompute.
    shutil.rmtree(out / "segments")
    pipe2 = BuildPipeline(spark, str(out), CFG)
    pipe2.run(pages)
    assert pipe2.executed == ["segments"]

    # Wipe lexicon: it recomputes; because stage fingerprints are
    # recipe-derived (config + parent recipes) and stages are
    # deterministic, the recomputed lexicon has the same fingerprint,
    # so downstream checkpoints remain valid and are NOT rebuilt.
    shutil.rmtree(out / "lexicon")
    pipe3 = BuildPipeline(spark, str(out), CFG)
    pipe3.run(pages)
    assert pipe3.executed == ["lexicon"]
    assert "postings" in pipe3.skipped and "docs" in pipe3.skipped


def test_config_change_invalidates_all(spark, pages, tmp_path):
    out = str(tmp_path / "index")
    BuildPipeline(spark, out, CFG).run(pages)

    cfg2 = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=128),  # changed layout
    )
    pipe = BuildPipeline(spark, out, cfg2)
    pipe.run(pages)
    assert "segments" in pipe.executed  # stale under new config


def test_quantized_pipeline_builds_and_queries(spark, pages, tmp_path):
    """BuildPipeline must route quantize_bits like build_index: the
    index-wide max score feeds segment encoding and term_meta carries
    quantized-impact bounds (previously raised ValueError)."""
    import pandas as pd

    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.parser import parse_queries

    cfg_q = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=256, quantize_bits=8),
    )
    out = str(tmp_path / "index_q")
    pipe = BuildPipeline(spark, out, cfg_q)
    idx = pipe.run(pages)
    assert "term_meta_raw" in pipe.executed and "segments" in pipe.executed

    # Quantized bounds are integral impacts >= 1.
    tm = idx.term_meta.toPandas()
    assert (tm["max_score"] >= 1).all()
    assert (tm["max_score"] == tm["max_score"].round()).all()

    terms = [r["term"] for r in idx.lexicon.limit(3).collect()]
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "terms": [terms], "k": [5]}),
        schema="query_id string, terms array<string>, k int",
    )
    parsed = parse_queries(qdf, idx.lexicon, pre_tokenized=True)
    res = topk_search(idx, parsed, algorithm="block_max_wand", k=5).toPandas()
    assert len(res) > 0

    # Resume skips every stage, including the quantized extras.
    pipe2 = BuildPipeline(spark, out, cfg_q)
    pipe2.run(pages)
    assert pipe2.executed == []


@pytest.mark.parametrize("index_cfg", [
    {}, {"quantize_bits": 8}, {"compress_blockmax": True},
], ids=["default", "q8", "compress_blockmax"])
def test_build_index_and_pipeline_build_the_same_index(
        spark, pages, tmp_path, index_cfg):
    """The in-memory store (build_index) and the checkpoint store
    (BuildPipeline) run one build DAG: same lexicon, term_meta,
    collection stats and segment bytes."""
    from dataclasses import replace

    import pandas as pd

    from pisa_spark.index import build_index
    from test_segments import segments_digest

    cfg = replace(CFG, index=replace(CFG.index, **index_cfg))
    mem = build_index(spark, pages, cfg)
    ckpt = BuildPipeline(spark, str(tmp_path / "index"), cfg).run(pages)

    for name in ("lexicon", "term_meta"):
        a, b = (
            getattr(idx, name).toPandas().sort_values("term_id")
            .reset_index(drop=True)
            for idx in (mem, ckpt)
        )
        pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)
    assert (mem.num_docs, mem.avg_len, mem.collection_len) == (
        ckpt.num_docs, ckpt.avg_len, ckpt.collection_len)
    assert segments_digest(mem.segments.toPandas()) == segments_digest(
        ckpt.segments.toPandas())


def test_resumed_index_answers_queries(spark, pages, tmp_path):
    import pandas as pd

    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.parser import parse_queries

    out = str(tmp_path / "index")
    BuildPipeline(spark, out, CFG).run(pages)
    # Fresh pipeline object = cold resume purely from disk.
    idx = BuildPipeline(spark, out, CFG).run(pages)

    terms = [r["term"] for r in idx.lexicon.limit(3).collect()]
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "terms": [terms], "k": [5]}),
        schema="query_id string, terms array<string>, k int",
    )
    parsed = parse_queries(qdf, idx.lexicon, pre_tokenized=True)
    res = topk_search(idx, parsed, algorithm="maxscore", k=5).toPandas()
    assert len(res) > 0
    assert (res["score"] > 0).all()


def test_pages_source_path_roundtrip(spark, tmp_path):
    """pages_source reads any Spark source into the input_hint shape
    (path branch; the table branch goes through the catalog — Iceberg
    on a real cluster) and rejects schema-incomplete sources."""
    import pytest

    from pisa_spark.corpus import pages_source, synth_pages

    p = str(tmp_path / "pages_pq")
    synth_pages(spark, 50).write.mode("overwrite").parquet(p)
    df = pages_source(spark, p)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert df.count() == 50
    bad = str(tmp_path / "bad_pq")
    spark.range(5).write.mode("overwrite").parquet(bad)
    with pytest.raises(ValueError, match="missing input_hint columns"):
        pages_source(spark, bad)
    # a cwd-relative path (no "/") must be read as a PATH, never
    # misrouted to the catalog as a table of the same name
    import os

    cwd = os.getcwd()
    try:
        os.chdir(tmp_path)
        assert pages_source(spark, "pages_pq").count() == 50
        # fmt="table" forces the catalog branch even when a local
        # file/dir of the same name exists (cwd-independent reads)
        synth_pages(spark, 7).createOrReplaceTempView("pages_pq")
        assert pages_source(spark, "pages_pq", fmt="table").count() == 7
    finally:
        os.chdir(cwd)
        spark.catalog.dropTempView("pages_pq")


def test_ids_first_lexicon_matches_standalone(spark, pages):
    """The ids-first invert route (build_term_ids -> build_postings ->
    lexicon_with_df, one corpus-pair shuffle) must produce a lexicon
    value-identical to the standalone build_lexicon (its own
    distinct(term, doc) pass) — see invert.build_lexicon docstring."""
    from pisa_spark.build import (
        build_lexicon, build_postings, build_term_ids, lexicon_with_df,
        tokenize_pages,
    )

    docs = tokenize_pages(pages, CFG.analyzer).select(
        "doc_id", "terms"
    ).localCheckpoint(eager=True)

    import pandas as pd

    standalone = build_lexicon(docs).toPandas()
    term_ids = build_term_ids(docs)
    postings = build_postings(docs, term_ids)
    ids_first = lexicon_with_df(term_ids, postings).toPandas()

    key = ["term_id"]
    a = standalone.sort_values(key).reset_index(drop=True)
    b = ids_first[a.columns].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_binary_collection_roundtrip_and_postings_import(spark, tmp_path):
    """binary_collection writer/reader round-trip plus the .docs/.freqs
    pair import: the uncompressed-index wire format the reference's
    invert emits (invert.cpp) comes back as our postings table."""
    import numpy as np

    from pisa_spark.build.bincoll import (
        postings_from_binary_collection,
        read_binary_collection,
        write_binary_collection,
    )

    # .docs: [num_docs] header then per-term docID sequences
    docs_seqs = [[4], [0, 2], [1, 2, 3], [3]]
    freq_seqs = [[2, 1], [1, 5, 1], [7]]
    write_binary_collection(docs_seqs, tmp_path / "c.docs")
    write_binary_collection(freq_seqs, tmp_path / "c.freqs")

    back = read_binary_collection(
        spark, str(tmp_path / "c.docs")
    ).toPandas().sort_values("seq_id")
    assert [list(v) for v in back["values"]] == docs_seqs

    got = (
        postings_from_binary_collection(
            spark, str(tmp_path / "c.docs"), str(tmp_path / "c.freqs")
        )
        .toPandas()
        .sort_values(["term_id", "doc_id"])
        .reset_index(drop=True)
    )
    exp = [
        (0, 0, 2), (0, 2, 1),
        (1, 1, 1), (1, 2, 5), (1, 3, 1),
        (2, 3, 7),
    ]
    assert [tuple(r) for r in got[["term_id", "doc_id", "tf"]].values] == exp

    # truncated payload fails loudly, not silently
    (tmp_path / "bad.docs").write_bytes(np.uint32(9).tobytes())
    with pytest.raises(Exception):
        read_binary_collection(
            spark, str(tmp_path / "bad.docs")
        ).collect()


def test_binary_collection_sharded_import_is_global(spark, tmp_path):
    """Sharded .docs/.freqs pairs (the reference's batch outputs /
    re-sharded legacy files) number sequences GLOBALLY in sorted file
    order — term ids must not collide across shards, and sharded
    .sizes continues doc_ids across files."""
    from pisa_spark.build.bincoll import (
        postings_from_binary_collection,
        read_sizes,
        write_binary_collection,
    )

    d = tmp_path / "idx"
    d.mkdir()
    # shard 00: [num_docs] header + term 0; shard 01: terms 1,2
    write_binary_collection([[4], [0, 2]], d / "c.docs.00")
    write_binary_collection([[1, 2, 3], [3]], d / "c.docs.01")
    f = tmp_path / "frq"
    f.mkdir()
    write_binary_collection([[2, 1], [1, 5, 1]], f / "c.freqs.00")
    write_binary_collection([[7]], f / "c.freqs.01")

    got = (
        postings_from_binary_collection(
            spark, str(d / "c.docs.*"), str(f / "c.freqs.*")
        )
        .toPandas()
        .sort_values(["term_id", "doc_id"])
        .reset_index(drop=True)
    )
    exp = [
        (0, 0, 2), (0, 2, 1),
        (1, 1, 1), (1, 2, 5), (1, 3, 1),
        (2, 3, 7),
    ]
    assert [tuple(r) for r in got[["term_id", "doc_id", "tf"]].values] == exp

    s = tmp_path / "sz"
    s.mkdir()
    write_binary_collection([[10, 20]], s / "c.sizes.00")
    write_binary_collection([[30, 40, 50]], s / "c.sizes.01")
    sizes = read_sizes(spark, str(s / "c.sizes.*")).toPandas()
    sizes = sizes.sort_values("doc_id").reset_index(drop=True)
    assert list(sizes["doc_id"]) == [0, 1, 2, 3, 4]
    assert list(sizes["doc_len"]) == [10, 20, 30, 40, 50]

    # a multi-sequence .sizes shard is malformed input, not data
    write_binary_collection([[1], [2]], s / "bad.sizes")
    with pytest.raises(ValueError, match="exactly one sequence"):
        read_sizes(spark, str(s / "bad.sizes"))

    # the standalone layout inspector agrees with what was written:
    # per-file sequence/value counts + global offsets in shard order
    from pisa_spark.build.bincoll import file_layouts

    lay = file_layouts(spark, str(d / "c.docs.*"))
    assert list(lay["n_seqs"]) == [2, 2]
    assert list(lay["n_vals"]) == [3, 4]
    assert list(lay["seq_off"]) == [0, 2]
    assert list(lay["val_off"]) == [0, 3]


def test_binary_collection_unpadded_shard_order_is_natural(spark, tmp_path):
    """>=10 shards with UNPADDED numeric suffixes: 'c.sizes.10' must
    order after 'c.sizes.2' (digit-aware natural order), not between
    'c.sizes.1' and 'c.sizes.2' as lexicographic sorting would — a
    scrambled order silently misattributes every downstream doc/term
    id."""
    from pisa_spark.build.bincoll import read_sizes, write_binary_collection

    s = tmp_path / "sz"
    s.mkdir()
    n_shards = 12
    for i in range(n_shards):
        write_binary_collection([[100 + i]], s / f"c.sizes.{i}")
    sizes = (
        read_sizes(spark, str(s / "c.sizes.*"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(sizes["doc_id"]) == list(range(n_shards))
    assert list(sizes["doc_len"]) == [100 + i for i in range(n_shards)]


def test_ciff_import_roundtrip(spark, tmp_path):
    """CIFF wire-format round-trip (osirrc/ciff proto, the format
    ciff2pisa converts for the reference): gap-encoded docids decode
    to absolute ids, doc records come back, term_ids number lists in
    file order."""
    from pisa_spark.build.ciff import (
        ciff_docs,
        ciff_postings,
        parse_ciff_header,
        write_ciff,
    )

    postings = [
        ("cat", [(0, 2), (2, 1), (7, 4)]),
        ("dog", [(1, 1), (2, 5)]),
        ("emu", [(7, 300)]),  # multi-byte varint tf
    ]
    docs = [(0, "d-zero", 3), (1, "d-one", 6), (2, "d-two", 7),
            (7, "d-seven", 304)]
    write_ciff(tmp_path / "c.ciff", postings, docs,
               description="fixture")

    hdr = parse_ciff_header((tmp_path / "c.ciff").read_bytes())
    assert hdr["num_postings_lists"] == 3 and hdr["num_docs"] == 4
    assert hdr["description"] == "fixture"
    assert hdr["average_doclength"] == pytest.approx(320 / 4)

    got = (
        ciff_postings(spark, str(tmp_path / "c.ciff"))
        .toPandas()
        .sort_values(["term_id", "doc_id"])
        .reset_index(drop=True)
    )
    exp = [
        (0, "cat", 0, 2), (0, "cat", 2, 1), (0, "cat", 7, 4),
        (1, "dog", 1, 1), (1, "dog", 2, 5),
        (2, "emu", 7, 300),
    ]
    assert [tuple(r) for r in got[
        ["term_id", "term", "doc_id", "tf"]].values] == exp

    d = (
        ciff_docs(spark, str(tmp_path / "c.ciff"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(d["doc_id"]) == [0, 1, 2, 7]
    assert list(d["collection_docid"]) == [
        "d-zero", "d-one", "d-two", "d-seven"]
    assert list(d["doc_len"]) == [3, 6, 7, 304]


def test_ciff_import_single_scan_matches_per_table_readers(spark, tmp_path):
    """ciff_import returns both tables off ONE parse: equal to the
    per-table readers row-for-row, and the shared parse is
    checkpointed (neither derived table plans a binaryFile scan)."""
    from pisa_spark.build.ciff import ciff_import, write_ciff

    postings = [("cat", [(0, 2), (2, 1)]), ("dog", [(1, 1)])]
    docs = [(0, "a", 3), (1, "b", 1), (2, "c", 1)]
    write_ciff(tmp_path / "c.ciff", postings, docs)
    p, d = ciff_import(spark, str(tmp_path / "c.ciff"))
    got_p = sorted(
        tuple(r) for r in
        p.toPandas()[["term_id", "term", "doc_id", "tf"]].values
    )
    assert got_p == [(0, "cat", 0, 2), (0, "cat", 2, 1), (1, "dog", 1, 1)]
    got_d = sorted(
        tuple(r) for r in
        d.toPandas()[["doc_id", "collection_docid", "doc_len"]].values
    )
    assert got_d == [(0, "a", 3), (1, "b", 1), (2, "c", 1)]
    # one read: both plans hang off the checkpointed parse, not a scan
    for df in (p, d):
        assert "binaryFile" not in df._jdf.queryExecution().toString()


def test_ciff_sharded_import_numbers_terms_globally(spark, tmp_path):
    """Sharded CIFF exports: term_ids continue across files in natural
    shard order; a df/postings mismatch fails loudly."""
    from pisa_spark.build.ciff import ciff_postings, write_ciff

    d = tmp_path / "idx"
    d.mkdir()
    write_ciff(d / "c.ciff.2", [("bee", [(4, 9)])],
               [(4, "x", 9)])
    write_ciff(d / "c.ciff.10", [("fly", [(5, 1)])],
               [(5, "y", 1)])
    got = (
        ciff_postings(spark, str(d / "c.ciff.*"))
        .toPandas()
        .sort_values("term_id")
        .reset_index(drop=True)
    )
    # natural order: shard 2 before shard 10
    assert [tuple(r) for r in got[
        ["term_id", "term", "doc_id", "tf"]].values] == [
        (0, "bee", 4, 9), (1, "fly", 5, 1)]


def test_ciff_sharded_import_zero_posting_lists(spark, tmp_path):
    """Term offsets come from each shard's HEADER list count, so a
    zero-posting list (df=0, legal in the proto) still occupies its
    list position: shard 2 declares 3 lists (middle one empty), so
    shard 10's first term must get term_id 3, not 2 — a rows-derived
    count would collide it with shard 2's last term."""
    from pisa_spark.build.ciff import ciff_postings, write_ciff

    d = tmp_path / "idx"
    d.mkdir()
    write_ciff(
        d / "c.ciff.2",
        [("ant", [(0, 1)]), ("bare", []), ("cub", [(3, 2)])],
        [(0, "x", 1), (3, "y", 2)],
    )
    write_ciff(d / "c.ciff.10", [("dew", [(5, 4)])], [(5, "z", 4)])
    got = (
        ciff_postings(spark, str(d / "c.ciff.*"))
        .toPandas()
        .sort_values("term_id")
        .reset_index(drop=True)
    )
    assert [tuple(r) for r in got[
        ["term_id", "term", "doc_id", "tf"]].values] == [
        (0, "ant", 0, 1), (2, "cub", 3, 2), (3, "dew", 5, 4)]


def test_duplicate_urls_fail_loudly(spark, tmp_path):
    """url is the corpus key: a duplicated url must fail the build
    (the id join would otherwise fan out into a silently doubled
    index — doubled tf, inflated stats). The build DAG guards it with
    the free row-count comparison, under both stage stores."""
    from pisa_spark.corpus import synth_pages
    from pisa_spark.index import build_index

    pages = synth_pages(spark, 40)  # no doc_id column -> assign path
    dup = pages.limit(1)
    bad = pages.union(dup)

    with pytest.raises(ValueError, match="duplicate urls"):
        build_index(spark, bad, CFG)

    with pytest.raises(ValueError, match="duplicate urls"):
        BuildPipeline(spark, str(tmp_path / "dup_idx"), CFG).run(bad)

    # the corrupt docs checkpoint must NOT survive the failure: a
    # rerun on the same dir re-raises instead of resuming it
    with pytest.raises(ValueError, match="duplicate urls"):
        BuildPipeline(spark, str(tmp_path / "dup_idx"), CFG).run(bad)


def test_null_urls_fail_loudly(spark, tmp_path):
    """A NULL url would silently vanish in the id join (inner-join
    null semantics) — the id assignment rejects it from its own
    offset collect instead."""
    from pyspark.sql import functions as F

    from pisa_spark.corpus import synth_pages
    from pisa_spark.index import build_index

    pages = synth_pages(spark, 30)
    one_null = pages.limit(1).withColumn("url", F.lit(None).cast("string"))
    bad = pages.union(one_null)

    with pytest.raises(ValueError, match="NULL 'url'"):
        build_index(spark, bad, CFG)

    with pytest.raises(ValueError, match="NULL 'url'"):
        BuildPipeline(spark, str(tmp_path / "null_idx"), CFG).run(bad)


# ------------------------------------------------- full-corpus round-trips

SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def full_index(spark):
    """One sf0.01 full-corpus index shared by the wire-format
    round-trip tests (the gate tags cover a 200-list slice; these
    tests export/reimport EVERY list)."""
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.index import build_index

    pages = pages_from_documents(spark, SF001)
    idx = build_index(spark, pages, CFG)
    idx.segments.persist().count()
    return idx


def _rebuilt_from_postings(idx, postings, doc_sizes):
    """InvertedIndex over reimported postings: same lexicon/config,
    stats + doc lengths + segments recomputed from the imported data
    (scored_postings needs the doc_len column the wire formats do not
    carry per posting)."""
    from pyspark.sql import functions as F

    from pisa_spark.build import build_term_meta, collection_stats
    from pisa_spark.build.segments import build_segments, scored_postings
    from pisa_spark.index import InvertedIndex

    stats = collection_stats(doc_sizes).collect()[0]
    num_docs = int(stats["num_docs"])
    avg_len = float(stats["avg_len"] or 0.0)
    scored = scored_postings(postings, doc_sizes, idx.lexicon, num_docs, avg_len)
    term_meta = build_term_meta(
        scored, num_docs, avg_len, idx.config.bm25
    )
    segments = build_segments(
        scored, num_docs, avg_len, idx.config.index, idx.config.bm25
    )
    return InvertedIndex(
        lexicon=idx.lexicon,
        docmap=doc_sizes.select("doc_id"),
        doc_sizes=doc_sizes,
        postings=postings,
        segments=segments,
        term_meta=term_meta,
        num_docs=num_docs,
        avg_len=avg_len,
        collection_len=int(stats["collection_len"] or 0),
        config=idx.config,
    )


def _topk_frame(index, spark, k=10):
    """Deterministic 25-query top-k over ``index`` (workload drawn
    from the lexicon)."""
    import pandas as pd

    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.parser import parse_queries

    terms = [
        r["term"] for r in index.lexicon.orderBy("term_id").limit(200).collect()
    ]
    rows = [
        (
            f"q{qi:03d}",
            [terms[(qi * 11 + j * 7) % len(terms)] for j in range(1 + qi % 4)],
            k,
        )
        for qi in range(25)
    ]
    qdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True)
    return (
        topk_search(index, parsed, algorithm="block_max_wand", k=k)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_ciff_full_corpus_roundtrip_rank_identity(spark, full_index, tmp_path):
    """Export EVERY posting list of the sf0.01 index to one CIFF file,
    reimport it, rebuild segments/WAND metadata from the imported
    postings + doc records, and require rank-identical top-k with
    byte-equal scores (reference parity: tools/ciff2pisa + the full
    query stack over the converted index)."""
    import numpy as np
    from pyspark.sql import functions as F

    from pisa_spark.build.ciff import ciff_import, write_ciff

    idx = full_index
    sub = (
        idx.postings.join(idx.lexicon.select("term_id", "term"), "term_id")
        .orderBy("term_id", "doc_id")
        .toPandas()
    )
    plists = [
        (str(term), list(zip((int(d) for d in g["doc_id"]),
                             (int(t) for t in g["tf"]))))
        for (tid, term), g in sub.groupby(["term_id", "term"], sort=True)
    ]
    docs = (
        idx.doc_sizes.join(idx.docmap, "doc_id").orderBy("doc_id").toPandas()
    )
    doc_recs = [
        (int(r.doc_id), str(r.url), int(r.doc_len)) for r in docs.itertuples()
    ]
    write_ciff(tmp_path / "full.ciff", plists, doc_recs)

    postings2, docs2 = ciff_import(spark, str(tmp_path / "full.ciff"))
    doc_sizes2 = docs2.select(
        "doc_id", F.col("doc_len").cast("int").alias("doc_len")
    )
    # lists were written in engine term_id order -> positional ids match
    assert postings2.count() == len(sub)
    idx2 = _rebuilt_from_postings(idx, postings2, doc_sizes2)

    got = _topk_frame(idx2, spark)
    exp = _topk_frame(idx, spark)
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )
    np.testing.assert_array_equal(
        got["score"].to_numpy(), exp["score"].to_numpy()
    )


def test_bincoll_full_corpus_roundtrip_rank_identity(spark, full_index, tmp_path):
    """Same contract through the binary_collection pair: every list
    exported to .docs/.freqs (plus the .sizes doc-length sequence),
    reimported, rebuilt, rank-identical with byte-equal scores."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pisa_spark.build.bincoll import (
        postings_from_binary_collection, read_sizes,
        write_binary_collection,
    )

    idx = full_index
    sub = idx.postings.orderBy("term_id", "doc_id").toPandas()
    doc_lists = [
        g["doc_id"].to_numpy() for _, g in sub.groupby("term_id", sort=True)
    ]
    tf_lists = [
        g["tf"].to_numpy() for _, g in sub.groupby("term_id", sort=True)
    ]
    sizes = (
        idx.doc_sizes.orderBy("doc_id").toPandas()["doc_len"].to_numpy()
    )
    write_binary_collection(
        [[idx.num_docs]] + doc_lists, str(tmp_path / "c.docs")
    )
    write_binary_collection(tf_lists, str(tmp_path / "c.freqs"))
    write_binary_collection([sizes], str(tmp_path / "c.sizes"))

    postings2 = postings_from_binary_collection(
        spark, str(tmp_path / "c.docs"), str(tmp_path / "c.freqs")
    )
    doc_sizes2 = read_sizes(spark, str(tmp_path / "c.sizes")).select(
        "doc_id", F.col("doc_len").cast("int").alias("doc_len")
    )
    assert postings2.count() == len(sub)
    idx2 = _rebuilt_from_postings(idx, postings2, doc_sizes2)

    got = _topk_frame(idx2, spark)
    exp = _topk_frame(idx, spark)
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )
    np.testing.assert_array_equal(
        got["score"].to_numpy(), exp["score"].to_numpy()
    )
