"""Physical-plan shape regression tests.

BENCH.md's plan audit makes three structural claims about the engine;
these tests pin them so future edits can't silently reintroduce the
round-1 scale-killers:

1. the kernel query path plans NO SortMergeJoin (the query side is
   broadcast into the segment scan — segments never shuffle);
2. no BroadcastExchange is ever fed by the SEGMENTS side (broadcasting
   the 100 TB side would OOM every executor);
3. with ``lexicon_broadcast_threshold=0`` the build path adds no
   broadcast hint anywhere (maybe_broadcast is identity).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pisa_spark.config import AnalyzerConfig, EngineConfig, IndexConfig

SF = "/root/testdata/sf0.001"
CFG = EngineConfig(
    analyzer=AnalyzerConfig(tokenizer="whitespace"),
    index=IndexConfig(salt_bucket_docs=256),
)


@pytest.fixture(scope="module")
def index(spark):
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.index import build_index

    pages = pages_from_documents(spark, SF).limit(200)
    idx = build_index(spark, pages, CFG)
    idx.segments.persist().count()
    idx.term_meta.persist().count()
    return idx


@pytest.fixture(scope="module")
def multi(spark):
    """The same 200 pages over four 64-doc salt buckets (``index`` has
    one): the executor's replicated, merged shape."""
    from dataclasses import replace

    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.index import build_index

    pages = pages_from_documents(spark, SF).limit(200)
    cfg = replace(CFG, index=IndexConfig(salt_bucket_docs=64))
    return build_index(spark, pages, cfg)


def _parse(spark, index):
    from pisa_spark.query.parser import parse_queries

    terms = [r["term"] for r in index.lexicon.limit(12).collect()]
    rows = [(f"q{i}", [terms[i], terms[(i + 5) % len(terms)]], 10)
            for i in range(4)]
    qdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "terms", "k"]),
        schema="query_id string, terms array<string>, k int",
    )
    return parse_queries(qdf, index.lexicon, pre_tokenized=True)


@pytest.fixture(scope="module")
def parsed(spark, index):
    return _parse(spark, index)


@pytest.fixture(scope="module")
def multi_parsed(spark, multi):
    return _parse(spark, multi)


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _subtree_lines(plan: str, marker: str):
    """Yield the text of each subtree rooted at a line containing
    ``marker`` (tree-art indentation: a child's first alphanumeric
    column is strictly greater than its parent's)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        for i, ch in enumerate(line):
            if ch.isalnum() or ch == "*":
                return i
        return len(line)

    for i, line in enumerate(lines):
        if marker not in line:
            continue
        d = depth(line)
        sub = [line]
        for nxt in lines[i + 1:]:
            if not nxt.strip():
                break
            # AQE section markers ("+- == Initial Plan ==") start a
            # SIBLING printout of an AdaptiveSparkPlan's pre-adaptive
            # plan, not a tree child — and depth() mis-ranks them
            # because '=' is not alphanumeric. Never cross one.
            if "== Initial Plan ==" in nxt or "== Final Plan ==" in nxt:
                break
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        yield "\n".join(sub)


def test_kernel_path_has_no_sort_merge_join(index, parsed):
    from pisa_spark.query.executor import topk_search

    plan = _plan_str(topk_search(index, parsed, algorithm="block_max_wand"))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the intended strategy


def test_segments_never_broadcast(index, parsed, multi, multi_parsed):
    """No BroadcastExchange subtree may contain the segments payload
    columns (doc_bytes is segments-only) — the broadcast sides must be
    the query-sized parsed/term_meta tables, at one bucket and at
    several."""
    from pisa_spark.query.executor import topk_search

    for df in (
        topk_search(index, parsed, algorithm="block_max_wand"),
        topk_search(multi, multi_parsed, algorithm="maxscore"),
    ):
        plan = _plan_str(df)
        subtrees = list(_subtree_lines(plan, "BroadcastExchange"))
        assert subtrees, plan  # the hinted joins must exist
        for sub in subtrees:
            assert "doc_bytes" not in sub, sub


def test_query_executors_share_one_arrow_boundary(
    index, parsed, multi, multi_parsed
):
    """topk_search and boolean_query run their kernels in exactly one
    ``cogroup(...).applyInArrow`` over (batch, bucket) groups, at one
    bucket and at several; no per-query ``applyInPandas`` path
    remains."""
    from pisa_spark.query.executor import boolean_query, topk_search

    for df in (
        topk_search(index, parsed, algorithm="block_max_wand"),
        topk_search(multi, multi_parsed, algorithm="maxscore"),
        boolean_query(index, parsed, op="and"),
        boolean_query(multi, multi_parsed, op="and"),
    ):
        plan = _plan_str(df)
        assert plan.count("FlatMapCoGroupsInArrow") == 1, plan
        assert "FlatMapGroupsInPandas" not in plan, plan


def _cogroup_exchanges(plan: str) -> list[str]:
    """The hash columns of the cogroup's two pinned repartitions."""
    import re

    return [
        re.sub(r"#\d+L?", "", m)
        for m in re.findall(
            r"Exchange hashpartitioning\(([^)]*)\), REPARTITION_BY_NUM", plan
        )
    ]


def test_ranked_executor_plan_shapes(
    spark, index, parsed, multi, multi_parsed
):
    """One executor, two plan shapes by bucket count. One bucket (every
    index up to salt_bucket_docs docs): both cogroup sides hash on
    batch_id alone into 2 x defaultParallelism partitions, with no
    bucket replication and no merge Window. Several buckets: both
    sides hash on (batch_id, bucket), the query side replicates by a
    Generate (no join), and the partial top-k merge is a Window."""
    from pisa_spark.query.executor import topk_search

    par = spark.sparkContext.defaultParallelism
    one = _plan_str(topk_search(index, parsed, algorithm="maxscore"))
    assert _cogroup_exchanges(one) == [f"batch_id, {2 * par}"] * 2, one
    assert "Window" not in one, one
    assert not [ln for ln in one.splitlines()
                if "Generate" in ln and "bucket" in ln], one

    many = _plan_str(topk_search(multi, multi_parsed, algorithm="maxscore"))
    assert _cogroup_exchanges(many) == [f"batch_id, bucket, {2 * par}"] * 2, many
    assert "Window" in many, many
    assert [ln for ln in many.splitlines()
            if "Generate" in ln and "bucket" in ln], many


def test_threshold_zero_disables_lexicon_broadcast(spark):
    from pisa_spark.build.invert import maybe_broadcast
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.index import build_index

    df = spark.range(5).toDF("term_id")
    # identity when disabled or unknown size; hint only when counted small
    assert maybe_broadcast(df, 5, 0) is df
    assert maybe_broadcast(df, None, 10_000) is df
    assert maybe_broadcast(df, 5, 10_000) is not df

    cfg = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=256, lexicon_broadcast_threshold=0),
    )
    pages = pages_from_documents(spark, SF).limit(100)
    idx = build_index(spark, pages, cfg)
    for art in (idx.postings, idx.segments, idx.term_meta):
        analyzed = art._jdf.queryExecution().analyzed().toString()
        # no hint at all: id assignment reads its partition offsets
        # from a literal array, not a broadcast table
        assert "ResolvedHint" not in analyzed, analyzed
    # results still correct without hints (pinned cheaply by counts)
    assert idx.postings.count() > 0 and idx.segments.count() > 0


@pytest.fixture(scope="module")
def file_backed(spark, tmp_path_factory):
    """200 synth pages over four 64-doc buckets, written by the
    checkpointed BuildPipeline: a file-backed multi-bucket index."""
    from dataclasses import replace

    from pisa_spark.build.pipeline import BuildPipeline
    from pisa_spark.corpus import synth_pages
    from pisa_spark.query.executor import _n_buckets

    cfg = replace(CFG, index=IndexConfig(salt_bucket_docs=64))
    out = str(tmp_path_factory.mktemp("pipe_lazy"))
    idx = BuildPipeline(spark, out, cfg).run(synth_pages(spark, 200))
    assert _n_buckets(idx) > 1
    return idx


def _jobs(spark, name, action):
    """(action(), the number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(name))


def _assert_exhaustive(index, parsed, topk):
    from pisa_spark.query.thresholds import quality_ranked

    got = topk.toPandas().sort_values(["query_id", "rank"])
    exp = (
        quality_ranked(index, parsed, 10).toPandas()
        .rename(columns={"rn": "rank"}).sort_values(["query_id", "rank"])
    )
    assert len(exp) > 0
    cols = ["query_id", "rank", "doc_id"]
    pd.testing.assert_frame_equal(
        got[cols].astype({"rank": "int64"}).reset_index(drop=True),
        exp[cols].astype({"rank": "int64"}).reset_index(drop=True),
    )


def test_file_backed_request_builds_lazily(spark, file_backed):
    """Building an executor's DataFrame over a file-backed index
    submits no Spark job: every request plans the same lazy
    ``segments ⨝ broadcast(term_meta ⨝ broadcast(queries))`` scan, with
    no driver collect deciding a scan filter first. Only the caller's
    action runs, and its top-k equals the exhaustive disjunction."""
    from pisa_spark.query.executor import boolean_query, topk_search

    parsed = _parse(spark, file_backed)
    topk, n_topk = _jobs(spark, "build_topk", lambda: topk_search(
        file_backed, parsed, algorithm="maxscore"))
    _, n_bool = _jobs(spark, "build_boolean",
                      lambda: boolean_query(file_backed, parsed))
    assert (n_topk, n_bool) == (0, 0)
    _assert_exhaustive(file_backed, parsed, topk)


def test_bootstrapped_request_pins_query_side(spark, file_backed):
    """A bootstrapped request pins ``parsed ⨝ thresholds`` once
    (executor._bootstrapped), so the live ranges, the batch term set,
    the cogroup's query side and the merge's k stop re-planning it. A
    4-query ``maxscore`` request over the four buckets, frame build
    plus action, measured 26-27 jobs (32-33 with the query side
    unpinned); its top-k equals the exhaustive disjunction."""
    from pisa_spark.query.executor import topk_search

    parsed = _parse(spark, file_backed)
    thr = parsed.select("query_id").distinct().withColumn(
        "threshold_micro", F.lit(0).cast("long")
    )
    topk, n_build = _jobs(spark, "boot_build", lambda: topk_search(
        file_backed, parsed, algorithm="maxscore", thresholds=thr))
    _, n_action = _jobs(spark, "boot_action", topk.toPandas)
    assert n_build + n_action <= 28, (n_build, n_action)
    _assert_exhaustive(file_backed, parsed, topk)


def test_live_range_join_is_unhinted(multi, multi_parsed):
    """The (rows x live_ranges) join deliberately carries NO broadcast
    hint — at 10^12 docs the live set can be large; AQE must pick the
    strategy. Pin: no BroadcastExchange subtree under that join's
    aggregate contains doc_bytes (covered above) and the plan builds
    without a hard hint from our side."""
    from pisa_spark.query.executor import topk_search

    thr = multi_parsed.select("query_id").distinct().withColumn(
        "threshold_micro", F.lit(0).cast("long")
    )
    df = topk_search(multi, multi_parsed, algorithm="maxscore", thresholds=thr)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly the broadcasts we hint (parsed/qt/thresholds) — counted
    # conservatively: every ResolvedHint line must reference a
    # query-sized relation, never the segments schema
    for line in analyzed.splitlines():
        if "ResolvedHint" in line:
            assert "doc_bytes" not in line


def test_estimator_plans_have_no_sort_merge_join(index, parsed):
    """The threshold-estimator jobs keep the kernel path's join
    discipline: every WORKLOAD-keyed join (query_id / comb keys —
    sides bounded by the query batch, not the corpus) is hinted
    broadcast, never sort-merge — pinned for the intersection-slicing
    and lookup-pipeline families, whose multi-stage comb machinery is
    the likeliest place for a future edit to drop a hint. The one
    permitted SortMergeJoin is postings ⨝ lexicon on term_id:
    scored_postings deliberately never force-broadcasts an
    unknown-size vocabulary (AQE converts small ones at runtime)."""
    from pisa_spark.query.thresholds import (
        intersection_kth_thresholds, lookup_kth_thresholds,
    )

    for df in (
        intersection_kth_thresholds(index, parsed, k=10),
        lookup_kth_thresholds(index, parsed, budget=16, k=10, gram=2),
    ):
        plan = _plan_str(df)
        assert "BroadcastHashJoin" in plan
        for line in plan.splitlines():
            if "SortMergeJoin" in line:
                assert "query_id" not in line and "comb" not in line, line
                assert "term_id" in line, line  # the permitted lexicon join


def test_docid_assignment_never_moves_the_corpus(spark):
    """docIDs join in from the url projection (forward.
    _with_assigned_ids): the docs plan must contain no range
    exchange at all (the one range shuffle ran over urls only,
    inside assign_global_ids' eager localCheckpoint) and no Exchange
    subtree may carry the terms arrays — the corpus never shuffles
    or re-materializes for an id column. This pins the BROADCAST
    regime (doc count under ID_BROADCAST_ROWS); above the gate the
    join is a plain hash join where the corpus moves once — the same
    single movement the old range shuffle made, still without the
    second materialization (SCALE.md docID row)."""
    from pisa_spark.build.forward import tokenize_pages
    from pisa_spark.corpus import synth_pages

    docs = tokenize_pages(synth_pages(spark, 300), CFG.analyzer)
    plan = _plan_str(docs)
    assert "rangepartitioning" not in plan.lower(), plan
    for sub in _subtree_lines(plan, "Exchange"):
        assert "terms#" not in sub, sub
    # ids actually joined: dense 0..n-1 over sorted urls
    pdf = docs.select("doc_id", "url").toPandas().sort_values("url")
    assert list(pdf["doc_id"]) == list(range(len(pdf)))


def test_assign_global_ids_numbers_in_place(spark):
    """assign_global_ids numbers rows where its eager checkpoint left
    them: no Window, no Exchange above the checkpoint scan, and no
    second scan — a Python-RDD offsets table (createDataFrame from a
    list) would add a Python job just to broadcast it."""
    from pisa_spark.build.ids import assign_global_ids

    df = spark.range(2000).selectExpr(
        "format_string('k%05d', id) AS key"
    ).repartition(5)
    plan = _plan_str(assign_global_ids(df, "key", "rid"))
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.count("Scan ") == 1 and "Scan ExistingRDD" in plan, plan


def test_simhash_cap_is_broadcast_antijoin(spark):
    """The simhash bucket cap must stay a broadcast LeftAnti join
    against the over-cap key set — the key space is bounded by
    construction (SIM_CHUNKS x 2^15 values), so the cap filter is
    map-side on both self-join sides. A count-window form here would
    re-shuffle the full exploded chunk table just to annotate it."""
    from pisa_spark.datapipe.dedup import simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan_str(simhash_pairs(docs))
    assert "Window" not in plan, plan
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("Broadcast" in ln for ln in anti), plan


def test_minhash_cap_is_antijoin_not_window(spark):
    """The minhash band-bucket cap must be a LeftAnti join against
    the groupBy'd over-cap key set, never a count window: a window
    partitioned on (band_id, band_key) holds the dominant bucket —
    the exact degenerate bucket the cap exists for — in ONE task,
    while the groupBy is map-side combined and a skewed LeftAnti
    stream side is AQE-splittable. Unlike the simhash/embedding caps
    the key space (md5) is NOT bounded by construction, so no
    broadcast hint (the known-small rule); the join may still
    RESOLVE to broadcast via AQE on tiny inputs, so only the
    window's absence and the LeftAnti's presence are pinned. The
    pin targets the lazy _cap_bands subtree: inside
    minhash_lsh_pairs it sits behind an eager localCheckpoint whose
    LogicalRDD hides it from the end-to-end plan."""
    from pisa_spark.datapipe.dedup import _cap_bands, minhash_bands

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan_str(_cap_bands(minhash_bands(docs), 64))
    # The shingle builder's per-doc lead() window (bounded by one
    # doc) is fine; what must not exist is any window over the band
    # key — that partition is the unbounded bucket.
    band_windows = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "band_key" in ln
    ]
    assert not band_windows, band_windows
    assert "LeftAnti" in plan, plan


def test_embedding_cell_cap_is_broadcast_antijoin(spark):
    """Same contract as the simhash cap: the IVF cell cap in
    embedding_dup_pairs is a broadcast LeftAnti join (cell ids are
    bounded by n_centroids, so the over-cap set is provably small),
    never a count window over the full assignment table."""
    from pisa_spark.datapipe.similarity import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan_str(embedding_dup_pairs(emb))
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("Broadcast" in ln for ln in anti), plan


def test_build_scale_growth(tmp_path):
    """Two-size build probe (scripts/scale_probe.py, fresh sessions):
    shuffle bytes must grow ~linearly with the corpus while the
    driver process's peak RSS stays flat — the measured form of this
    file's plan-shape claims (nothing driver-side scales with docs;
    the postings shuffle is the data volume). Small sizes keep the
    broadcast-gate regime fixed (both < ID_BROADCAST_ROWS), so the
    byte growth here isolates pure scaling, not the documented
    regime switch measured in SCALE.md."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "probe.json")
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "scale_probe.py"),
         "--docs", "8000,32000", "--cores", "8", "--out", out],
        capture_output=True, text=True, cwd=repo, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    data = json.load(open(out))
    (growth,) = data["growth_vs_first"]
    assert growth["docs_ratio"] == 4.0
    # linear shuffle: 4x docs -> ~4x bytes (vocab growth adds a few
    # percent; anything quadratic or corpus-broadcast-shaped lands
    # far outside this band)
    assert 3.0 <= growth["shuffle_write_ratio"] <= 5.5, growth
    # flat driver: the Python driver's peak RSS must not track docs
    assert growth["driver_rss_ratio"] <= 1.5, growth


def test_dedup_scale_growth(tmp_path):
    """Two-size dedup probe (scale_probe.py --job dedup): the
    minhash-banding and simhash-chunk shuffles must grow ~linearly
    with the corpus and the driver RSS stay flat. The simhash chunk
    cap is what makes this hold — 15-bit chunk buckets grow with the
    corpus, and without the MAX_BUCKET guard the candidate join's
    output (and its shuffle) grows quadratically on self-similar
    corpora (SCALE.md "Training-data pipeline")."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "probe.json")
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "scale_probe.py"),
         "--job", "dedup", "--docs", "4000,8000", "--cores", "8",
         "--out", out],
        capture_output=True, text=True, cwd=repo, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    data = json.load(open(out))
    (growth,) = data["growth_vs_first"]
    assert growth["docs_ratio"] == 2.0
    assert 1.5 <= growth["shuffle_write_ratio"] <= 2.8, growth
    assert growth["driver_rss_ratio"] <= 1.5, growth
    a, b = data["runs"]
    # capped pair output stays near-linear (uncapped: ~4x at 2x docs)
    assert b["simhash_pairs"] <= 3.2 * max(a["simhash_pairs"], 1), data
    # the cap is actually exercising: dropped buckets are reported
    assert a["simhash_dropped_chunks"] > 0 and b["simhash_dropped_chunks"] > 0
