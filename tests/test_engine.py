"""End-to-end build + query tests on the synthetic pages corpus.

Mirrors the reference's algorithm-agreement strategy
(test/test_ranked_queries.cpp:99-144): every pruned kernel must be
rank-identical to the exhaustive oracle on the same index, across the
whole query set — here with EXACT equality (same rounding + docID
tie-break on both sides), which is stricter than the reference's
relative-epsilon check.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pisa_spark.config import EngineConfig, IndexConfig
from pisa_spark.corpus import synth_pages, synth_queries
from pisa_spark.index import build_index
from pisa_spark.query.executor import boolean_query, topk_search
from pisa_spark.query.parser import parse_queries

N_DOCS = 400
N_QUERIES = 30


@pytest.fixture(scope="module")
def index(spark):
    pages = synth_pages(spark, N_DOCS, vocab_size=800, max_len=120)
    # Tiny salt buckets so multi-bucket stitching is actually exercised.
    cfg = EngineConfig(index=IndexConfig(salt_bucket_docs=128))
    return build_index(spark, pages, cfg)


@pytest.fixture(scope="module")
def parsed(spark, index):
    qdf = spark.createDataFrame(synth_queries(N_QUERIES, vocab_size=800))
    return parse_queries(qdf, index.lexicon, pre_tokenized=True).persist()


@pytest.fixture(scope="module")
def oracle_topk(spark, index, parsed):
    """Exhaustive ranked_or as a pure Spark SQL plan over long postings."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql

    scored = (
        parsed.join(index.postings, "term_id")
        .join(index.doc_sizes, "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "s",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg((F.sum("s") / F.lit(1e6)).alias("score"))
        .filter(F.col("score") > 0)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "score")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def _fetch(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
        .astype({"rank": "int64", "doc_id": "int64"})
    )


def test_index_invariants(index):
    # Σ tf per doc == doc_len; postings per term == df
    # (mirrors test/cli/test_count_postings.sh:9-19 invariants).
    tf_per_doc = index.postings.groupBy("doc_id").agg(
        F.sum("tf").alias("s")
    )
    joined = tf_per_doc.join(index.doc_sizes, "doc_id")
    bad = joined.filter(F.col("s") != F.col("doc_len")).count()
    assert bad == 0
    df_check = index.postings.groupBy("term_id").count()
    bad2 = (
        df_check.join(index.lexicon, "term_id")
        .filter(F.col("count") != F.col("df"))
        .count()
    )
    assert bad2 == 0


def test_segment_roundtrip(index):
    # Decode-and-compare every posting (the --check pass,
    # src/compress.cpp:108-110 / util/verify_collection.hpp).
    from pisa_spark.build import decode_segments

    decoded = decode_segments(index.segments, index.config.index)
    diff = decoded.exceptAll(index.postings).count()
    diff2 = index.postings.exceptAll(decoded).count()
    assert diff == 0 and diff2 == 0


def test_segment_inline_doc_lens(index):
    """The per-posting doc lengths encoded inside each block
    (len_bytes — what makes query kernels broadcast-free) must equal
    the doc_sizes table for every posting."""
    from pisa_spark.build import decode_segments

    decoded = decode_segments(
        index.segments, index.config.index, include_len=True
    )
    bad = (
        decoded.join(index.doc_sizes.withColumnRenamed("doc_len", "expect"),
                     "doc_id")
        .filter(F.col("doc_len") != F.col("expect"))
        .count()
    )
    assert bad == 0


@pytest.mark.parametrize(
    "algorithm",
    ["ranked_or", "wand", "block_max_wand", "block_max_maxscore", "maxscore",
     "adaptive"],
)
def test_kernels_match_oracle(index, parsed, oracle_topk, algorithm):
    got = _fetch(topk_search(index, parsed, algorithm=algorithm, k=10))
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )
    np.testing.assert_allclose(got["score"], exp["score"], rtol=0, atol=1e-6)


@pytest.mark.parametrize("and_algo", ["ranked_and", "block_max_ranked_and"])
def test_ranked_and_matches_sql(spark, index, parsed, and_algo):
    got = (
        topk_search(index, parsed, algorithm=and_algo, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    # SQL conjunction: docs containing ALL query terms.
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pyspark.sql import Window

    nterms = parsed.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    scored = (
        parsed.join(index.postings, "term_id")
        .join(index.doc_sizes, "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "s",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg((F.sum("s") / F.lit(1e6)).alias("score"), F.count("*").alias("nt"))
        .join(nterms, "query_id")
        .filter(F.col("nt") == F.col("n_terms"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    exp = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "score")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]].astype({"doc_id": "int64"}),
        exp[["query_id", "rank", "doc_id"]].astype({"doc_id": "int64"}),
    )


@pytest.mark.parametrize("with_k", [True, False], ids=["parsed", "no_k"])
def test_boolean_and_or(spark, index, parsed, with_k):
    """Boolean AND/OR result sets equal the SQL join's (query_id,
    doc_id) sets — also for a parsed frame without the k column that
    Boolean callers never had to supply."""
    queries = parsed if with_k else parsed.drop("k")
    got_and = boolean_query(index, queries, "and")
    got_or = boolean_query(index, queries, "or")
    assert got_and.columns == got_or.columns == ["query_id", "doc_id"]
    nterms = parsed.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    exp_and = (
        parsed.join(index.postings, "term_id")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("nt"))
        .join(nterms, "query_id")
        .filter(F.col("nt") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    exp_or = (
        parsed.join(index.postings, "term_id")
        .select("query_id", "doc_id")
        .distinct()
    )
    for got, exp in ((got_and, exp_and), (got_or, exp_or)):
        got_rows = [tuple(r) for r in got.collect()]
        assert len(got_rows) == len(set(got_rows))
        assert set(got_rows) == {tuple(r) for r in exp.collect()}
    assert got_or.count() > got_and.count() > 0


def test_weighted_query_duplicates(spark, index):
    # Duplicate term => weight 2 (query_freqs, src/query/queries.cpp:107-120).
    lex_row = index.lexicon.orderBy(F.col("df").desc()).first()
    term = lex_row["term"]
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["qq"], "terms": [[term, term]], "k": [5]})
    )
    parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True)
    assert parsed.collect()[0]["weight"] == 2.0
    got = topk_search(index, parsed, algorithm="block_max_wand", k=5).toPandas()
    single = spark.createDataFrame(
        pd.DataFrame({"query_id": ["qq"], "terms": [[term]], "k": [5]})
    )
    got1 = topk_search(
        index, parse_queries(single, index.lexicon, pre_tokenized=True),
        algorithm="block_max_wand", k=5,
    ).toPandas()
    merged = got.merge(got1, on="doc_id", suffixes=("_2", "_1"))
    np.testing.assert_allclose(
        merged["score_2"], (2 * merged["score_1"]).round(6), atol=2e-6
    )


def test_assign_global_ids_unique_dense(spark):
    """Dense-rank uniqueness under many partitions and recompute
    (regression: unpersisted range boundaries re-sampled between the
    offset job and the numbering job, producing duplicate ids)."""
    import pandas as pd

    from pisa_spark.build.ids import assign_global_ids

    vals = [f"k{i:05d}" for i in range(5000)]
    import random

    random.Random(3).shuffle(vals)
    df = spark.createDataFrame(
        pd.DataFrame({"key": vals}), schema="key string"
    ).repartition(16)
    out = assign_global_ids(df, "key", "rid", num_partitions=12).toPandas()
    assert sorted(out["rid"]) == list(range(5000))
    ordered = out.sort_values("key")["rid"].tolist()
    assert ordered == list(range(5000))


def test_build_without_lexicon_broadcast(spark, index):
    """lexicon_broadcast_threshold=0 disables every build-path
    broadcast hint (plain joins, AQE decides) — the web-scale
    vocabulary path — and must produce the identical index."""
    pages = synth_pages(spark, N_DOCS, vocab_size=800, max_len=120)
    cfg = EngineConfig(
        index=IndexConfig(salt_bucket_docs=128, lexicon_broadcast_threshold=0)
    )
    idx0 = build_index(spark, pages, cfg)
    assert idx0.postings.exceptAll(index.postings).count() == 0
    assert index.postings.exceptAll(idx0.postings).count() == 0
    assert idx0.segments.count() == index.segments.count()


def test_conjunctive_thresholds_rejected(spark, index, parsed):
    """kth-score caches bound DISJUNCTIVE k-th scores only; the
    intersection's k-th score can be lower, so conjunctive kernels
    must refuse the bootstrap instead of silently dropping results."""
    est = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q0"], "threshold_micro": [10_000_000]}),
        schema="query_id string, threshold_micro long",
    )
    for algo in ("ranked_and", "block_max_ranked_and"):
        with pytest.raises(ValueError, match="unsound"):
            topk_search(index, parsed, algorithm=algo, k=10, thresholds=est)


def test_threshold_cache_k_mismatch_ignored(spark, index, parsed):
    """A cache built with a different k must contribute nothing (a
    smaller-k cache is not a lower bound for the query's k)."""
    from pisa_spark.query.thresholds import estimate_thresholds, kth_score_cache

    cache5 = kth_score_cache(index, k=5)
    est = estimate_thresholds(parsed, cache5).toPandas()  # queries use k=10
    assert (est["threshold_micro"] == 0).all()
    cache10 = kth_score_cache(index, k=10)
    est10 = estimate_thresholds(parsed, cache10).toPandas()
    assert (est10["threshold_micro"] > 0).any()


def test_budget_kth_thresholds(spark, index, parsed, oracle_topk):
    """Budget fork family (tools/kth_threshold_budget_origional.cpp):
    the single-term cache is capped at the B most-queried workload
    terms, a cache miss contributes 0, a dup-term query is skipped
    with -1, and the capped estimate is still a sound BMW bootstrap
    (rank identity vs the exhaustive oracle)."""
    from pisa_spark.query.thresholds import budget_kth_thresholds

    full = budget_kth_thresholds(index, parsed, budget=100_000, k=10)
    small = budget_kth_thresholds(index, parsed, budget=3, k=10)
    zero = budget_kth_thresholds(index, parsed, budget=0, k=10)
    f = full.toPandas().set_index("query_id")["threshold_micro"]
    s = small.toPandas().set_index("query_id")["threshold_micro"]
    z = zero.toPandas().set_index("query_id")["threshold_micro"]
    nondup = f.index[f != -1]
    assert len(nondup) > 0
    assert (z[nondup] == 0).all()  # empty cache -> no estimate
    # monotone in budget, and the cap actually bites somewhere
    assert (s[nondup] <= f[nondup]).all()
    assert (s[nondup] < f[nondup]).any()
    assert (f[nondup] >= 0).all()

    # dup-term query -> skipped with -1 at EVERY budget (ifDupTerm)
    lex_term = index.lexicon.select("term").first()["term"]
    dq = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": ["dq"], "terms": [[lex_term, lex_term]], "k": [10]}
        ),
        schema="query_id string, terms array<string>, k int",
    )
    dparsed = parse_queries(dq, index.lexicon, pre_tokenized=True)
    for b in (0, 100_000):
        got = budget_kth_thresholds(index, dparsed, budget=b, k=10).toPandas()
        assert list(got["threshold_micro"]) == [-1]

    # sound bootstrap: BMW with the capped estimates stays rank-identical
    got = _fetch(
        topk_search(
            index, parsed, algorithm="block_max_wand", k=10, thresholds=small
        )
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )


def test_sampling_kth_thresholds(spark, index, parsed):
    """Sampling fork family (kth_threshold_sampling_origional.cpp):
    k' selection pins the binomial over-estimate table; the estimate
    equals the k'-th best disjunctive micro over the doc_id%10 sample
    (independently recomputed), -1 when the sample matches fewer than
    k' docs; an unreachable target_o yields the -1 sentinel."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import (
        sampling_k_prime, sampling_kth_thresholds,
    )

    # calculateO(k=10, k', s=0.1): 0.613, 0.225, 0.053, 0.0083 ...
    assert sampling_k_prime(10, 0.1, 0.05) == 4
    assert sampling_k_prime(10, 0.1, 0.3) == 2  # O(2)=0.225 <= 0.3
    assert sampling_k_prime(10, 0.1, 0.7) == 1
    assert sampling_k_prime(10, 0.9, 1e-12) == -1  # nothing qualifies

    got = (
        sampling_kth_thresholds(index, parsed, k=10)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    # independent recompute: full-index doc scores, sampled docs only
    sm = (
        parsed.join(
            index.postings.select("term_id", "doc_id", "tf")
            .filter(F.col("doc_id") % 10 == 0),
            "term_id",
        )
        .join(index.doc_sizes.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("m").alias("ms"))
        .toPandas()
    )
    k_prime = sampling_k_prime(10, 0.1, 0.05)
    for qid, grp in sm.groupby("query_id"):
        ranked = grp.sort_values(
            ["ms", "doc_id"], ascending=[False, True]
        )["ms"].tolist()
        exp = ranked[k_prime - 1] if len(ranked) >= k_prime else -1
        assert got[qid] == exp, qid
    # queries whose sample never reaches k' docs exist at this scale
    # and carry the sentinel
    missing = set(got.index) - set(sm["query_id"])
    for qid in missing:
        assert got[qid] == -1


def test_combine_did_kth_thresholds(spark, index, parsed, oracle_topk):
    """Combine-did fork family (kth_threshold_intersection_new.cpp):
    estimate equals an independent recompute (per-term top-d prefixes
    -> per-did sum -> k-th best, -2 when fewer than k dids), dominates
    the single-term estimate where both exist (shared prefix dids only
    add components), and is still a SOUND bootstrap (rank identity)."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import (
        combine_did_kth_thresholds, estimate_thresholds, kth_score_cache,
    )

    D = 16
    got = (
        combine_did_kth_thresholds(index, parsed, d=D, k=10)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    pm = (
        parsed.join(index.postings.select("term_id", "doc_id", "tf"), "term_id")
        .join(index.doc_sizes.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .select("query_id", "term_id", "doc_id", "m")
        .toPandas()
    )
    for qid, grp in pm.groupby("query_id"):
        prefix = (
            grp.sort_values(["m", "doc_id"], ascending=[False, True])
            .groupby("term_id").head(D)
        )
        combined = (
            prefix.groupby("doc_id")["m"].sum()
            .reset_index()
            .sort_values(["m", "doc_id"], ascending=[False, True])["m"]
            .tolist()
        )
        exp = combined[9] if len(combined) >= 10 else -2
        assert got[qid] == exp, qid

    # dominates the single-term estimate (d >= k: every term's top-k
    # prefix did keeps at least its own component)
    single = (
        estimate_thresholds(parsed, kth_score_cache(index, k=10))
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    both = got[got >= 0].index
    assert (got[both] >= single[both]).all()
    assert (got[both] > single[both]).any()

    # budgeted variant (kth_threshold_budget_combine_did.cpp): an
    # unbounded budget reproduces the plain estimate; a capped budget
    # only drops components, so estimates never rise and every
    # non-negative value stays a sound bound; budget=0 caches nothing
    # -> -2 everywhere
    full_b = (
        combine_did_kth_thresholds(index, parsed, d=D, k=10, budget=10**6)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    pd.testing.assert_series_equal(full_b.sort_index(), got.sort_index())
    small_b = (
        combine_did_kth_thresholds(index, parsed, d=D, k=10, budget=3)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    for qid in got.index:
        if small_b[qid] >= 0:
            assert small_b[qid] <= got[qid], qid
    zero_b = (
        combine_did_kth_thresholds(index, parsed, d=D, k=10, budget=0)
        .toPandas()["threshold_micro"]
    )
    assert (zero_b == -2).all()

    # sound bootstrap: BMW with combine-did estimates stays rank-identical
    est = combine_did_kth_thresholds(index, parsed, d=D, k=10)
    res = _fetch(
        topk_search(
            index, parsed, algorithm="block_max_wand", k=10, thresholds=est
        )
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        res[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )


def test_intersection_kth_thresholds(spark, index, parsed, oracle_topk):
    """Intersection/slicing fork family
    (kth_threshold_intersection.cpp): estimate equals an independent
    pandas recompute of the slicing semantics, dominates combine_did
    on 2-5-term queries (the all-singles slicing IS combine_did),
    turns EXACT when the whole-query comb is cached (gram >= n), obeys
    the -1/-2 sentinels, and stays a sound BMW bootstrap."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import (
        INTERSECTION_SLICINGS, combine_did_kth_thresholds,
        intersection_kth_thresholds,
    )

    D, GRAM = 16, 2
    got = (
        intersection_kth_thresholds(index, parsed, d=D, k=10, gram=GRAM)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    pm = (
        parsed.join(index.postings.select("term_id", "doc_id", "tf"), "term_id")
        .join(index.doc_sizes.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .select("query_id", "term_id", "doc_id", "m")
        .toPandas()
    )
    qterms = {
        qid: sorted(grp["term_id"].unique())
        for qid, grp in pm.groupby("query_id")
    }

    def expected(qid: str, gram: int) -> int:
        terms = qterms[qid]
        if len(terms) > 5:
            return -1
        grp = pm[pm["query_id"] == qid]
        best: dict[int, int] = {}
        for slicing in INTERSECTION_SLICINGS.get(len(terms), []):
            sums: dict[int, int] = {}
            for comb in slicing:
                if len(comb) > gram:
                    continue  # cache miss: contributes nothing
                members = [terms[p] for p in comb]
                cd = (
                    grp[grp["term_id"].isin(members)]
                    .groupby("doc_id")["m"].sum().reset_index()
                    .sort_values(["m", "doc_id"], ascending=[False, True])
                    .head(D)
                )
                for doc, m in zip(cd["doc_id"], cd["m"]):
                    sums[doc] = sums.get(doc, 0) + int(m)
            for doc, s in sums.items():
                best[doc] = max(best.get(doc, 0), s)
        ranked = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[9][1] if len(ranked) >= 10 else -2

    for qid in qterms:
        assert got[qid] == expected(qid, GRAM), qid

    # sentinels: every 1-term query is -2 (no slicings), >5-term is -1
    for qid, terms in qterms.items():
        if len(terms) == 1:
            assert got[qid] == -2, qid
        if len(terms) > 5:
            assert got[qid] == -1, qid

    # dominates combine_did on 2-5-term queries: the all-singles
    # slicing replays exactly combine_did's prefix sum
    cd = (
        combine_did_kth_thresholds(index, parsed, d=D, k=10)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    mid = [q for q, t in qterms.items() if 2 <= len(t) <= 5]
    both = [q for q in mid if got[q] >= 0 and cd[q] >= 0]
    assert both and (got[both] >= cd[both]).all()

    # gram >= n caches the whole-query comb -> the estimate IS the
    # true k-th final score for n <= 5 queries with >= k matching docs
    exact = (
        intersection_kth_thresholds(index, parsed, d=D, k=10, gram=5)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    true_kth = (
        oracle_topk[oracle_topk["rank"] == 10]
        .set_index("query_id")["score"]
    )
    for qid in mid:
        if qid in true_kth.index:
            assert exact[qid] == round(true_kth[qid] * 1e6), qid

    # sound bootstrap: BMW with intersection estimates stays
    # rank-identical (only non-negative estimates are bounds)
    est = (
        intersection_kth_thresholds(index, parsed, d=D, k=10, gram=GRAM)
        .select(
            "query_id",
            F.greatest(F.col("threshold_micro"), F.lit(0).cast("long"))
            .alias("threshold_micro"),
        )
    )
    res = _fetch(
        topk_search(
            index, parsed, algorithm="block_max_wand", k=10, thresholds=est
        )
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        res[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )


def test_combine_did_new_and_substructure_kth_thresholds(
    spark, index, parsed, oracle_topk
):
    """Combine-did-new + existence-substructure forks
    (kth_threshold_combine_did_new.cpp /
    kth_threshold_existance_substructure_test.cpp): both equal an
    independent pandas recompute of the gram-comb prefix semantics
    (per-did MAX across combs vs per-term-deduplicated SUM),
    substructure dominates combine-did-new at equal (d, gram),
    combine-did-new turns EXACT when gram >= n, the budget knob only
    drops components, and both stay sound BMW bootstraps."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import (
        combine_did_new_kth_thresholds, substructure_kth_thresholds,
    )

    D, GRAM = 8, 2
    got_new = (
        combine_did_new_kth_thresholds(index, parsed, d=D, k=10, gram=GRAM)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    got_sub = (
        substructure_kth_thresholds(index, parsed, d=D, k=10, gram=GRAM)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    pm = (
        parsed.join(index.postings.select("term_id", "doc_id", "tf"), "term_id")
        .join(index.doc_sizes.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .select("query_id", "term_id", "doc_id", "m")
        .toPandas()
    )

    def kth_of(scores: dict, k: int = 10) -> int:
        vals = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return vals[k - 1][1] if len(vals) >= k else -2

    from itertools import combinations

    for qid, grp in pm.groupby("query_id"):
        terms = sorted(grp["term_id"].unique())
        tm = grp.set_index(["term_id", "doc_id"])["m"]
        new_map: dict[int, int] = {}
        comp: dict[int, dict[int, int]] = {}
        for g in range(1, GRAM + 1):
            for comb in combinations(terms, g):
                cd = (
                    grp[grp["term_id"].isin(comb)]
                    .groupby("doc_id")["m"].sum().reset_index()
                    .sort_values(["m", "doc_id"], ascending=[False, True])
                    .head(D)
                )
                for did, ms in zip(cd["doc_id"], cd["m"]):
                    new_map[did] = max(new_map.get(did, 0), int(ms))
                    for t in comb:
                        if (t, did) in tm.index:
                            comp.setdefault(did, {})[t] = int(tm[(t, did)])
        assert got_new[qid] == kth_of(new_map), qid
        sub_map = {did: sum(c.values()) for did, c in comp.items()}
        assert got_sub[qid] == kth_of(sub_map), qid

    # substructure dominates combine-did-new (union of components
    # covers every single comb's member set; same candidate dids)
    both = [q for q in got_new.index if got_new[q] >= 0]
    assert both and (got_sub[both] >= got_new[both]).all()
    assert (got_sub[both] > got_new[both]).any()

    # gram >= n: the whole-query comb is cached, so with d >= k the
    # estimate IS the true k-th final score
    qn = pm.groupby("query_id")["term_id"].nunique()
    small = [q for q in qn.index if qn[q] <= 4]
    assert small, "workload should hold <=4-term queries"
    exact = (
        combine_did_new_kth_thresholds(
            index, parsed.filter(F.col("query_id").isin(small)),
            d=16, k=10, gram=4,
        )
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    true_kth = (
        oracle_topk[oracle_topk["rank"] == 10]
        .set_index("query_id")["score"]
    )
    for qid in small:
        if qid in true_kth.index:
            assert exact[qid] == round(true_kth[qid] * 1e6), qid

    # budget knob (kth_threshold_combine_did_new_budget.cpp): an
    # unbounded budget reproduces the plain estimate, a capped budget
    # never raises it, budget 0 caches nothing -> -2
    full_b = (
        combine_did_new_kth_thresholds(
            index, parsed, d=D, k=10, gram=GRAM, budget=10**6
        ).toPandas().set_index("query_id")["threshold_micro"]
    )
    pd.testing.assert_series_equal(
        full_b.sort_index(), got_new.sort_index()
    )
    small_b = (
        combine_did_new_kth_thresholds(
            index, parsed, d=D, k=10, gram=GRAM, budget=5
        ).toPandas().set_index("query_id")["threshold_micro"]
    )
    for qid in got_new.index:
        if small_b[qid] >= 0:
            assert small_b[qid] <= got_new[qid], qid
    zero_b = (
        combine_did_new_kth_thresholds(
            index, parsed, d=D, k=10, gram=GRAM, budget=0
        ).toPandas()["threshold_micro"]
    )
    assert (zero_b == -2).all()

    # sound bootstrap: BMW with substructure estimates (the tighter
    # family; negatives clamped to 0) stays rank-identical
    est = substructure_kth_thresholds(
        index, parsed, d=D, k=10, gram=GRAM
    ).select(
        "query_id",
        F.greatest(F.col("threshold_micro"), F.lit(0).cast("long"))
        .alias("threshold_micro"),
    )
    res = _fetch(
        topk_search(
            index, parsed, algorithm="block_max_wand", k=10, thresholds=est
        )
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        res[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )


def test_real_kth_and_estimator_quality(spark, index, parsed):
    """Score-generator + simulator evaluation protocol
    (kth_threshold_origional_score_generator.cpp / the *_simulator
    and *_real_world tools): real_kth_thresholds equals a pandas
    recompute at every k (0 sentinel under k results),
    estimator_quality lands sound estimates at the pandas-recomputed
    rank with overshoot=False, flags a deliberately inflated estimate
    as an overshoot, and reports -1 / NULL sentinels for short result
    sets and missing estimates."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import (
        estimate_thresholds, estimator_quality, kth_score_cache,
        real_kth_thresholds,
    )

    scored = (
        parsed.join(index.postings.select("term_id", "doc_id", "tf"), "term_id")
        .join(index.doc_sizes.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("m").cast("long").alias("ms"))
        .toPandas()
    )
    ranked = {
        qid: grp.sort_values(["ms", "doc_id"], ascending=[False, True])
        ["ms"].tolist()
        for qid, grp in scored.groupby("query_id")
    }

    KS = (3, 10, 100)
    real = (
        real_kth_thresholds(index, parsed, ks=KS)
        .toPandas().set_index(["query_id", "k"])["threshold_micro"]
    )
    assert {k for (_, k) in real.index} == set(KS)
    short_seen = False
    for qid, vals in ranked.items():
        for k in KS:
            exp = vals[k - 1] if len(vals) >= k else 0
            short_seen = short_seen or len(vals) < k
            assert real[(qid, k)] == exp, (qid, k)
    assert short_seen, "workload should exercise the 0 sentinel"

    DEPTH = 50
    est = estimate_thresholds(parsed, kth_score_cache(index, k=10))
    q = (
        estimator_quality(index, parsed, est, k=10, depth=DEPTH)
        .toPandas().set_index("query_id")
    )
    est_pd = est.toPandas().set_index("query_id")["threshold_micro"]
    for qid, vals in ranked.items():
        row = q.loc[qid]
        top = vals[:DEPTH]
        if len(vals) < 10:
            assert row["estimated_k"] == -1 and not row["overshoot"], qid
            continue
        assert row["real_micro"] == vals[9], qid
        assert row["est_micro"] == est_pd[qid], qid
        exp_k = min(sum(1 for v in top if v > est_pd[qid]) + 1, len(top))
        assert row["estimated_k"] == exp_k, qid
        assert not row["overshoot"], qid  # single cache is sound

    # a deliberately inflated estimate overshoots and lands shallower
    bad = est.select(
        "query_id", (F.col("threshold_micro") * 2 + 10**9)
        .cast("long").alias("threshold_micro"),
    )
    qb = (
        estimator_quality(index, parsed, bad, k=10, depth=DEPTH)
        .toPandas().set_index("query_id")
    )
    long_q = [q_ for q_, v in ranked.items() if len(v) >= 10]
    assert qb.loc[long_q]["overshoot"].all()

    # a query missing from the estimate table reports NULL sentinels
    some = sorted(ranked)[0]
    part = est.filter(F.col("query_id") != some)
    qp = (
        estimator_quality(index, parsed, part, k=10, depth=DEPTH)
        .toPandas().set_index("query_id")
    )
    assert pd.isna(qp.loc[some]["estimated_k"])
    assert pd.isna(qp.loc[some]["overshoot"])


def test_lookup_kth_thresholds(spark, index, parsed, oracle_topk):
    """Lookup-pipeline fork family
    (kth_threshold_intersection_budget_lookup.cpp): estimate equals an
    independent pandas recompute of the budgeted drain + exact-lookup
    semantics at gram 1 AND 2, is a sound lower bound on the true k-th
    final score, and turns EXACT with an unbounded budget."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import lookup_kth_thresholds

    BUDGET = 12
    pm = (
        parsed.join(index.postings.select("term_id", "doc_id", "tf"), "term_id")
        .join(index.doc_sizes.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .select("query_id", "term_id", "doc_id", "m")
        .toPandas()
    )

    def expected(qid: str, gram: int, budget: int) -> int:
        grp = pm[pm["query_id"] == qid]
        rows = [
            (str(t), d, int(m))
            for t, d, m in zip(grp["term_id"], grp["doc_id"], grp["m"])
        ]
        if gram == 2:
            terms = sorted(grp["term_id"].unique())
            for i, ta in enumerate(terms):
                for tb in terms[i + 1:]:
                    sub = grp[grp["term_id"].isin([ta, tb])]
                    for d, m in sub.groupby("doc_id")["m"].sum().items():
                        rows.append((f"{ta}-{tb}", d, int(m)))
        rows.sort(key=lambda r: (-r[2], r[1], r[0]))
        cands = {d for _, d, _ in rows[:budget]}
        full = sorted(
            (
                (int(grp[grp["doc_id"] == d]["m"].sum()), d)
                for d in cands
            ),
            key=lambda v: (-v[0], v[1]),
        )
        return full[9][0] if len(full) >= 10 else -2

    for gram in (1, 2):
        got = (
            lookup_kth_thresholds(index, parsed, budget=BUDGET, k=10,
                                  gram=gram)
            .toPandas().set_index("query_id")["threshold_micro"]
        )
        for qid in got.index:
            assert got[qid] == expected(qid, gram, BUDGET), (qid, gram)

    # sound: a non-negative estimate never exceeds the true k-th
    true_kth = (
        oracle_topk[oracle_topk["rank"] == 10]
        .set_index("query_id")["score"] * 1e6
    ).round().astype(int)
    got = (
        lookup_kth_thresholds(index, parsed, budget=BUDGET, k=10)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    for qid, est in got.items():
        if est >= 0 and qid in true_kth.index:
            assert est <= true_kth[qid], qid

    # unbounded budget at gram=1 drains every matching doc -> EXACT
    exact = (
        lookup_kth_thresholds(index, parsed, budget=10**9, k=10)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    for qid, est in exact.items():
        if qid in true_kth.index:
            assert est == true_kth[qid], qid
        else:
            assert est == -2, qid  # under k matching docs

    # sampled drain (kth_threshold_sampling_lookup.cpp): candidates
    # restricted to the doc sample, lookups still exact -> matches a
    # recompute whose drain rows are pre-filtered to the sample, and
    # every non-negative estimate stays a sound bound
    MOD = 3
    got_s = (
        lookup_kth_thresholds(index, parsed, budget=BUDGET, k=10,
                              sample_mod=MOD)
        .toPandas().set_index("query_id")["threshold_micro"]
    )

    def expected_sampled(qid: str, budget: int) -> int:
        grp = pm[pm["query_id"] == qid]
        sgrp = grp[grp["doc_id"] % MOD == 0]
        rows = sorted(
            ((str(t), d, int(m)) for t, d, m
             in zip(sgrp["term_id"], sgrp["doc_id"], sgrp["m"])),
            key=lambda r: (-r[2], r[1], r[0]),
        )
        cands = {d for _, d, _ in rows[:budget]}
        full = sorted(
            ((int(grp[grp["doc_id"] == d]["m"].sum()), d) for d in cands),
            key=lambda v: (-v[0], v[1]),
        )
        return full[9][0] if len(full) >= 10 else -2

    for qid in got_s.index:
        assert got_s[qid] == expected_sampled(qid, BUDGET), qid
        if got_s[qid] >= 0 and qid in true_kth.index:
            assert got_s[qid] <= true_kth[qid], qid

    with pytest.raises(ValueError):
        lookup_kth_thresholds(index, parsed, budget=BUDGET, k=10, gram=3)


def test_decode_time_features(spark, index):
    """Decode-time prediction (dec_time_prediction.hpp): the feature
    job equals an independent numpy recompute of values_statistics
    (:104-144) per term — n, nonzeros, max_b, micro-quantized
    sum_of_logs and entropy — and the linear predictor (:72-102)
    reproduces bias + dot(weights, features) with name-keyed weights.
    """
    import math

    from pisa_spark.functions.dectime import (
        decode_time_features, decode_time_predict,
    )

    got = (
        decode_time_features(index.postings)
        .toPandas().set_index("term_id").sort_index()
    )
    tfs = index.postings.select("term_id", "tf").toPandas()
    for term_id, grp in tfs.groupby("term_id"):
        vals = grp["tf"].to_numpy()
        counts = pd.Series(vals).value_counts()
        n = len(vals)
        row = got.loc[term_id]
        assert row["n"] == n
        assert row["nonzeros"] == int((vals != 0).sum())
        assert row["max_b"] == (
            int(vals.max()).bit_length() if vals.max() else 0
        )
        sol = sum(
            int(math.floor(c * math.log2(v + 1.0) * 1e6 + 0.5))
            for v, c in counts.items()
        )
        ent = sum(
            int(math.floor(c * math.log2(n / c) * 1e6 + 0.5))
            for v, c in counts.items()
        )
        assert row["sum_of_logs_micro"] == sol, term_id
        assert row["entropy_micro"] == ent, term_id

    # predictor: bias + dot(weights, features), micro-suffixed
    # features matched with or without the suffix and de-quantized
    weights = {"n": 0.25, "sum_of_logs": 1.5, "entropy_micro": -0.5,
               "max_b": 2.0}
    pred = (
        decode_time_predict(decode_time_features(index.postings),
                            weights, bias=3.0)
        .toPandas().set_index("term_id")["predicted_micro"]
    )
    for term_id, row in got.iterrows():
        # same sorted-key accumulation order as the implementation:
        # the double sum (hence the micro rounding) depends on it
        exp = 3.0
        exp = exp + -0.5 * (row["entropy_micro"] / 1e6)
        exp = exp + 2.0 * row["max_b"]
        exp = exp + 0.25 * row["n"]
        exp = exp + 1.5 * (row["sum_of_logs_micro"] / 1e6)
        assert pred[term_id] == int(math.floor(exp * 1e6 + 0.5)), term_id

    with pytest.raises(ValueError):
        decode_time_predict(
            decode_time_features(index.postings), {"pfor_b": 1.0}
        )


def test_topk_search_safe_rerun(spark, index, parsed, oracle_topk):
    """--safe rerun (tools/queries.cpp:74-90): deliberately over-shot
    thresholds make the plain bootstrapped search under-fill, and
    topk_search_safe repairs exactly those queries back to the
    oracle; the RISKY sampling-estimator pipeline end-to-end is also
    rank-identical; sound estimates pass through with no rerun."""
    from pisa_spark.query.executor import topk_search_safe
    from pisa_spark.query.thresholds import sampling_kth_thresholds

    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})

    # true k-th micro per query, overshot by a wide margin
    true_kth = (
        oracle_topk[oracle_topk["rank"] == 10]
        .set_index("query_id")["score"] * 1e6
    ).round().astype(int)
    over = spark.createDataFrame(
        [(q, int(v) + 1000) for q, v in true_kth.items()],
        "query_id string, threshold_micro long",
    )
    unsafe = topk_search(
        index, parsed, algorithm="block_max_wand", k=10, thresholds=over
    ).toPandas()
    # every overshot query under-fills in RELIABLE entries (docs
    # scoring >= the estimate): an estimate above the true k-th
    # admits at most k-1 such docs. The raw heap may still hold 10
    # rows (these kernels admit any doc a decoded block happened to
    # contain), which is exactly why topk_search_safe counts reliable
    # entries, not rows.
    unsafe["micro"] = (unsafe["score"] * 1e6 + 0.5).astype("int64")
    rel = (
        unsafe[unsafe["micro"] >= unsafe["query_id"].map(true_kth) + 1000]
        .groupby("query_id").size()
    )
    assert (rel.reindex(true_kth.index, fill_value=0) < 10).all()

    safe = _fetch(
        topk_search_safe(
            index, parsed, algorithm="block_max_wand", k=10,
            thresholds=over,
        )
    )
    pd.testing.assert_frame_equal(
        safe[["query_id", "rank", "doc_id"]],
        exp[["query_id", "rank", "doc_id"]],
    )

    # the risky sampling estimator + safe rerun, end-to-end
    est = sampling_kth_thresholds(index, parsed, k=10, sample_mod=4)
    safe2 = _fetch(
        topk_search_safe(
            index, parsed, algorithm="maxscore", k=10, thresholds=est
        )
    )
    pd.testing.assert_frame_equal(
        safe2[["query_id", "rank", "doc_id"]],
        exp[["query_id", "rank", "doc_id"]],
    )

    # thresholds=None short-circuits to plain topk_search
    plain = _fetch(
        topk_search_safe(index, parsed, algorithm="block_max_wand", k=10)
    )
    pd.testing.assert_frame_equal(
        plain[["query_id", "rank", "doc_id"]],
        exp[["query_id", "rank", "doc_id"]],
    )


def test_estimator_mixed_k_soundness(spark, index, parsed):
    """Every threshold-estimator family under a MIXED-k workload
    (the ADVICE-r2 failure class): caches/estimates built for k=10
    must never leak into queries asking k=5 — per-family, a k=5 query
    either gets the null/sentinel fallback (single/budget guards) or
    is absent from the output (the filtering families) — and every
    estimate produced for a k=10 query is <= that query's true 10th
    final score."""
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import (
        budget_kth_thresholds, combine_did_kth_thresholds,
        estimate_thresholds, intersection_kth_thresholds,
        kth_score_cache, lookup_kth_thresholds, pair_kth_thresholds,
        sampling_kth_thresholds,
    )

    mixed = parsed.withColumn(
        "k",
        F.when(
            F.crc32(F.col("query_id").cast("string")) % 2 == 0, F.lit(5)
        ).otherwise(F.lit(10)),
    ).persist()
    kmap = (
        mixed.select("query_id", "k").distinct()
        .toPandas().set_index("query_id")["k"]
    )
    k10 = set(kmap[kmap == 10].index)

    # true k-th at each query's own k
    scored = (
        mixed.join(index.postings, "term_id")
        .join(index.doc_sizes, "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("m").cast("long").alias("ms"))
        .toPandas()
    )
    true_kth = {}
    for qid, grp in scored.groupby("query_id"):
        vals = grp.sort_values(
            ["ms", "doc_id"], ascending=[False, True]
        )["ms"].tolist()
        kk = int(kmap[qid])
        if len(vals) >= kk:
            true_kth[qid] = vals[kk - 1]

    # single-term cache: k=5 queries must fall back to 0 (cache_k
    # guard), k=10 estimates must be sound
    single = (
        estimate_thresholds(mixed, kth_score_cache(index, k=10))
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    for qid, est in single.items():
        if kmap[qid] == 5:
            assert est == 0, qid
        elif qid in true_kth:
            assert est <= true_kth[qid], qid

    # budget: same guard via cache_k (dup queries may be -1)
    bud = (
        budget_kth_thresholds(index, mixed, budget=100, k=10)
        .toPandas().set_index("query_id")["threshold_micro"]
    )
    for qid, est in bud.items():
        if kmap[qid] == 5:
            assert est <= 0, qid
        elif qid in true_kth:
            assert est <= true_kth[qid], qid

    # filtering families: k=5 queries are ABSENT; k=10 estimates sound
    from pisa_spark.query.thresholds import (
        combine_did_new_kth_thresholds, substructure_kth_thresholds,
    )

    fams = {
        "pairs": pair_kth_thresholds(index, mixed, k=10),
        "combine_did": combine_did_kth_thresholds(index, mixed, k=10),
        "combine_did_new": combine_did_new_kth_thresholds(index, mixed, k=10),
        "substructure": substructure_kth_thresholds(index, mixed, k=10),
        "intersection": intersection_kth_thresholds(index, mixed, k=10),
        "lookup": lookup_kth_thresholds(index, mixed, budget=16, k=10),
        "sampling": sampling_kth_thresholds(index, mixed, k=10),
    }
    for fam, df in fams.items():
        got = df.toPandas()
        col = "pair_micro" if fam == "pairs" else "threshold_micro"
        assert set(got["query_id"]) <= k10, fam
        if fam == "sampling":
            continue  # risky by design; soundness not claimed
        for qid, est in zip(got["query_id"], got[col]):
            if est >= 0 and qid in true_kth:
                assert est <= true_kth[qid], (fam, qid)
    mixed.unpersist()


def test_range_live_prefilter(spark, index, parsed, oracle_topk):
    """Live-range pruning (wand_data_range compute_live_blocks in
    Catalyst): bootstrapped topk_search over this four-bucket index
    stays rank-identical while the live-range filter provably drops
    dead (query, bucket) groups."""
    from pisa_spark.query.executor import _factored_rows, live_ranges
    from pisa_spark.query.thresholds import (
        estimate_thresholds_with_pairs, kth_score_cache,
    )

    cache = kth_score_cache(index, k=10)
    est = estimate_thresholds_with_pairs(index, parsed, cache, k=10)
    got = _fetch(
        topk_search(index, parsed, algorithm="maxscore", k=10, thresholds=est)
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )

    # the filter itself: fewer live ranges than total ranges
    from pisa_spark.build.segments import blocks_per_bucket

    stride = blocks_per_bucket(index.config.index)
    rows = _factored_rows(
        index, parsed.join(F.broadcast(est), "query_id", "left")
    ).withColumn("bucket", (F.col("block_id") / F.lit(stride)).cast("long"))
    total = rows.select("query_id", "bucket").distinct().count()
    live = live_ranges(rows).count()
    assert live < total, (live, total)

    with pytest.raises(ValueError, match="unsound"):
        topk_search(
            index, parsed, algorithm="ranked_and", k=10, thresholds=est
        )


def test_pair_threshold_bootstrap(spark, index, parsed, oracle_topk):
    """Pair-disjunction k-th scores (kth_threshold.cpp pair mode)
    tighten the bootstrap: estimates dominate the single-term cache,
    results stay rank-identical, and BMW never decodes more than with
    single-term bounds."""
    from pisa_spark.query.thresholds import (
        estimate_thresholds, estimate_thresholds_with_pairs, kth_score_cache,
    )

    cache = kth_score_cache(index, k=10)
    single = estimate_thresholds(parsed, cache)
    combo = estimate_thresholds_with_pairs(index, parsed, cache, k=10)
    s = single.toPandas().set_index("query_id")["threshold_micro"]
    c = combo.toPandas().set_index("query_id")["threshold_micro"]
    j = pd.concat([s.rename("s"), c.rename("c")], axis=1)
    assert (j["c"] >= j["s"]).all()
    assert (j["c"] > j["s"]).any()  # pairs actually tighten something

    got = _fetch(
        topk_search(
            index, parsed, algorithm="block_max_wand", k=10, thresholds=combo
        )
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )

    def blocks(thresholds):
        df = topk_search(
            index, parsed, algorithm="block_max_wand", k=10,
            thresholds=thresholds, profile=True,
        ).toPandas()
        return df.groupby("query_id")["blocks_decoded"].first().sum()

    assert blocks(combo) <= blocks(single)


def test_thresholds_over_checkpointed_pages(spark, index, parsed):
    """estimate_thresholds_with_pairs over an index built from
    localCheckpoint'ed pages: both sides of the single-term cache join
    carry the lexicon's term_id attribute, which Spark failed to
    re-number ("conflicting references in Join") on that plan. The
    same pages un-checkpointed build the module index, so the
    estimates must match it row for row."""
    from pisa_spark.query.thresholds import (
        estimate_thresholds_with_pairs, kth_score_cache,
    )

    def estimates(idx, prs):
        est = estimate_thresholds_with_pairs(
            idx, prs, kth_score_cache(idx, k=10), k=10
        )
        return sorted(map(tuple, est.collect()))

    pages = synth_pages(spark, N_DOCS, vocab_size=800, max_len=120)
    ck_index = build_index(spark, pages.localCheckpoint(), index.config)
    qdf = spark.createDataFrame(synth_queries(N_QUERIES, vocab_size=800))
    ck_parsed = parse_queries(qdf, ck_index.lexicon, pre_tokenized=True)
    got = estimates(ck_index, ck_parsed)
    assert len(got) == N_QUERIES
    assert got == estimates(index, parsed)


def test_pair_kth_thresholds_values(spark, index, parsed):
    """pair_kth_thresholds equals an independent pandas recompute of
    the pair cache (kth_threshold.cpp:126-138): per query, every term
    pair ta < tb scores each doc under EITHER term by the sum of the
    present members' weighted micros (union semantics), the pair's
    k-th best (ms DESC, doc_id ASC) is its cached value, and the
    estimate is the max over the query's pairs; queries with no pair
    reaching k docs are absent, and so is every query asking a
    different k (the per-k guard)."""
    from itertools import combinations

    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql
    from pisa_spark.query.thresholds import pair_kth_thresholds

    K = 10
    pm = (
        parsed.join(index.postings.select("term_id", "doc_id", "tf"), "term_id")
        .join(index.doc_sizes.select("doc_id", "doc_len"), "doc_id")
        .join(index.lexicon.select("term_id", "df"), "term_id")
        .withColumn(
            "m",
            F.expr(
                micro_sql(
                    bm25_sql_expr(
                        num_docs=dlit(index.num_docs),
                        avg_len=dlit(index.avg_len),
                    ),
                    weight="weight",
                )
            ),
        )
        .select("query_id", "term_id", "doc_id", "m")
        .toPandas()
    )
    expected: dict[str, int] = {}
    for qid, grp in pm.groupby("query_id"):
        best = None
        for ta, tb in combinations(sorted(grp["term_id"].unique()), 2):
            vals = (
                grp[grp["term_id"].isin([ta, tb])]
                .groupby("doc_id")["m"].sum().reset_index()
                .sort_values(["m", "doc_id"], ascending=[False, True])
                ["m"].tolist()
            )
            if len(vals) >= K:
                best = max(best or 0, int(vals[K - 1]))
        if best is not None:
            expected[qid] = best

    got = (
        pair_kth_thresholds(index, parsed, k=K)
        .toPandas().set_index("query_id")["pair_micro"].to_dict()
    )
    assert expected, "workload should hold pairs reaching k docs"
    assert got == expected

    # per-k guard: queries asking k=5 get no k=10 pair estimate
    mixed = parsed.withColumn(
        "k",
        F.when(F.crc32(F.col("query_id")) % 2 == 0, F.lit(5))
        .otherwise(F.lit(K)),
    )
    k5 = {
        r["query_id"]
        for r in mixed.filter(F.col("k") == 5).select("query_id").collect()
    }
    assert k5 & set(expected)
    got_mixed = (
        pair_kth_thresholds(index, mixed, k=K)
        .toPandas().set_index("query_id")["pair_micro"].to_dict()
    )
    assert got_mixed == {q: v for q, v in expected.items() if q not in k5}


def test_pruned_kernels_decode_fewer_blocks(spark, index, parsed):
    """profile_queries analogue: dynamic pruning must actually skip
    work — BMW/maxscore read fewer blocks than the exhaustive TAAT
    kernel on the same queries, with identical results (already pinned
    by test_kernels_match_oracle)."""
    from pisa_spark.query.executor import topk_search

    def total_blocks(algorithm):
        df = topk_search(
            index, parsed, algorithm=algorithm, k=10, profile=True
        ).toPandas()
        return df.groupby("query_id")["blocks_decoded"].first().sum()

    exhaustive = total_blocks("ranked_or")
    bmw = total_blocks("block_max_wand")
    bmm = total_blocks("block_max_maxscore")
    assert bmw <= exhaustive
    assert bmm <= exhaustive
    # on the gate workload at least SOME pruning must happen
    assert bmw < exhaustive or bmm < exhaustive


def test_batched_kernels_match_daat(index, parsed, spark):
    """The batched interval-sweep WAND/BMW kernels must return the
    IDENTICAL top-k (docs and scores, incl. docID tie-breaks) as the
    literal per-posting DAAT cursor implementations on the gate
    workload — the agreement test behind the batched rewrite."""
    import numpy as np

    from pisa_spark.codecs import CODECS
    from pisa_spark.query.executor import (
        _build_batch_protos, _factored_rows, _stats, _walk_batch_queries,
    )
    from pisa_spark.query.kernels import (
        block_max_wand_kernel,
        block_max_wand_kernel_daat,
        wand_kernel,
        wand_kernel_daat,
    )

    decode = CODECS[index.config.index.codec][1]
    from pisa_spark.query.kernels import PRUNE_EPS, ranked_or_kernel

    n_q = [0]

    def compare(terms, k, stats, init_threshold=0.0):
        # thresholds must be SOUND lower bounds on the k-th final
        # score (the executor contract) — with an unsound bound the
        # tail below the true k-th may legitimately differ between
        # pruning strategies
        _, ref_scores = ranked_or_kernel(terms, 10, stats)
        inits = [0.0]
        if len(ref_scores) >= 10:
            inits.append(round(ref_scores[-1] * 1e6) - PRUNE_EPS)
        for batched, daat in (
            (block_max_wand_kernel, block_max_wand_kernel_daat),
            (wand_kernel, wand_kernel_daat),
        ):
            for init in inits:
                got = batched(terms, 10, stats, init_threshold=init)
                want = daat(terms, 10, stats, init_threshold=init)
                assert np.array_equal(got[0], want[0])
                assert np.allclose(got[1], want[1])
        n_q[0] += 1
        return np.empty(0, np.int64), np.empty(0)

    pdf = _factored_rows(index, parsed).toPandas()
    protos, base_bm = _build_batch_protos(
        pdf.drop_duplicates(["term_id", "block_id"]), decode
    )
    queries = pdf[["query_id", "k", "term_id", "weight"]].drop_duplicates()
    for _ in _walk_batch_queries(
        queries, protos, base_bm, compare, _stats(index)
    ):
        pass
    assert n_q[0] >= 10


def test_adaptive_choice_is_metadata_only():
    """choose_algorithm reads only pre-decode metadata (df): small
    candidate sets route to exhaustive TAAT, large ones to the pruned
    kernel; k widens the TAAT region (top-k of a barely-larger pool
    cannot be pruned profitably)."""
    from types import SimpleNamespace

    from pisa_spark.query.kernels import (
        ADAPTIVE_TAAT_MAX_POSTINGS, choose_algorithm,
    )

    small = [SimpleNamespace(df=100.0), SimpleNamespace(df=50.0)]
    assert choose_algorithm(small, k=10) == "ranked_or"
    big = [SimpleNamespace(df=float(ADAPTIVE_TAAT_MAX_POSTINGS))] * 2
    assert choose_algorithm(big, k=10) == "block_max_maxscore"
    # huge k pushes even a big query back to exhaustive
    assert choose_algorithm(big, k=2 * ADAPTIVE_TAAT_MAX_POSTINGS) == "ranked_or"


def test_batch_executor_matches_oracle(index, parsed, oracle_topk):
    """Batch-major execution (term payloads decoded once and shared
    by a batch's queries) must be rank-identical to the exhaustive
    oracle across batch counts (1 = everything shares one decode;
    7 = uneven hash groups)."""
    from pisa_spark.query.executor import topk_search

    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    for algo in ("block_max_maxscore", "adaptive", "ranked_or"):
        for b in (1, 7):
            got = _fetch(topk_search(
                index, parsed, algorithm=algo, k=10, batches=b
            ))
            pd.testing.assert_frame_equal(
                got[["query_id", "rank", "doc_id"]],
                exp[["query_id", "rank", "doc_id"]],
            )
            np.testing.assert_allclose(
                got["score"], exp["score"], rtol=0, atol=1e-6
            )


def test_batch_executor_with_thresholds(spark, index, parsed, oracle_topk):
    from pisa_spark.query.executor import topk_search
    from pisa_spark.query.thresholds import (
        estimate_thresholds, kth_score_cache,
    )

    cache = kth_score_cache(index, k=10)
    est = estimate_thresholds(parsed, cache)
    got = _fetch(topk_search(
        index, parsed, algorithm="block_max_maxscore", k=10,
        thresholds=est, batches=5,
    ))
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]],
        exp[["query_id", "rank", "doc_id"]],
    )


def test_batch_executor_k_fallback_matches_oracle(index, parsed, oracle_topk):
    """A parsed frame WITHOUT a per-query k column must fall back to
    the k argument (the executor materializes the column before the
    cogroup ships it)."""
    from pisa_spark.query.executor import topk_search

    no_k = parsed.drop("k")
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    got = _fetch(topk_search(
        index, no_k, algorithm="block_max_maxscore", k=10, batches=3
    ))
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]],
        exp[["query_id", "rank", "doc_id"]],
    )


@pytest.mark.parametrize("batches", [1, 3, 16])
def test_range_batch_matches_oracle(index, parsed, oracle_topk, batches):
    """Range execution over this four-bucket index: payloads ship once
    per (batch, bucket) and results stay rank-identical to the
    exhaustive oracle at every batch count (1 = full sharing, 16 >
    query count = about one query per batch)."""
    got = _fetch(
        topk_search(
            index, parsed, algorithm="maxscore", k=10, batches=batches
        )
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )
    np.testing.assert_allclose(got["score"], exp["score"], rtol=0, atol=1e-6)


def test_range_batch_guards_bucket_outside_replicated_range(index, parsed):
    """topk_search replicates queries to ceil(num_docs /
    salt_bucket_docs) buckets, relying on dense doc ids; a segment
    bucket beyond that range must fail the job loudly instead of
    silently dropping its docs from the top-k. (At one replicated
    bucket nothing replicates: a group is the whole batch, so no
    bucket can fall outside.)"""
    from dataclasses import replace

    sparse = replace(index, num_docs=200)  # two replicated buckets of four
    with pytest.raises(Exception, match="outside the replicated query range"):
        topk_search(
            sparse, parsed, algorithm="maxscore", k=10, batches=1
        ).collect()


def test_range_batch_live_thresholds(index, parsed, oracle_topk):
    """topk_search with bootstrap thresholds at a pinned batch count:
    the Catalyst live-range pre-filter path stays rank-identical, and
    conjunctive bootstrapping is rejected."""
    from pisa_spark.query.thresholds import (
        estimate_thresholds_with_pairs, kth_score_cache,
    )

    cache = kth_score_cache(index, k=10)
    est = estimate_thresholds_with_pairs(index, parsed, cache, k=10)
    got = _fetch(
        topk_search(
            index, parsed, algorithm="block_max_wand", k=10,
            thresholds=est, batches=3,
        )
    )
    exp = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]], exp[["query_id", "rank", "doc_id"]]
    )

    with pytest.raises(ValueError, match="unsound"):
        topk_search(
            index, parsed, algorithm="ranked_and", k=10, thresholds=est
        )


def test_range_batch_heterogeneous_k(index, parsed, oracle_topk):
    """Per-query k at a pinned batch count: the cross-bucket merge caps
    each query at ITS OWN k (the per-bucket partials already honor
    it), and a parsed frame without a k column falls back to the k
    argument — both the oracle's top-10 cut at that k."""
    mixed = parsed.withColumn(
        "k",
        F.when(F.pmod(F.xxhash64("query_id"), F.lit(2)) == 0, F.lit(4))
        .otherwise(F.lit(9)),
    )
    qk = mixed.select("query_id", "k").distinct().toPandas()
    oracle = oracle_topk.astype({"rank": "int64", "doc_id": "int64"})
    exp = oracle.merge(qk, on="query_id")
    exp = exp[exp["rank"] <= exp["k"]].reset_index(drop=True)
    got = _fetch(
        topk_search(index, mixed, algorithm="maxscore", k=10, batches=2)
    )
    assert set(qk["k"]) == {4, 9}
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]],
        exp[["query_id", "rank", "doc_id"]],
    )

    exp = oracle[oracle["rank"] <= 7].reset_index(drop=True)
    got = _fetch(
        topk_search(index, parsed.drop("k"), algorithm="maxscore", k=7,
                    batches=2)
    )
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]],
        exp[["query_id", "rank", "doc_id"]],
    )


def _row_number_ids(df, key="key"):
    """The single-partition reference: row_number() over the key - 1."""
    from pyspark.sql import Window

    rid = F.row_number().over(Window.orderBy(key)) - 1
    return {r[key]: r["rid"] for r in df.select(key, rid.alias("rid")).collect()}


@pytest.mark.parametrize("n_keys,parts", [(3, 12), (500, 1)])
def test_assign_global_ids_matches_row_number(spark, n_keys, parts):
    """In-place numbering equals the row_number reference when most
    range partitions are empty (3 keys over 12) and when everything
    is one partition; count_out rides the same collect."""
    from pisa_spark.build.ids import assign_global_ids

    keys = [f"k{(i * 7919) % n_keys:04d}" for i in range(n_keys)]
    df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(4)
    out: dict = {}
    got = assign_global_ids(df, "key", "rid", num_partitions=parts,
                            count_out=out)
    assert {r["key"]: r["rid"] for r in got.collect()} == _row_number_ids(df)
    assert out == {"n_rows": n_keys}


def test_assign_global_ids_forbid_null_raises(spark):
    from pisa_spark.build.ids import assign_global_ids

    df = spark.createDataFrame([("a",), (None,), ("b",)], "key string")
    with pytest.raises(ValueError, match="1 NULL 'key'"):
        assign_global_ids(df, "key", "rid", forbid_null=True)


def test_assign_global_ids_rejects_repartitioned_checkpoint(spark, monkeypatch):
    """The in-place numbering reads each row's position from the task
    it runs in: if anything re-partitions the pinned checkpoint before
    the numbering projection, the partition-id guard must fail the job
    instead of handing out repeated ids."""
    import pisa_spark.build.ids as ids

    pinned = ids.pinned_ranges
    monkeypatch.setattr(
        ids, "pinned_ranges", lambda *a, **k: pinned(*a, **k).repartition(3)
    )
    df = spark.createDataFrame([(f"k{i:02d}",) for i in range(50)], "key string")
    with pytest.raises(Exception, match="checkpoint partitioning changed"):
        ids.assign_global_ids(df, "key", "rid", num_partitions=4).collect()


def test_shuffled_id_join_matches_broadcast(spark):
    """Above the id broadcast gate (id_broadcast_rows=0 here, and no
    runtime broadcast either) the (url, doc_id) side joins through a
    shuffle; the doc ids must equal the broadcast regime's."""
    from pisa_spark.build.forward import tokenize_pages
    from pisa_spark.config import AnalyzerConfig

    pages = synth_pages(spark, 300)
    analyzer = AnalyzerConfig(tokenizer="whitespace")
    want = tokenize_pages(pages, analyzer).select("url", "doc_id")
    want = {r["url"]: r["doc_id"] for r in want.collect()}
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        docs = tokenize_pages(pages, analyzer, id_broadcast_rows=0)
        got = {r["url"]: r["doc_id"] for r in docs.select("url", "doc_id").collect()}
        plan = docs._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "Broadcast" not in plan, plan
    assert got == want and sorted(got.values()) == list(range(300))
