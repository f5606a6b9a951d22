"""The batch-major ranked executor (topk_search).

Two layers:

- the columnar proto build (_build_batch_protos) in-process: every
  proto block equals the postings it was encoded from, decodes are
  counted once per build, and each query's kernel reads (what
  profiled requests report) are counted per query, the same in a
  batch or alone;
- a small pinned configuration matrix (codec x quantization x
  compressed block maxes, over three docID buckets, plus one config
  at one bucket) run through the Spark executor, rank-identical to an
  exhaustive SQL oracle, including an all-OOV batch (empty segment
  side) and k above the match count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F
from pyspark.sql import Window

from pisa_spark.codecs import CODECS
from pisa_spark.config import EngineConfig, IndexConfig
from pisa_spark.query import executor as ex
from pisa_spark.query import kernels as K


def _segment_table(codec: str, seed: int = 5):
    """(table, stats, raw): a shuffled, two-chunk segment table (the
    cogroup's left side) for six terms of very different lengths,
    blocks of 1-40 postings, with sound block/term maxes, and ``raw``
    mapping each term to its blocks' encoded (docs, tfs, lens)."""
    enc, _ = CODECS[codec]
    rnd = np.random.default_rng(seed)
    n_docs = 3000
    lens_all = rnd.integers(1, 60, size=n_docs)
    stats = K.Stats(num_docs=float(n_docs), avg_len=float(lens_all.mean()))
    cols = {c: [] for c in ("term_id", "block_id", "count", "max_doc_id",
                            "max_score", "doc_bytes", "tf_bytes",
                            "len_bytes", "df", "term_max_score")}
    raw = {}
    for tid, n in enumerate((3, 40, 200, 900, 1500, 2500)):
        docs = np.sort(rnd.choice(n_docs, size=n, replace=False))
        tfs = rnd.integers(1, 9, size=n)
        lens = lens_all[docs]
        probe = K.TermPostings(
            term_id=tid, df=float(n), weight=1.0, max_score=0.0,
            block_max_doc=None, block_max_score=None, block_count=None,
            decoded=(docs, tfs, lens), block_offsets=np.array([0, n]),
        )
        raw_scores = K._score(probe, tfs, lens, stats) / 1e6
        cuts = np.cumsum(rnd.integers(1, 41, size=n))
        cuts = np.concatenate(([0], cuts[cuts < n], [n]))
        raw[tid] = []
        for b, (s, e) in enumerate(zip(cuts[:-1], cuts[1:])):
            d = docs[s:e]
            raw[tid].append((d, tfs[s:e], lens[s:e]))
            cols["term_id"].append(tid)
            cols["block_id"].append(b)
            cols["count"].append(int(e - s))
            cols["max_doc_id"].append(int(d[-1]))
            cols["max_score"].append(float(raw_scores[s:e].max()) + 1e-6)
            cols["doc_bytes"].append(enc(np.concatenate(([d[0]], np.diff(d) - 1))))
            cols["tf_bytes"].append(enc(tfs[s:e] - 1))
            cols["len_bytes"].append(enc(lens[s:e] - 1))
            cols["df"].append(n)
            cols["term_max_score"].append(float(raw_scores.max()) + 1e-6)
    table = pa.table(cols)
    table = table.take(rnd.permutation(table.num_rows))
    half = table.num_rows // 2
    return pa.Table.from_batches(
        table.slice(0, half).to_batches() + table.slice(half).to_batches()
    ), stats, raw


def _queries() -> pa.Table:
    rows = [("q0", 5, 1.0), ("q0", 4, 2.0), ("q1", 0, 1.0), ("q1", 3, 1.0),
            ("q1", 5, 1.0), ("q2", 2, 1.0), ("q3", 99, 1.0), ("q4", 4, 1.0)]
    return pa.table({
        "query_id": [r[0] for r in rows],
        "term_id": pa.array([r[1] for r in rows], pa.int64()),
        "weight": [r[2] for r in rows],
        "k": pa.array([10, 10, 7, 7, 7, 5000, 10, 3], pa.int32()),
    })


def _profiled_walk(left, right, decode, algo, stats):
    """[(query_id, docs, scores, blocks, postings)] of one batch walk
    over fresh protos, with each query's kernels.Profiler read delta
    (the topk_search(profile=True) wrapper)."""
    protos, base_bm = ex._build_batch_protos(left, decode)
    if algo not in ex.DISJUNCTIVE_ALGORITHMS:
        right = ex._complete_queries(right, protos)
    kernel = ex.RANKED_KERNELS[algo]
    deltas = []

    def profiled(terms, k, stats, init_threshold=0.0):
        b0, p0 = K.Profiler.blocks_read, K.Profiler.postings_read
        out = kernel(terms, k, stats, init_threshold=init_threshold)
        deltas.append((K.Profiler.blocks_read - b0,
                       K.Profiler.postings_read - p0))
        return out

    walk = list(ex._walk_batch_queries(right, protos, base_bm, profiled, stats))
    return [(*w, *d) for w, d in zip(walk, deltas)]


@pytest.mark.parametrize("codec", ["varint", "bitpack"])
def test_build_batch_protos_match_raw_postings(codec):
    """Every proto block (its block_offsets slice) and every term
    (decode_all) equals the postings it was encoded from (varint: one
    decode call per payload column; bitpack: per block), and the build
    counts its decode once. Every disjunctive kernel matches ranked_or and the
    two conjunctive kernels match each other. Each query's kernel
    reads are the same whether it runs in its batch or alone (no
    read is shared between queries), and ranked_or reads every block
    of its terms."""
    left, stats, raw = _segment_table(codec)
    decode = CODECS[codec][1]
    b0, p0 = K.Profiler.blocks, K.Profiler.postings
    protos, _ = ex._build_batch_protos(left, decode)
    assert (K.Profiler.blocks - b0, K.Profiler.postings - p0) == (
        left.num_rows, sum(left["count"].to_pylist())
    )
    assert sorted(protos) == sorted(raw) == list(range(6))
    for tid, tp in protos.items():
        assert len(tp.block_count) == len(raw[tid])
        for bi, want in enumerate(raw[tid]):
            lo, hi = tp.block_offsets[bi], tp.block_offsets[bi + 1]
            for got, exp in zip(tp.read_blocks(np.array([bi])), want):
                np.testing.assert_array_equal(got[lo:hi], exp)
        for got, exp in zip(tp.decode_all(), zip(*raw[tid])):
            np.testing.assert_array_equal(got, np.concatenate(exp))
    queries = _queries()
    walks = {algo: _profiled_walk(left, queries, decode, algo, stats)
             for algo in ex.RANKED_KERNELS}
    for algo, walk in walks.items():
        ref = walks["ranked_or" if algo in ex.DISJUNCTIVE_ALGORITHMS
                    else "ranked_and"]
        assert {"q0", "q2", "q4"} <= {r[0] for r in walk}, algo
        assert [r[0] for r in walk] == [r[0] for r in ref], algo
        for (q, d, s, b, p), (_, rd, rs, _, _) in zip(walk, ref):
            np.testing.assert_array_equal(d, rd, err_msg=algo)
            np.testing.assert_array_equal(s, rs, err_msg=algo)
            one = queries.filter(pc.equal(queries["query_id"], q))
            alone = _profiled_walk(left, one, decode, algo, stats)
            assert alone[0][3:] == (b, p), (algo, q)
            if algo == "ranked_or":  # exhaustive: every block of its terms
                want = [protos[t].block_count
                        for t in one["term_id"].to_pylist() if t in protos]
                assert b == sum(len(c) for c in want)
                assert p == sum(int(c.sum()) for c in want)


def test_build_batch_protos_accepts_pandas_and_counts_eager_decodes():
    """In-process callers pass pandas frames; eager decodes still feed
    kernels.Profiler (every shipped block counted once)."""
    left, stats, _ = _segment_table("varint")
    decode = CODECS["varint"][1]
    K.Profiler.reset()
    protos, base_bm = ex._build_batch_protos(left.to_pandas(), decode)
    assert K.Profiler.blocks == left.num_rows
    assert K.Profiler.postings == sum(left["count"].to_pylist())
    got = list(ex._walk_batch_queries(
        _queries().to_pandas(), protos, base_bm,
        ex.RANKED_KERNELS["ranked_or"], stats,
    ))
    assert [q for q, _, _ in got] == ["q0", "q1", "q2", "q3", "q4"]
    assert len(got[3][1]) == 0  # q3: its only term is not in the batch


# ---------------------------------------------------------- config matrix

MATRIX = [
    # (codec, quantize_bits, compress_blockmax)
    ("varint", 8, False),
    ("bitpack", None, True),
    ("ef", None, False),
    ("pef", 8, True),
]
N_DOCS = 300
BIG_K_QUERY = "q0001"  # four terms incl. two head terms
VOCAB = 400


@pytest.fixture(scope="module")
def pages(spark):
    from pisa_spark.corpus import synth_pages

    return synth_pages(spark, N_DOCS, vocab_size=VOCAB, max_len=80).localCheckpoint()


@pytest.fixture(scope="module")
def oracles() -> dict:
    """quantize_bits -> oracle frame: codecs and block-max compression
    do not change the exhaustive answer, so it is computed once per
    quantization setting."""
    return {}


def _oracle(index, parsed) -> pd.DataFrame:
    """Exhaustive ranked disjunction in SQL, ranked (score desc, doc
    asc), capped at each query's k: BM25 micro scores over the raw
    postings, or weight x stored impact over the decoded segments when
    quantized (impacts exist only there)."""
    from pisa_spark.build import decode_segments
    from pisa_spark.functions.scoring import bm25_sql_expr, dlit, micro_sql

    if index.config.index.quantize_bits:
        post = decode_segments(index.segments, index.config.index)
        score = "tf"
    else:
        post = (
            index.postings.join(index.doc_sizes, "doc_id")
            .join(index.lexicon.select("term_id", "df"), "term_id")
        )
        score = bm25_sql_expr(
            tf="tf", df="df", doc_len="doc_len",
            num_docs=dlit(index.num_docs), avg_len=dlit(index.avg_len),
            k1=index.config.bm25.k1, b=index.config.bm25.b,
        )
    summed = (
        post.join(parsed.select("query_id", "term_id", "weight"), "term_id")
        .withColumn("m", F.expr(micro_sql(score, weight="weight")))
        .groupBy("query_id", "doc_id").agg(F.sum("m").alias("ms"))
        .filter(F.col("ms") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ms").desc(), F.col("doc_id"))
    qk = parsed.select("query_id", "k").distinct()
    return _sorted(
        summed.withColumn("rank", F.row_number().over(w))
        .join(qk, "query_id").filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id")
    )


def _sorted(df) -> pd.DataFrame:
    return (
        df.select("query_id", F.col("rank").cast("long"), "doc_id").toPandas()
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


@pytest.mark.parametrize("codec,qbits,cbm", MATRIX)
def test_batch_executors_config_matrix(spark, pages, oracles, codec, qbits, cbm):
    """The executor rank-identical to the exhaustive oracle per
    configuration, with one query's k above its match count, and an
    all-OOV workload (every batch's segment side empty) answering
    nothing. The first config also runs at one bucket (whole-batch
    groups, no merge) against the same oracle."""
    from pisa_spark.corpus import synth_queries
    from pisa_spark.index import build_index
    from pisa_spark.query.parser import parse_queries

    first = (codec, qbits, cbm) == MATRIX[0]
    # 128-doc salt buckets: three over N_DOCS; 1 << 20: one
    for salt in (128, 1 << 20) if first else (128,):
        cfg = EngineConfig(index=IndexConfig(
            salt_bucket_docs=salt, codec=codec, quantize_bits=qbits,
            compress_blockmax=cbm,
        ))
        index = build_index(spark, pages, cfg)
        qdf = spark.createDataFrame(synth_queries(12, vocab_size=VOCAB, seed=3))
        parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True).withColumn(
            "k", F.when(F.col("query_id") == F.lit(BIG_K_QUERY), F.lit(N_DOCS + 50))
            .otherwise(F.col("k"))
        ).localCheckpoint()
        if qbits not in oracles:
            oracles[qbits] = _oracle(index, parsed)
        exp = oracles[qbits]
        assert exp["query_id"].nunique() >= 8
        big = exp[exp["query_id"] == BIG_K_QUERY]
        assert 0 < len(big) < N_DOCS + 50  # k above the match count
        got = ex.topk_search(
            index, parsed, algorithm="block_max_wand", k=10, batches=3
        )
        pd.testing.assert_frame_equal(_sorted(got), exp)

        if first:
            oov = spark.createDataFrame(
                [("x0", -1, 1.0, 10), ("x1", -2, 1.0, 10), ("x1", -3, 2.0, 10)],
                "query_id string, term_id long, weight double, k int",
            )
            got = ex.topk_search(index, oov, algorithm="adaptive", k=10, batches=1)
            assert got.count() == 0
