"""Segment encoder tests (build/segments.py).

- Byte-identity pins: a small seeded Zipf corpus, salted into several
  buckets, encoded under four configs; the sorted segment rows hash
  to values recorded from the per-group encoder this columnar one
  replaced, so any change to the wire bytes fails here (the on-disk
  layout is versioned by codecs.WIRE_VERSION and must not drift
  silently).
- Re-batching invariance: the per-batch encoder and the carry
  iterator, driven in-process on one sorted table cut into batches of
  several sizes, produce identical segments — including a group that
  spans three or more batches, which Spark-built test corpora never
  reach (their partitions fit one 10k-row Arrow batch).
"""

from __future__ import annotations

import hashlib
from dataclasses import replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from pisa_spark.config import AnalyzerConfig, BM25Params, EngineConfig, IndexConfig

_BASE = IndexConfig(block_size=8, salt_bucket_docs=64)

# config name -> (config, sha256 of its (term_id, block_id)-sorted
# segment rows, recorded on the per-group encoder before the columnar
# rewrite).
PINNED = {
    "varint": (
        _BASE,
        "d5a8623d2665f3b6ed0c3626336f5455ff852d8751e863bb4642dffae0e78d6a"),
    "bitpack": (
        replace(_BASE, codec="bitpack"),
        "ad5d97354eaabf400a20894391d97f45957421aed139c24cbc7e2519a4398332"),
    "pef_q8": (
        replace(_BASE, codec="pef", quantize_bits=8),
        "2ddee947e0d8e58ea8bbdace45f30fa3c0eaf5b537e8591a00344c1a22f87383"),
    "varint_variable": (
        replace(_BASE, block_partition="variable", block_lambda=0.25),
        "a1467246073b3786745238653d87d0fcfb71df2c7d1b123de285728c53fbe920"),
}


def segments_digest(pdf) -> str:
    """sha256 over every column of the (term_id, block_id)-sorted rows,
    max_score by its float32 bits (``max_score_q`` as int32 when the
    block maxes are compressed)."""
    pdf = pdf.sort_values(["term_id", "block_id"]).reset_index(drop=True)
    h = hashlib.sha256()
    for c in ("term_id", "block_id", "max_doc_id"):
        h.update(pdf[c].to_numpy(np.int64).tobytes())
    h.update(pdf["count"].to_numpy(np.int32).tobytes())
    if "max_score_q" in pdf:
        h.update(pdf["max_score_q"].to_numpy(np.int32).tobytes())
    else:
        h.update(pdf["max_score"].to_numpy(np.float32).tobytes())
    for c in ("doc_bytes", "tf_bytes", "len_bytes"):
        for v in pdf[c]:
            b = bytes(v)
            h.update(len(b).to_bytes(4, "little"))
            h.update(b)
    return h.hexdigest()


@pytest.fixture(scope="module")
def scored_corpus(spark):
    """(scored postings, num_docs, avg_len, term_meta) of 400 seeded
    Zipf docs — 7 salt buckets at 64 docs each."""
    from pisa_spark.build.segments import build_term_meta, scored_postings
    from pisa_spark.corpus import synth_pages
    from pisa_spark.index import build_index

    pages = synth_pages(spark, 400, seed=11, vocab_size=300, max_len=80)
    idx = build_index(spark, pages, EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"), index=_BASE))
    scored = scored_postings(idx.postings, idx.doc_sizes, idx.lexicon,
                             idx.num_docs, idx.avg_len).localCheckpoint(eager=True)
    term_meta = build_term_meta(scored, idx.num_docs, idx.avg_len)
    return scored, idx.num_docs, idx.avg_len, term_meta


@pytest.mark.parametrize("name", sorted(PINNED))
def test_segment_bytes_pinned(spark, scored_corpus, name):
    from pisa_spark.build.segments import blocks_per_bucket, build_segments
    from pisa_spark.index import quantized_rescale

    scored, num_docs, avg_len, term_meta = scored_corpus
    cfg, digest = PINNED[name]
    imax = None
    if cfg.quantize_bits:
        imax, _ = quantized_rescale(term_meta, cfg.quantize_bits)
    seg = build_segments(scored, num_docs, avg_len, cfg,
                         index_max_score=imax).toPandas()
    bucket = seg["block_id"] // blocks_per_bucket(cfg)
    assert bucket.nunique() >= 5
    assert seg.groupby(["term_id", bucket]).size().max() >= 3
    # the query side's one memory bound: a block's docs lie in its
    # block_id's salt bucket, so a (term, bucket) group holds at most
    # salt_bucket_docs postings
    assert (seg["max_doc_id"] // cfg.salt_bucket_docs == bucket).all()
    assert seg.groupby(["term_id", bucket])["count"].sum().max() \
        <= cfg.salt_bucket_docs
    assert segments_digest(seg) == digest


def _sorted_postings(seed: int = 5) -> pa.Table:
    """(term_id, doc_id, tf, doc_len, df, bucket) rows sorted by
    (term_id, bucket, doc_id) as the encoder receives them: term 0 is
    one 400-posting group (it spans several batches at every batch
    size below the whole table), the rest are short lists spread over
    three 1000-doc buckets."""
    rng = np.random.default_rng(seed)
    doc_len = rng.integers(1, 300, size=3000)
    terms, docs = [np.zeros(400, np.int64)], [np.sort(rng.choice(1000, 400, replace=False))]
    for t in range(1, 60):
        n = int(rng.integers(1, 90))
        terms.append(np.full(n, t, np.int64))
        docs.append(np.sort(rng.choice(3000, n, replace=False)))
    term, doc = np.concatenate(terms), np.concatenate(docs)
    df = np.bincount(term)[term]
    return pa.table({
        "term_id": term, "doc_id": doc,
        "tf": rng.integers(1, 40, size=len(term)).astype(np.int32),
        "doc_len": doc_len[doc].astype(np.int32),
        "df": df.astype(np.int64), "bucket": doc // 1000,
    })


_REBATCH = IndexConfig(block_size=8, salt_bucket_docs=1000)


@pytest.mark.parametrize("cfg", [
    _REBATCH,
    replace(_REBATCH, codec="bitpack"),
    replace(_REBATCH, quantize_bits=8),
    replace(_REBATCH, block_partition="variable", block_lambda=0.25),
], ids=["varint", "bitpack", "varint_q8", "variable"])
def test_encode_rebatching_invariance(cfg):
    """complete_groups + encode_groups give the same segments however
    the sorted rows are cut into Arrow batches — the carry must
    re-join a group across batch boundaries and emit it exactly once
    — and the segments decode back to the input postings."""
    from pisa_spark.build.segments import complete_groups, encode_groups
    from pisa_spark.codecs import CODECS
    from pisa_spark.codecs.columns import (
        binary_column, decode_column, docs_from_payload,
    )

    table = _sorted_postings()
    args = (cfg, BM25Params(), 3000, 150.0, 40.0)
    whole = pa.Table.from_batches([encode_groups(table, *args)])
    for size in (1, 7, 128, table.num_rows):
        seen: set = set()
        out = []
        for groups in complete_groups(table.to_batches(max_chunksize=size)):
            keys = set(zip(groups.column("term_id").to_pylist(),
                           groups.column("bucket").to_pylist()))
            assert not keys & seen  # every group arrives whole, once
            if size == 1:  # the carry holds ONE group, never two
                assert len(keys) == 1
            seen |= keys
            out.append(encode_groups(groups, *args))
        assert pa.Table.from_batches(out).equals(whole), size
    big = whole.filter(pc.equal(whole.column("term_id"), 0))
    assert sum(big.column("count").to_pylist()) == 400

    decode = CODECS[cfg.codec][1]
    counts = whole.column("count").to_numpy().astype(np.int64)
    doc, tf, dl = (decode_column(binary_column(whole, c), None, counts, decode)
                   for c in ("doc_bytes", "tf_bytes", "len_bytes"))
    assert np.array_equal(docs_from_payload(doc, counts),
                          table.column("doc_id").to_numpy())
    assert np.array_equal(dl + 1, table.column("doc_len").to_numpy())
    if not cfg.quantize_bits:
        assert np.array_equal(tf + 1, table.column("tf").to_numpy())
