"""Property-based tests (hypothesis) — the reference uses rapidcheck
for bit vectors, topk_queue, payload vectors and algorithms
(SURVEY §5.4); these mirror that strategy for our analogues."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from daat_reference import (
    _TopK,
    block_max_wand_kernel_daat,
    read_block,
    wand_kernel_daat,
)
from pisa_spark.codecs import CODECS
from pisa_spark.query.kernels import PRUNE_EPS, _finalize

u40 = st.integers(min_value=0, max_value=(1 << 40) - 1)


@settings(max_examples=150, deadline=None)
@given(st.lists(u40, min_size=1, max_size=300), st.sampled_from(["varint", "bitpack", "ef"]))
def test_codec_roundtrip_property(vals, codec):
    enc, dec = CODECS[codec]
    arr = np.array(vals, dtype=np.uint64)
    out = dec(enc(arr), len(arr))
    assert np.array_equal(out, arr)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 10_000_000), st.integers(0, 10_000)),
        min_size=0, max_size=200,
    ),
    st.integers(1, 20),
)
def test_topk_heap_matches_sort(entries, k):
    """_TopK retains exactly the (micro desc, doc asc) top-k of the
    positive-score inserts (topk_queue.hpp finalize semantics)."""
    topk = _TopK(k)
    for micro, doc in entries:
        topk.insert(micro, doc)
    docs, scores = topk.finalize(k)
    # oracle: dedupe by insertion (doc can repeat with diff scores —
    # kernels never do that, but finalize keeps all inserted rows)
    arr_d = np.array([d for _, d in entries], dtype=np.int64)
    arr_m = np.array([m for m, _ in entries], dtype=np.int64)
    exp_d, exp_s = _finalize(arr_d, arr_m, k)
    assert np.array_equal(docs, exp_d)
    assert np.array_equal(scores, exp_s)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.tuples(st.integers(1, 5_000_000), st.integers(0, 10_000)),
             min_size=0, max_size=200),
    st.integers(1, 10),
    st.integers(0, 4_000_000),
)
def test_topk_threshold_never_prunes_topk(entries, k, init):
    """With a SOUND init threshold (<= true k-th micro), would_enter
    must stay True for every entry that belongs to the final top-k."""
    micros = sorted((m for m, _ in entries), reverse=True)
    true_kth = micros[k - 1] if len(micros) >= k else 0
    init = min(init, max(0, true_kth - PRUNE_EPS))
    topk = _TopK(k, float(init))
    for micro, doc in entries:
        if micro >= true_kth and len(micros) >= k:
            assert topk.would_enter(micro + PRUNE_EPS + 1)
        topk.insert(micro, doc)
    docs, scores = topk.finalize(k)
    exp_d, exp_s = _finalize(
        np.array([d for _, d in entries], dtype=np.int64),
        np.array([m for m, _ in entries], dtype=np.int64), k,
    )
    assert np.array_equal(docs, exp_d)


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=200))
def test_native_regex_tokens_never_crash(text):
    """EnglishTokenizer pandas kernel is total on arbitrary unicode."""
    import pandas as pd

    from pisa_spark.analysis import analyze_series

    out = analyze_series(pd.Series([text]), tokenizer="english").iloc[0]
    for t in out:
        assert t and "." not in t and "'" not in t
        assert t == t.lower()


u12 = st.integers(min_value=0, max_value=(1 << 12) - 1)


@settings(max_examples=100, deadline=None)
@given(st.lists(u12, min_size=1, max_size=300),
       st.sampled_from(["simple16", "rankedbv", "g8iu", "hybrid", "qmx"]))
def test_capped_codec_roundtrip_property(vals, codec):
    """The width/universe-capped codecs (and the hybrid dispatcher)
    under their in-range domain: 12-bit values keep simple16 under
    its 28-bit lanes, g8iu under u32, and a 300-value sum far under
    rankedbv's universe guard."""
    enc, dec = CODECS[codec]
    arr = np.array(vals, dtype=np.uint64)
    out = dec(enc(arr), len(arr))
    assert np.array_equal(out, arr)


# ------------------------------------------------- kernel agreement
# The reference pins every pruning algorithm against ranked_or on
# randomized inputs (test/test_ranked_queries.cpp); this mirrors that
# directly at the kernel layer: random tiny corpora, random block
# boundaries (1-5 postings/block, so block-max pruning and interval
# alignment are stressed far harder than the fixed 128 default), a
# random sound bootstrap threshold — every kernel must match the
# exhaustive kernel's (score desc, doc asc) top-k exactly.

def _term_postings(doc_ids, tfs, lens, weight, sizes, stats):
    """A TermPostings in the executor's one layout: the decoded
    (docs, tfs, lens) arrays cut into blocks of ``sizes`` postings,
    with exact block and term maxes (the codec round trip is
    test_codec_roundtrip_property's)."""
    from pisa_spark.query import kernels as K

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs, lens = np.asarray(tfs), np.asarray(lens)
    offsets = np.concatenate(([0], np.cumsum(sizes)))
    tp = K.TermPostings(
        term_id=0, df=float(len(doc_ids)), weight=weight, max_score=0.0,
        block_max_doc=doc_ids[offsets[1:] - 1].astype(np.uint64),
        block_max_score=None, block_count=np.asarray(sizes, dtype=np.int64),
        decoded=(doc_ids, tfs, lens), block_offsets=offsets,
    )
    # exact per-posting micro scores (same path the kernels use)
    micros = K._score(tp, tfs, lens, stats)
    tp.block_max_score = np.maximum.reduceat(micros, offsets[:-1]).astype(
        np.float64
    )
    tp.max_score = float(micros.max())
    return tp


def _mk_term_postings(doc_ids, tfs, lens, weight, stats, rnd):
    """_term_postings over random 1-5 posting blocks."""
    sizes, i = [], 0
    while i < len(doc_ids):
        sizes.append(min(int(rnd.integers(1, 6)), len(doc_ids) - i))
        i += sizes[-1]
    return _term_postings(doc_ids, tfs, lens, weight, sizes, stats)


def _oracle_topk(terms, k, stats, conjunctive=False):
    """Plain-Python reference top-k, independent of the kernels'
    aggregation and selection: per-posting micros (the one scoring
    function, _score) summed in a dict, then ``sorted()`` by (micro
    desc, doc asc), positive scores only. ``conjunctive`` keeps only
    docs every term holds."""
    from pisa_spark.query import kernels as K

    acc, hits = {}, {}
    for tp in terms:
        docs, tfs, lens = tp.decoded
        for d, m in zip(docs.tolist(), K._score(tp, tfs, lens, stats).tolist()):
            acc[d] = acc.get(d, 0) + m
            hits[d] = hits.get(d, 0) + 1
    top = sorted((-m, d) for d, m in acc.items()
                 if m > 0 and (not conjunctive or hits[d] == len(terms)))[:k]
    return (np.array([d for _, d in top], dtype=np.int64),
            np.array([-m for m, _ in top], dtype=np.float64) / K.MICRO)


@settings(max_examples=250, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),  # corpus seed
    st.integers(min_value=1, max_value=4),          # terms
    st.integers(min_value=1, max_value=12),         # k
    st.floats(min_value=0.0, max_value=1.0),        # bootstrap frac
    st.booleans(),                                  # quantized index
    st.booleans(),                                  # sparse docID span
)
def test_all_kernels_match_exhaustive(seed, n_terms, k, boot_frac, quantized,
                                      sparse):
    """Every kernel equals _oracle_topk. ``sparse`` draws docIDs from a
    2^20-wide span (so _aggregate takes its sort path; dense draws take
    the accumulator), and quantized impacts are 1-3, so ties at the
    k-th score are common."""
    from pisa_spark.query import kernels as K

    rnd = np.random.default_rng(seed)
    n_docs = int(rnd.integers(5, 41))
    doc_space = (np.sort(rnd.choice(1 << 20, size=n_docs, replace=False))
                 if sparse else np.arange(n_docs))
    lens_by_doc = rnd.integers(1, 21, size=n_docs)
    stats = K.Stats(num_docs=float(n_docs),
                    avg_len=float(lens_by_doc.mean()),
                    quantized=quantized)
    terms = []
    for _ in range(n_terms):
        sz = int(rnd.integers(1, n_docs + 1))
        d = np.sort(rnd.choice(n_docs, size=sz, replace=False))
        tfs = rnd.integers(1, 4 if quantized else 9, size=sz).astype(np.int64)
        w = float(rnd.choice([1.0, 2.0]))
        terms.append(_mk_term_postings(
            doc_space[d].astype(np.int64), tfs, lens_by_doc[d], w, stats, rnd))

    exp_docs, exp_scores = _oracle_topk(terms, k, stats)
    # a sound bootstrap never changes the result: anything strictly
    # below (kth micro - PRUNE_EPS) keeps ties enterable
    kth = int(round(exp_scores[-1] * 1e6)) if len(exp_docs) >= k else 0
    boot = boot_frac * max(0, kth - K.PRUNE_EPS)

    from pisa_spark.query.executor import RANKED_KERNELS

    blocks = {}
    for name in ("ranked_or", "wand", "block_max_wand", "block_max_maxscore",
                 "maxscore", "adaptive"):
        K.Profiler.reset()
        got_d, got_s = RANKED_KERNELS[name](
            terms, k, stats, init_threshold=boot)
        blocks[name] = K.Profiler.blocks_read
        np.testing.assert_array_equal(got_d, exp_docs, err_msg=name)
        np.testing.assert_array_equal(got_s, exp_scores, err_msg=name)
    # Same θ seed and split, and a block max never exceeds its term
    # max: BMM reads no more blocks than MaxScore.
    assert blocks["block_max_maxscore"] <= blocks["maxscore"], blocks
    # A sweep reads each block at most once; ranked_or reads them all.
    assert blocks["wand"] <= blocks["ranked_or"], blocks
    assert blocks["block_max_wand"] <= blocks["ranked_or"], blocks
    for fn in (wand_kernel_daat, block_max_wand_kernel_daat):
        got_d, got_s = fn(terms, k, stats, init_threshold=boot)
        np.testing.assert_array_equal(got_d, exp_docs, err_msg=fn.__name__)
        np.testing.assert_array_equal(got_s, exp_scores, err_msg=fn.__name__)

    # conjunctive: brute-force AND of the decoded lists
    sets = [set(t.decoded[0].tolist()) for t in terms]
    both = np.asarray(sorted(set.intersection(*sets)), dtype=np.int64)
    np.testing.assert_array_equal(K.and_kernel(terms), both)
    and_docs, and_scores = _oracle_topk(terms, k, stats, conjunctive=True)
    for fn in (K.ranked_and_kernel, K.block_max_ranked_and_kernel):
        K.Profiler.reset()
        got_d, got_s = fn(terms, k, stats)
        blocks[fn.__name__] = K.Profiler.blocks_read
        np.testing.assert_array_equal(got_d, and_docs, err_msg=fn.__name__)
        np.testing.assert_array_equal(got_s, and_scores, err_msg=fn.__name__)
    # ranked_and reads every block of every list
    assert (blocks["block_max_ranked_and_kernel"]
            <= blocks["ranked_and_kernel"]), blocks


def _lookup_per_block(tp, docs, partial, stats):
    """Reference for kernels._lookup: the per-block loop form, one
    block_offsets slice (read_block, a counted read) and one _score
    call per block that holds a candidate's docID range."""
    from pisa_spark.query import kernels as K

    bi = np.searchsorted(tp.block_max_doc, docs, side="left")
    bi = bi[:np.searchsorted(bi, len(tp.block_max_doc), side="left")]
    starts = np.flatnonzero(np.diff(bi, prepend=-1))
    for lo, hi in zip(starts.tolist(), [*starts[1:].tolist(), len(bi)]):
        b_docs, b_tfs, b_lens = read_block(tp, int(bi[lo]))
        run = docs[lo:hi]
        pos = np.minimum(np.searchsorted(b_docs, run), len(b_docs) - 1)
        hit = b_docs[pos] == run
        if hit.any():
            partial[lo:hi][hit] += K._score(
                tp, b_tfs[pos[hit]], b_lens[pos[hit]], stats
            )


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),  # list seed
    st.integers(min_value=0, max_value=60),         # candidates
    st.booleans(),                                  # quantized index
)
def test_lookup_matches_per_block_loop(seed, n_cand, quantized):
    """The one-pass _lookup adds the same ``partial`` values and
    counts the same Profiler blocks_read/postings_read as the
    per-block loop, over random 1-5 posting blocks, with candidates in
    the list, absent from it, past its last block, or none at all."""
    from pisa_spark.query import kernels as K

    rnd = np.random.default_rng(seed)
    universe = int(rnd.integers(1, 200))
    stats = K.Stats(num_docs=float(universe), avg_len=10.0,
                    quantized=quantized)
    sz = int(rnd.integers(1, universe + 1))
    d = np.sort(rnd.choice(universe, size=sz, replace=False)).astype(np.int64)
    tp = _mk_term_postings(d, rnd.integers(1, 9, size=sz),
                           rnd.integers(1, 21, size=sz),
                           float(rnd.choice([1.0, 2.0])), stats, rnd)
    # candidates from a span past the list's last doc, so some fall
    # beyond the last block
    cand = np.unique(rnd.integers(0, universe + 20, size=n_cand)).astype(np.int64)
    base = rnd.integers(0, 10**6, size=len(cand)).astype(np.int64)

    got = {}
    for name, fn in (("one_pass", K._lookup), ("per_block", _lookup_per_block)):
        partial = base.copy()
        K.Profiler.reset()
        fn(tp, cand, partial, stats)
        got[name] = (partial.tolist(), K.Profiler.blocks_read,
                     K.Profiler.postings_read)
    assert got["one_pass"] == got["per_block"]


def test_block_max_maxscore_reads_fewer_blocks_than_maxscore():
    """A case where BMM's block-max survivor bound removes a lookup
    MaxScore makes (k=1, impacts as scores): A holds doc 0 (3) and
    doc 100 (10); non-essential B holds doc 0 (1) in its low-max block
    and doc 100 (8) in its term-max block. θ = 10 − eps from A alone.
    MaxScore keeps doc 0 alive (3 + B's term max 8 >= θ) and reads
    both of B's blocks; BMM bounds it by 3 + 1 and reads only B's
    second block. Both return ranked_or's top-1."""
    from pisa_spark.query import kernels as K

    stats = K.Stats(num_docs=200.0, avg_len=1.0, quantized=True)
    ones = np.ones(2, dtype=np.int64)
    terms = [
        _term_postings([0, 100], [3, 10], ones, 1.0, [2], stats),
        _term_postings([0, 100], [1, 8], ones, 1.0, [1, 1], stats),
    ]
    exp_docs, exp_scores = K.ranked_or_kernel(terms, 1, stats)
    assert exp_docs.tolist() == [100] and exp_scores.tolist() == [18.0]
    reads = {}
    for name, fn in (("maxscore", K.maxscore_kernel),
                     ("block_max_maxscore", K.block_max_maxscore_kernel)):
        K.Profiler.reset()
        got_d, got_s = fn(terms, 1, stats)
        reads[name] = K.Profiler.blocks_read
        np.testing.assert_array_equal(got_d, exp_docs, err_msg=name)
        np.testing.assert_array_equal(got_s, exp_scores, err_msg=name)
    # both read A's one block; MaxScore reads both of B's, BMM one
    assert reads == {"maxscore": 3, "block_max_maxscore": 2}, reads


@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=2**32 - 1),
            max_size=50,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=50, deadline=None)
def test_binary_collection_roundtrip_property(seqs):
    """write_binary_collection o _parse_sequences == identity for any
    sequence list (incl. empty sequences — a zero-count header is a
    legal binary_collection record)."""
    import tempfile

    from pisa_spark.build.bincoll import (
        _parse_sequences,
        write_binary_collection,
    )

    with tempfile.NamedTemporaryFile(suffix=".docs") as f:
        write_binary_collection(seqs, f.name)
        blob = open(f.name, "rb").read()
    back = [list(map(int, s)) for s in _parse_sequences(blob)]
    assert back == [list(map(int, s)) for s in seqs]


@settings(max_examples=80, deadline=None)
@given(
    st.lists(  # per term: (term, [(docid gap>=0 applied cumulatively, tf)])
        st.tuples(
            st.text(
                alphabet=st.characters(codec="utf-8",
                                       exclude_categories=("Cs",)),
                min_size=1, max_size=12,
            ),
            st.lists(
                st.tuples(st.integers(0, 1 << 20), st.integers(1, 1 << 18)),
                min_size=1, max_size=40,
            ),
        ),
        min_size=0, max_size=12,
    ),
    st.lists(
        st.tuples(st.text(min_size=0, max_size=16), st.integers(0, 1 << 20)),
        min_size=0, max_size=20,
    ),
)
def test_ciff_wire_roundtrip_property(term_lists, doc_recs):
    """CIFF wire walker round-trip (local, no Spark): arbitrary terms
    (any UTF-8), multi-byte varint docids/tfs, empty files — the
    reader must return exactly what the writer was given, including
    gap re-decoding."""
    import tempfile

    from pisa_spark.build.ciff import (
        _delimited, _header_from_msg, _parse_postings_list,
        parse_ciff_header, write_ciff,
    )

    # build absolute-docid postings from gaps (strictly increasing)
    postings = []
    for term, pairs in term_lists:
        docid = -1
        plist = []
        for gap, tf in pairs:
            docid += gap + 1
            plist.append((docid, tf))
        postings.append((term, plist))
    docs = [(i, ext, dl) for i, (ext, dl) in enumerate(doc_recs)]

    with tempfile.NamedTemporaryFile(suffix=".ciff") as f:
        write_ciff(f.name, postings, docs)
        blob = memoryview(open(f.name, "rb").read())

    hdr = parse_ciff_header(bytes(blob))
    assert hdr["num_postings_lists"] == len(postings)
    assert hdr["num_docs"] == len(docs)

    msgs = _delimited(blob)
    assert _header_from_msg(next(msgs)) == hdr
    for term, plist in postings:
        got_term, df, cf, docids, tfs = _parse_postings_list(next(msgs))
        assert got_term == term
        assert df == len(plist)
        assert cf == sum(tf for _, tf in plist)
        assert list(docids) == [d for d, _ in plist]
        assert list(tfs) == [tf for _, tf in plist]


def test_intersection_slicings_are_valid_partitions():
    """Pin the hand-transcribed INTERSECTION_SLICINGS against the
    reference's getAllPossibleSlicing
    (tools/kth_threshold_intersection.cpp:114-204): byte-wise equal to
    the C++ initializer lists when the reference tree is present;
    structurally always — every slicing is a valid set partition of
    0..n-1, n=2..4 enumerate ALL set partitions (Bell 2, 5, 15), and
    the n=5 list has 37 entries, 34 distinct: the reference's 2+2+1
    block repeats 3 partitions and misses 8, and the 3+1+1 family (10)
    is absent entirely — duplicates/omissions are value-irrelevant or
    the fork's own semantics, so they are transcribed verbatim."""
    from collections import Counter

    from pisa_spark.query.thresholds import (
        INTERSECTION_SLICINGS, slicing_position_rows,
    )

    def all_partitions(items):
        if not items:
            yield []
            return
        first, rest = items[0], items[1:]
        for part in all_partitions(rest):
            yield [[first]] + part
            for i in range(len(part)):
                yield part[:i] + [[first] + part[i]] + part[i + 1:]

    bell = {2: 2, 3: 5, 4: 15}
    for n, slicings in INTERSECTION_SLICINGS.items():
        keys = []
        for slicing in slicings:
            flat = sorted(p for comb in slicing for p in comb)
            assert flat == list(range(n)), (n, slicing)
            keys.append(frozenset(frozenset(c) for c in slicing))
        if n <= 4:
            assert len(set(keys)) == len(keys) == bell[n]
        else:
            assert len(keys) == 37 and len(set(keys)) == 34
            full = {
                frozenset(frozenset(c) for c in p)
                for p in all_partitions(list(range(5)))
            }
            shapes = Counter(
                tuple(sorted(len(c) for c in part))
                for part in full - set(keys)
            )
            assert shapes == {(1, 1, 3): 10, (1, 2, 2): 8}

    # byte-wise parity with the C++ initializer lists (skipped when
    # the read-only reference tree is absent)
    import os
    import re

    ref = "/root/reference/tools/kth_threshold_intersection.cpp"
    if os.path.exists(ref):
        src = open(ref).read()
        body = src[src.index("getAllPossibleSlicing"):
                   src.index("for (vector<vector<int>> comb : retVal)")]
        blocks = re.split(r"numOfTerm == (\d)", body)
        parsed = {}
        for i in range(1, len(blocks), 2):
            pushes = re.findall(
                r"retVal\.push_back\(\{(.*?)\}\);", blocks[i + 1], re.S
            )
            parsed[int(blocks[i])] = [
                [
                    [int(x) for x in c.replace(" ", "").split(",") if x]
                    for c in re.findall(r"\{([\d,\s]*)\}", p)
                ]
                for p in pushes
            ]
        assert parsed == INTERSECTION_SLICINGS

    # the flattened SQL inline table is a faithful projection
    rows = slicing_position_rows()
    assert len(rows) == sum(
        n * len(s) for n, s in INTERSECTION_SLICINGS.items()
    )
    rebuilt: dict = {}
    for n, sid, cid, pos in rows:
        rebuilt.setdefault(n, {}).setdefault(sid, {}).setdefault(
            cid, []
        ).append(pos)
    for n, slicings in INTERSECTION_SLICINGS.items():
        assert [
            [rebuilt[n][sid][cid] for cid in sorted(rebuilt[n][sid])]
            for sid in sorted(rebuilt[n])
        ] == slicings


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1),
                min_size=1, max_size=64))
def test_bit_widths_exact_everywhere(vals):
    """codecs.widths.bit_widths == int.bit_length for the FULL uint64
    range — the float-log2 fast path's ±1 rounding near powers of two
    must be repaired exactly (the old per-codec copies crashed on
    2^60-1 under simple8b and on >= 2^63 under optpfor/qmx)."""
    import numpy as np

    from pisa_spark.codecs.widths import bit_widths

    v = np.array(vals, dtype=np.uint64)
    got = bit_widths(v)
    for x, w in zip(vals, got):
        assert w == int(x).bit_length(), (x, int(w))


def test_codec_boundary_values_roundtrip():
    """The exact width boundary inputs that used to crash encode:
    simple8b near its 60-bit cap, optpfor/qmx across the 2^63 line."""
    import numpy as np

    from pisa_spark.codecs.optpfor import optpfor_decode, optpfor_encode
    from pisa_spark.codecs.qmx import qmx_decode, qmx_encode
    from pisa_spark.codecs.simple8b import s8b_decode, s8b_encode

    s8 = np.array([(1 << 60) - 1, (1 << 60) - 128, (1 << 59), 0, 7],
                  dtype=np.uint64)
    assert (s8b_decode(s8b_encode(s8), len(s8)) == s8).all()
    big = np.array([1 << 63, (1 << 64) - 1, (1 << 63) - 1, 0, 42],
                   dtype=np.uint64)
    assert (optpfor_decode(optpfor_encode(big), len(big)) == big).all()
    assert (qmx_decode(qmx_encode(big), len(big)) == big).all()
    allhi = np.full(8, 1 << 63, dtype=np.uint64)
    assert (optpfor_decode(optpfor_encode(allhi), len(allhi)) == allhi).all()
