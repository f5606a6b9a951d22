"""Codec round-trip tests, mirroring reference test/test_block_codecs.cpp:18-57
(sizes {1, 16, block_size-1, block_size}, random values, fixed seed)."""

import numpy as np
import pytest

from pisa_spark.codecs import CODECS

SIZES = [1, 2, 16, 127, 128, 129, 1000]


@pytest.mark.parametrize("codec", list(CODECS))
@pytest.mark.parametrize("n", SIZES)
def test_roundtrip_random(codec, n):
    enc, dec = CODECS[codec]
    rng = np.random.default_rng(42 + n)
    # simple16: 28-bit payload cap; rankedbv: universe = value sum
    # (bitvector) — keep the sum under the guard at n=1000
    hi = 1 << (28 if codec == "simple16" else 14 if codec == "rankedbv" else 32)
    vals = rng.integers(0, hi, size=n, dtype=np.uint64).astype(np.uint32)
    out = dec(enc(vals), n)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("codec", list(CODECS))
def test_roundtrip_edge_values(codec):
    enc, dec = CODECS[codec]
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**28, 2**32 - 1],
                    dtype=np.uint32)
    if codec == "simple16":  # 28-bit payload format: rejects loudly
        with pytest.raises(ValueError):
            enc(vals)
        vals = vals[vals < 2**28]
    if codec == "rankedbv":  # universe guard: rejects sparse loudly
        with pytest.raises(ValueError):
            enc(vals)
        vals = vals[vals < 2**21]
    np.testing.assert_array_equal(dec(enc(vals), len(vals)), vals)


@pytest.mark.parametrize("codec", list(CODECS))
def test_roundtrip_zeros_and_small(codec):
    enc, dec = CODECS[codec]
    vals = np.zeros(128, dtype=np.uint32)
    np.testing.assert_array_equal(dec(enc(vals), 128), vals)
    vals = np.ones(128, dtype=np.uint32)
    np.testing.assert_array_equal(dec(enc(vals), 128), vals)


@pytest.mark.parametrize("codec", list(CODECS))
def test_empty(codec):
    enc, dec = CODECS[codec]
    assert enc(np.empty(0, dtype=np.uint32)) == b""
    assert dec(b"", 0).size == 0


CONCAT_SAFE = [c for c, (enc, _) in CODECS.items()
               if getattr(enc, "concat_safe", False)]


def test_concat_safe_flags_are_set():
    """The flag the columnar encoder and decoder choose their one-call
    path by (codecs/columns.py): varint and its maskedvbyte alias carry
    it on both sides; the property test below guards every flagged
    codec."""
    assert {"varint", "maskedvbyte"} <= set(CONCAT_SAFE)
    for c in CONCAT_SAFE:
        assert getattr(CODECS[c][1], "concat_safe", False), c


@pytest.mark.parametrize("codec", CONCAT_SAFE)
def test_concat_safe_encode_property(codec):
    """encode(a ++ b) == encode(a) + encode(b) and len(encode(v)) ==
    sizes(v).sum() for every codec whose encode is flagged concat_safe
    — a fixed-layout codec flagged by mistake fails here."""
    enc, dec = CODECS[codec]
    rng = np.random.default_rng(3)
    for _ in range(50):
        n = int(rng.integers(0, 300))
        bits = int(rng.integers(1, 64))
        v = rng.integers(0, 1 << bits, size=n, dtype=np.uint64)
        cut = int(rng.integers(0, n + 1))
        a, b = v[:cut], v[cut:]
        assert enc(v) == enc(a) + enc(b)
        sizes = enc.sizes(v)
        assert len(enc(v)) == int(sizes.sum())
        assert len(enc(a)) == int(sizes[:cut].sum())
        np.testing.assert_array_equal(dec(enc(a) + enc(b), n), v)


def test_varint_wire_format():
    # MSB-terminator layout parity with TightVariableByte
    # (block_codecs.hpp:19-123): last byte of each value has bit 7 set.
    from pisa_spark.codecs import varint_encode

    assert varint_encode(np.array([0], dtype=np.uint32)) == bytes([0x80])
    assert varint_encode(np.array([127], dtype=np.uint32)) == bytes([0xFF])
    # 128 = 0b1000_0000 -> chunks [0, 1] -> bytes [0x00, 0x81]
    assert varint_encode(np.array([128], dtype=np.uint32)) == bytes([0x00, 0x81])


@pytest.mark.parametrize("codec", list(CODECS))
def test_roundtrip_u64(codec):
    enc, dec = CODECS[codec]
    # simple8b's word layout caps values at 60 bits (4-bit selector +
    # 60 data bits) — far above the 10^12-doc docID space; it rejects
    # larger values loudly instead of corrupting.
    if codec in ("g8iu", "simple16", "rankedbv"):
        # width/universe-capped formats: reject u64 loudly
        with pytest.raises(ValueError):
            enc(np.array([2**32], dtype=np.uint64))
        return
    top = 2**59 + 3 if codec == "simple8b" else 2**63 - 1
    vals = np.array([0, 2**32, 2**40 + 7, top, 10**12], dtype=np.uint64)
    np.testing.assert_array_equal(dec(enc(vals), len(vals)), vals)
    if codec == "simple8b":
        with pytest.raises(ValueError):
            enc(np.array([2**60], dtype=np.uint64))


def test_pef_opt_partition_beats_uniform_on_clustered():
    """The optimal-partition DP (optimal_partition.hpp semantics) must
    cut mixed-density payloads at the density changes — strictly
    smaller output than fixed-size chunks, same round-trip."""
    import numpy as np

    from pisa_spark.codecs.pef import (
        pef_decode, pef_opt_encode, pef_uniform_encode,
    )

    rng = np.random.default_rng(13)
    dense = np.zeros(500, np.uint64)  # consecutive docIDs (gaps-1 = 0)
    sparse = rng.integers(1000, 100000, 100, dtype=np.uint64)
    v = np.concatenate([dense, sparse, dense])
    opt = pef_opt_encode(v)
    uni = pef_uniform_encode(v)
    assert (pef_decode(opt, len(v)) == v).all()
    assert (pef_decode(uni, len(v)) == v).all()
    assert len(opt) < len(uni), (len(opt), len(uni))


def test_pef_opt_flat_dp_matches_reference_form():
    """The flattened optimal-partition loop (pef.optimal_partition_ends
    — parallel window arrays, inlined cost model) must pick EXACTLY
    the chunk ends of the straightforward window-object form of the
    reference DP (optimal_partition.hpp:54-118), kept here as the
    executable spec."""
    import numpy as np

    from pisa_spark.codecs.pef import (
        EPS1, EPS2, _chunk_cost_bits, optimal_partition_ends,
    )

    class Window:
        def __init__(self, m, bound):
            self.m, self.bound = m, bound
            self.start = self.end = self.min_p = self.max_p = 0

        def advance_start(self):
            self.min_p = self.m[self.start] + 1
            self.start += 1

        def advance_end(self):
            self.max_p = self.m[self.end]
            self.end += 1

    def reference_ends(m, eps1=EPS1, eps2=EPS2):
        n = len(m)
        single = _chunk_cost_bits(m[-1], n)
        min_cost = [single] * (n + 1)
        min_cost[0] = 0.0
        path = [0] * (n + 1)
        cost_lb = _chunk_cost_bits(1, 1)
        bounds, cb = [], float(cost_lb)
        while eps1 == 0 or cb < cost_lb / eps1:
            bounds.append(cb)
            if cb >= single:
                break
            cb *= 1 + eps2
        windows = [Window(m, b) for b in bounds]
        for i in range(n):
            last_end = i + 1
            for w in windows:
                while w.end < last_end:
                    w.advance_end()
                while True:
                    wc = _chunk_cost_bits(
                        w.max_p - w.min_p + 1, w.end - w.start
                    )
                    if min_cost[i] + wc < min_cost[w.end]:
                        min_cost[w.end] = min_cost[i] + wc
                        path[w.end] = i
                    last_end = w.end
                    if w.end == n:
                        break
                    if wc >= w.bound:
                        break
                    w.advance_end()
                w.advance_start()
        ends, cur = [], n
        while cur != 0:
            ends.append(cur)
            cur = path[cur]
        return ends[::-1]

    rng = np.random.default_rng(99)
    for _ in range(40):
        n = int(rng.integers(1, 300))
        gaps = np.minimum(rng.zipf(1.25, size=n), 1 << 26).astype(np.uint64)
        m = (np.cumsum(gaps)
             + np.arange(1, n + 1, dtype=np.uint64)).tolist()
        got = optimal_partition_ends(m).tolist()
        assert got == reference_ends(m), n


def test_ef_roundtrip_edges():
    """Elias-Fano round-trip on the reference's edge sizes
    (test/test_block_codecs.cpp:18-57): 1, 16, 127, 128 values,
    including runs of zeros (tf-1 payloads) and large gaps."""
    import numpy as np

    from pisa_spark.codecs import ef_decode, ef_encode

    rng = np.random.RandomState(7)
    cases = [
        np.array([0], dtype=np.uint64),
        np.array([2**31], dtype=np.uint64),
        np.zeros(128, dtype=np.uint64),
        np.ones(127, dtype=np.uint64),
        rng.randint(0, 2**20, 16).astype(np.uint64),
        rng.randint(0, 2**40, 128).astype(np.uint64),
        np.concatenate([np.zeros(64, np.uint64), rng.randint(0, 9, 64).astype(np.uint64)]),
    ]
    for vals in cases:
        out = ef_decode(ef_encode(vals), len(vals))
        assert np.array_equal(out, vals), vals[:8]


def test_ef_randomized_roundtrip():
    import numpy as np

    from pisa_spark.codecs import ef_decode, ef_encode

    rng = np.random.RandomState(42)
    for _ in range(200):
        n = rng.randint(1, 257)
        hi = 2 ** rng.randint(1, 40)
        vals = rng.randint(0, hi, n).astype(np.uint64)
        assert np.array_equal(ef_decode(ef_encode(vals), n), vals)


def test_ef_codec_in_engine(spark):
    """Full index round-trip with the ef codec configured."""
    from pisa_spark.build import decode_segments
    from pisa_spark.config import AnalyzerConfig, EngineConfig, IndexConfig
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.index import build_index

    cfg = EngineConfig(
        analyzer=AnalyzerConfig(tokenizer="whitespace"),
        index=IndexConfig(salt_bucket_docs=256, codec="ef"),
    )
    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(100)
    index = build_index(spark, pages, cfg)
    dec = decode_segments(index.segments, cfg.index).toPandas()
    exp = index.postings.toPandas()
    assert len(dec) == len(exp)
    d = dec.sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    x = exp.sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    assert (d["doc_id"] == x["doc_id"]).all() and (d["tf"] == x["tf"]).all()


def test_rankedbv_rank_select_vs_naive():
    """rbv_rank/rbv_select answer point queries from the on-wire rank
    directory (compact_ranked_bitvector.hpp:1-326 + broadword.hpp
    parity) — checked against naive cumsum/flatnonzero over the
    reconstructed bitvector, across superblock boundaries."""
    from pisa_spark.codecs import rbv_encode, rbv_rank, rbv_select
    from pisa_spark.codecs.rankedbitvector import _strictify

    rng = np.random.default_rng(11)
    for n in (1, 5, 100, 700):
        vals = rng.integers(0, 9, size=n, dtype=np.uint64)
        data = rbv_encode(vals)
        m = _strictify(vals)
        u = int(m[-1]) + 1
        bits = np.zeros(u, np.uint8)
        bits[m.astype(np.int64)] = 1
        cum = np.concatenate([[0], np.cumsum(bits)])
        for pos in list(rng.integers(0, u + 1, size=64)) + [0, u, 511, 512, 513]:
            pos = min(int(pos), u)
            assert rbv_rank(data, pos) == int(cum[pos])
        ones = np.flatnonzero(bits)
        for k in rng.integers(0, n, size=64):
            assert rbv_select(data, int(k)) == int(ones[int(k)])
        with pytest.raises(IndexError):
            rbv_select(data, n)
    # empty encoding (rbv_encode([]) == b""): rank is 0 everywhere,
    # select raises the documented beyond-population error — the
    # exported point-query API must not crash on the empty list
    empty = rbv_encode(np.empty(0, dtype=np.uint64))
    assert empty == b""
    assert rbv_rank(empty, 0) == 0 and rbv_rank(empty, 100) == 0
    with pytest.raises(IndexError):
        rbv_select(empty, 0)


def test_rankedbv_size_is_exact_and_guarded():
    from pisa_spark.codecs import rbv_encode
    from pisa_spark.codecs.rankedbitvector import rbv_size

    rng = np.random.default_rng(13)
    for n in (1, 128, 1000):
        vals = rng.integers(0, 12, size=n, dtype=np.uint64)
        assert rbv_size(vals) == len(rbv_encode(vals))
    assert rbv_size(np.array([1 << 40], dtype=np.uint64)) >= 1 << 62


def test_hybrid_picks_rankedbv_on_tf_style_payloads():
    """The dense case of indexed_sequence's cost model: a long
    mostly-zero payload (tf-1 of a head term) is smaller as a
    bitvector than as bitpack/EF/varint, and the hybrid selects it."""
    from pisa_spark.codecs import hybrid_decode, hybrid_encode

    rng = np.random.default_rng(17)
    v = np.zeros(1000, dtype=np.uint64)
    v[rng.integers(0, 1000, 20)] = rng.integers(1, 4, 20)
    enc = hybrid_encode(v)
    assert enc[0] == 4
    np.testing.assert_array_equal(hybrid_decode(enc, 1000), v)
