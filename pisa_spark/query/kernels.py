"""numpy query kernels over block-structured posting lists.

These are the engine's custom operators — the part of the reference
Spark genuinely lacks (cursor-based dynamic pruning,
query/algorithm/*.hpp). They run inside the executor's Python groups
(executor.py): every executor runs many queries per ``applyInArrow``
cogroup over term postings decoded once per batch, columnar
(codecs/columns.py). Kernels never decode payload bytes: a block
"decode" (TermPostings.decode_block) is a slice of the decoded
arrays, counted as a read (Profiler). All array math is vectorized.

Result semantics (every kernel, pinned by tests vs the SQL oracle,
mirroring the reference's own agreement tests
test/test_ranked_queries.cpp:99-144):

- score(doc) = Σ_terms weight_t * bm25(tf, df_t, dl_doc)  (float64;
  weight = query-term multiplicity, src/query/queries.cpp:107-120)
- rank by (round(score, 6) DESC, doc_id ASC); drop score <= 0
  (topk_queue finalize semantics, topk_queue.hpp:73-83, with a
  deterministic docID tie-break — the reference's heap order on ties
  is unspecified, so both our kernels and our oracle pin doc_id ASC)
- return at most k rows.

Kernel inventory:
- ranked_or_kernel    exhaustive disjunction (TAAT-vectorized; the
                      reference's ranked_or/taat, ranked_or_query.hpp)
- ranked_and_kernel   exhaustive conjunction (ranked_and_query.hpp)
- and_kernel/or_kernel  Boolean (and_query.hpp / or_query.hpp)
- wand_kernel         WAND dynamic pruning (wand_query.hpp:10-93),
                      batched interval-sweep form (_interval_sweep);
                      wand_kernel_daat is the literal cursor loop
- block_max_wand_kernel  BMW (block_max_wand_query.hpp:8-167), batched
                      interval-sweep form; block_max_wand_kernel_daat
                      is the literal cursor loop (agreement-tested)
- maxscore_kernel / block_max_maxscore_kernel  MaxScore
                      (maxscore_query.hpp:13-143) and BMM
                      (block_max_maxscore_query.hpp:9-99): one body,
                      _maxscore, whose survivor bound is the term
                      maxima or, for BMM, the block maxima
- block_max_ranked_and_kernel  ranked conjunction with block-max
                      skipping (block_max_ranked_and_query.hpp:9-86)
- adaptive_kernel     per-query choice between ranked_or (few total
                      postings) and block_max_maxscore, from pre-decode
                      metadata only (choose_algorithm)
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass

import numpy as np

from pisa_spark.functions.scoring import MICRO, bm25_score_np, to_micro_np


class Profiler:
    """Decode and read counters (the reference's block_profiler /
    profile_queries analogue), two pairs that only grow:

    - ``blocks``/``postings``: payload blocks actually decoded. The
      executor's batch proto build adds its whole columnar decode
      once (executor._build_batch_protos); no kernel decodes.
    - ``blocks_read``/``postings_read``: blocks a kernel reads from
      the decoded arrays (TermPostings.decode_block/decode_all), the
      blocks a reference cursor would touch. Profiled requests take
      per-query deltas of this pair around each kernel call."""

    blocks = 0
    postings = 0
    blocks_read = 0
    postings_read = 0

    @classmethod
    def reset(cls):
        cls.blocks = cls.postings = 0
        cls.blocks_read = cls.postings_read = 0


@dataclass
class TermPostings:
    """One query term's posting data, decoded once per batch.

    Block metadata arrays are per block, ordered by block_id.
    ``decoded`` holds the term-level (docs, tfs, lens) arrays (the
    executor decodes a whole batch columnar,
    executor._build_batch_protos); block ``bi`` is the slice
    ``block_offsets[bi]:block_offsets[bi + 1]``.
    """

    term_id: int
    df: float
    weight: float
    max_score: float  # term upper bound in MICRO units, weight-multiplied
    block_max_doc: np.ndarray  # u64 per block
    block_max_score: np.ndarray  # f64 per block, MICRO units, weight-multiplied
    block_count: np.ndarray  # int per block
    decoded: tuple  # term-level (docs, tfs, lens)
    block_offsets: np.ndarray  # int64, n_blocks + 1
    idf_cache: object = None  # lazily-built constant-idf array (_score)

    def decode_block(self, bi: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docs, tfs, doc_lens) of one block, counted as one block
        read. Doc lengths are stored inline (segments.py len_bytes) —
        the wand_data.hpp:38-117 design of keeping lengths WITH the
        index data — so no kernel ever needs a driver-side doc-length
        array."""
        lo, hi = self.block_offsets[bi], self.block_offsets[bi + 1]
        Profiler.blocks_read += 1
        Profiler.postings_read += int(hi - lo)
        d, t, L = self.decoded
        return d[lo:hi], t[lo:hi], L[lo:hi]

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The term's whole (docs, tfs, doc_lens), every block read."""
        Profiler.blocks_read += len(self.block_count)
        Profiler.postings_read += int(self.block_offsets[-1])
        return self.decoded


@dataclass
class Stats:
    num_docs: float
    avg_len: float
    k1: float = 0.9
    b: float = 0.4
    quantized: bool = False  # tf slot carries pre-quantized impacts


def _score(tp: TermPostings, tfs: np.ndarray, lens: np.ndarray,
           stats: Stats) -> np.ndarray:
    """Per-posting weighted score in int64 MICRO units (see
    scoring.micro_sql — identical quantization in every engine).
    ``lens`` is the per-posting doc-length array decoded from the same
    block as ``tfs`` (no positional lookup into a global array).

    Quantized indexes (scorer/quantized.hpp): the decoded "tf" IS the
    impact; the scorer is identity, so micro = weight * q * 1e6
    exactly (integers).

    The idf factor is constant per term, so its (np.log-based) array
    is computed once per TermPostings and sliced — elementwise ops
    identical to bm25_score_np, so micro quantization is unchanged."""
    if stats.quantized:
        return to_micro_np(tfs.astype(np.float64), tp.weight)
    n = len(tfs)
    idf = tp.idf_cache
    if idf is None or len(idf) < n:
        from pisa_spark.functions.scoring import bm25_idf_np

        idf = bm25_idf_np(
            np.full(max(n, 256), tp.df), stats.num_docs, k1=stats.k1
        )
        tp.idf_cache = idf
    tf = tfs.astype(np.float64)
    norm = tf + stats.k1 * (
        (1.0 - stats.b) + stats.b * lens.astype(np.float64) / stats.avg_len
    )
    return to_micro_np(idf[:n] * tf / norm, tp.weight)


def _finalize(docs: np.ndarray, micros: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(micro desc, doc asc) top-k, positive scores only; returns
    double scores = micros / 1e6 (exact, deterministic)."""
    micros = np.asarray(micros, dtype=np.int64)
    keep = micros > 0
    docs, micros = docs[keep], micros[keep]
    order = np.lexsort((docs, -micros))[:k]
    return docs[order], micros[order].astype(np.float64) / MICRO


def _aggregate(all_docs: np.ndarray, all_scores: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    if all_docs.size == 0:
        return all_docs, all_scores
    uniq, inv = np.unique(all_docs, return_inverse=True)
    sums = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(sums, inv, all_scores)
    return uniq, sums


# ---------------------------------------------------------------- exhaustive

def ranked_or_kernel(terms: list[TermPostings], k: int,
                     stats: Stats, init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    parts_d, parts_s = [], []
    for tp in terms:
        docs, tfs, lens = tp.decode_all()
        parts_d.append(docs)
        parts_s.append(_score(tp, tfs, lens, stats))
    if not parts_d:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs, micros = _aggregate(np.concatenate(parts_d), np.concatenate(parts_s))
    return _finalize(docs, micros, k)


def ranked_and_kernel(terms: list[TermPostings], k: int,
                      stats: Stats, init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    if not terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    decoded = [tp.decode_all() for tp in terms]
    common = decoded[0][0]
    for docs, _, _ in decoded[1:]:
        common = np.intersect1d(common, docs, assume_unique=True)
    if common.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    total = np.zeros(common.size, dtype=np.int64)
    for tp, (docs, tfs, lens) in zip(terms, decoded):
        pos = np.searchsorted(docs, common)
        total += _score(tp, tfs[pos], lens[pos], stats)
    return _finalize(common, total, k)


def and_kernel(terms: list[TermPostings]) -> np.ndarray:
    """Boolean AND -> sorted docID array (and_query.hpp:12-59)."""
    if not terms:
        return np.empty(0, np.int64)
    common = terms[0].decode_all()[0]
    for tp in terms[1:]:
        common = np.intersect1d(common, tp.decode_all()[0], assume_unique=True)
    return common


def or_kernel(terms: list[TermPostings]) -> np.ndarray:
    """Boolean OR -> sorted docID array (or_query.hpp:8-44)."""
    if not terms:
        return np.empty(0, np.int64)
    return np.unique(np.concatenate([tp.decode_all()[0] for tp in terms]))


# ------------------------------------------------------------------ pruned

class _Cursor:
    """DAAT cursor with block skipping (block_posting_list.hpp:80-319).

    Python-loop-optimized: on block load the WHOLE block is scored
    vectorized (the reference lazily decodes the freq block; we score
    the block's slice of the decoded arrays — one numpy pass per 128
    postings instead of a numpy round-trip per posting), and the
    hot-path state (doc list, score list, block-max arrays) lives as
    plain Python lists/ints, which beat numpy scalar indexing by ~10x
    inside the DAAT loop.
    """

    __slots__ = ("tp", "bi", "pos", "docs", "scores", "done", "docid",
                 "_bmd", "_bms", "_n_blocks", "_stats", "ms", "bms", "bld")

    SENTINEL = np.iinfo(np.int64).max

    def __init__(self, tp: TermPostings, stats: Stats):
        self.tp = tp
        self._stats = stats
        self._bmd = tp.block_max_doc.tolist()
        self._bms = tp.block_max_score.tolist()
        self._n_blocks = len(tp.block_count)
        self.ms = tp.max_score  # hot-path copy (skip two attr hops)
        self.bms = 0.0  # current block's max score (python float)
        self.bld = self.SENTINEL  # current block's last docID
        self.bi = -1
        self.done = self._n_blocks == 0
        self.docs: list[int] = []
        self.scores: list[int] = []
        self.docid = self.SENTINEL
        self._load(0)

    def _load(self, bi: int):
        if bi >= self._n_blocks:
            self.done = True
            self.docid = self.SENTINEL
            self.bms = 0.0
            self.bld = self.SENTINEL
            return
        self.bi = bi
        d, t, L = self.tp.decode_block(bi)
        self.docs = d.tolist()
        self.scores = _score(self.tp, t, L, self._stats).tolist()
        self.pos = 0
        self.docid = self.docs[0]
        self.bms = self._bms[bi]
        self.bld = self._bmd[bi]

    def score(self) -> int:
        return self.scores[self.pos]

    def next(self):
        if self.done:
            return
        self.pos += 1
        if self.pos >= len(self.docs):
            self._load(self.bi + 1)
        else:
            self.docid = self.docs[self.pos]

    def next_geq(self, target: int):
        if self.done:
            return
        # Block skip via block-max docIDs (next_geq, :115-137).
        if self._bmd[self.bi] < target:
            nbi = bisect_left(self._bmd, target)
            if nbi >= self._n_blocks:
                self.done = True
                self.docid = self.SENTINEL
                self.bms = 0.0  # match _load's done branch so
                self.bld = self.SENTINEL  # bms/bld reads are never stale
                return
            self._load(nbi)
        pos = bisect_left(self.docs, target, self.pos)
        if pos >= len(self.docs):  # can't happen if block_max >= target
            self._load(self.bi + 1)
        else:
            self.pos = pos
            self.docid = self.docs[pos]


# Pruning margin in MICRO units: per-posting quantization moves a
# score by <= 0.5 micro, so bounds computed from unquantized maxima
# get 2-micro slack before any candidate is pruned.
PRUNE_EPS = 2


def _kth_floor(micros: np.ndarray, k: int) -> float:
    """A sound θ from scored micros: the k-th best minus the rounding
    slack, or 0 (scores <= 0 never enter a result) under k."""
    if len(micros) < k:
        return 0.0
    return float(np.partition(micros, -k)[-k]) - PRUNE_EPS


class _TopK:
    """k-heap with threshold (topk_queue.hpp:19-139): pruning decisions
    use strict ``> threshold`` (:67) with an epsilon slack; every doc
    actually scored is retained so the final (round desc, doc asc)
    selection is exact regardless of heap tie order."""

    def __init__(self, k: int, init_threshold: float = 0.0):
        import heapq

        self.heapq = heapq
        self.k = k
        self.init = float(init_threshold)  # sound lower bound - eps
        self.threshold = self.init  # cached: max(init, kth-eps)
        self.heap: list[int] = []  # k highest micro scores seen
        self.docs: list[int] = []
        self.scores: list[int] = []

    def would_enter(self, bound: float) -> bool:
        return bound > self.threshold

    def insert(self, micro: int, doc: int):
        self.docs.append(doc)
        self.scores.append(micro)
        if len(self.heap) < self.k:
            self.heapq.heappush(self.heap, micro)
        else:
            if micro <= self.heap[0]:
                return
            self.heapq.heapreplace(self.heap, micro)
        if len(self.heap) == self.k:
            t = self.heap[0] - PRUNE_EPS
            if t > self.threshold:
                self.threshold = t

    def finalize(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        docs = np.array(self.docs, dtype=np.int64)
        scores = np.array(self.scores, dtype=np.float64)
        return _finalize(docs, scores, k)


def _interval_sweep(terms: list[TermPostings], k: int, stats: Stats,
                    init_threshold: float,
                    block_level: bool) -> tuple[np.ndarray, np.ndarray]:
    """Batched WAND/BMW engine: the numpy form of the cursor loop.

    The docID space is partitioned at the union of every term's block
    boundaries, so each interval lies inside exactly ONE block per
    term; each interval's score upper bound is the sum of the
    overlapping blocks' maxima (``block_level=True``, BMW's shallow
    check) or of the overlapping TERM maxima (``block_level=False``,
    WAND's pivot bound) — both computed in one vectorized
    searchsorted per term. Intervals are then processed in DESCENDING
    bound order: every candidate inside a surviving interval is
    scored exactly (vectorized per block, each block decoded at most
    once), the running k-th score raises θ, and the first interval
    whose bound fails ``> θ`` ends the query (bounds are sorted, so
    all later intervals fail too).

    Python cost is per INTERVAL (≈ per block), never per posting —
    the same batching that makes _maxscore fast —
    while the pruning decisions are the cursor algorithms' own:
    a skipped doc has true score <= interval bound <= θ = k-th − eps,
    exactly _TopK.would_enter's test, so the top-k (incl. docID
    tie-breaks) is identical to the DAAT form (pinned by
    test_batched_kernels_match_daat)."""
    terms = [t for t in terms if len(t.block_count)]
    if not terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    if len(terms) == 1:
        # Single term: intervals ARE the blocks and docs are already
        # unique — skip the union/aggregate machinery. Blocks by
        # descending bound (block max for BMW, term max for WAND),
        # stop at the first failing bound; same pruning test as DAAT.
        t = terms[0]
        bounds = (
            t.block_max_score if block_level
            else np.full(len(t.block_max_doc), t.max_score)
        )
        order = np.argsort(-bounds, kind="stable")
        theta = float(init_threshold)
        cand_d, cand_s = [], []
        topk_buf = np.empty(0, dtype=np.int64)
        for bi in order:
            if not bounds[bi] > theta:
                break
            d, tf, ln = t.decode_block(int(bi))
            s = _score(t, tf, ln, stats)
            cand_d.append(d)
            cand_s.append(s)
            topk_buf = np.concatenate([topk_buf, s])
            if len(topk_buf) > k:
                topk_buf = np.partition(topk_buf, -k)[-k:]
            theta = max(theta, _kth_floor(topk_buf, k))
        if not cand_d:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        return _finalize(
            np.concatenate(cand_d), np.concatenate(cand_s), k
        )
    ends = np.unique(np.concatenate([t.block_max_doc for t in terms]))
    n_iv = len(ends)
    ubs = np.zeros(n_iv, dtype=np.float64)
    term_bi = []
    for t in terms:
        nb = len(t.block_max_doc)
        bi = np.searchsorted(t.block_max_doc, ends, side="left")
        in_r = bi < nb
        if block_level:
            contrib = np.where(in_r, t.block_max_score[np.minimum(bi, nb - 1)], 0.0)
        else:
            contrib = np.where(in_r, t.max_score, 0.0)
        ubs += contrib
        term_bi.append(bi)
    order = np.argsort(-ubs, kind="stable")

    # Intervals are consumed in geometrically-growing ROUNDS (by ub
    # desc): per round every needed block is decoded once (cached with
    # its doc->interval mapping) and its postings inside the round's
    # chosen intervals are selected with one boolean gather — Python
    # cost is per (round, block), and θ rises between rounds so the
    # sorted tail is abandoned wholesale at the first failing bound.
    ubs_sorted = ubs[order]
    theta = float(init_threshold)
    caches: list[dict] = [{} for _ in terms]
    # Each block covers a CONTIGUOUS interval-id range [first, last]
    # (intervals are docID-ordered cuts of contiguous block ranges) —
    # with a per-round prefix sum over the chosen mask, "fully/partly/
    # not chosen" is O(1) per block and the doc->interval gather runs
    # only for partially-chosen blocks.
    blk_last: list[np.ndarray] = []
    blk_first: list[np.ndarray] = []
    for t in terms:
        last = np.searchsorted(ends, t.block_max_doc, side="left")
        first = np.empty_like(last)
        first[0] = 0
        first[1:] = last[:-1] + 1
        blk_last.append(last)
        blk_first.append(first)
    cand_d: list[np.ndarray] = []
    cand_s: list[np.ndarray] = []
    topk_buf = np.empty(0, dtype=np.int64)  # best k micros so far
    chosen_mask = np.zeros(n_iv, dtype=bool)
    pos = 0
    # First round sized so the no-pruning case finishes in ~3 rounds
    # (fixed per-round cost dominates when θ separates nothing, e.g.
    # flat-score corpora); pruning-heavy queries still abandon the
    # sorted tail after round 1.
    batch = max(2, k // 16, n_iv // 16)
    while pos < n_iv and ubs_sorted[pos] > theta:
        # sorted desc: the prefix with ub > theta ends at `cut`
        cut = int(np.searchsorted(-ubs_sorted, -theta, side="left"))
        if cut >= n_iv and pos > 0:
            # θ (seeded by round 1) prunes nothing: this is a
            # flat-score/no-pruning query — finish in ONE round so
            # each block is gathered once (≈ exhaustive TAAT cost)
            # instead of re-masked every geometric round.
            hi = n_iv
        else:
            hi = min(pos + batch, cut)
        chosen = order[pos:hi]
        chosen_mask[chosen] = True
        pref = np.empty(n_iv + 1, dtype=np.int64)
        pref[0] = 0
        np.cumsum(chosen_mask, out=pref[1:])
        parts_d, parts_s = [], []
        for ti, t in enumerate(terms):
            nb = len(t.block_max_doc)
            bis = np.unique(term_bi[ti][chosen])
            cache = caches[ti]
            first_a, last_a = blk_first[ti], blk_last[ti]
            for bi in bis:
                if bi >= nb:
                    continue
                blk = cache.get(bi)
                if blk is None:
                    d, tf, ln = t.decode_block(int(bi))
                    blk = [d, _score(t, tf, ln, stats), None]
                    cache[bi] = blk
                d, s, iv = blk
                lo_iv, hi_iv = int(first_a[bi]), int(last_a[bi])
                if pref[hi_iv + 1] - pref[lo_iv] == hi_iv - lo_iv + 1:
                    parts_d.append(d)  # whole block chosen: no gather
                    parts_s.append(s)
                else:
                    if iv is None:
                        iv = np.searchsorted(ends, d, side="left")
                        blk[2] = iv
                    keep = chosen_mask[iv]
                    parts_d.append(d[keep])
                    parts_s.append(s[keep])
        chosen_mask[chosen] = False
        pos = hi
        batch *= 4
        if not parts_d:
            continue
        docs, micros = _aggregate(
            np.concatenate(parts_d), np.concatenate(parts_s)
        )
        if docs.size == 0:
            continue
        cand_d.append(docs)
        cand_s.append(micros)
        topk_buf = np.concatenate([topk_buf, micros])
        if len(topk_buf) > k:
            topk_buf = np.partition(topk_buf, -k)[-k:]
        theta = max(theta, _kth_floor(topk_buf, k))
    if not cand_d:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    return _finalize(np.concatenate(cand_d), np.concatenate(cand_s), k)


def wand_kernel(terms: list[TermPostings], k: int,
                stats: Stats, init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """WAND (wand_query.hpp:10-93), batched: the pivot's cumulative
    term-max bound becomes a per-interval overlapping-term-max bound
    (see _interval_sweep). Identical top-k to wand_kernel_daat."""
    return _interval_sweep(terms, k, stats, init_threshold, block_level=False)


def block_max_wand_kernel(terms: list[TermPostings], k: int,
                          stats: Stats,
                          init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """BMW (block_max_wand_query.hpp:8-167), batched: the shallow
    block-max check becomes the per-interval bound and the "jump to
    the next block boundary" becomes interval skipping (see
    _interval_sweep). Identical top-k to block_max_wand_kernel_daat."""
    return _interval_sweep(terms, k, stats, init_threshold, block_level=True)


def wand_kernel_daat(terms: list[TermPostings], k: int,
                     stats: Stats, init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """WAND (wand_query.hpp:10-93): per-posting DAAT cursor loop with
    pivot by cumulative max-score — the reference's literal control
    flow, kept as the agreement baseline for the batched kernel."""
    from operator import attrgetter

    by_docid = attrgetter("docid")
    by_ms = attrgetter("ms")
    cursors = [_Cursor(tp, stats) for tp in terms if len(tp.block_count)]
    topk = _TopK(k, init_threshold)
    while True:
        cursors = [c for c in cursors if not c.done]
        if not cursors:
            break
        cursors.sort(key=by_docid)
        threshold = topk.threshold
        ub, pivot = 0.0, -1
        for i, c in enumerate(cursors):
            ub += c.ms
            if ub > threshold:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = cursors[pivot].docid
        if cursors[0].docid == pivot_doc:
            score = 0
            for c in cursors:
                if c.docid != pivot_doc:
                    break
                score += c.scores[c.pos]
            topk.insert(score, pivot_doc)
            for c in cursors:
                if c.docid == pivot_doc:
                    c.next()
        else:
            # Advance the highest-impact lagging list (correctness is
            # independent of the choice; only the trace differs).
            lag = max(
                (c for c in cursors[:pivot] if c.docid < pivot_doc),
                key=by_ms,
            )
            lag.next_geq(pivot_doc)
    return topk.finalize(k)


def block_max_wand_kernel_daat(terms: list[TermPostings], k: int,
                               stats: Stats,
                               init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """BMW (block_max_wand_query.hpp:8-167): per-posting DAAT cursor
    loop — WAND pivot + block-max refinement + jump to min block
    boundary when the shallow check fails. Kept as the agreement
    baseline for the batched kernel."""
    from operator import attrgetter

    by_docid = attrgetter("docid")
    by_ms = attrgetter("ms")
    cursors = [_Cursor(tp, stats) for tp in terms if len(tp.block_count)]
    topk = _TopK(k, init_threshold)
    while True:
        cursors = [c for c in cursors if not c.done]
        if not cursors:
            break
        cursors.sort(key=by_docid)
        threshold = topk.threshold
        ub, pivot = 0.0, -1
        for i, c in enumerate(cursors):
            ub += c.ms
            if ub > threshold:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = cursors[pivot].docid
        # Extend pivot over cursors tied at pivot_doc so the shallow
        # check bounds the doc's FULL score (reference does the same,
        # block_max_wand_query.hpp pivot extension) — without this the
        # jump skips docs whose extra tied lists push them over θ.
        while pivot + 1 < len(cursors) and cursors[pivot + 1].docid == pivot_doc:
            pivot += 1
        if cursors[0].docid == pivot_doc:
            # Shallow check: blocks already contain pivot_doc (cursors
            # 0..pivot are positioned AT pivot_doc); sum block maxes.
            block_ub = 0.0
            for c in cursors[: pivot + 1]:
                block_ub += c.bms
            if block_ub > threshold:
                score = 0
                for c in cursors:
                    if c.docid != pivot_doc:
                        break
                    score += c.scores[c.pos]
                topk.insert(score, pivot_doc)
                for c in cursors:
                    if c.docid == pivot_doc:
                        c.next()
            else:
                # Jump past the limiting block boundary (:120-156).
                nxt = min(c.bld for c in cursors[: pivot + 1]) + 1
                if pivot + 1 < len(cursors):
                    nxt = min(nxt, cursors[pivot + 1].docid)
                nxt = max(nxt, pivot_doc + 1)
                for c in cursors[: pivot + 1]:
                    if c.docid < nxt:
                        c.next_geq(nxt)
        else:
            lag = max(
                (c for c in cursors[:pivot] if c.docid < pivot_doc),
                key=by_ms,
            )
            lag.next_geq(pivot_doc)
    return topk.finalize(k)


def _lookup(tp: TermPostings, docs: np.ndarray, partial: np.ndarray,
            stats: Stats) -> None:
    """Add ``tp``'s scores of the sorted candidates ``docs`` into
    ``partial``, decoding ONLY blocks that hold a candidate (the
    reference's lookup cursors, maxscore_query.hpp:58-126). Sorted
    candidates give non-decreasing block indices, so each block's
    candidates are one contiguous run, and those past the last block
    are a suffix."""
    bi = np.searchsorted(tp.block_max_doc, docs, side="left")
    bi = bi[:np.searchsorted(bi, len(tp.block_max_doc), side="left")]
    starts = np.flatnonzero(np.diff(bi, prepend=-1))
    for lo, hi in zip(starts.tolist(), [*starts[1:].tolist(), len(bi)]):
        b_docs, b_tfs, b_lens = tp.decode_block(int(bi[lo]))
        run = docs[lo:hi]
        pos = np.minimum(np.searchsorted(b_docs, run), len(b_docs) - 1)
        hit = b_docs[pos] == run
        if hit.any():
            partial[lo:hi][hit] += _score(
                tp, b_tfs[pos[hit]], b_lens[pos[hit]], stats
            )


def _maxscore(terms: list[TermPostings], k: int, stats: Stats,
              init_threshold: float,
              block_level: bool) -> tuple[np.ndarray, np.ndarray]:
    """Batch-vectorized MaxScore (maxscore_query.hpp:13-143) and, with
    ``block_level``, BMM (block_max_maxscore_query.hpp:9-99).

    Phase 0: seed θ from fully scoring the highest-impact term.
    Phase 1: essential lists = minimal suffix of the max-score-ascending
    order whose prefix of non-essential upper bounds can't reach θ;
    aggregate essential postings TAAT-style. Phase 2: keep candidates
    whose bound reaches θ: partial + the non-essential term maxima, or
    for BMM, after raising θ to the k-th best partial, partial + the
    BLOCK max of the block that would hold the candidate in each
    non-essential list (the wand_data_raw next_geq,
    wand_data_raw.hpp:85-123). Phase 3: add non-essential scores
    (_lookup); exact top-k, since every drop has final(d) <= bound(d)
    < θ <= k-th score - slack."""
    if not terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    order = sorted(terms, key=lambda t: t.max_score)  # ascending
    prefix_ub = np.cumsum([t.max_score for t in order])  # bound of lists 0..i

    top = order[-1]
    docs_t, tfs_t, lens_t = top.decode_all()
    scores_t = _score(top, tfs_t, lens_t, stats)
    theta = max(_kth_floor(scores_t, k), init_threshold)

    # Non-essential = maximal prefix whose combined upper bound stays
    # strictly below θ: a doc appearing ONLY there can never reach the
    # top-k (not even as a rounding tie, thanks to the θ slack).
    split = int(np.searchsorted(prefix_ub, theta, side="left"))
    split = min(split, len(order) - 1)  # top list is always essential
    non_essential, essential = order[:split], order[split:]

    parts_d, parts_s = [], []
    for tp in essential:
        if tp is top:  # phase-0 decode is reused, not repeated
            docs, sc = docs_t, scores_t
        else:
            docs, tfs, lens = tp.decode_all()
            sc = _score(tp, tfs, lens, stats)
        parts_d.append(docs)
        parts_s.append(sc)
    docs, partial = _aggregate(np.concatenate(parts_d), np.concatenate(parts_s))

    if block_level:
        theta = max(theta, _kth_floor(partial, k))
        bound = partial.astype(np.float64)
        for tp in non_essential:  # past the last block: bound 0
            bi = np.searchsorted(tp.block_max_doc, docs, side="left")
            bound += np.append(tp.block_max_score, 0.0)[bi]
    else:
        bound = partial + (float(prefix_ub[split - 1]) if split else 0.0)
    alive = bound >= theta
    docs, partial = docs[alive], partial[alive]
    for tp in non_essential:
        _lookup(tp, docs, partial, stats)
    return _finalize(docs, partial, k)


def maxscore_kernel(terms: list[TermPostings], k: int,
                    stats: Stats, init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """MaxScore (maxscore_query.hpp:13-143); see _maxscore."""
    return _maxscore(terms, k, stats, init_threshold, block_level=False)


def block_max_maxscore_kernel(terms: list[TermPostings], k: int,
                              stats: Stats,
                              init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """BMM (block_max_maxscore_query.hpp:9-99); see _maxscore."""
    return _maxscore(terms, k, stats, init_threshold, block_level=True)


def block_max_ranked_and_kernel(terms: list[TermPostings], k: int,
                                stats: Stats,
                                init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """Ranked conjunction with block-max skipping
    (block_max_ranked_and_query.hpp:9-86): leapfrog intersection, but
    before aligning the lists on a candidate the per-cursor BLOCK
    upper bounds (looked up by bisect on the block-max docID array —
    no decode) must beat the threshold; otherwise jump past the
    closest block boundary.
    """
    if not terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    cursors = [_Cursor(tp, stats) for tp in terms]
    if any(c.done for c in cursors):
        return np.empty(0, np.int64), np.empty(0, np.float64)
    cursors.sort(key=lambda c: c.tp.df)  # shortest list drives
    topk = _TopK(k, init_threshold)
    SEN = _Cursor.SENTINEL

    n = len(cursors)
    candidate = cursors[0].docid
    li = 1  # candidate_list: next list to align (persists across rounds)
    while candidate < SEN:
        # block upper bound without decoding (block_max_next_geq)
        ub = 0.0
        exhausted = False
        jumps = []
        for c in cursors:
            bi = bisect_left(c._bmd, candidate)
            if bi >= c._n_blocks:
                exhausted = True
                break
            ub += float(c.tp.block_max_score[bi])
            jumps.append(c._bmd[bi])
        if exhausted:
            break
        if topk.would_enter(ub):
            advanced_past = False
            while li < n:
                c = cursors[li]
                c.next_geq(candidate)
                if c.docid != candidate:
                    candidate = c.docid
                    li = 0
                    advanced_past = True
                    break
                li += 1
            if not advanced_past:
                # all n lists aligned at candidate
                score = sum(c.score() for c in cursors)
                topk.insert(score, candidate)
                cursors[0].next()
                candidate = cursors[0].docid
                li = 1
        else:
            candidate = max(min(jumps) + 1, candidate + 1)
            li = 0
    return topk.finalize(k)


# ---------------------------------------------------------------------------
# Adaptive per-query algorithm selection (beyond the reference: PISA
# fixes the algorithm per run via --algorithm, tools/app.hpp; here the
# executor may pick per query from pre-decode metadata only).

# Candidate-set size below which exhaustive TAAT wins: decoding every
# posting is cheaper than pruning bookkeeping (threshold maintenance,
# block-bound scans) when the whole query touches few postings.
# Measured with scripts/calibrate_adaptive.py on the sf0.1 workload,
# whose vocabulary has 31 terms (BENCH.md): there pruned kernels won
# 5-10% above ~4k total postings, and at or below TAAT matched or beat
# them. That calibration does not carry over: an offline replay of the
# Zipf query_batch workload (ROADMAP.md) puts its optimum at
# always-exhaustive. One 4,000-doc corpus is too narrow to set the
# value from, so it stays until a larger synth index re-derives it.
ADAPTIVE_TAAT_MAX_POSTINGS = 4096


def choose_algorithm(terms: list[TermPostings], k: int,
                     init_threshold: float = 0.0) -> str:
    """Pick a disjunctive algorithm from per-term metadata (df, block
    bounds) WITHOUT decoding any payload. Every candidate is
    rank-identical to the exhaustive result, so the choice affects
    latency only — selection can never change answers."""
    total = sum(int(t.df) for t in terms)
    if total <= max(ADAPTIVE_TAAT_MAX_POSTINGS, 2 * k):
        return "ranked_or"
    return "block_max_maxscore"


def adaptive_kernel(terms: list[TermPostings], k: int,
                    stats: Stats, init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """Dispatch to the chosen kernel; all candidates are disjunctive
    (sound under threshold bootstrapping) and agreement-tested."""
    algo = choose_algorithm(terms, k, init_threshold)
    if algo == "ranked_or":
        return ranked_or_kernel(terms, k, stats, init_threshold)
    return block_max_maxscore_kernel(terms, k, stats, init_threshold)
