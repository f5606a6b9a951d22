"""Reference DAAT cursor loops for the kernel agreement tests.

The engine's WAND/BMW kernels (``kernels._interval_sweep``) work on
whole decoded term arrays. These are the reference's literal
per-posting control flow instead: a block cursor with ``next`` /
``next_geq`` (block_posting_list.hpp:80-319), a threshold top-k heap
(topk_queue.hpp:19-139), and the WAND (wand_query.hpp:10-93) and BMW
(block_max_wand_query.hpp:8-167) loops over them. Tests compare the
kernels' top-k and the heap's selection against them; nothing under
``pisa_spark/`` imports this module.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np

from pisa_spark.query.kernels import (
    PRUNE_EPS,
    Stats,
    TermPostings,
    _finalize,
    _score,
)


def read_block(tp: TermPostings, bi: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(docs, tfs, doc_lens) of block ``bi``: the ``block_offsets``
    slice of the term's decoded arrays, counted as one block read
    (``TermPostings.read_blocks``)."""
    lo, hi = tp.block_offsets[bi], tp.block_offsets[bi + 1]
    return tuple(a[lo:hi] for a in tp.read_blocks(np.array([bi])))


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
        d, t, L = read_block(self.tp, bi)
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
