"""numpy query kernels over block-structured posting lists.

These are the engine's custom operators — the part of the reference
Spark genuinely lacks (cursor-based dynamic pruning,
query/algorithm/*.hpp). They run inside the executor's Python groups
(executor.py): every executor runs many queries per ``applyInArrow``
cogroup over term postings decoded once per batch, columnar
(codecs/columns.py). Kernels never decode payload bytes and keep no
cursor: each works on whole decoded term arrays, and the blocks a
reference cursor would touch are counted as reads (Profiler;
TermPostings.read_blocks / decode_all). All array math is vectorized,
and Python work is per TERM (per term and round in _interval_sweep),
never per block or per posting: _lookup scores a term's candidates
with one searchsorted over its decoded docs, _aggregate sums into a
dense docID accumulator (a sort only over sparse spans), and
_finalize cuts to the k-th score with np.partition before its
lexsort. The reference's per-posting cursor loops live in
tests/daat_reference.py as the agreement baseline.

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
                      interval sweep (_interval_sweep): bound-ordered
                      rounds, Python work per term per round
- block_max_wand_kernel  BMW (block_max_wand_query.hpp:8-167), the
                      same sweep over block-max interval bounds
- maxscore_kernel / block_max_maxscore_kernel  MaxScore
                      (maxscore_query.hpp:13-143) and BMM
                      (block_max_maxscore_query.hpp:9-99): one body,
                      _maxscore, whose survivor bound is the term
                      maxima or, for BMM, the block maxima
- block_max_ranked_and_kernel  ranked conjunction with block-max
                      skipping (block_max_ranked_and_query.hpp:9-86):
                      block-bound filter of the shortest list's docs,
                      then one _lookup per term
- adaptive_kernel     per-query choice between ranked_or (few total
                      postings) and block_max_maxscore, from pre-decode
                      metadata only (choose_algorithm)
"""

from __future__ import annotations

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
      the decoded arrays, counted only by TermPostings.read_blocks
      and decode_all (once per term, or per term and round): the
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
    ``block_offsets[bi]:block_offsets[bi + 1]``. Doc lengths are
    stored inline (segments.py len_bytes) — the wand_data.hpp:38-117
    design of keeping lengths WITH the index data — so no kernel ever
    needs a driver-side doc-length array.
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

    def read_blocks(self, bi: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The term's whole (docs, tfs, doc_lens), with the distinct
        blocks ``bi`` counted as read: a caller that indexes the term
        arrays directly touches postings of those blocks only."""
        Profiler.blocks_read += len(bi)
        Profiler.postings_read += int(self.block_count[bi].sum())
        return self.decoded

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
    double scores = micros / 1e6 (exact, deterministic).

    With more than k candidates, ``np.partition`` first finds the k-th
    micro and only candidates scoring at least that (and > 0) reach the
    lexsort: every tie at the k-th score survives the cut, so the
    doc-asc tie-break sees exactly the rows it would have seen uncut."""
    micros = np.asarray(micros, dtype=np.int64)
    floor = 1
    if len(micros) > k:
        floor = max(floor, int(np.partition(micros, -k)[-k]))
    keep = micros >= floor
    docs, micros = docs[keep], micros[keep]
    order = np.lexsort((docs, -micros))[:k]
    return docs[order], micros[order].astype(np.float64) / MICRO


def _aggregate(all_docs: np.ndarray, all_scores: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(unique docs ascending, int64 score sums) of concatenated
    per-term postings. A docID span of at most 4x the postings count
    sums into a dense int64 accumulator over [min_doc, max_doc] (no
    sort); a sparser span (in-process callers, a whole-docID-space
    walk) takes the ``np.unique`` sort, so cost stays O(postings)
    either way. Both are integer-exact and return the same arrays.

    Measured on a 4-core box over ``query_batch``'s 8 batches
    replayed in process (seeds 1 / 3): the dense path takes all but
    4-5% of the postings under ``adaptive`` and 0.3-0.4% under
    ``ranked_or``; sort-only raises walk_s by 11% / 27% (``adaptive``)
    and 37% / 56% (``ranked_or``). Per call, the dense sum beats the
    sort up to a span of 8-16x the postings at 16k postings and
    32-256x at 2k or fewer; 4x sits below every crossover, and walk_s
    is flat for bounds from 2x to 16x."""
    if all_docs.size == 0:
        return all_docs, all_scores
    lo = int(all_docs.min())
    span = int(all_docs.max()) - lo + 1
    if span <= 4 * all_docs.size:
        off = all_docs - lo
        sums = np.zeros(span, dtype=np.int64)
        np.add.at(sums, off, all_scores)
        present = np.zeros(span, dtype=bool)
        present[off] = True
        at = np.flatnonzero(present)
        return (at + lo).astype(all_docs.dtype, copy=False), sums[at]
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
    searchsorted per term. Intervals are then consumed in DESCENDING
    bound order, in geometrically growing rounds: per round and term,
    the postings inside the round's intervals are one boolean gather
    over the term's posting->interval map (computed once), scored in
    one ``_score`` call; the round's scores raise θ, and the first
    interval whose bound fails ``> θ`` ends the query (bounds are
    sorted, so all later intervals fail too).

    Python cost is per (round, term), never per block or per posting,
    while the pruning decisions are the cursor algorithms' own: a
    skipped doc has true score <= interval bound <= θ = k-th − eps,
    exactly the cursor loop's ``> threshold`` test, so the top-k (incl.
    docID tie-breaks) is identical to the DAAT form (the cursor loops
    in tests/daat_reference.py, agreement-tested on the gate workload).
    A block counts as read once, in the first round that chooses an
    interval inside it; a single term's intervals are its blocks, so
    it reads a round's blocks at a time."""
    terms = [t for t in terms if len(t.block_count)]
    if not terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    ends = np.unique(np.concatenate([t.block_max_doc for t in terms]))
    n_iv = len(ends)
    ubs = np.zeros(n_iv, dtype=np.float64)
    # per term: interval -> block, posting -> interval, and the blocks
    # read so far (the slot past the last block holds nothing to read)
    term_bi, post_iv, seen = [], [], []
    for t in terms:
        nb = len(t.block_count)
        bi = np.searchsorted(t.block_max_doc, ends, side="left")
        bound = t.block_max_score if block_level else np.full(nb, t.max_score)
        ubs += np.append(bound, 0.0)[bi]
        term_bi.append(bi)
        post_iv.append(np.searchsorted(ends, t.decoded[0], side="left"))
        seen.append(np.zeros(nb + 1, dtype=bool))
        seen[-1][nb] = True
    order = np.argsort(-ubs, kind="stable")
    ubs_sorted = ubs[order]
    theta = float(init_threshold)
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
            # flat-score/no-pruning query — finish in ONE round
            # (≈ exhaustive TAAT cost) instead of re-masking every
            # geometric round.
            hi = n_iv
        else:
            hi = min(pos + batch, cut)
        chosen = order[pos:hi]
        chosen_mask[chosen] = True
        parts_d, parts_s = [], []
        for ti, t in enumerate(terms):
            new = np.unique(term_bi[ti][chosen])
            new = new[~seen[ti][new]]
            seen[ti][new] = True
            docs, tfs, lens = t.read_blocks(new)
            keep = chosen_mask[post_iv[ti]]
            parts_d.append(docs[keep])
            parts_s.append(_score(t, tfs[keep], lens[keep], stats))
        chosen_mask[chosen] = False
        pos = hi
        batch *= 4
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
    (see _interval_sweep)."""
    return _interval_sweep(terms, k, stats, init_threshold, block_level=False)


def block_max_wand_kernel(terms: list[TermPostings], k: int,
                          stats: Stats,
                          init_threshold: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """BMW (block_max_wand_query.hpp:8-167), batched: the shallow
    block-max check becomes the per-interval bound and the "jump to
    the next block boundary" becomes interval skipping (see
    _interval_sweep)."""
    return _interval_sweep(terms, k, stats, init_threshold, block_level=True)


def _lookup(tp: TermPostings, docs: np.ndarray, partial: np.ndarray,
            stats: Stats) -> np.ndarray:
    """Add ``tp``'s scores of the sorted candidates ``docs`` into
    ``partial`` (the reference's lookup cursors,
    maxscore_query.hpp:58-126) in one pass per term: one
    ``searchsorted`` of the candidates over the term's decoded docs,
    one ``_score`` call on the hits. The blocks counted as read are
    those a cursor would touch, one per candidate docID range: the
    distinct ``searchsorted(block_max_doc, docs)`` indices below the
    block count (sorted candidates make them non-decreasing), with
    their ``block_count`` postings. Returns the mask of candidates the
    term holds."""
    bi = np.searchsorted(tp.block_max_doc, docs, side="left")
    bi = bi[:np.searchsorted(bi, len(tp.block_max_doc), side="left")]
    bi = bi[np.flatnonzero(np.diff(bi, prepend=-1))]
    if not len(bi):
        return np.zeros(len(docs), dtype=bool)
    t_docs, t_tfs, t_lens = tp.read_blocks(bi)
    pos = np.minimum(np.searchsorted(t_docs, docs), len(t_docs) - 1)
    hit = t_docs[pos] == docs
    if hit.any():
        at = pos[hit]
        partial[hit] += _score(tp, t_tfs[at], t_lens[at], stats)
    return hit


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
    < θ <= k-th score - slack.

    Every phase is a numpy pass per term (whole-term decodes, one
    block-bound searchsorted, one _lookup), so Python cost grows with
    the query's terms, not its blocks (pinned by
    tests/test_per_term_lookup.py)."""
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
    (block_max_ranked_and_query.hpp:9-86), per term. The shortest
    list's docs are the candidates. A candidate past any list's last
    block, or whose summed block maxima (one searchsorted over each
    list's block-max docIDs — no read) cannot beat ``init_threshold``,
    is dropped: the reference's check before it aligns the cursors.
    The survivors are intersected list by list in ascending df, each a
    ``_lookup`` that scores the candidates the list holds and drops
    the rest, so a list reads only the blocks holding a candidate still
    alive. θ is not raised from the scored docs: the intersection is
    scored exactly and cut once by ``_finalize``."""
    if not terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    terms = sorted(terms, key=lambda t: t.df)  # shortest list drives
    docs = terms[0].decoded[0]
    ub = np.zeros(len(docs), dtype=np.float64)
    for tp in terms:  # past a list's last block the bound is -inf
        bi = np.searchsorted(tp.block_max_doc, docs, side="left")
        ub += np.append(tp.block_max_score, -np.inf)[bi]
    docs = docs[ub > init_threshold]
    partial = np.zeros(len(docs), dtype=np.int64)
    for tp in terms:
        hit = _lookup(tp, docs, partial, stats)
        docs, partial = docs[hit], partial[hit]
    return _finalize(docs, partial, k)


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
# them. On the Zipf query_batch workload (offline replay of its 8
# batches, one thread, best of 5, 4-core box; ROADMAP.md) the per-term
# helpers (_lookup, _aggregate, _finalize) bring the routes together:
# walk_s of ranked_or / adaptive / block_max_maxscore is 0.26 / 0.30 /
# 0.31 s at seed 1 and 0.29 / 0.25 / 0.32 s at seed 3, against 0.38 /
# 0.55 / 0.60 and 0.37 / 0.74 / 0.67 s with the per-block lookup, so
# no value wins there by more than the replay's noise. One 4,000-doc
# corpus is too narrow to set the value from, so it stays until a
# larger synth index re-derives it.
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
