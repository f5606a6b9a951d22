"""Threshold estimation: the reference fork's k-th-score estimator families.

The reference fork's research theme (tools/kth_threshold*.cpp, ~24
variants, SURVEY §2.13): estimate a query's k-th best final score
before running it, so WAND/BMW/MaxScore start pruning from a warm heap
threshold instead of 0. Every family here is SOUND — each estimate
sums or maxes exact, non-negative score components over a subset of
the query's terms or docs, so it never exceeds the true k-th and no
safe-mode rerun is needed (unlike the reference's risky estimates,
tools/queries.cpp:74-90) — except sampling, the fork's risky analysis
tool (executor.topk_search_safe reruns its under-filled queries).

Families: the single-term cache (kth_score_cache, estimate_thresholds)
and its budgeted form; term pairs; sampling; combine-did (per-term
prefix SUM), combine-did-new (comb prefix MAX), substructure (deduped
per-term components of comb prefixes); intersection (set-partition
slicings); lookup (budgeted drain + exact lookup); and the simulators'
evaluation protocol (real_kth_thresholds, quality_ranked,
estimator_quality).

Every family is composed from the same private primitives — a new
estimator composes them too, instead of writing its own window:
- ``_micro_postings``: the one BM25 micro scoring expression,
  optionally weighted by a workload's per-query term weights;
- ``_top_n_per_group``: the two-phase salted top-n, the module's only
  window;
- the comb cache, ``_gram_comb_members`` + ``_comb_prefix``: every
  <= gram subset ("comb") of a query's terms and the top-n (did,
  score) prefix of its disjunctive sub-query;
- ``_kth_tail``: the per-query k-th best with the forks' sentinels
  (getTopKFromMap, tools/kth_threshold_intersection_new.cpp:211-232);
- ``_at_k`` / ``_cached_kth`` (the per-k guards) and ``_most_queried``
  (the budget forks' exist-list selection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pisa_spark.functions.scoring import micro_sql
from pisa_spark.index import InvertedIndex

# First-phase salt count of _top_n_per_group — the SCALE KNOB: size it
# so head_list_len / _SALTS postings fit one task (64 suits the test
# corpora; a 10^12-doc deployment wants ~2^16+). Output is identical
# for every value.
_SALTS = 64

_COMB_GRAM_ERROR = ("gram combs support 1 <= gram <= 4 "
                    "(the fork's single..quadruplet prefix files)")


def _at_k(parsed: DataFrame, k: int) -> DataFrame:
    """The workload rows whose query asks this ``k`` (every row when
    ``parsed`` carries no k): an estimate computed for one k is not a
    bound for a query asking another, so such queries get none."""
    if "k" in parsed.columns:
        return parsed.filter(F.col("k") == F.lit(k))
    return parsed


def _cached_kth(parsed: DataFrame, cache: DataFrame) -> DataFrame:
    """``parsed`` left-joined to a broadcast single-term cache, with
    ``kth_micro`` nulled where the cache was built for a different k
    than the query asks (a smaller-k cache returns a higher k'-th
    score, which is NOT a lower bound for the query's k).

    Both sides carry ``term_id`` from the same lexicon relation, so
    the cache side is re-aliased to fresh attributes first: on an
    index built from checkpointed pages Spark's own re-numbering of
    that shared attribute fails the join ("conflicting references")."""
    cache = cache.select([F.col(c).alias(c) for c in cache.columns])
    joined = parsed.join(F.broadcast(cache), "term_id", "left")
    if "cache_k" in cache.columns and "k" in parsed.columns:
        joined = joined.withColumn(
            "kth_micro",
            F.when(F.col("cache_k") == F.col("k"), F.col("kth_micro")),
        )
    return joined


def _micro_postings(index: InvertedIndex, parsed: DataFrame | None = None,
                    postings: DataFrame | None = None) -> DataFrame:
    """Postings scored with the engine's micro BM25 as ``m`` — the one
    scoring expression of this module. Without ``parsed``: every
    posting, unweighted (term_id, doc_id, m). With it: (query_id,
    term_id, doc_id, m), each workload term's postings scaled by the
    query's term weight in the SAME micro quantization the kernels
    use; the broadcast of the tiny parsed side prunes the postings
    scan to workload terms. ``postings`` overrides the index table
    (the sampling fork passes a deterministic doc sample)."""
    from pisa_spark.build.segments import scored_postings
    from pisa_spark.functions.scoring import bm25_sql_expr

    scored = scored_postings(
        postings if postings is not None else index.postings,
        index.doc_sizes, index.lexicon,
        index.num_docs, index.avg_len,
    )
    bm25 = bm25_sql_expr(
        tf="tf", df="df", doc_len="doc_len",
        num_docs=str(float(index.num_docs)), avg_len=str(float(index.avg_len)),
        k1=index.config.bm25.k1, b=index.config.bm25.b,
    )
    if parsed is None:
        return scored.withColumn("m", F.expr(micro_sql(bm25)))
    return (
        scored.join(
            F.broadcast(parsed.select("query_id", "term_id", "weight")),
            "term_id",
        )
        .withColumn("m", F.expr(micro_sql(bm25, weight="weight")))
        .select("query_id", "term_id", "doc_id", "m")
    )


def _top_n_per_group(df: DataFrame, keys: list[str], n: int,
                     value_col: str) -> DataFrame:
    """Rows ranked <= ``n`` per ``keys`` group under (value DESC,
    doc_id ASC), rank exposed as ``rn`` — the two-phase salted
    window behind every cache, prefix and k-th in this module: a
    per-(group, salt) partial top-n first (any salt's top-n
    superset-contains the group-global top-n members that landed in
    it, for ANY salt count), then the exact window over the <=
    _SALTS*n survivors, so no single window partition ever spans a
    posting-list-sized group (at 10^12 docs a head term has ~10^11
    postings — one partition would be a straggler)."""
    salted = df.withColumn("salt", F.col("doc_id") % _SALTS)
    w1 = Window.partitionBy(*keys, "salt").orderBy(
        F.col(value_col).desc(), F.col("doc_id").asc()
    )
    cand = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= n)
    )
    w2 = Window.partitionBy(*keys).orderBy(
        F.col(value_col).desc(), F.col("doc_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= n)
        .drop("salt", "rn1")
    )


def _doc_sums(pm: DataFrame) -> DataFrame:
    """(query_id, doc_id, ms): each doc's disjunctive score summed over
    the workload micro postings ``pm`` it appears in."""
    return pm.groupBy("query_id", "doc_id").agg(
        F.sum("m").cast("long").alias("ms")
    )


def _most_queried(rows: DataFrame, key: str, budget: int) -> DataFrame:
    """The ``budget`` values of ``key`` used by the most distinct
    queries of ``rows`` (query_id, key, ...), ties by ``key`` ASC in
    its own type — terms as numbers, combs as strings: the budget
    forks' deterministic exist-list selection
    (kth_threshold_budget_origional.cpp:73-125)."""
    return (
        rows.select("query_id", key).distinct()
        .groupBy(key)
        .agg(F.count("*").alias("qn"))
        .orderBy(F.col("qn").desc(), F.col(key).asc())
        .limit(budget)
        .select(key)
    )


def _gram_comb_members(parsed: DataFrame, gram: int) -> DataFrame:
    """(query_id, comb_key, term_id): every comb (subset) of 1..``gram``
    of the query's distinct terms, keyed by the ascending '-'-joined
    member ids — the forks' gram enumeration
    (kth_threshold_combine_did_new.cpp getAllPossibleComb :96-146 /
    term_to_string). Workload-sized throughout (<= queries x
    C(n, <=gram) rows); every join is broadcast. Callers validate
    ``gram`` against their own fork's range."""
    qdist = parsed.select("query_id", "term_id").distinct()
    sized = qdist.select(
        "query_id", F.array("term_id").alias("members")
    )
    out = sized
    for _ in range(gram - 1):
        sized = (
            sized.join(F.broadcast(qdist), "query_id")
            .filter(F.col("term_id") > F.element_at("members", -1))
            .select(
                "query_id",
                F.concat("members", F.array("term_id")).alias("members"),
            )
        )
        out = out.unionByName(sized)
    return out.select(
        "query_id",
        F.concat_ws("-", F.col("members").cast("array<string>"))
        .alias("comb_key"),
        F.explode("members").alias("term_id"),
    )


def _comb_prefix(members: DataFrame, pm: DataFrame, n: int) -> DataFrame:
    """(query_id, comb_key, doc_id, ms, rn): the comb cache — each
    comb's top-``n`` (did, score) entries of its own disjunctive
    sub-query (a doc under any member sums the present members'
    weighted micros; union semantics), ranked ``rn`` — the forks'
    single/duplet/triplet/quadruplet prefix files
    (kth_threshold_combine_did_new.cpp:370-428). ``members`` comes
    from _gram_comb_members (possibly budget- or size-filtered), ``pm``
    from _micro_postings. A head-term comb is posting-list sized, so
    the prefix is the two-phase salted top-n."""
    combdoc = (
        pm.join(F.broadcast(members), ["query_id", "term_id"])
        .groupBy("query_id", "comb_key", "doc_id")
        .agg(F.sum("m").cast("long").alias("ms"))
    )
    return _top_n_per_group(combdoc, ["query_id", "comb_key"], n, "ms")


def _kth_tail(parsed: DataFrame, perdoc: DataFrame, k: int, missing: int,
              max_terms: int | None = None) -> DataFrame:
    """(query_id, threshold_micro): the k-th best ``ms`` per query over
    ``perdoc`` (query_id, doc_id, ms) with the forks' pinned tie order
    (ms DESC, doc_id ASC), ``missing`` for every ``parsed`` query
    holding fewer than k docs (getTopKFromMap's sentinel), and -1 for
    queries of more than ``max_terms`` distinct terms (the forks skip
    them before estimating) — the shared tail of every per-query
    estimator."""
    kth = (
        _top_n_per_group(perdoc, ["query_id"], k, "ms")
        .filter(F.col("rn") == k)
        .select("query_id", "ms")
    )
    value = F.coalesce(F.col("ms"), F.lit(missing))
    if max_terms is None:
        qids = parsed.select("query_id").distinct()
    else:
        qids = (
            parsed.select("query_id", "term_id").distinct()
            .groupBy("query_id").agg(F.count("*").alias("n"))
        )
        value = F.when(F.col("n") > max_terms, F.lit(-1)).otherwise(value)
    return qids.join(F.broadcast(kth), "query_id", "left").select(
        "query_id", value.cast("long").alias("threshold_micro"),
    )


def kth_score_cache(index: InvertedIndex, k: int = 10) -> DataFrame:
    """(term_id, kth_micro, cache_k): the k-th best unweighted
    single-term micro score per term; terms with df < k are absent
    (estimate 0). ``cache_k`` records the k the cache was built with —
    ``estimate_thresholds`` only uses entries whose cache_k matches
    the query's k (a cache built with a SMALLER k returns a higher
    k'-th score, which is NOT a lower bound for the query's k)."""
    return (
        _top_n_per_group(_micro_postings(index), ["term_id"], k, "m")
        .filter(F.col("rn") == k)
        .select(
            "term_id",
            F.col("m").alias("kth_micro"),
            F.lit(k).alias("cache_k"),
        )
    )


def estimate_thresholds(parsed: DataFrame, cache: DataFrame) -> DataFrame:
    """parsed(query_id, term_id, weight[, k]) x cache -> (query_id,
    threshold_micro): max over terms of weight-scaled cached k-th
    score. Weight scaling keeps soundness: final(d) >= w_t * s_t(d).

    When both sides carry a k (parsed.k from the workload, cache_k
    from kth_score_cache), entries built for a DIFFERENT k are treated
    as absent (estimate 0) — using a smaller-k cache would be unsound.
    """
    # The cache spans the vocabulary; semi-filter it down to the
    # workload's terms first (broadcast of the tiny term set), then
    # broadcast the filtered cache into the left join — neither join
    # ever hints a vocabulary-sized side.
    qterms = parsed.select("term_id").distinct()
    joined = _cached_kth(parsed, cache.join(F.broadcast(qterms), "term_id"))
    # w * (m-1) < w * true_score*1e6 < weighted_micro + 0.5, so
    # floor(w*(m-1)) never exceeds the weighted micro the kernels
    # compute — w*m alone could, because m rounds half-up.
    est = F.greatest(
        F.lit(0).cast("long"),
        F.floor(
            F.col("weight") * (F.coalesce(F.col("kth_micro"), F.lit(0)) - 1)
        ).cast("long"),
    )
    return joined.select("query_id", est.alias("est")).groupBy("query_id").agg(
        F.max("est").alias("threshold_micro")
    )


def pair_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                        k: int = 10) -> DataFrame:
    """(query_id, pair_micro): the k-th best micro score of each
    query's term-PAIR disjunctions, maxed over the query's pairs —
    the reference fork's pair cache (tools/kth_threshold.cpp:126-138:
    wand over {t_i, t_j}, true_threshold when the heap fills).

    Sound: a pair sub-query's k-th score only ever rises when the
    remaining query terms are added. Scores are computed with the
    query's own weights in the SAME micro quantization the kernels
    use, so the bound is exact-integer tight (no -1 slack needed).
    Pairs come from the workload itself — the budgeted form of the
    fork's pairs file: the comb cache's size-2 combs at depth k.

    Mirrors the single-term cache_k guard: a query whose own ``k``
    differs from this cache's ``k`` gets NO pair estimate (its pair
    k-th score at a different k is not a lower bound for its k), so
    it falls back to estimate_thresholds' own guarded value."""
    parsed = _at_k(parsed, k)
    # a single's comb_key has no '-': keep the pairs only
    pairs = _gram_comb_members(parsed, 2).filter(
        F.col("comb_key").contains("-")
    )
    return (
        _comb_prefix(pairs, _micro_postings(index, parsed), k)
        .filter(F.col("rn") == k)
        .groupBy("query_id")
        .agg(F.max("ms").alias("pair_micro"))
    )


def budget_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                          budget: int, k: int = 10) -> DataFrame:
    """(query_id, threshold_micro): the budget fork family's
    cache-capped estimate (tools/kth_threshold_budget_origional.cpp).
    Only ``budget`` workload terms get a cached single-term k-th
    score — ranked by how many queries use the term (qn DESC,
    term_id ASC: the fork's query-log-frequency "exist terms" gram
    selection, :73-125, made deterministic) — uncached terms
    contribute 0 (a cache MISS, the hit-ratio experiment's subject),
    and a query with a duplicated term is skipped outright with -1
    (ifDupTerm, :31-41: the fork's prefix caches assume distinct
    terms). Still a sound bootstrap for non-skipped queries: every
    cached value is a true k-th single-term score.

    Scale shape: term selection is one tiny workload aggregate; the
    capped cache is kth_score_cache's two-phase top-k restricted to
    <= budget terms (semi-join prunes the postings scan before the
    window), so cost shrinks with the budget — the fork's entire
    point."""
    sel = _most_queried(parsed, "term_id", budget)
    cache = kth_score_cache(index, k=k).join(F.broadcast(sel), "term_id")
    joined = _cached_kth(parsed, cache)
    # Every non-skipped query has weight 1 on every term (a dup is
    # skipped below), so the UNWEIGHTED cached k-th micro equals the
    # kernels' weighted micro exactly — no estimate_thresholds-style
    # floor(w*(m-1)) slack, the bound is exact-integer tight.
    return joined.groupBy("query_id").agg(
        F.when(F.max("weight") > 1, F.lit(-1).cast("long"))
        .otherwise(
            F.max(F.coalesce(F.col("kth_micro"), F.lit(0))).cast("long")
        )
        .alias("threshold_micro")
    )


def sampling_k_prime(k: int, s: float, target_o: float) -> int:
    """The sampling fork's k' selection
    (tools/kth_threshold_sampling_origional.cpp:104-124): the smallest
    k' in [1, k) whose binomial over-estimate probability
    sum_{i=k'}^{k-1} C(k-1,i) s^i (1-s)^(k-1-i) is <= ``target_o``
    for doc-sample rate ``s``; -1 when no k' qualifies (the fork's
    sentinel — every estimate is then 'no estimate')."""
    from math import comb

    for k_prime in range(1, k):
        o = sum(
            comb(k - 1, i) * s**i * (1 - s) ** (k - 1 - i)
            for i in range(k_prime, k)
        )
        if o <= target_o:
            return k_prime
    return -1


def sampling_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                            k: int = 10, sample_mod: int = 10,
                            target_o: float = 0.05) -> DataFrame:
    """(query_id, threshold_micro): the sampling fork family's
    estimate (tools/kth_threshold_sampling_origional.cpp:277-320) —
    run the query over a deterministic 1/``sample_mod`` doc sample
    (``doc_id % sample_mod = 0``, sample_inverted_index's convention)
    at k' = sampling_k_prime(k, 1/sample_mod, target_o) and report the
    k'-th best disjunctive weighted micro score; -1 when the sample
    matches fewer than k' docs (the fork's 'no estimate' sentinel).

    RISKY by construction, unlike every other estimator in this
    module: the sampled k'-th score over-estimates the true k-th final
    score with probability <= ``target_o``, so it must NOT bootstrap a
    kernel without a safe-mode rerun — it is the fork's threshold
    ANALYSIS tool, not a sound bound.

    Scores use FULL-index stats (df, num_docs, avg_len), so a sampled
    doc scores exactly what it scores in the full index — which is
    what makes sampling_k_prime's binomial bound exact: the estimate
    over-shoots iff >= k' of the full top-(k-1) docs land in the
    sample, each independently with probability 1/sample_mod.

    Scale shape: the sample filter lands in the postings scan
    (Catalyst pushdown), the per-query k'-th is the shared tail's
    two-phase salted window, and nothing query-independent is
    materialized."""
    parsed = _at_k(parsed, k)
    k_prime = sampling_k_prime(k, 1.0 / sample_mod, target_o)
    if k_prime < 0:
        return parsed.select("query_id").distinct().select(
            "query_id", F.lit(-1).cast("long").alias("threshold_micro")
        )
    sample = index.postings.filter(F.col("doc_id") % sample_mod == 0)
    return _kth_tail(
        parsed, _doc_sums(_micro_postings(index, parsed, sample)),
        k_prime, missing=-1,
    )


def combine_did_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                               d: int = 16, k: int = 10,
                               budget: int | None = None) -> DataFrame:
    """(query_id, threshold_micro): the combine-did fork family's
    estimate (tools/kth_threshold_intersection_new.cpp:211-232,
    354-440 and the *_combine_did tools): each workload term's top-``d``
    postings form a cached prefix of (did, score) entries; per query,
    every did seen in ANY of its terms' prefixes gets the SUM of its
    cached per-term scores (uncached (term, did) components contribute
    0), and the estimate is the k-th best combined sum (score DESC,
    did ASC — the reference's sort made tie-deterministic); -2 when
    fewer than k dids are cached (getTopKFromMap's sentinel).

    SOUND, unlike the sampling estimate: a did's combined sum only
    omits components of its true score, so the k docs achieving the
    top-k combined sums each truly score >= the estimate — usable as a
    kernel bootstrap. Tighter than the single-term cache whenever two
    of a query's terms share a prefix did (the fork's whole point).

    Singles-gram form (the comb cache's gram-1 combs); the reference's
    termConsidered >= 2 modes are combine_did_new /
    substructure_kth_thresholds.

    ``budget`` models the BUDGETED combine-did fork
    (tools/kth_threshold_budget_combine_did.cpp:100-145,254-262: the
    exist-list files hold only the budgeted most-frequent grams, so
    uncached grams contribute no prefix): when set, only the
    ``budget`` most-queried workload terms (qn DESC, term_id ASC —
    budget_kth_thresholds' deterministic exist-term selection) get
    cached prefixes; the others contribute 0 to every did. Still
    sound — dropping components only shrinks the combined sums.

    Scale shape: everything after the comb prefixes is prefix-sized
    (<= terms * d rows per query), not posting-list-sized; the budget
    cap is one tiny workload aggregate (cost SHRINKS with the budget —
    the fork's whole point)."""
    parsed = _at_k(parsed, k)
    singles = _gram_comb_members(parsed, 1)
    if budget is not None:
        singles = singles.join(
            F.broadcast(_most_queried(parsed, "term_id", budget)), "term_id"
        )
    prefix = _comb_prefix(singles, _micro_postings(index, parsed), d)
    combined = prefix.groupBy("query_id", "doc_id").agg(
        F.sum("ms").cast("long").alias("ms")
    )
    return _kth_tail(parsed, combined, k, missing=-2)


def combine_did_new_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                                   d: int = 16, k: int = 10,
                                   gram: int = 2,
                                   budget: int | None = None) -> DataFrame:
    """(query_id, threshold_micro): the combine-did-NEW fork's
    estimate (tools/kth_threshold_combine_did_new.cpp:211-232,
    340-432 and its *_budget variant): every comb of <= ``gram`` of
    the query's terms is cached as the top-``d`` (did, score) prefix
    of its own disjunctive sub-query; per did, competing cached comb
    scores combine by MAX (:417-421 — unlike the original
    combine-did's per-term SUM); the estimate is the k-th best
    combined value (getTopKFromMap :211-232), -2 when fewer than k
    dids are cached.

    SOUND: each cached comb score is the did's exact sub-query score
    over a SUBSET of the query's terms, components are >= 0, so the
    max over combs is <= the true final score. EXACT when gram >= n
    and the did survives the full-query comb's top-d (pinned by
    pytest). Tighter than the original combine-did whenever a
    pair/triple comb's top-d holds a did that no member term's own
    prefix holds; never tighter than substructure (which sums the
    union of cached components instead of taking the best single
    comb — see substructure_kth_thresholds).

    ``budget`` models the budgeted variant
    (kth_threshold_combine_did_new_budget.cpp load_lexicon: only
    grams on the freq list have cached prefixes): keep the ``budget``
    most-queried combs (distinct-query count DESC, comb_key ASC —
    the same deterministic exist-list selection as the budget fork);
    uncached combs contribute no prefix entries.

    Deviation, documented: the tool pushes -1 for queries whose TRUE
    result set holds < k docs (its simulator skips them before
    estimating, :368-374); that coupling belongs to the quality
    harness (estimator_quality), not the estimator — here such
    queries estimate from their caches like any other.

    Scale shape: comb enumeration is workload-sized; everything after
    the comb prefixes is prefix-sized (<= combs x d rows per query)."""
    if gram not in (1, 2, 3, 4):
        raise ValueError(_COMB_GRAM_ERROR)
    parsed = _at_k(parsed, k)
    members = _gram_comb_members(parsed, gram)
    if budget is not None:
        members = members.join(
            F.broadcast(_most_queried(members, "comb_key", budget)),
            "comb_key",
        )
    prefix = _comb_prefix(members, _micro_postings(index, parsed), d)
    best = prefix.groupBy("query_id", "doc_id").agg(F.max("ms").alias("ms"))
    return _kth_tail(parsed, best, k, missing=-2)


def substructure_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                                d: int = 16, k: int = 10,
                                gram: int = 2) -> DataFrame:
    """(query_id, threshold_micro): the existence-substructure fork's
    estimate (tools/kth_threshold_existance_substructure_test.cpp:
    211-232, 380-432): the same <= ``gram`` comb prefixes as
    combine-did-new, but each cached prefix entry is unpacked into
    its per-TERM score components (did_t_map[did][term] = score,
    :417-422 — a term seen in several overlapping combs counts ONCE);
    per did, the DISTINCT cached term components SUM (:214-224); the
    estimate is the k-th best, -2 when fewer than k dids are cached.

    SOUND: the distinct cached terms are a subset of the query's
    terms and each component is the did's exact per-term score, so
    the sum is <= the true final score. Dominates combine-did-new at
    equal (d, gram) — the union of a did's cached components covers
    every single comb's member set (pinned by pytest); the candidate
    did set is identical (same prefixes).

    Scale shape: the component unpack is a prefix-sized broadcast
    semi-join back into the workload-pruned postings scan (the
    reference reads the score bytes it already holds; columnar
    postings re-read them instead of widening every prefix row)."""
    if gram not in (1, 2, 3, 4):
        raise ValueError(_COMB_GRAM_ERROR)
    parsed = _at_k(parsed, k)
    members = _gram_comb_members(parsed, gram)
    pm = _micro_postings(index, parsed)
    # per-term components of every cached entry: a (did, term) pair
    # absent from pm is the reference's zero score byte (adds 0)
    comps = (
        _comb_prefix(members, pm, d).select("query_id", "comb_key", "doc_id")
        .join(F.broadcast(members), ["query_id", "comb_key"])
        .select("query_id", "term_id", "doc_id")
        .distinct()
    )
    sums = _doc_sums(
        pm.join(F.broadcast(comps), ["query_id", "term_id", "doc_id"])
    )
    return _kth_tail(parsed, sums, k, missing=-2)


# Set-partition "slicings" of an n-distinct-term query, keyed by n —
# the intersection fork's hand-enumerated list
# (tools/kth_threshold_intersection.cpp getAllPossibleSlicing,
# :114-204), reproduced EXACTLY: each slicing is a list of combs, each
# comb a list of 0-based positions into the query's sorted term list.
# n=2..4 enumerate every set partition (2, 5, 15); the n=5 list has 37
# entries (34 distinct of Bell(5)=52 — the reference's 2+2+1 block
# repeats 3 partitions and misses 8, and it omits the 3+1+1 family
# entirely; duplicates are value-irrelevant under the per-did MAX,
# and parity means we transcribe the list verbatim — pinned byte-wise
# against the C++ by test_intersection_slicings_are_valid_partitions).
# n=1 has NO slicings (the tool's if-chain starts at 2), so 1-term
# queries estimate -2; n>5 queries are skipped with -1 before slicing
# (:358-363).
INTERSECTION_SLICINGS: dict[int, list[list[list[int]]]] = {
    2: [[[0, 1]], [[0], [1]]],
    3: [
        [[0, 1, 2]],
        [[0], [1], [2]],
        [[0, 1], [2]], [[0, 2], [1]], [[1, 2], [0]],
    ],
    4: [
        [[0, 1, 2, 3]],
        [[0], [1], [2], [3]],
        [[0, 1], [2, 3]], [[0, 2], [1, 3]], [[1, 2], [0, 3]],
        [[0, 1], [2], [3]], [[0, 2], [1], [3]], [[0, 3], [1], [2]],
        [[1, 2], [0], [3]], [[1, 3], [0], [2]], [[2, 3], [0], [1]],
        [[0, 1, 2], [3]], [[0, 1, 3], [2]], [[0, 2, 3], [1]],
        [[1, 2, 3], [0]],
    ],
    5: [
        [[0, 1, 2, 3, 4]],
        [[0], [1], [2], [3], [4]],
        [[0, 1], [2, 3, 4]], [[0, 2], [1, 3, 4]], [[0, 3], [1, 2, 4]],
        [[0, 4], [1, 2, 3]], [[1, 2], [0, 3, 4]], [[1, 3], [0, 2, 4]],
        [[1, 4], [0, 2, 3]], [[2, 3], [0, 1, 4]], [[2, 4], [0, 1, 3]],
        [[3, 4], [0, 1, 2]],
        [[0, 1], [2, 3], [4]], [[0, 2], [1, 3], [4]],
        [[0, 3], [1, 2], [4]], [[0, 4], [1, 2], [3]],
        [[1, 2], [0, 3], [4]], [[1, 3], [0, 2], [4]],
        [[1, 4], [0, 2], [3]], [[2, 3], [0, 1], [4]],
        [[2, 4], [0, 1], [3]], [[3, 4], [0, 1], [2]],
        [[0, 1], [2], [3], [4]], [[0, 2], [1], [3], [4]],
        [[0, 3], [1], [2], [4]], [[0, 4], [1], [2], [3]],
        [[1, 2], [0], [3], [4]], [[1, 3], [0], [2], [4]],
        [[1, 4], [0], [2], [3]], [[2, 3], [0], [1], [4]],
        [[2, 4], [0], [1], [3]], [[3, 4], [0], [1], [2]],
        [[0, 1, 2, 3], [4]], [[0, 1, 2, 4], [3]], [[0, 1, 3, 4], [2]],
        [[0, 2, 3, 4], [1]], [[1, 2, 3, 4], [0]],
    ],
}


def slicing_position_rows() -> list[tuple[int, int, int, int]]:
    """INTERSECTION_SLICINGS flattened to (n, slicing_id, comb_id,
    pos) rows — the literal inline table both engines' SQL joins
    against a per-query (pos -> term_id) rank, so slicing enumeration
    is pure relational algebra with no array indexing (which the two
    dialects disagree on: Spark [] is 0-based, DuckDB 1-based)."""
    rows = []
    for n, slicings in sorted(INTERSECTION_SLICINGS.items()):
        for sid, slicing in enumerate(slicings):
            for cid, comb in enumerate(slicing):
                for pos in comb:
                    rows.append((n, sid, cid, pos))
    return rows


def intersection_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                                d: int = 16, k: int = 10,
                                gram: int = 2) -> DataFrame:
    """(query_id, threshold_micro): the intersection fork family's
    slicing estimate (tools/kth_threshold_intersection.cpp:114-251 and
    the *_budget_lookup variant): enumerate the fork's set-partition
    slicings of the query's sorted distinct terms
    (INTERSECTION_SLICINGS); every comb of <= ``gram`` terms is cached
    as the top-``d`` (did, score) prefix of its own disjunctive
    sub-query (the tool's all_pairs/all_triples idealization of its
    exist-term files; ``gram`` is its termConsidered knob, and the
    budget_lookup fork's capped exist-list is the budget tag's
    mechanics applied to combs); per slicing, a did seen in any of the
    slicing's cached combs scores the SUM of those cached comb scores
    (:222-241, uncached combs contribute nothing); per did, slicings
    compete by MAX (:243-250); the estimate is the k-th best
    (getTopKFromMap), -2 when fewer than k dids are cached, and -1 for
    queries of > 5 distinct terms (:358-363, skipped before slicing).
    1-term queries estimate -2 (the slicing list starts at n=2).

    SOUND like combine_did: a slicing partitions a SUBSET of the
    query's terms, each cached comb score is the exact sub-query score
    of that did, and score components are >= 0, so every slicing sum
    (hence the max) is <= the did's true final score. Tighter than
    combine_did whenever a pair/triple comb's top-d holds a did that
    neither member term's own prefix holds (the fork's whole point);
    the all-singles slicing IS combine_did, so it never does worse on
    2-5-term queries. Ties are pinned (ms DESC, doc_id ASC) where the
    reference's unordered_map iteration is nondeterministic.

    Deviation, documented: the tool slices raw term positions
    (duplicates and all); this module's parsed workload is
    distinct-terms + weight (query/parser.py), so slicings are over
    DISTINCT terms and comb scores use the query's weighted micro
    scores — consistent with every other estimator here.

    Scale shape: slicing enumeration is a 264-row literal inline
    table joined per query (no Python per row); the comb cache is
    built once per query for its 2-5-term queries only (a comb shared
    by several slicings is one prefix, joined by comb_key), so long
    queries never enumerate C(n, <=5) combs; everything after the
    prefixes is comb-count x d sized, not posting-list sized."""
    parsed = _at_k(parsed, k)
    slice_pos = parsed.sparkSession.createDataFrame(
        slicing_position_rows(), "n INT, slicing_id INT, comb_id INT, pos INT"
    )
    # each query's ascending distinct terms: pos indexes the slicing
    # tables into this list
    qterms = parsed.groupBy("query_id").agg(
        F.array_sort(F.collect_set("term_id")).alias("terms")
    )
    # the slicings' combs of <= gram terms, keyed like the comb cache
    # (queries without a slicing table, n = 1 or n > 5, have none)
    combkey = (
        qterms.select(
            "query_id", F.size("terms").alias("n"),
            F.posexplode("terms").alias("pos", "term_id"),
        )
        .join(F.broadcast(slice_pos), ["n", "pos"])
        .groupBy("query_id", "slicing_id", "comb_id")
        .agg(
            F.concat_ws("-", F.array_sort(F.collect_list("term_id")))
            .alias("comb_key"),
            F.count("*").alias("csz"),
        )
        .filter(F.col("csz") <= gram)
    )
    sliced = parsed.join(
        F.broadcast(
            qterms.filter(F.size("terms").between(2, 5)).select("query_id")
        ),
        "query_id",
    )
    prefix = _comb_prefix(
        _gram_comb_members(sliced, min(gram, 5)),
        _micro_postings(index, sliced), d,
    )
    # per-slicing did sums over the cached prefixes, then max across
    # slicings, then the per-query k-th best
    slsum = (
        F.broadcast(combkey).join(prefix, ["query_id", "comb_key"])
        .groupBy("query_id", "slicing_id", "doc_id")
        .agg(F.sum("ms").cast("long").alias("ms"))
    )
    best = slsum.groupBy("query_id", "doc_id").agg(F.max("ms").alias("ms"))
    return _kth_tail(parsed, best, k, missing=-2, max_terms=5)


def lookup_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                          budget: int = 64, k: int = 10,
                          gram: int = 1,
                          sample_mod: int | None = None) -> DataFrame:
    """(query_id, threshold_micro): the lookup-pipeline fork family's
    estimate (tools/kth_threshold_intersection_budget_lookup.cpp:
    690-835 and threshold/threshold_lookup_whole_pipeline.cpp) — the
    fork's end-to-end "real-world" estimator:

    1. CANDIDATES: drain the ``budget`` best cached (comb, did,
       score) prefix entries across ALL the query's cached combs (its
       score-ordered max-heap, :744-790 — combs are every <= ``gram``
       subset of the query's terms, getAllPossibleComb); the distinct
       dids drained are the candidate set.
    2. LOOKUP: for every candidate, fetch each query term's EXACT
       score from the inverted index
       (lookup_bm25_score_skip_block_fast, :791-818), so every
       candidate carries its full disjunctive score.
    3. The estimate is the k-th best full candidate score; -2 when
       fewer than k candidates were drained (:822-834), -1 for
       queries of > 16 terms (MaxQueryLen, :719).

    SOUND: candidates are a subset of the matching docs and each
    carries its exact full score, so their k-th best is <= the true
    k-th. With an unbounded budget at gram=1 the candidate set is
    every matching doc and the estimate is EXACT (pinned by pytest).

    Deviations, documented: the heap pops strictly by cached score
    with unordered tie-break and does not charge the per-comb head
    entries against the budget — set-wise we take the global
    top-``budget`` prefix rows per query with pinned ties (ms DESC,
    doc_id ASC; rows tied on both name the same did, so the drained
    did SET is the same whichever comb's row is drained); scores stay
    in the engine's shared micro quantization rather than the fork's
    short-quantized lookup units; and combs are over distinct weighted
    terms like every estimator here. gram in {1, 2} (singles /
    singles+pairs) — the fork's experiments run termConsidered in the
    same range.

    ``sample_mod`` models the SAMPLING-lookup fork
    (tools/kth_threshold_sampling_lookup.cpp:380-430,820-835: the
    drain heap skips any did outside a precomputed doc sample): when
    set, only prefix entries with ``doc_id % sample_mod = 0``
    (sample_inverted_index's deterministic convention) may be
    drained — the LOOKUP still fetches exact FULL scores, so the
    estimate stays a sound lower bound; sampling only shrinks the
    candidate set. That fork's remaining nuance — a per-term cap of
    ``targetDid`` lookups chosen by sequentially-updated partial
    sums (:867-895) — is a latency experiment around the same
    primitive and is not modeled: lookups here are set-oriented, one
    semi-join per batch rather than per-term RPC rounds.

    Scale shape: per-comb prefixes are the comb cache at depth N =
    budget (what one comb can contribute); the global drain is the
    same two-phase top-N over <= combs x budget rows; the lookup is
    one semi-join of the candidate set against the workload-pruned
    postings scan — never a full-index pass."""
    if gram not in (1, 2):
        raise ValueError("lookup_kth_thresholds supports gram 1 or 2")
    parsed = _at_k(parsed, k)
    pm = _micro_postings(index, parsed)
    # the sampled drain: only in-sample dids may become candidates;
    # their LOOKUP below still reads full exact scores from pm
    drained = pm if sample_mod is None else pm.filter(
        F.col("doc_id") % sample_mod == 0
    )
    prefix = _comb_prefix(_gram_comb_members(parsed, gram), drained, budget)
    candidates = (
        _top_n_per_group(prefix, ["query_id"], budget, "ms")
        .select("query_id", "doc_id")
        .distinct()
    )
    # exact full-score lookup for every candidate
    full = _doc_sums(pm.join(F.broadcast(candidates), ["query_id", "doc_id"]))
    return _kth_tail(parsed, full, k, missing=-2, max_terms=16)


def real_kth_thresholds(index: InvertedIndex, parsed: DataFrame,
                        ks: tuple[int, ...] = (10, 100, 1000)) -> DataFrame:
    """(query_id, k, threshold_micro): each query's TRUE k-th final
    disjunctive score at every requested k — the score-generator
    tool's reference lists (kth_threshold_origional_score_generator
    .cpp:144-179: k in {10, 100, 1000}; 0 when the query has fewer
    results, its sentinel). The ground truth every simulator /
    real-world fork evaluates its estimates against: quality_ranked
    down to max(ks), read at each k."""
    ranked = quality_ranked(index, parsed, max(ks, default=0)).filter(
        F.col("rn").isin(list(ks))
    )
    kdf = parsed.sparkSession.createDataFrame(
        [(int(k),) for k in ks], "k INT"
    )
    qids = parsed.select("query_id").distinct()
    return (
        qids.join(F.broadcast(kdf))
        .join(
            F.broadcast(ranked.select(
                "query_id", F.col("rn").alias("k"), "ms"
            )),
            ["query_id", "k"], "left",
        )
        .select(
            "query_id", "k",
            F.coalesce(F.col("ms"), F.lit(0)).cast("long")
            .alias("threshold_micro"),
        )
    )


def quality_ranked(index: InvertedIndex, parsed: DataFrame,
                   depth: int) -> DataFrame:
    """(query_id, doc_id, ms, rn): each query's true ranked
    disjunctive scores down to ``depth`` — the simulator tools'
    reference heap, shared by estimator_quality so a multi-family
    report computes this ONE truth job instead of one per family.
    Scale shape: one disjunctive sum per (query, did) over the
    workload-pruned postings scan, then the two-phase salted top-depth
    — never a full-index pass."""
    return _top_n_per_group(
        _doc_sums(_micro_postings(index, parsed)), ["query_id"], depth, "ms"
    )


def estimator_quality(index: InvertedIndex, parsed: DataFrame,
                      estimates: DataFrame, k: int = 10,
                      depth: int = 500,
                      ranked: DataFrame | None = None) -> DataFrame:
    """(query_id, real_micro, est_micro, estimated_k, overshoot): the
    fork simulators' shared evaluation protocol
    (kth_threshold_origional_real_world.cpp:330-343,
    kth_threshold_sampling_simulator.cpp:313-340, and every
    *_simulator/_real_world tool): for each query, the TRUE k-th
    final score, the estimator's value, the 1-based rank the
    estimate lands at in the true ranked list (their i+2 loop over
    the reference heap, made tie- and tail-deterministic: 1 + the
    count of top-``depth`` scores strictly above the estimate,
    clamped to the ranked-row count), and whether the estimate
    OVERSHOOTS the true k-th (an unsound bootstrap — the sampling
    fork's over-estimate event, rate target_o). Queries whose true
    result set holds fewer than k docs report estimated_k = -1 (the
    tools skip them with -1 before estimating).

    ``depth`` models the reference heap the tools rank against
    (topk_queue(k * 50) in the sampling simulator, k * 1000 in the
    combine/real-world tools); it is clamped to >= k (a shallower
    heap could not even hold the true k-th, and every query would
    degenerate to the -1 sentinel). ``estimates`` is any estimator
    family's (query_id, threshold_micro) output; negative sentinel
    estimates compare as-is (they land past every positive score and
    never overshoot). Every query in ``parsed`` gets exactly one
    output row — zero-match queries report the -1 sentinel, queries
    missing from ``estimates`` report NULLs. ``ranked`` may pass a
    precomputed quality_ranked() frame so several families evaluate
    against ONE truth job (scripts/estimator_report.py).

    Scale shape: one disjunctive sum per (query, did), one window
    per query, one broadcast join of the workload-sized estimate
    table — never a full-index pass."""
    depth = max(depth, k)
    if ranked is None:
        ranked = quality_ranked(index, parsed, depth)
    est = estimates.select(
        "query_id", F.col("threshold_micro").alias("est_micro")
    )
    joined = ranked.join(F.broadcast(est), "query_id", "left")
    agg = joined.groupBy("query_id", "est_micro").agg(
        F.max(F.when(F.col("rn") == k, F.col("ms"))).alias("real_micro"),
        F.sum(
            F.when(F.col("ms") > F.col("est_micro"), 1).otherwise(0)
        ).cast("long").alias("above"),
        F.count("*").cast("long").alias("nranked"),
    )
    qids = parsed.select("query_id").distinct().join(
        F.broadcast(est), "query_id", "left"
    )
    agg = qids.join(
        F.broadcast(agg.drop("est_micro")), "query_id", "left"
    )
    return agg.select(
        "query_id",
        "real_micro",
        "est_micro",
        F.when(F.col("est_micro").isNull(), F.lit(None))
        .when(F.col("real_micro").isNull(), F.lit(-1))
        .otherwise(F.least(F.col("above") + 1, F.col("nranked")))
        .cast("long").alias("estimated_k"),
        F.when(F.col("est_micro").isNull(), F.lit(None))
        .when(F.col("real_micro").isNull(), F.lit(False))
        .otherwise(F.col("est_micro") > F.col("real_micro"))
        .alias("overshoot"),
    )


def estimate_thresholds_with_pairs(index: InvertedIndex, parsed: DataFrame,
                                   cache: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, threshold_micro) = max(single-term cache estimate,
    pair-disjunction estimate) — the fork's combined bootstrap
    (kth_threshold.cpp: threshold = max over singles and pairs)."""
    single = estimate_thresholds(parsed, cache)
    pairs = pair_kth_thresholds(index, parsed, k=k)
    return single.join(F.broadcast(pairs), "query_id", "left").select(
        "query_id",
        F.greatest(
            F.col("threshold_micro"),
            F.coalesce(F.col("pair_micro"), F.lit(0)),
        ).alias("threshold_micro"),
    )
