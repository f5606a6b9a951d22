"""Deduplication operators over the documents corpus.

Five dedup families, each an idiomatic DataFrame job plus a DuckDB
oracle generator producing value-identical output (all scores are
integer-quantized; all hashing goes through md5 — hashing.py):

- exact_dedup            hash-groupBy on md5(text): canonical doc per
                         content hash (the 100 TB baseline dedup)
- ngram_jaccard_pairs    exhaustive k-token-shingle Jaccard >= tau
- minhash_lsh_pairs      MinHash signatures -> banded LSH candidate
                         pairs -> exact-Jaccard verification
- simhash_pairs          60-bit SimHash fingerprints -> chunk-join
                         candidates -> Hamming <= max_hamming
- embedding_dup_pairs    near-duplicate embedding pairs by quantized
                         cosine (similarity.py does the matrix math)
- connected_components / dedup_clusters
                         candidate pairs -> duplicate CLUSTERS -> one
                         representative per cluster: the last mile
                         that turns pair detection into an actual
                         deduplicated corpus (keep doc_id ==
                         rep_doc_id, drop the rest)

Scale notes (100 TB):
- exact: single hash-shuffle with map-side combine; skew-free (md5
  keys are uniform).
- ngram Jaccard's shingle self-join explodes on ubiquitous shingles;
  at scale drop shingles with document frequency above a cap before
  the join (stopword-shingle pruning) — the MinHash path is the
  intended scale path, this operator is its exact oracle.
- MinHash: the shingle scan is materialized ONCE (eager
  localCheckpoint) and feeds both the signature aggregation and the
  exact-verification joins; signature aggregation is 1 shuffle on
  doc_id with partial min-aggs; banding EXPLODES each signature into
  (band_id, band_key)
  rows — one shuffle keyed on the band key serves every band at once
  (instead of n_bands sequential self-joins of the signature table) —
  and buckets larger than MAX_BUCKET (boilerplate/near-identical
  text would otherwise go quadratic) are dropped before pair
  generation via a LeftAnti join against the map-side-combined
  over-cap key set (no count window: the dominant bucket — the exact
  degenerate case the cap exists for — would sit in ONE window task;
  the anti join's skewed stream side is AQE-splittable);
  ``minhash_dropped_buckets`` reports exactly what was excluded so a
  pipeline can surface it. Verification joins only candidate pairs.
- SimHash: fingerprint = 60 conditional sums (one shuffle, partial
  aggs); candidates via 4x 15-bit-chunk equi-joins (pigeonhole: any
  pair with Hamming <= 3 shares at least one chunk) — no cross join
  at any scale. Chunk buckets over MAX_BUCKET are dropped before the
  join (a chunk has only 2^15 values, so at corpus scale dominant
  buckets go quadratic without the guard) and reported by
  ``simhash_dropped_chunks`` — the same cap-plus-audit contract as
  MinHash banding.
- Components: alternating large-star/small-star (Kiveris, Lattanzi,
  Mirrokni, Rastogi, Vassilvitskii: "Connected Components in
  MapReduce and Beyond", SoCC'14) — O(log n) ROUNDS regardless of
  component diameter (naive min-label propagation needs
  O(diameter) rounds, and duplicate chains a-b-c-d... are exactly
  how boilerplate corpora misbehave). Each round is two
  bounded-key shuffles over the EDGE set (duplicate pairs, not the
  corpus), localCheckpointed per iteration so the plan doesn't
  grow (the build/bp.py rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pisa_spark.datapipe.hashing import M31, minhash_coeffs
from pisa_spark.datapipe.tokens import shingle_cte, shingles_df
from pisa_spark.functions.scoring import dlit

TAU_MICRO = 800_000  # Jaccard threshold 0.8 in micro units
SIM_BITS = 60
SIM_CHUNKS = 4  # 15-bit chunks; pigeonhole covers Hamming <= SIM_CHUNKS-1
MAX_HAMMING = 3


# ------------------------------------------------------------------- exact

def exact_dedup(docs: DataFrame) -> DataFrame:
    """(text_md5, keeper_doc_id, n_docs): one canonical doc per
    distinct text; n_docs > 1 rows are the duplicate groups."""
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------- URL dedup

# Query parameters that never change page content — the strip list of
# every Common-Crawl-style URL canonicalizer.
URL_TRACKING_PARAMS = "utm_[a-z0-9_]+|fbclid|gclid|msclkid|mc_cid|mc_eid"

# (pattern, replacement) chain. The PATTERNS are dialect-neutral: no
# backslash escapes anywhere ([.] classes instead of \\.), no
# backreferences in replacements (Java $1 vs RE2 \\1 disagree), no
# single quotes — each runs unchanged under Spark SQL (Java regex)
# and DuckDB (RE2). The CALL is not: Spark's regexp_replace replaces
# every match, DuckDB's only the first without the 'g' flag — so the
# builder takes a dialect. Order matters: fragment and params go
# before the separators tidy-up; index.html before the trailing-slash
# strip.
_URL_CANON_RULES = [
    ("#.*$", ""),                               # fragment
    # Tracking params are anchored on their separator ([?] / [&]):
    # an unanchored name would also match INSIDE longer param names
    # (a real 'xfbclid=' or 'shutm_x=' would lose its tail and merge
    # distinct URLs into one dedup group). Replacements cannot use
    # backreferences (Java $1 vs RE2 disagree), so the '?' form
    # re-inserts the literal '?' and the separator tidy-up rules
    # below absorb any '?&' / '&&' the removals leave behind.
    (f"[?]({URL_TRACKING_PARAMS})=[^&#]*", "?"),
    (f"[&]({URL_TRACKING_PARAMS})=[^&#]*", ""),
    ("[?]&+", "?"),                             # '?&rest' -> '?rest'
    ("&&+", "&"),                               # collapse '&' runs
    ("[?&]+$", ""),                             # dangling '?' / '&'
    ("^https?://", ""),                         # scheme
    ("^www[.]", ""),                            # www.
    (":80/", "/"), (":80$", ""),                # default http port
    (":443/", "/"), (":443$", ""),              # default https port
    ("/+$", ""),                                # trailing slash(es)...
    # ...BEFORE the default-document strip, whose /+ prefix and +
    # repetition consume interleaved slashes and stacked index.html
    # runs in one pass — '/index.html/' or '/index.html//index.html'
    # must not need a second application (idempotence is pinned by
    # the randomized property test).
    ("(/+index[.]html?)+$", ""),                # default document(s)
]


def canonical_url_sql(col: str, dialect: str = "spark") -> str:
    """SQL expression canonicalizing a URL column — lowercase, then
    the _URL_CANON_RULES regexp_replace chain. Patterns are shared;
    DuckDB additionally needs the 'g' flag for replace-ALL semantics
    (Spark replaces all matches by default)."""
    flag = ", 'g'" if dialect == "duckdb" else ""
    e = f"lower({col})"
    for pat, rep in _URL_CANON_RULES:
        e = f"regexp_replace({e}, '{pat}', '{rep}'{flag})"
    return e


def url_dedup(pages: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """(canon_url, keeper_doc_id, n_docs): one canonical page per
    canonicalized URL — the dedup pass a web-crawl pipeline runs
    BEFORE content hashing (the same URL recrawled under scheme /
    www / tracking-param / port / index.html / trailing-slash
    variations is one page; no reference analogue — web-pipeline
    scope like the rest of datapipe).

    Scale shape: identical to exact_dedup — one canonicalize map pass
    (pure native expressions, no UDF) + one hash-partitioned groupBy
    with map-side combine; canonical URLs are near-unique keys, so no
    skew handling is needed (boilerplate TEXT is the skewed key space,
    not URLs)."""
    return (
        pages.withColumn("canon_url", F.expr(canonical_url_sql(url_col)))
        .groupBy("canon_url")
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def exact_dedup_union_oracle() -> str:
    """DuckDB oracle for the tagged content+url dedup entry."""
    canon = canonical_url_sql(url_variants_sql(), dialect="duckdb")
    return f"""SELECT kind, group_key, keeper_doc_id, n_docs FROM (
  SELECT 'content' AS kind, md5(text) AS group_key,
         MIN(doc_id) AS keeper_doc_id, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY md5(text)
  UNION ALL
  SELECT 'url' AS kind, canon AS group_key,
         MIN(doc_id) AS keeper_doc_id, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM (SELECT doc_id, {canon} AS canon FROM documents) u
  GROUP BY canon
) t"""


def url_variants_sql(id_col: str = "doc_id") -> str:
    """Deterministic raw-URL synthesis for the gate: consecutive
    groups of 5 docs share one base URL, each presented under a
    different raw form (plain / http+www+slash / tracking+fragment /
    explicit :443 / index.html) so every canonicalization rule does
    real work and url_dedup recovers exactly the 5-doc groups.
    Dialect-neutral (CAST AS STRING and || work in both engines)."""
    path = (
        f"'/doc/' || lpad(CAST({id_col} - {id_col} % 5 AS STRING), 10, '0')"
    )
    return f"""CASE CAST({id_col} % 5 AS INT)
  WHEN 0 THEN 'https://example.com' || {path}
  WHEN 1 THEN 'http://www.example.com' || {path} || '/'
  WHEN 2 THEN 'HTTPS://example.com' || {path} || '?utm_source=feed#top'
  WHEN 3 THEN 'https://example.com:443' || {path}
  ELSE 'https://example.com' || {path} || '/index.html'
END"""


# ----------------------------------------------------------- n-gram Jaccard

def _jaccard_from_shingles(shd: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """shd(doc_id, sh) -> (doc_a, doc_b, jaccard_micro >= tau).

    ``pairs`` restricts to candidate (doc_a, doc_b) pairs (the LSH
    verification path); None means exhaustive shared-shingle pairs.

    With ``pairs`` given the intersection counts come from joining
    the CANDIDATES to the shingle sets (cost linear in candidates x
    shingles-per-doc) — never from the exhaustive shared-shingle
    self-join, which is exactly the quadratic blowup the LSH
    prefilter exists to avoid. Shingle sets are distinct, so both
    formulations count |A ∩ B| identically.
    """
    cnt = shd.groupBy("doc_id").agg(F.count("*").alias("n"))
    if pairs is not None:
        inter = (
            pairs.join(
                shd.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a"
            )
            .join(
                shd.select(F.col("doc_id").alias("doc_b"), "sh"),
                ["doc_b", "sh"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("i"))
        )
    else:
        a = shd.alias("a")
        b = shd.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("i"))
        )
    joined = (
        inter.join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
    )
    jac = F.expr(
        f"CAST(FLOOR(CAST(i AS DOUBLE) * {dlit(1e6)} / (na + nb - i) + {dlit(0.5)}) AS BIGINT)"
    )
    return (
        joined.withColumn("jaccard_micro", jac)
        .filter(F.col("jaccard_micro") >= TAU_MICRO)
        .select("doc_a", "doc_b", "jaccard_micro")
    )


def ngram_jaccard_pairs(docs: DataFrame, k: int = 3) -> DataFrame:
    return _jaccard_from_shingles(shingles_df(docs, k))


def _jaccard_tail_sql(inter_src: str) -> str:
    """Shared SQL tail: intersection counts -> thresholded pairs."""
    return f"""cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
){inter_src}
SELECT i.doc_a, i.doc_b,
       CAST(FLOOR(CAST(i.i AS DOUBLE) * {dlit(1e6)} / (ca.n + cb.n - i.i)
                  + {dlit(0.5)}) AS BIGINT) AS jaccard_micro
FROM inter i
JOIN cnt ca ON ca.doc_id = i.doc_a
JOIN cnt cb ON cb.doc_id = i.doc_b"""


def ngram_jaccard_oracle(k: int = 3) -> str:
    return f"""WITH {shingle_cte(k)},
{_jaccard_tail_sql('')}
WHERE CAST(FLOOR(CAST(i.i AS DOUBLE) * {dlit(1e6)} / (ca.n + cb.n - i.i)
                 + {dlit(0.5)}) AS BIGINT) >= {TAU_MICRO}"""


# ------------------------------------------------------- decontamination

# Benchmark-overlap decontamination (the GPT-3/Gopher rule, public
# papers: flag a training document that shares any k-gram with an
# evaluation benchmark). The benchmark here is a named deterministic
# subset of the corpus (doc_id % DECON_MOD == DECON_REM) so the gate
# needs no external data; a real pipeline passes its own benchmark
# table — the operator takes any (doc_id, text) frame.
DECON_K = 5
DECON_MOD = 11
DECON_REM = 3


def decontaminate(docs: DataFrame, bench: DataFrame | None = None,
                  k: int = DECON_K,
                  broadcast_threshold: int = 2_000_000) -> DataFrame:
    """(doc_id, n_bench_shared, contaminated) over the TRAINING side.

    ``bench`` defaults to the deterministic in-corpus subset; pass an
    external benchmark frame (doc_id, text) to decontaminate against
    real eval sets. A train doc is contaminated when it shares >= 1
    distinct k-gram shingle with the benchmark.

    Scale: benchmark shingle sets are eval-suite sized (millions of
    shingles at most), so the distinct benchmark side is broadcast
    into the training scan — the train side never shuffles; the only
    exchange is the per-doc hit count, keyed on doc_id. The hint is
    GATED on a counted size (invert.maybe_broadcast discipline): a
    caller passing a corpus-sized "benchmark" falls back to an
    unhinted join AQE plans from runtime stats instead of OOMing
    every executor on a hard broadcast hint."""
    from pisa_spark.build.invert import maybe_broadcast

    is_bench = (F.col("doc_id") % DECON_MOD) == DECON_REM
    if bench is None:
        bench_sh = shingles_df(docs.filter(is_bench), k)
        train = docs.filter(~is_bench)
    else:
        bench_sh = shingles_df(bench, k)
        train = docs
    # eager localCheckpoint: the size gate needs a count, and pinning
    # the distinct set means the join reuses it instead of recomputing
    # the benchmark tokenize+shingle scan (repo rule: localCheckpoint,
    # not persist, for intra-job reuse)
    bench_set = bench_sh.select("sh").distinct().localCheckpoint(eager=True)
    bench_set = maybe_broadcast(
        bench_set, known_rows=bench_set.count(),
        broadcast_threshold=broadcast_threshold,
    )
    train_sh = shingles_df(train, k)
    hits = (
        train_sh.join(bench_set, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bench_shared"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bench_shared", F.lit(0)).cast("long").alias(
                "n_bench_shared"),
            F.when(F.col("n_bench_shared").isNotNull(), 1)
            .otherwise(0).cast("long").alias("contaminated"),
        )
    )


def decontaminate_oracle(k: int = DECON_K) -> str:
    return f"""WITH {shingle_cte(k)},
bench AS (SELECT DISTINCT sh FROM shd WHERE doc_id % {DECON_MOD} = {DECON_REM}),
train AS (SELECT * FROM shd WHERE doc_id % {DECON_MOD} <> {DECON_REM}),
hits AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_shared
  FROM train t JOIN bench b ON t.sh = b.sh GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_bench_shared, 0) AS n_bench_shared,
       CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {DECON_MOD} <> {DECON_REM}"""


# -------------------------------------------------------------- MinHash LSH

NUM_PERM = 32
BAND_ROWS = 4  # 8 bands x 4 rows
# Buckets with more than MAX_BUCKET members are dropped before pair
# generation: a B-doc bucket emits B*(B-1)/2 candidates, so one
# boilerplate bucket (site chrome, license headers) can dominate the
# whole job. 64 keeps worst-case pairs per bucket at ~2k while being
# far above any bucket an honest near-dup cluster produces.
MAX_BUCKET = 64


def minhash_signatures(docs: DataFrame, k: int = 3, num_perm: int = NUM_PERM,
                       shd: DataFrame | None = None) -> DataFrame:
    """(doc_id, s0..s{num_perm-1}) MinHash signature columns — one
    shuffle on doc_id, num_perm partial min-aggregations.

    ``shd`` optionally supplies a pre-materialized shingle table so a
    caller that also needs the shingles for verification (the LSH
    pipeline) computes the tokenize+explode scan once."""
    a, b = minhash_coeffs(num_perm)
    if shd is None:
        shd = shingles_df(docs, k)
    aggs = [
        F.min(F.expr(f"({a[j]} * sh + {b[j]}) % {M31}")).alias(f"s{j}")
        for j in range(num_perm)
    ]
    return shd.groupBy("doc_id").agg(*aggs)


def _band_key_cols(num_perm: int, band_rows: int):
    """Per-band md5 key over the band's signature values — the same
    string (values joined by '_') hashes identically in DuckDB."""
    n_bands = num_perm // band_rows
    out = []
    for band in range(n_bands):
        cols = [F.col(f"s{band * band_rows + r}") for r in range(band_rows)]
        out.append((band, F.md5(F.concat_ws("_", *cols))))
    return out


def _banded(docs: DataFrame, k: int, num_perm: int, band_rows: int,
            shd: DataFrame | None = None) -> DataFrame:
    """(doc_id, band_id, band_key): ONE row per (doc, band) via
    explode — every band's bucketing rides a single shuffle on the
    band key instead of n_bands sequential self-joins."""
    sig = minhash_signatures(docs, k, num_perm, shd=shd)
    structs = [
        F.struct(F.lit(band).alias("band_id"), key.alias("band_key"))
        for band, key in _band_key_cols(num_perm, band_rows)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*structs)).alias("b")
    ).select("doc_id", F.col("b.band_id"), F.col("b.band_key"))


def minhash_bands(docs: DataFrame, k: int = 3, num_perm: int = NUM_PERM,
                  band_rows: int = BAND_ROWS,
                  shd: DataFrame | None = None) -> DataFrame:
    """(doc_id, band_id, band_key): the banded signature table.
    Public so a pipeline that runs BOTH minhash_lsh_pairs and the
    ``minhash_dropped_buckets`` audit materializes the dominant
    tokenize→shingle→signature→banding scan ONCE and passes it to
    both (the ``assign=`` sharing pattern of the embedding twin) —
    eager-localCheckpoint the result before sharing it."""
    return _banded(docs, k, num_perm, band_rows, shd=shd)


def _cap_bands(bands: DataFrame, max_bucket: int,
               over: DataFrame | None = None) -> DataFrame:
    """Band rows minus members of over-cap buckets (the shared
    caps.py guard) — UNHINTED, unlike the simhash/embedding caps'
    by-construction-bounded key spaces: band_key is an md5, so the
    over-cap set is only bounded by n_rows/max_bucket and the
    known-small rule forbids the hint (caps.py has the full
    rationale). ``over``: pass a minhash_dropped_buckets frame to
    share ONE over-cap aggregation between the cap and the audit.
    Plan pinned by test_minhash_cap_is_antijoin_not_window."""
    from pisa_spark.datapipe.caps import drop_overcap, overcap_keys

    if over is None:
        over = overcap_keys(bands, ["band_id", "band_key"], max_bucket)
    return drop_overcap(bands, ["band_id", "band_key"], over, max_bucket,
                        hint_broadcast=False)


def minhash_lsh_pairs(docs: DataFrame, k: int = 3, num_perm: int = NUM_PERM,
                      band_rows: int = BAND_ROWS,
                      max_bucket: int = MAX_BUCKET,
                      shd: DataFrame | None = None,
                      bands: DataFrame | None = None,
                      dropped: DataFrame | None = None) -> DataFrame:
    """Banded-LSH candidates, then exact-Jaccard verification: output
    equals ngram_jaccard_pairs restricted to LSH-recalled pairs
    (minus members of over-cap buckets — see MAX_BUCKET and
    ``minhash_dropped_buckets``). ``shd``/``bands`` optionally supply
    pre-materialized shingle / banded-signature tables so callers
    that also run the audit share one scan (minhash_bands);
    ``dropped`` optionally supplies a pre-materialized
    minhash_dropped_buckets frame so the over-cap aggregation runs
    ONCE for the cap and the audit."""
    # Shingles feed BOTH the signature aggregation and the exact
    # verification joins: materialize the tokenize+explode scan once
    # (eager localCheckpoint — executor-local, released when
    # unreferenced) instead of recomputing it per consumer.
    if shd is None:
        shd = shingles_df(docs, k).localCheckpoint(eager=True)
    if bands is None:
        # materialized once: the over-cap aggregate AND the cap
        # filter both read the banded table
        bands = _banded(docs, k, num_perm, band_rows, shd=shd) \
            .localCheckpoint(eager=True)
    capped = (
        _cap_bands(bands, max_bucket, over=dropped)
        # materialize once: both sides of the self-join read this
        # (eager localCheckpoint, released when unreferenced)
        .localCheckpoint(eager=True)
    )
    x = capped.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    y = capped.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    pairs = (
        x.join(y, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _jaccard_from_shingles(shd, pairs)


def minhash_dropped_buckets(docs: DataFrame, k: int = 3,
                            num_perm: int = NUM_PERM,
                            band_rows: int = BAND_ROWS,
                            max_bucket: int = MAX_BUCKET,
                            bands: DataFrame | None = None) -> DataFrame:
    """(band_id, band_key, bucket_size) for every bucket the cap
    excluded — the audit trail for minhash_lsh_pairs' coverage (a
    pipeline should alert on rows here rather than silently treating
    dropped docs as unique). ``bands``: pass minhash_bands(...) to
    share the signature scan with the pair job."""
    from pisa_spark.datapipe.caps import overcap_keys

    if bands is None:
        bands = _banded(docs, k, num_perm, band_rows)
    return overcap_keys(bands, ["band_id", "band_key"], max_bucket)


def minhash_lsh_oracle(k: int = 3, num_perm: int = NUM_PERM,
                       band_rows: int = BAND_ROWS,
                       max_bucket: int = MAX_BUCKET,
                       audit: bool = False) -> str:
    """Same algorithm in DuckDB: explode to (band_id, band_key) rows,
    window-count buckets, cap, self-join on the key — band_key is
    md5 of the band's values joined by '_' (identical text in both
    engines). With ``audit`` the statement returns the tagged union
    the gate entry uses — 'pair' rows plus 'dropped_bucket' audit
    rows (minhash_dropped_buckets parity; band_key carried as its
    hash60 so the frame stays all-BIGINT) in one (kind, a, b, v)
    frame."""
    from pisa_spark.datapipe.hashing import hash60_sql

    a, b = minhash_coeffs(num_perm)
    sig_cols = ",\n         ".join(
        f"MIN(({a[j]} * sh + {b[j]}) % {M31}) AS s{j}" for j in range(num_perm)
    )
    n_bands = num_perm // band_rows
    band_rows_sql = []
    for band in range(n_bands):
        cols = [f"s{band * band_rows + r}" for r in range(band_rows)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_rows_sql.append(
            f"SELECT doc_id, {band} AS band_id, md5({key}) AS band_key FROM sig"
        )
    bands_union = "\n  UNION ALL ".join(band_rows_sql)
    cand_cte = f""",
sig AS (SELECT doc_id, {sig_cols} FROM shd GROUP BY doc_id),
bands AS (
  {bands_union}
),
capped AS (
  SELECT doc_id, band_id, band_key FROM (
    SELECT doc_id, band_id, band_key,
           COUNT(*) OVER (PARTITION BY band_id, band_key) AS bsz
    FROM bands
  ) z WHERE bsz <= {max_bucket}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM capped x
  JOIN capped y ON x.band_id = y.band_id AND x.band_key = y.band_key
               AND x.doc_id < y.doc_id
),
inter0 AS (
  SELECT i0.doc_a, i0.doc_b, i0.i FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) i0 JOIN cand c ON c.doc_a = i0.doc_a AND c.doc_b = i0.doc_b
)"""
    final_select = f"""SELECT i.doc_a, i.doc_b,
       CAST(FLOOR(CAST(i.i AS DOUBLE) * {dlit(1e6)} / (ca.n + cb.n - i.i)
                  + {dlit(0.5)}) AS BIGINT) AS jaccard_micro
FROM inter0 i
JOIN cnt ca ON ca.doc_id = i.doc_a
JOIN cnt cb ON cb.doc_id = i.doc_b
WHERE CAST(FLOOR(CAST(i.i AS DOUBLE) * {dlit(1e6)} / (ca.n + cb.n - i.i)
                 + {dlit(0.5)}) AS BIGINT) >= {TAU_MICRO}"""
    if audit:
        tail = f""",
final AS (
{final_select}
)
SELECT 'pair' AS kind, doc_a AS a, doc_b AS b, jaccard_micro AS v
FROM final
UNION ALL
SELECT 'dropped_bucket' AS kind, CAST(band_id AS BIGINT) AS a,
       {hash60_sql('band_key', 'duckdb')} AS b, CAST(bsz AS BIGINT) AS v
FROM (SELECT band_id, band_key, COUNT(*) AS bsz
      FROM bands GROUP BY band_id, band_key) db
WHERE bsz > {max_bucket}"""
    else:
        tail = f"\n{final_select}"
    return f"""WITH {shingle_cte(k)}{cand_cte},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id){tail}"""


# ------------------------------------------------------------------ SimHash

def _hash60_term_spark() -> F.Column:
    from pisa_spark.datapipe.hashing import hash60_sql

    return F.expr(hash60_sql("term", "spark"))


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): 60-bit SimHash — per-occurrence token hashes
    vote +1/-1 per bit; fp bit b set iff the sum is >= 0.

    One shuffle (groupBy doc_id) with 60 partial conditional sums —
    no per-row Python anywhere.
    """
    from pisa_spark.datapipe.tokens import tokens_df

    tokh = tokens_df(docs).select("doc_id", _hash60_term_spark().alias("h"))
    aggs = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"c{b}")
        for b in range(SIM_BITS)
    ]
    sums = tokh.groupBy("doc_id").agg(*aggs)
    fp = " + ".join(
        f"(CASE WHEN c{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIM_BITS)
    )
    return sums.select("doc_id", F.expr(fp).alias("fp"))


def simhash_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, ci, ch): each fingerprint EXPLODED to one row per
    15-bit chunk. Public so a pipeline running both ``simhash_pairs``
    and the ``simhash_dropped_chunks`` audit materializes the
    tokenize→fingerprint→explode scan ONCE (the minhash_bands sharing
    pattern) — eager-localCheckpoint the result before sharing it."""
    chunk_w = SIM_BITS // SIM_CHUNKS
    cmask = (1 << chunk_w) - 1
    structs = [
        F.struct(
            F.lit(ci).alias("ci"),
            F.expr(f"(fp >> {ci * chunk_w}) & {cmask}").alias("ch"),
        )
        for ci in range(SIM_CHUNKS)
    ]
    return (
        simhash_fingerprints(docs)
        .select("doc_id", "fp", F.explode(F.array(*structs)).alias("b"))
        .select("doc_id", "fp", F.col("b.ci").alias("ci"), F.col("b.ch").alias("ch"))
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = MAX_HAMMING,
                  max_bucket: int = MAX_BUCKET,
                  chunks: DataFrame | None = None,
                  dropped: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b, hamming <= max_hamming).

    Candidates come from {SIM_CHUNKS} 15-bit chunks by pigeonhole:
    any pair within Hamming {SIM_CHUNKS}-1 must agree on >= 1 chunk,
    so chunk-equality bucketing has perfect recall for max_hamming <=
    {SIM_CHUNKS}-1 with NO cross join. Like minhash banding, the
    fingerprints EXPLODE to one (chunk_id, chunk_value) row each and
    a single self-equi-join on the chunk key serves all chunks at
    once — one bucketing shuffle instead of {SIM_CHUNKS} sequential
    self-joins of the fingerprint table.

    Chunk buckets larger than ``max_bucket`` are dropped BEFORE the
    join (the minhash MAX_BUCKET quadratic-bucket guard — a chunk has
    only 2^15 values, so at corpus scale boilerplate-heavy buckets
    otherwise go quadratic) and reported by ``simhash_dropped_chunks``;
    recall is exact for pairs whose shared chunks include one
    under-cap bucket. ``chunks``: pass ``simhash_chunks(docs)`` to
    share the fingerprint scan with the audit; ``dropped``: pass a
    pre-materialized ``simhash_dropped_chunks`` frame so the over-cap
    aggregation runs ONCE for the cap and the audit.
    """
    from pisa_spark.datapipe.caps import drop_overcap, overcap_keys

    assert max_hamming < SIM_CHUNKS
    if chunks is None:
        # eager localCheckpoint: the over-cap agg and both self-join
        # sides read this one scan, released when unreferenced
        # (persist would pin a CacheManager entry)
        chunks = simhash_chunks(docs).localCheckpoint(eager=True)
    # The shared caps.py guard, HINTED: the key space is bounded by
    # construction (SIM_CHUNKS * 2^15 = 131,072 possible (ci, ch)
    # values), so the over-cap set qualifies for a known-small
    # broadcast hint and the cap filter stays map-side on both join
    # sides.
    if dropped is None:
        dropped = overcap_keys(chunks, ["ci", "ch"], max_bucket)
    ex = drop_overcap(chunks, ["ci", "ch"], dropped, max_bucket,
                      hint_broadcast=True)
    x = ex.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("fa"), "ci", "ch"
    )
    y = ex.select(
        F.col("doc_id").alias("doc_b"), F.col("fp").alias("fb"), "ci", "ch"
    )
    cands = (
        x.join(y, ["ci", "ch"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fa", "fb")
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_dropped_chunks(docs: DataFrame, max_bucket: int = MAX_BUCKET,
                           chunks: DataFrame | None = None) -> DataFrame:
    """(ci, ch, bucket_size) for every chunk bucket the cap excluded —
    the audit trail for simhash_pairs' coverage (alert on rows here
    rather than silently treating dropped docs as unique; the
    minhash_dropped_buckets twin)."""
    from pisa_spark.datapipe.caps import overcap_keys

    if chunks is None:
        chunks = simhash_chunks(docs)
    return overcap_keys(chunks, ["ci", "ch"], max_bucket)


def simhash_oracle(max_hamming: int = MAX_HAMMING,
                   max_bucket: int = MAX_BUCKET,
                   audit: bool = False) -> str:
    """Same algorithm in DuckDB: explode fingerprints to (ci, ch)
    chunk rows, window-count buckets, cap, self-join on the chunk
    key — mirroring simhash_pairs' guarded candidate generation
    (the minhash_lsh_oracle structure). With ``audit`` the statement
    returns the gate entry's tagged union — 'pair' rows plus
    'dropped_chunk' audit rows (simhash_dropped_chunks parity) in
    one (kind, a, b, v) frame."""
    from pisa_spark.datapipe.hashing import hash60_sql
    from pisa_spark.datapipe.tokens import TOK_CTE

    sums = ",\n         ".join(
        f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS c{b}"
        for b in range(SIM_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN c{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIM_BITS)
    )
    chunk_w = SIM_BITS // SIM_CHUNKS
    cmask = (1 << chunk_w) - 1
    chunk_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, fp, {ci} AS ci, (fp >> {ci * chunk_w}) & {cmask} AS ch"
        " FROM fps"
        for ci in range(SIM_CHUNKS)
    )
    if audit:
        tail = f""",
final AS (
  SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
  FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming})
SELECT 'pair' AS kind, doc_a AS a, doc_b AS b, hamming AS v FROM final
UNION ALL
SELECT 'dropped_chunk' AS kind, CAST(ci AS BIGINT) AS a,
       CAST(ch AS BIGINT) AS b, CAST(bsz AS BIGINT) AS v
FROM (SELECT ci, ch, COUNT(*) AS bsz FROM chunks GROUP BY ci, ch) dc
WHERE bsz > {max_bucket}"""
    else:
        tail = f"""
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}"""
    return f"""WITH {TOK_CTE},
tokh AS (SELECT doc_id, {hash60_sql('term', 'duckdb')} AS h FROM tok),
sums AS (SELECT doc_id, {sums} FROM tokh GROUP BY doc_id),
fps AS (SELECT doc_id, {fp} AS fp FROM sums),
chunks AS ({chunk_rows}),
capped AS (
  SELECT doc_id, fp, ci, ch FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY ci, ch) AS bsz FROM chunks)
  WHERE bsz <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.fp AS fa, b.fp AS fb
  FROM capped a JOIN capped b
    ON a.ci = b.ci AND a.ch = b.ch AND a.doc_id < b.doc_id){tail}"""


# ------------------------------------------------- clusters / representatives

def connected_components(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """pairs(doc_a, doc_b) -> (doc_id, rep_doc_id) for every doc that
    appears in a pair; rep_doc_id = the component's minimum doc_id.

    Alternating large-star/small-star (SoCC'14): converges in
    O(log n) rounds on ANY graph shape — a duplicate CHAIN (each doc
    near-dups only its neighbor, the worst case for naive min-label
    propagation at O(diameter) rounds) still resolves in a handful of
    rounds. Per round: large-star connects every neighbor v > u to
    m = min(N(u) ∪ {u}); small-star re-points every smaller neighbor
    of u (and u itself) at the smallest; the fixpoint is depth-1
    stars rooted at component minima. Each step is one groupBy-min
    plus one join on the EDGE set (duplicate pairs — tiny next to the
    corpus), eagerly localCheckpointed so the iterative plan stays
    flat. Raises if ``max_iters`` rounds don't converge (loud, never
    a silently-partial clustering)."""
    e = (
        pairs.select(
            F.col("doc_a").cast("long").alias("u"),
            F.col("doc_b").cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    for _ in range(max_iters):
        if n_edges == 0:
            break
        # large-star: m = min over the full neighborhood (either
        # direction) plus self; every strictly LARGER neighbor
        # re-points at m. Output edges are (larger, smaller).
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: per node u over its SMALLER neighbors (large's
        # edges already point large -> small), m = min; u and every
        # smaller neighbor re-point at m (self-loops dropped).
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        nodes = large.unionByName(
            large.select("u", F.col("u").alias("v")).distinct()
        )
        small = (
            nodes.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_small = small.count()
        if n_small == n_edges and small.subtract(e).isEmpty():
            e = small
            break
        e, n_edges = small, n_small
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"rounds ({n_edges} edges) — raise max_iters"
        )
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("rep_doc_id"))
    roots = (
        e.select(F.col("v").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("rep_doc_id"))
    )
    return (
        members.unionByName(roots)
        .groupBy("doc_id")
        .agg(F.min("rep_doc_id").alias("rep_doc_id"))
    )


def dedup_clusters(docs: DataFrame, pairs: DataFrame | None = None,
                   k: int = 3) -> DataFrame:
    """(doc_id, rep_doc_id) over the WHOLE corpus — the deduplicated
    view is ``WHERE doc_id == rep_doc_id`` (keep one representative
    per near-duplicate cluster; docs in no pair represent themselves).

    ``pairs`` defaults to the MinHash-LSH scale path; any
    (doc_a, doc_b) pair source (simhash, embedding cosine, a union)
    plugs in unchanged. The component mapping is duplicate-sized, so
    the final join against the corpus broadcasts under AQE whenever
    duplicates are rare (the common case) and degrades to a plain
    hash join when they are not — unhinted on purpose."""
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, k)
    cc = connected_components(pairs.select("doc_a", "doc_b"))
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("rep_doc_id", F.col("doc_id")).alias("rep_doc_id"),
        )
    )


def dedup_clusters_oracle(k: int = 3, num_perm: int = NUM_PERM,
                          band_rows: int = BAND_ROWS,
                          max_bucket: int = MAX_BUCKET) -> str:
    """Same clustering in DuckDB: the MinHash pair oracle feeds a
    recursive transitive closure; rep = min over each doc's reachable
    set (identical to the star fixpoint's component minimum)."""
    mh = minhash_lsh_oracle(k, num_perm, band_rows, max_bucket)
    return f"""WITH RECURSIVE
mh_pairs AS (SELECT doc_a, doc_b FROM ({mh}) mh),
cc_edges AS (
  SELECT doc_a AS u, doc_b AS v FROM mh_pairs
  UNION
  SELECT doc_b, doc_a FROM mh_pairs
),
reach(u, v) AS (
  SELECT u, v FROM cc_edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN cc_edges e
  ON r.v = e.u AND e.v <> r.u
),
rep AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS rep_doc_id FROM reach GROUP BY u
)
SELECT d.doc_id, COALESCE(r.rep_doc_id, d.doc_id) AS rep_doc_id
FROM documents d LEFT JOIN rep r ON r.doc_id = d.doc_id"""
