"""Driver-gate entries for the training-data pipeline operators.

Every entry pairs an idiomatic Spark job (DataFrame API / pandas
kernels) with a DuckDB oracle that reproduces the result
value-exactly (integer-quantized math throughout — see the module
docstrings). ``dedup_minhash_lsh`` and the indexed ``ann_topk``
methods (IVF cell probing, hyperplane-LSH banding) are approximate
ALGORITHMS, but their oracles implement the identical algorithm, so
agreement is still exact; their recall vs the exhaustive operators
is pinned separately in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pisa_spark.datapipe import (
    curation, dedup, multimodal, packing, similarity, textstats,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pisa_spark.corpus import pages_from_documents

    return pages_from_documents(spark, sf_dir)


# Gate-scale cell cap for the dedup_embedding_cosine entry: at sf0.01
# (500 vecs, 8 cells of ~108-133) it drops the two largest cells, so
# the quadratic-cell guard AND its embedding_dropped_cells audit are
# exercised cross-engine on every driver run (the production default
# MAX_CELL=4096 never engages at gate scale).
GATE_EMB_MAX_CELL = 130

# Gate-scale bucket caps for the minhash/simhash entries: sf0.01's
# largest minhash band bucket holds 3 docs and its largest simhash
# chunk bucket 30, so caps of 2 / 16 engage the quadratic-bucket
# guards AND their dropped-bucket audits cross-engine on every driver
# run (the production MAX_BUCKET=64 never engages at gate scale) —
# the GATE_EMB_MAX_CELL pattern.
GATE_MH_MAX_BUCKET = 2
GATE_SH_MAX_BUCKET = 16


def _minhash_union(s: SparkSession, d: str) -> DataFrame:
    """Tagged union: LSH near-dup pairs + the dropped-bucket audit
    (dedup.minhash_dropped_buckets), one (kind, a, b, v) all-BIGINT
    row shape — band_key (an md5 string) is carried as its hash60.
    ONE shingle scan, ONE banded-signature job, and ONE over-cap
    aggregation feed both paths (the shd/bands/dropped sharing
    contract)."""
    from pyspark.sql import functions as F

    from pisa_spark.datapipe.hashing import hash60_sql
    from pisa_spark.gated.entries import tagged_union

    docs = _docs(s, d)
    shd = dedup.shingles_df(docs, 3).localCheckpoint(eager=True)
    bands = dedup.minhash_bands(docs, shd=shd).localCheckpoint(eager=True)
    dropped = dedup.minhash_dropped_buckets(
        docs, max_bucket=GATE_MH_MAX_BUCKET, bands=bands
    ).localCheckpoint(eager=True)
    pairs = dedup.minhash_lsh_pairs(
        docs, max_bucket=GATE_MH_MAX_BUCKET, shd=shd, bands=bands,
        dropped=dropped,
    ).select(
        F.col("doc_a").cast("long").alias("a"),
        F.col("doc_b").cast("long").alias("b"),
        F.col("jaccard_micro").cast("long").alias("v"),
    )
    audit = dropped.select(
        F.col("band_id").cast("long").alias("a"),
        F.expr(hash60_sql("band_key", "spark")).alias("b"),
        F.col("bucket_size").cast("long").alias("v"),
    )
    return tagged_union(
        "kind", [("pair", pairs), ("dropped_bucket", audit)],
        ["a", "b", "v"],
    )


def _simhash_union(s: SparkSession, d: str) -> DataFrame:
    """Tagged union: Hamming near-dup pairs + the dropped-chunk audit
    (dedup.simhash_dropped_chunks), one (kind, a, b, v) row shape;
    ONE fingerprint/explode scan and ONE over-cap aggregation feed
    both paths (the chunks/dropped sharing contract)."""
    from pyspark.sql import functions as F

    from pisa_spark.gated.entries import tagged_union

    docs = _docs(s, d)
    chunks = dedup.simhash_chunks(docs).localCheckpoint(eager=True)
    dropped = dedup.simhash_dropped_chunks(
        docs, max_bucket=GATE_SH_MAX_BUCKET, chunks=chunks
    ).localCheckpoint(eager=True)
    pairs = dedup.simhash_pairs(
        docs, max_bucket=GATE_SH_MAX_BUCKET, chunks=chunks,
        dropped=dropped,
    ).select(
        F.col("doc_a").cast("long").alias("a"),
        F.col("doc_b").cast("long").alias("b"),
        F.col("hamming").cast("long").alias("v"),
    )
    audit = dropped.select(
        F.col("ci").cast("long").alias("a"),
        F.col("ch").cast("long").alias("b"),
        F.col("bucket_size").cast("long").alias("v"),
    )
    return tagged_union(
        "kind", [("pair", pairs), ("dropped_chunk", audit)],
        ["a", "b", "v"],
    )


def _embedding_cosine_union(s: SparkSession, d: str) -> DataFrame:
    """Tagged union: near-dup pairs + the dropped-cell audit frame
    (similarity.embedding_dropped_cells), one (kind, a, b, v) row
    shape — same consolidation pattern as boolean_docs/range_topk.
    ONE assignment job and ONE over-cap aggregation feed both paths
    (the assign/dropped sharing contract)."""
    from pyspark.sql import functions as F

    from pisa_spark.gated.entries import tagged_union

    emb = _emb(s, d)
    # eager localCheckpoint per the repo rule: released by the
    # ContextCleaner, unlike persist()'s CacheManager entry.
    assign = similarity._cell_assignments(
        emb, similarity.N_CENTROIDS, similarity.N_PROBE
    ).localCheckpoint(eager=True)
    dropped = similarity.embedding_dropped_cells(
        emb, max_cell=GATE_EMB_MAX_CELL, assign=assign
    ).localCheckpoint(eager=True)
    pairs = similarity.embedding_dup_pairs(
        emb, max_cell=GATE_EMB_MAX_CELL, assign=assign, dropped=dropped
    ).select(
        F.col("vec_a").cast("long").alias("a"),
        F.col("vec_b").cast("long").alias("b"),
        F.col("cos_micro").cast("long").alias("v"),
    )
    audit = dropped.select(
        F.col("cell").cast("long").alias("a"),
        F.col("cell_size").cast("long").alias("b"),
        F.lit(0).cast("long").alias("v"),
    )
    return tagged_union(
        "kind", [("pair", pairs), ("dropped_cell", audit)],
        ["a", "b", "v"],
    )


def _ann_union(s: SparkSession, d: str) -> DataFrame:
    """Tagged union of all three ANN paths over one result shape
    (method, q_vec_id, rank, vec_id, cos_micro): 'brute' = exact
    partial-top-k baseline, 'ivf' = coarse-quantizer cell probing,
    'lsh' = hyperplane-band bucketing — each exact-ranked over its
    candidate set (same consolidation pattern as
    segments_decode_check's codec tags)."""
    from pisa_spark.gated.entries import tagged_union

    emb = _emb(s, d)
    return tagged_union(
        "method",
        [
            ("brute", similarity.ann_topk(emb)),
            ("ivf", similarity.ivf_topk(emb)),
            ("lsh", similarity.lsh_topk(emb)),
        ],
        ["q_vec_id", "rank", "vec_id", "cos_micro"],
    )


def _exact_dedup_union(s: SparkSession, d: str) -> DataFrame:
    """Tagged union of both page-identity dedup passes: 'content'
    (text md5) and 'url' (canonicalized URL over the deterministic
    raw-variant synthesis — see dedup.url_variants_sql), one
    (kind, group_key, keeper_doc_id, n_docs) shape."""
    from pyspark.sql import functions as F

    from pisa_spark.gated.entries import tagged_union

    docs = _docs(s, d)
    content = dedup.exact_dedup(docs).select(
        F.col("text_md5").alias("group_key"), "keeper_doc_id", "n_docs"
    )
    pages = docs.select(
        "doc_id", F.expr(dedup.url_variants_sql()).alias("url")
    )
    url = dedup.url_dedup(pages).select(
        F.col("canon_url").alias("group_key"), "keeper_doc_id", "n_docs"
    )
    return tagged_union(
        "kind",
        [("content", content), ("url", url)],
        ["group_key", "keeper_doc_id", "n_docs"],
    )


_SIGNAL_COLS = [
    "n_tokens", "n_types", "ttr_micro", "stop_ratio_micro",
    "mean_tok_len_micro", "quality_micro",
    "top_bigram_frac_micro", "dup_trigram_frac_micro",
    "max_term_frac_micro", "ws_tokens", "bpe_ish_tokens", "n_chars",
]


def _doc_signals(s: SparkSession, d: str) -> DataFrame:
    """The per-doc filter-signals table a training pipeline consumes:
    lexical quality + Gopher-style repetition + token counts, one wide
    row per doc — quality and repetition fused over a single tokenize
    scan (textstats.doc_signals), token_counts joined on doc_id."""
    return (
        textstats.doc_signals(_docs(s, d))
        .select("doc_id", *_SIGNAL_COLS)
    )


def _doc_signals_oracle() -> str:
    cols = ", ".join(_SIGNAL_COLS)
    return f"""SELECT doc_id, {cols}
FROM ({textstats.quality_score_oracle()}) q
JOIN ({textstats.repetition_stats_oracle()}) r USING (doc_id)
JOIN ({textstats.token_counts_oracle()}) t USING (doc_id)"""


# Gate sampling mix for the curation entry: en/fr are HIT strata
# (distinct rates so the per-stratum hashing is exercised), zh/es/de
# are MISS strata (explicit-mix contract: unmentioned strata keep 0).
GATE_SAMPLE_FRACTIONS = {"en": 0.5, "fr": 0.25}
GATE_SAMPLE_SEED = 7
# Gate sequence length for the packing rows: far below the typical
# per-doc token count at sf0.01 so most documents SPAN sequence
# boundaries (the split path does real work on every driver run);
# production uses packing.SEQ_LEN (2048).
GATE_SEQ_LEN = 128


# Epoch-microseconds of a TIMESTAMP_NTZ column, timezone-independent
# (parquet timestamps read as NTZ under Spark 4; unix_micros would
# require LTZ and drag the session timezone into the value — the
# DuckDB oracle side is epoch_us(naive), so NTZ arithmetic matches).
_EPOCH_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
)


def _mm_meta_union(s: SparkSession, d: str) -> DataFrame:
    """Tagged union of the multimodal metadata plumbing PLUS the
    batch-mode streaming-analytics rollups, in one (kind, a, b, key)
    shape (frees gate slots without losing checks):

    - 'blob' rows (doc_id, n_bytes, sha256) and 'frame' rows
      (doc_id, frame_id, frame_hash) — multimodal.py;
    - 'win': windowed_event_volume over the events table — a =
      epoch-us of the window start, b = n_events, key =
      event_type@value_micro_sum. The batch plan here is the SAME
      plan the streaming query runs (withWatermark is a no-op in
      batch; pinned stream==batch in test_streaming_analytics), so
      this row is the driver gate for streaming/analytics.py;
    - 'sess': user_sessions (session_window gap sessionization) —
      a = user_id, b = n_events, key =
      s_start_us-s_end_us@value_micro_sum; the DuckDB oracle is the
      gaps-and-islands window form."""
    from pyspark.sql import functions as F

    from pisa_spark.streaming import analytics

    pages = _pages(s, d)
    blob = multimodal.blob_meta(pages).select(
        F.lit("blob").alias("kind"),
        F.col("doc_id").cast("long").alias("a"),
        F.col("n_bytes").cast("long").alias("b"),
        F.col("sha256").alias("key"),
    )
    frame = multimodal.frame_sample(pages).select(
        F.lit("frame").alias("kind"),
        F.col("doc_id").cast("long").alias("a"),
        F.col("frame_id").cast("long").alias("b"),
        F.col("frame_hash").cast("string").alias("key"),
    )
    ev = s.read.parquet(f"{d}/events.parquet")
    win = analytics.windowed_event_volume(ev).select(
        F.lit("win").alias("kind"),
        F.expr(_EPOCH_US.format(c="w_start")).alias("a"),
        F.col("n_events").cast("long").alias("b"),
        F.concat_ws(
            "@", "event_type", F.col("value_micro_sum").cast("string")
        ).alias("key"),
    )
    sess = analytics.user_sessions(ev).select(
        F.lit("sess").alias("kind"),
        F.col("user_id").cast("long").alias("a"),
        F.col("n_events").cast("long").alias("b"),
        F.concat_ws(
            "@",
            F.concat_ws(
                "-",
                F.expr(_EPOCH_US.format(c="s_start")).cast("string"),
                F.expr(_EPOCH_US.format(c="s_end")).cast("string"),
            ),
            F.col("value_micro_sum").cast("string"),
        ).alias("key"),
    )
    return blob.unionByName(frame).unionByName(win).unionByName(sess)


def _mm_meta_oracle() -> str:
    from pisa_spark.streaming.analytics import VALUE_MICRO

    # Session semantics must match Spark's session_window exactly:
    # windows are [start, last_ts + gap) — an event at EXACTLY
    # prev + gap starts a NEW session (>=, not >); s_end = last event
    # ts + gap.
    return f"""SELECT 'blob' AS kind, CAST(doc_id AS BIGINT) AS a,
       CAST(n_bytes AS BIGINT) AS b, sha256 AS key
FROM ({multimodal.blob_meta_oracle()}) bm
UNION ALL
SELECT 'frame' AS kind, CAST(doc_id AS BIGINT) AS a,
       CAST(frame_id AS BIGINT) AS b,
       CAST(frame_hash AS VARCHAR) AS key
FROM ({multimodal.frame_sample_oracle()}) fs
UNION ALL
SELECT 'win' AS kind,
       epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS a,
       CAST(COUNT(*) AS BIGINT) AS b,
       event_type || '@'
         || CAST(CAST(SUM({VALUE_MICRO}) AS BIGINT) AS VARCHAR) AS key
FROM events
GROUP BY time_bucket(INTERVAL '10 minutes', ts), event_type
UNION ALL
SELECT 'sess' AS kind, CAST(user_id AS BIGINT) AS a,
       CAST(COUNT(*) AS BIGINT) AS b,
       CAST(epoch_us(MIN(ts)) AS VARCHAR) || '-'
         || CAST(epoch_us(MAX(ts) + INTERVAL '30 minutes') AS VARCHAR)
         || '@' || CAST(CAST(SUM(value_micro) AS BIGINT) AS VARCHAR) AS key
FROM (
  SELECT user_id, ts, value_micro,
         SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS sess_id
  FROM (
    SELECT user_id, ts, {VALUE_MICRO} AS value_micro,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  ) g
) t
GROUP BY user_id, sess_id"""


def _curation_union(s: SparkSession, d: str) -> DataFrame:
    """Tagged union of the SQL-expressible curation operators
    (datapipe/curation.py) in the shared (kind, a, b, key) shape:

    - 'pii': per-doc redaction — a=doc_id, b = packed rule-hit counts
      (n_email*10000 + n_ip*100 + n_idnum), key = md5 of the REDACTED
      text, so the exact replacement output is pinned cross-engine;
    - 'sample': the stratified-sample audit report at the gate mix —
      a=n_total, b=n_kept per stratum (key), pinning the shared-hash
      row selection (reproducible-training-mix contract) including
      keep-0 strata absent from the mix;
    - 'pack': the sequence-packing plan (packing.pack_sequences at
      GATE_SEQ_LEN — concat-and-chunk into fixed-length training
      sequences): a=doc_id, b=seq_id, key = the exact in-doc token
      range and in-sequence offset, so the distributed prefix-sum
      form must agree row-for-row with the oracle's window form."""
    from pyspark.sql import functions as F

    docs = _docs(s, d)
    red = curation.redact_pii(docs)
    pii = red.select(
        F.lit("pii").alias("kind"),
        F.col("doc_id").alias("a"),
        (F.col("n_email") * 10000 + F.col("n_ip") * 100
         + F.col("n_idnum")).cast("long").alias("b"),
        F.md5("text_redacted").alias("key"),
    )
    rep = curation.stratified_sample_report(
        docs, "lang", GATE_SAMPLE_FRACTIONS, seed=GATE_SAMPLE_SEED
    )
    samp = rep.select(
        F.lit("sample").alias("kind"),
        F.col("n_total").cast("long").alias("a"),
        F.col("n_kept").cast("long").alias("b"),
        F.col("stratum").alias("key"),
    )
    pack = packing.pack_sequences(docs, seq_len=GATE_SEQ_LEN).select(
        F.lit("pack").alias("kind"),
        F.col("doc_id").alias("a"),
        F.col("seq_id").alias("b"),
        F.concat_ws(
            "@",
            F.concat_ws("-", "doc_tok_start", "doc_tok_end"),
            F.col("seq_off").cast("string"),
        ).alias("key"),
    )
    return pii.unionByName(samp).unionByName(pack)


def _curation_oracle() -> str:
    red = curation.redact_pii_sql("text", dialect="duckdb")
    counts = {
        kind: curation.pii_count_sql("text", kind, dialect="duckdb")
        for kind, _p, _r in curation.PII_RULES
    }
    keep = " OR ".join(
        f"(lang = '{stratum}' AND "
        + curation.sample_keep_sql(
            "lang", int(round(frac * 1e6)), GATE_SAMPLE_SEED, "duckdb"
        )
        + ")"
        for stratum, frac in sorted(GATE_SAMPLE_FRACTIONS.items())
    )
    return f"""SELECT 'pii' AS kind, doc_id AS a,
       CAST({counts['email']} * 10000 + {counts['ip']} * 100
            + {counts['idnum']} AS BIGINT) AS b,
       md5({red}) AS key
FROM documents
UNION ALL
SELECT 'sample' AS kind, CAST(n_total AS BIGINT) AS a,
       CAST(n_kept AS BIGINT) AS b, stratum AS key
FROM (
  SELECT lang AS stratum, COUNT(*) AS n_total,
         SUM(CASE WHEN {keep} THEN 1 ELSE 0 END) AS n_kept
  FROM documents GROUP BY lang
) rep
UNION ALL
SELECT 'pack' AS kind, doc_id AS a, seq_id AS b,
       CAST(doc_tok_start AS VARCHAR) || '-'
         || CAST(doc_tok_end AS VARCHAR) || '@'
         || CAST(seq_off AS VARCHAR) AS key
FROM ({packing.pack_sequences_oracle(GATE_SEQ_LEN)}) pk"""


def datapipe_queries():
    return {
        "dedup_exact": _exact_dedup_union,
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(_docs(s, d)),
        "dedup_minhash_lsh": _minhash_union,
        "dedup_clusters": lambda s, d: dedup.dedup_clusters(_docs(s, d)),
        "dedup_simhash": _simhash_union,
        "dedup_embedding_cosine": _embedding_cosine_union,
        "ann_topk": _ann_union,
        "lang_id": lambda s, d: textstats.lang_id(_docs(s, d)),
        "quality_score": _doc_signals,
        "decontaminate": lambda s, d: dedup.decontaminate(_docs(s, d)),
        "doc_fingerprints": lambda s, d: textstats.doc_fingerprints(_docs(s, d)),
        "curation": _curation_union,
        "mm_meta": _mm_meta_union,
        "mm_decode_bmp": lambda s, d: multimodal.decode_blobs(
            multimodal.synth_image_blobs(_docs(s, d))
        ),
    }


def datapipe_oracle_sql():
    return {
        "dedup_exact": dedup.exact_dedup_union_oracle(),
        "dedup_ngram_jaccard": dedup.ngram_jaccard_oracle(),
        "dedup_minhash_lsh": dedup.minhash_lsh_oracle(
            max_bucket=GATE_MH_MAX_BUCKET, audit=True
        ),
        "dedup_clusters": dedup.dedup_clusters_oracle(),
        "dedup_simhash": dedup.simhash_oracle(
            max_bucket=GATE_SH_MAX_BUCKET, audit=True
        ),
        "dedup_embedding_cosine": similarity.embedding_dup_oracle(
            max_cell=GATE_EMB_MAX_CELL, audit=True
        ),
        "ann_topk": (
            "SELECT 'brute' AS method, q_vec_id, rank, vec_id, cos_micro FROM ("
            + similarity.ann_topk_oracle()
            + ") brute_q\nUNION ALL\n"
            "SELECT 'ivf' AS method, q_vec_id, rank, vec_id, cos_micro FROM ("
            + similarity.ivf_topk_oracle()
            + ") ivf_q\nUNION ALL\n"
            "SELECT 'lsh' AS method, q_vec_id, rank, vec_id, cos_micro FROM ("
            + similarity.lsh_topk_oracle()
            + ") lsh_q"
        ),
        "lang_id": textstats.lang_id_oracle(),
        "quality_score": _doc_signals_oracle(),
        "decontaminate": dedup.decontaminate_oracle(),
        "doc_fingerprints": textstats.doc_fingerprints_oracle(),
        "curation": _curation_oracle(),
        "mm_meta": _mm_meta_oracle(),
        # mm_decode_bmp: REAL pixel decode — the Spark side round-trips
        # actual 24-bit BMP bytes (encode_bmp -> decode_bmp) while the
        # oracle recomputes every decoded value in closed form from the
        # deterministic pixel formula; the wire format itself is pinned
        # against public example bytes in tests.
        "mm_decode_bmp": multimodal.decode_bmp_oracle(),
    }

