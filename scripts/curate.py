#!/usr/bin/env python
"""spark-submit entry point: end-to-end corpus curation.

Chains the datapipe operators in the order a training-data pipeline
runs them, over any ``documents``-shaped parquet table:

    1. per-doc filter signals (lexical quality + Gopher repetition)
    2. rule-based quality filter (min tokens, repetition caps)
    3. exact dedup (md5 groupBy — catches identical-copy groups of
       ANY size, including those MinHash's bucket cap would drop),
       then MinHash-LSH near-dup pairs on the survivors ->
       connected components -> keep one representative per cluster;
       the LSH bucket-cap audit count rides the lineage
       (minhash_dropped_buckets)
    4. benchmark decontamination (drop docs sharing a 5-gram with the
       benchmark subset / an external benchmark table) — on the RAW
       text, so a benchmark 5-gram spanning PII still matches
    5. PII redaction on the survivors (redaction last: it must never
       mask a contamination or duplicate match)
    6. deterministic stratified sample to the target language mix
       (proportions converted to per-stratum keep rates via
       curation.mix_to_rates, so the OUTPUT matches the mix)

Prints ONE JSON line: per-stage survivor counts (the lineage a
pipeline alerts on) + wall seconds, and writes the curated corpus as
parquet. Every stage is a Catalyst plan over the previous stage's
doc_id set; nothing collects to the driver.

    python scripts/curate.py --in /root/testdata/sf0.01/documents.parquet \
        --out /tmp/curated --local 8
    spark-submit --py-files pisa_spark.zip scripts/curate.py \
        --in s3://bucket/docs --out s3://bucket/curated \
        --bench s3://bucket/eval_suite
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

try:  # spark-submit --py-files pisa_spark.zip provides the package
    import pisa_spark  # noqa: F401
except ImportError:
    ROOT = str(Path(__file__).resolve().parent.parent)
    sys.path.insert(0, ROOT)
    # the JVM, and the Python workers it starts, inherit PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH")))
    )

# Default quality gates (token-level analogues of the public
# Gopher/C4 rules — see datapipe.textstats).
MIN_TOKENS = 10
MAX_TOP_BIGRAM_MICRO = 500_000   # most frequent bigram covers > 50%
MAX_DUP_TRIGRAM_MICRO = 500_000  # duplicated trigrams cover > 50%
MIN_QUALITY_MICRO = 150_000


def curate(spark, docs, mix=None, bench=None,
           min_tokens: int = MIN_TOKENS,
           max_top_bigram: int = MAX_TOP_BIGRAM_MICRO,
           max_dup_trigram: int = MAX_DUP_TRIGRAM_MICRO,
           min_quality: int = MIN_QUALITY_MICRO,
           seed: int = 7):
    """documents -> (curated DataFrame, lineage dict)."""
    from pyspark.sql import functions as F

    from pisa_spark.datapipe import curation, dedup, textstats

    lineage: dict[str, int] = {"input": docs.count()}

    # Each surviving stage is pinned with an EAGER localCheckpoint
    # (repo rule: localCheckpoint, not persist, for intra-job reuse)
    # so the lineage count, the next stage, and the final write all
    # reuse materialized partitions instead of re-running the
    # tokenize/signal scans from the raw corpus.

    # 1-2. signals + quality filter
    sig = textstats.doc_signals(docs)
    keep_ids = sig.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("top_bigram_frac_micro") <= max_top_bigram)
        & (F.col("dup_trigram_frac_micro") <= max_dup_trigram)
        & (F.col("quality_micro") >= min_quality)
    ).select("doc_id")
    filtered = docs.join(keep_ids, "doc_id").localCheckpoint(eager=True)
    lineage["quality_filtered"] = filtered.count()

    # 3a. EXACT dedup first (one cheap md5 groupBy): identical-copy
    # groups can exceed MinHash's MAX_BUCKET cap (100 copies of one
    # boilerplate page share every band bucket, the cap drops them
    # all, and the LSH pass would emit ZERO pairs for exactly the
    # most duplicated content) — the exact pass catches any group
    # size, and shrinks the LSH input.
    exact_keep = dedup.exact_dedup(filtered).select(
        F.col("keeper_doc_id").alias("doc_id"))
    exact_kept = filtered.join(exact_keep, "doc_id") \
        .localCheckpoint(eager=True)
    lineage["after_exact_dedup"] = exact_kept.count()

    # 3b. near-dup clusters on the exact survivors; the banded
    # signature scan is materialized ONCE and shared between the pair
    # job and the dropped-bucket AUDIT (dedup.py's contract: a
    # pipeline must surface what the cap excluded, not silently treat
    # those docs as unique)
    shd = dedup.shingles_df(exact_kept).localCheckpoint(eager=True)
    bands = dedup.minhash_bands(exact_kept, shd=shd) \
        .localCheckpoint(eager=True)
    dropped = dedup.minhash_dropped_buckets(exact_kept, bands=bands) \
        .localCheckpoint(eager=True)
    pairs = dedup.minhash_lsh_pairs(exact_kept, shd=shd, bands=bands,
                                    dropped=dropped)
    clusters = dedup.dedup_clusters(exact_kept, pairs=pairs)
    dupes = clusters.filter(F.col("doc_id") != F.col("rep_doc_id")) \
        .select("doc_id")
    deduped = exact_kept.join(dupes, "doc_id", "left_anti") \
        .localCheckpoint(eager=True)
    lineage["after_dedup"] = deduped.count()
    lineage["minhash_dropped_buckets"] = dropped.count()

    # 4. decontamination: drop contaminated training docs (raw text
    # on both sides — redaction happens after, so it can never mask
    # a benchmark overlap)
    decon = dedup.decontaminate(deduped, bench=bench)
    dirty = decon.filter(F.col("contaminated") == 1).select("doc_id")
    clean = deduped.join(dirty, "doc_id", "left_anti")
    if bench is None:  # the in-corpus benchmark subset is not output
        clean = clean.filter(
            (F.col("doc_id") % dedup.DECON_MOD) != dedup.DECON_REM
        )

    # 5. PII redaction: a pure per-row projection (zero shuffles),
    # with length metadata recomputed so the output stays consistent
    clean = clean.withColumn(
        "text", F.expr(curation.redact_pii_sql("text")))
    if "n_chars" in clean.columns:
        clean = clean.withColumn(
            "n_chars", F.length("text").cast("long"))
    clean = clean.localCheckpoint(eager=True)
    lineage["after_decontamination"] = clean.count()

    # 6. stratified sample to the target OUTPUT mix (proportions ->
    # per-stratum keep rates; one |strata|-row collect)
    if mix is not None:
        rates = curation.mix_to_rates(clean, "lang", mix)
        clean = curation.stratified_sample(clean, "lang", rates,
                                           seed=seed)
        lineage["after_sampling"] = clean.count()
    lineage["output"] = lineage.get("after_sampling",
                                    lineage["after_decontamination"])
    return clean, lineage


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="inp", required=True,
                    help="documents-shaped parquet (doc_id, text, lang, ...)")
    ap.add_argument("--out", required=True, help="curated parquet dir")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] (omit under spark-submit — "
                         "the cluster master must win)")
    ap.add_argument("--mix", default=None,
                    help='JSON per-lang fractions, e.g. {"en":0.5,"fr":0.25}')
    ap.add_argument("--bench", default=None,
                    help="external benchmark parquet (doc_id, text) to "
                         "decontaminate against instead of the in-corpus "
                         "subset")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pisa_spark.session import local_worker_conf

    b = SparkSession.builder.appName("pisa-spark-curate")
    if args.local:
        master = f"local[{args.local}]"
        b = b.master(master).config(map=local_worker_conf(master)).config(
            "spark.sql.shuffle.partitions", str(max(args.local * 2, 8)))
    spark = (
        b.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    t0 = time.time()
    docs = spark.read.parquet(args.inp)
    mix = json.loads(args.mix) if args.mix else None
    bench = spark.read.parquet(args.bench) if args.bench else None
    curated, lineage = curate(spark, docs, mix=mix, bench=bench,
                              seed=args.seed)
    curated.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"lineage": lineage,
                      "wall_s": round(time.time() - t0, 2),
                      "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
