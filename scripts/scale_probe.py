"""Scale probe: shuffle-byte and driver-memory growth vs corpus size.

Measured evidence for the "survives 100x" argument (VERDICT r4 next-#4):
run the SAME synthetic job at a ladder of corpus sizes, each in a FRESH
local session with the UI's REST endpoint enabled. ``--job build``
(default) probes the synthetic-pages index build;
``--job dedup`` probes the two headline dedup scale paths
(minhash_lsh_pairs banded-LSH + simhash_pairs pigeonhole chunks) over
the same synthetic pages — the measured form of SCALE.md's
"Training-data pipeline" plan-shape claims. Recorded per size:

- build wall + docs/s,
- total shuffle read/write bytes and input bytes summed over stages
  (the REST /stages payload — exactly what the Spark UI shows),
- the driver Python process's peak RSS (ru_maxrss) and a sampled JVM
  used-heap maximum,
- task `resultSize`-class traffic: rows collected to the driver
  (collection_stats is 1 row; assign_global_ids offsets are
  partition-count rows) do not scale with docs, so driver memory must
  grow sub-linearly while shuffle bytes grow ~linearly.

One JSON line per size on stdout; the aggregate goes to
SCALE_PROBE.json (repo root) unless --out is given.

Usage: python scripts/scale_probe.py [--docs 64000,128000,512000]
       [--cores 32] [--job build|dedup] [--out SCALE_PROBE.json]
(--job dedup writes SCALE_PROBE_DEDUP.json by default)
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def probe_one(n_docs: int, cores: int, port: int, job: str = "build") -> dict:
    """Run ONE size in THIS process (fresh JVM per invocation when
    driven through main's subprocess mode)."""
    sys.path.insert(0, REPO)
    # the JVM, and the Python workers it starts, inherit PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (REPO, os.environ.get("PYTHONPATH")))
    )
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pisa_spark.config import EngineConfig
    from pisa_spark.corpus import synth_pages
    from pisa_spark.index import build_index
    from pisa_spark.session import local_worker_conf

    master = f"local[{cores}]"
    spark = (
        SparkSession.builder.master(master)
        .config(map=local_worker_conf(master))
        .appName(f"scale-probe-{n_docs}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(port))
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = synth_pages(
        spark, n_docs, vocab_size=max(2000, n_docs // 10), max_len=200
    ).persist()
    n = pages.count()
    assert n == n_docs

    heap_peak = 0

    def heap_now() -> int:
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        return int(rt.totalMemory() - rt.freeMemory())

    job_metrics: dict = {}
    if job == "dedup":
        # documents-shaped input: the synthetic url embeds the doc
        # index (corpus.py:86), so doc_id extraction is deterministic
        # and shuffle-free.
        from pisa_spark.datapipe import dedup as dd

        docs = pages.select(
            F.regexp_extract("url", r"page(\d+)$", 1).cast("long")
            .alias("doc_id"),
            "text",
        ).persist()
        docs.count()
        t0 = time.perf_counter()
        mh_pairs = dd.minhash_lsh_pairs(docs).count()
        mh_s = time.perf_counter() - t0
        heap_peak = max(heap_peak, heap_now())
        t1 = time.perf_counter()
        # pair job + dropped-chunk audit share one fingerprint scan
        # (the curate.py minhash sharing contract, simhash twin)
        chunks = dd.simhash_chunks(docs).localCheckpoint(eager=True)
        sim_pairs = dd.simhash_pairs(docs, chunks=chunks).count()
        sim_dropped = dd.simhash_dropped_chunks(docs, chunks=chunks).count()
        sim_s = time.perf_counter() - t1
        build_s = time.perf_counter() - t0
        heap_peak = max(heap_peak, heap_now())
        job_metrics = {
            "minhash_s": round(mh_s, 2),
            "minhash_pairs": mh_pairs,
            "simhash_s": round(sim_s, 2),
            "simhash_pairs": sim_pairs,
            "simhash_dropped_chunks": sim_dropped,
        }
        n_seg = n_postings = 0
    else:
        t0 = time.perf_counter()
        index = build_index(spark, pages, EngineConfig())
        n_seg = index.segments.count()
        heap_peak = max(heap_peak, heap_now())
        index.term_meta.count()
        build_s = time.perf_counter() - t0
        heap_peak = max(heap_peak, heap_now())
        n_postings = index.postings.count()
        heap_peak = max(heap_peak, heap_now())

    # Read the BOUND port back (Spark walks ports upward when the
    # requested one is taken — querying the requested port would read
    # another application's stats without any error).
    ui_url = spark.sparkContext.uiWebUrl
    base = f"{ui_url}/api/v1/applications"
    app_id = spark.sparkContext.applicationId
    apps = json.load(urllib.request.urlopen(base))
    assert any(a["id"] == app_id for a in apps), (app_id, apps)
    stages = json.load(urllib.request.urlopen(f"{base}/{app_id}/stages"))
    out = {
        "job": job,
        "n_docs": n_docs,
        "cores": cores,
        "build_s": round(build_s, 2),
        "docs_per_sec": round(n_docs / build_s, 1),
        "n_postings": n_postings,
        "n_segments": n_seg,
        **job_metrics,
        "n_stages": len(stages),
        "shuffle_read_b": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "shuffle_write_b": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "input_b": sum(s.get("inputBytes", 0) for s in stages),
        "driver_py_maxrss_mb": round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
        ),
        "jvm_heap_peak_mb": round(heap_peak / 1e6, 1),
    }
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="64000,128000,512000")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--job", choices=("build", "dedup"), default="build")
    ap.add_argument("--out", default=None)
    ap.add_argument("--one", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--port", type=int, default=4049, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.out is None:
        name = "SCALE_PROBE.json" if args.job == "build" else (
            "SCALE_PROBE_DEDUP.json")
        args.out = os.path.join(REPO, name)

    if args.one is not None:
        # child mode: one size in this (fresh) JVM/process
        print(json.dumps(probe_one(args.one, args.cores, args.port, args.job)))
        return

    sizes = [int(x) for x in args.docs.split(",")]
    rows = []
    for i, n in enumerate(sizes):
        # fresh process per size: clean JVM heap baseline, clean
        # stage store, honest ru_maxrss attribution
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--one", str(n), "--cores", str(args.cores),
             "--job", args.job, "--port", str(4049 + i)],
            capture_output=True, text=True, cwd=REPO,
        )
        line = [l for l in r.stdout.splitlines() if l.startswith("{")]
        if r.returncode != 0 or not line:
            sys.stderr.write(r.stderr[-2000:])
            raise SystemExit(f"probe at {n} docs failed")
        row = json.loads(line[-1])
        rows.append(row)
        print(json.dumps(row))

    # growth summary vs the first (baseline) size
    base = rows[0]
    summary = []
    for r in rows[1:]:
        dr = r["n_docs"] / base["n_docs"]
        summary.append(
            {
                "docs_ratio": round(dr, 2),
                "shuffle_write_ratio": round(
                    r["shuffle_write_b"] / max(base["shuffle_write_b"], 1), 2
                ),
                "driver_rss_ratio": round(
                    r["driver_py_maxrss_mb"] / base["driver_py_maxrss_mb"], 2
                ),
                "jvm_heap_ratio": round(
                    r["jvm_heap_peak_mb"] / max(base["jvm_heap_peak_mb"], 1), 2
                ),
                "throughput_ratio": round(
                    r["docs_per_sec"] / base["docs_per_sec"], 2
                ),
            }
        )
    result = {"runs": rows, "growth_vs_first": summary}
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
