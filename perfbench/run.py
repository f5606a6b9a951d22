#!/usr/bin/env python3
"""pisa_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. The run starts one Spark session on
local[<usable cores>], sets the workload up three times (the median is
``setup_s``), warms it up, then repeats the measured operation until
the operations have taken ``--seconds`` in total, checking each
output outside the timers. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` records spans around every call into a layer,
enables a Spark event log and prints the per-layer metrics instead.
A single-process codec gauge runs before the session starts and after
it stops, to tell CPU steal from code changes.

The last stdout line is {"correct", "attempted", "failed", "metrics"};
the exit code is 0 only when every operation was right. The raw
timings, gauge readings and spans go to .perfbench_out/. See
perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from spans import (PeakRss, Tracer, descendants, event_log_by_group, median,
                   self_times, timed)

SETUP_REPS = 3
# A run whose codec gauge drifts by more than this share between the
# readings before and after it ran in changing CPU weather.
GAUGE_BOUND = 0.15

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
}

# Spark task metrics are summed over the jobs each layer's calls submit.
SPARK_LAYERS = {"build": "build.", "query": "query.executor."}
SPARK_FIELDS = {"cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "B",
                "spill_bytes": "B", "tasks": "count"}

PER_LAYER = {
    **{f"build.{s}.wall_s": "s" for s in ("docs", "term_ids", "stats", "postings",
                                          "lexicon", "term_meta", "segments")},
    "build.driver_gap_s": "s",
    "build.postings.rows": "count",
    "build.postings.bytes": "B",
    "build.segments.rows": "count",
    "build.segments.bytes": "B",
    "codecs.decode_mposts": "Mpost/s",
    "codecs.encode_mposts": "Mpost/s",
    "gauge.drift_frac": "frac",
    "gauge.flagged": "count",
    "query.parser.parse_s": "s",
    "query.executor.scan_join_s": "s",
    "query.executor.boundary_s": "s",
    "query.executor.payload_bytes_shipped": "B",
    "query.executor.batch_skew": "ratio",
    "query.executor.scan_prune_on": "count",
    "query.executor.segment_rows_read": "count",
    "query.executor.segment_rows_total": "count",
    "query.executor.jobs_per_request": "count",
    "query.kernels.proto_s": "s",
    "query.kernels.walk_s": "s",
    "query.kernels.decode_s": "s",
    "query.kernels.blocks_decoded": "count",
    "query.kernels.blocks_shipped": "count",
    "query.kernels.block_decode_frac": "frac",
    "query.kernels.postings_decoded": "count",
    "query.kernels.route_taat_frac": "frac",
    "query.kernels.query_us_p50": "us",
    "query.kernels.query_us_p90": "us",
    "query.unattributed_s": "s",
    **{f"spark.{layer}.{f}": u for layer in SPARK_LAYERS
       for f, u in SPARK_FIELDS.items()},
    "mem.peak_rss_mb": "MB",
    "mem.peak_worker_rss_mb": "MB",
    "trace.items_per_s": "1/s",
    "trace.op_self_frac": "frac",
}


def _start_spark(cores: int, work: Path, trace: bool):
    from pisa_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        # -UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    tree = [p for p in descendants(jvm.pid) if p != jvm.pid]
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in tree:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _tag_jobs(sc, span) -> None:
    """Spark jobs submitted inside a span carry its name (and request
    id) as their job group, so the event log splits per layer call."""
    if span is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        return
    gid = span["name"] + (f"#{span['request']}" if span["request"] else "")
    sc.setJobGroup(gid, gid)


def _spark_layers(groups: dict, n_ops: int) -> dict:
    """Per layer call: task metrics of the jobs measured operations
    submitted from inside that layer's spans."""
    out = {}
    for layer, prefix in SPARK_LAYERS.items():
        tot = {f: 0 for f in SPARK_FIELDS}
        for gid, g in groups.items():
            name, _, request = gid.partition("#")
            if request and name.startswith(prefix):
                for f in SPARK_FIELDS:
                    tot[f] += g[f]
        out.update({f"spark.{layer}.{f}": v / n_ops for f, v in tot.items()})
    query_jobs = sum(g["jobs"] for gid, g in groups.items()
                     if gid.partition("#")[2] and gid.startswith(SPARK_LAYERS["query"]))
    out["query.executor.jobs_per_request"] = query_jobs / n_ops
    scan = groups.get("probe.query.segment_scan")
    out["query.executor.segment_rows_read"] = scan["records_read"] if scan else 0
    return out


def _measure(wl, tracer, seconds: float, jvm_pid: int) -> dict:
    phases = {}
    t_start = time.perf_counter()
    setup = []
    for rep in range(SETUP_REPS):
        with tracer.span("setup"):
            setup.append(timed(lambda: wl.setup(rep)))
    with tracer.span("prepare"):
        phases["prepare"] = timed(wl.prepare)
    walls, failed = [], 0
    t_ops = time.perf_counter()
    # the sampler scans /proc and would compete with the measured run,
    # so only traced runs take it
    rss = PeakRss(jvm_pid) if tracer.enabled else contextlib.nullcontext()
    with rss:
        while not walls or sum(walls) < seconds:
            i = len(walls)
            t0 = time.perf_counter()
            with tracer.span("op", request=f"op{i}"):
                result = wl.op(i)
            walls.append(time.perf_counter() - t0)
            with tracer.span("check"):
                failed += not wl.check(result)
    phases["ops_and_checks"] = time.perf_counter() - t_ops
    layers = {}
    if tracer.enabled:
        t_layers = time.perf_counter()
        layers = {**wl.layers(),
                  "mem.peak_rss_mb": rss.peak / (1 << 20),
                  "mem.peak_worker_rss_mb": rss.peak_child / (1 << 20)}
        phases["layers"] = time.perf_counter() - t_layers
    phases["total"] = time.perf_counter() - t_start
    return {"setup_s": setup, "op_s": walls, "failed": failed, "phases": phases,
            "items": wl.items, "layers": layers}


def main(argv=None) -> int:
    from workloads import WORKLOADS, Context, codec_gauge

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "pisa_spark" / "__init__.py").is_file():
        print("perfbench: pisa_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))

    trace = bool(args.trace)
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in ("events", "local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import pisa_spark (and this directory's
    # modules, for the functions probes ship) from the checkout; all
    # scratch files stay inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), str(Path(__file__).resolve().parent),
                    os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM
    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))

    try:
        gauge_before = codec_gauge(root)
        spark = _start_spark(cores, work, trace)
        try:
            tracer = Tracer(trace, on_change=lambda s: _tag_jobs(spark.sparkContext, s))
            wl = WORKLOADS[args.workload](Context(spark, work, args.seed, tracer))
            jvm_pid = spark.sparkContext._gateway.proc.pid
            run = _measure(wl, tracer, args.seconds, jvm_pid)
        finally:
            _stop_spark(spark)
        gauge_after = codec_gauge(root)
        groups = event_log_by_group(work / "events") if trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    drift = abs(gauge_after["dec_mposts"] - gauge_before["dec_mposts"]) \
        / gauge_before["dec_mposts"]
    if drift > GAUGE_BOUND:
        print(f"perfbench: codec gauge drifted {drift:.1%} during the run "
              f"({gauge_before['dec_mposts']} -> {gauge_after['dec_mposts']} "
              "Mpost/s decode); CPU weather changed", file=sys.stderr)
    op_s = median(run["op_s"])
    if trace:
        spans = tracer.spans
        st = self_times(spans)
        ops = [s for s in spans if s["name"] == "op"]
        layers = {
            **run["layers"],
            **_spark_layers(groups, len(run["op_s"])),
            "codecs.decode_mposts": (gauge_before["dec_mposts"] + gauge_after["dec_mposts"]) / 2,
            "codecs.encode_mposts": (gauge_before["enc_mposts"] + gauge_after["enc_mposts"]) / 2,
            "gauge.drift_frac": drift,
            "gauge.flagged": int(drift > GAUGE_BOUND),
            "trace.items_per_s": run["items"] / op_s,
            "trace.op_self_frac": median(st[s["id"]] / (s["end"] - s["start"]) for s in ops),
        }
        if "query.kernels.walk_s" in layers:
            # the batch wall the probes leave unexplained; the serial
            # replay's kernel time is spread over the cores
            layers["query.unattributed_s"] = op_s - layers["query.executor.scan_join_s"] \
                - layers["query.executor.boundary_s"] \
                - (layers["query.kernels.proto_s"] + layers["query.kernels.walk_s"]) / cores
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": median(run["setup_s"]),
                  "throughput_per_s": run["items"] / op_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": run["failed"] == 0, "attempted": len(run["op_s"]),
              "failed": run["failed"], "metrics": metrics}

    out = root / ".perfbench_out"
    out.mkdir(exist_ok=True)
    record = {"args": vars(args), "cores": cores, "gauge_before": gauge_before,
              "gauge_after": gauge_after, "setup_s": run["setup_s"], "op_s": run["op_s"],
              "phases": run["phases"],
              "result": result, "spans": tracer.spans if trace else []}
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json") \
        .write_text(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
