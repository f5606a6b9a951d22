#!/usr/bin/env python
"""Two-parallelism scaling protocol (BASELINE.md / north rule).

Runs the IDENTICAL pipeline job (same corpus, same fixed partition
count, fresh JVM each) at local[N] and local[4N] and reports
throughput at both plus scaling efficiency:

    efficiency = throughput(4N) / (4 * throughput(N))

Writes the measurement table to SCALING_LATEST.md (BENCH.md is
hand-curated — merge from there) and prints the JSON.

    python scripts/scaling.py [--n 8] [--n-docs 32000] [--queries 800]
"""

from __future__ import annotations

import argparse
import json
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run_once(cores: int, n_docs: int, n_queries: int, out: str,
             conf: list[str] | None = None) -> dict:
    shutil.rmtree(out, ignore_errors=True)
    cmd = [
        sys.executable, str(REPO / "scripts" / "run_pipeline.py"),
        "--local", str(cores), "--n-docs", str(n_docs),
        "--n-queries", str(n_queries), "--out", out,
    ]
    for kv in conf or []:
        cmd += ["--conf", kv]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    m = re.findall(r'\{"n_docs".*\}', proc.stdout + proc.stderr)
    if not m:
        raise RuntimeError(
            f"no result JSON from local[{cores}]:\n{proc.stderr[-2000:]}"
        )
    r = json.loads(m[-1])
    r["total_wall_s"] = round(time.time() - t0, 1)
    return r


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=8, help="small parallelism N")
    ap.add_argument("--n-docs", type=int, default=32_000)
    ap.add_argument("--queries", type=int, default=800)
    ap.add_argument("--out-dir", default="/tmp/pisa_scaling")
    ap.add_argument("--repeats", type=int, default=2,
                    help="repeats per level; best throughput wins "
                         "(the sandbox VM sees neighbor CPU steal)")
    ap.add_argument("--conf", action="append", default=[],
                    metavar="K=V",
                    help="extra spark conf forwarded to run_pipeline "
                         "(repeatable); run_pipeline's shipped default "
                         "is the PHASED codec profile (zstd build "
                         "session / lz4 query session) — override "
                         "both phases here if needed")
    ap.add_argument("--interleave", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="alternate N / 4N runs round-by-round and "
                         "report PER-ROUND ratios alongside the "
                         "pooled best-of pair — the DEFAULT and the "
                         "only RECORDED protocol since round 5. The "
                         "phase-major order (--no-interleave, debug "
                         "only) runs all N repeats ~20 min before "
                         "the 4N repeats, so slow drift in neighbor "
                         "CPU steal lands entirely in the ratio; "
                         "interleaving measures each round's two "
                         "levels back-to-back under the same weather "
                         "(a methodology fix, not a number filter — "
                         "every round is reported)")
    args = ap.parse_args()
    n, n4 = args.n, args.n * 4

    def run_level(cores: int, i: int) -> dict:
        return run_once(cores, args.n_docs, args.queries,
                        f"{args.out_dir}/idx{cores}_{i}", conf=args.conf)

    rounds = []
    if args.interleave:
        lo_runs, hi_runs = [], []
        for i in range(args.repeats):
            lo_i = run_level(n, i)
            hi_i = run_level(n4, i)
            lo_runs.append(lo_i)
            hi_runs.append(hi_i)
            rounds.append({
                "round": i,
                "build_eff": round(
                    hi_i["build_docs_per_sec"]
                    / (4 * lo_i["build_docs_per_sec"]), 3),
                "query_eff": round(
                    hi_i["queries_per_sec"]
                    / (4 * lo_i["queries_per_sec"]), 3),
                "low_build_dps": lo_i["build_docs_per_sec"],
                "high_build_dps": hi_i["build_docs_per_sec"],
                "low_qps": lo_i["queries_per_sec"],
                "high_qps": hi_i["queries_per_sec"],
            })
    else:
        lo_runs = [run_level(n, i) for i in range(args.repeats)]
        hi_runs = [run_level(n4, i) for i in range(args.repeats)]

    def best_of(runs: list[dict]) -> dict:
        best = dict(max(runs, key=lambda r: r["build_docs_per_sec"]))
        best["queries_per_sec"] = max(r["queries_per_sec"] for r in runs)
        best["query_wall_s"] = min(r["query_wall_s"] for r in runs)
        return best

    lo = best_of(lo_runs)
    hi = best_of(hi_runs)

    b_eff = hi["build_docs_per_sec"] / (4 * lo["build_docs_per_sec"])
    q_eff = hi["queries_per_sec"] / (4 * lo["queries_per_sec"])
    result = {
        "n_docs": args.n_docs,
        "n_queries": args.queries,
        "conf": args.conf,
        "codec_profile": lo.get("codec_profile", "flat"),
        "low": {"cores": n, "build_docs_per_sec": lo["build_docs_per_sec"],
                "queries_per_sec": lo["queries_per_sec"],
                "build_wall_s": lo["build_wall_s"],
                "query_wall_s": lo["query_wall_s"]},
        "high": {"cores": n4, "build_docs_per_sec": hi["build_docs_per_sec"],
                 "queries_per_sec": hi["queries_per_sec"],
                 "build_wall_s": hi["build_wall_s"],
                 "query_wall_s": hi["query_wall_s"]},
        "build_scaling_efficiency": round(b_eff, 3),
        "query_scaling_efficiency": round(q_eff, 3),
    }
    if rounds:
        result["interleaved_rounds"] = rounds
        result["best_round_build_eff"] = max(
            r["build_eff"] for r in rounds
        )
        result["best_round_query_eff"] = max(
            r["query_eff"] for r in rounds
        )
    print(json.dumps(result))

    # BENCH.md is hand-curated; write the raw table to a side artifact
    # and let the curator merge the numbers (clobbering BENCH.md here
    # lost curated content once — never again).
    bench_md = REPO / "SCALING_LATEST.md"
    stamp = time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime())
    table = f"""# Scaling protocol — latest raw run (merge into BENCH.md)

Last run: {stamp}. Protocol per BASELINE.md: the identical job (same
synthetic corpus of {args.n_docs} docs generated with a fixed 64-way
partitioning, same {args.queries}-query batch, fresh JVM) at
`local[{n}]` vs `local[{n4}]`; efficiency = throughput({n4}) /
(4 x throughput({n})). North-rule target: >= 0.8.

| metric | local[{n}] | local[{n4}] | efficiency |
|---|---|---|---|
| index build (docs/sec) | {lo['build_docs_per_sec']} | {hi['build_docs_per_sec']} | **{b_eff:.3f}** |
| index build wall (s) | {lo['build_wall_s']} | {hi['build_wall_s']} | |
| query batch (queries/sec) | {lo['queries_per_sec']} | {hi['queries_per_sec']} | **{q_eff:.3f}** |
| query batch wall (s) | {lo['query_wall_s']} | {hi['query_wall_s']} | |

Reproduce: `python scripts/scaling.py --n {n} --n-docs {args.n_docs} --queries {args.queries} --repeats {args.repeats}`
(best-of-{args.repeats} per level; the
shared-host VM sees neighbor CPU steal — compare only runs from a
quiet window, BENCH.md "Measurement discipline")
"""
    if rounds:
        table += (
            "\nInterleaved per-round ratios (each round's two levels"
            " measured\nback-to-back under the same box weather —"
            " every round reported):\n\n"
            "| round | build eff | query eff |"
            f" local[{n}] / local[{n4}] build docs/s |\n|---|---|---|---|\n"
        )
        for r in rounds:
            table += (
                f"| {r['round']} | {r['build_eff']:.3f} |"
                f" {r['query_eff']:.3f} |"
                f" {r['low_build_dps']} / {r['high_build_dps']} |\n"
            )
    table += f"""
Curated cross-run record + attribution: BENCH.md "Round-4 headline".

Raw JSON:

```json
{json.dumps(result, indent=1)}
```
"""
    bench_md.write_text(table)
    print(f"wrote {bench_md}")


if __name__ == "__main__":
    main()
