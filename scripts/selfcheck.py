#!/usr/bin/env python
"""Rehearse the driver's correctness gate locally.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB over the same parquet, then compares
row count, column names, and an order-insensitive value hash
(values normalized: floats rounded to 6 decimal places — the micro
quantum — rows sorted by their string form; a stand-in for whatever
exact hash the driver uses; any mismatch here is a real mismatch
there).

Usage: python scripts/selfcheck.py [entry ...] [--sf=DIR] [--out=FILE]

With ``--out=FILE`` (e.g. ``--out=SELFCHECK_r3.json``) the per-entry
results are also written in the driver's CORRECTNESS_r{N}.json format
(rows/schema/hash match booleans + row counts), so the full matrix is
recorded in-repo each round regardless of the driver's row budget.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the JVM, and the Python workers it starts, inherit PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (ROOT, os.environ.get("PYTHONPATH")))
)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: bytes(v).hex() if isinstance(v, (bytes, bytearray)) else v
            )
    if len(df) == 0 or len(cols) == 0:
        rows: list[str] = []
    else:
        rows = sorted(df.astype(str).agg("|".join, axis=1).tolist())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    out_path = None
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    import __spark_entry__ as e
    from pisa_spark.session import get_spark

    spark = get_spark(app_name="selfcheck", cores=4, shuffle_partitions=4)
    qs = e.queries()
    oracles = e.oracle_sql()
    names = args or list(qs)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    record: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            record[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark_error: {ex}"[:200],
            }
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            record[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": "no_oracle",
            }
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            record[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": f"duckdb_error: {ex}"[:200],
            }
            failures += 1
            continue
        sn, sc, sh = normalize(sdf)
        on, oc, oh = normalize(odf)
        record[name] = {
            "rows_match": sn == on, "schema_match": sc == oc,
            "hash_match": sh == oh, "spark_rows": sn, "oracle_rows": on,
            "err": None,
        }
        status = "ok  " if (sn, sc, sh) == (on, oc, oh) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: spark({sn} rows, {sh}) vs duckdb({on} rows, {oh})"
              f" cols={'=' if sc == oc else f'{sc} vs {oc}'} [{time.time()-t0:.1f}s]")
        if status == "FAIL" and sn and on:
            merged = None
            try:
                key_cols = [c for c in ["query_id", "term_id", "doc_id", "rank", "term"]
                            if c in sdf.columns][:2]
                if key_cols:
                    merged = sdf.merge(odf, on=key_cols, how="outer",
                                       suffixes=("_s", "_o"), indicator=True)
                    diff = merged[merged["_merge"] != "both"]
                    print(f"     first diffs:\n{diff.head(5).to_string()}")
            except Exception:  # noqa: BLE001
                pass
    print(f"\n{len(names) - failures}/{len(names)} entries match")
    if out_path:
        with open(out_path, "w") as f:
            json.dump(record, f, indent=2)
        print(f"wrote {out_path} ({len(record)} entries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
