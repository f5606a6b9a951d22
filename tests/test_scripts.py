"""Smoke tests for the experiment scripts (the reference's
benchmarks/ + fork-tool report harnesses): the helpers they are built
from must stay importable and correct at tiny scale, independent of
the slow full runs."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
))


def test_codec_perftest_helpers_roundtrip():
    """synth_gaps is deterministic and bench_codec's hard roundtrip
    assert passes for a fast and a partitioned codec at tiny n."""
    from codec_perftest import bench_codec, synth_gaps

    from pisa_spark.codecs import CODECS

    g1, g2 = synth_gaps(1280), synth_gaps(1280)
    assert np.array_equal(g1, g2)
    assert g1.max() >= 128  # the large-jump tail is present

    for name in ("varint", "pef"):
        enc, dec = CODECS[name]
        stats = bench_codec(name, enc, dec, g1, repeats=1)
        assert stats["bytes_per_posting"] > 0
        assert stats["enc_mposts"] > 0 and stats["dec_mposts"] > 0


def test_estimator_report_families(spark):
    """family_estimates covers every implemented estimator family and
    evaluate() produces the report fields with a sound overshoot rate
    of 0 for the single-cache family."""
    from estimator_report import evaluate, family_estimates

    from pisa_spark.config import EngineConfig, IndexConfig
    from pisa_spark.corpus import synth_pages, synth_queries
    from pisa_spark.index import build_index
    from pisa_spark.query.parser import parse_queries

    pages = synth_pages(spark, 150, vocab_size=300, max_len=60)
    index = build_index(
        spark, pages, EngineConfig(index=IndexConfig(salt_bucket_docs=128))
    )
    qdf = spark.createDataFrame(synth_queries(8, vocab_size=300))
    parsed = parse_queries(qdf, index.lexicon, pre_tokenized=True)

    fams = family_estimates(index, parsed, k=10)
    assert set(fams) == {
        "single", "pairs", "budget", "sampling", "combine_did",
        "combine_did_new", "substructure", "intersection", "lookup",
    }
    rep = evaluate(index, parsed, fams["single"], k=10)
    assert rep["estimated"] > 0
    assert rep["overshoot_rate"] == 0.0
    assert rep["mean_gap"] <= 1.0


@pytest.mark.parametrize("profile", ["phased", "flat"])
def test_run_pipeline_codec_profiles(tmp_path, profile):
    """The spark-submit entry runs end-to-end under BOTH codec
    profiles: 'phased' (zstd build session -> fresh lz4 query session
    resuming from the build's manifests — the r4 shipped default) and
    'flat' (one lz4 session). Subprocess because each profile owns its
    SparkSession lifecycle; started outside the repository, so its
    Python workers must find the package too."""
    import json
    import re
    import subprocess
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [
            sys.executable, str(repo / "scripts" / "run_pipeline.py"),
            "--local", "4", "--n-docs", "400", "--n-queries", "12",
            "--partitions", "8", "--warmup", "0",
            "--codec-profile", profile,
            "--out", str(tmp_path / f"idx_{profile}"),
            # a small heap: this JVM runs beside the test session's
            "--conf", "spark.driver.memory=2g",
        ],
        capture_output=True, text=True, timeout=600, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    m = re.findall(r'\{"n_docs".*\}', proc.stdout + proc.stderr)
    assert m, proc.stdout[-2000:]
    r = json.loads(m[-1])
    assert r["codec_profile"] == profile
    assert r["n_docs"] == 400 and r["result_rows"] > 0
    assert r["build_docs_per_sec"] > 0 and r["queries_per_sec"] > 0
    # the build executed every stage exactly once (the phased query
    # session RESUMES, never recomputes)
    assert r["stages_executed"] == [
        "docs", "term_ids", "stats", "postings", "lexicon",
        "term_meta", "segments",
    ]
