"""Local sessions start their Python workers from
pisa_spark.worker_daemon: pyspark comes from the installed package
and no task re-reads pyspark.zip or the spark-core jar (see the
module docstring), unless the installed pyspark cannot stand in for
the zip."""

from __future__ import annotations

import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa
import pyspark

from pisa_spark.session import local_worker_conf
from pisa_spark.worker_daemon import unzipped_path


def _fake_zip(tmp_path, version_line: str) -> str:
    path = tmp_path / "spark" / "python" / "lib" / "pyspark.zip"
    path.parent.mkdir(parents=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version_line + "\n")
    return str(path)


def _site_path() -> list[str]:
    """This interpreter's path, which imports the installed pyspark."""
    return [p for p in sys.path if p]


def test_worker_imports_installed_pyspark_without_zip_importers(spark):
    def probe(batches):
        import zipimport

        import pyspark as worker_pyspark

        for _ in batches:
            pass
        held = [
            key for key, imp in sys.path_importer_cache.items()
            if isinstance(imp, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict({
            "origin": [worker_pyspark.__file__] * max(len(held), 1),
            "importer": held or [None],
        })

    rows = spark.range(8).repartition(4).mapInArrow(
        probe, "origin string, importer string"
    ).collect()
    assert {r["origin"] for r in rows} == {pyspark.__file__}
    held = {r["importer"] for r in rows} - {None}
    assert not [
        key for key in held if "pyspark.zip" in key or key.endswith(".jar")
    ], held


def test_same_version_zip_and_jars_leave_the_path(tmp_path):
    zip_path = _fake_zip(
        tmp_path, f'__version__: str = "{pyspark.__version__}"'
    )
    jar = str(tmp_path / "spark-core_2.13.jar")
    path = [zip_path, jar, *_site_path()]
    assert unzipped_path(path) == _site_path()


def test_mismatched_or_missing_pyspark_keeps_the_zip(tmp_path):
    zip_path = _fake_zip(tmp_path, "__version__: str = '0.0.0-other'")
    jar = str(tmp_path / "spark-core_2.13.jar")
    # installed pyspark of another version than the zip
    assert unzipped_path([zip_path, jar, *_site_path()]) == [
        zip_path, *_site_path()
    ]
    # no pyspark importable without the zip
    empty = str(tmp_path / "empty")
    assert unzipped_path([zip_path, jar, empty]) == [zip_path, empty]


def test_only_local_masters_get_the_daemon():
    daemon = {"spark.python.daemon.module": "pisa_spark.worker_daemon"}
    for master in ("local", "local[4]", "local[*]"):
        assert local_worker_conf(master) == daemon, master
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]",
                   "k8s://https://host:443"):
        assert local_worker_conf(master) == {}, master


def test_daemon_module_imports_no_pyspark_before_the_path_fix():
    """``python -m pisa_spark.worker_daemon`` imports the package and
    the module before _main edits the path: neither may pull in
    pyspark, or the zip's copy would already be loaded."""
    code = (
        "import sys, pisa_spark.worker_daemon; "
        "assert 'pyspark' not in sys.modules, sorted(sys.modules)"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True,
        cwd=Path(__file__).resolve().parent.parent,
    )
