"""SparkSession factory with scale-appropriate defaults.

Single place that owns the session config so tests, bench, and
spark-submit entrypoints agree. Defaults target the sandbox
(``local[N]``) but every knob is the one you would set on a real
multi-executor cluster: AQE on (runtime re-planning + skew-join
handling), Arrow on (pandas-UDF batches), shuffle partitions sized to
cores at small scale (on a 1000-executor cluster you would raise
``spark.sql.shuffle.partitions`` to ~2-3x total cores or rely on AQE
coalescing, which is enabled here).

Local masters also start their Python workers from
``pisa_spark.worker_daemon`` (``local_worker_conf``): the stock
daemon leaves pyspark.zip and the spark-core jar on the worker path,
and every task's ``importlib.invalidate_caches()`` re-reads their zip
directories (~0.2 s per task). Scripts that build their own
local session take the same confs from ``local_worker_conf``.
"""

from __future__ import annotations

import importlib.machinery
import os
import site

from pyspark.sql import SparkSession

def _worker_imports_daemon() -> bool:
    """True iff a local Python worker finds pisa_spark.worker_daemon:
    Spark starts the daemon with ``python -m`` in the JVM's working
    directory (this process's), so its path is that directory,
    PYTHONPATH and the site packages."""
    path = [
        os.getcwd(),
        *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep)),
        *site.getsitepackages(),
    ]
    spec = importlib.machinery.PathFinder.find_spec("pisa_spark", path)
    return bool(spec and spec.submodule_search_locations) and os.path.exists(
        os.path.join(spec.submodule_search_locations[0], "worker_daemon.py")
    )


def local_worker_conf(master: str) -> dict[str, str]:
    """The confs every session on a ``local[...]`` master sets, whoever
    builds it: Python workers start from pisa_spark.worker_daemon,
    which takes pyspark.zip (when an installed pyspark of its version
    stands in) and the spark-core jar off the worker path before
    pyspark is imported. Every task's ``importlib.invalidate_caches()``
    otherwise re-reads each cached zip importer's archive directory —
    ~0.2 s per task, whatever the task. Other masters keep the
    stock daemon: there ``--py-files`` reach the worker path only at
    task time, so the module is not importable when the daemon
    starts. Empty when a local worker could not import it either."""
    if master.partition("[")[0] != "local" or not _worker_imports_daemon():
        return {}
    return {"spark.python.daemon.module": "pisa_spark.worker_daemon"}


def get_spark(
    app_name: str = "pisa_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` -> ``local[*]``. ``shuffle_partitions`` defaults to
    the core count (small-scale local runs); cluster deployments should
    override via ``extra_conf`` or spark-submit ``--conf``.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 4)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Floor small-input scans at 2 tasks/core: Spark's default
        # bytesPerCore heuristic gives exactly one task wave, so one
        # straggler split stalls the whole stage. Scale-safe: for big
        # inputs maxPartitionBytes (128M) caps splits long before this
        # floor matters (measured: tokens stage -30% wall at local[8]).
        .config("spark.sql.files.minPartitionNum", str(2 * n_cores))
        # Shuffle compression stays on Spark's lz4 default for this
        # shared session factory (tests + query-shaped work). zstd
        # halves the corpus-pair shuffle's bytes and buys ~+15-23%
        # BUILD throughput where the memory bus saturates (local[8]+,
        # BENCH.md A/B) — but it taxes every small query job ~25%
        # (zstd context setup per shuffle block dominates tiny
        # shuffles; measured e2e 12.4 s lz4 vs 16.4-17.1 s zstd on the
        # full bench, with sf-build throughput flat). The PHASED
        # profile in scripts/run_pipeline.py is the shipped answer:
        # the build application runs zstd, the query application
        # lz4 — on a cluster those are separate spark-submit jobs
        # with their own --conf anyway.
        # Posting-list arrays can be large; keep Arrow batches bounded.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("PISA_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # The worker daemon follows the EFFECTIVE master: an extra_conf
    # spark.master off local keeps the stock daemon.
    extra = extra_conf or {}
    conf = local_worker_conf(extra.get("spark.master", master))
    return builder.config(map={**conf, **extra}).getOrCreate()
