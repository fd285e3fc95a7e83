"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB target (SURVEY.md §4): AQE on (runtime
re-plan + skew-join splitting), broadcast threshold generous (dimension
tables in entity linking are small), Arrow batches sized for the
model-inference UDF, shuffle partitions overridable per environment.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_ZIP: str | None = None
_SHIPPED: set[str] = set()


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else min(8g, a quarter of
    physical RAM): every local session (tests, tools, bench) is one
    driver JVM, and two fixed 8g heaps side by side can exhaust a
    16 GB host."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(8192, ram_mb // 4)}m"


def ship_package(spark: SparkSession) -> None:
    """Make openie_spark importable on executor Python workers
    regardless of the driver's cwd/PYTHONPATH: pandas-UDF closures
    reference the module by name, and a session launched from another
    directory has no way to import it. addPyFile distributes a zip and
    prepends it to every worker's sys.path; the zip is built once per
    process (and removed at its exit) and added once per application.
    A package imported from a zip (``spark-submit --py-files``) is
    already on the workers: nothing to ship."""
    global _PKG_ZIP
    pkg = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg):
        return
    if _PKG_ZIP is None:
        root = os.path.dirname(pkg)
        tmp = tempfile.mkdtemp(prefix="openie_spark_pkg")
        atexit.register(shutil.rmtree, tmp, True)
        zp = os.path.join(tmp, "openie_spark.zip")
        with zipfile.ZipFile(zp, "w") as z:
            for dirpath, _, files in os.walk(pkg):
                for f in files:
                    # .txt rides along for package data (the WordPiece
                    # vocab must reach zipimport-ed executor workers).
                    if f.endswith((".py", ".txt")):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        _PKG_ZIP = zp
    app = spark.sparkContext.applicationId
    if app not in _SHIPPED:
        spark.sparkContext.addPyFile(_PKG_ZIP)
        _SHIPPED.add(app)


def tune_runtime(spark: SparkSession) -> SparkSession:
    """The runtime-settable part of ``get_spark``'s defaults, for a
    session built elsewhere (a driver's vanilla session, a
    spark-submit launch): AQE with skew-join splitting, UTC
    timestamps, one BLAS thread per Python worker, and the package
    shipped to the executors."""
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }.items():
        spark.conf.set(k, v)
    # One BLAS thread per python worker: task-level parallelism already
    # fills every core, and 2 OpenBLAS threads/worker × N workers just
    # spin-contend (measured 2x slower decode). sc.environment feeds
    # the envVars of every subsequently-created python UDF worker, so
    # this works even on an already-started session.
    for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        spark.sparkContext.environment.setdefault(k, "1")
    ship_package(spark)
    return spark


def get_spark(
    app_name: str = "openie-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: runtime re-plan, skew-join splitting,
        #     partition coalescing. Non-negotiable at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow: the JVM<->Python boundary for the model UDF.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # --- Keep scans splittable and sized for executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- Deterministic timestamps in tests regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # One BLAS thread per python worker — Spark tasks are the
        # parallelism; multi-threaded OpenBLAS inside each of N
        # concurrent workers spin-contends (measured 2x slower numpy
        # inference). Reaches workers via PythonFunction envVars in
        # every deploy mode, local included.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
