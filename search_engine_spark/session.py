"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip this package for shipping to executors (``--py-files`` equivalent).

    UDF closures reference ``search_engine_spark``; executor Python workers
    must be able to import it regardless of the driver's cwd/sys.path.
    Each call writes into a fresh temporary directory: Spark refuses a
    second file of the same path with other contents, so two sessions on
    one host must never share (and overwrite) one zip. The directory is
    removed when the process exits, as the session that ships it is.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp()
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    out = os.path.join(tmp, "search_engine_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    return out


def get_spark(
    app_name: str = "search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Local-mode defaults follow the sandbox contract: ``local[$SPARK_GRAFT_CPUS]``
    with shuffle partitions matched to cores (not the 200 default), AQE on
    (runtime coalescing + skew-join splitting — our hot-term shuffles need it),
    Arrow enabled (every UDF in this engine is Arrow-batched).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.log.level", "WARN")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark
