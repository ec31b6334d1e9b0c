"""SparkSession factory tuned for the extraction workload.

Local mode here, but every knob is chosen for the 1000-executor case:
AQE for runtime skew handling, Arrow for the pandas-UDF hot path,
shuffle partitions sized to cores (overridable per scale factor).

Python workers start from this package's daemon (``_daemon``) rather than
pyspark's.  At the start of every task pyspark invalidates the import
caches, and CPython 3.11 then re-reads the central directory of every zip
on the worker's path -- the 15.7 MB pyspark.zip alone 16 times, about
0.3 CPU-s per task, more than most UDFs' own work.  The package daemon
skips that re-read while an archive's mtime and size are unchanged; a
changed or missing archive is still re-read as before.  The executors get
the package's parent directory on PYTHONPATH so that the daemon imports
from any working directory.

Spark keeps compiled generated code in one LRU cache per JVM, 100 entries
by default.  One ``evaluate()`` generates about 120 distinct sources and
``run_curation_inline`` about 110, so at 100 every warm evaluate evicted
and re-compiled 86-90 of them through Janino, and the JIT then worked on
~170 freshly loaded classes.  ``spark.sql.codegen.cache.maxEntries`` is
raised to 1000, which covers a session running extraction, evaluation and
curation (about 245 sources together) four times over.  It is a static
SQL conf, and the cache is JVM-wide and sized once, at the first codegen
in the JVM: if a session built elsewhere ran any query first, that
session's size holds and this setting has no effect.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this package: workers import the daemon from it
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "deepseek_ocr_omnidocbench_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.  On a real
    cluster the master/cores come from spark-submit; everything else here
    still applies.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        # one shuffle partition per core locally, but never fewer than 8;
        # on a cluster this should be 2-3x total cores — callers pass it
        # explicitly at scale.
        shuffle_partitions = max(int(cores), 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory per task; giant HTML blobs
        # mean fewer rows per batch is safer than the 10k default.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.python.daemon.module", "deepseek_ocr_omnidocbench_spark._daemon")
        # sized to the session's working set of generated classes (see the
        # module docstring); the default of 100 re-compiles on warm jobs
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    extra_conf = dict(extra_conf or {})
    pythonpath = extra_conf.pop("spark.executorEnv.PYTHONPATH", None)
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(p for p in (_PACKAGE_PARENT, pythonpath) if p),
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
