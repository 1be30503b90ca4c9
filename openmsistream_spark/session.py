"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production target is a
multi-executor cluster reading ~100 TB. Every config here is chosen to be
correct for both: AQE handles runtime re-planning (skew joins, partition
coalescing) at any scale, shuffle partitions default to the local core
count but are overridable via env, and the session timezone is pinned to
UTC so results are comparable across engines (DuckDB oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: the directory holding this package, for the Python workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half the machine's physical RAM, capped at 16g: a local-mode
    driver heap larger than the machine gets the JVM OOM-killed
    instead of spilling."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, total // 2 // 2**20)}m"


def get_spark(
    app_name: str = "openmsistream_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Settings rationale (scale-first):
      - AQE on: runtime coalescing of small shuffle partitions and
        automatic skew-join splitting — essential at 100 TB where static
        partition counts are always wrong somewhere.
      - Arrow on: every Pandas UDF / toPandas crosses the JVM<->Python
        boundary in columnar batches instead of pickled rows.
      - maxPartitionBytes 128m: parquet scan granularity that keeps
        1000-executor clusters busy without tiny-task overhead.
      - UTC session timezone: deterministic timestamp semantics
        (matches DuckDB/parquet physical values).
      - Worker daemon ``openmsistream_spark.worker_daemon`` (``local*``
        masters only): before Python 3.13 every Python task re-parsed
        each zip on the worker's ``sys.path`` (26,672 central-directory
        entries: a one-task RDD job took ~300 ms, ~120 ms with the
        daemon, on 4 cores); the daemon re-reads a zip only when it
        changed. Local only, because there the driver's filesystem
        is the worker's: ``spark.executorEnv.PYTHONPATH`` gets this
        package's parent directory so the daemon can start whatever the
        driver's cwd. Sessions not built here (an external driver's)
        keep Spark's stock daemon.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # reliable checkpoints (iterutil.truncate_plan with a
        # checkpoint_dir) are one full frame copy per iteration; without
        # this flag Spark never deletes them, so a long CC/k-means run
        # leaks durable storage for the life of the app. Must be set at
        # context creation — the ContextCleaner reads it once.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        caller_path = extra_conf.get("spark.executorEnv.PYTHONPATH")
        extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT, caller_path) if p
        )
        builder = builder.config(
            "spark.python.daemon.module", "openmsistream_spark.worker_daemon"
        )
    for key, val in extra_conf.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
