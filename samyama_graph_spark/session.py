"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the configs below are chosen so
the same code scales to a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), shuffle partitions sized to the
parallelism, Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """The driver heap: 24g, capped at three quarters of physical RAM
    so one heavy query fails in the JVM instead of exhausting the
    machine."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, ram * 3 // 4 >> 20)}m"


def get_spark(
    app_name: str = "samyama_graph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults respect ``SPARK_GRAFT_CPUS`` for local parallelism. On a
    real cluster the caller passes ``master=None`` with an external
    cluster manager; these configs remain valid.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Long-lived-session hygiene.  The status store ingests every
        # job/stage/task event even with the UI off and its in-memory
        # eviction is O(retained); a many-query session (this engine's
        # normal shape — bench suites, notebooks, services) otherwise
        # degrades ~3x by the late queries.  Whole-stage codegen also
        # emits one class per distinct plan: the JVM's default 240MB
        # code cache fills mid-session and JIT stops compiling, so give
        # it headroom (driver == executor in local mode; on a cluster
        # the same flag belongs in executor.extraJavaOptions).
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "5000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.appStateStore.asyncTracking.enable", "true")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_checkpoint_dir(spark: SparkSession) -> str:
    """Set a reliable-checkpoint dir if none is configured; temp dirs
    created here are removed at interpreter exit (repeated local
    sessions otherwise leak checkpoint files on disk).  On a real
    cluster callers configure a durable HDFS/S3 path instead and this
    is a no-op.  Returns the active checkpoint dir."""
    sc = spark.sparkContext
    d = sc.getCheckpointDir()
    if d is None:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="samyama_ckpt_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        sc.setCheckpointDir(d)
    return d


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Needed wherever a Pandas UDF / mapInPandas closure references this
    package: the driver process may import us from a path the executor
    workers don't have (cluster mode, or a harness with its own cwd).
    Idempotent per session.
    """
    sc = spark.sparkContext
    if getattr(sc, "_samyama_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="samyama_pkg_")
    zip_base = os.path.join(staging, "samyama_graph_spark")
    shutil.copytree(pkg_dir, os.path.join(zip_base, "samyama_graph_spark"))
    archive = shutil.make_archive(zip_base, "zip", zip_base)
    sc.addPyFile(archive)
    sc._samyama_shipped = True
