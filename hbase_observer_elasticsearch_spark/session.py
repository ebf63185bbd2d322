"""SparkSession factory.

Local-mode defaults tuned for the test harness (local[N] single JVM), but
every setting here is what we would also want on a 1000-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing), UTC session
timezone for deterministic timestamp semantics, Arrow for any
pandas-interchange path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """``spark.driver.memory`` for a local session: a third of the
    host's physical memory, capped at 16g, so two local sessions (a
    tool beside a test run) fit on one host. ``SPARK_DRIVER_MEM``
    overrides it."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(phys_mb // 3, 16 * 1024)}m"


def get_spark(
    app_name: str = "hbase-observer-es-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Spark 4.1 refuses a Python DataSource reader that implements
        # pushFilters (the changefeed connector's batch reader) unless
        # this is set; on the builder it reaches every newSession() too.
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def config_info(spark: SparkSession, prefix: str = "spark.sql") -> dict[str, str]:
    """Structured dump of session config for logs/diagnostics — the Spark
    analog of the reference's reflection-based `ESClient.getInfo()`
    (observer6/ESClient.java:41-53, SURVEY §2.1 #20)."""
    return {
        k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
        if k.startswith(prefix)
    } | {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.session.timeZone",
        )
    }


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-mutable confs we rely on for oracle-exact results.

    The driver may hand us a session it built itself; session timezone and
    AQE are runtime-settable SQLConf, so pin them here.  The registry calls
    it before every registered query (``registry.register``), and
    ``streaming.pipeline.scoped_session`` on each child session it makes.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Source-side filter pushdown for Python DataSources (Spark 4.1):
    # off by default upstream, and the changefeed connector's batch
    # reader cannot run without it (sources/python_datasource.py).
    # get_spark sets it on the builder; sessions built elsewhere get it
    # here.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark
