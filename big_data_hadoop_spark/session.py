"""SparkSession factory.

Centralizes the configuration every entry point (tests, bench, CLI, driver
contract) needs: AQE on, shuffle partitions sized for the local core count
(not the 200 default), UTC session timezone (required for DuckDB-oracle
comparison — Spark timestamps are session-TZ, DuckDB's are UTC-naive), and
Arrow enabled for the pandas-UDF extension operators.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "big_data_hadoop_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    Config applied here only takes effect for a freshly created session;
    when the harness hands us an existing session we configure runtime-
    settable keys via ``configure_runtime``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Explicit (it is the Spark 3+ default): AQE splits skewed shuffle
        # partitions at runtime — first line of defense for hot join keys
        # at scale; operators.relational.salted_join is the static second.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The testdata events table uses parquet TIMESTAMP(NANOS), which
        # Spark cannot read natively; read as long and let the source layer
        # convert (see sources.io.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure_runtime(spark)
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally created session.

    The verification driver builds its own SparkSession; these settings are
    the ones correctness depends on (timezone) plus cheap wins (AQE).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def release_on_drop(df: DataFrame) -> DataFrame:
    """``df``, whose JVM ``Dataset`` the gateway lets go of as soon as
    the Python frame is dropped.

    py4j caches every method called on a ``JavaObject`` in the object,
    and the cached method points back at it. The cycle waits for
    Python's full collection, which a process with numpy and pyarrow
    loaded runs rarely; until then the JVM keeps the frame's query
    alive with all its plans, from analyzed to executed. A serving loop
    that drops one IVF search result per batch pinned ~5 MB of JVM heap
    per batch (10,000×32 index, 16 cells), and the old generation grew
    with it until G1 sized the heap up in some runs and not in others.
    ``detach`` is py4j's own release for exactly this. Only for frames
    whose ``JavaObject`` no other Python object holds.
    """
    release = weakref.finalize(
        df, df.sparkSession.sparkContext._gateway.detach, df._jdf
    )
    release.atexit = False  # the gateway may be gone at exit
    return df
