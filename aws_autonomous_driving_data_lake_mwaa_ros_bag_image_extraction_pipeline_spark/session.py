"""SparkSession factory.

Local test mode runs ``local[N]`` single-JVM; the config below is chosen so the
same code scales to a multi-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), shuffle partitions sized to cores rather than
the 200 default, Arrow enabled for the pandas-UDF slow path, UTC session
timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "aads_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spill-aware input sizing: 128 MB splits keep a partition's working
        # set well inside an executor core's memory share at any SF; AQE
        # coalescing re-merges the small tail post-shuffle.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver's events.parquet stores ts as TIMESTAMP(NANOS), which
        # Spark 4 refuses to read natively; read it as a ns-epoch LONG and
        # convert to a µs timestamp at scan time (plans/registry._t).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
