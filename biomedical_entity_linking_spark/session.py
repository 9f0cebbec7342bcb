"""SparkSession factory tuned for the record-linkage workload.

Local mode stands in for a multi-executor cluster: partitioning decisions
(shuffle partition counts, AQE, skew-join handling, broadcast thresholds) are
made as they would be on a 1000-executor deployment, then scaled down to the
sandbox's ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-linkage",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    ``shuffle_partitions`` defaults to 2x cores — enough parallelism for AQE
    to coalesce down, without 200-partition overhead on small inputs. On a
    real cluster this would be sized to total executor cores and input bytes
    (``spark.sql.files.maxPartitionBytes`` governs scan-side splits).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # AQE: runtime re-planning — coalesce post-shuffle partitions,
        # convert to broadcast joins from runtime stats, split skewed
        # partitions (our hot-blocking-key second line of defense).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / mapInPandas hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # Deterministic timestamps for the DuckDB oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode: single JVM — driver memory is the only knob.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
