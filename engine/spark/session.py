"""SparkSession factory tuned for this engine.

Local-mode testing (local[N]) with the configs the production job would
ship: AQE on (skew-join + partition coalescing), Arrow-batched pandas
UDFs, dynamic partition overwrite for idempotent resume writes, and
LAST_WIN map-key semantics to match Python-dict behaviour in the
reference (/root/reference/mistralocr_app.py:641).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | None = None,
    app: str = "mistralocr-spark-engine",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Post-shuffle coalescing re-enabled in round 6: with
        # parallelismFirst=true (default) AQE merges only sub-
        # minPartitionSize partitions and never drops below the default
        # parallelism, so the round-2 failure mode (string-heavy
        # doc-assembly agg serialised onto a few reducers via
        # compressed-size underestimates) no longer occurs — re-measured
        # r6: extraction unchanged within host noise across repeated
        # A/B (388-404k vs 385-420k turns/s), while iterative queries
        # whose contracted rounds emit near-empty partitions gain
        # 15-30% (dup_clusters 3.9→2.7 s, incremental_clusters
        # 7.4→5.1 s, mad_flags 4.0→3.5 s at 10× local data).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
