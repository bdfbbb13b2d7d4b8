"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (single JVM,
``local[$SPARK_GRAFT_CPUS]``); every setting here is also the right
default on a real cluster except ``driver.memory`` which a cluster
submit would override.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def cpus() -> str:
    """Local-mode core count: ``$SPARK_GRAFT_CPUS``, default 32."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "sentiflow_spark", **extra_conf: str) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale-minded defaults:
    - AQE on (coalesce + skew-join handling at runtime),
    - shuffle partitions sized to the box, not the 200 default,
    - UTC session timezone (parity with the DuckDB oracle and any
      cross-system exchange),
    - Arrow enabled for the pandas-UDF slow path.
    """
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus()}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Per-call error-context capture (PySpark's _with_origin wrapper)
        # costs ~4 py4j round trips + a Python stack walk on EVERY
        # DataFrame method invocation — ~25% of all py4j traffic when
        # building the expression-heavy declared queries (651 wrapped
        # calls per txt_curation_dag build). Disabling it is the
        # standard production posture: errors keep their class and
        # message, only the user-code call-site enrichment in
        # DataFrameQueryContext is dropped. Driver-side cost at ANY
        # cluster scale, not a local-mode artifact. Measured (r12,
        # interleaved A/B, 2 rounds x 3 reps): txt_curation_dag
        # ~8.2 -> ~6.8 s, dd_duplicate_clusters ~2.0 -> ~1.5 s,
        # dd_minhash_lsh_pairs ~1.3 -> ~1.0 s warm.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # RocksDB state store: the scale path for streaming dedup state
        # (24h watermarked dedup over high-volume streams; SURVEY §7.4).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
