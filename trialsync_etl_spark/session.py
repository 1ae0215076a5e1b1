"""SparkSession factory tuned for the engine.

Local mode for tests/bench; the same config block is what we'd ship to a
1000-executor cluster (AQE on, adaptive coalesce/skew-join, UTC session TZ,
Arrow for the few Pandas-UDF paths). Shuffle partitions default to the local
core count — on a real cluster this is overridden by AQE's coalescing from
an intentionally-high initial number. No Python-DataSource filter pushdown
conf: the one DataSource (``sources/warc_datasource.py``) takes no filters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "trialsync_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE enabled: runtime partition coalescing + skew-join splitting means
      the same plan survives a 100x scale-up without hand-retuning.
    - UTC session timezone: deterministic timestamp semantics and parity
      with the DuckDB oracle.
    - Arrow enabled for Pandas-UDF paths (vectorized transfer).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # some sources write TIMESTAMP(NANOS) parquet, which Spark's reader
        # rejects; read as raw int64 and convert in the catalog layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
