"""SparkSession factory with scale-appropriate defaults.

Every knob here is chosen for the 100 TB target, then scaled down by
core count for local testing:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` ~ cores locally; on a real cluster
  this would be 2-3x total executor cores (AQE coalesces the excess).
- Arrow enabled so every pandas UDF crosses the JVM<->Python boundary
  in columnar batches, never per-row (BASELINE.json input_hint).
- Session timezone pinned to UTC so results compare bit-exact against
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "crawler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # legacy (non-ANSI) semantics: the engine relies on wrap-around
        # long arithmetic (bloom bit mixing) and null-on-missing
        # getItem/element_at (sparse parses); DuckDB oracle comparisons
        # are unaffected because all checked arithmetic stays in range.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # checkpoint blocks are always stored serialized (engine/driver.py
        # _CKPT_LEVEL); lz4 them — trades per-slot CPU for the
        # block-store bandwidth all slots share
        .config("spark.rdd.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
