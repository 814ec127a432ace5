"""SparkSession bootstrap with scale-ready defaults.

The reference engine (R/tidyverse, eager single-node — see SURVEY.md §3)
has no session concept; this module is the engine's single entry point for
obtaining a correctly-configured SparkSession.

Defaults are chosen for the 100 TB design target (SURVEY.md §4):
  * AQE on — runtime join-strategy re-planning, skew-join splitting,
    partition coalescing.
  * Arrow on — any unavoidable pandas interchange is vectorized.
  * shuffle partitions sized from the env (default: one per local core; a
    real cluster overrides via ``spark.sql.shuffle.partitions`` in
    spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONFIG"]

DEFAULT_CONFIG: dict[str, str] = {
    # Adaptive execution: re-plan joins at runtime, coalesce tiny shuffle
    # partitions, split skewed ones (hub-key skew: SURVEY.md §4 item 2).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE skew-split THRESHOLDS stay stock here: the r5 skew stress
    # (tools/stress_skew.py, PLANS.md) measured that engaging the split
    # at local partition sizes needs advisory 8 MB + threshold 32 MB
    # LOWERED TOGETHER (3.3x faster on a 40%-hub join) — but the small
    # advisory size costs the whole non-skewed bench ~30% in task
    # overhead. Known-skew jobs apply the measured pair explicitly via
    # operators.skew.skew_split_confs; cluster submits get the
    # partition-sized equivalents from tools/scale_conf.py.
    # Broadcast threshold: dimension tables (spine ~20k rows, nation,
    # region, ID maps) must go broadcast; 64 MB is safe on the 16 GiB
    # local heap get_spark actually configures (SPARK_GRAFT_DRIVER_MEM).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for the pandas bridge (Excel reader, mapInPandas multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read legacy/ns parquet timestamps without error. Spark 4 raises
    # PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS) (the events table) unless
    # nanos are surfaced as long; sources.readers.ts_from_nanos converts.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep partition files reasonably sized for the local rig; a cluster
    # run would raise maxPartitionBytes to 256m+.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Quieter driver.
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "gene-level-metadata-pipeline-spark") -> SparkSession:
    """Return (or create) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (default: the host's
    core count, ``os.cpu_count()``) and sets ``spark.sql.shuffle.partitions``
    to match so small-SF runs don't pay for 200 empty reducers while
    cluster runs can override externally.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # Shuffle partitions default to the core count (right for the small-SF
    # rig) but scale independently: at 30x-replica stress volumes the
    # per-partition shuffle blocks outgrow the in-memory sort buffers and
    # spill — the "raise partitions with the data" regime tools/scale_conf
    # computes for cluster submits.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        # In local mode the driver heap IS the executor heap: every task
        # thread shares spark.driver.memory, which DEFAULTS TO 1g — so 32
        # concurrent tasks would split ~300 MB of execution memory and
        # large-input runs die in spill-reader OOMs long before the box
        # (128 GiB) is remotely full. Only applied when WE own the master
        # (a cluster submit sizes its own driver/executors); honored by
        # the PySpark launcher as long as no JVM exists yet.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
    builder = builder.config("spark.sql.shuffle.partitions", shuffle_parts)
    for k, v in DEFAULT_CONFIG.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
