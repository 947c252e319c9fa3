"""SparkSession factory.

Local-mode defaults sized from the machine it runs on (every usable core,
a driver heap of 40 % of physical memory; ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEMORY`` override them) but expressed so the same code runs
unchanged on a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — at
  100 TB this is what keeps post-filter partitions right-sized without
  hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE's coalescing makes the static number a ceiling, not a
  target.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-UDF path (the slow-path escape hatch).
- CORRECTED time-parser policy (we deliberately avoid the reference's
  LEGACY conf — see SURVEY.md §4, data_clean_glue.py:604).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_sizing() -> tuple[str, str]:
    """(cores, driver memory) for the local session: the env overrides,
    else every core this process may run on and 40 % of ``MemTotal`` —
    a fixed heap can exceed a small machine's memory, and the JVM is then
    OOM-killed instead of spilling."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if not mem:
        with open("/proc/meminfo", encoding="ascii") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        mem = f"{max(1024, kib * 2 // 5 // 1024)}m"
    return cpus, mem


def get_spark(
    app_name: str = "olympic-athletes-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus, driver_memory = _local_sizing()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs applied to an externally-provided session
    (the driver constructs its own SparkSession for ``entry``/``queries``).

    Only touches confs that are safe to set mid-session and that affect
    result *values* (timezone) or parser behavior — never capacity knobs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    return spark
