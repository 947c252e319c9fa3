"""Testdata table access.

One place that knows the driver's table layout (TESTDATA.md): one parquet
file per table under ``{sf_dir}/{name}.parquet``. Reads go through
``spark.read.parquet`` so Catalyst gets parquet column pruning + predicate
pushdown for free. DATA is never cached here — each query declares its own
plan end-to-end so ``.explain()`` shows the real scan, and every read lists
the files and plans a fresh scan. Only the inferred SCHEMA is cached, per
file stamp (path, mtime, size, and the nanosAsLong conf that changes what
inference returns): schema inference is a Spark job per read, and callers
such as ``bench.py`` re-plan queries over the same ten tables all session
long, so a warm ``load`` passes the stored ``StructType`` and launches no
job. A file rewritten in place gets a new stamp and is inferred afresh.

``events.ts`` has shipped as two different physical parquet types across
driver rounds: TIMESTAMP(NANOS) (rounds 1-2), which Spark rejects by
default, and plain TIMESTAMP(MICROS) (round 3+), which reads natively as
TIMESTAMP_NTZ. We handle both: enable
``spark.sql.legacy.parquet.nanosAsLong`` before the read, and convert
ns→µs (exactly DuckDB's truncation) only when the column actually came
back as a long — a native timestamp column passes through untouched.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from olympic_athletes_etl_spark.session import tune_for_oracle

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# (path, file stamp, nanosAsLong) -> StructType inferred on that stamp's
# first read. Cleared whole when full: a process re-reads the same few
# tables, so the bound only matters for one that keeps rewriting them.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_MAX = 256


def _file_stamp(path: str) -> tuple[int, int] | None:
    """``(st_mtime_ns, st_size)`` — changes when ``path`` is rewritten.
    None when the local filesystem can't stat it (a URI, a missing
    path): such reads are never cached."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only on the
    first read of each file stamp. Inference is a Spark job per read; a
    warm read passes the stored schema and launches none. Only the
    schema is cached: every read still lists the files and plans a
    fresh scan. The nanosAsLong conf is part of the key because it
    changes what inference returns for TIMESTAMP(NANOS) columns. Two
    concurrent first reads both infer and store the same schema."""
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (path, stamp, spark.conf.get(_NANOS_AS_LONG, "false"))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMAS) >= _SCHEMAS_MAX:
        _SCHEMAS.clear()
    _SCHEMAS[key] = df.schema
    return df


def _scan_row_groups(path: str, stop_at: int) -> int:
    """Row groups under ``path`` up to ``stop_at`` (see
    ``_row_groups_at``), cached per file stamp like the schema — a
    table rewritten at the same path is counted afresh."""
    return _row_groups_at(path, _file_stamp(path), stop_at)


@lru_cache(maxsize=1024)
def _row_groups_at(path: str, stamp: tuple[int, int] | None, stop_at: int) -> int:
    """Parquet row groups under ``path`` — the atomic unit of scan
    parallelism — counted only UP TO ``stop_at``. Spark splits files by
    BYTE range, but a parquet reader only emits rows for the split
    containing a row group's midpoint, so a single-row-group file
    executes as ONE populated task no matter how many splits cover it.

    The sum SHORT-CIRCUITS the moment it reaches ``stop_at`` (the
    caller's spread threshold): at a production layout — thousands to
    millions of files per table — the spread decision is already known
    after ~cores/2 row groups, and reading every remaining footer would
    be an O(files) driver-side listing+IO pass per table per process
    (the r13 VERDICT scale-safety item). The directory walk itself is
    lazy (``os.scandir``), so neither the listing nor the footer reads
    run past the threshold. Cached per ``stamp`` (the bench re-plans
    each query every iteration)."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return pq.ParquetFile(path).metadata.num_row_groups
    total = 0
    with os.scandir(path) as entries:
        for entry in entries:
            if not entry.name.endswith(".parquet"):
                continue
            total += pq.ParquetFile(entry.path).metadata.num_row_groups
            if total >= stop_at:
                return total
    return total


_scan_row_groups.cache_clear = _row_groups_at.cache_clear


def spread(
    df: DataFrame, spark: SparkSession, path: str, *keys: str
) -> DataFrame:
    """Layout-adaptive redistribution for heavy post-scan work (guide
    §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    When the scan's parquet layout yields fewer populated tasks (row
    groups) than half the cluster parallelism, everything pipelined into
    the scan stage — join probes, per-row derivations, partial
    aggregates — runs on a handful of cores while the rest idle. This
    helper hash-repartitions the scan output by ``keys`` (deterministic
    under task retry, unlike rand-derived keys — guide §2.5) to
    ``defaultParallelism`` partitions so downstream work parallelizes.

    It is a NO-OP whenever the input already splits: at production scale
    (many files / many row groups per file) the condition fails and no
    shuffle is added — the plan is unchanged. The threshold derives from
    the live session's core count, never a constant, so the driver's
    reduced-core bench runs adapt with it.

    Callers must only use this where the downstream result is
    partition-order-insensitive (exact integer/min/max/count aggregates,
    keyed windows, set-shaped output) — each call site documents why."""
    par = spark.sparkContext.defaultParallelism
    threshold = max(2, par // 2)
    if _scan_row_groups(path, threshold) >= threshold:
        return df
    return df.repartition(par, *[F.col(k) for k in keys])


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread_on: str | tuple[str, ...] | None = None,
) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    tune_for_oracle(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # TIMESTAMP(NANOS) files surface as long under this conf; truncate
        # to micros (matches DuckDB). TIMESTAMP(MICROS) files ignore the
        # conf and arrive as a native timestamp — pass through.
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = _read_parquet(spark, path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = _read_parquet(spark, path)
    if spread_on is not None:
        keys = (spread_on,) if isinstance(spread_on, str) else spread_on
        df = spread(df, spark, path, *keys)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so the WHOLE engine
    surface is reachable from raw ``spark.sql`` — a user migrating
    SQL-first workloads points their FROM clauses at these names (the
    same names the DuckDB oracles use, so any oracle string in this repo
    is also a runnable Spark query modulo dialect). Views are lazy
    references to the normalized ``load`` output: events ts handling and
    session tuning apply identically to SQL and DataFrame users."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
