"""_scan_row_groups: short-circuit + spread gating (r14 scale-safety).

At a production layout (many files per table) the spread decision is
known after ~cores/2 row groups; the counter must stop reading footers
there instead of walking every file (VERDICT r13 item 3).

Also pinned here: the per-file-stamp schema and row-group caches behind
``load`` (a warm read launches no job; a rewrite invalidates both).
"""
from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as real_pq
import pytest

from olympic_athletes_etl_spark.plans import tables


@pytest.fixture()
def many_file_dir(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    tbl = pa.table({"x": [1, 2, 3]})
    for i in range(20):
        real_pq.write_table(tbl, d / f"part-{i:05d}.parquet")
    (d / "_SUCCESS").write_text("")  # non-parquet entries are skipped
    return str(d)


def _counting_parquet_file(counter):
    orig = real_pq.ParquetFile

    class Counting:
        def __init__(self, path):
            counter.append(path)
            self._pf = orig(path)

        @property
        def metadata(self):
            return self._pf.metadata

    return Counting


def test_short_circuits_at_threshold(many_file_dir, monkeypatch):
    reads: list[str] = []
    monkeypatch.setattr(
        real_pq, "ParquetFile", _counting_parquet_file(reads)
    )
    tables._scan_row_groups.cache_clear()
    got = tables._scan_row_groups(many_file_dir, 5)
    assert got == 5  # stopped AT the threshold, not the true 20
    assert len(reads) == 5  # one footer per row group here; 15 unread


def test_counts_all_below_threshold(many_file_dir):
    tables._scan_row_groups.cache_clear()
    # threshold above the true total: must return the exact total
    assert tables._scan_row_groups(many_file_dir, 100) == 20


def test_single_file(tmp_path):
    p = tmp_path / "one.parquet"
    real_pq.write_table(pa.table({"x": list(range(10))}), p)
    tables._scan_row_groups.cache_clear()
    assert tables._scan_row_groups(str(p), 999) == 1


def test_spread_decision_unchanged(many_file_dir, spark):
    """spread() must no-op on a many-row-group layout and fire on a
    single-row-group one — same behavior as the r13 full-count form."""
    df = spark.range(10)
    par = spark.sparkContext.defaultParallelism
    tables._scan_row_groups.cache_clear()
    out = tables.spread(df, spark, many_file_dir, "id")
    if 20 >= max(2, par // 2):
        assert out is df  # no-op: layout already splits
    tables._scan_row_groups.cache_clear()


def _job_count(spark, group, fn) -> int:
    """Spark jobs launched by ``fn()``. statusTracker learns of jobs from
    an asynchronous listener queue that delivers them in order, so the
    count is read once a marker job started after ``fn`` is visible."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    marker = f"{group}:marker"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(marker, marker)
        spark.range(1).count()
        deadline = time.monotonic() + 60
        while not st.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never surfaced"
            time.sleep(0.01)
        return len(st.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_warm_load_launches_no_job(spark, tmp_path):
    real_pq.write_table(
        pa.table({"o_orderkey": [1, 2, 3], "o_comment": ["a", "b", None]}),
        tmp_path / "orders.parquet",
    )
    sf, got = str(tmp_path), []
    read = lambda: got.append(tables.load(spark, sf, "orders"))  # noqa: E731
    assert _job_count(spark, f"{tmp_path.name}-cold", read) >= 1  # infers
    assert _job_count(spark, f"{tmp_path.name}-warm", read) == 0
    cold, warm = got
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewrite_at_same_path_invalidates_both_caches(spark, tmp_path):
    path = tmp_path / "part.parquet"
    real_pq.write_table(pa.table({"p_partkey": [1, 2, 3, 4]}), path)
    sf = str(tmp_path)
    assert tables.load(spark, sf, "part").columns == ["p_partkey"]
    assert tables._scan_row_groups(str(path), 999) == 1

    real_pq.write_table(
        pa.table({"p_partkey": [1, 2, 3, 4], "p_size": [5, 6, 7, 8]}),
        path,
        row_group_size=1,
    )
    df = tables.load(spark, sf, "part")
    assert df.columns == ["p_partkey", "p_size"]
    assert sorted(r.p_size for r in df.collect()) == [5, 6, 7, 8]
    assert tables._scan_row_groups(str(path), 999) == 4


def test_events_nanos_cold_and_warm_truncate_like_duckdb(spark, tmp_path):
    """TIMESTAMP(NANOS) events: ``load`` turns on nanosAsLong and
    truncates ts to microseconds, cold and warm alike; the schema
    cached under that conf is not served once it is off again."""
    path = tmp_path / "events.parquet"
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 86_400_999]
    real_pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        path,
        coerce_timestamps=None,
    )
    assert real_pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    want = duckdb.sql(
        f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM read_parquet('{path}') "
        "ORDER BY event_id"
    ).fetchall()
    assert want[0][1].microsecond == 123456  # truncated, not rounded

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf, "false")
    try:
        for _ in ("cold", "warm"):
            df = tables.load(spark, str(tmp_path), "events")
            got = sorted(tuple(r) for r in df.select("event_id", "ts").collect())
            assert got == want
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="(?i)nanos"):
            tables._read_parquet(spark, str(path))
    finally:
        spark.conf.set(conf, before)
