"""The benchmark's own tests.

Run from the root of a checkout:  python3 -m pytest perfbench -q

The two Spark tests start a fresh local session each (about half a
minute apiece) on sf0.001 tables.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _run(workload: workloads.Workload, seed: int = 3, trace: int = 0, seconds: float = 0) -> dict:
    workloads.WORKLOADS[workload.name] = workload
    args = argparse.Namespace(workload=workload.name, seed=seed, seconds=seconds, trace=trace)
    runner = run.Runner(args)
    try:
        return runner.run()
    finally:
        del workloads.WORKLOADS[workload.name]
        run.shutil.rmtree(runner.work, ignore_errors=True)


def test_tail_latency_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 101)]
    value, pct = run.tail_latency(samples)
    assert value == 90.0 and pct == 90.0
    assert sum(s > value for s in samples) == 10
    # too few samples for a tail above the median: the maximum
    assert run.tail_latency([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_timed_passes_depend_on_seconds_only():
    wl = workloads.WORKLOADS
    assert wl["analytic"].timed_passes(10) == 3
    assert wl["iterative_store"].timed_passes(10) == 1
    assert wl["analytic"].timed_passes(20) == 6
    assert wl["analytic"].timed_passes(0) == 1


def test_sizing_fits_the_machine():
    sizing = run.machine_sizing()
    assert int(sizing["SPARK_GRAFT_CPUS"]) == len(os.sched_getaffinity(0))
    assert int(sizing["SPARK_DRIVER_MEMORY"].rstrip("m")) < sizing["mem_total_mib"]


def test_inputs_depend_only_on_seed(tmp_path):
    digests = []
    for d in ("a", "b"):
        out = gendata.generate(str(tmp_path / d), 5, 0.001)
        digests.append({
            f: hashlib.sha256(open(os.path.join(out, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(out))
        })
    assert digests[0] == digests[1]
    assert len(digests[0]) == 10


def test_result_line_names_every_benchmark_metric():
    bench = run.load_benchmark()
    e2e = {m["name"]: 1.0 for m in bench["end_to_end"]}
    layers = {m["name"]: 1.0 for m in bench["per_layer"]}
    base = {"check_failures": {}, "failed": 0, "attempted": 3}
    for trace, values, names in ((False, e2e, e2e), (True, {"layers": layers}, layers)):
        line = run.result_line({**base, **values, "trace": trace}, bench)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(names)
        json.dumps(line)


def test_corrupted_result_is_counted():
    """An op whose result differs from its oracle fails every timed
    execution, and the run is reported incorrect."""
    from pyspark.sql import functions as F

    def passes(spark, sf_dir, work, rng):
        good = workloads.query_ops(spark, sf_dir, ["q1_pricing_summary"])[0]
        bad = workloads.Op(
            "corrupt_q1", "query", "tpch",
            lambda: good.run().withColumn("count_order", F.col("count_order") + 1),
            oracle="q1_pricing_summary",
        )
        while True:
            yield [good, bad]

    rec = _run(workloads.Workload("corrupt_probe", 0.001, 2, 0, passes), seconds=10)
    assert rec["passes"] == 2
    assert set(rec["check_failures"]) == {"corrupt_q1"}
    assert rec["attempted"] == 4 and rec["failed"] == 2
    assert rec["fail_ratio"] == 0.5
    assert run.result_line(rec, run.load_benchmark())["correct"] is False


def test_warmed_job_counts_repeat():
    """Post-warm-up job, stage and task counts are identical across runs.
    A cold pass can launch a different number of jobs than a warm one, so
    only timed passes are compared."""
    names = ["g_pagerank", "q3_shipping_priority", "d_dup_clusters_star"]
    wl = workloads.Workload("count_probe", 0.001, 1, 1, workloads._query_passes(names))
    first, second = (_run(wl, trace=1) for _ in range(2))
    assert first["op_counts"] == second["op_counts"]
    assert {c[0] for c in first["op_counts"]} == set(names)
    assert all(jobs > 0 for _, jobs, _, _ in first["op_counts"])
    assert first["passes"] == 1
    assert first["layers"]["spark.jobs"] == sum(c[1] for c in first["op_counts"])


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
