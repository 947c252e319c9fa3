"""Tracing for the workload benchmark: spans around each layer's public
functions, exact job/stage/task counts per op, and Spark event-log
totals per op.

Everything here is installed from outside the engine: the wrappers
replace module attributes at run time, so the engine source stays
unedited and an untraced run executes none of this code.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

# (module, attribute, layer span name). Every module of the package that
# bound the same function object by ``from ... import`` is patched too,
# so the wrapper sits wherever the name is looked up.
PATCHES = [
    ("olympic_athletes_etl_spark.plans.tables", "load", "plans.tables.load"),
    ("olympic_athletes_etl_spark.plans.tables", "spread", "plans.tables.spread"),
    ("olympic_athletes_etl_spark.operators.graph", "dedup_clusters", "operators.graph"),
    ("olympic_athletes_etl_spark.operators.graph", "connected_components", "operators.graph"),
    ("olympic_athletes_etl_spark.operators.graph", "connected_components_star", "operators.graph"),
    ("olympic_athletes_etl_spark.operators.graph", "triangle_stats", "operators.graph"),
    ("olympic_athletes_etl_spark.operators.graph", "pagerank_fixed_point", "operators.graph"),
    ("olympic_athletes_etl_spark.operators.store", "_commit_manifest", "operators.store.commit"),
    ("olympic_athletes_etl_spark.streaming.pipeline", "rollup_fold_batch", "streaming.pipeline.fold"),
]
# GenStore methods, patched on the class so every store family sees them.
STORE_METHODS = ["create", "append", "compact", "load", "_gc"]


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    out once at the end. ``op`` names the benchmark op the current spans
    belong to; spans opened in Spark's streaming callback thread carry it
    too, with no parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            span = {
                "name": name,
                "fn": fn.__name__,
                "op": tracer.op,
                "parent": stack[-1]["id"] if stack else None,
                "start": time.perf_counter(),
                "wall_start": time.time(),
            }
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = time.perf_counter()
                span["wall_end"] = time.time()

        return traced

    def install(self) -> None:
        import importlib
        import sys

        for mod_name, attr, layer in PATCHES:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, layer)
            for m in list(sys.modules.values()):
                in_engine = getattr(m, "__name__", "").startswith("olympic_athletes_etl_spark")
                if in_engine and getattr(m, attr, None) is orig:
                    self._undo.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        from olympic_athletes_etl_spark.operators.store import GenStore

        for meth in STORE_METHODS:
            orig = GenStore.__dict__[meth]
            self._undo.append((GenStore, meth, orig))
            setattr(GenStore, meth, self.wrap(orig, f"operators.store.{meth.strip('_')}"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def layer_totals(self, ops: set[str]) -> dict[str, dict[str, float]]:
        """Per span name: calls, total and self seconds, over spans of the
        given ops. Self time is the span minus its direct children."""
        spans = [s for s in self.spans if s["op"] in ops and "end" in s]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in spans:
            d = s["end"] - s["start"]
            row = out[s["name"]]
            row["calls"] += 1
            row["total_s"] += d
            row["self_s"] += d - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def job_counts(sc, groups: list[str]) -> dict[str, int]:
    """Exact jobs / stages / tasks launched under the given job groups,
    from ``statusTracker``. Read right after the op, while Spark still
    retains the job records."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numTasks:
                    stages += 1
                    tasks += si.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def event_log_totals(log_dir: str, group_of_op) -> tuple[dict, list]:
    """Per-op task totals parsed from an uncompressed, non-rolling Spark
    event log, and (op, submission epoch seconds) for every job.
    ``group_of_op(job_group) -> op id | None`` maps a job's group to the
    op it belongs to; jobs of other groups are ignored."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs: list[tuple[str, float]] = []
    stage_op: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    mib = 1024.0 * 1024.0
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    op = group_of_op(group)
                    if op is not None:
                        jobs.append((op, ev.get("Submission Time", 0) / 1e3))
                        for sid in ev.get("Stage IDs", ()):
                            stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    row = out[op]
                    ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
                    row["tasks"] += 1
                    row["failed_tasks"] += 0 if ok else 1
                    m = ev.get("Task Metrics") or {}
                    row["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    row["spill_mem_mib"] += m.get("Memory Bytes Spilled", 0) / mib
                    row["spill_disk_mib"] += m.get("Disk Bytes Spilled", 0) / mib
                    sw = m.get("Shuffle Write Metrics") or {}
                    row["shuffle_write_mib"] += sw.get("Shuffle Bytes Written", 0) / mib
                    sr = m.get("Shuffle Read Metrics") or {}
                    row["shuffle_read_mib"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mib
                    im = m.get("Input Metrics") or {}
                    row["input_mib"] += im.get("Bytes Read", 0) / mib
                    row["input_rows"] += im.get("Records Read", 0)
                    om = m.get("Output Metrics") or {}
                    row["output_mib"] += om.get("Bytes Written", 0) / mib
    return {op: dict(v) for op, v in out.items()}, jobs
