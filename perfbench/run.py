"""Outside-in workload benchmark for the engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload analytic|iterative_store \
        --seed N --seconds S --trace 0|1

One client thread runs one workload as a closed loop against Spark at
``local[nproc]``. A run writes its input tables, starts the session,
runs one untimed pass that checks every op's result against its DuckDB
oracle (the pass also warms the JVM), then times a fixed number of whole
passes, set by ``--seconds`` and the workload (see ``Workload``). The
seed sets the op order of every pass and the store split points.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
layer wrappers and Spark's event log and reports the per-layer metrics
instead. The last line of stdout is the result JSON; the line before it
is the full run record. Work files live under ``.perfbench/`` in the
checkout and are removed at exit; a traced run keeps its span dump there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
MIB = 1024.0 * 1024.0
# The tables are the same in every run, like the engine's reference test
# data; --seed drives what varies between runs: the op order of every
# pass and the store split points.
DATA_SEED = 0
# Per-layer figures that are not summed over the window, so not divided
# by its passes.
NOT_PER_PASS = {
    "session.get_spark_s", "spark.core_utilization", "spark.task_success_ratio",
    "operators.store.files", "operators.store.write_amp",
    "streaming.pipeline.batch_p50_s", "streaming.pipeline.rows_per_s", "trace.ops_per_min",
}


def machine_sizing() -> dict:
    """Spark sizing for this machine, passed through the engine's own
    environment variables: every usable core, and a driver heap of 40 %
    of physical memory (the engine's default of 16g can exceed it)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    driver_mib = max(1024, mem_kib * 2 // 5 // 1024)
    return {
        "nproc": nproc,
        "mem_total_mib": mem_kib // 1024,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": f"{driver_mib}m",
    }


def cpu_ticks() -> dict[str, int]:
    """Machine-wide busy and stolen CPU time, in clock ticks."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": sum(v[:3]) + sum(v[4:7]), "steal": v[7]}


def vm_hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return kib / 1024.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                    children[int(f.read().rsplit(")", 1)[1].split()[1])].append(int(entry))
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile. Below 21 samples that percentile is not above the
    median, so the maximum is reported (percentile 100)."""
    s = sorted(samples)
    k = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def load_parity():
    """``tools/check_parity.py``: its canonical multiset compare and its
    table list are the benchmark's correctness rule."""
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(ROOT, "tools", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def matches(parity, spark_result, oracle_result) -> bool:
    (s_names, s_rows), (d_names, d_rows) = spark_result, oracle_result
    return (
        sorted(s_names) == sorted(d_names)
        and len(s_rows) == len(d_rows)
        and parity._multiset(s_rows, s_names) == parity._multiset(d_rows, d_names)
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and every process under
    it, and wait for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_bytes(path: str) -> tuple[int, int]:
    """Bytes of every file under ``path``, and the number of data files."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += not n.startswith((".", "_"))
    return total, files


def store_sizes(paths: list[str]) -> dict:
    """Bytes on disk under the store roots against the bytes of their
    live generations."""
    from olympic_athletes_etl_spark.operators.store import read_manifest

    disk = live = files = 0
    for p in paths:
        disk += dir_bytes(p)[0]
        b, f = dir_bytes(os.path.join(p, f"gen-{read_manifest(p)['gen']}"))
        live += b
        files += f
    return {
        "disk_mib": disk / MIB,
        "live_mib": live / MIB,
        "live_files": files,
        "disk_mib_per_live_mib": disk / live,
    }


class Runner:
    """One benchmark run: inputs, session, check pass, timed passes."""

    def __init__(self, args) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.work = os.path.join(OUT, f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.tracer = None
        self.group_op: dict[str, str] = {}  # job group -> the op's group

    def prepare_env(self) -> dict:
        sizing = machine_sizing()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ.update(
            SPARK_GRAFT_CPUS=sizing["SPARK_GRAFT_CPUS"],
            SPARK_DRIVER_MEMORY=sizing["SPARK_DRIVER_MEMORY"],
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            TMPDIR=tmp,
        )
        import tempfile

        tempfile.tempdir = tmp
        return sizing

    def spark_conf(self) -> dict:
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def run_op(self, spark, op, group: str, collect: bool):
        """Build the op, then execute its DataFrame with a noop sink or
        collect it. Returns (build_s, execute_s, (columns, rows) | None)."""
        spark.sparkContext.setJobGroup(group, op.name)
        self.group_op[group] = group
        if self.tracer is not None:
            self.tracer.op = group
        t0 = time.perf_counter()
        df = op.run()
        t1 = time.perf_counter()
        result = None
        if df is not None:
            if collect:
                result = (list(df.columns), [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if op.stream is not None:  # streaming jobs run under the query's run id
            self.group_op[str(op.stream.runId)] = group
        return t1 - t0, t2 - t1, result

    def run(self) -> dict:
        args = self.args
        sizing = self.prepare_env()
        rec = {
            "workload": self.wl.name, "sf": self.wl.sf, "seed": args.seed,
            "seconds": args.seconds, "trace": bool(args.trace), "sizing": sizing,
            "load1_before": os.getloadavg()[0],
        }
        sys.path.insert(0, ROOT)
        import duckdb
        import gendata
        import pyspark

        sf_dir = gendata.generate(os.path.join(self.work, "data"), DATA_SEED, self.wl.sf)
        parity = load_parity()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
        for t in parity.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

        from olympic_athletes_etl_spark.plans import oracle_sql
        from olympic_athletes_etl_spark.session import get_spark

        if args.trace:
            from layers import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf())
        rec["session.get_spark_s"] = time.perf_counter() - t0
        rec.update({
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "versions": {
                "spark": pyspark.__version__,
                "python": platform.python_version(),
                "duckdb": duckdb.__version__,
            },
        })
        oracles = oracle_sql()
        try:
            self.measure(spark, sf_dir, rec, lambda op, res: self.check(con, parity, oracles, op, res))
        finally:
            stop_spark(spark)
            if self.tracer is not None:
                self.tracer.uninstall()
        rec["load1_after"] = os.getloadavg()[0]
        if args.trace:
            rec["layers"] = self.per_layer(rec)
            os.makedirs(OUT, exist_ok=True)
            self.tracer.dump(os.path.join(OUT, f"spans-{self.wl.name}-s{args.seed}.json"))
        return rec

    def check(self, con, parity, oracles, op, result) -> str | None:
        cur = con.cursor().execute(oracles[op.oracle])
        oracle = ([d[0] for d in cur.description], cur.fetchall())
        return None if matches(parity, result, oracle) else f"differs from the {op.oracle} oracle"

    def check_pass(self, spark, ops, check, lanes: int) -> dict[str, str]:
        """Run every op once, untimed and cold, and compare each result
        with its oracle; returns {op name: failure}. The steps on one store
        depend on each other and run in order on one thread per store;
        queries are independent and share ``lanes - 1`` other threads. The
        pass doubles as JVM and codegen warm-up."""
        from concurrent.futures import ThreadPoolExecutor

        chains: dict[str, list] = defaultdict(list)
        for op in ops:
            if op.store is not None:
                chains[op.store].append(op)
        queries = [op for op in ops if op.store is None]
        n = max(1, lanes - 1) if chains else lanes
        work = [lane for lane in [*chains.values()] + [queries[i::n] for i in range(n)] if lane]
        bad: dict[str, str] = {}

        def run_lane(k: int, lane) -> None:
            for j, op in enumerate(lane):
                try:
                    _, _, res = self.run_op(spark, op, f"pb:check:{k}.{j}:{op.name}", op.oracle is not None)
                    err = check(op, res) if res is not None else None
                except Exception as e:  # noqa: BLE001 - an op that raises is a failure
                    err = f"raised {type(e).__name__}: {str(e)[:300]}"
                if err:
                    bad[op.name] = err

        with ThreadPoolExecutor(len(work)) as pool:
            for f in [pool.submit(run_lane, k, lane) for k, lane in enumerate(work)]:
                f.result()
        return bad

    def measure(self, spark, sf_dir: str, rec: dict, check) -> None:
        from layers import job_counts

        passes = self.wl.passes(spark, sf_dir, self.work, self.rng)
        t_check = time.perf_counter()
        bad = self.check_pass(spark, next(passes), check, rec["sizing"]["nproc"])
        # Untimed warm passes: on a 4-vCPU host the first pass after the
        # cold check pass ran 5-40 % slower than the third.
        for k in range(self.wl.warm_passes):
            for i, op in enumerate(next(passes)):
                try:
                    self.run_op(spark, op, f"pb:warm:{k}.{i}:{op.name}", collect=False)
                except Exception as e:  # noqa: BLE001
                    bad.setdefault(op.name, f"raised {type(e).__name__}: {str(e)[:300]}")
        # Timed window: a fixed number of whole passes, set by --seconds
        # and the workload only, so the sample count, the tail percentile
        # and the per-pass layer figures never depend on how fast the
        # passes run.
        n_timed = self.wl.timed_passes(self.args.seconds)
        jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        rec["check_pass_s"] = time.perf_counter() - t_check
        jit0, ticks0 = jit.getTotalCompilationTime(), cpu_ticks()
        t_first = time.perf_counter()
        rec["setup_s"] = t_first - T_START
        samples: list[dict] = []
        for n_pass in range(1, n_timed + 1):
            for i, op in enumerate(next(passes)):
                group = f"pb:m:{n_pass}.{i}:{op.name}"
                t0 = time.perf_counter()
                build_s = exec_s = 0.0
                try:
                    build_s, exec_s, _ = self.run_op(spark, op, group, collect=False)
                except Exception as e:  # noqa: BLE001
                    bad.setdefault(op.name, f"raised {type(e).__name__}: {str(e)[:300]}")
                samples.append({
                    "op": op.name, "group": group, "kind": op.kind, "module": op.module,
                    "latency_s": time.perf_counter() - t0, "build_s": build_s,
                    "execute_s": exec_s, "failed": op.name in bad,
                    "stream": [json.loads(p.json) for p in op.stream.recentProgress]
                    if op.stream is not None else None,
                    "counts": job_counts(spark.sparkContext, [
                        g for g, o in self.group_op.items() if o == group
                    ]) if self.tracer is not None else None,
                })
        wall = time.perf_counter() - t_first
        ticks = cpu_ticks()
        hz = os.sysconf("SC_CLK_TCK")
        rec["window_steal_s"] = (ticks["steal"] - ticks0["steal"]) / hz
        rec["window_busy_s"] = (ticks["busy"] - ticks0["busy"]) / hz
        rec["window_jit_s"] = (jit.getTotalCompilationTime() - jit0) / 1e3
        lat = [s["latency_s"] for s in samples]
        tail, pct = tail_latency(lat)
        failed = sum(s["failed"] for s in samples)
        rec.update({
            "passes": n_timed,
            "wall_s": wall,
            "check_failures": bad,
            "attempted": len(samples),
            "failed": failed,
            "fail_ratio": failed / len(samples),
            "ops_per_min": 60.0 * len(samples) / wall,
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail,
            "latency_tail_pct": pct,
            "latency_samples": len(lat),
            "op_times": [[s["op"], s["latency_s"], s["build_s"], s["execute_s"]] for s in samples],
            "samples": samples,
        })
        reads = [s["latency_s"] for s in samples if s["kind"] == "read"]
        writes = [s["latency_s"] for s in samples if s["kind"] == "write"]
        if reads and writes:
            from workloads import store_paths, store_root

            rec["read_p50_s"] = statistics.median(reads)
            rec["write_p50_s"] = statistics.median(writes)
            rec["store"] = store_sizes(store_paths(store_root(self.work, self.wl.warm_passes + n_timed)))
            rec["disk_mib_per_live_mib"] = rec["store"]["disk_mib_per_live_mib"]
        if self.tracer is not None:
            rec["op_counts"] = [[s["op"], *s["counts"].values()] for s in samples]
        from pyspark import SparkContext

        rec["peak_rss_mib"] = vm_hwm_mib(SparkContext._gateway.proc.pid) + vm_hwm_mib("self")

    def per_layer(self, rec: dict) -> dict:
        """Per-layer figures for the timed window, from the spans, the
        per-op statusTracker counts and the event log. Times, counts and
        sizes are per pass (the window's total ÷ its passes); ratios,
        rates, session start and the store's end state are not."""
        from layers import event_log_totals

        samples = rec["samples"]
        timed = {s["group"] for s in samples}
        ev, jobs = event_log_totals(
            os.path.join(self.work, "eventlog"),
            lambda g: self.group_op.get(g) if self.group_op.get(g) in timed else None,
        )
        tot: dict[str, float] = defaultdict(float)
        for row in ev.values():
            for k, v in row.items():
                tot[k] += v
        spans = self.tracer.layer_totals(timed)

        def span(name, key="total_s"):
            return spans.get(name, {}).get(key, 0)

        graph = [s for s in self.tracer.spans if s["op"] in timed
                 and s["name"] == "operators.graph" and s["parent"] is None]
        kinds = {s["group"]: s["kind"] for s in samples}
        written = sum(v.get("output_mib", 0) for g, v in ev.items() if kinds[g] == "write")
        progress = [p for s in samples for p in (s["stream"] or [])]
        batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        counts = {k: sum(s["counts"][k] for s in samples) for k in ("jobs", "stages", "tasks")}
        nproc = rec["sizing"]["nproc"]
        passes = rec["passes"]
        live = rec.get("store", {}).get("live_mib", 0)
        out = {
            "session.get_spark_s": rec["session.get_spark_s"],
            "plans.build_s": sum(s["build_s"] for s in samples),
            "plans.execute_s": sum(s["execute_s"] for s in samples),
            "plans.tables.load_calls": span("plans.tables.load", "calls"),
            "plans.tables.input_mib": tot["input_mib"],
            "plans.tables.input_rows": tot["input_rows"],
            "spark.jobs": counts["jobs"],
            "spark.stages": counts["stages"],
            "spark.tasks": counts["tasks"],
            "spark.task_run_s": tot["task_run_s"],
            "spark.task_cpu_s": tot["task_cpu_s"],
            "spark.shuffle_write_mib": tot["shuffle_write_mib"],
            "spark.shuffle_read_mib": tot["shuffle_read_mib"],
            "spark.core_utilization": tot["task_run_s"] / (rec["wall_s"] * nproc),
            "spark.gc_s": tot["gc_s"],
            "spark.spill_mem_mib": tot["spill_mem_mib"],
            "spark.spill_disk_mib": tot["spill_disk_mib"],
            "spark.failed_tasks": tot["failed_tasks"],
            "spark.task_success_ratio":
                (tot["tasks"] - tot["failed_tasks"]) / tot["tasks"] if tot["tasks"] else 1.0,
            "operators.graph.calls": len(graph),
            "operators.graph.self_s": span("operators.graph", "self_s"),
            "operators.graph.jobs": sum(
                1 for op, t in jobs
                if any(g["op"] == op and g["wall_start"] <= t <= g["wall_end"] for g in graph)
            ),
            "operators.store.create_s": span("operators.store.create"),
            "operators.store.append_s": span("operators.store.append"),
            "operators.store.compact_s": span("operators.store.compact"),
            "operators.store.load_s": span("operators.store.load"),
            "operators.store.gc_s": span("operators.store.gc"),
            "operators.store.commits": span("operators.store.commit", "calls"),
            "operators.store.files": rec.get("store", {}).get("live_files", 0),
            "operators.store.bytes_written_mib": written,
            "operators.store.write_amp": written / passes / live if live else 0.0,
            "streaming.pipeline.batches": len(progress),
            "streaming.pipeline.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
            "streaming.pipeline.rows_per_s":
                sum(p["numInputRows"] for p in progress) / sum(batch_s) if batch_s else 0.0,
            "trace.ops_per_min": rec["ops_per_min"],
        }
        for key in ("build_s", "execute_s"):
            per_mod: dict[str, float] = defaultdict(float)
            for s in samples:
                per_mod[s["module"]] += s[key]
            out.update({f"plans.{m}.{key}": v for m, v in sorted(per_mod.items())})
        for k in out:
            if k not in NOT_PER_PASS:
                out[k] /= passes
        return out


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def result_line(rec: dict, bench: dict) -> dict:
    names = bench["per_layer"] if rec["trace"] else bench["end_to_end"]
    values = rec["layers"] if rec["trace"] else rec
    return {
        "correct": not rec["check_failures"] and rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "olympic_athletes_etl_spark")):
        print("perfbench: the engine package is not beside perfbench/", file=sys.stderr)
        return 2
    bench = load_benchmark()
    sys.path.insert(0, HERE)
    runner = Runner(args)
    try:
        rec = runner.run()
    except Exception:  # noqa: BLE001 - fail the run without a result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(runner.work, ignore_errors=True)
    print(json.dumps({k: v for k, v in rec.items() if k != "samples"}))
    print(json.dumps(result_line(rec, bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
