"""The benchmark's workloads, as ops over the engine's public entry points.

An op is one unit the closed loop times: a registry query (build + noop
sink), or one store / stream step. ``passes`` yields one pass of ops
after another; the seed shuffles the op order of every pass and, for
``store``, picks the split points of every cycle.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import sys
from dataclasses import dataclass
from typing import Callable, Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The bench.py headline set: execution-bound scans, joins, aggregates,
# windows, LSH, brute-force kNN and text scoring.
from bench import BENCH_QUERIES as ANALYTIC  # noqa: E402

# Build-bound: eager localCheckpoint rounds launch many small jobs.
ITERATIVE = [
    "d_neardup_pipeline",
    "d_dup_clusters_star",
    "g_triangle_count",
    "g_pagerank",
    "s_knn_graph",
]
# Month window of the slice serve, as in r_rollup_slice.
RANGE = ("1995-01", "1995-12")
STREAM_FILES = 4


@dataclass
class Op:
    """``run`` builds the op: it returns a DataFrame the loop executes
    with a noop sink, or None for a write that is done on return.
    ``oracle`` names the registry query whose DuckDB oracle checks the
    op's result; ``kind`` is ``query``, ``read`` or ``write``."""

    name: str
    kind: str
    module: str
    run: Callable[[], object]
    oracle: str | None = None
    stream: object = None  # the StreamingQuery an ingest op ran, if any

    @property
    def store(self) -> str | None:
        """The store a read or write step works on, from its name
        (``compact:hll``, ``serve:hll_range``). Steps on one store depend
        on each other; steps on different stores do not."""
        return None if self.kind == "query" else self.name.split(":")[1].split("_")[0]


def query_ops(spark, sf_dir: str, names: list[str]) -> list[Op]:
    from olympic_athletes_etl_spark.plans import queries

    qs = queries()
    return [
        Op(
            n, "query", qs[n].__module__.rsplit(".", 1)[-1],
            functools.partial(qs[n], spark, sf_dir), oracle=n,
        )
        for n in names
    ]


def write_stream_source(sf_dir: str, out_dir: str, rng: random.Random) -> str:
    """Split ``orders`` into ``STREAM_FILES`` parquet files at seeded row
    offsets: the file source the stream-ingest op drains, one file per
    micro-batch."""
    import pyarrow.parquet as pq

    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    n = orders.num_rows
    cuts = sorted(rng.sample(range(1, n), STREAM_FILES - 1))
    os.makedirs(out_dir, exist_ok=True)
    for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, n])):
        pq.write_table(orders.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i}.parquet"))
    return out_dir


def store_cycle(
    spark, sf_dir: str, root: str, stream_src: str, rng: random.Random
) -> list[Op]:
    """One store cycle in a fresh ``root``: build the rollup, HLL and BM25
    stores from the first part of their input, append the rest,
    stream-ingest order batches, compact every store, then serve the full
    and range forms. The seed picks each split point and the family order
    within each phase."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans import relational as rel
    from olympic_athletes_etl_spark.plans import sketch_q as sk
    from olympic_athletes_etl_spark.plans import textstats as ts
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.streaming import pipeline as sp

    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)
    p = {k: os.path.join(root, k) for k in ("rollup", "hll", "bm25", "stream", "ckpt")}
    orders = load(spark, sf_dir, "orders").withColumn("d", F.col("o_orderdate").cast("date"))
    events = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # Each split point falls between 30 % and 70 % of its input (orders
    # run from 1995-01 to 2001-08), so every cycle builds and appends
    # comparable amounts and the seed does not swing the step costs.
    month = f"{rng.randrange(1997, 2000)}-{rng.randrange(1, 13):02d}-01"
    user_cut = rng.randrange(300, 700)
    doc_cut = rng.randrange(300, 700)
    first = {
        "rollup": orders.filter(F.col("d") < month),
        "hll": events.filter(F.col("user_id") % 1000 < user_cut),
        "bm25": docs.filter(F.col("doc_id") % 1000 < doc_cut),
    }
    rest = {
        "rollup": orders.filter(F.col("d") >= month),
        "hll": events.filter(F.col("user_id") % 1000 >= user_cut),
        "bm25": docs.filter(F.col("doc_id") % 1000 >= doc_cut),
    }
    build = {
        "rollup": lambda: rel.rollup_store(rel._monthly_partials(first["rollup"]), p["rollup"]),
        "hll": lambda: sk.hll_rollup_store(sk.hll_rollup_partials(first["hll"]), p["hll"]),
        "bm25": lambda: ts.bm25_index_store(ts.bm25_index_build(first["bm25"]), p["bm25"]),
    }
    append = {
        "rollup": lambda: rel.rollup_append(rel._monthly_partials(rest["rollup"]), p["rollup"]),
        "hll": lambda: sk.hll_rollup_append(sk.hll_rollup_partials(rest["hll"]), p["hll"]),
        "bm25": lambda: ts.bm25_index_append(rest["bm25"], p["bm25"]),
    }
    compact = {
        "rollup": lambda: rel.rollup_compact(spark, p["rollup"]),
        "hll": lambda: sk.hll_rollup_compact(spark, p["hll"]),
        "bm25": lambda: ts.bm25_index_compact(spark, p["bm25"]),
        "stream": lambda: sp.stream_rollup_compact(spark, p["stream"], p["ckpt"]),
    }
    serve = [
        ("rollup", "r_rollup_stored", lambda: rel.rollup_serve(spark, p["rollup"])),
        ("rollup_slice", "r_rollup_slice",
         lambda: rel.rollup_serve(spark, p["rollup"]).filter(F.col("month").between(*RANGE))),
        ("hll", "a_hll_rollup_stored", lambda: sk.hll_rollup_serve(spark, p["hll"])),
        ("hll_range", "a_hll_rollup_range",
         lambda: sk.hll_rollup_serve_range(spark, p["hll"], sk._HLL_RANGE_LO, sk._HLL_RANGE_HI)),
        ("bm25", "t_bm25_stored", lambda: ts.bm25_serve(spark, p["bm25"], ts._BM25_TERMS, ts._BM25_TOPN)),
        ("stream_rollup", "r_rollup_stored", lambda: rel.rollup_serve(spark, p["stream"])),
    ]
    mod = {"rollup": "relational", "hll": "sketch_q",
           "bm25": "textstats", "stream": "pipeline", "stream_rollup": "relational"}

    def shuffled(keys):
        keys = list(keys)
        rng.shuffle(keys)
        return keys

    ops = [Op(f"build:{k}", "write", mod[k], build[k]) for k in shuffled(build)]
    ops += [Op(f"append:{k}", "write", mod[k], append[k]) for k in shuffled(append)]
    ingest = Op("ingest:stream", "write", "pipeline", None)

    def run_ingest():
        src = (
            spark.readStream.schema(spark.read.parquet(stream_src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_src)
        )
        q = sp.stream_rollup_ingest(src, p["stream"], p["ckpt"])
        ingest.stream = q
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream ingest died: {q.exception()}")

    ingest.run = run_ingest
    ops.append(ingest)
    ops += [Op(f"compact:{k}", "write", mod[k], compact[k]) for k in shuffled(compact)]
    ops += [
        Op(f"serve:{k}", "read", mod.get(k, mod[k.split("_")[0]]), fn, oracle=o)
        for k, o, fn in shuffled(serve)
    ]
    return ops


def store_root(work: str, cycle: int) -> str:
    """Cycles alternate between two roots; each cycle wipes its own."""
    return os.path.join(work, f"stores-{cycle % 2}")


def store_paths(root: str) -> list[str]:
    return [os.path.join(root, k) for k in ("rollup", "hll", "bm25", "stream")]


@dataclass
class Workload:
    """``passes_per_10s`` whole passes are timed for every 10 s of
    ``--seconds`` (at least one). The count depends on ``--seconds``
    alone, never on how fast a pass runs, so every run of a workload
    times the same ops. ``warm_passes`` untimed passes run before them,
    after the check pass."""

    name: str
    sf: float
    passes_per_10s: int
    warm_passes: int
    passes: Callable[..., Iterator[list[Op]]]

    def timed_passes(self, seconds: float) -> int:
        return max(1, round(self.passes_per_10s * seconds / 10))


def _query_passes(names):
    def passes(spark, sf_dir, work, rng):
        ops = query_ops(spark, sf_dir, names)
        while True:
            rng.shuffle(ops)
            yield list(ops)

    return passes


def _store_passes(spark, sf_dir, work, rng):
    src = write_stream_source(sf_dir, os.path.join(work, "stream_src"), rng)
    cycle = 0
    while True:
        yield store_cycle(spark, sf_dir, store_root(work, cycle), src, rng)
        cycle += 1


def _iterative_store_passes(spark, sf_dir, work, rng):
    """A store cycle with the iterative queries at seeded positions."""
    queries = _query_passes(ITERATIVE)(spark, sf_dir, work, rng)
    for cycle in _store_passes(spark, sf_dir, work, rng):
        for op in next(queries):
            cycle.insert(rng.randrange(len(cycle) + 1), op)
        yield cycle


WORKLOADS = {
    w.name: w
    for w in [
        # A warm pass of iterative_store would cost about 25 s a run.
        Workload("analytic", 0.01, 3, 1, _query_passes(ANALYTIC)),
        Workload("iterative_store", 0.01, 1, 0, _iterative_store_passes),
    ]
}
