"""Closed-loop benchmark of the torua_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One client in one
process drives ``local[nproc]`` over tables that ``datagen.py``
generates into ``perfbench/.work`` on first use. ``design.json``
records why each workload was chosen and what each metric means.

- ``kv_serving``: a ``ToruaEngine`` holding one key per order, after
  ``compact_for_serving()``, serves the seeded op mix of ``kvmix.py``.
  Every read is checked against an in-process model.
- ``analytics``: passes over ``ANALYTICS``, one declared query per
  layer, in a seeded order. A warm-up pass outside the timed passes
  checks each result's value hash against ``expected.json``; every
  timed execution checks its row count.

Set-up (session start, warm-up and, on kv_serving, the state load)
runs three times. ``setup_s`` is the median of the three plus, on
analytics, the build and collect time of the warm-up pass: the first
execution of each query in the process, so that work a change moves
into per-session memoized builds shows there. Between queries, outside
the timed region, cached relations are dropped and the JVM collects
garbage.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones, measured untraced; with ``--trace 1``
they are the per-layer ones of a traced run (``ledger.py``), whose
spans are written to ``perfbench/.work``. The line before it holds
diagnostics that are not gated: the 1-minute load average before and
after, per-op medians and sample counts, the tail percentile used,
peak RSS, the failure share and the failed checks.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import math
import os
import random
import shutil
import statistics as st
import subprocess
import sys
import tempfile
import time

import check
import datagen
import kvmix
import ledger

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Declared queries run by the analytics workload, each with the layer
# (module) it mainly drives. One entry per layer, picked for carrying
# that layer's characteristic cost at low wall time, so that a warm-up
# pass and at least one timed pass fit the run time: the iterative graph
# loop (30 jobs), a stream's start/drain/stop lifecycle, k-token
# substring dedup, the embedding kNN, JPEG decode and perceptual
# hashing, the Arrow mapInPandas BPE kernel, a sampling window, a
# lake write and compaction, and the z-order layout.
ANALYTICS = {
    "graph_k_core": "operators.graph",
    "streaming_profile_drift": "streaming",
    "dedup_exact_substring": "operators.dedup",
    "dedup_decontaminate_embedding": "operators.similarity",
    "dedup_image_jpeg": "operators.multimodal",
    "text_bpe_kernel": "functions.bpe",
    "source_cap": "operators.sampling",
    "lake_compact": "sources.io",
    "zorder_layout": "sources.layout",
}

FAMILY_COUNTERS = ("build_s", "exec_s", "jobs", "stages", "tasks", "exec_run_s",
                   "exec_cpu_s", "shuffle_mb", "input_mb", "driver_s", "busy_frac")
STREAM_PHASES = (("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
                 ("query_planning", "queryPlanning"), ("add_batch", "addBatch"),
                 ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets"))
SETUP_REPEATS = 3
# kv_serving times at least two blocks (104 ops), so that at least ten
# samples lie beyond its tail percentile at any host speed. The
# percentile is fixed, so runs that timed different op counts stay
# comparable, and it lies below the compaction stalls (one op per
# block, 1.9%), so the tail does not flip between them and the ops
# below them from run to run.
KV_MIN_BLOCKS = 2
KV_TAIL_PERCENTILE = 90


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[math.ceil(p / 100 * len(xs)) - 1]


# ---------------------------------------------------------------- set-up

def prepare_env(sf: float) -> str:
    """Data directory, plus an environment that keeps every file the
    run writes inside the checkout."""
    os.makedirs(WORK, exist_ok=True)
    data = os.path.join(WORK, "data", f"sf{sf:g}")
    if not os.path.exists(os.path.join(data, "embeddings.parquet")):
        datagen.write(data, sf)
    tmp = tempfile.mkdtemp(prefix=f"run{os.getpid()}-", dir=WORK)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # mapInPandas workers import torua_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return data


def sweep(spark) -> None:
    """Drop cached relations and persisted RDDs, then let the JVM
    collect, so one query's state never taxes the next one's timing."""
    gc.collect()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()


def warm(spark, data: str, cpus: int, arrow: bool) -> None:
    """bench.py's warm-up: codegen/shuffle/broadcast machinery, then
    (for workloads that run Python workers) one Arrow worker per core
    with numpy imported."""
    from pyspark.sql import functions as F

    r = spark.read.parquet(f"{data}/region.parquet")
    n = spark.read.parquet(f"{data}/nation.parquet")
    (r.join(F.broadcast(n), r.r_regionkey == n.n_regionkey)
     .groupBy("r_name").agg(F.count(F.lit(1)).alias("c")).count())
    if not arrow:
        return

    def _warm(it):
        import numpy  # noqa: F401

        yield from it

    big = spark.range(0, cpus * 2, 1, cpus * 2)
    big.mapInPandas(_warm, schema=big.schema).count()


def kv_state(spark, data: str):
    from pyspark.sql import functions as F

    from torua_spark.engine import ToruaEngine

    orders = spark.read.parquet(f"{data}/orders.parquet").select(
        F.format_string("k%09d", "o_orderkey").alias("key"),
        F.concat_ws(":", "o_orderstatus", F.col("o_custkey").cast("string")).alias("value"),
    )
    return ToruaEngine(spark, orders).compact_for_serving()


def kv_model(data: str):
    import pyarrow.parquet as pq

    from torua_spark.constants import NODES, NUM_SHARDS

    t = pq.read_table(f"{data}/orders.parquet",
                      columns=["o_orderkey", "o_orderstatus", "o_custkey"]).to_pydict()
    items = {kvmix.key(k): f"{s}:{c}" for k, s, c in
             zip(t["o_orderkey"], t["o_orderstatus"], t["o_custkey"])}
    return kvmix.Model(items, NUM_SHARDS, [n[0] for n in NODES])


def setup_once(workload: str, data: str, cpus: int, timings: dict):
    """One full set-up; returns (spark, engine or None)."""
    from torua_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    t1 = time.perf_counter()
    warm(spark, data, cpus, arrow=workload != "kv_serving")
    t2 = time.perf_counter()
    engine = kv_state(spark, data) if workload == "kv_serving" else None
    t3 = time.perf_counter()
    timings["session"].append(t1 - t0)
    timings["warm"].append(t2 - t1)
    timings["total"].append(t3 - t0)
    log(f"set-up: session {t1 - t0:.2f}s, warm {t2 - t1:.2f}s, total {t3 - t0:.2f}s")
    return spark, engine


# ----------------------------------------------------------- measurement

class Run:
    """One measured window: latencies, checks and (traced) ledgers."""

    def __init__(self, spark, tracer, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.lat: list[tuple[str, float]] = []  # (op or query, seconds)
        self.ledgers: list[tuple[str, dict]] = []
        self.passes: list[float] = []
        self.first_pass_s = 0.0  # analytics warm-up pass, build and collect
        self.attempted = 0
        self.failures: list[str] = []
        self.stream_marks: dict[str, list[tuple]] = {}  # listener (before, after)

    def timed(self, name: str, steps):
        """Run ``steps`` (a list of (span name, fn) where each fn takes
        the previous result) and return (result, seconds)."""
        tr = self.tracer
        if tr is None:
            t0 = time.perf_counter()
            out = None
            for _, fn in steps:
                out = fn(out)
            return out, time.perf_counter() - t0
        root = tr.open(name)
        out = None
        for step, fn in steps:
            span = tr.open(step, root)
            out = fn(out)
            tr.end(span)
        tr.end(root)
        self.ledgers.append((name, tr.close(root)))
        return out, root["end"] - root["start"]

    def fail(self, what: str, timed: bool = False) -> None:
        """Record a failure; ``timed`` drops the ledger of the timed call
        whose result was wrong, so it never counts as a success."""
        self.failures.append(what)
        if timed and self.tracer is not None:
            self.ledgers.pop()


def run_analytics(run: Run, queries: dict, expected: dict, data: str,
                  seed: int, phases) -> None:
    """A warm-up pass runs every query once, outside the timed passes,
    and checks its value hash; its build and collect time is part of
    set-up. Then timed passes, each checking row counts, repeat until
    ``run.seconds`` have elapsed; after the first full pass, a pass
    stops at that deadline, so a slow host does not overrun the run by
    most of a pass."""
    rng = random.Random(seed)
    order = sorted(ANALYTICS)
    rng.shuffle(order)
    for name in order:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            df = queries[name](run.spark, data)
            rows = [tuple(r) for r in df.collect()]
            run.first_pass_s += time.perf_counter() - t0
            got = check.digest(df.columns, rows)
        except Exception as e:  # a failed query counts, the run goes on
            got = f"{type(e).__name__}: {str(e)[:200]}"
        want = (expected[name]["rows"], expected[name]["hash"])
        if got != want:
            run.fail(f"{name} warm-up: got {got}, oracle {want}")
        df = rows = None
        sweep(run.spark)
    log(f"warm-up pass done: {run.first_pass_s:.2f}s")
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < run.seconds:
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            if run.passes and time.perf_counter() - t_start >= run.seconds:
                break
            run.attempted += 1
            before = phases.snapshot() if phases else None
            try:
                rows, secs = run.timed(name, [
                    ("build", lambda _, n=name: queries[n](run.spark, data)),
                    ("exec", lambda df: df.collect()),
                ])
            except Exception as e:  # a failed query counts, the run goes on
                run.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                sweep(run.spark)
                continue
            if len(rows) != expected[name]["rows"]:
                run.fail(f"{name}: {len(rows)} rows, oracle {expected[name]['rows']}",
                         timed=True)
            else:
                run.lat.append((name, secs))
                if phases:
                    run.stream_marks.setdefault(name, []).append(
                        (before, phases.snapshot()))
            rows = None
            sweep(run.spark)
        else:
            run.passes.append(time.perf_counter() - t_pass)
            log(f"pass {len(run.passes)}: {run.passes[-1]:.2f}s")


def run_kv(run: Run, engine, model, seed: int) -> None:
    """One untimed op of each read kind (the first calls of an op path
    run up to twice as long), then timed blocks until ``run.seconds``
    have elapsed and at least ``KV_MIN_BLOCKS`` have run. Every read is
    checked."""
    kv_ops(run, engine, model, kvmix.warmup_ops(seed, len(model.kv)), timed=False)
    log("warm-up ops done")
    stream = kvmix.ops(seed, len(model.kv))
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < run.seconds
           or len(run.passes) < KV_MIN_BLOCKS):
        done = len(run.lat)
        kv_ops(run, engine, model, itertools.islice(stream, kvmix.OPS_PER_BLOCK),
               timed=True)
        run.passes.append(sum(secs for _, secs in run.lat[done:]))
        log(f"block {len(run.passes)}: {run.passes[-1]:.2f}s of ops")


def kv_ops(run: Run, engine, model, ops, timed: bool) -> None:
    for op, args in ops:
        run.attempted += 1
        call = [("call", lambda _, o=op, a=args: getattr(engine, o)(*a))]
        try:
            if timed:
                got, secs = run.timed(f"engine.{op}", call)
            else:
                got = call[0][1](None)
        except Exception as e:
            run.fail(f"{op}{args}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if op in kvmix.WRITES:
            getattr(model, op)(*args)
        else:
            want = getattr(model, op)(*args)
            if op == "route":
                got = tuple(got)
            if got != want:
                run.fail(f"{op}{args}: got {str(got)[:80]}, expected {str(want)[:80]}",
                         timed=timed)
                continue
        if timed:
            run.lat.append((op, secs))


# ------------------------------------------------------------- metrics

def end_to_end(run: Run, workload: str, setup: dict) -> tuple[dict, dict]:
    """kv_serving: latency statistics over ops. analytics: over each
    query's median latency; the p50 is their geometric mean, as in
    TPC's power metric, because the median of nine queries whose
    latencies differ tenfold is one query's sample and jumps between
    queries from run to run; the tail is the slowest query's median."""
    if workload == "kv_serving":
        lat = [s for _, s in run.lat]
        pass_s = st.median(run.passes)
        ops_per_s = len(lat) / sum(lat)
        p50 = st.median(lat)
        p = KV_TAIL_PERCENTILE
    else:
        per_query: dict[str, list[float]] = {}
        for name, s in run.lat:
            per_query.setdefault(name, []).append(s)
        lat = [st.median(v) for v in per_query.values()]
        pass_s = sum(lat)
        ops_per_s = len(lat) / pass_s
        p50 = st.geometric_mean(lat)
        p = 100
    return {
        "setup_s": (st.median(setup["total"]) + run.first_pass_s, "s"),
        "pass_s": (pass_s, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "op_p50_ms": (p50 * 1e3, "ms"),
        "op_tail_ms": (percentile(lat, p) * 1e3, "ms"),
    }, {"tail_percentile": p, "tail_samples": len(lat), "first_pass_s": run.first_pass_s}


def _median_by_query(ledgers: list[tuple[str, dict]]) -> dict[str, dict]:
    by: dict[str, list[dict]] = {}
    for name, led in ledgers:
        by.setdefault(name, []).append(led)
    return {n: {k: st.median(d[k] for d in v) for k in v[0]} for n, v in by.items()}


def per_layer(run: Run, workload: str, setup: dict, pass_s: float, cpus: int,
              rss: float) -> dict:
    out: dict[str, tuple[float, str]] = {}
    per_query = _median_by_query(run.ledgers) if workload != "kv_serving" else {}
    fams = sorted(set(ANALYTICS.values()))
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "shuffle_mb": "MB", "input_mb": "MB", "busy_frac": "fraction"}
    for fam in fams:
        rows = [v for n, v in per_query.items() if ANALYTICS[n] == fam]
        tot = {k: sum(r.get(k, 0.0) for r in rows)
               for k in ("build_s", "exec_s", "jobs", "stages", "tasks", "exec_run_s",
                         "exec_cpu_s", "shuffle_mb", "input_mb", "driver_s", "wall_s")}
        tot["busy_frac"] = tot["exec_run_s"] / (cpus * tot["wall_s"]) if tot["wall_s"] else 0.0
        for k in FAMILY_COUNTERS:
            out[f"{fam}.{k}"] = (tot[k], units.get(k, "s"))

    # streaming phases: per-query medians of the listener deltas
    per_stream = {}
    for name, marks in run.stream_marks.items():
        if ANALYTICS[name] != "streaming":
            continue
        deltas = [(b1 - b0, {k: t1[k] - t0[k] for k in t1}) for (b0, t0), (b1, t1) in marks]
        per_stream[name] = {
            "batches": st.median(d[0] for d in deltas),
            **{k: st.median(d[1][k] for d in deltas) / 1e3 for k in deltas[0][1]},
        }
    out["streaming.batches"] = (sum(v["batches"] for v in per_stream.values()), "count")
    for metric, key in STREAM_PHASES:
        out[f"streaming.{metric}_s"] = (sum(v[key] for v in per_stream.values()), "s")
    out["streaming.lifecycle_s"] = (sum(
        per_query[n]["wall_s"] - v["triggerExecution"] for n, v in per_stream.items()), "s")

    for side, writes in (("read", False), ("write", True)):
        led = [d for n, d in run.ledgers
               if n.startswith("engine.") and (n[7:] in kvmix.WRITES) == writes]
        k = len(led) or 1
        out[f"engine.{side}.jobs_per_op"] = (sum(d["jobs"] for d in led) / k, "count")
        out[f"engine.{side}.driver_ms_per_op"] = (sum(d["driver_s"] for d in led) * 1e3 / k, "ms")
        out[f"engine.{side}.exec_run_ms_per_op"] = (
            sum(d["exec_run_s"] for d in led) * 1e3 / k, "ms")
        out[f"engine.{side}_p50_ms"] = (side_p50_ms(run, writes) or 0.0, "ms")

    out["session.start_s"] = (setup["session"][0], "s")
    out["session.warm_s"] = (st.median(setup["warm"]), "s")
    out["session.first_pass_s"] = (run.first_pass_s, "s")
    calls_per_pass = kvmix.OPS_PER_BLOCK if workload == "kv_serving" else len(ANALYTICS)
    out["session.gc_s"] = (run.tracer.gc_s * calls_per_pass / len(run.ledgers), "s")
    out["session.peak_rss_mb"] = (rss, "MB")
    out["trace.pass_s"] = (pass_s, "s")
    return out


# ---------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("kv_serving", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, choices=check.SCALES,
                    help="data scale factor; 0.001 is the self-check's")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "torua_spark", "__init__.py")):
        print(f"perfbench: no torua_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    load_pre = os.getloadavg()[0]
    data = prepare_env(args.sf)
    sys.path.insert(0, ROOT)
    try:
        return measure(args, cpus, data, load_pre)
    finally:
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)


def measure(args, cpus: int, data: str, load_pre: float) -> int:
    from pyspark import SparkContext

    from torua_spark.queries import all_queries

    queries = all_queries()
    expected = check.load_expected(args.sf)
    setup = {"session": [], "warm": [], "total": []}
    spark = engine = None
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                engine = None
                sweep(spark)
                spark.stop()
            spark, engine = setup_once(args.workload, data, cpus, setup)
        model = kv_model(data) if engine is not None else None
        tracer = ledger.Tracer(spark) if args.trace else None
        phases = None
        if args.trace and args.workload == "analytics":
            phases = ledger.StreamPhases()
            spark.streams.addListener(phases)
        log("measuring")
        run = Run(spark, tracer, args.seconds)
        if engine is not None:
            run_kv(run, engine, model, args.seed)
        else:
            run_analytics(run, queries, expected, data, args.seed, phases)
        gw = SparkContext._gateway
        rss = ledger.peak_rss_mb([os.getpid(), gw.proc.pid])
        if not run.lat:
            raise RuntimeError(f"no operation succeeded: {run.failures[:3]}")
        e2e, diag = end_to_end(run, args.workload, setup)
        diag["peak_rss_mb"] = rss
        if args.trace:
            metrics = per_layer(run, args.workload, setup, e2e["pass_s"][0], cpus, rss)
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(tracer.dump(), f)
        else:
            metrics = e2e
    finally:
        log("stopping")
        stop(spark)
        log("stopped")
    if args.trace:
        diag["jobs_outside_spans_s"] = sum(d["jobs_outside_s"] for _, d in run.ledgers)
    by_op: dict[str, list[float]] = {}
    for name, secs in run.lat:
        by_op.setdefault(name, []).append(secs)
    diag.update({
        "metric": "perfbench_diagnostics",
        "median_s_by_op": {n: st.median(v) for n, v in sorted(by_op.items())},
        "samples_by_op": {n: len(v) for n, v in sorted(by_op.items())},
        "workload": args.workload, "seed": args.seed,
        "passes": len(run.passes), "load_1m_pre": load_pre,
        "load_1m_post": os.getloadavg()[0],
        "fail_frac": len(run.failures) / run.attempted,
        "failures": run.failures[:20],
        "read_p50_ms": side_p50_ms(run, False), "write_p50_ms": side_p50_ms(run, True),
    })
    print(json.dumps(diag))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def side_p50_ms(run: Run, writes: bool) -> float | None:
    """Median latency of kv reads or writes (None on analytics)."""
    ops = dict(kvmix.BLOCK)
    lat = [s * 1e3 for n, s in run.lat if n in ops and (n in kvmix.WRITES) == writes]
    return st.median(lat) if lat else None


def stop(spark) -> None:
    """Stop streams, the session and the JVM, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
