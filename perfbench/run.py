#!/usr/bin/env python3
"""Benchmark of the flink_framework_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process starts the engine's own
session (``get_spark()`` at ``local[<cores>]``), runs one workload with a
single closed-loop caller, checks every output, and prints one line per
metric (name, value, unit) and, last, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a
separate traced run that reports the per-layer metrics and writes its
spans to ``perfbench/.work/traces/``. Every layer is measured from
outside: the benchmark times its own calls into ``session``,
``registry``, each query callable and the materialize step, and reads
Spark's status store, the persistent-RDD table, streaming progress and
``/proc``. LAYERS.md maps each per-layer metric to the end-to-end metric
and workload it should move.

Inputs come from the benchmark's generator (``data.py``) and are built
once per checkout under ``perfbench/.work/``; the seed permutes the
query order of every pass and offsets the streaming key mapping.
``--smoke`` runs a workload at minimum size (the self-test's mode).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import probe  # noqa: E402

# name -> what the workload runs. Batch workloads name their data
# (generator scale factor, tiles of it) and their query list.
WORKLOADS = {
    "tpch": {
        "data": (0.01, 2),
        "queries": [
            "q_tpch_q3", "q_tpch_q4", "q_tpch_q5", "q_tpch_q6", "q_tpch_q7",
            "q_tpch_q8", "q_tpch_q9", "q_tpch_q10", "q_tpch_q12",
            "q_tpch_q13", "q_tpch_q14", "q_tpch_q15", "q_tpch_q16",
            "q_tpch_q17", "q_tpch_q18", "q_tpch_q19", "q_tpch_q21",
            "q_tpch_q22",
        ],
    },
    "iterative": {
        "data": (0.01, 1),
        "queries": ["q_kcore", "q_pagerank", "q_recursive_depth", "q_split_cluster_safe"],
    },
    "stream_funnel": {"rows_per_batch": 4_000, "keys": 1_000},
}
SMOKE_DATA = (0.001, 1)
MIN_PASSES = 1
STREAM_STEADY = 3  # micro-batches measured after the first
STREAM_CAP_S = 120  # a run must end within 180 s

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_geomean_s": "s", "rows_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "registry.import_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "driver.self_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.stages_skipped": "count", "scheduler.tasks": "count",
    "scheduler.tasks_failed": "count",
    "materialize.s": "s", "materialize.jobs": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.offcpu_s": "s", "executor.busy_frac": "1",
    "io.input_mb": "MB", "io.input_records": "count",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "shuffle.fetch_wait_s": "s",
    "python.cpu_s": "s",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "state.rows_total": "count", "state.memory_mb": "MB", "state.commit_ms": "ms",
    "state.updates_ms": "ms", "state.rows_dropped_late": "count",
    "storage.rdds_left": "count", "storage.mem_mb": "MB", "peak_rss_mb": "MB",
    "failed_frac": "1", "trace.pass_s": "s",
}


def data_dir(spec: tuple[float, int]) -> str:
    sf, tiles = spec
    return os.path.join(WORK, "data", f"sf{sf}" + (f"x{tiles}" if tiles > 1 else ""))


def build_data(spec: tuple[float, int], queries: list[str]) -> dict:
    """Generate (and tile) the workload's tables and fingerprint the
    oracles of its queries, in a child process so this process imports
    the engine only inside the timed set-up. Returns the fingerprints."""
    out = data_dir(spec)
    cmd = [sys.executable, os.path.join(HERE, "data.py"), out, str(spec[0]), str(spec[1]), *queries]
    subprocess.run(cmd, check=True, cwd=ROOT, stdout=sys.stderr)
    path = os.path.join(out, "oracles.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def setup() -> tuple:
    """Session start, registry import and the session's first job:
    everything before the first operation. Returns (spark, registry,
    timings). Measured once per run: a second set-up in this process
    would reuse the warm JVM and miss the costs it guards."""
    t0 = time.perf_counter()
    from flink_framework_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from flink_framework_spark.registry import all_queries

    registry = all_queries()
    t2 = time.perf_counter()
    spark.range(1000).count()
    t3 = time.perf_counter()
    return spark, registry, {
        "session.start_s": t1 - t0, "registry.import_s": t2 - t1,
        "session.warmup_s": t3 - t2, "setup_s": t3 - t0,
    }


# -- batch workloads -----------------------------------------------------------

def run_batch(spark, registry, wl, args, trace):
    """Passes over the workload's queries in seed-permuted order. Each
    call is the query callable plus the materialize step, ``toPandas()``
    (what a library caller does with a result); every result is then
    checked against its oracle fingerprint, outside the timed region."""
    from tests.harness import canonical_hash

    names = wl["queries"]
    spec = SMOKE_DATA if args.smoke else wl["data"]
    oracles = build_data(spec, names)
    ddir = data_dir(spec)
    reader = probe.StatusReader(spark)
    jvm = spark.sparkContext._gateway.proc.pid
    rng = random.Random(args.seed)
    sc = spark.sparkContext

    attempted, failed, notes = 0, 0, []
    passes, per_query, rdds_left = [], {n: [] for n in names}, {}
    run_span = trace.open("run", workload=args.workload, seed=args.seed) if trace else None
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or (
        not args.smoke and time.perf_counter() - t_start < args.seconds
    ):
        order = rng.sample(names, len(names))
        layer = dict.fromkeys(PER_LAYER, 0.0)
        pass_span = trace.open("pass", run_span, index=len(passes)) if trace else None
        if not trace:
            sc.setJobGroup(f"pb-pass-{len(passes)}", "pass")
        pinned0 = reader.persistent_rdds() if trace else set()
        added: dict[str, set[int]] = {}
        t_pass = time.perf_counter()
        for name in order:
            attempted += 1
            tag = f"pb-{len(passes)}-{name}"
            if trace:
                sc.setJobGroup(tag + "-build", name)
                cpu0, before = probe.python_cpu_s(jvm), reader.persistent_rdds()
            w0, t0 = time.time(), time.perf_counter()
            try:
                df = registry[name].fn(spark, ddir)
                t1, w1 = time.perf_counter(), time.time()
                if trace:
                    sc.setJobGroup(tag + "-mat", name)
                result = df.toPandas()
                t2, w2 = time.perf_counter(), time.time()
            except Exception as e:  # a query that raises is a failed operation
                failed += 1
                notes.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            per_query[name].append(t2 - t0)
            layer["queries.build_s"] += t1 - t0
            layer["materialize.s"] += t2 - t1
            if canonical_hash(result) != oracles[name]:
                failed += 1
                notes.append(f"{name}: output differs from its oracle")
            if trace:
                trace_query(trace, reader, layer, pass_span, name, tag, (w0, w1, w2))
                layer["python.cpu_s"] += probe.python_cpu_s(jvm) - cpu0
                added[name] = reader.persistent_rdds() - before
                layer["storage.mem_mb"] = max(layer["storage.mem_mb"], reader.storage_mem_mb())
        pass_s = time.perf_counter() - t_pass
        if not trace:
            reader.drain()
            tot = probe.stage_totals(reader.group_jobs(f"pb-pass-{len(passes)}"))
            layer["io.input_records"] = tot["input_records"]
        spark.catalog.clearCache()
        if trace:
            trace.close(pass_span)
            left = reader.persistent_rdds() - pinned0
            for name, ids in added.items():
                n = len(ids & left)
                rdds_left[name] = max(rdds_left.get(name, 0), n)
                trace.spans[pass_span].setdefault("rdds_left", {})[name] = n
                layer["storage.rdds_left"] += n
        passes.append({"pass_s": pass_s, **layer})
    sc.setLocalProperty("spark.jobGroup.id", None)
    if trace:
        trace.close(run_span)
    med_q = {n: statistics.median(v) for n, v in per_query.items() if v}
    pass_s = statistics.median(p["pass_s"] for p in passes)
    metrics = {
        "pass_s": pass_s,
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in med_q.values())),
        "rows_per_s": statistics.median(p["io.input_records"] / p["pass_s"] for p in passes),
    }
    if trace:
        for k in PER_LAYER:
            metrics[k] = statistics.median(p[k] for p in passes)
        metrics["trace.pass_s"] = pass_s
        metrics["executor.busy_frac"] = metrics["executor.run_s"] / (pass_s * sc.defaultParallelism)
        metrics["executor.offcpu_s"] = metrics["executor.run_s"] - metrics["executor.cpu_s"]
    detail = {"passes": passes, "per_query_s": med_q, "rdds_left": rdds_left, "notes": notes}
    return attempted, failed, metrics, detail, jvm


def trace_query(trace, reader, layer, pass_span, name, tag, walls):
    """Spans and counters of one query call, read after it finished."""
    w0, w1, w2 = walls
    reader.drain()
    q_span = trace.add("query", w0, w2, pass_span, query=name)
    stage_iv = []
    for part, lo, hi in (("build", w0, w1), ("materialize", w1, w2)):
        p_span = trace.add(part, lo, hi, q_span)
        jobs = reader.group_jobs(f"{tag}-{'build' if part == 'build' else 'mat'}")
        tot = probe.stage_totals(jobs)
        layer["queries.build_jobs" if part == "build" else "materialize.jobs"] += tot["jobs"]
        for k in ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed"):
            layer[f"scheduler.{k}"] += tot[k]
        layer["executor.run_s"] += tot["run_s"]
        layer["executor.cpu_s"] += tot["cpu_s"]
        layer["executor.gc_s"] += tot["gc_s"]
        layer["io.input_mb"] += tot["input_bytes"] / probe.MB
        layer["io.input_records"] += tot["input_records"]
        layer["shuffle.read_mb"] += tot["shuffle_read_bytes"] / probe.MB
        layer["shuffle.write_mb"] += tot["shuffle_write_bytes"] / probe.MB
        layer["shuffle.fetch_wait_s"] += tot["fetch_wait_s"]
        for j in jobs:
            j_span = trace.add("job", j["start"] or lo, j["end"] or hi, p_span, job=j["id"])
            for s in j["stages"]:
                if s["status"] != "SKIPPED" and s["start"] and s["end"]:
                    trace.add("stage", s["start"], s["end"], j_span, stage=s["id"], tasks=s["tasks"])
                    stage_iv.append((s["start"], s["end"]))
    layer["driver.self_s"] += (w2 - w0) - probe.covered_s(stage_iv, w0, w2)


# -- streaming workload ----------------------------------------------------------

def run_stream(spark, registry, wl, args, trace):
    """``streaming.stateful.funnel_conversions`` over rate-micro-batch:
    every key gets view, purchase, view, purchase in each batch, all at
    the batch's one timestamp, so batch 0 emits no conversion and every
    later batch emits exactly two per key (its purchases convert the
    views of earlier batches)."""
    from pyspark.sql import functions as F

    from flink_framework_spark.streaming.stateful import funnel_conversions

    rows, keys = (400, 100) if args.smoke else (wl["rows_per_batch"], wl["keys"])
    offset = random.Random(args.seed).randrange(keys)
    reader = probe.StatusReader(spark)
    jvm = spark.sparkContext._gateway.proc.pid
    v = F.col("value") + offset
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows).option("numPartitions", 4).load()
        .select((v % keys).alias("user_id"), F.col("timestamp").alias("ts"),
                F.when((v / keys).cast("long") % 2 == 0, "view")
                .otherwise("purchase").alias("event_type"))
    )
    t0 = time.perf_counter()
    out = funnel_conversions(src).observe("pb_out", F.count(F.lit(1)).alias("n"))
    build_s = time.perf_counter() - t0
    ckpt = os.path.join(os.environ["TMPDIR"], "stream-ckpt")
    cpu0 = probe.python_cpu_s(jvm)
    q = (out.writeStream.format("noop").outputMode("update")
         .option("checkpointLocation", ckpt).start())
    seconds = 4 if args.smoke else args.seconds
    try:
        start = time.perf_counter()
        cpu_first = None
        while q.isActive:
            time.sleep(0.2)
            progs = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if cpu_first is None and progs:
                cpu_first, n_first = probe.python_cpu_s(jvm), len(progs)
            elapsed = time.perf_counter() - start
            if (elapsed >= seconds and len(progs) > STREAM_STEADY) or elapsed > STREAM_CAP_S:
                break
        cpu_end = probe.python_cpu_s(jvm)
        error = q.exception()
    finally:
        q.stop()
        run_id = str(q.runId)
        shutil.rmtree(ckpt, ignore_errors=True)
    progs = [p for p in q.recentProgress if p["numInputRows"] > 0]
    failed, notes = 0, []
    if error is not None:
        failed += 1
        notes.append(f"stream terminated: {error}")
    for p in progs:
        want = 0 if p["batchId"] == 0 else 2 * keys
        got = p["observedMetrics"]["pb_out"]["n"] if "pb_out" in p["observedMetrics"] else None
        if p["numInputRows"] != rows or got != want:
            failed += 1
            notes.append(f"batch {p['batchId']}: {got} conversions, expected {want}")
    steady = progs[1:]
    if not steady:
        raise RuntimeError("no steady micro-batch completed")
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in steady]
    metrics = {
        "pass_s": statistics.median(trig),
        "query_geomean_s": math.exp(statistics.fmean(math.log(t) for t in trig)),
        "rows_per_s": rows * len(steady) / sum(trig),
    }
    if trace:
        reader.drain()
        metrics.update(stream_layers(trace, reader, run_id, steady, build_s, args))
        n = max(1, len(progs) - (n_first or 0))
        metrics["python.cpu_s"] = (cpu_end - (cpu_first or cpu0)) / n
        metrics["trace.pass_s"] = metrics["pass_s"]
    detail = {"batches": len(progs), "trigger_s": trig, "offset": offset, "notes": notes}
    return len(progs) + 1, failed, metrics, detail, jvm


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def stream_layers(trace, reader, run_id, steady, build_s, args) -> dict:
    """Per-micro-batch layer metrics: phases and state from progress,
    executor and scheduler counters from the query's jobs (job group =
    the query's run id) that started after the first batch."""
    from datetime import datetime

    run_span = trace.open("run", workload=args.workload, seed=args.seed)
    t_steady = None
    for p in steady:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = p["durationMs"]
        end = start + dur["triggerExecution"] / 1e3
        t_steady = start if t_steady is None else min(t_steady, start)
        span = trace.add("trigger", start, end, run_span, batch=p["batchId"])
        at = start
        for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            if phase in dur:
                trace.add(phase, at, at + dur[phase] / 1e3, span)
                at += dur[phase] / 1e3
    jobs = [j for j in reader.group_jobs(run_id) if j["start"] and j["start"] >= (t_steady or 0)]
    tot = probe.stage_totals(jobs)
    n = len(steady)
    ops = [p["stateOperators"][0] for p in steady if p["stateOperators"]]
    trig_s = _median(p["durationMs"]["triggerExecution"] / 1e3 for p in steady)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "queries.build_s": build_s,
        "scheduler.jobs": tot["jobs"] / n, "scheduler.stages": tot["stages"] / n,
        "scheduler.stages_skipped": tot["stages_skipped"] / n,
        "scheduler.tasks": tot["tasks"] / n, "scheduler.tasks_failed": tot["tasks_failed"],
        "executor.run_s": tot["run_s"] / n, "executor.cpu_s": tot["cpu_s"] / n,
        "executor.gc_s": tot["gc_s"] / n,
        "executor.offcpu_s": (tot["run_s"] - tot["cpu_s"]) / n,
        "executor.busy_frac": tot["run_s"] / n / (trig_s * reader.sc.defaultParallelism),
        "io.input_records": tot["input_records"] / n,
        "io.input_mb": tot["input_bytes"] / n / probe.MB,
        "shuffle.read_mb": tot["shuffle_read_bytes"] / n / probe.MB,
        "shuffle.write_mb": tot["shuffle_write_bytes"] / n / probe.MB,
        "shuffle.fetch_wait_s": tot["fetch_wait_s"] / n,
        "stream.add_batch_ms": _median(p["durationMs"].get("addBatch", 0) for p in steady),
        "stream.query_planning_ms": _median(p["durationMs"].get("queryPlanning", 0) for p in steady),
        "stream.wal_commit_ms": _median(p["durationMs"].get("walCommit", 0) for p in steady),
        "stream.commit_offsets_ms": _median(p["durationMs"].get("commitOffsets", 0) for p in steady),
        "stream.latest_offset_ms": _median(p["durationMs"].get("latestOffset", 0) for p in steady),
        "state.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
        "state.memory_mb": (ops[-1]["memoryUsedBytes"] / probe.MB) if ops else 0.0,
        "state.commit_ms": _median(o["commitTimeMs"] for o in ops),
        "state.updates_ms": _median(o["allUpdatesTimeMs"] for o in ops),
        "state.rows_dropped_late": sum(o["numRowsDroppedByWatermark"] for o in ops),
    })
    trace.close(run_span)
    return m


# -- main ------------------------------------------------------------------

def peak_rss_mb(jvm: int) -> float:
    pids = [jvm, os.getpid(), *probe.python_daemons(jvm)]
    return sum(probe.vm_hwm_mb(p) for p in pids)


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    daemons = probe.python_daemons(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{d}") for d in daemons) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="minimum sizes, for the self-test")
    args = ap.parse_args(argv)

    for need in ("flink_framework_spark/session.py", "tools/make_scale_data.py", "tests/harness.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a repository checkout",
                  file=sys.stderr)
            return 2
    # everything Spark, the JVM and Python put in temporary files stays
    # inside the checkout and goes when the run ends
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)

    wl = WORKLOADS[args.workload]
    load0 = probe.loadavg()
    spark, registry, setup_t = setup()
    trace = probe.Spans() if args.trace else None
    try:
        runner = run_stream if "rows_per_batch" in wl else run_batch
        attempted, failed, metrics, detail, jvm = runner(spark, registry, wl, args, trace)
        metrics["peak_rss_mb"] = peak_rss_mb(jvm)
    finally:
        stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    metrics.update(setup_t)
    metrics["failed_frac"] = failed / attempted
    names = PER_LAYER if args.trace else END_TO_END
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "smoke": args.smoke, "loadavg": [load0, probe.loadavg()],
        "wall_s": time.perf_counter() - T_START,
        "attempted": attempted, "failed": failed, "metrics": metrics, **detail,
    }
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"self_s": trace.self_times(), "spans": trace.spans}, f)
        for name, s in sorted(trace.self_times().items()):
            print(f"self.{name} {s:.4f} s")
        for name, n in sorted(detail.get("rdds_left", {}).items()):
            print(f"storage.rdds_left[{name}] {n} count")
    for note in detail["notes"]:
        print(f"check: {note}")
    print(f"loadavg {' '.join(map(str, load0))}")
    for k, unit in names.items():
        print(f"{k} {metrics[k]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in names.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
