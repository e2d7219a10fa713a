"""The benchmark command.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the repository root.  One run: generate the workload's inputs
from the seed, set the program up (imports, session, the untimed
warm-up, whose results feed the correctness check), then run whole
passes over the workload's operations, closed loop with one client,
until ``--seconds`` have gone by and at least two passes ran.  Correctness
is checked outside the timed region; a wrong result counts every timed
run of that operation as failed.  The last line of standard output is the JSON
result; the lines before it are a readable report.

``--trace 1`` instead reports per-layer metrics: timed passes alternate
untraced and traced, spans wrap every public call into each layer, and
Spark counters come from the status store for the jobs each span ran.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "steam_data_pipeline_spark"
sys.path.insert(0, ROOT)

from perfbench import trace, workloads  # noqa: E402

# Two passes of either workload outlast the benchmark's run_seconds at
# any host speed seen, so the pass count does not change with host
# speed: the first timed pass still runs slower than later ones (a
# query_mix pass by about 5%, a daily_ingest day by up to 25%), and a
# run that fitted one more pass would read faster for that alone.
MIN_PASSES = 2
E2E = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}
LAYER_TIMES = {
    # span name → per-layer metric (self seconds per traced pass)
    "sources.read_table": "sources.read_table_s",
    "sources.read_events_stream": "sources.read_table_s",
    "plans.build": "plans.build_s",
    "plans.exec": "plans.exec_s",
    "store.upsert": "store.upsert_s",
    "store.append": "store.append_s",
    "store.read": "store.read_s",
    "journal.acquire": "journal.acquire_s",
    "journal.release": "journal.release_s",
    "ingest.run": "ingest.run_s",
    "ingest.gather": "ingest.gather_s",
    "ingest.metadata": "ingest.metadata_s",
    "ingest.facts": "ingest.facts_s",
    "api.health": "api.health_s",
    "api.sample": "api.sample_s",
    "llm.dedup": "llm.dedup_s",
    "llm.simsearch": "llm.simsearch_s",
}
STATUS = {
    # status-store counter → per-layer metric (per traced pass), scale
    "cpu_ns": ("operators.cpu_s", 1e-9),
    "gc_ms": ("operators.gc_s", 1e-3),
    "shuffle_write_bytes": ("operators.shuffle_write_bytes", 1),
    "spill_bytes": ("operators.spill_bytes", 1),
    "input_bytes": ("sources.input_bytes", 1),
    "input_records": ("sources.input_rows", 1),
    "jobs": ("spark.jobs", 1),
    "stages": ("spark.stages", 1),
    "tasks": ("spark.tasks", 1),
    "failed_tasks": ("spark.failed_tasks", 1),
}
STREAM = {
    "batches": "count",
    "input_rows": "count",
    "add_batch_ms": "ms",
    "query_planning_ms": "ms",
    "wal_commit_ms": "ms",
    "state_rows": "count",
    "state_bytes": "bytes",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "host.canary_s": "s",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    **{m: "s" for m in dict.fromkeys(LAYER_TIMES.values())},
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "plans.x_hash": "count",
    "plans.scans": "count",
    "plans.python_crossings": "count",
    "store.write_amp": "ratio",
    "store.bytes_per_row": "bytes",
    "store.files": "count",
    "journal.refused": "count",
    "ingest.pool_rows": "count",
    "llm.dedup_candidate_yield": "ratio",
    "llm.ann_recall": "ratio",
    **{f"stream.{k}": u for k, u in STREAM.items()},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, i.e. the 11th-slowest sample; None below 11."""
    s = sorted(samples, reverse=True)
    return (s[10], 100.0 * (1 - 10 / len(s))) if len(s) > 10 else None


def isolate(run_dir: str) -> None:
    """Start from a stated cache state: every temporary file the program
    or Spark writes goes under this run's own fresh directory, except
    the package zip (see ``package_zip``).  ``-XX:-UsePerfData`` keeps
    each JVM from writing its ``/tmp/hsperfdata_<user>`` file, which
    ignores ``java.io.tmpdir``; the driver heap is the program's own
    default."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        ),
    )
    tempfile.tempdir = None


def package_zip() -> str:
    """The zip ``session.ship_package`` writes for this process.  It
    reuses a zip of that name if one exists, so one left by an earlier
    process with the same pid is removed before the session starts and
    the program's own zip step runs, and is timed, in every run."""
    return os.path.join("/tmp", f"{PKG}-{os.getpid()}.zip")


def canary(spark) -> float:
    """A fixed pure-JVM job: tells a slow host window from a regression."""
    t0 = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    spark.range(0, 20_000_000, 1, cpus).selectExpr("id % 1024 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def run(args, run_dir: str) -> dict:
    wl = args.workload
    data = workloads.inputs(wl, args.seed, run_dir)

    layer: dict[str, float] = {}
    t_setup = time.perf_counter()
    from steam_data_pipeline_spark import session

    if wl == "daily_ingest":
        from steam_data_pipeline_spark import api  # noqa: F401
        from steam_data_pipeline_spark.streaming import ingest  # noqa: F401
    else:
        from steam_data_pipeline_spark.plans import registry  # noqa: F401
    layer["session.import_s"] = time.perf_counter() - t_setup
    if os.path.exists(package_zip()):
        os.remove(package_zip())
    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{wl}")
    layer["session.start_s"] = time.perf_counter() - t0
    try:
        return measure(args, spark, data, run_dir, layer, t_setup)
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - hung JVM: kill it
            proc.kill()
            proc.wait()


def measure(args, spark, data, run_dir, layer, t_setup) -> dict:
    wl = args.workload
    sc = spark.sparkContext
    t0 = time.perf_counter()
    sc.setLogLevel("ERROR")
    trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{wl}-seed{args.seed}.json")
    tracer = trace.Tracer(sc, trace_path if args.trace else None)
    status = trace.StatusStore(sc)
    listener = None
    canaries = []
    if args.trace:
        trace.install(tracer)
        tracer.capture = {"ingest.gather", "ingest.metadata", "ingest.facts"}
        if wl == "query_mix":
            listener = trace.stream_listener(spark)
        canaries.append(canary(spark))
    ops = workloads.make(wl, spark, args.seed, run_dir, data)
    excluded = time.perf_counter() - t0  # benchmark bookkeeping, not set-up

    t0 = time.perf_counter()
    failed_names = ops.warm_up(tracer)
    layer["session.warmup_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup - excluded

    # Timed passes, closed loop, at least MIN_PASSES: the metrics take
    # each op's median over the passes.  A traced run alternates
    # untraced and traced passes, starting and ending untraced, and the
    # tracer records only while a traced pass runs.
    samples: list[dict] = []
    passes: list[dict] = []
    t_loop = time.perf_counter()
    while True:
        pass_no = len(passes) + 1
        traced = bool(args.trace) and pass_no % 2 == 0
        tracer.active = traced
        p = {"no": pass_no, "traced": traced, "t0": time.perf_counter(), "op_s": 0.0}
        for name in ops.pass_ops(pass_no):
            j0 = tracer.next_job()
            t0 = time.perf_counter()
            err, res = None, {}
            try:
                with tracer.span("ingest.run" if wl == "daily_ingest" else "op", op=name):
                    res = ops.run(name, tracer)
            except Exception as e:  # noqa: BLE001 - a failing op is a result
                err = f"{type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t0
            samples.append({"op": name, "pass": pass_no, "s": dt, "j0": j0,
                            "j1": tracer.next_job(), "res": res, "err": err})
            p["op_s"] += dt
            if err is None:
                ops.after_op(res, tracer, traced)
            ops.cleanup()
        p["t1"] = time.perf_counter()
        passes.append(p)
        status.drain()
        for s in samples:
            if "jobs" not in s:
                s["jobs"] = status.jobs(s["j0"], s["j1"])
        if time.perf_counter() - t_loop >= args.seconds and pass_no >= MIN_PASSES and (
            not args.trace or (pass_no >= 3 and not traced)
        ):
            break
    tracer.active = False

    failed_names.update(ops.check())
    for s in samples:
        if s["err"] is None and s["op"] in failed_names:
            s["err"] = "wrong result"
    failed = sum(1 for s in samples if s["err"] is not None)

    print_report(wl, args, samples, passes, failed_names)
    print("  set-up: " + "  ".join(f"{k}={v:.3f}" for k, v in layer.items()) + f"  setup_s={setup_s:.3f}")
    if args.trace:
        canaries.append(canary(spark))
        layer["host.canary_s"] = statistics.mean(canaries)
        layer["peak_rss_mb"] = trace.peak_rss_mb()
        metrics = layer_metrics(ops, tracer, samples, passes, layer, listener)
        units = PER_LAYER
        tracer.write()
    else:
        metrics = e2e_metrics(ops, samples, setup_s)
        units = E2E
    return {
        "correct": failed == 0 and not failed_names,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def e2e_metrics(ops, samples, setup_s) -> dict:
    """The metrics of the run's median pass: each op's median time (and
    rows) over the passes, so one slow sample does not move a figure.
    Op latency is the geometric mean of those medians: every op weighs
    the same, whatever its length.  Throughput is closed loop, the ops
    (and rows) of the median pass over its summed op time."""
    by_op: dict[str, list[dict]] = {}
    for s in samples:
        if s["err"] is None:
            by_op.setdefault(s["op"], []).append(s)
    if not by_op:
        return {"setup_s": setup_s}
    times = [statistics.median(s["s"] for s in ss) for ss in by_op.values()]
    rows = [statistics.median(ops.rows(s) for s in ss) for ss in by_op.values()]
    return {
        "setup_s": setup_s,
        "op_geomean_s": statistics.geometric_mean(times),
        "ops_per_s": len(times) / sum(times),
        "rows_per_s": sum(rows) / sum(times),
    }


def layer_metrics(ops, tracer, samples, passes, layer, listener) -> dict:
    """Per-layer metrics, per traced pass.  Spans exist only for traced
    passes (the tracer records nothing while inactive)."""
    traced = [p for p in passes if p["traced"]]
    n = len(traced)
    # Each traced pass against the mean of the untraced passes on either
    # side of it, so the run's warm-up trend cancels.
    layer["trace.overhead_s"] = statistics.median(
        p["op_s"] - (passes[p["no"] - 2]["op_s"] + passes[p["no"]]["op_s"]) / 2 for p in traced
    )
    for name, secs in trace.self_times(tracer.spans).items():
        if name in LAYER_TIMES:
            key = LAYER_TIMES[name]
            layer[key] = layer.get(key, 0.0) + secs / n
    traced_samples = [s for s in samples if s["pass"] % 2 == 0]
    totals: Counter = Counter()
    for s in traced_samples:
        for c in s["jobs"].values():
            totals.update(c)
    totals["spill_bytes"] = totals["memory_spill_bytes"] + totals["disk_spill_bytes"]
    for key, (metric, scale) in STATUS.items():
        layer[metric] = totals[key] * scale / n
    audit = trace.load_plan_audit(ROOT)
    plans: Counter = Counter()
    for df in ops.plan_frames(tracer):
        plans.update(trace.plan_counts(df, audit))
    # registry frames are one pass; ingest frames are every traced day
    per_pass = n if isinstance(ops, workloads.IngestOps) else 1
    for k in ("x_hash", "scans", "python_crossings"):
        layer[f"plans.{k}"] = plans[k] / per_pass
    layer.update(ops.layer_metrics(traced_samples, n))
    if listener is not None:
        ev = [e for e in listener.events if any(p["t0"] <= e["t"] <= p["t1"] for p in traced)]
        layer["stream.batches"] = len(ev) / n
        for k in STREAM:
            if k != "batches":
                layer[f"stream.{k}"] = sum(e[k] for e in ev) / n
    return layer


def print_report(wl, args, samples, passes, failed_names) -> None:
    ok = [s for s in samples if s["err"] is None]
    print(f"workload={wl} seed={args.seed} trace={args.trace} passes={len(passes)} "
          f"ops={len(samples)} failed={len(samples) - len(ok)}")
    print("  pass op time: " + " ".join(f"{p['op_s']:.3f}{'T' if p['traced'] else ''}" for p in passes))
    if ok:
        print(f"median op: {statistics.median(s['s'] for s in ok):.4f} s of n={len(ok)}")
    t = tail([s["s"] for s in ok])
    print(f"tail: {t[0]:.4f} s at p{t[1]:.1f} of n={len(ok)}" if t
          else f"tail: n={len(ok)} samples, none with ten beyond it")
    by_op: dict[str, list[float]] = {}
    for s in ok:
        by_op.setdefault(s["op"], []).append(s["s"])
    for name, ts in sorted(by_op.items()):
        print(f"  {name:32s} median {statistics.median(ts):8.4f} s  n={len(ts)}")
    for name, why in failed_names.items():
        print(f"  FAILED {name}: {why}")
    for s in samples:
        if s["err"] and s["err"] != "wrong result":
            print(f"  ERROR {s['op']} pass {s['pass']}: {s['err']}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: {PKG}/ not found under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.exists(package_zip()):
            os.remove(package_zip())
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
