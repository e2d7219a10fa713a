"""Observation from outside the program: spans, Spark status-store
counters, streaming progress, process memory and plan counters.

Spans are kept in memory and written once, when the run ends.  A span
records its name, start, end, parent and run id, plus the range of
Spark job ids submitted while it was open; the workload is one closed
loop on one thread, so that range is exactly the set of jobs the span
launched.  Each span also sets the Spark job group to its own id.
"""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import sys
import time
import uuid
from collections import Counter
from contextlib import contextmanager

PKG = "steam_data_pipeline_spark"

# (module, attribute, span name): the public calls into each layer;
# ``Class.method`` patches a method.
LAYER_CALLS = [
    ("sources.tables", "read_table", "sources.read_table"),
    ("sources.tables", "read_events_stream", "sources.read_events_stream"),
    ("operators.upsert", "ParquetTableStore.upsert", "store.upsert"),
    ("operators.upsert", "ParquetTableStore.append_timeseries", "store.append"),
    ("operators.upsert", "ParquetTableStore.read", "store.read"),
    ("operators.state", "FileRunJournal.acquire", "journal.acquire"),
    ("operators.state", "FileRunJournal.release", "journal.release"),
    ("streaming.ingest", "gather_candidates", "ingest.gather"),
    ("streaming.ingest", "build_metadata", "ingest.metadata"),
    ("streaming.ingest", "build_facts", "ingest.facts"),
    ("api", "health", "api.health"),
    ("api", "read_games_sample", "api.sample"),
    ("llm.dedup", "exact_dedup", "llm.dedup"),
    ("llm.simsearch", "brute_force_topk", "llm.simsearch"),
]


class Tracer:
    """In-memory span recorder.  ``active`` gates recording, so patched
    calls cost one attribute test while tracing is off."""

    def __init__(self, sc, out_path: str | None):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.out_path = out_path
        self.active = False
        self.spans: list[dict] = []
        self.capture: set[str] = set()  # span names whose DataFrame results are kept
        self.frames: list[tuple[str, object]] = []
        self._stack: list[dict] = []
        self._dag = sc._jsc.sc().dagScheduler()

    def next_job(self) -> int:
        return self._dag.numTotalJobs()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "job0": self.next_job(),
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{self.run_id}.{s['id']}", name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["job1"] = self.next_job()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}.{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self) -> None:
        if self.out_path:
            os.makedirs(os.path.dirname(self.out_path), exist_ok=True)
            with open(self.out_path, "w") as f:
                json.dump({"run": self.run_id, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> Counter:
    """Self time per span name: duration minus its direct children."""
    out: Counter = Counter()
    child_time: Counter = Counter()
    for s in spans:
        if s["parent"] is not None and "end" in s:
            child_time[s["parent"]] += s["end"] - s["start"]
    for s in spans:
        if "end" in s:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
    return out


def _wrap(fn, tracer: Tracer, name: str):
    def traced(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if name in tracer.capture:
            tracer.frames.append((name, out))
        return out

    traced.__wrapped__ = fn
    traced.__name__ = getattr(fn, "__name__", name)
    traced.__doc__ = fn.__doc__
    return traced


def install(tracer: Tracer) -> None:
    """Wrap every listed layer call wherever the program imported it by
    name (``from module import fn`` binds a second reference)."""
    pkg_modules = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
    for mod_name, attr, name in LAYER_CALLS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, _wrap(getattr(cls, meth), tracer, name))
        else:
            orig = getattr(mod, attr)
            wrapped = _wrap(orig, tracer, name)
            for m in pkg_modules:
                if getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)


# -- Spark status store -------------------------------------------------------

STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class StatusStore:
    """Per-job counters read from Spark's status store after the fact.

    Stages shared by several jobs (a reused shuffle shows as SKIPPED in
    the later job) are counted once, for the job that ran them."""

    def __init__(self, sc):
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._seen: set[int] = set()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def jobs(self, j0: int, j1: int) -> dict[int, Counter]:
        out: dict[int, Counter] = {}
        for j in range(j0, j1):
            c: Counter = Counter()
            try:
                sids = self._store.job(j).stageIds()
            except Exception:  # noqa: BLE001 - evicted or not yet recorded
                continue
            c["jobs"] = 1
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen.add(sid)
                c["stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    c[key] += getattr(sd, getter)()
            out[j] = c
        return out


# -- Structured Streaming progress ---------------------------------------------

def stream_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    (arrival time + the fields the stream.* metrics need)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            self.events.append(
                {
                    "t": time.perf_counter(),
                    "input_rows": p.numInputRows or 0,
                    "add_batch_ms": d.get("addBatch", 0),
                    "query_planning_ms": d.get("queryPlanning", 0),
                    "wal_commit_ms": d.get("walCommit", 0),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


# -- memory -------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(d))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    live descendant: the driver JVM and the Python worker daemon."""
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024.0


# -- plan counters ---------------------------------------------------------------

def plan_counts(df, audit) -> Counter:
    """Exact plan-shape counts of one DataFrame, with the counters of
    the repository's plan audit (``tools/plan_audit.py``)."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    c = Counter()
    c["x_hash"] = plan.count(audit.COUNTERS["x_hash"])
    c["python_crossings"] = (
        plan.count(audit.COUNTERS["arrow_py"])
        + plan.count(audit.COUNTERS["rowwise_py"])
        + sum(plan.count(p) for p in audit.PANDAS_OPS)
    )
    c["scans"] = sum(
        n for t, n in audit.table_scan_counts(df).items() if t != "__cached__"
    )
    return c


def load_plan_audit(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_plan_audit", os.path.join(root, "tools", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
