"""Traced-run instrumentation: span wrappers, Spark job attribution and
the event-log parser.

Spans are kept in memory. Each span knows its parent, its layer and the
benchmark op it ran under (``point#3``, ``pagerank#0``, ``setup``...).
Spans that can run Spark jobs publish ``"<op>|<span id>"`` as the Spark
local property ``perfbench.ctx``, so every job-start event in the event
log names the op and the innermost span it ran in.
Work the library hands to a ``ThreadPoolExecutor`` (the WAL writer, the
parallel checkpoint writes) inherits the submitter's context.

Only the benchmark process is patched; no library file changes.
"""

from __future__ import annotations

import concurrent.futures
import contextvars
import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time

_CTX = contextvars.ContextVar("perfbench_ctx", default=("", 0))  # (op tag, span id)
_QUEUED_AT = contextvars.ContextVar("perfbench_queued_at", default=None)
PROP = "perfbench.ctx"
LAYERS = ("remote", "graph", "storage", "pregel", "operators", "queries", "other")


def layer_of_file(path: str) -> str:
    """Layer of a library file, for jobs that ran outside any span."""
    p = path.replace("\\", "/")
    if "graph_db_spark/" not in p:
        return "other"
    rel = p.split("graph_db_spark/", 1)[1]
    for prefix, layer in (
        ("remote/", "remote"), ("graph.py", "graph"), ("storage.py", "storage"),
        ("pregel.py", "pregel"), ("operators/", "operators"), ("functions/", "operators"),
        ("queries/", "queries"), ("catalogue.py", "queries"),
    ):
        if rel.startswith(prefix):
            return layer
    return "other"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._mu = threading.Lock()
        self.counters: dict[tuple, float] = {}  # (name, op) -> value
        self._undo: list = []

    # -- context -------------------------------------------------------

    def _publish(self) -> None:
        op, sid = _CTX.get()
        self.sc.setLocalProperty(PROP, f"{op}|{sid}" if (op or sid) else None)

    def op(self, tag: str):
        """Context manager: run a benchmark op under *tag*."""
        tracer = self

        class _Op:
            def __enter__(self):
                self.tok = _CTX.set((tag, 0))
                tracer._publish()

            def __exit__(self, *exc):
                _CTX.reset(self.tok)
                tracer._publish()

        return _Op()

    def set_op(self, tag: str) -> None:
        """Switch the calling thread's op tag (server connection threads)."""
        _CTX.set((tag, 0))
        self._publish()

    def count(self, name: str, value: float = 1.0) -> None:
        key = (name, _CTX.get()[0])
        with self._mu:
            self.counters[key] = self.counters.get(key, 0.0) + value

    def span(self, name: str, layer: str, fn, publish: bool = True):
        """Run *fn()* inside a span; returns (result, span record)."""
        op, parent = _CTX.get()
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name, "layer": layer, "op": op,
               "t0": time.perf_counter(), "t1": None, "attrs": {}}
        queued = _QUEUED_AT.get()
        if queued is not None:
            rec["attrs"]["queued_s"] = rec["t0"] - queued
        with self._mu:
            self.spans[sid] = rec
        tok = _CTX.set((op, sid))
        if publish:
            self._publish()
        try:
            return fn(), rec
        finally:
            rec["t1"] = time.perf_counter()
            _CTX.reset(tok)
            if publish:
                self._publish()

    def cost_ms(self, n: int = 200) -> float:
        """Mean cost of one publishing span around a no-op, in ms."""
        t0 = time.perf_counter()
        for _ in range(n):
            self.span("trace.probe", "other", lambda: None)
        cost = (time.perf_counter() - t0) * 1e3 / n
        with self._mu:
            for sid in [k for k, r in self.spans.items() if r["name"] == "trace.probe"]:
                del self.spans[sid]
        return cost

    # -- patching --------------------------------------------------------

    def patch(self, owner, attr: str, make) -> bool:
        """Replace ``owner.attr`` by ``make(original)``; undone by
        ``uninstall``. Returns False (and patches nothing) when the
        attribute does not exist."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return False
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))
        return True

    def wrap(self, owner, attr: str, name: str, layer: str, publish: bool = True) -> bool:
        """Patch ``owner.attr`` so each call runs inside a span."""
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                return self.span(name, layer, lambda: orig(*args, **kwargs), publish)[0]
            return wrapper

        return self.patch(owner, attr, make)

    def install_executor_propagation(self) -> None:
        """Pool work runs in the submitter's context (op tag + span)."""
        tracer = self

        def make(orig_submit):
            def submit(pool, fn, /, *args, **kwargs):
                ctx = contextvars.copy_context()
                queued = time.perf_counter()

                def run():
                    _QUEUED_AT.set(queued)
                    tracer._publish()
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        _CTX.set(("", 0))
                        _QUEUED_AT.set(None)
                        tracer._publish()

                return orig_submit(pool, lambda: ctx.run(run))

            return submit

        self.patch(concurrent.futures.ThreadPoolExecutor, "submit", make)

    def install_dataframe_hooks(self) -> None:
        """Per op: Catalyst phase time of every collect/toLocalIterator;
        per span: its localCheckpoint calls (the loops' round count)."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self

        def make(orig):
            def action(df, *args, **kwargs):
                out = orig(df, *args, **kwargs)
                try:
                    phases = df._jdf.queryExecution().tracker().phases()
                    keys = [k for k in phases.keySet().mkString(",").split(",") if k]
                    tracer.count("plan_ms", sum(phases.apply(k).durationMs() for k in keys))
                except Exception:  # noqa: BLE001 — timing only, never fail the op
                    pass
                return out

            return action

        for attr in ("collect", "toLocalIterator"):
            self.patch(DataFrame, attr, make)

        def make_ckpt(orig):
            def local_checkpoint(df, *args, **kwargs):
                _op, sid = _CTX.get()
                if sid:
                    rec = self.spans.get(sid)
                    if rec is not None:
                        with self._mu:
                            rec["attrs"]["checkpoints"] = rec["attrs"].get("checkpoints", 0) + 1
                return orig(df, *args, **kwargs)

            return local_checkpoint

        self.patch(DataFrame, "localCheckpoint", make_ckpt)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- queries over the recorded spans -------------------------------

    def ancestors(self, sid: int):
        while sid:
            rec = self.spans.get(sid)
            if rec is None:
                return
            yield rec
            sid = rec["parent"]

    def find(self, name: str, ops=None) -> list[dict]:
        return [r for r in self.spans.values()
                if r["name"] == name and r["t1"] is not None and (ops is None or r["op"] in ops)]

    def checkpoints_under(self, root: dict) -> int:
        n = 0
        for rec in self.spans.values():
            if any(a["id"] == root["id"] for a in self.ancestors(rec["id"])):
                n += rec["attrs"].get("checkpoints", 0)
        return n


# -- event log ----------------------------------------------------------

_PY_NODES = ("Python", "Pandas", "Arrow")


def _plan_python_accums(plan: dict, out: set) -> None:
    name = plan.get("nodeName", "")
    if any(t in name for t in _PY_NODES):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []))
    for child in plan.get("children", []):
        _plan_python_accums(child, out)


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: ctx property, call site, duration and the
    summed task metrics of the stages that ran under it."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if not files:
        return []
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_run_ms: dict[int, float] = {}
    py_accums: set = set()
    py_stages: set = set()
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "ctx": props.get(PROP) or "", "call_site": props.get("callSite.short") or "",
                    "t0": ev["Submission Time"], "t1": None, "tasks": 0, "input_b": 0,
                    "shuffle_w": 0, "shuffle_r": 0, "spill_b": 0, "python_ms": 0.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                job = jobs.get(stage_job.get(sid, -1))
                m = ev.get("Task Metrics") or {}
                if job is None:
                    continue
                job["tasks"] += 1
                job["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                job["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                job["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                stage_run_ms[sid] = stage_run_ms.get(sid, 0.0) + m.get("Executor Run Time", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_python_accums(ev.get("sparkPlanInfo") or {}, py_accums)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                ids = {a.get("ID") for a in info.get("Accumulables", [])}
                if ids & py_accums:
                    py_stages.add(info["Stage ID"])
    for sid in py_stages:
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            job["python_ms"] += stage_run_ms.get(sid, 0.0)
    out = []
    for jid, job in sorted(jobs.items()):
        op, _, span = job["ctx"].partition("|")
        job["op"] = op
        job["span"] = int(span) if span.isdigit() else 0
        job["ms"] = (job["t1"] - job["t0"]) if job["t1"] is not None else 0
        out.append(job)
    return out


def job_layer(tracer: Tracer, job: dict) -> str:
    for rec in tracer.ancestors(job["span"]):
        if rec["layer"] in LAYERS:
            return rec["layer"]
    site = job["call_site"]
    return layer_of_file(site.rsplit(" at ", 1)[-1]) if site else "other"


def tail(values: list[float], beyond: int = 10) -> tuple[float, int]:
    """Highest whole percentile with at least *beyond* samples above it;
    the median when there are too few samples. Returns (value, pct)."""
    n = len(values)
    if n == 0:
        return 0.0, 0
    pct = max(50, (100 * (n - beyond)) // n) if n > beyond else 50
    s = sorted(values)
    idx = min(n - 1, max(0, -(-pct * n // 100) - 1))
    return s[idx], pct


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
