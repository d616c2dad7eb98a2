"""Benchmark entry point.

    python3 perfbench/run.py --workload oltp_mixed --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
under ``.perfbench_tmp/`` in the repository, starts Spark on
``local[<cpus>]``, runs the workload, checks its outputs, deletes its
files again and prints one JSON object as the last line of stdout.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the span wrappers of ``spans.py`` and reports the
per-layer metrics instead. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import datagen  # noqa: E402
import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

E2E = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_per_s": "1/s",
    "latency_ms_p50": "ms",
}
CLASSES = {
    "oltp_mixed": ["point", "scan", "write"],
    "graph_analytics": [c for c, _ in wl.ANALYTICS],
    "corpus_curation": [c for c, _ in wl.CORPUS],
}
ALL_CLASSES = [c for cs in CLASSES.values() for c in cs]
PREGEL = {"pagerank": "pagerank", "cc_star": "connected_components_star",
          "sssp": "shortest_paths", "kcore": "kcore"}
OPERATORS = {"training_corpus": "pipeline_training_corpus",
             "minhash_lsh": "dedup_minhash_lsh", "ivfpq_residual": "ann_ivfpq_residual_topk"}


def per_layer_names() -> dict:
    """Every per-layer metric -> unit, in BENCHMARK.json order."""
    names = {}
    for c in ALL_CLASSES:
        names[f"spark.jobs.{c}"] = "count"
    for layer in tr.LAYERS:
        names[f"spark.jobs_by_layer.{layer}"] = "count"
    names.update({
        "spark.job_ms_p50": "ms", "spark.tasks_per_op": "count",
        "spark.input_b_per_op": "B", "spark.shuffle_write_b_per_op": "B",
        "spark.shuffle_read_b_per_op": "B", "spark.spill_b_per_op": "B",
        "spark.plan_ms_per_op": "ms",
        "oltp.point_ms_p50": "ms", "oltp.scan_ms_p50": "ms", "oltp.write_ms_p50": "ms",
        "oltp.tx_ms_tail": "ms", "oltp.tx_per_s": "1/s", "oltp.recover_s": "s",
        "oltp.disk_bytes_per_user_byte": "ratio",
        "remote.roundtrips_per_tx.point": "count", "remote.roundtrips_per_tx.scan": "count",
        "remote.roundtrips_per_tx.write": "count", "remote.lock_wait_ms_tail": "ms",
        "remote.lock_wait_ms_per_tx": "ms", "remote.refs_per_scan": "count",
        "graph.commit_ms_p50": "ms", "graph.materialize_per_write": "count",
        "graph.materialize_ms_p50": "ms", "graph.get_stats_ms": "ms",
        "storage.wal_append_ms_p50": "ms", "storage.wal_queue_wait_ms": "ms",
        "storage.wal_batches_per_write": "count", "storage.wal_bytes_per_write": "B",
        "storage.checkpoint_ms": "ms", "storage.checkpoint_bytes": "B",
        "storage.replay_events": "count", "storage.load_jobs": "count",
        "analytics.pass_s": "s",
    })
    for algo in PREGEL:
        names[f"pregel.ms.{algo}"] = "ms"
        names[f"pregel.rounds.{algo}"] = "count"
        names[f"pregel.jobs_per_round.{algo}"] = "count"
        names[f"pregel.shuffle_b.{algo}"] = "B"
    for op in OPERATORS:
        names[f"operators.ms.{op}"] = "ms"
    names.update({
        "operators.python_ms": "ms", "operators.fit_ms": "ms",
        "operators.dup_pairs_out": "count", "corpus.docs_per_s": "1/s",
        "trace.spans_per_op": "count", "trace.overhead_ms_per_op": "ms",
    })
    return names


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Bench:
    """Per-run context handed to the workloads."""

    def __init__(self, args):
        self.seed, self.seconds, self.tracing = args.seed, args.seconds, bool(args.trace)
        self.tmp = os.path.join(REPO, ".perfbench_tmp", f"run-{os.getpid()}")
        self.data_dir = os.path.join(self.tmp, "data")
        self.failures: list[str] = []
        self.tracer = None
        self.spark = None
        self.client_tags: dict[int, str] = {}
        self.oracles: dict = {}
        self.span_cost_ms = 0.0
        self.cpus = len(os.sched_getaffinity(0))

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        self.log(f"FAIL {msg}")

    def compute_oracles(self, names) -> None:
        t0 = time.perf_counter()
        try:
            self.oracles = wl.oracles(self.data_dir, names)
        except Exception as exc:  # noqa: BLE001 — every check then fails
            self.fail(f"oracle: {type(exc).__name__}: {exc}")
        self.log(f"{len(self.oracles)} oracle outputs in {time.perf_counter() - t0:.2f}s")

    # -- Spark -----------------------------------------------------------

    def start_spark(self) -> float:
        """Isolate every Spark/JVM/Python scratch path under self.tmp."""
        for sub in ("local", "jvm", "py", "events", "snapshots"):
            os.makedirs(os.path.join(self.tmp, sub), exist_ok=True)
        os.environ.update({
            "SPARK_LOCAL_DIRS": os.path.join(self.tmp, "local"),
            "TMPDIR": os.path.join(self.tmp, "py"),
            "SPARK_GRAFT_SNAPSHOT_ROOT": os.path.join(self.tmp, "snapshots"),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            # spark-submit's launcher JVM, which the driver options do not reach
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={os.path.join(self.tmp, 'jvm')} "
                                   "-XX:-UsePerfData",
        })
        os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.tmp, 'jvm')} -XX:-UsePerfData",
        }
        if self.tracing:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.tmp, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from graph_db_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus, extra_conf=conf)
        return time.perf_counter() - t0

    def sentinel(self) -> float:
        """bench.py's 1-core no-IO probe of host contention (logged only)."""
        t0 = time.perf_counter()
        self.spark.range(0, 20_000_000, numPartitions=1).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        jvm = _vm_hwm_kb(proc.pid) if proc is not None else 0
        return (jvm + _vm_hwm_kb("self")) / 1024.0

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    # -- tracing hooks used by the workloads -----------------------------

    def op(self, tag: str):
        return self.tracer.op(tag) if self.tracer else contextlib.nullcontext()

    def client_op(self, client: int, tag: str):
        self.client_tags[client] = tag
        return self.op(tag)

    def traced(self, name: str, layer: str, fn):
        return self.tracer.span(name, layer, fn)[0] if self.tracer else fn()

    def install_tracing(self) -> None:
        import inspect

        from graph_db_spark import graph as G, pregel as PR, storage as ST
        from graph_db_spark.operators import dedup as DD, similarity as SIM, text as TX
        from graph_db_spark.remote import client as CL, server as SV

        t = self.tracer = tr.Tracer(self.spark)
        t.install_executor_propagation()
        t.install_dataframe_hooks()
        for name in ("read", "write"):
            t.wrap(CL.RemoteGraphSession, name, f"client.{name}", "client", publish=False)
        for name in ("get_root", "new_node", "get_value", "set_value", "get_targets", "walk",
                     "add_target", "remove_target", "remove", "get_stats"):
            t.wrap(CL.RemoteTx, name, f"client.{name}", "client", publish=False)

        def counting(orig):
            def request(session, *a, **kw):
                t.count("roundtrips")
                return orig(session, *a, **kw)
            return request

        t.patch(CL.RemoteGraphSession, "_request", counting)
        rw = getattr(SV, "_RWLock", None)
        if rw is not None:
            t.wrap(rw, "acquire_read", "lock.read", "lock", publish=False)
            t.wrap(rw, "acquire_write", "lock.write", "lock", publish=False)
        conns = {"n": 0}
        local = threading.local()

        def serve_conn(orig):
            def run(server, *a, **kw):
                local.client = conns["n"]
                conns["n"] += 1
                return orig(server, *a, **kw)
            return run

        def dispatch(orig):
            def run(server, conn, msg, state):
                if isinstance(msg, dict) and msg.get("t") == "start":
                    t.set_op(self.client_tags.get(getattr(local, "client", -1), ""))
                return t.span(f"server.{msg.get('op') or msg.get('t')}", "remote",
                              lambda: orig(server, conn, msg, state))[0]
            return run

        t.patch(SV.GraphServer, "_serve_conn", serve_conn)
        t.patch(SV.GraphServer, "_dispatch", dispatch)
        t.wrap(G.GraphSession, "commit", "graph.commit", "graph")
        t.wrap(G.GraphSnapshot, "materialize", "graph.materialize", "graph")
        t.wrap(G.GraphSnapshot, "get_stats", "graph.get_stats", "graph")
        for name in ("persist_events", "persist_events_async", "checkpoint", "load"):
            t.wrap(ST.EventLogStorage, name, f"storage.{name}", "storage")
        for module, layer in ((PR, "pregel"), (SIM, "operators"), (DD, "operators"),
                              (TX, "operators")):
            for name, fn in list(vars(module).items()):
                if inspect.isfunction(fn) and fn.__module__ == module.__name__ \
                        and not name.startswith("_"):
                    t.wrap(module, name, f"{layer}.{name}", layer)

    # -- results -----------------------------------------------------------

    def end_to_end(self, res: wl.Result, rss_mb: float) -> dict:
        by_cls: dict[str, list] = {}
        for o in res.ops:
            by_cls.setdefault(o.cls, []).append(o.ms)
        return {
            "setup_s": res.build_s + statistics.median(res.setup_s),
            "peak_rss_mb": rss_mb,
            "ops_per_s": len(res.ops) / max(res.wall_s, 1e-9),
            "latency_ms_p50": wl.geomean(statistics.median(v) for v in by_cls.values()),
        }

    def per_layer(self, workload: str, res: wl.Result, jobs: list) -> dict:
        t = self.tracer
        timed = {o.tag for o in res.ops}
        n_ops = max(1, len(res.ops))
        ops_of = {c: [o for o in res.ops if o.cls == c] for c in ALL_CLASSES}
        m = {name: 0.0 for name in per_layer_names()}
        tjobs = [j for j in jobs if j["op"] in timed]

        for c, ops in ops_of.items():
            if ops:
                tags = {o.tag for o in ops}
                m[f"spark.jobs.{c}"] = sum(1 for j in tjobs if j["op"] in tags) / len(ops)
        for j in tjobs:
            m[f"spark.jobs_by_layer.{tr.job_layer(t, j)}"] += 1.0 / n_ops
        m["spark.job_ms_p50"] = tr.median(j["ms"] for j in tjobs)
        for key, field in (("tasks_per_op", "tasks"), ("input_b_per_op", "input_b"),
                           ("shuffle_write_b_per_op", "shuffle_w"),
                           ("shuffle_read_b_per_op", "shuffle_r"), ("spill_b_per_op", "spill_b")):
            m[f"spark.{key}"] = sum(j[field] for j in tjobs) / n_ops
        m["spark.plan_ms_per_op"] = sum(v for (name, op), v in t.counters.items()
                                        if name == "plan_ms" and op in timed) / n_ops

        def span_ms(name, ops=timed):
            return [(r["t1"] - r["t0"]) * 1e3 for r in t.find(name, ops)]

        if workload == "oltp_mixed":
            for c in ("point", "scan", "write"):
                ops = ops_of[c]
                m[f"oltp.{c}_ms_p50"] = tr.median(o.ms for o in ops)
                tags = {o.tag for o in ops}
                trips = sum(v for (name, op), v in t.counters.items()
                            if name == "roundtrips" and op in tags)
                m[f"remote.roundtrips_per_tx.{c}"] = trips / max(1, len(ops))
            m["oltp.tx_ms_tail"], pct = tr.tail([o.ms for o in res.ops])
            self.log(f"oltp.tx_ms_tail is p{pct} of {len(res.ops)} tx")
            m["oltp.tx_per_s"] = len(res.ops) / max(res.wall_s, 1e-9)
            waits = span_ms("lock.read") + span_ms("lock.write")
            m["remote.lock_wait_ms_tail"], pct = tr.tail(waits)
            self.log(f"remote.lock_wait_ms_tail is p{pct} of {len(waits)} lock waits")
            m["remote.lock_wait_ms_per_tx"] = sum(waits) / n_ops
            writes = max(1, len(ops_of["write"]))
            m["graph.commit_ms_p50"] = tr.median(span_ms("graph.commit"))
            mat = span_ms("graph.materialize")
            m["graph.materialize_per_write"] = len(mat) / writes
            m["graph.materialize_ms_p50"] = tr.median(mat)
            appends = t.find("storage.persist_events", timed)
            m["storage.wal_append_ms_p50"] = tr.median((r["t1"] - r["t0"]) * 1e3 for r in appends)
            m["storage.wal_queue_wait_ms"] = tr.median(
                r["attrs"].get("queued_s", 0.0) * 1e3 for r in appends)
            m["storage.checkpoint_ms"] = tr.median(span_ms("storage.checkpoint", {"setup"}))
            m["storage.load_jobs"] = float(sum(1 for j in jobs if j["op"] == "recover"))
        if workload == "graph_analytics":
            m["graph.get_stats_ms"] = tr.median(span_ms("graph.get_stats"))
            m["analytics.pass_s"] = sum(tr.median(o.ms for o in ops_of[c])
                                        for c in CLASSES[workload]) / 1e3
            for algo, fn in PREGEL.items():
                roots = t.find(f"pregel.{fn}", {o.tag for o in ops_of[algo]})
                roots = [r for r in roots if not any(
                    a["name"].startswith("pregel.") for a in list(t.ancestors(r["id"]))[1:])]
                if not roots:
                    continue
                ids = {r["id"] for r in roots}
                inside = [j for j in tjobs if any(a["id"] in ids for a in t.ancestors(j["span"]))]
                rounds = sum(t.checkpoints_under(r) for r in roots)
                m[f"pregel.ms.{algo}"] = tr.median((r["t1"] - r["t0"]) * 1e3 for r in roots)
                m[f"pregel.rounds.{algo}"] = rounds / len(roots)
                m[f"pregel.jobs_per_round.{algo}"] = len(inside) / max(1, rounds)
                m[f"pregel.shuffle_b.{algo}"] = sum(j["shuffle_w"] for j in inside) / len(roots)
        if workload == "corpus_curation":
            for op, name in OPERATORS.items():
                m[f"operators.ms.{op}"] = tr.median(o.ms for o in ops_of[op])
            m["operators.python_ms"] = sum(j["python_ms"] for j in tjobs) / n_ops
            fits = [r for r in t.spans.values() if r["op"] in timed and r["t1"] is not None
                    and r["name"] in ("operators.kmeans_fit", "operators.pq_fit")
                    and not any(a["name"] in ("operators.kmeans_fit", "operators.pq_fit")
                                for a in list(t.ancestors(r["id"]))[1:])]
            m["operators.fit_ms"] = sum((r["t1"] - r["t0"]) * 1e3 for r in fits) / n_ops
        m["trace.spans_per_op"] = sum(1 for r in t.spans.values() if r["op"] in timed) / n_ops
        m["trace.overhead_ms_per_op"] = m["trace.spans_per_op"] * self.span_cost_ms
        for k, v in res.info.items():
            if k in m:
                m[k] = float(v)
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import graph_db_spark.queries  # noqa: F401 — fail fast (no output) without the program

    bench = Bench(args)
    os.makedirs(bench.tmp)
    cwd = os.getcwd()
    os.chdir(bench.tmp)  # Spark creates spark-warehouse/ in the working directory
    try:
        spec = wl.WORKLOADS[args.workload]
        rows = datagen.generate(bench.data_dir, bench.seed, wl.GRAPH_SF, wl.CORPUS_DOCS,
                                wl.CORPUS_VECS)
        bench.log(f"inputs (seed {bench.seed}): {rows}")
        # DuckDB computes the expected outputs while the JVM starts; the
        # workload's set-up only begins once it is done.
        checker = threading.Thread(target=bench.compute_oracles, args=(spec.oracles,))
        checker.start()
        try:
            spark_s = bench.start_spark()
        finally:
            checker.join()
        if bench.tracing:
            bench.install_tracing()
            bench.span_cost_ms = bench.tracer.cost_ms()
        bench.log(f"spark start {spark_s:.2f}s on local[{bench.cpus}]")
        res = spec.run(bench)
        for cls in CLASSES[args.workload]:
            ms = sorted(round(o.ms) for o in res.ops if o.cls == cls)
            bench.log(f"{cls}: {len(ms)} ops, ms {ms}")
        s1 = bench.sentinel()
        rss = bench.peak_rss_mb()
        bench.log(f"sentinel before timed ops {res.sentinel_s:.3f}s, after {s1:.3f}s; "
                  f"build {res.build_s:.2f}s, "
                  f"opens {[round(s, 2) for s in res.setup_s]}, "
                  f"{len(res.ops)} timed ops in {res.wall_s:.2f}s")
        bench.stop_spark()
        if bench.tracing:
            bench.tracer.uninstall()
            jobs = tr.parse_event_log(os.path.join(bench.tmp, "events"))
            units = per_layer_names()
            values = bench.per_layer(args.workload, res, jobs)
        else:
            units = E2E
            values = bench.end_to_end(res, rss)
    finally:
        bench.stop_spark()
        os.chdir(cwd)
        shutil.rmtree(bench.tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(bench.tmp))

    attempted = max(1, len(res.ops))
    failed = max(sum(not o.ok for o in res.ops), len(bench.failures))
    out = {
        "correct": not bench.failures,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
