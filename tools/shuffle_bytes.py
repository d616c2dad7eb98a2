"""Deterministic per-query shuffle/input metrics via the Spark event log.

Runs each named registry query once (noop sink) in a session with
spark.eventLog enabled, then parses the event log's SparkListenerTaskEnd
metrics accumulated between per-query markers. Wall time is contention-
noisy on this host; bytes are not — this is the before/after evidence
tool for shuffle-reduction changes (guide §2.3).

Usage: python tools/shuffle_bytes.py [--sf DIR] query [query ...]
Emits one JSON line: {name: {"shuffle_write": b, "shuffle_read": b,
"input": b, "tasks": n}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_db_spark.session import get_spark  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--unfolded",
        action="store_true",
        help="run with pregel round folding disabled (round-17 A/B arm)",
    )
    args = ap.parse_args()
    if args.unfolded:
        import graph_db_spark.pregel as pregel

        pregel._ROUND_FOLD = 1

    log_dir = tempfile.mkdtemp(prefix="gds_eventlog_")
    spark = get_spark(
        app_name="shuffle_bytes",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    from graph_db_spark.queries import REGISTRY

    # Warmup at tiny sf so fit-stage jobs and codegen caches are out of the
    # measured window's *structure* (bytes are structure-determined anyway).
    for name in args.names:
        try:
            force(REGISTRY[name].build(spark, "/root/testdata/sf0.001"))
        except Exception:  # noqa: BLE001
            pass

    # Job-id markers per query: record the job ids seen before/after.
    bounds: dict[str, tuple[int, int]] = {}
    tracker = spark.sparkContext.statusTracker()

    def max_job() -> int:
        ids = tracker.getJobIdsForGroup(None) or []
        return max(ids) if ids else -1

    for name in args.names:
        j0 = max_job()
        spark.sparkContext.setJobDescription(name)
        force(REGISTRY[name].build(spark, args.sf))
        spark.sparkContext.setJobDescription(None)
        bounds[name] = (j0, max_job())
        print(f"[jobs] {name}: ({j0}, {bounds[name][1]}]", file=sys.stderr, flush=True)

    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log

    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        cands = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        path = max(cands, key=os.path.getmtime)
    if os.path.isdir(path):  # Spark 4 rolling event-log dir (eventlog_v2_*)
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events")
        )
    else:
        files = [path]

    def lines():
        for fp in files:
            with open(fp) as f:
                yield from f

    # stage -> job mapping, then task metrics per stage.
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, dict[str, int]] = {}
    if True:
        for line in lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif et == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                tm = ev.get("Task Metrics") or {}
                sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                srm = tm.get("Shuffle Read Metrics") or {}
                sr = srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
                inp = (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                m = stage_metrics.setdefault(sid, {"sw": 0, "sr": 0, "in": 0, "n": 0})
                m["sw"] += sw
                m["sr"] += sr
                m["in"] += inp
                m["n"] += 1

    out: dict[str, dict[str, int]] = {}
    for name, (j0, j1) in bounds.items():
        tot = {"shuffle_write": 0, "shuffle_read": 0, "input": 0, "tasks": 0}
        for sid, m in stage_metrics.items():
            jid = stage_job.get(sid, -1)
            if j0 < jid <= j1:
                tot["shuffle_write"] += m["sw"]
                tot["shuffle_read"] += m["sr"]
                tot["input"] += m["in"]
                tot["tasks"] += m["n"]
        out[name] = tot
        print(f"[bytes] {name}: {tot}", file=sys.stderr, flush=True)
    print(json.dumps(out))
    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
