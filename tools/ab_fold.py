"""Interleaved A/B of the round-17 pregel round folding (guide §1.1).

Usage: python tools/ab_fold.py [--sf DIR] [--reps N] query [query ...]

Runs each query alternating ARM A (folded: _ROUND_FOLD=2) and ARM B
(unfolded: _ROUND_FOLD=1) inside ONE
Spark session, so host contention hits both arms symmetrically — the
only honest wall-clock comparison on this bursty sandbox. Emits one
JSON line with per-arm reps, mins, and a wide sentinel per pair.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_db_spark.session import get_spark  # noqa: E402
import graph_db_spark.pregel as pregel  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app_name="ab_fold")
    from graph_db_spark.queries import REGISTRY

    def sentinel_wide() -> float:
        t0 = time.time()
        spark.range(0, 640_000_000, numPartitions=32).selectExpr("sum(id)").collect()
        return round(time.time() - t0, 3)

    def set_arm(folded: bool) -> None:
        pregel._ROUND_FOLD = 2 if folded else 1

    # warmup: tiny-sf plan compile + target-sf table touch (bench protocol)
    for name in args.names:
        try:
            force(REGISTRY[name].build(spark, "/root/testdata/sf0.001"))
        except Exception:  # noqa: BLE001
            pass
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        try:
            force(spark.read.parquet(f"{args.sf}/{t}.parquet"))
        except Exception:  # noqa: BLE001
            pass
    for name in ("dedup_minhash_lsh",):
        try:
            force(REGISTRY[name].build(spark, args.sf))
        except Exception:  # noqa: BLE001
            pass

    st = spark.sparkContext.statusTracker()

    def run_counted(name: str, arm: str) -> tuple[float, int, int, int]:
        j0 = max(st.getJobIdsForGroup(None) or [-1])
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"{name}[{arm}]")
        force(REGISTRY[name].build(spark, args.sf))
        spark.sparkContext.setJobDescription(None)
        dt = round(time.time() - t0, 3)
        jobs = [j for j in st.getJobIdsForGroup(None) if j > j0]
        stages: set[int] = set()
        for j in jobs:
            ji = st.getJobInfo(j)
            if ji:
                stages.update(ji.stageIds)
        tasks = sum(
            si.numTasks for si in (st.getStageInfo(s) for s in stages) if si
        )
        return dt, len(jobs), len(stages), tasks

    out: dict[str, dict] = {}
    for name in args.names:
        arms: dict[str, list[float]] = {"folded": [], "unfolded": []}
        counts: dict[str, tuple] = {}
        wides: list[float] = [sentinel_wide()]
        for _ in range(args.reps):
            for arm, folded in (("folded", True), ("unfolded", False)):
                set_arm(folded)
                dt, nj, ns, nt = run_counted(name, arm)
                arms[arm].append(dt)
                counts[arm] = (nj, ns, nt)
            wides.append(sentinel_wide())
        set_arm(True)
        out[name] = {
            "folded_min": min(arms["folded"]),
            "unfolded_min": min(arms["unfolded"]),
            "folded": arms["folded"],
            "unfolded": arms["unfolded"],
            "folded_jobs_stages_tasks": counts["folded"],
            "unfolded_jobs_stages_tasks": counts["unfolded"],
            "wide_max": max(wides),
        }
        print(f"[ab] {name}: folded={min(arms['folded'])}{counts['folded']} "
              f"unfolded={min(arms['unfolded'])}{counts['unfolded']} "
              f"wide_max={max(wides)}", file=sys.stderr, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
