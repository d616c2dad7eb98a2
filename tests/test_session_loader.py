"""Regression tests for session.py: load_events and the capped
initial-partition width of iterative loops.

The round-3 outage: the driver fixture's parquet ``ts`` changed encoding
from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) (loads as TIMESTAMP_NTZ on
Spark 4.x), and the loader's unconditional ``cast("long")`` threw
DATATYPE_MISMATCH — killing 12 registry queries and every bench run while
pytest stayed green, because no test ever read the real fixture through
``load_events``. These tests pin both encodings against pyarrow-computed
ground truth so an environment or fixture bump fails loudly here.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _ground_truth_ns(path: str, n: int = 5):
    """Exact epoch-nanos of the first *n* events by event_id, via pyarrow
    (independent of Spark's parquet reader)."""
    t = pq.read_table(path, columns=["event_id", "ts"])
    ts = t.column("ts").cast(pa.timestamp("ns")).to_pylist()
    ids = t.column("event_id").to_pylist()
    rows = sorted(zip(ids, ts))[:n]
    return [(i, int(v.value if hasattr(v, "value") else v)) for i, v in rows] or [
        (i, v) for i, v in rows
    ]


def test_load_events_matches_pyarrow_ground_truth(spark):
    """load_events on the real driver fixture: ts_ns must equal the exact
    epoch-nanos pyarrow reads, whatever the parquet's physical encoding."""
    from graph_db_spark.session import load_events

    path = f"{SF_DIR}/events.parquet"
    if not os.path.exists(path):
        pytest.skip(f"driver fixture {path} not present")
    t = pq.read_table(path, columns=["event_id", "ts"])
    expect = {
        i: v.cast(pa.int64()).as_py()
        for i, v in zip(
            t.column("event_id").to_pylist()[:50],
            t.column("ts").cast(pa.timestamp("ns")).combine_chunks()[:50],
        )
    }
    df = load_events(spark, SF_DIR)
    assert dict(df.dtypes)["ts_ns"] == "bigint"
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {
        r["event_id"]: r["ts_ns"]
        for r in df.filter(df.event_id < 50).select("event_id", "ts_ns").collect()
    }
    common = set(expect) & set(got)
    assert len(common) > 0
    for k in common:
        assert got[k] == expect[k], f"event {k}: {got[k]} != {expect[k]}"


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_load_events_both_encodings(spark, tmp_path, unit):
    """Synthesized fixtures in each historical encoding load to identical
    ts_ns values (the ns fixture carries no sub-micro variance here so the
    two agree exactly; a real nanos fixture keeps full precision via the
    nanos-as-long path, asserted separately below)."""
    from graph_db_spark.session import load_events

    micros = [1704067798778549, 1704068166738090, 1704068217102229]
    ts = pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))
    if unit == "us":
        ts = ts.cast(pa.timestamp("us"))
    t = pa.table(
        {
            "event_id": pa.array([0, 1, 2], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([7, 7, 8], type=pa.int64()),
            "event_type": ["click", "click", "error"],
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": ["{}", "{}", "{}"],
        }
    )
    d = tmp_path / unit
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"), version="2.6", coerce_timestamps=None)
    df = load_events(spark, str(d))
    rows = sorted(df.select("event_id", "ts_ns").collect())
    assert [r["ts_ns"] for r in rows] == [m * 1000 for m in micros]


def test_load_events_nanos_keeps_submicro_precision(spark, tmp_path):
    """A genuine TIMESTAMP(NANOS) fixture keeps its sub-microsecond digits
    (the legacy nanos-as-long read is exact, not truncated)."""
    from graph_db_spark.session import load_events

    ns = [1704067798778549123, 1704068166738090456]
    t = pa.table(
        {
            "event_id": pa.array([0, 1], type=pa.int64()),
            "ts": pa.array(ns, type=pa.timestamp("ns")),
            "user_id": pa.array([1, 2], type=pa.int64()),
            "event_type": ["click", "error"],
            "value": pa.array([1.0, 2.0]),
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"), version="2.6", coerce_timestamps=None)
    df = load_events(spark, str(tmp_path))
    rows = sorted(df.select("event_id", "ts_ns").collect())
    assert [r["ts_ns"] for r in rows] == ns


def test_capped_initial_partitions_restores_under_overlap(spark):
    """Overlapping capped sections (a pregel call nested in another, or
    concurrent loops on one session) must hold the cap while any of them
    runs and restore the session value exactly once all have left. The
    interleaving A enters, B enters, A leaves, B leaves is the one a
    save/set/restore without a shared count gets wrong: B saves A's cap
    as "the session value", A's exit uncaps B mid-loop, and B's exit
    leaves the session capped for good."""
    import sys
    import threading

    from graph_db_spark.session import _INITIAL_PARTITIONS_KEY as KEY
    from graph_db_spark.session import capped_initial_partitions

    saved = spark.conf.get(KEY)
    spark.conf.set(KEY, "777")
    try:
        a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
        seen = {}

        def a():
            with capped_initial_partitions(spark, 3):
                a_in.set()
                b_in.wait(10)
                seen["a"] = spark.conf.get(KEY)
            a_out.set()

        def b():
            a_in.wait(10)
            with capped_initial_partitions(spark, 3):
                b_in.set()
                a_out.wait(10)
                seen["b"] = spark.conf.get(KEY)

        ts = [threading.Thread(target=f) for f in (a, b)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(30)
        assert not any(t.is_alive() for t in ts)
        assert seen == {"a": "3", "b": "3"}
        assert spark.conf.get(KEY) == "777"

        # stress: more threads than cores, nested sections, frequent
        # thread switches; the cap must hold throughout and be undone once
        errors = []

        def nested():
            for _ in range(10):
                with capped_initial_partitions(spark, 3):
                    with capped_initial_partitions(spark):
                        if spark.conf.get(KEY) != "3":
                            errors.append(spark.conf.get(KEY))

        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            ts = [threading.Thread(target=nested) for _ in range(2 * (os.cpu_count() or 2))]
            for t in ts:
                t.start()
            for t in ts:
                t.join(120)
        finally:
            sys.setswitchinterval(switch)
        assert not any(t.is_alive() for t in ts)
        assert not errors
        assert spark.conf.get(KEY) == "777"
    finally:
        spark.conf.set(KEY, saved)
