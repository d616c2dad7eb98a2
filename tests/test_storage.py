"""Storage/persistence tests mirroring the reference's StorageTests and the
restart-equivalence property (executables/InternalTests/StorageTests.hs,
executables/APITests.hs:52-68)."""

import os
import random
import shutil

import pytest

from graph_db_spark.catalogue import catalogue_schema
from graph_db_spark.graph import GraphSession, GraphSnapshot
from graph_db_spark.model import ROOT_ID
from graph_db_spark.storage import EventLogStorage, StorageLockedError


@pytest.fixture()
def store(spark, tmp_path):
    return EventLogStorage(spark, str(tmp_path / "store"), catalogue_schema())


def _fresh(spark, schema):
    return GraphSnapshot.empty(spark, schema)


def test_loads_empty(store):
    s = store.load(_fresh)
    assert s.read(lambda g: g.get_stats()).as_tuple() == (1, 0, 0)


def test_replay_across_runs(store, spark):
    """StorageTests.hs test_loads/test_loadsAfterMultipleRuns: state
    rebuilt from WAL alone (no checkpoint)."""
    s1 = store.load(_fresh)

    def prog(tx):
        a = tx.new_node("Artist", name="A B", uid=1)
        tx.add_target(ROOT_ID, a)
        return a

    a = s1.write(prog)
    s1.write(lambda tx: tx.set_value(a, "Artist", name="C D", uid=1))

    s2 = store.load(_fresh)  # second run: replay
    assert s2.read(lambda g: g.get_stats()).as_tuple() == s1.read(
        lambda g: g.get_stats()
    ).as_tuple()
    hits = s2.read(lambda g: g.get_targets(ROOT_ID, "Catalogue_Artist_SearchTerm", "C"))
    assert hits.count() == 1
    # id allocator resumes past replayed ids
    b = s2.write(lambda tx: tx.new_node("Artist", name="E", uid=2))
    assert b > a


def test_checkpoint_and_replay_suffix(store, spark):
    """StorageTests.hs test_checkpoint*: checkpoint-at-k + replay-suffix
    equals full fold."""
    s1 = store.load(_fresh)
    ids = []
    for i in range(3):
        ids.append(
            s1.write(
                lambda tx, i=i: (
                    lambda a: (tx.add_target(ROOT_ID, a), a)[1]
                )(tx.new_node("Artist", name=f"N{i}", uid=i))
            )
        )
    store.checkpoint(s1)
    s1.write(lambda tx: tx.remove(ids[0]))
    s1.write(
        lambda tx: (
            lambda g: (tx.add_target(ROOT_ID, g),)
        )(tx.new_node("Genre", name="G", uid=9))
    )

    s2 = store.load(_fresh)
    assert s2.read(lambda g: g.get_stats()).as_tuple() == s1.read(
        lambda g: g.get_stats()
    ).as_tuple()
    # checkpoint again: state-only load (no suffix)
    store.checkpoint(s2)
    s3 = store.load(_fresh)
    assert s3.read(lambda g: g.get_stats()).as_tuple() == s1.read(
        lambda g: g.get_stats()
    ).as_tuple()


def test_lock(store, spark, tmp_path):
    store.acquire()
    other = EventLogStorage(spark, str(tmp_path / "store"), catalogue_schema())
    with pytest.raises(StorageLockedError):
        other.acquire()
    store.release()
    other.acquire()
    other.release()


def test_archive_gc(store, spark):
    s = store.load(_fresh)
    s.write(lambda tx: tx.new_node("Artist", name="X", uid=1))
    store.checkpoint(s)
    s.write(lambda tx: tx.new_node("Artist", name="Y", uid=2))
    store.checkpoint(s)
    arch = os.path.join(store.path, "archive")
    assert os.path.isdir(arch) and len(os.listdir(arch)) >= 1
    store.clean_up()
    assert not os.path.exists(arch)


def test_restart_equivalence_random_updates(store, spark):
    """prop_shutdownDBRestoresToTheSameState (APITests.hs:52-68): a random
    weighted update sequence, then restart (checkpoint at a random prefix),
    then stats equality. Reduced iteration count — each write is a real
    Spark commit."""
    rng = random.Random(42)
    s1 = store.load(_fresh)
    artists: list[int] = []

    def insert(tx):
        a = tx.new_node("Artist", name=f"A{rng.randint(0, 99)} B{rng.randint(0, 9)}", uid=rng.randint(0, 10**6))
        tx.add_target(ROOT_ID, a)
        return a

    ops = []
    for _ in range(8):
        r = rng.random()
        if r < 0.6 or not artists:
            ops.append("insert")
        elif r < 0.8:
            ops.append("remove")
        else:
            ops.append("rename")

    ckpt_at = rng.randint(0, len(ops) - 1)
    for i, op in enumerate(ops):
        if op == "insert":
            artists.append(s1.write(insert))
        elif op == "remove":
            victim = artists.pop(rng.randrange(len(artists)))
            s1.write(lambda tx, v=victim: tx.remove(v))
        else:
            target = artists[rng.randrange(len(artists))]
            s1.write(lambda tx, t=target: tx.set_value(t, "Artist", name=f"R{rng.randint(0,99)}", uid=0))
        if i == ckpt_at:
            store.checkpoint(s1)

    s2 = store.load(_fresh)
    assert s2.read(lambda g: g.get_stats()).as_tuple() == s1.read(
        lambda g: g.get_stats()
    ).as_tuple()


def _two_checkpoints_and_a_suffix(store):
    """v1 and v2 both live (v1 restored from the archive), plus one WAL
    write after v2. Returns the stats the store must recover to."""
    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="a", uid=1)))
    store.checkpoint(s)  # v1
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="b", uid=2)))
    store.checkpoint(s)  # v2
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="c", uid=3)))
    store.flush()
    shutil.move(
        os.path.join(store.path, "archive", "checkpoint-1"),
        os.path.join(store.path, "checkpoints", "1"),
    )
    return s.read(lambda g: g.get_stats()).as_tuple()


def test_load_skips_unreadable_checkpoint(spark, tmp_path, caplog):
    """Storage.hs:121-131 / StorageTests.hs:55-60 test_loadsPastTenAttempts:
    load() scans newest-to-oldest and takes the first *readable* checkpoint,
    replaying every later generation's WAL suffix on top. Each fallback
    logs a WARNING naming the skipped version and the reason. Two partial
    publishes of v2 are injected, each in its own store: meta.json removed
    (FileNotFoundError) and meta.json truncated (JSONDecodeError, a
    ValueError)."""
    import logging

    def remove(meta):
        os.remove(meta)

    def truncate(meta):
        with open(meta) as f:
            text = f.read()
        with open(meta, "w") as f:
            f.write(text[: len(text) // 2])

    for fault, reason in ((remove, "FileNotFoundError"), (truncate, "JSONDecodeError")):
        store = EventLogStorage(spark, str(tmp_path / fault.__name__), catalogue_schema())
        want = _two_checkpoints_and_a_suffix(store)
        fault(os.path.join(store.path, "checkpoints", "2", "meta.json"))

        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="graph_db_spark.storage"):
            s2 = store.load(_fresh)
        assert s2.read(lambda g: g.get_stats()).as_tuple() == want, reason
        fallbacks = [
            r.getMessage() for r in caplog.records if "falling back" in r.getMessage()
        ]
        assert len(fallbacks) == 1, (reason, fallbacks)
        assert "checkpoint 2 " in fallbacks[0] and reason in fallbacks[0]
        # allocator state recovered from v1's meta + replayed suffix
        d = s2.write(lambda tx: tx.new_node("Artist", name="d", uid=4))
        assert d > 0


def test_load_raises_on_corrupt_table_file(store, spark, caplog, monkeypatch):
    """A fully published checkpoint (meta.json and every _SUCCESS marker
    present) whose table file is corrupt is not a partial publish: Spark's
    read error propagates from the newest version instead of recovery
    moving on to the older one, and no fallback is logged."""
    import logging

    _two_checkpoints_and_a_suffix(store)
    real = EventLogStorage._read_ckpt
    tried = []

    def traced(self, version):
        tried.append(version)
        return real(self, version)

    monkeypatch.setattr(EventLogStorage, "_read_ckpt", traced)
    vertices = os.path.join(store.path, "checkpoints", "2", "vertices")
    parts = [f for f in os.listdir(vertices) if f.endswith(".parquet")]
    assert parts
    for f in parts:
        with open(os.path.join(vertices, f), "wb") as out:
            out.write(b"not a parquet file" * 64)

    with caplog.at_level(logging.WARNING, logger="graph_db_spark.storage"):
        with pytest.raises(Exception):
            store.load(_fresh)
    assert tried == [2]
    assert not [r for r in caplog.records if "falling back" in r.getMessage()]


def test_load_raises_on_io_error_instead_of_falling_back(store, spark, monkeypatch):
    """An I/O error reading the newest checkpoint may be transient: load()
    raises it rather than recovering from an older version."""
    import errno

    _two_checkpoints_and_a_suffix(store)
    real = EventLogStorage._read_ckpt
    tried = []

    def flaky(self, version):
        tried.append(version)
        if version == 2:
            raise OSError(errno.EIO, "Input/output error")
        return real(self, version)

    monkeypatch.setattr(EventLogStorage, "_read_ckpt", flaky)
    with pytest.raises(OSError) as info:
        store.load(_fresh)
    assert info.value.errno == errno.EIO
    assert tried == [2]


def test_crash_between_commits(store, spark, tmp_path):
    """Kill-between-batches recovery (the property the reference stubbed,
    APITests.hs:70): a 'crash' = abandon the session without checkpoint or
    clean close; a fresh load must recover every committed write from the
    WAL alone, and a crash mid-checkpoint (leftover .tmp dir) must be
    invisible to recovery."""
    s1 = store.load(_fresh)
    s1.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="w1", uid=1)))
    store.checkpoint(s1)
    s1.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="w2", uid=2)))
    s1.write(lambda tx: tx.remove(2))
    store.flush()  # simulate: appends hit disk, then the process dies
    want = s1.read(lambda g: g.get_stats()).as_tuple()

    # a crash mid-checkpoint leaves a staging dir — must be ignored
    os.makedirs(os.path.join(store.path, "checkpoints", ".tmp-2", "vertices"))

    s2 = store.load(_fresh)
    assert s2.read(lambda g: g.get_stats()).as_tuple() == want
    # and the next checkpoint cleans the leftover staging dir
    v = store.checkpoint(s2)
    assert v == 2
    s3 = store.load(_fresh)
    assert s3.read(lambda g: g.get_stats()).as_tuple() == want


def test_schema_stamp_mismatch(store, spark, tmp_path):
    """Model-version handshake (GraphDB.hs:169-230): loading a store whose
    checkpoint was written under a different GraphSchema fails loudly."""
    from graph_db_spark.model import EdgeKind, GraphSchema, IndexSpec, VertexKind
    from graph_db_spark.storage import SchemaMismatchError

    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="x", uid=1)))
    store.checkpoint(s)
    store.flush()

    mutated = GraphSchema(
        vertex_kinds=(VertexKind("Root"), VertexKind("Other", ("name",))),
        edge_kinds=(EdgeKind("Root", "Other", (IndexSpec("Root_Other"),)),),
    )
    other = EventLogStorage(spark, store.path, mutated)
    with pytest.raises(SchemaMismatchError):
        other.load(_fresh)


def test_load_version_refuses_other_schema(store, spark):
    """Time travel checks the schema stamp like load(): a store reopened
    under another GraphSchema refuses load_version."""
    from graph_db_spark.model import EdgeKind, GraphSchema, IndexSpec, VertexKind
    from graph_db_spark.storage import SchemaMismatchError

    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="x", uid=1)))
    v = store.checkpoint(s)
    assert store.load_version(v).vertices.count() == 2

    mutated = GraphSchema(
        vertex_kinds=(VertexKind("Root"), VertexKind("Other", ("name",))),
        edge_kinds=(EdgeKind("Root", "Other", (IndexSpec("Root_Other"),)),),
    )
    other = EventLogStorage(spark, store.path, mutated)
    with pytest.raises(SchemaMismatchError):
        other.load_version(v)
    with pytest.raises(SchemaMismatchError):
        other.load_version(v, replay=False)


def test_generic_counter_store(spark, tmp_path):
    """FIXTURES.md §3 / StorageTests.hs:11-41: the toy counter state
    machine over the generic store — checkpoint-at-k + replay-suffix must
    equal the full fold."""
    from pyspark.sql import functions as F

    from graph_db_spark.storage import GenericEventStore

    schema = "seq LONG, op STRING, operand DOUBLE"
    store = GenericEventStore(spark, str(tmp_path / "ctr"), schema)
    empty = spark.createDataFrame([(0.0,)], "value DOUBLE")

    def apply_fn(state, events):
        # fold: Increase=+1, Decrease=-1, Multiply/Divide by operand.
        # Additive ops aggregate; multiplicative ops fold via log-sum
        # (all-positive operands in this fixture) — set-oriented, no loop.
        rows = events.orderBy("seq").collect()  # tiny fixture: driver fold is the spec
        v = state.collect()[0][0]
        for r in rows:
            if r["op"] == "Increase":
                v += 1
            elif r["op"] == "Decrease":
                v -= 1
            elif r["op"] == "Multiply":
                v *= r["operand"]
            elif r["op"] == "Divide":
                v /= r["operand"]
        return spark.createDataFrame([(float(v),)], "value DOUBLE")

    ev1 = spark.createDataFrame(
        [(1, "Increase", None), (2, "Increase", None), (3, "Multiply", 3.0)], schema
    )
    store.persist(ev1)
    s1 = store.load(empty, apply_fn)
    assert s1.collect()[0][0] == 6.0
    store.checkpoint(s1)
    ev2 = spark.createDataFrame([(4, "Divide", 2.0), (5, "Decrease", None)], schema)
    store.persist(ev2)
    s2 = store.load(empty, apply_fn)
    assert s2.collect()[0][0] == 2.0


def test_time_travel_versions(store, spark):
    """Snapshot-as-of-version: v1 state stays readable (from archive) after
    v2 checkpoints newer writes; replay=True folds in the generation's WAL
    suffix."""
    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSnapshot
    from graph_db_spark.model import ROOT_ID

    s = store.load(lambda sp, sc: GraphSnapshot.empty(sp, sc))
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="v1", uid=1)))
    v1 = store.checkpoint(s)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="post1", uid=2)))
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="post2", uid=3)))
    v2 = store.checkpoint(s)

    assert store.versions() == [v1, v2]
    at_v1 = store.load_version(v1, replay=False)
    assert at_v1.vertices.filter("kind = 'Artist'").count() == 1
    at_v1_replayed = store.load_version(v1, replay=True)
    assert at_v1_replayed.vertices.filter("kind = 'Artist'").count() == 3
    at_v2 = store.load_version(v2, replay=True)
    assert at_v2.vertices.filter("kind = 'Artist'").count() == 3


def test_compact_log(store, spark):
    """WAL compaction: many per-commit batch files merge into one; replay
    state and allocator counters are unchanged; a transient duplicate
    (crash between publish and removal) replays to the same state."""
    import shutil

    s = store.load(_fresh)
    for i in range(4):
        s.write(lambda tx, i=i: tx.add_target(ROOT_ID, tx.new_node("Artist", name=f"c{i}", uid=i)))
    store.flush()
    want = s.read(lambda g: g.get_stats()).as_tuple()
    d = store._log_dir(0)
    assert len(store._log_batches(0)) == 4

    assert store.compact_log() == 4
    assert len(store._log_batches(0)) == 1

    s2 = store.load(_fresh)
    assert s2.read(lambda g: g.get_stats()).as_tuple() == want
    nxt = s2.write(lambda tx: tx.new_node("Artist", name="after", uid=9))
    assert nxt > 4  # allocator resumed past replayed ids

    # crash window: compacted file + one superseded original coexist —
    # replay must be identical (duplicate events are a fixed point)
    batch = store._log_batches(0)[0]
    shutil.copytree(batch, os.path.join(d, "batch-999999999999.parquet"))
    s3 = store.load(_fresh)
    # s2's extra write appended an event; compare against s2's state
    assert s3.read(lambda g: g.get_stats()).as_tuple() == s2.read(lambda g: g.get_stats()).as_tuple()


def test_load_falls_back_to_archived_checkpoint(store, spark):
    """The realistic corruption case: normal operation leaves exactly ONE
    live checkpoint (older versions are archived); if it is unreadable,
    recovery must fall back to the newest readable ARCHIVED checkpoint
    and replay the archived + live log generations on top."""
    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="a", uid=1)))
    store.checkpoint(s)  # v1 → archived when v2 publishes
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="b", uid=2)))
    store.checkpoint(s)  # v2 (the only live version)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="c", uid=3)))
    store.flush()
    want = s.read(lambda g: g.get_stats()).as_tuple()

    os.remove(os.path.join(store.path, "checkpoints", "2", "meta.json"))

    s2 = store.load(_fresh)
    assert s2.read(lambda g: g.get_stats()).as_tuple() == want
    assert s2.write(lambda tx: tx.new_node("Artist", name="d", uid=4)) > 0


def test_load_raises_when_no_checkpoint_readable(store, spark):
    """If checkpoints were written but NONE (live or archived) is
    readable, load() must fail loudly — silently reseeding from
    empty_factory + a partial log suffix would fabricate a store missing
    committed data."""
    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="a", uid=1)))
    store.checkpoint(s)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="b", uid=2)))
    store.checkpoint(s)
    store.flush()

    os.remove(os.path.join(store.path, "checkpoints", "2", "meta.json"))
    os.remove(os.path.join(store.path, "archive", "checkpoint-1", "meta.json"))

    with pytest.raises(RuntimeError, match="no readable checkpoint"):
        store.load(_fresh)


def test_mistyped_payload_matches_join_path(store, spark):
    """A staged payload whose JSON type mismatches the column (uid as a
    string) must behave like the join path's from_json — null the field —
    on the driver-built emission fast path too, not crash createDataFrame."""
    s = store.load(_fresh)

    def prog(tx):
        n = tx.new_node("Artist", name="typed", uid="7")  # uid column is LONG
        tx.add_target(ROOT_ID, n)
        return n

    nid = s.write(prog)
    got = s.read(lambda g: g.get_value(nid))
    assert got["name"] == "typed" and got["uid"] is None


_CRASH_WRITER = r"""
import sys, json
sys.path.insert(0, {repo!r})
from graph_db_spark.session import get_spark
from graph_db_spark.catalogue import catalogue_schema
from graph_db_spark.graph import GraphSnapshot
from graph_db_spark.model import ROOT_ID
from graph_db_spark.storage import EventLogStorage

spark = get_spark(app_name="crash_writer", cpus="4", shuffle_partitions=4)
store = EventLogStorage(spark, {path!r}, catalogue_schema())
s = store.load(lambda sp, sc: GraphSnapshot.empty(sp, sc))
for i in range({n}):
    s.write(lambda tx: tx.add_target(
        ROOT_ID, tx.new_node("Artist", name="crash{{}}".format(i), uid=100 + i)))
    store.flush()  # commit i is durable once flushed
    print("COMMIT {{}}".format(i), flush=True)
print("DONE", flush=True)
"""


def test_crash_between_commits(store, spark, tmp_path):
    """The reference's stubbed crash-interruption property
    (executables/APITests.hs:70), for real: SIGKILL a writer process
    mid-run, then recover. The recovered state must be exactly the state
    after SOME prefix of the committed writes — every flushed commit
    survives, no partial commit is visible — and the store must accept
    new writes."""
    import signal
    import subprocess
    import time

    path = os.path.join(str(tmp_path), "store")
    script = _CRASH_WRITER.format(repo=os.path.dirname(os.path.dirname(__file__)), path=path, n=30)
    # keep the writer's stderr for post-mortem: a kill-timing-dependent
    # failure in the PARENT (load/recovery) is only diagnosable with the
    # subprocess's last Spark lines in hand.
    err_path = os.path.join(str(tmp_path), "crash_writer.stderr")
    with open(err_path, "w") as err_f:
        proc = subprocess.Popen(
            ["python", "-c", script], stdout=subprocess.PIPE, stderr=err_f, text=True
        )
        flushed = -1
        try:
            # read until a few commits are durable, then SIGKILL with a
            # short delay so the kill lands mid-commit often
            for line in proc.stdout:
                if line.startswith("COMMIT"):
                    flushed = int(line.split()[1])
                    if flushed >= 3:
                        time.sleep(0.37)  # land inside commit ~4/5's work
                        break
                if line.startswith("DONE"):  # writer outran us — valid run
                    break
            proc.send_signal(signal.SIGKILL)
        finally:
            proc.wait(timeout=60)
    assert flushed >= 3, "writer made no progress before the kill — fixture broken"

    crashed_store = EventLogStorage(spark, path, catalogue_schema())
    try:
        s2 = crashed_store.load(_fresh)
    except Exception as exc:
        tail = open(err_path).read()[-3000:]
        raise AssertionError(
            f"recovery load failed after SIGKILL at COMMIT {flushed}: {exc}\n"
            f"--- crash writer stderr tail ---\n{tail}"
        ) from exc
    nodes, edges, index = s2.read(lambda g: g.get_stats()).as_tuple()
    c = nodes - 1  # commits recovered: each adds exactly one Artist node
    assert c >= flushed + 1, f"flushed commit lost: recovered {c}, saw COMMIT {flushed}"
    assert c <= 30
    assert edges == c  # prefix consistency: one add_target edge per commit
    # the store keeps working after recovery
    def post_prog(tx):
        n = tx.new_node("Artist", name="post", uid=999)
        tx.add_target(ROOT_ID, n)
        return n

    nid = s2.write(post_prog)
    assert nid > 0
    s3 = crashed_store.load(_fresh)
    assert s3.read(lambda g: g.get_stats()).as_tuple()[0] == nodes + 1


def test_async_wal_backpressure(store):
    """The async-WAL pending queue is BOUNDED (the reference's
    PersistenceBuffering, Persistent.hs:62-69): with the single I/O worker
    stalled, the commit path blocks at wal_buffer in-flight appends instead
    of accumulating futures (each pinning an event list) without
    limit."""
    import threading
    import time

    gate = threading.Event()
    started = []

    def slow_persist(events):
        started.append(events[0]["seq"])
        assert gate.wait(timeout=30), "test gate never opened"

    store.persist_events = slow_persist  # stall the worker behind the gate
    store.wal_buffer = 2

    store.persist_events_async([{"seq": 1}])  # worker picks up, blocks
    store.persist_events_async([{"seq": 2}])  # queued; pending now == 2

    blocked_done = threading.Event()

    def third():
        store.persist_events_async([{"seq": 3}])
        blocked_done.set()

    t = threading.Thread(target=third, daemon=True)
    t.start()
    # At the cap the committer must be blocked, not enqueueing.
    assert not blocked_done.wait(timeout=1.0), "commit path did not block at wal_buffer"
    assert len(store._pending) <= 2

    gate.set()  # disk recovers: worker drains FIFO, slot frees, enqueue 3 lands
    assert blocked_done.wait(timeout=10), "commit path never unblocked after drain"
    store.flush()
    deadline = time.time() + 10
    while len(started) < 3 and time.time() < deadline:
        time.sleep(0.05)
    assert started == [1, 2, 3]  # FIFO order preserved through backpressure


_STREAM_CRASH_RUNNER = r"""
import os, signal, sys
sys.path.insert(0, {repo!r})
from graph_db_spark.session import get_spark
from graph_db_spark.catalogue import catalogue_schema
from graph_db_spark.streaming import stream_apply_wal_durable

spark = get_spark(app_name="stream_crasher", cpus="4", shuffle_partitions=4)

def boom(epoch):
    print("APPLIED {{}}".format(epoch), flush=True)
    if epoch >= 1:
        os.kill(os.getpid(), signal.SIGKILL)  # die mid-stream, after publish,
        # BEFORE Structured Streaming commits the epoch

q = stream_apply_wal_durable(
    spark, {wal!r}, {snaps!r}, catalogue_schema(), {ckpt!r},
    available_now=True, max_files_per_trigger=1, on_epoch_applied=boom,
)
q.awaitTermination(120)
print("DONE", flush=True)
"""


def test_stream_crash_recovery_equals_sequential_replay(spark, tmp_path):
    """Streaming edition of the crash-interruption property
    (APITests.hs:70): SIGKILL the durable WAL-stream applier mid-run —
    after an epoch's snapshot publish but BEFORE the stream commits the
    epoch — then restart from the same checkpoint + snapshot dirs. The
    re-delivered epoch must be skipped (no double apply), the remaining
    epochs applied, and the final snapshot must equal sequential batch
    replay of the whole WAL."""
    import signal
    import subprocess

    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.streaming import stream_apply_wal_durable
    from graph_db_spark.streaming.apply import _latest_epoch

    # -- write a WAL: 6 commits, one batch file each
    path = os.path.join(str(tmp_path), "store")
    st = EventLogStorage(spark, path, catalogue_schema())
    s = st.load(_fresh)
    for i in range(6):
        s.write(
            lambda tx, i=i: tx.add_target(
                ROOT_ID, tx.new_node("Artist", name=f"W{i}", uid=i)
            )
        )
    st.flush()
    expected = s.read(lambda g: g.get_stats()).as_tuple()

    wal = st._log_dir(0)
    snaps = os.path.join(str(tmp_path), "snaps")
    ckpt = os.path.join(str(tmp_path), "stream_ckpt")

    # -- crash run: separate process, killed inside foreachBatch at epoch 1
    script = _STREAM_CRASH_RUNNER.format(
        repo=os.path.dirname(os.path.dirname(__file__)), wal=wal, snaps=snaps, ckpt=ckpt
    )
    proc = subprocess.Popen(
        ["python", "-c", script], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
    )
    applied = []
    try:
        for line in proc.stdout:
            if line.startswith("APPLIED"):
                applied.append(int(line.split()[1]))
            if line.startswith("DONE"):
                break
    finally:
        proc.wait(timeout=120)
    assert proc.returncode == -signal.SIGKILL, "runner was supposed to die by SIGKILL"
    assert applied and max(applied) >= 1, "no epoch published before the kill"
    crash_epoch = _latest_epoch(snaps)
    assert crash_epoch >= 1  # the publish survived the kill
    # the killed runner's JVM child outlives its Python driver by a few
    # seconds (see test_crash_between_commits post-mortem) — let it die
    # before restarting against the same checkpoint dir
    import time

    time.sleep(4)

    # -- restart in-process from the same dirs; must finish the stream
    q = stream_apply_wal_durable(
        spark, wal, snaps, catalogue_schema(), ckpt,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    state = q._graphdb_state
    # the re-delivered epoch was skipped, later epochs applied
    assert state.last_published > crash_epoch
    assert state.snapshot.get_stats().as_tuple() == expected
    # and the published on-disk snapshot agrees (a THIRD process could load it)
    final = os.path.join(snaps, f"epoch-{state.last_published}")
    from graph_db_spark.graph import GraphSnapshot

    reloaded = GraphSnapshot(
        spark.read.parquet(os.path.join(final, "vertices")),
        spark.read.parquet(os.path.join(final, "edges")),
        spark.read.parquet(os.path.join(final, "edge_index")),
        catalogue_schema(),
    )
    assert reloaded.get_stats().as_tuple() == expected


def test_stream_durable_epochs_serve_bucketed_persisted_route(spark, tmp_path):
    """Incremental persisted-snapshot maintenance: commits stream through
    stream_apply_wal_durable with index_buckets>0, and the published
    epoch IS the steady-state serving store — load_published_snapshot
    re-attaches the src-bucket layout (hop joins read 'Bucketed: true',
    no build stage), stats equal sequential replay, and a restart against
    the same checkpoint+root continues epochs over later commits."""
    from pyspark.sql import functions as F

    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSnapshot
    from graph_db_spark.model import ROOT_ID
    from graph_db_spark.storage import EventLogStorage
    from graph_db_spark.streaming.apply import (
        load_published_snapshot,
        stream_apply_wal_durable,
    )

    store = EventLogStorage(spark, str(tmp_path / "store"), catalogue_schema())
    s = store.load(lambda sp, sc: GraphSnapshot.empty(sp, sc))
    for i in range(3):
        s.write(
            lambda tx, i=i: tx.add_target(
                ROOT_ID, tx.new_node("Artist", name=f"A{i}", uid=i)
            )
        )
    store.flush()

    snaps, ckpt = str(tmp_path / "snaps"), str(tmp_path / "ckpt")
    q = stream_apply_wal_durable(
        spark, store._log_dir(0), snaps, catalogue_schema(), ckpt,
        available_now=True, index_buckets=8,
    )
    q.awaitTermination(120)

    g = load_published_snapshot(spark, snaps, catalogue_schema())
    assert g.get_stats().as_tuple() == s.read(lambda gg: gg.get_stats()).as_tuple()

    # the served index carries the bucket layout: a frontier hop join
    # reads bucketed files with no exchange above the index scan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        frontier = g.vertices.select(F.col("id").alias("src")).limit(10**9)
        plan = (
            g.edge_index.join(frontier, "src")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange") <= 2, plan  # frontier side only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # a queryable traversal over the served snapshot
    assert g.get_targets(ROOT_ID, "Catalogue_Artist_Name", "A1").count() == 1

    # restart equivalence: later commits, same checkpoint + snapshot root
    for i in range(3, 5):
        s.write(
            lambda tx, i=i: tx.add_target(
                ROOT_ID, tx.new_node("Artist", name=f"A{i}", uid=i)
            )
        )
    store.flush()
    q2 = stream_apply_wal_durable(
        spark, store._log_dir(0), snaps, catalogue_schema(), ckpt,
        available_now=True, index_buckets=8,
    )
    q2.awaitTermination(120)
    g2 = load_published_snapshot(spark, snaps, catalogue_schema())
    assert g2.get_stats().as_tuple() == s.read(lambda gg: gg.get_stats()).as_tuple()
    assert g2.get_targets(ROOT_ID, "Catalogue_Artist_Name", "A4").count() == 1


def test_stream_epoch_retention_survives_id_gaps(tmp_path):
    """Retention must keep the newest keep_epochs PUBLISHED epochs even
    when epoch ids gap (skipped/empty batches): with epochs {2, 7} and
    keep_epochs=2, epoch 2 is the immediately-previous publish and a
    concurrent reader may hold lazy frames over it — the old arithmetic
    range sweep pruned it the moment 7 published (round-7 advisor
    finding)."""
    import os

    from graph_db_spark.streaming.apply import _prune_published_epochs

    root = str(tmp_path / "snaps")
    for e in (2, 7):
        os.makedirs(os.path.join(root, f"epoch-{e}"))
    _prune_published_epochs(root, keep_epochs=2)
    assert sorted(os.listdir(root)) == ["epoch-2", "epoch-7"]

    # a third publish (id 9) makes epoch 2 the second-previous: pruned
    os.makedirs(os.path.join(root, "epoch-9"))
    _prune_published_epochs(root, keep_epochs=2)
    assert sorted(os.listdir(root)) == ["epoch-7", "epoch-9"]

    # non-epoch entries (stream.json, .tmp staging) are never touched
    open(os.path.join(root, "stream.json"), "w").close()
    os.makedirs(os.path.join(root, ".tmp-11"))
    _prune_published_epochs(root, keep_epochs=1)
    assert sorted(os.listdir(root)) == [".tmp-11", "epoch-9", "stream.json"]


def test_stream_durable_pairing_guard_refuses_unverifiable_roots(spark, tmp_path):
    """The checkpoint/snapshot pairing guard's refusal paths: published
    epochs with a MISSING stream.json (deleted / hand-assembled root)
    and with a mismatched query id against a fresh checkpoint both fail
    loudly at start — never silently skip epochs against renumbered
    batches."""
    import json
    import os

    import pytest as _pytest

    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSnapshot
    from graph_db_spark.model import ROOT_ID
    from graph_db_spark.storage import EventLogStorage
    from graph_db_spark.streaming.apply import stream_apply_wal_durable

    store = EventLogStorage(spark, str(tmp_path / "store"), catalogue_schema())
    s = store.load(lambda sp, sc: GraphSnapshot.empty(sp, sc))
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="A", uid=1)))
    store.flush()

    snaps, ckpt = str(tmp_path / "snaps"), str(tmp_path / "ckpt")
    q = stream_apply_wal_durable(
        spark, store._log_dir(0), snaps, catalogue_schema(), ckpt, available_now=True
    )
    q.awaitTermination(120)
    pair = os.path.join(snaps, "stream.json")
    assert os.path.exists(pair)  # written BEFORE the first publish

    # (1) pairing record deleted: refuse, do not guess
    os.remove(pair)
    with _pytest.raises(ValueError, match="stream.json"):
        stream_apply_wal_durable(
            spark, store._log_dir(0), snaps, catalogue_schema(), ckpt,
            available_now=True,
        )

    # (2) record present but belongs to another query + fresh checkpoint:
    # epoch numbering would not line up
    with open(pair, "w") as f:
        json.dump({"query_id": "not-this-checkpoint"}, f)
    with _pytest.raises(ValueError, match="epoch numbering"):
        stream_apply_wal_durable(
            spark, store._log_dir(0), snaps, catalogue_schema(),
            str(tmp_path / "ckpt_fresh"), available_now=True,
        )


def test_release_ignores_foreign_lock(store, spark, tmp_path):
    """release()/close() must only remove a lock this INSTANCE owns: a
    failed acquire + finally-close must never delete the live owner's
    lock and re-open the store to a second writer. The second handle here
    lives in the SAME process — the case a pid-equality fallback would
    get wrong (round-8 advisor finding): pid matches, but the lock is the
    sibling's."""
    store.acquire()
    other = EventLogStorage(spark, store.path, catalogue_schema())
    with pytest.raises(StorageLockedError):
        other.acquire()
    other.release()  # the failed-acquire cleanup path (acquire_and_load+finally)
    assert os.path.exists(store._lock_path), "live owner's lock was deleted"
    # a foreign-PROCESS lock must be equally untouchable
    with open(store._lock_path, "w") as f:
        f.write("999999999:deadbeef")
    other.release()
    assert os.path.exists(store._lock_path), "foreign lock was deleted"
    # the original instance acquired it, but the file is no longer its
    # token (a force_unlock+reacquire could have happened): refuse too
    store.release()
    assert os.path.exists(store._lock_path), "token-mismatched lock was deleted"
    # explicit operator recovery is the only unconditional path
    other.force_unlock()
    assert not os.path.exists(store._lock_path)
    # normal lifecycle: acquire-then-release still removes our own lock
    other.acquire()
    other.release()
    assert not os.path.exists(store._lock_path)


def test_recovery_does_not_reissue_tx_id_zero(store, spark):
    """Crash before the first checkpoint with exactly one committed
    transaction (tx_id 0): the recovered session must allocate tx_id 1
    next — `(max_tx or -1) + 1` treated the legitimate 0 as NULL and
    re-issued tx_id 0, duplicating a durable transaction identity."""
    s1 = store.load(_fresh)
    s1.write(lambda tx: tx.new_node("Artist", name="A", uid=1))  # tx_id 0
    store.flush()
    # simulate crash: no checkpoint, re-load from WAL alone
    s2 = store.load(_fresh)
    assert s2._next_tx == 1
    events = spark.read.parquet(
        *[p for p in __import__("glob").glob(os.path.join(store.path, "log", "*", "batch-*"))]
    )
    assert events.select("tx_id").distinct().count() == 1
    s2.write(lambda tx: tx.new_node("Artist", name="B", uid=2))  # must be tx_id 1
    store.flush()
    events2 = spark.read.parquet(
        *[p for p in __import__("glob").glob(os.path.join(store.path, "log", "*", "batch-*"))]
    )
    txs = sorted(r.tx_id for r in events2.select("tx_id").distinct().collect())
    assert txs == [0, 1], txs


def test_stream_refuses_compaction_redelivery(spark, tmp_path):
    """compact_log run against a log a LIVE stream checkpoint already
    consumed publishes the same events under a NEW file name; the file
    source re-delivers them, and applying them onto a snapshot that
    already contains later events would regress it. The seq high-water
    tripwire must refuse the batch loudly instead."""
    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.streaming import stream_apply_wal_durable

    path = os.path.join(str(tmp_path), "store")
    st = EventLogStorage(spark, path, catalogue_schema())
    s = st.load(_fresh)
    for i in range(3):
        s.write(
            lambda tx, i=i: tx.add_target(
                ROOT_ID, tx.new_node("Artist", name=f"C{i}", uid=i)
            )
        )
    st.flush()
    wal = st._log_dir(0)
    snaps = os.path.join(str(tmp_path), "snaps")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    q = stream_apply_wal_durable(
        spark, wal, snaps, catalogue_schema(), ckpt, available_now=True
    )
    q.awaitTermination(120)
    applied = q._graphdb_state.max_seq
    assert applied is not None and applied > 0

    # compact while the stream's checkpoint is live: originals are
    # QUARANTINED (not rmtree'd), the combined file is a new path
    assert st.compact_log(0) == 3
    import glob as _g

    assert not _g.glob(os.path.join(wal, "batch-*[0-9].parquet")), "originals still visible"
    assert _g.glob(os.path.join(wal, ".compacted-*")), "quarantine dir missing"

    # restarting the stream re-delivers the compacted file -> refused
    q2 = stream_apply_wal_durable(
        spark, wal, snaps, catalogue_schema(), ckpt, available_now=True
    )
    with pytest.raises(Exception) as exc_info:
        q2.awaitTermination(120)
    assert "duplicate delivery" in str(exc_info.value)


# -- round-9/10 advisor-fix pinning tests ---------------------------------


def _plant_aside(gen_dir, seq=7):
    """Fabricate a COMMITTED .aside-* dir (what persist_events preserves
    when a seq-collision restore fails, storage.py persist_events): the
    guards key on the name prefix + _SUCCESS marker, not the contents."""
    aside = os.path.join(gen_dir, f".aside-{seq:012d}-deadbeef")
    os.makedirs(aside)
    open(os.path.join(aside, "_SUCCESS"), "w").close()
    return aside


def test_stranded_aside_refuses_recovery_and_survives_cleanup(store, spark, caplog):
    """A committed .aside-* in the ACTIVE log root must (a) make recovery
    raise instead of silently dropping the durable commit from replay,
    and (b) be surfaced-but-kept by clean_up (round-9 ADVICE fixes,
    previously probe-verified only)."""
    import logging

    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="A", uid=1)))
    store.flush()
    aside = _plant_aside(store._log_dir(0))

    other = EventLogStorage(spark, store.path, catalogue_schema())
    with pytest.raises(RuntimeError, match="stranded"):
        other.load(_fresh)

    with caplog.at_level(logging.WARNING, logger="graph_db_spark.storage"):
        store.clean_up()
    assert os.path.isdir(aside), "clean_up deleted a committed stranded aside"
    assert any("stranded" in r.message for r in caplog.records)

    # an UNcommitted aside (no _SUCCESS) is a dead staging dir: recovery
    # sweeps it and proceeds
    shutil.rmtree(aside)
    junk = os.path.join(store._log_dir(0), ".aside-000000000009-cafecafe")
    os.makedirs(junk)
    other.load(_fresh)
    assert not os.path.exists(junk)


def test_stranded_aside_in_archive_not_silently_swept(store, spark, caplog):
    """Round-10 ADVICE (medium): checkpoint's _archive_before moves whole
    generation dirs into archive/log-<gen>; a committed aside riding that
    move must stay visible to _stranded_asides (two-root scan), keep
    refusing recovery, and survive clean_up's archive sweep — previously
    it was archived out of both guards and then rmtree'd with the
    archive."""
    import logging

    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="X", uid=1)))
    store.checkpoint(s)  # version 1: gen 0 still active
    aside = _plant_aside(store._log_dir(0))
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="Y", uid=2)))
    store.checkpoint(s)  # version 2: gen 0 (< version-1) archived

    arch_aside = os.path.join(
        store.path, "archive", "log-0", os.path.basename(aside)
    )
    assert os.path.isdir(arch_aside), "fixture: aside did not ride the archive move"
    assert arch_aside in store._stranded_asides()

    other = EventLogStorage(spark, store.path, catalogue_schema())
    with pytest.raises(RuntimeError, match="stranded"):
        other.load(_fresh)

    with caplog.at_level(logging.WARNING, logger="graph_db_spark.storage"):
        store.clean_up()
    assert os.path.isdir(arch_aside), "clean_up rmtree'd the archived durable commit"
    # everything else in the archive (old checkpoint) IS swept
    assert sorted(os.listdir(os.path.join(store.path, "archive"))) == ["log-0"]
    assert any("stranded" in r.message for r in caplog.records)

    # operator resolves the aside -> clean_up now removes the archive fully
    shutil.rmtree(arch_aside)
    store.clean_up()
    assert not os.path.exists(os.path.join(store.path, "archive"))


def test_release_retries_after_transient_read_error(store, spark, monkeypatch):
    """Round-10 ADVICE (low): a transient OSError reading the lock token
    must not strand a legitimately-owned lock — _lock_held stays set so a
    later release() retries and succeeds."""
    import builtins

    store.acquire()
    real_open = builtins.open
    state = {"failed": False}

    def flaky_open(path, *a, **k):
        if str(path) == store._lock_path and not state["failed"]:
            state["failed"] = True
            raise PermissionError("transient EACCES")
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", flaky_open)
    store.release()  # transient failure: must neither remove nor disown
    assert state["failed"]
    assert store._lock_held is True
    assert os.path.exists(store._lock_path)
    store.release()  # retry succeeds
    assert store._lock_held is False
    assert not os.path.exists(store._lock_path)
    # second release after success is a no-op (flag cleared)
    store.release()


def test_norm_location_remote_schemes_cwd_independent(tmp_path):
    """Round-9/10 ADVICE: remote URIs compare textually (never cwd-joined
    via abspath), file:-scheme and plain paths collapse to one form — so
    the bucketed-index catalog ident is stable across processes with
    different cwds."""
    from graph_db_spark.storage import _norm_location

    assert _norm_location("hdfs://nn:8020/warehouse/idx/") == "hdfs://nn:8020/warehouse/idx"
    assert _norm_location("s3a://bucket/idx") == "s3a://bucket/idx"
    here = os.getcwd()
    try:
        os.chdir(str(tmp_path))
        a = _norm_location("s3a://bucket/idx")
        os.chdir("/")
        b = _norm_location("s3a://bucket/idx")
    finally:
        os.chdir(here)
    assert a == b == "s3a://bucket/idx"
    assert str(tmp_path) not in a
    assert _norm_location("file:///tmp/x/") == _norm_location("/tmp/x")


def test_stream_corrupt_epoch_meta_raises_missing_disarms(spark, tmp_path):
    """Round-9 ADVICE fix pinned: a published epoch whose meta.json EXISTS
    but does not parse must fail the restart loudly (corruption — resuming
    with a disarmed tripwire would turn duplicate delivery into a silent
    snapshot regression); a MISSING meta.json is a legacy epoch and still
    disarms (restart proceeds)."""
    import json as _json

    from graph_db_spark.streaming.apply import stream_apply_wal_durable

    store = EventLogStorage(spark, str(tmp_path / "store"), catalogue_schema())
    s = store.load(_fresh)
    s.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="A", uid=1)))
    store.flush()

    snaps, ckpt = str(tmp_path / "snaps"), str(tmp_path / "ckpt")
    q = stream_apply_wal_durable(
        spark, store._log_dir(0), snaps, catalogue_schema(), ckpt, available_now=True
    )
    q.awaitTermination(120)
    last = max(
        int(d.split("-")[1]) for d in os.listdir(snaps) if d.startswith("epoch-")
    )
    meta = os.path.join(snaps, f"epoch-{last}", "meta.json")
    assert os.path.exists(meta)
    with open(meta) as f:
        _json.load(f)  # fixture sanity: it parses today

    with open(meta, "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="meta.json"):
        stream_apply_wal_durable(
            spark, store._log_dir(0), snaps, catalogue_schema(), ckpt,
            available_now=True,
        )

    os.remove(meta)  # legacy (pre-meta) epoch: tripwire disarms, start OK
    q2 = stream_apply_wal_durable(
        spark, store._log_dir(0), snaps, catalogue_schema(), ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)


def _rows(snap):
    return (
        sorted(tuple(r) for r in snap.vertices.select("id", "kind", "name", "uid").collect()),
        sorted(tuple(r) for r in snap.edges.select("src", "dst").collect()),
        sorted(tuple(r) for r in snap.edge_index.select("src", "idx_tag", "idx_key", "dst").collect()),
    )


def test_wal_append_is_driver_side_and_replays(store, spark, tmp_path):
    """A commit's WAL append launches no Spark job: the staged event list
    is written by pyarrow as one part file plus _SUCCESS. The batches
    replay through load() and through the streaming WAL apply
    (stream_apply_wal_durable over store._log_dir) to the same snapshot
    as the live session."""
    import threading

    from graph_db_spark.streaming.apply import (
        load_published_snapshot,
        stream_apply_wal_durable,
    )

    tracker = spark.sparkContext.statusTracker()
    orig, jobs, gate = store.persist_events, [], threading.Semaphore(0)

    def counted(events):
        assert gate.acquire(timeout=60), "commit never released its append"
        before = max(tracker.getJobIdsForGroup(None) or [-1])
        orig(events)
        jobs.append(max(tracker.getJobIdsForGroup(None) or [-1]) - before)

    store.persist_events = counted
    s = store.load(_fresh)

    def commit(prog):
        out = s.write(prog)
        gate.release()  # the commit's own jobs are done: run its append
        store.flush()  # and start no other job until it has finished
        return out

    def first(tx):
        a = tx.new_node("Artist", name="Arrow One", uid=1)
        b = tx.new_node("Artist", name="Arrow Two", uid=2)
        tx.add_target(ROOT_ID, a)
        tx.add_target(ROOT_ID, b)
        return a, b

    a, b = commit(first)
    commit(lambda tx: tx.set_value(a, "Artist", name="Arrow Renamed", uid=1))
    commit(lambda tx: tx.remove_target(ROOT_ID, b))
    assert jobs == [0, 0, 0]

    batches = store._log_batches(0)
    assert len(batches) == 3
    for batch in batches:
        assert sorted(os.listdir(batch)) == ["_SUCCESS", "part-00000.parquet"]

    want = _rows(s.snapshot)
    assert _rows(EventLogStorage(spark, store.path, catalogue_schema()).load(_fresh).snapshot) == want

    snaps = str(tmp_path / "snaps")
    q = stream_apply_wal_durable(
        spark, store._log_dir(0), snaps, catalogue_schema(), str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert _rows(load_published_snapshot(spark, snaps, catalogue_schema())) == want
