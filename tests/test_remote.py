"""Remote session layer tests — the analogue of the reference's
client/server suite (executables/APITests.hs drives the same catalogue
programs through a remote session; Server.hs:17-94, Client.hs:71-117).

The server runs in-process on a background thread (it owns the shared
SparkSession — the Spark-driver-hosts-the-server topology), clients talk
to it over real sockets, so the full wire protocol, handshake, ref
indirection, and rollback-on-disconnect paths are exercised.
"""

import threading
import time

import pytest

from graph_db_spark.catalogue import catalogue_schema
from graph_db_spark.graph import GraphSession, GraphSnapshot
from graph_db_spark.remote import (
    GraphServer,
    Incompatible,
    RemoteGraphSession,
    ServerIsBusy,
    Unauthenticated,
    UnreachableURL,
)

MODEL_V = 3


@pytest.fixture()
def server(spark, tmp_path):
    session = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))
    srv = GraphServer(
        session, model_version=MODEL_V, socket_path=str(tmp_path / "graph.sock")
    )
    with srv:
        yield srv


def _connect(srv, **kw):
    kw.setdefault("model_version", MODEL_V)
    return RemoteGraphSession(socket_path=srv.socket_path, **kw)


def _insert_artist(tx, name, uid):
    root = tx.get_root()
    a = tx.new_node("Artist", name=name, uid=uid)
    tx.add_target(root, a)
    return a


def test_remote_write_then_read_other_connection(server):
    """A write committed through one client is visible to a second client
    — the multi-process-access capability the library alone lacks."""
    with _connect(server) as db:
        db.write(lambda tx: _insert_artist(tx, "The Beatles", 1))
        db.write(lambda tx: _insert_artist(tx, "Metallica", 2))

    with _connect(server) as db2:
        def look(tx):
            root = tx.get_root()
            refs = tx.get_targets(root, "Catalogue_Artist_Name", "Metallica")
            return [tx.get_value(r) for r in refs]

        vals = db2.read(look)
        assert len(vals) == 1
        assert vals[0]["name"] == "Metallica"
        assert vals[0]["kind"] == "Artist"
        # marker index sees both inserts
        n = db2.read(lambda tx: len(tx.get_targets(tx.get_root(), "Catalogue_Artist")))
        assert n == 2


def test_remote_refs_are_transaction_scoped(server):
    """Node handles are per-transaction refs (Server.hs:22-26), not raw
    ids: the same node read in two transactions can get different refs,
    and each transaction's refs resolve correctly within it."""
    with _connect(server) as db:
        def prog(tx):
            a = _insert_artist(tx, "Apocalyptica", 4)
            # staged read inside the same write tx sees the dirty value
            assert tx.get_value(a)["name"] == "Apocalyptica"
            return a

        ref_in_tx1 = db.write(prog)
        assert isinstance(ref_in_tx1, int)

        def reread(tx):
            refs = tx.get_targets(tx.get_root(), "Catalogue_Artist_Name", "Apocalyptica")
            assert len(refs) == 1
            return tx.get_value(refs[0])["uid"]

        assert db.read(reread) == 4


def test_remote_mutations_and_stats(server):
    with _connect(server) as db:
        def prog(tx):
            a = _insert_artist(tx, "A", 1)
            b = _insert_artist(tx, "B", 2)
            tx.add_target(a, b)  # extra edge
            return a, b

        db.write(prog)
        nodes, edges, idx = db.read(lambda tx: tx.get_stats())
        assert nodes == 3  # root + 2 artists
        assert edges == 3  # root->A, root->B, A->B

        def drop_b(tx):
            refs = tx.get_targets(tx.get_root(), "Catalogue_Artist_Name", "B")
            tx.remove(refs[0])

        db.write(drop_b)
        nodes2, edges2, _ = db.read(lambda tx: tx.get_stats())
        assert nodes2 == 2
        assert edges2 == 1


def test_remote_write_op_rejected_in_read_tx(server):
    with _connect(server) as db:
        with pytest.raises(Exception, match="read transaction"):
            db.read(lambda tx: tx.new_node("Artist", name="X", uid=9))
    # connection was dropped for rollback; a new one still works
    with _connect(server) as db2:
        assert db2.read(lambda tx: tx.get_stats())[0] >= 1


def test_handshake_version_mismatch(server):
    with pytest.raises(Incompatible):
        _connect(server, model_version=MODEL_V + 1)


def test_unreachable_url(tmp_path):
    with pytest.raises(UnreachableURL):
        RemoteGraphSession(socket_path=str(tmp_path / "nope.sock"))


def test_tcp_auth_and_busy(spark):
    session = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))
    srv = GraphServer(
        session,
        model_version=MODEL_V,
        port=0,  # ephemeral
        authenticate=lambda cred: cred == "sesame",
        max_clients=1,
    )
    with srv:
        with pytest.raises(Unauthenticated):
            RemoteGraphSession(port=srv.port, credentials="wrong", model_version=MODEL_V)
        with RemoteGraphSession(
            port=srv.port, credentials="sesame", model_version=MODEL_V
        ) as ok:
            ok.write(lambda tx: _insert_artist(tx, "C", 3))
            with pytest.raises(ServerIsBusy):
                RemoteGraphSession(port=srv.port, credentials="sesame", model_version=MODEL_V)
        # capacity freed after disconnect — but the server reaps the
        # closed socket asynchronously, so with max_clients=1 an
        # immediate reconnect can race the slot release and bounce with
        # ServerIsBusy (round-15 verdict item 3: observed once under
        # full-suite load). Retry briefly; a real capacity leak still
        # fails after the deadline.
        deadline = time.time() + 10
        while True:
            try:
                again = RemoteGraphSession(
                    port=srv.port, credentials="sesame", model_version=MODEL_V
                )
                break
            except ServerIsBusy:
                if time.time() > deadline:
                    raise
                time.sleep(0.1)
        with again:
            assert again.read(lambda tx: tx.get_stats())[0] == 2


def test_disconnect_rolls_back_uncommitted_write(server):
    """A write tx abandoned mid-flight must not commit, and must release
    the write lock so later writers proceed."""
    c = _connect(server)
    c._request({"t": "start", "write": True})
    from graph_db_spark.remote.client import RemoteTx

    tx = RemoteTx(c, True)
    _insert_artist(tx, "Ghost", 99)
    c.close()  # vanish without Finish

    deadline = time.time() + 10
    with _connect(server) as db:
        db.write(lambda tx: _insert_artist(tx, "Real", 1))
        assert time.time() < deadline  # write lock was released promptly

        def look(tx):
            return len(tx.get_targets(tx.get_root(), "Catalogue_Artist"))

        assert db.read(look) == 1  # Ghost never committed


def test_concurrent_reads_overlap_write_waits(server):
    """Reads run concurrently; a write starts only after open reads
    finish (writer-preferring RWLock admission)."""
    with _connect(server) as db:
        db.write(lambda tx: _insert_artist(tx, "Seed", 1))

    order = []
    gate = threading.Event()
    read_started = threading.Event()

    def slow_read():
        with _connect(server) as db:
            def prog(tx):
                order.append("read_start")
                read_started.set()
                gate.wait(5)
                n = len(tx.get_targets(tx.get_root(), "Catalogue_Artist"))
                # the read's last step, before FINISH releases the lock:
                # after FINISH the writer may legitimately start before
                # the client has seen the reply
                order.append("read_end")
                return n

            db.read(prog)

    def writer():
        with _connect(server) as db:
            def prog(tx):
                order.append("write_start")
                _insert_artist(tx, "W", 2)

            db.write(prog)
            order.append("write_end")

    r = threading.Thread(target=slow_read)
    r.start()
    # wait for the read tx to actually open — a fixed sleep is flaky when
    # co-tenant load delays the first Spark job past it
    assert read_started.wait(30), "read tx never opened"
    w = threading.Thread(target=writer)
    w.start()
    time.sleep(0.3)
    assert "write_start" not in order  # writer blocked behind the open read
    gate.set()
    r.join(20)
    w.join(20)
    assert order.index("read_end") < order.index("write_start")


def test_remote_writes_persist_and_replay(spark, tmp_path):
    """The persistent remote topology (GraphDB.hs:118-131's persistent
    session + serve): commits arriving over the wire append to the WAL
    like local ones; a fresh storage load replays them — remote and
    local clients share one durability story."""
    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSnapshot
    from graph_db_spark.storage import EventLogStorage

    path = str(tmp_path / "db")
    store = EventLogStorage(spark, path, catalogue_schema())
    session = store.load(lambda sp, sc: GraphSnapshot.empty(sp, sc))
    srv = GraphServer(session, model_version=MODEL_V, socket_path=str(tmp_path / "g.sock"))
    with srv:
        with _connect(srv) as db:
            db.write(lambda tx: _insert_artist(tx, "Durable", 7))
            db.write(lambda tx: _insert_artist(tx, "AlsoDurable", 8))
        store.flush()

    store2 = EventLogStorage(spark, path, catalogue_schema())
    reloaded = store2.load(lambda sp, sc: GraphSnapshot.empty(sp, sc))
    names = sorted(
        r["name"]
        for r in reloaded.read(
            lambda s: s.get_values(s.get_targets(0, "Catalogue_Artist")).collect()
        )
    )
    assert names == ["AlsoDurable", "Durable"]


def test_remote_equivalent_to_local_session(spark, tmp_path):
    """Equivalence property: the same deterministic mixed-op program run
    through a local GraphSession and through the wire produces identical
    graphs (vertices, edges, and stats) — the remote layer adds transport,
    never semantics. Mirrors the reference's strategy of running one
    program through every session type (APITests.hs)."""
    import random

    def build_programs():
        rng = random.Random(7)
        progs = []
        for batch in range(4):
            def prog(tx, batch=batch, seed=rng.random()):
                r = random.Random(seed)
                root = tx.get_root()
                made = []
                for i in range(5):
                    a = tx.new_node(
                        "Artist", name=f"a{batch}_{i}", uid=batch * 10 + i
                    )
                    tx.add_target(root, a)
                    made.append(a)
                # mutate: re-add one (idempotent), drop one, relink one
                tx.add_target(root, made[0])
                tx.remove_target(root, made[3])
                tx.add_target(made[1], made[2])
                if batch == 2:
                    tx.set_value(made[4], "Artist", name="renamed", uid=999)
                return made

            progs.append(prog)
        return progs

    local = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))
    for p in build_programs():
        local.write(p)

    remote_session = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))
    srv = GraphServer(
        remote_session, model_version=MODEL_V, socket_path=str(tmp_path / "eq.sock")
    )
    with srv:
        with _connect(srv) as db:
            for p in build_programs():
                db.write(p)

    lv = sorted(
        (r["id"], r["kind"], r["name"], r["uid"])
        for r in local.snapshot.vertices.collect()
    )
    rv = sorted(
        (r["id"], r["kind"], r["name"], r["uid"])
        for r in remote_session.snapshot.vertices.collect()
    )
    assert lv == rv
    le = sorted((r["src"], r["dst"]) for r in local.snapshot.edges.collect())
    re_ = sorted((r["src"], r["dst"]) for r in remote_session.snapshot.edges.collect())
    assert le == re_
    assert local.snapshot.get_stats() == remote_session.snapshot.get_stats()


def test_get_targets_paginates_large_fanout(spark, tmp_path):
    """A hub node's fan-out streams back in chunks (NODE_LIST_CHUNK
    frames of chunk_size refs, cut from the one driver-side sorted
    collect) — no wire message carries the whole target list, and the
    client reassembles it in order."""
    session = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))

    # Build the hub locally in one set-oriented commit (100k remote
    # round-trips would test the wire, not the pagination).
    def fanout(tx):
        for i in range(100_000):
            a = tx.new_node("Artist", name="hub", uid=i)
            tx.add_target(0, a)

    session.write(fanout)
    srv = GraphServer(
        session,
        model_version=MODEL_V,
        socket_path=str(tmp_path / "hub.sock"),
        chunk_size=1_000,  # forces >= 100 chunk frames
    )
    with srv:
        with _connect(srv) as db:
            def look(tx):
                root = tx.get_root()
                return tx.get_targets(root, "Catalogue_Artist_Name", "hub")

            refs = db.read(look)
    assert len(refs) == 100_000
    assert refs == sorted(refs)  # deterministic server-side order


def test_read_tx_failure_keeps_connection(server):
    """An exception inside a READ transaction releases the server-side
    admission and keeps the connection usable (only write-tx failures
    drop the connection for rollback)."""
    with _connect(server) as db:
        db.write(lambda tx: _insert_artist(tx, "keepalive", 1))

        class Boom(RuntimeError):
            pass

        with pytest.raises(Boom):
            def bad(tx):
                tx.get_root()
                raise Boom("reader failed")
            db.read(bad)

        # same connection, next transaction works — and a writer can get
        # the lock (the failed read tx released its admission)
        def look(tx):
            return tx.get_targets(tx.get_root(), "Catalogue_Artist_Name", "keepalive")
        assert len(db.read(look)) == 1
        db.write(lambda tx: _insert_artist(tx, "after", 2))
        assert len(db.read(look)) == 1


def test_tcp_nonloopback_requires_auth(spark):
    """TCP on a non-loopback host without an authenticate callback is an
    unauthenticated write endpoint — the constructor refuses it."""
    session = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))
    with pytest.raises(ValueError, match="authenticate"):
        GraphServer(session, host="0.0.0.0", port=0)
    # loopback without auth stays allowed (local-only, like a unix socket)
    GraphServer(session, host="127.0.0.1", port=0)


def test_server_local_write_routes_through_lock(server):
    """server.write()/read() give the hosting process lock-correct local
    access; interleaved with remote transactions the final state is
    consistent."""
    server.write(lambda tx: _insert_artist(tx, "local", 10))
    with _connect(server) as db:
        db.write(lambda tx: _insert_artist(tx, "remote", 11))
    n = server.read(lambda snap: snap.get_stats().as_tuple())
    assert n[0] == 3  # root + 2 artists


def test_pipelined_client_equivalence_and_batching(server):
    """pipeline=N coalesces result-less write ops (add/remove/set) into
    in-flight batches with UNCHANGED wire frames (Client.hs:71-117 per-op
    protocol): the committed state must equal the per-op client's, the
    batching must actually engage, and a buffered op's ERROR must still
    abort the transaction at its drain point."""
    # per-op client: 30 artists, then unlink one
    with _connect(server) as db:
        def prog(tx):
            root = tx.get_root()
            refs = []
            for i in range(30):
                a = tx.new_node("Artist", name=f"P{i}", uid=i)
                tx.add_target(root, a)
                refs.append(a)
            tx.remove_target(root, refs[7])
            return None
        db.write(prog)
        baseline = db.read(lambda tx: tx.get_stats())
        assert db._batched_ops == 0  # pipeline=1 never buffers

    # pipelined client runs the IDENTICAL program on a fresh region of
    # the graph; the stats delta must match the per-op client's delta
    with _connect(server, pipeline=16) as db2:
        def prog2(tx):
            root = tx.get_root()
            refs = []
            for i in range(30):
                a = tx.new_node("Artist", name=f"Q{i}", uid=100 + i)
                tx.add_target(root, a)
                refs.append(a)
            tx.remove_target(root, refs[7])
            return None
        db2.write(prog2)
        after = db2.read(lambda tx: tx.get_stats())
        assert db2._batched_ops >= 31  # 30 add_target + 1 remove_target buffered
        # identical delta: +29 reachable nodes (one unlinked), +29 live edges
        assert after[0] - baseline[0] == 29
        assert after[1] - baseline[1] == 29

    # visible to a third, per-op connection (wire compatibility end-to-end)
    with _connect(server) as db3:
        def count_q(tx):
            root = tx.get_root()
            return len(tx.get_targets(root, "Catalogue_Artist_SearchTerm", "Q5"))
        assert db3.read(count_q) == 1

    # a buffered bad op aborts the tx at drain time, and the session
    # survives per the write-abort contract (connection dropped)
    with _connect(server, pipeline=16) as db4:
        def bad(tx):
            tx.add_target(10**9, 10**9 + 1)  # refs never handed out
            # force the drain inside the tx: a result-bearing op follows
            return tx.get_stats()
        with pytest.raises(Exception):
            db4.write(bad)

    # state unchanged by the aborted tx
    with _connect(server) as db5:
        assert db5.read(lambda tx: tx.get_stats()) == after


def test_walk_chains_server_side_single_round_trip(server):
    """WALK (protocol v3): a 3-hop traversal chain runs server-side in
    ONE request — same nodes as the per-hop client loop, which pays one
    round-trip per frontier node per hop."""
    with _connect(server) as db:
        def build(tx):
            root = tx.get_root()
            g = tx.new_node("Genre", name="rock", uid=1)
            tx.add_target(root, g)
            for i in range(3):
                s = tx.new_node("Song", name=f"s{i}", uid=10 + i)
                tx.add_target(g, s)
                for j in range(2):
                    a = tx.new_node("Artist", name=f"a{i}{j}", uid=100 + i * 2 + j)
                    tx.add_target(s, a)
        db.write(build)

    with _connect(server) as db2:
        ops = []
        orig = db2._request

        def counting(msg):
            if msg.get("t") == "action":
                ops.append(msg.get("op"))
            return orig(msg)

        db2._request = counting

        def via_walk(tx):
            refs = tx.walk(
                tx.get_root(),
                [("Catalogue_Genre_Name", "rock"), "Genre_Song", "Song_Artist"],
            )
            return sorted(tx.get_value(r)["name"] for r in refs)

        def via_hops(tx):
            names = set()
            for g in tx.get_targets(tx.get_root(), "Catalogue_Genre_Name", "rock"):
                for s in tx.get_targets(g, "Genre_Song"):
                    for a in tx.get_targets(s, "Song_Artist"):
                        names.add(tx.get_value(a)["name"])
            return sorted(names)

        expected = sorted(f"a{i}{j}" for i in range(3) for j in range(2))
        ops.clear()
        got_walk = db2.read(via_walk)
        walk_ops = list(ops)
        ops.clear()
        got_hops = db2.read(via_hops)
        hop_ops = list(ops)

        assert got_walk == got_hops == expected
        # the mechanism: one WALK replaces the whole get_targets cascade
        assert walk_ops.count("walk") == 1
        assert walk_ops.count("get_targets") == 0
        assert hop_ops.count("get_targets") == 1 + 1 + 3  # root hop + per-frontier hops

    # walk with zero steps is a protocol error, not a silent no-op
    with _connect(server) as db3:
        import pytest as _pytest

        from graph_db_spark.remote import protocol as P

        with _pytest.raises((P.CorruptRequest, RuntimeError)):
            db3.read(lambda tx: tx.walk(tx.get_root(), []))


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])


def test_walk_is_one_semi_join_plan_with_fan_in_deduped(spark, tmp_path):
    """A k-hop WALK reply is one lazy left-semi-join chain collected once:
    at most k Spark jobs per request on a served persistent store (no
    per-hop distinct shuffle, no reply-side sort jobs). Fan-in — one
    artist reached through several songs — comes back once, in
    ascending order."""
    from graph_db_spark.storage import EventLogStorage

    def build(tx):
        g = tx.new_node("Genre", name="fan-in", uid=1)
        tx.add_target(tx.get_root(), g)
        shared = tx.new_node("Artist", name="shared", uid=100)
        for i in range(3):
            s = tx.new_node("Song", name=f"f{i}", uid=10 + i)
            tx.add_target(g, s)
            tx.add_target(s, shared)
            tx.add_target(s, tx.new_node("Artist", name=f"own{i}", uid=101 + i))

    path = str(tmp_path / "store")
    built = EventLogStorage(spark, path, catalogue_schema())
    session = built.load(GraphSnapshot.empty)
    session.write(build)
    built.checkpoint(session)
    built.close()
    store = EventLogStorage(spark, path, catalogue_schema())
    srv = GraphServer(
        store.acquire_and_load(GraphSnapshot.empty),
        model_version=MODEL_V,
        socket_path=str(tmp_path / "walk.sock"),
    )
    steps = [("Catalogue_Genre_Name", "fan-in"), "Genre_Song", "Song_Artist"]
    with srv, _connect(srv) as db:
        names = db.read(lambda tx: [tx.get_value(r)["name"] for r in tx.walk(tx.get_root(), steps)])
        # the reply is id-sorted; node ids follow creation order here
        assert names == ["shared", "own0", "own1", "own2"]

        before = _last_job_id(spark)  # idle session: nothing else runs
        refs = db.read(lambda tx: tx.walk(tx.get_root(), steps))
        jobs = _last_job_id(spark) - before
        assert 1 <= jobs <= len(steps), jobs
        assert len(refs) == len(set(refs)) == 4
    store.close()
