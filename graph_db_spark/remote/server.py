"""GraphServer — host a live GraphSession for other processes.

Behavioral analogue of Server.hs:17-94 + GraphDB.hs:360-430's ``serve``:
the process that owns the SparkSession (the Spark driver) listens on a
unix socket (local, unauthenticated — GraphDB.hs:380-384) or a TCP port
with a credential check, handshakes protocol+model versions, then runs
each connection's transactions against the shared session. Write
transactions are exclusive, reads run concurrently (the reference's
fair RWLock, Nonpersistent.hs:51-56) — with writer preference so a
stream of readers cannot starve a waiting writer.

Node references handed to clients are per-transaction dense ints
(Server.hs:22-26's DIOVector): the server resolves them back to node
ids, so a client can only name nodes obtained inside its transaction.
"""

from __future__ import annotations

import os
import socket
import threading

from graph_db_spark.remote import protocol as P


class _RWLock:
    """Writer-preferring readers-writer lock: pending writers block new
    readers, matching the reference's fair RWLock admission behavior."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    def acquire_read(self):
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1

    def release_read(self):
        with self._cond:
            self._readers -= 1
            if self._readers == 0:
                self._cond.notify_all()

    def acquire_write(self):
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
            finally:
                self._writers_waiting -= 1
            self._writer = True

    def release_write(self):
        with self._cond:
            self._writer = False
            self._cond.notify_all()


class _TxState:
    """Per-connection transaction state: the staged tx (write) or the
    pinned snapshot (read), plus the ref vector."""

    def __init__(self, write: bool, tx, view):
        self.write = write
        self.tx = tx  # WriteTx when write else None
        self.view = view  # GraphSnapshot for reads / dirty reads
        self.refs: list[int] = []

    def new_ref(self, node_id: int) -> int:
        self.refs.append(node_id)
        return len(self.refs) - 1

    def resolve(self, ref) -> int:
        if not isinstance(ref, int) or not (0 <= ref < len(self.refs)):
            raise P.CorruptRequest(f"unknown node ref {ref!r}")
        return self.refs[ref]


class GraphServer:
    """Serve a GraphSession to remote clients.

    Listening mode is either *socket_path* (unix socket; no
    authentication, sockets are filesystem-local) or *port* (+ optional
    *authenticate* callback taking the handshake credentials). *timeout*
    bounds per-connection idle time — an idle or dead client holding the
    write lock is rolled back and disconnected, it cannot wedge the
    database. *model_version* is the compatibility token checked against
    the client's during handshake (GraphDB.hs:169-177).
    """

    def __init__(
        self,
        session,
        model_version: int = 0,
        socket_path: str | None = None,
        host: str = "127.0.0.1",
        port: int | None = None,
        authenticate=None,
        max_clients: int = 64,
        timeout: float = 600.0,
        chunk_size: int = 10_000,
    ):
        if (socket_path is None) == (port is None):
            raise ValueError("exactly one of socket_path / port required")
        if port is not None and authenticate is None and host not in (
            "127.0.0.1",
            "::1",
            "localhost",
        ):
            # The reference always checks credentials on network listeners;
            # a non-loopback TCP listener without an authenticate callback
            # would silently expose an unauthenticated write endpoint.
            raise ValueError(
                f"refusing to listen on {host!r} without an authenticate "
                "callback (loopback hosts are exempt; unix sockets are "
                "filesystem-local)"
            )
        self.session = session
        self.model_version = model_version
        self.socket_path = socket_path
        self.host = host
        self.port = port
        self.authenticate = authenticate
        self.max_clients = max_clients
        self.timeout = timeout
        self.chunk_size = max(1, int(chunk_size))
        self._lock = _RWLock()
        self._clients = 0
        self._clients_mu = threading.Lock()
        self._listener: socket.socket | None = None
        self._accept_thread: threading.Thread | None = None
        self._stopping = threading.Event()

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "GraphServer":
        if self.socket_path is not None:
            if os.path.exists(self.socket_path):
                os.unlink(self.socket_path)
            self._listener = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            self._listener.bind(self.socket_path)
        else:
            self._listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            self._listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            self._listener.bind((self.host, self.port))
            self.port = self._listener.getsockname()[1]  # resolve port 0
        self._listener.listen(16)
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()
        return self

    def stop(self) -> None:
        self._stopping.set()
        if self._listener is not None:
            try:
                self._listener.close()
            except OSError:
                pass
        if self.socket_path and os.path.exists(self.socket_path):
            try:
                os.unlink(self.socket_path)
            except OSError:
                pass

    def __enter__(self) -> "GraphServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- local access under the same admission -----------------------------
    # The hosting process must NOT mutate self.session directly while
    # serving: GraphSession.write()/begin()/commit() bypass the server's
    # RWLock and race remote write txs on the id/seq allocators and the
    # snapshot swap. Route local work through these instead — they take
    # the same admission as a remote transaction.

    def write(self, fn):
        """Run a local write program under the server's write lock."""
        self._lock.acquire_write()
        try:
            return self.session.write(fn)
        finally:
            self._lock.release_write()

    def read(self, fn):
        """Run a local read against one pinned snapshot under the
        server's read admission."""
        self._lock.acquire_read()
        try:
            return fn(self.session.snapshot)
        finally:
            self._lock.release_read()

    # -- connection handling -----------------------------------------------

    def _accept_loop(self) -> None:
        while not self._stopping.is_set():
            try:
                conn, _ = self._listener.accept()
            except OSError:
                return  # listener closed
            threading.Thread(target=self._serve_conn, args=(conn,), daemon=True).start()

    def _serve_conn(self, conn: socket.socket) -> None:
        with self._clients_mu:
            self._clients += 1
            n = self._clients
        slot_held = True

        def drop_slot() -> None:
            # Release the capacity slot EXACTLY once. Handshake rejections
            # call this BEFORE sending the rejection reply: otherwise a
            # rejected client's slot stays claimed until this thread's
            # finally runs, and a fast follow-up connect races it into a
            # spurious ServerIsBusy (observed under load).
            nonlocal slot_held
            if slot_held:
                slot_held = False
                with self._clients_mu:
                    self._clients -= 1

        state: _TxState | None = None
        try:
            conn.settimeout(self.timeout)
            reader = P.MessageReader(conn)
            if not self._handshake(conn, reader, n, drop_slot):
                return
            while True:
                try:
                    msg = reader.read()
                except P.CorruptRequest as exc:
                    P.send_msg(conn, {"t": P.ERROR, "code": "corrupt", "error": str(exc)})
                    return
                if msg is None:
                    return  # clean EOF: roll back any open tx in finally
                try:
                    state = self._dispatch(conn, msg, state)
                except P.CorruptRequest as exc:
                    P.send_msg(conn, {"t": P.ERROR, "code": "corrupt", "error": str(exc)})
                except Exception as exc:  # noqa: BLE001 — surface, don't kill conn
                    P.send_msg(conn, {"t": P.ERROR, "code": "op", "error": str(exc)[:500]})
        except (P.ConnectionFailure, OSError):
            pass  # client went away; rollback below
        finally:
            if state is not None:
                self._release(state)
            drop_slot()
            try:
                conn.close()
            except OSError:
                pass

    def _handshake(self, conn, reader: P.MessageReader, nth_client: int, drop_slot) -> bool:
        """*drop_slot* frees this connection's capacity slot; every
        rejection path calls it BEFORE replying so the slot is already
        free by the time the client reacts to the rejection."""
        msg = reader.read()
        if msg is None:
            return False
        if nth_client > self.max_clients:
            drop_slot()
            P.send_msg(conn, {"t": "handshake", "ok": False, "code": "busy"})
            return False
        if self.port is not None and self.authenticate is not None:
            if not self.authenticate(msg.get("credentials")):
                drop_slot()
                P.send_msg(conn, {"t": "handshake", "ok": False, "code": "unauthenticated"})
                return False
        if msg.get("protocol") != P.PROTOCOL_VERSION or msg.get("model") != self.model_version:
            drop_slot()
            P.send_msg(
                conn,
                {
                    "t": "handshake",
                    "ok": False,
                    "code": "incompatible",
                    "protocol": P.PROTOCOL_VERSION,
                    "model": self.model_version,
                },
            )
            return False
        P.send_msg(conn, {"t": "handshake", "ok": True})
        return True

    # -- transaction machinery ---------------------------------------------

    def _release(self, state: _TxState) -> None:
        if state.write:
            self._lock.release_write()
        else:
            self._lock.release_read()

    def _dispatch(self, conn, msg: dict, state: _TxState | None) -> _TxState | None:
        t = msg.get("t")
        if t == P.START:
            if state is not None:
                raise P.CorruptRequest("transaction already open")
            if msg.get("write"):
                self._lock.acquire_write()
                try:
                    state = _TxState(True, self.session.begin(), None)
                except Exception:
                    self._lock.release_write()
                    raise
            else:
                self._lock.acquire_read()
                # a snapshot is immutable — pinning it gives the whole read
                # tx one consistent view
                state = _TxState(False, None, self.session.snapshot)
            P.send_msg(conn, {"t": P.UNIT})
            return state
        if t == P.FINISH:
            if state is None:
                raise P.CorruptRequest("no open transaction")
            # the lock must be released on every path — a failed commit
            # must not wedge all future writers
            err = None
            try:
                if state.write:
                    self.session.commit(state.tx)
            except Exception as exc:  # noqa: BLE001
                err = str(exc)[:500]
            finally:
                self._release(state)
            if err is not None:
                P.send_msg(conn, {"t": P.ERROR, "code": "op", "error": err})
            else:
                P.send_msg(conn, {"t": P.UNIT})
            return None
        if t == P.ACTION:
            if state is None:
                raise P.CorruptRequest("no open transaction")
            self._action(conn, msg, state)
            return state
        raise P.CorruptRequest(f"unknown request {t!r}")

    def _stream_node_list(self, conn, st: _TxState, df) -> None:
        """Reply with the distinct ids of *df* in ascending order, in
        NODE_LIST_CHUNK frames of ``chunk_size`` refs then a terminal
        NODE_LIST: a hub node's fan-out never crosses the wire as one
        message. The ids are collected once and sorted on the driver: a
        global ``orderBy`` would add its range-partition sampling jobs
        to every reply. Driver memory is of the reply's order anyway
        (``st.refs`` keeps every returned id); the collect itself holds
        one row per matched index row of the last hop, repeats included
        (``GraphSnapshot.walk`` keeps fan-in duplicates)."""
        ids = sorted({r[0] for r in df.collect()})
        n = self.chunk_size
        full = len(ids) - len(ids) % n
        for i in range(0, full, n):
            P.send_msg(conn, {"t": P.NODE_LIST_CHUNK, "refs": [st.new_ref(x) for x in ids[i:i + n]]})
        P.send_msg(conn, {"t": P.NODE_LIST, "refs": [st.new_ref(x) for x in ids[full:]]})

    def _action(self, conn, msg: dict, st: _TxState) -> None:
        op = msg.get("op")
        if op in (P.NEW_NODE, P.SET_VALUE, P.ADD_TARGET, P.REMOVE_TARGET, P.REMOVE):
            if not st.write:
                raise P.CorruptRequest(f"{op} inside a read transaction")

        if op == P.NEW_NODE:
            node = st.tx.new_node(msg["kind"], **(msg.get("value") or {}))
            P.send_msg(conn, {"t": P.NODE, "ref": st.new_ref(node)})
        elif op == P.GET_VALUE:
            node = st.resolve(msg["ref"])
            v = (st.tx or st.view).get_value(node)
            P.send_msg(conn, {"t": P.VALUE, "value": v})
        elif op == P.SET_VALUE:
            st.tx.set_value(st.resolve(msg["ref"]), msg["kind"], **(msg.get("value") or {}))
            P.send_msg(conn, {"t": P.UNIT})
        elif op == P.GET_ROOT:
            root = (st.tx or st.view).get_root()
            P.send_msg(conn, {"t": P.NODE, "ref": st.new_ref(root)})
        elif op == P.GET_TARGETS:
            node = st.resolve(msg["ref"])
            df = (st.tx or st.view).walk(node, [(msg["idx_tag"], msg.get("idx_key"))])
            self._stream_node_list(conn, st, df)
        elif op == P.WALK:
            # Whole traversal chain server-side (SURVEY §3: ship the
            # program, not the frontiers): N hops cost ONE round-trip and
            # one lazy left-semi-join plan, collected once — intermediate
            # frontiers are never collected anywhere. Measured on a 3-hop
            # walk over a reloaded checkpoint store (perfbench oltp_mixed,
            # local[4]): 3 Spark jobs; no hop adds a distinct shuffle.
            steps = msg.get("steps") or []
            if not steps:
                raise P.CorruptRequest("walk requires at least one step")
            df = (st.tx or st.view).walk(
                st.resolve(msg["ref"]), [(s["idx_tag"], s.get("idx_key")) for s in steps]
            )
            self._stream_node_list(conn, st, df)
        elif op == P.ADD_TARGET:
            st.tx.add_target(st.resolve(msg["src"]), st.resolve(msg["dst"]))
            P.send_msg(conn, {"t": P.UNIT})
        elif op == P.REMOVE_TARGET:
            st.tx.remove_target(st.resolve(msg["src"]), st.resolve(msg["dst"]))
            P.send_msg(conn, {"t": P.UNIT})
        elif op == P.REMOVE:
            st.tx.remove(st.resolve(msg["ref"]))
            P.send_msg(conn, {"t": P.UNIT})
        elif op == P.GET_STATS:
            s = (st.tx or st.view).get_stats()
            P.send_msg(conn, {"t": P.STATS, "stats": list(s.as_tuple())})
        else:
            raise P.CorruptRequest(f"unknown action {op!r}")
