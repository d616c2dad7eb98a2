"""Persistence layer: event-log (WAL) + checkpoint + recovery.

Reference parity (library/GraphDB/Storage.hs, library/GraphDB/Persistent.hs):

- ``persist_events``  ↔ ``persistEvent`` (Storage.hs:154-159): append a
  committed event batch to the current log generation as parquet.
- ``checkpoint``      ↔ ``checkpoint`` (Storage.hs:171-207): write the
  snapshot tables under a new version directory, start a new log
  generation, archive superseded files.
- ``load``            ↔ ``load``/``replayEventsPastIndex``
  (Storage.hs:104-148): newest readable checkpoint + ordered replay of
  every later event batch.
- ``acquire``/``release`` ↔ the ``.lock`` file discipline
  (Storage.hs:209-245): single-writer (a Spark driver) per store.

Layout (versioned snapshot dirs replace the reference's numbered binary
files, Storage/Rules.hs:7-25):

    store/
      .lock
      checkpoints/<N>/vertices|edges|edge_index/   (parquet)
      log/gen=<N>/batch-<seq0>.parquet             (events past ckpt N)
      archive/...                                  (superseded, GC'd)

The WAL is replayed set-oriented (GraphSnapshot.apply_events) — one pass
per batch — and the log directory doubles as a Structured Streaming source
(graph_db_spark.streaming) because it is plain append-only parquet with a
total order (seq).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from graph_db_spark.graph import EVENT_SCHEMA, GraphSession, GraphSnapshot
from graph_db_spark.model import GraphSchema

_EVENT_ARROW_SCHEMA = to_arrow_schema(EVENT_SCHEMA)


class StorageLockedError(RuntimeError):
    pass


class SchemaMismatchError(RuntimeError):
    """Raised when a store's checkpoint was written under a different
    GraphSchema — the analogue of the reference's model-version handshake
    (GraphDB.hs:169-230): loading with a mutated schema fails loudly
    instead of silently mis-projecting payload columns."""


def schema_hash(schema: GraphSchema) -> str:
    """Deterministic fingerprint of the model: frozen-dataclass reprs are
    stable, so the md5 of the canonical repr identifies the closed set of
    vertex/edge kinds + index expressions."""
    return hashlib.md5(repr(schema).encode()).hexdigest()


def write_edge_index_bucketed(spark, df, path: str, n_buckets: int) -> int:
    """Write an edge_index bucketed by ``src`` (the traversal join key).

    Spark's bucket metadata normally lives in the catalog, so this
    routes through a throwaway external ``saveAsTable`` (bucket ids are
    also encoded in the file NAMES, which is what the reader keys on),
    then drops the catalog entry — external drop keeps the files, and
    the caller's atomic-rename publish stays intact. Returns the bucket
    count to record in the caller's metadata (0 = plain parquet
    fallback). Shared by checkpoint writes (EventLogStorage.checkpoint)
    and the streaming epoch sink (streaming.apply.stream_apply_wal_durable)."""
    if n_buckets <= 0:
        df.write.mode("errorifexists").parquet(path)
        return 0
    name = f"graphdb_ei_w_{uuid.uuid4().hex[:10]}"
    try:
        (
            df.repartition(n_buckets, "src")  # one file per bucket
            .write.mode("errorifexists")
            .format("parquet")  # never spark.sql.sources.default — the
            # reader table is declared USING PARQUET and vertices/edges
            # are explicit .parquet() writes
            .bucketBy(n_buckets, "src")
            .sortBy("src")
            .option("path", path)
            .saveAsTable(name)
        )
        return n_buckets
    except Exception as exc:
        # Only the catalog-unsupported case (AnalysisException: DDL /
        # saveAsTable not available in this session) downgrades to plain
        # parquet. A genuine WRITE failure — disk full, interrupted job,
        # executor loss — must surface to the caller, not be silently
        # retried as an unbucketed overwrite that masks the original
        # error (round-7 advisor finding).
        from pyspark.errors import AnalysisException

        if not isinstance(exc, AnalysisException):
            raise
        logging.getLogger(__name__).warning(
            "bucketed saveAsTable unavailable (%s); falling back to plain parquet at %s",
            exc,
            path,
        )
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df.write.mode("overwrite").parquet(path)
        return 0
    finally:
        try:
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        except Exception:  # noqa: BLE001
            pass


# Per-catalog-name locks serializing read_edge_index_bucketed's
# check/drop/create/table sequence. Spark's session catalog is shared by
# every thread of a session, so two concurrent loaders of one stable_key
# (the streaming epoch sink's _load_epoch vs a concurrent
# load_published_snapshot, or two checkpoint versions of one store) could
# otherwise re-point the shared entry between one loader's CREATE and its
# spark.table call — resolving the OTHER loader's path (round-7 advisor
# finding: an _epoch_snapshot whose edge_index comes from a different
# epoch than its vertices/edges). Cross-PROCESS loaders each own a
# separate session catalog, so an in-process lock closes the whole race.
_ei_catalog_guard = threading.Lock()
_ei_catalog_locks: dict[str, threading.Lock] = {}


def _ei_lock(name: str) -> threading.Lock:
    with _ei_catalog_guard:
        return _ei_catalog_locks.setdefault(name, threading.Lock())


_REMOTE_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _norm_location(p: str) -> str:
    """Normalize a catalog Location / local path for equality: strip the
    file: scheme, collapse duplicate leading slashes, drop trailing /.
    Non-file schemes (hdfs://, s3a://, ...) are compared TEXTUALLY after
    a trailing-slash strip — running them through os.path.abspath would
    join them onto the cwd and the equality check would mismatch on every
    load, dropping/recreating the catalog entry and permanently defeating
    the stable_key reuse (round-8 advisor finding)."""
    if _REMOTE_SCHEME.match(p) and not p.startswith("file:"):
        return p.rstrip("/")
    if p.startswith("file:"):
        p = p[len("file:") :]
    while p.startswith("//"):
        p = p[1:]
    return os.path.abspath(p).rstrip("/")


def _table_location(spark, name: str) -> str | None:
    """Catalog Location of table *name*; None when it does not exist.
    Probed with tableExists first: DESCRIBE on a missing table logs a
    JVM TABLE_OR_VIEW_NOT_FOUND error and stack trace on every call."""
    if not spark.catalog.tableExists(name):
        return None
    try:
        rows = spark.sql(f"DESCRIBE FORMATTED `{name}`").collect()
    except AnalysisException:  # dropped since the probe
        return None
    for row in rows:
        if (row.col_name or "").strip() == "Location":
            return (row.data_type or "").strip()
    return None


def read_edge_index_bucketed(spark, path: str, n_buckets: int, stable_key: str | None = None):
    """Read a published edge_index, re-attaching the bucket spec via an
    external CLUSTERED BY table over the files — a plain
    ``read.parquet`` would discard the layout and every post-reload
    traversal join would re-shuffle the index side.

    *stable_key*: identity to key the catalog entry on INSTEAD of the
    path, for callers that read a SUCCESSION of paths under one root
    (the streaming epoch store, checkpoint versions). The entry is
    re-pointed at the new path only when its recorded Location differs,
    so a long-running sink holds ONE catalog table per store instead of
    leaking one per epoch. Safe for already-loaded readers:
    ``spark.table`` analyzes eagerly, so a previously returned DataFrame
    keeps its resolved file index and never re-consults the (re-pointed)
    catalog entry. The whole check/drop/create/table sequence runs under
    a per-entry lock (``_ei_lock``) so concurrent loaders sharing a
    stable_key but targeting different paths serialize instead of
    resolving each other's path — the reference's analogous guarantee is
    the lock-guarded load (Storage.hs:57-102)."""
    if not n_buckets:
        return spark.read.parquet(path)
    from graph_db_spark.graph import edge_index_schema

    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in edge_index_schema().fields
    )
    # Key the catalog name on (identity, bucket count, column set), not
    # path alone: a long-lived session that re-creates a store at the
    # same path with a different bucket count would otherwise hit the
    # IF NOT EXISTS no-op and read a stale spec — Spark trusts the
    # catalog's bucket count and elides the exchange, silently
    # mis-joining (round-5 review finding). The identity component goes
    # through _norm_location, not os.path.abspath: abspath on a remote
    # URI ("s3a://bucket/…") joins it onto the cwd, so two processes with
    # different cwds would derive different idents for the SAME remote
    # index and each leak its own catalog entry (round-9 advisor finding).
    ident = f"{_norm_location(stable_key or path)}|{n_buckets}|{cols}"
    name = "graphdb_ei_r_" + hashlib.md5(ident.encode()).hexdigest()[:12]
    ddl = (
        f"CREATE TABLE IF NOT EXISTS `{name}` ({cols}) USING PARQUET "
        f"CLUSTERED BY (src) SORTED BY (src) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    try:
        with _ei_lock(name):
            # Reuse the entry only when it already points at the
            # requested path; recreate on mismatch (stable_key re-point)
            # or absence. Holding the lock through spark.table means the
            # resolved frame always matches the requested path.
            loc = _table_location(spark, name)
            if loc is None or _norm_location(loc) != _norm_location(path):
                spark.sql(f"DROP TABLE IF EXISTS `{name}`")
                spark.sql(ddl)
            return spark.table(name)
    except AnalysisException as exc:  # catalog DDL unavailable in this session
        logging.getLogger(__name__).warning(
            "bucketed catalog read unavailable (%s); reading %s unbucketed — "
            "traversal joins lose bucket pruning",
            exc,
            path,
        )
        return spark.read.parquet(path)


class EventLogStorage:
    """Directory-backed WAL + checkpoint store (single writer)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: GraphSchema,
        wal_buffer: int = 100,
        index_buckets: int = 32,
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)
        os.makedirs(self._ckpt_root, exist_ok=True)
        os.makedirs(self._log_root, exist_ok=True)
        # Buffered persistence (Persistent.hs:62-69 / Util/IOQueue.hs:20-48):
        # WAL appends run on a single-worker executor so the commit path
        # returns without waiting on log I/O; order is preserved by the
        # single worker, and checkpoint/load barrier on flush().
        # *wal_buffer* bounds the in-flight queue (the reference's
        # PersistenceBuffering value, default 100 per CompetitionBench):
        # a stalled disk blocks the committer at the cap instead of letting
        # pending appends — each pinning its event list — grow without
        # backpressure.
        self._wal_pool: ThreadPoolExecutor | None = None
        self._pending: list = []
        self.wal_buffer = max(1, int(wal_buffer))
        # Bucket count for the persisted edge_index (0 disables). Traversals
        # join edge_index on ``src``; writing the checkpoint bucketed by src
        # means a RELOADED store's traversal joins read pre-partitioned
        # buckets — no exchange on the (huge) index side, ever. At 100 TB
        # this is the difference between re-shuffling trillions of index
        # rows per traversal after a restart and shuffling only the small
        # frontier into the existing bucket layout.
        self.index_buckets = int(index_buckets)
        # Lock ownership: release()/close() must only remove a lock THIS
        # instance acquired — a failed acquire() followed by close() in a
        # finally block must never delete the live owner's lock. Ownership
        # is keyed on a per-INSTANCE token (pid alone is not enough: a
        # second handle in the same process shares the pid, and a
        # pid-equality fallback would let its failed-acquire cleanup
        # delete the live sibling's lock — round-8 advisor finding).
        self._lock_held = False
        self._lock_token = f"{os.getpid()}:{uuid.uuid4().hex}"

    # -- layout ------------------------------------------------------------

    @property
    def _ckpt_root(self) -> str:
        return os.path.join(self.path, "checkpoints")

    @property
    def _log_root(self) -> str:
        return os.path.join(self.path, "log")

    @property
    def _lock_path(self) -> str:
        return os.path.join(self.path, ".lock")

    def _ckpt_versions(self) -> list[int]:
        return sorted(
            int(d) for d in os.listdir(self._ckpt_root) if d.isdigit()
        )

    def _all_ckpt_versions(self) -> list[int]:
        """Live + archived checkpoint versions. Recovery must scan BOTH:
        normal operation keeps exactly one live checkpoint (checkpoint()
        archives the rest), so a fallback that only looks at the live dir
        has nothing to fall back to precisely when it matters."""
        vers = set(self._ckpt_versions())
        arch = os.path.join(self.path, "archive")
        if os.path.isdir(arch):
            vers.update(
                int(d.split("-")[1])
                for d in os.listdir(arch)
                if d.startswith("checkpoint-")
            )
        return sorted(vers)

    def _log_dir(self, gen: int) -> str:
        return os.path.join(self._log_root, f"gen={gen}")

    # -- locking (Storage.hs:209-245) --------------------------------------

    def acquire(self) -> None:
        """Exclusive writer lock via O_CREAT|O_EXCL — the reference's
        ``.lock`` file (driver-level: Spark executors never write here)."""
        try:
            fd = os.open(self._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, self._lock_token.encode())
            os.close(fd)
            self._lock_held = True
        except FileExistsError:
            raise StorageLockedError(f"store at {self.path} is locked")

    def release(self) -> None:
        """Remove the lock only if THIS INSTANCE acquired it. An
        unconditional remove would let ``store.acquire_and_load()``
        failing with StorageLockedError + ``finally: store.close()``
        silently delete the LIVE owner's lock and re-open the store to a
        second writer. There is deliberately NO same-pid fallback: two
        handles in one process share the pid, so pid equality cannot
        distinguish the owner from a failed acquirer (the
        intra-process variant of the same double-writer bug). The
        recorded (pid:uuid) token is double-checked before removal so a
        force_unlock()+re-acquire by a third handle between our acquire
        and release never deletes the new owner's lock. Stale locks
        (crashed owner) are an operator decision: ``force_unlock()``.

        ``_lock_held`` is cleared only AFTER the ownership check resolves:
        clearing it up front would let a transient OSError on the token
        read (e.g. EACCES) return early with the flag already false,
        permanently stranding a lock this instance legitimately owns —
        leaving it set means a later release() retries the read
        (round-9 advisor finding)."""
        if not self._lock_held:
            return
        try:
            with open(self._lock_path) as f:
                owned = f.read().strip() == self._lock_token
        except FileNotFoundError:
            # lock file gone (force_unlock / third-party removal):
            # nothing of ours remains to remove
            self._lock_held = False
            return
        except OSError:
            # transient read failure: keep _lock_held so a subsequent
            # release() can retry instead of stranding our own lock
            return
        self._lock_held = False
        if not owned:
            return
        try:
            os.remove(self._lock_path)
        except FileNotFoundError:
            pass

    def force_unlock(self) -> None:
        """Explicit stale-lock recovery: unconditionally remove the
        ``.lock`` file regardless of ownership. For the operator who has
        VERIFIED the recorded owner is dead (the token is ``pid:uuid``
        — check the pid) — calling this while the owner lives re-opens
        the store to a second writer, exactly what release() refuses."""
        try:
            os.remove(self._lock_path)
        except FileNotFoundError:
            pass

    # -- WAL sink (Storage.hs:154-159; buffering per Persistent.hs:62-69) --

    def persist_events(self, events: list[dict]) -> None:
        """Synchronous append of one committed event batch to the current
        log generation. *events* is the driver-side list of staged event
        dicts (``WriteTx.events``, EVENT_SCHEMA fields); its smallest
        ``seq`` names the batch file. The batch is written by pyarrow on
        the driver as one ``part-00000.parquet`` plus a ``_SUCCESS``
        marker — the same directory shape a Spark write leaves, so
        ``load()``, ``compact_log`` and the streaming WAL source read it
        unchanged — and the append launches no Spark job.

        Orphan tolerance: a SIGKILLed writer's JVM outlives its Python
        driver by seconds and can recreate a half-written batch dir AFTER
        recovery swept it (observed in the crash-interruption test). To
        keep a zombie's late task commits from ever MIXING with this
        writer's files (a mixed dir would replay phantom events), the
        batch is written to a UNIQUE staging dir first and then renamed
        into place atomically: zombie commits can only land in the old
        target path, never in the staging dir. An existing target WITHOUT
        the _SUCCESS commit marker is by definition such an orphan —
        under the single-writer lock nothing live can be mid-write here —
        so it is removed before the rename; one WITH _SUCCESS is a
        genuine seq collision (a second writer violating the lock
        contract) and stays a loud error."""
        if not events:
            return  # empty batch: nothing to append (and no name for it)
        gen = max(self._ckpt_versions(), default=0)
        first_seq = min(e["seq"] for e in events)
        log_dir = self._log_dir(gen)
        out = os.path.join(log_dir, f"batch-{first_seq:012d}.parquet")
        staging = os.path.join(
            log_dir, f".staging-{first_seq:012d}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        try:
            os.makedirs(staging)
            # store_schema=False: no embedded Arrow schema blob (~0.7 KB
            # per batch); Spark reads the parquet schema itself
            pq.write_table(
                pa.Table.from_pylist(events, schema=_EVENT_ARROW_SCHEMA),
                os.path.join(staging, "part-00000.parquet"),
                store_schema=False,
            )
            open(os.path.join(staging, "_SUCCESS"), "wb").close()
            # Swap into place, with the RENAME as the authority. The old
            # shape (check _SUCCESS -> rmtree -> rename) had a TOCTOU: a
            # zombie could land its _SUCCESS between the check and the
            # rmtree and its committed batch vanished silently instead of
            # raising the documented seq-collision error. Now an occupied
            # target is first moved ASIDE atomically and only then
            # examined — a committed batch is always preserved (restored
            # to `out`, or kept in the aside dir as evidence if a zombie
            # re-created `out` meanwhile) and the error stays loud.
            for attempt in range(5):
                try:
                    os.rename(staging, out)
                    return
                except OSError:
                    pass  # target occupied: examine it via the aside move
                aside = os.path.join(
                    log_dir, f".aside-{first_seq:012d}-{uuid.uuid4().hex[:8]}"
                )
                try:
                    os.rename(out, aside)
                except OSError:
                    aside = None  # target vanished (zombie cleanup); retry
                if aside is not None:
                    if os.path.exists(os.path.join(aside, "_SUCCESS")):
                        restored = True
                        try:
                            os.rename(aside, out)
                        except OSError:
                            restored = False  # committed batch stays in `aside`
                        raise FileExistsError(
                            f"committed batch already exists at {out}: seq "
                            "collision (second writer violating the lock "
                            "contract?)"
                            + (
                                ""
                                if restored
                                else f"; the committed batch could not be "
                                f"restored and is preserved at {aside} — "
                                f"recover it by renaming it back to {out} "
                                "once the colliding writer is resolved "
                                "(load() refuses to proceed while it exists)"
                            )
                        )
                    shutil.rmtree(aside, ignore_errors=True)
                if attempt == 4:
                    raise OSError(f"could not swap batch into {out}")
                time.sleep(0.2 * (attempt + 1))
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def persist_events_async(self, events: list[dict]) -> None:
        """Enqueue the append on the storage's single I/O worker and return
        immediately — the commit path no longer waits on log I/O (the
        reference's PersistenceBuffering with buffer > 1). Errors from
        earlier appends surface on the next enqueue or flush()."""
        if self._wal_pool is None:
            self._wal_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="graphdb-wal"
            )
        # Re-raise failures of already-finished appends before enqueuing more.
        for f in self._pending:
            if f.done():
                f.result()
        self._pending = [f for f in self._pending if not f.done()]
        # Backpressure (PersistenceBuffering, Persistent.hs:62-69): at the
        # cap, block the committer on the OLDEST in-flight append — the
        # single worker drains in FIFO order, so waiting on the head frees
        # exactly one slot (and surfaces its failure) before we enqueue.
        while len(self._pending) >= self.wal_buffer:
            head = self._pending.pop(0)
            head.result()
        self._pending.append(self._wal_pool.submit(self.persist_events, events))

    def flush(self) -> None:
        """Barrier: wait for all enqueued WAL appends (and re-raise the
        first failure). Called by checkpoint()/load()/close() — the
        reference flushes its IOQueue on shutdown and checkpoint."""
        pending, self._pending = self._pending, []
        for f in pending:
            f.result()

    def close(self) -> None:
        """Flush buffered appends and release the writer lock."""
        self.flush()
        if self._wal_pool is not None:
            self._wal_pool.shutdown(wait=True)
            self._wal_pool = None
        self.release()

    # -- checkpoint (Storage.hs:171-207) -----------------------------------

    def checkpoint(self, session: GraphSession) -> int:
        """Write the current snapshot as a new version; subsequent event
        batches land in the new generation. Old checkpoints/logs move to
        archive (the reference's archiveDir, Storage.hs:43-48).

        Crash safety: tables land in a ``.tmp-N`` staging dir with
        ``meta.json`` written last, then one atomic rename publishes the
        version — a crash at any point leaves either the previous state or
        the complete new version, never a half-written newest checkpoint
        (the property StorageTests.hs:55-60 exercises via unreadable-file
        fallback)."""
        self.flush()  # pending appends belong to the pre-checkpoint generation
        version = max(self._ckpt_versions(), default=0) + 1
        tmp = os.path.join(self._ckpt_root, f".tmp-{version}")
        if os.path.isdir(tmp):  # leftover from a crashed attempt
            shutil.rmtree(tmp)
        snap = session.snapshot
        # Write-time reuse (round 16, guide §2.4): vertices and edges are
        # subtrees of the edge_index emission plan, so without a cache the
        # three writes re-scan the base tables ~3x and re-run the edge
        # dedup shuffle twice. A scoped persist computes each subtree once
        # and the CacheManager substitutes it into the index write; the
        # blocks are released before publish (spill-safe MEMORY_AND_DISK,
        # a one-shot write-path cache — nothing outlives the call).
        _pinned = []
        for frame in (snap.vertices, snap.edges):
            if frame.storageLevel.useMemory or frame.storageLevel.useDisk:
                continue  # caller already persisted/checkpointed it
            _pinned.append(frame.persist())
        try:
            # The three table writes are independent jobs over the pinned
            # subtrees — submit them from a thread pool so the scheduler
            # overlaps them (guide §2.6): the bucketed index write's long
            # tail back-fills with the small vertices/edges writes instead
            # of running after them. Cache-population races are safe
            # (block-level locks make the first computer win, others reuse)
            # and the publish rename below still happens only after ALL
            # three have committed.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                fv = pool.submit(
                    lambda: snap.vertices.write.mode("errorifexists").parquet(
                        os.path.join(tmp, "vertices")
                    )
                )
                fe = pool.submit(
                    lambda: snap.edges.write.mode("errorifexists").parquet(
                        os.path.join(tmp, "edges")
                    )
                )
                fi = pool.submit(
                    lambda: self._write_edge_index(
                        snap.edge_index, os.path.join(tmp, "edge_index")
                    )
                )
                fv.result()
                fe.result()
                buckets = fi.result()
        finally:
            for frame in _pinned:
                frame.unpersist()
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(
                {
                    "version": version,
                    "next_id": session._next_id,
                    "next_seq": session._next_seq,
                    "next_tx": session._next_tx,
                    "schema_hash": schema_hash(self.schema),
                    "index_buckets": buckets,
                },
                f,
            )
        os.replace(tmp, os.path.join(self._ckpt_root, str(version)))  # atomic publish
        os.makedirs(self._log_dir(version), exist_ok=True)
        self._archive_before(version)
        return version

    def _write_edge_index(self, df, path: str) -> int:
        return write_edge_index_bucketed(self.spark, df, path, self.index_buckets)

    def _read_edge_index(self, base: str, meta: dict):
        # stable_key = the store path: successive checkpoint versions
        # re-point ONE catalog entry instead of leaking one per version
        return read_edge_index_bucketed(
            self.spark,
            os.path.join(base, "edge_index"),
            meta.get("index_buckets") or 0,
            stable_key=os.path.abspath(self.path),
        )

    def _archive_before(self, version: int) -> None:
        arch = os.path.join(self.path, "archive")
        os.makedirs(arch, exist_ok=True)
        for v in self._ckpt_versions():
            if v < version:
                src = os.path.join(self._ckpt_root, str(v))
                shutil.move(src, os.path.join(arch, f"checkpoint-{v}"))
        for d in os.listdir(self._log_root):
            gen = int(d.split("=")[1])
            if gen < version - 1:
                shutil.move(
                    os.path.join(self._log_root, d), os.path.join(arch, f"log-{gen}")
                )

    def _stranded_asides(self) -> list[str]:
        """Committed ``.aside-*`` batch dirs persist_events preserved when
        a seq-collision restore failed — durable data outside the replay
        path, surfaced (never silently swept) until an operator resolves
        them.

        Scans BOTH the active log root and the archive's ``log-<gen>``
        dirs (mirroring ``_log_batches``' two-root pattern): checkpoint's
        ``_archive_before`` moves whole generation dirs into the archive,
        and an aside stranded in a generation < version-1 would otherwise
        escape both the recovery refusal and the clean_up warning — and
        then be silently rmtree'd with the archive (round-9 advisor
        finding)."""
        arch = os.path.join(self.path, "archive")
        gen_dirs = [
            os.path.join(self._log_root, d)
            for d in (os.listdir(self._log_root) if os.path.isdir(self._log_root) else [])
        ] + [
            os.path.join(arch, d)
            for d in (os.listdir(arch) if os.path.isdir(arch) else [])
            if d.startswith("log-")
        ]
        out: list[str] = []
        for gen_dir in gen_dirs:
            if not os.path.isdir(gen_dir):
                continue
            for b in os.listdir(gen_dir):
                if b.startswith(".aside-") and os.path.exists(
                    os.path.join(gen_dir, b, "_SUCCESS")
                ):
                    out.append(os.path.join(gen_dir, b))
        return sorted(out)

    def clean_up(self) -> None:
        """Delete the archive and compaction quarantine dirs
        (Storage.hs cleanUp semantics). Stranded committed ``.aside-*``
        batches are surfaced with a warning and KEPT — they hold durable
        commits outside the replay path, and only an operator can decide
        whether to restore or discard them. That keep extends into the
        archive: an ``archive/log-<gen>`` dir holding a committed aside
        survives the archive sweep (deleting it with the rest of the
        archive would be exactly the silent loss the stranded-aside
        guard exists to prevent — round-9 advisor finding)."""
        arch = os.path.join(self.path, "archive")
        stranded = self._stranded_asides()  # BEFORE any deletion
        if os.path.exists(arch):
            for entry in os.listdir(arch):
                full = os.path.join(arch, entry)
                if any(s.startswith(full + os.sep) for s in stranded):
                    continue  # holds a committed aside: operator's call
                shutil.rmtree(full)
            try:
                os.rmdir(arch)  # only if nothing was kept
            except OSError:
                pass
        for d in os.listdir(self._log_root):
            gen_dir = os.path.join(self._log_root, d)
            if not os.path.isdir(gen_dir):
                continue
            for b in os.listdir(gen_dir):
                if b.startswith(".compacted-"):
                    shutil.rmtree(os.path.join(gen_dir, b), ignore_errors=True)
        if stranded:
            logging.getLogger(__name__).warning(
                "store at %s has committed batch dirs stranded by "
                "seq-collision handling (NOT deleted): %s — rename each back "
                "to its batch-<firstseq>.parquet target or remove it if "
                "known superseded",
                self.path,
                stranded,
            )

    def compact_log(self, gen: int | None = None) -> int:
        """Merge a generation's many per-commit batch files into one
        combined batch (ordered by seq) — the small-files answer at scale:
        an OLTP-shaped workload writes one tiny parquet per commit, and
        recovery/streaming readers pay per-file open cost. Returns the
        number of files compacted (0 = nothing to do).

        Crash-safe protocol (no window loses data):
        1. stage the combined batch in a hidden ``.compact-tmp`` dir;
        2. atomically publish it as ``batch-<firstseq>-compacted``
           — transiently the log holds the events TWICE, which is safe
           because ``apply_events`` resolves net effects by the ``seq``
           column, not file order, and identical duplicate events are a
           fixed point (max-seq per key is unchanged);
        3. remove the superseded originals.
        A crash at any step leaves a log whose replay is identical; stale
        staging dirs are swept on the next call.

        Interaction with a LIVE WAL stream (stream_apply_wal*): the
        combined file is a NEW path, so a file-source checkpoint that
        already consumed the originals would re-deliver those events —
        the stream's seq high-water tripwire refuses that batch loudly
        instead of regressing its snapshot. Run compaction between
        streams, or restart the stream fresh afterwards. The superseded
        originals are QUARANTINED with atomic renames rather than
        rmtree'd in place: a partial rmtree could expose a batch dir
        whose _SUCCESS is gone but whose part files remain (phantom
        orphan), and deleting them would also break a crashed stream's
        re-read of its last uncommitted micro-batch.
        """
        self.flush()
        if gen is None:
            gen = max(self._ckpt_versions(), default=0)
        batches = self._log_batches(gen)
        if len(batches) <= 1:
            return 0
        events = self.spark.read.schema(EVENT_SCHEMA).parquet(*batches)
        first_seq = int(
            os.path.basename(batches[0]).split("-", 1)[1].split(".")[0].split("-")[0]
        )
        d = self._log_dir(gen)
        tmp = os.path.join(d, ".compact-tmp")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        events.orderBy("seq").coalesce(1).write.parquet(tmp)
        target = os.path.join(d, f"batch-{first_seq:012d}-compacted.parquet")
        n = 1
        while os.path.exists(target):  # re-compaction of an already-compacted gen
            n += 1
            target = os.path.join(d, f"batch-{first_seq:012d}-compacted{n}.parquet")
        os.replace(tmp, target)
        quarantine = os.path.join(d, f".compacted-{first_seq:012d}-{uuid.uuid4().hex[:6]}")
        os.makedirs(quarantine)
        for b in batches:
            os.rename(b, os.path.join(quarantine, os.path.basename(b)))
        return len(batches)

    # -- recovery (Storage.hs:104-148) -------------------------------------

    def _read_ckpt(self, version: int) -> tuple[GraphSnapshot, dict]:
        """Read one checkpoint version, verifying it is complete: meta.json
        (the commit marker) parses, its schema stamp matches, and every
        table dir carries Spark's _SUCCESS marker. Raises on anything
        short of a complete, schema-compatible version. Resolves archived
        versions too (recovery may fall back past the live set)."""
        base = os.path.join(self._ckpt_root, str(version))
        if not os.path.isdir(base):
            base = os.path.join(self.path, "archive", f"checkpoint-{version}")
        if not os.path.isdir(base):
            raise FileNotFoundError(f"checkpoint version {version} not found")
        with open(os.path.join(base, "meta.json")) as f:
            meta = json.load(f)
        stamp = meta.get("schema_hash")
        if stamp is not None and stamp != schema_hash(self.schema):
            raise SchemaMismatchError(
                f"checkpoint {version} at {self.path} was written under a "
                f"different GraphSchema (stamp {stamp[:8]}… != "
                f"{schema_hash(self.schema)[:8]}…); refusing to load"
            )
        for table in ("vertices", "edges", "edge_index"):
            if not os.path.exists(os.path.join(base, table, "_SUCCESS")):
                raise FileNotFoundError(f"checkpoint {version}: incomplete {table}")
        snap = GraphSnapshot(
            self.spark.read.parquet(os.path.join(base, "vertices")),
            self.spark.read.parquet(os.path.join(base, "edges")),
            self._read_edge_index(base, meta),
            self.schema,
        )
        return snap, meta

    def _log_batches(self, gen: int) -> list[str]:
        # A generation's batches may live in the active log root OR the
        # archive (generations < version-1 are archived on checkpoint);
        # replay from an old fallback version needs both. Order across
        # files is irrelevant to correctness: every event carries seq and
        # apply_events folds the whole suffix by seq.
        #
        # Spark's _SUCCESS marker is the WAL commit point: a writer killed
        # mid-append leaves a batch dir without it, and that batch was by
        # definition never acknowledged — it must not replay.
        dirs = (self._log_dir(gen), os.path.join(self.path, "archive", f"log-{gen}"))
        return sorted(
            os.path.join(d, b)
            for d in dirs
            if os.path.isdir(d)
            for b in os.listdir(d)
            if b.startswith("batch-")
            and os.path.exists(os.path.join(d, b, "_SUCCESS"))
        )

    def _sweep_aborted_batches(self) -> None:
        """Remove batch dirs a killed writer left without the _SUCCESS
        commit marker. Recovery must clear them: the recovered session's
        seq counter is derived from committed batches only, so its next
        append would otherwise collide with the orphaned path.

        Zombie drain: SIGKILLing a writer kills its Python driver but its
        JVM child lingers for seconds and may RE-create the in-flight
        batch dir (task commits land after the first sweep). When a pass
        swept something, wait briefly and re-sweep until a pass finds
        nothing — by then the zombie has either aborted (junk swept) or
        committed (_SUCCESS present: the batch becomes a real durable
        commit and the subsequent replay correctly includes it). If the
        store is STILL dirty after the final pass (a zombie that keeps
        recreating for >7 s is pathological — or something other than a
        Spark writer owns the dir), recovery raises instead of silently
        proceeding with a seq counter that will collide."""

        def orphans() -> list[str]:
            found = []
            for d in os.listdir(self._log_root):
                gen_dir = os.path.join(self._log_root, d)
                if not os.path.isdir(gen_dir):
                    continue
                for b in os.listdir(gen_dir):
                    full = os.path.join(gen_dir, b)
                    if not os.path.isdir(full):
                        continue
                    # uncommitted batch dirs AND persist_events staging /
                    # aside dirs a killed writer abandoned before its
                    # rename (nothing live writes here under the recovery
                    # lock). An .aside-* WITH _SUCCESS is different: a
                    # COMMITTED batch persist_events preserved during a
                    # seq-collision — never swept (see below).
                    if b.startswith(".staging-") or (
                        b.startswith(("batch-", ".aside-"))
                        and not os.path.exists(os.path.join(full, "_SUCCESS"))
                    ):
                        found.append(full)
            return found

        # A committed .aside-* dir is durable, acknowledged data that
        # _log_batches never replays (persist_events stranded it when a
        # zombie re-occupied its target during seq-collision handling).
        # Proceeding would silently drop a durable commit from recovery —
        # refuse until the operator restores or removes it (round-8
        # advisor finding: these dirs were invisible to every sweep).
        stranded = self._stranded_asides()
        if stranded:
            raise RuntimeError(
                f"store at {self.path} has COMMITTED batch dirs stranded by "
                f"seq-collision handling: {stranded}; recovery would not "
                "replay them (silent loss of durable commits). Rename each "
                "back to its batch-<firstseq>.parquet target (resolving any "
                "collision with the occupant) or delete it if it is known "
                "superseded, then reload."
            )

        for attempt in range(5):
            dirty = orphans()
            if not dirty:
                return
            for full in dirty:
                # rename AWAY first (atomic), then delete: a direct rmtree
                # removes _SUCCESS before the part files, transiently
                # exposing a committed-looking dir with real data files to
                # any concurrent lister (e.g. a streaming file source)
                hidden = os.path.join(
                    os.path.dirname(full), "." + os.path.basename(full) + ".sweep"
                )
                try:
                    os.rename(full, hidden)
                except OSError:
                    hidden = full  # already gone or recreated: best effort
                shutil.rmtree(hidden, ignore_errors=True)
            time.sleep(0.5 * (attempt + 1))
        dirty = orphans()
        if dirty:
            raise RuntimeError(
                f"store at {self.path} still has uncommitted batch dirs after "
                f"5 recovery sweeps: {dirty}; a writer JVM appears to still be "
                "alive (or the dirs are not sweepable) — refusing to recover "
                "over them"
            )

    def _log_batches_from(self, gen_start: int) -> list[str]:
        """Every log batch in generation >= *gen_start*, ordered by
        (generation, seq). Needed when load() falls back past an
        unreadable newest checkpoint: replaying the older checkpoint's
        generation AND every later generation reproduces the lost
        version's state exactly (seq is a total order and apply_events
        folds a concatenated suffix as sequential replay)."""
        gens = {
            int(d.split("=")[1])
            for d in os.listdir(self._log_root)
            if d.startswith("gen=")
        }
        arch = os.path.join(self.path, "archive")
        if os.path.isdir(arch):
            gens.update(
                int(d.split("-")[1])
                for d in os.listdir(arch)
                if d.startswith("log-")
            )
        out: list[str] = []
        for g in sorted(g for g in gens if g >= gen_start):
            out.extend(self._log_batches(g))
        return out

    def load(self, empty_factory) -> GraphSession:
        """Newest *readable* checkpoint + ordered replay of newer event
        batches — the reference's deserializeLatestCheckpoint scans
        newest-to-oldest and takes the first readable version
        (Storage.hs:121-131, StorageTests.hs:55-60
        ``test_loadsPastTenAttempts``). Only a missing or partial publish
        (``FileNotFoundError``, or a ``ValueError`` from a torn
        ``meta.json``) counts as unreadable, and each such fallback logs a
        WARNING; any other error reading a version propagates. So a fully
        published version whose table file is corrupt aborts recovery:
        Spark's read error does not tell bad bytes from a transient I/O
        fault, and rewinding to an older version on either would hide it.

        ``empty_factory(spark, schema) -> GraphSnapshot`` seeds the v0 state
        when no checkpoint exists (the reference's ``initGraph``,
        GraphDB.hs:128-131).
        """
        self.flush()  # a buffered append must be on disk before we scan the log
        self._sweep_aborted_batches()
        snap, meta, gen = None, None, 0
        all_versions = self._all_ckpt_versions()
        for version in reversed(all_versions):
            try:
                snap, meta = self._read_ckpt(version)
                gen = version
                break
            except SchemaMismatchError:
                raise  # wrong model is a caller error, not a corrupt file
            except (FileNotFoundError, ValueError) as exc:
                # A missing or partial publish (no meta.json or _SUCCESS
                # marker, or a torn meta.json) falls back to the next older
                # version. Any other error (permissions, EIO) says nothing
                # about the version's contents and may be transient, so it
                # propagates and a retry can still read the newest version.
                logging.getLogger(__name__).warning(
                    "load: checkpoint %s at %s is unreadable (%s: %s); "
                    "falling back to an older version",
                    version, self.path, type(exc).__name__, exc,
                )
                continue
        if snap is None and all_versions:
            # Checkpoints were written but none (live or archived) is
            # readable. Seeding empty_factory here would silently rebuild
            # a partial store from whatever log suffix survives — loud
            # failure is the only safe answer.
            raise RuntimeError(
                f"no readable checkpoint at {self.path} "
                f"(versions present: {all_versions}); refusing to rebuild "
                "from an incomplete event-log suffix"
            )
        if snap is not None:
            next_id, next_seq, next_tx = meta["next_id"], meta["next_seq"], meta["next_tx"]
        else:
            snap = empty_factory(self.spark, self.schema)
            next_id, next_seq, next_tx = None, 0, 0

        batches = self._log_batches_from(gen)
        if batches:
            # Replay all batches in one ordered set-oriented pass: the WAL is
            # a total order by seq, and apply_events resolves net effects by
            # seq — so a single apply of the concatenated suffix is exactly
            # sequential replay (Persistent/Log.hs:38-52 semantics).
            events = self.spark.read.schema(EVENT_SCHEMA).parquet(*batches)
            snap = snap.apply_events(events).materialize()
            tail = events.agg(
                F.max("seq").alias("s"),
                F.max("tx_id").alias("t"),
                F.max("node_id").alias("n"),
            ).collect()[0]
            # Explicit None checks, NOT `or`: a legitimate max of 0 is
            # falsy — `(tail["t"] or -1) + 1` would re-issue tx_id 0
            # after a crash before the first checkpoint (tx ids allocate
            # from 0), duplicating a durable transaction identity.
            if tail["s"] is not None:
                next_seq = max(next_seq, tail["s"])
            if tail["t"] is not None:
                next_tx = max(next_tx, tail["t"] + 1)
            if next_id is not None and tail["n"] is not None:
                next_id = max(next_id, tail["n"] + 1)

        session = GraphSession(
            snap, next_id=next_id, next_seq=next_seq, next_tx=next_tx, storage=self
        )
        return session

    def acquire_and_load(self, empty_factory) -> GraphSession:
        self.acquire()
        return self.load(empty_factory)

    # -- time travel (extension; the reference only ever loads the newest
    #    readable checkpoint, Storage.hs:121-127) ---------------------------

    def versions(self) -> list[int]:
        """All readable checkpoint versions, live or archived."""
        return self._all_ckpt_versions()

    def load_version(self, version: int, replay: bool = True) -> GraphSnapshot:
        """Read-only snapshot as of checkpoint *version* (+ its
        generation's WAL suffix when *replay*). Archived versions are
        readable until ``clean_up()`` — columnar snapshots make time
        travel a pure read, no restore step. Reads through ``_read_ckpt``,
        so a version written under another GraphSchema raises
        SchemaMismatchError and an incomplete one raises."""
        self.flush()  # queued async appends belong to the visible state
        snap, _meta = self._read_ckpt(version)
        if replay:
            batches = self._log_batches(version)  # active + archived, committed only
            if batches:
                events = self.spark.read.schema(EVENT_SCHEMA).parquet(*batches)
                snap = snap.apply_events(events).materialize()
        return snap


class GenericEventStore:
    """State-agnostic WAL + checkpoint store — the reference's Storage is
    generic over (state, event) (Storage.hs:57-102 with the counter state
    machine of InternalTests/StorageTests.hs:11-41); this is the same
    contract for arbitrary DataFrame states:

        store = GenericEventStore(spark, path, event_schema)
        store.persist(events_df)              # ordered by 'seq'
        store.checkpoint(state_df)            # versioned snapshot
        state = store.load(empty_df, apply)   # ckpt + fold of suffix
    """

    def __init__(self, spark: SparkSession, path: str, event_schema):
        self.spark = spark
        self.path = path
        self.event_schema = event_schema
        os.makedirs(os.path.join(path, "checkpoints"), exist_ok=True)
        os.makedirs(os.path.join(path, "log"), exist_ok=True)

    def _versions(self) -> list[int]:
        d = os.path.join(self.path, "checkpoints")
        return sorted(int(x) for x in os.listdir(d) if x.isdigit())

    def _log_dir(self, gen: int) -> str:
        return os.path.join(self.path, "log", f"gen={gen}")

    def persist(self, events: DataFrame) -> None:
        gen = max(self._versions(), default=0)
        first = events.agg(F.min("seq")).collect()[0][0]
        if first is None:
            return  # empty batch: nothing to append (and no name for it)
        events.coalesce(1).write.mode("errorifexists").parquet(
            os.path.join(self._log_dir(gen), f"batch-{first:012d}.parquet")
        )

    def checkpoint(self, state: DataFrame) -> int:
        version = max(self._versions(), default=0) + 1
        tmp = os.path.join(self.path, "checkpoints", f".tmp-{version}")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        state.write.mode("errorifexists").parquet(os.path.join(tmp, "state"))
        # Atomic publish — same crash-safety contract as EventLogStorage.
        os.replace(tmp, os.path.join(self.path, "checkpoints", str(version)))
        os.makedirs(self._log_dir(version), exist_ok=True)
        return version

    def load(self, empty_state: DataFrame, apply_fn) -> DataFrame:
        """``apply_fn(state_df, events_df) -> state_df`` folds the ordered
        event suffix over the newest checkpoint (replayEventsPastIndex,
        Storage.hs:132-148)."""
        versions = self._versions()
        if versions:
            state = self.spark.read.parquet(
                os.path.join(self.path, "checkpoints", str(versions[-1]), "state")
            )
            gen = versions[-1]
        else:
            state, gen = empty_state, 0
        d = self._log_dir(gen)
        if os.path.isdir(d):
            batches = sorted(
                os.path.join(d, b)
                for b in os.listdir(d)
                if b.startswith("batch-")
                and os.path.exists(os.path.join(d, b, "_SUCCESS"))
            )
            if batches:
                events = self.spark.read.schema(self.event_schema).parquet(*batches)
                state = apply_fn(state, events)
        return state
