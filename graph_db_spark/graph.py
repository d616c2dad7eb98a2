"""Core graph engine: immutable snapshot tables + the 9-op transaction DSL.

Reference parity (this is a re-expression, not a port):

- The reference's mutable pointer graph ``Refs``
  (/root/reference/library/GraphDB/Graph.hs:27-34) becomes three immutable
  DataFrames: ``vertices(id, kind, <payload cols>)``, ``edges(src, dst)``,
  ``edge_index(src, idx_tag, idx_key, dst)``.
- The 9 ``ActionF`` constructors (library/GraphDB/Action.hs:11-21; public
  wrappers library/GraphDB.hs:301-356) become:
    new_node / get_value / set_value / get_root / get_targets /
    add_target / remove_target / remove / get_stats
  staged as typed WAL events and applied **set-oriented in one pass** at
  commit — the Spark-native equivalent of the reference's sequential
  interpreter (library/GraphDB/Persistent.hs:126-171). Net-effect semantics
  (last event per (src,dst) pair / per node wins, set-semantics idempotent
  edge insert per Graph.hs:57-61) are equivalent to sequential application
  and shuffle only once per commit regardless of batch size.
- ``set_value`` re-indexing against every source (Graph.hs:46-55) becomes a
  delete+re-emit merge on ``edge_index`` for affected (src, dst) pairs.
- ``remove`` only unlinks the node from its sources (Graph.hs:126-127);
  the vertex row may persist as unreachable garbage — matching the
  reference, where garbage merely stops being counted (Graph.hs:82-118).
- ``get_stats`` (Graph.hs:82-118) = iterative BFS frontier joins (Pregel
  pattern) + three counts over the reachable subgraph.

Scale notes (100 TB design):
- Every mutation batch is O(1) shuffles: one per-pair aggregation + one
  re-emission join, regardless of how many events the batch holds.
- ``edge_index`` reads are plain filters/joins → Catalyst pushdown, AQE
  broadcast for small frontiers.
- BFS truncates lineage with ``localCheckpoint`` each iteration; frontiers
  are de-duplicated and anti-joined against the visited set so each vertex
  is expanded once (the reference's visited-set queue, Graph.hs:87-117).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from graph_db_spark.model import ROOT_ID, GraphSchema

# WAL event schema — FIXTURES.md §2, derived from the reference's log-entry
# union (library/GraphDB/Persistent/Log.hs:20-28) with stable node ids
# replacing positional refs (SURVEY §2.10).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("tx_id", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("node_id", T.LongType(), True),
        T.StructField("src", T.LongType(), True),
        T.StructField("dst", T.LongType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("value", T.StringType(), True),  # JSON payload
    ]
)

OP_NEW_NODE = "NewNode"
OP_SET_VALUE = "SetValue"
OP_ADD_TARGET = "AddTarget"
OP_REMOVE_TARGET = "RemoveTarget"
OP_REMOVE = "Remove"

EDGE_INDEX_COLS = ["src", "idx_tag", "idx_key", "dst"]


def default_payload_fields() -> list[T.StructField]:
    """Default payload columns: covers the reference's observed payload types
    (Text names, Int uids — SURVEY §1.2)."""
    return [
        T.StructField("name", T.StringType(), True),
        T.StructField("uid", T.LongType(), True),
    ]


def vertices_schema(payload_fields: list[T.StructField] | None = None) -> T.StructType:
    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
        ]
        + (payload_fields if payload_fields is not None else default_payload_fields())
    )


def edges_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("src", T.LongType(), False),
            T.StructField("dst", T.LongType(), False),
        ]
    )


def edge_index_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("src", T.LongType(), False),
            T.StructField("idx_tag", T.StringType(), False),
            T.StructField("idx_key", T.StringType(), True),
            T.StructField("dst", T.LongType(), False),
        ]
    )


def local_frame(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """Arrow-backed local DataFrame (physical plan: LocalTableScan).

    ``createDataFrame(list_of_dicts, schema)`` builds a *pickled-RDD*-backed
    frame whose every scan spins Python deserializer workers — under a
    narrow ``coalesce(1)`` the 32 slice computations serialize into one
    task (~150 ms each ≈ 5 s per scan, measured: the entire OLTP
    micro-commit floor). Routing through a pyarrow Table embeds the rows
    JVM-side instead: scans are pure JVM, and the planner sees exact size
    stats (broadcast-ability preserved). Missing dict keys become nulls,
    matching the dict path. Falls back to the classic path for types the
    Arrow bridge can't represent."""
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)))
    except Exception:  # noqa: BLE001 — exotic payload type: correctness over speed
        return spark.createDataFrame(rows, schema)


def json_coerce(v, dt: T.DataType):
    """Coerce a json.loads'd scalar to *dt* with ``from_json`` PERMISSIVE
    semantics (verified against Spark: STRING accepts any scalar as its
    JSON text; LONG accepts only integral JSON numbers; mismatches → null)
    — so the driver-built emission fast path produces byte-identical rows
    to the join path's from_json instead of crashing createDataFrame's
    strict type verification on a mistyped staged payload."""
    if v is None:
        return None
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType)):
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None
    if isinstance(dt, T.StringType):
        return v if isinstance(v, str) else json.dumps(v)
    if isinstance(dt, T.BooleanType):
        return v if isinstance(v, bool) else None
    return v


def emit_edge_index(
    edges: DataFrame,
    vertices: DataFrame,
    schema: GraphSchema,
    broadcast_vertices: bool = False,
) -> DataFrame:
    """Evaluate write-time index emission for *edges* → ``edge_index`` rows.

    The Spark analogue of the generated dispatch
    ``indexes :: Value -> Value -> [Index]`` (Graph.hs:25; clause codegen at
    library/GraphDB/Macros/Templates.hs:77-88): join each edge with its src
    and dst vertex payloads, then per edge-kind apply that kind's
    ``IndexSpec`` expressions (built-in Spark exprs → whole-stage codegen;
    exploding specs produce one row per array element).
    """
    if not schema.edge_kinds:
        return edges.sparkSession.createDataFrame([], edge_index_schema())
    payload_cols = [c for c in vertices.columns if c not in ("id", "kind")]
    # Prune the src side to (id, kind) unless some emission expression
    # actually reads src payload — halves the width of the src-side join.
    needs_src_payload = any(
        spec.key_expr and "src_" in spec.key_expr
        for ek in schema.edge_kinds
        for spec in ek.indexes
    )
    dst_v = vertices.select(
        F.col("id").alias("__dst_id"),
        F.col("kind").alias("__dst_kind"),
        *[F.col(c) for c in payload_cols],
    )
    src_cols = [F.col("id").alias("__src_id"), F.col("kind").alias("__src_kind")]
    if needs_src_payload:
        src_cols += [F.col(c).alias(f"src_{c}") for c in payload_cols]
    src_v = vertices.select(*src_cols)
    if broadcast_vertices:
        # Vertices are dimension-sized relative to edges (every kind here is
        # bounded); at true 100 TB both joins instead co-partition on id —
        # callers flip this off and pre-bucket vertices/edges by id.
        src_v, dst_v = F.broadcast(src_v), F.broadcast(dst_v)
    joined = (
        edges.join(src_v, edges.src == src_v.__src_id)
        .join(dst_v, edges.dst == dst_v.__dst_id)
        .drop("__src_id", "__dst_id")
    )
    return emission_projection(joined, schema)


#: (id(active SparkContext), schema) → the prebuilt emission select list.
#: The expression tree below is a pure function of the (frozen, hashable)
#: GraphSchema over UNRESOLVED column refs, yet building it costs ~1,400
#: py4j round-trips — measured as 5.6 s of insert_microtx_20x50's ~10 s
#: (the OLTP micro-commit floor is driver-side Column construction, not
#: Spark work — guide §5.1). Column objects are immutable and reusable
#: across DataFrames; the cache is keyed on the live SparkContext so a
#: JVM restart (new gateway, stale JVM refs) starts a fresh entry.
_EMISSION_SELECT_CACHE: dict = {}


def emission_projection(joined: DataFrame, schema: GraphSchema) -> DataFrame:
    """The emission kernel over an already-joined row set with columns
    (src, dst, __src_kind, __dst_kind, <dst payload>[, src_<payload>]):
    per edge-kind a CASE branch builds the full ARRAY<STRUCT(tag, key)> of
    emitted indexes (markers, keyed, exploding specs concatenated), then a
    single explode — instead of re-executing the join once per IndexSpec
    and unioning 15 branches. Factored out so the insert fast path can
    feed it a driver-built local row set (no joins, no broadcasts)."""
    if not schema.edge_kinds:
        return joined.sparkSession.createDataFrame([], edge_index_schema())
    from pyspark import SparkContext

    cache_key = (id(SparkContext._active_spark_context), schema)
    cached = _EMISSION_SELECT_CACHE.get(cache_key)
    if cached is not None:
        inner_cols, outer_cols = cached
        return joined.select(*inner_cols).select(*outer_cols)
    elem_t = "array<struct<t:string,k:string>>"
    branch_exprs = []
    for ek in schema.edge_kinds:
        arrs = []
        for spec in ek.indexes:
            if spec.key_expr is None:
                arrs.append(
                    F.array(
                        F.struct(
                            F.lit(spec.tag).alias("t"), F.lit(None).cast("string").alias("k")
                        )
                    )
                )
            elif spec.explode:
                # NB: the lambda must take exactly one parameter — F.transform
                # treats a second parameter as the element index.
                def _tagger(tag):
                    return lambda x: F.struct(F.lit(tag).alias("t"), x.alias("k"))

                arrs.append(
                    F.transform(
                        F.expr(spec.key_expr).cast("array<string>"), _tagger(spec.tag)
                    )
                )
            else:
                arrs.append(
                    F.array(
                        F.struct(
                            F.lit(spec.tag).alias("t"),
                            F.expr(spec.key_expr).cast("string").alias("k"),
                        )
                    )
                )
        arr = F.concat(*arrs) if len(arrs) > 1 else arrs[0]
        # Per-edge set semantics (Graph.hs:57-61) without a global shuffle:
        # callers guarantee `edges` is distinct on (src, dst), so the only
        # possible duplicates are within one edge's own emission (e.g. a
        # repeated token from an exploding spec) — array_distinct handles
        # those locally, replacing a full dropDuplicates over the output.
        arr = F.array_distinct(arr)
        cond = (F.col("__src_kind") == ek.src_kind) & (F.col("__dst_kind") == ek.dst_kind)
        branch_exprs.append((cond, arr))
    emitted = F.when(*branch_exprs[0])
    for cond, arr in branch_exprs[1:]:
        emitted = emitted.when(cond, arr)
    emitted = emitted.otherwise(F.lit(None).cast(elem_t))  # no edge kind → no rows
    inner_cols = (F.col("src"), F.col("dst"), F.explode(emitted).alias("__ik"))
    outer_cols = (
        F.col("src"),
        F.col("__ik.t").alias("idx_tag"),
        F.col("__ik.k").alias("idx_key"),
        F.col("dst"),
    )
    if len(_EMISSION_SELECT_CACHE) > 64:  # a bound, not an eviction policy
        _EMISSION_SELECT_CACHE.clear()
    _EMISSION_SELECT_CACHE[cache_key] = (inner_cols, outer_cols)
    return joined.select(*inner_cols).select(*outer_cols)


@dataclass
class GraphStats:
    """Result of get_stats (GraphDB.hs:355-356): counts over the subgraph
    reachable from root — (nodes, distinct edges, index entries)."""

    nodes: int
    edges: int
    index_entries: int

    def as_tuple(self) -> tuple[int, int, int]:
        return (self.nodes, self.edges, self.index_entries)


class GraphSnapshot:
    """An immutable point-in-time state of the graph (the readers' view —
    the fair-RWLock read side of Nonpersistent.hs:51-56 is free here because
    snapshots never mutate)."""

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        edge_index: DataFrame,
        schema: GraphSchema,
    ):
        self.vertices = vertices
        self.edges = edges
        self.edge_index = edge_index
        self.schema = schema

    # -- construction ------------------------------------------------------

    @staticmethod
    def empty(
        spark: SparkSession,
        schema: GraphSchema,
        payload_fields: list[T.StructField] | None = None,
        root_payload: dict | None = None,
    ) -> "GraphSnapshot":
        vschema = vertices_schema(payload_fields)
        root_row = {"id": ROOT_ID, "kind": "Root", **(root_payload or {})}
        vertices = spark.createDataFrame([root_row], vschema)
        return GraphSnapshot(
            vertices,
            spark.createDataFrame([], edges_schema()),
            spark.createDataFrame([], edge_index_schema()),
            schema,
        )

    @staticmethod
    def from_tables(
        vertices: DataFrame,
        edges: DataFrame,
        schema: GraphSchema,
        broadcast_vertices: bool = False,
        edges_distinct: bool = False,
    ) -> "GraphSnapshot":
        """Bulk load: caller supplies vertices (deterministic ids) + edges;
        the index layer is emitted in one pass (the write-time analogue of
        the reference's per-insert emission, amortized). Set
        ``broadcast_vertices`` when the vertex table is dimension-sized.
        Set ``edges_distinct`` when the caller guarantees (src, dst) is
        already duplicate-free (e.g. every union branch is keyed by a
        primary key and branch dst-id spaces are disjoint): the global
        dedup exchange is then skipped outright (guide §2.4) — set
        semantics are the caller's proof obligation."""
        edges = edges.select("src", "dst")
        if not edges_distinct:
            edges = edges.dropDuplicates(["src", "dst"])
        return GraphSnapshot(
            vertices,
            edges,
            emit_edge_index(edges, vertices, schema, broadcast_vertices),
            schema,
        )

    @property
    def spark(self) -> SparkSession:
        return self.vertices.sparkSession

    def payload_schema(self) -> T.StructType:
        return T.StructType([f for f in self.vertices.schema.fields if f.name not in ("id", "kind")])

    # -- reads (the ReadOrWrite surface) -----------------------------------

    def get_root(self) -> int:
        """GraphDB.hs:318-319 — the distinguished entry point."""
        return ROOT_ID

    def get_value(self, node_id: int) -> dict | None:
        """GraphDB.hs:306-309 — point lookup of a node payload."""
        rows = self.vertices.filter(F.col("id") == node_id).limit(1).collect()
        return rows[0].asDict() if rows else None

    def get_values(self, ids: DataFrame) -> DataFrame:
        """Set-oriented get_value: final projection after traversal joins
        (the ``mapM getValue`` tail of APITests/Catalogue.hs:84-86)."""
        return ids.join(self.vertices, "id")

    def get_targets(
        self, frontier, idx_tag: str, idx_key=None
    ) -> DataFrame:
        """The sole forward-navigation/filter primitive (GraphDB.hs:322-327,
        Graph.hs:129-133): targets of *frontier* under one index.

        *frontier* is an int node id or a DataFrame with an ``id`` column.
        Returns a DataFrame ``id`` of distinct target ids.
        """
        ei = self._index_entries(idx_tag, idx_key)
        if isinstance(frontier, int):
            # Point lookup: plain filter — Catalyst pushes tag/key/src down.
            return ei.filter(F.col("src") == frontier).select(F.col("dst").alias("id")).distinct()
        # Set-oriented: equi-join; small frontiers broadcast under AQE.
        return (
            ei.join(frontier.select(F.col("id").alias("src")), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )

    def walk(self, frontier, steps) -> DataFrame:
        """A whole ``get_targets`` chain as ONE lazy plan: each hop filters
        ``edge_index`` by tag (and key) and keeps the rows whose ``src`` is
        the int *frontier* or a left-semi match of the previous hop's ids.

        *steps* is a non-empty iterable of index tags or (idx_tag, idx_key)
        pairs. Returns a DataFrame ``id``. Unlike ``get_targets`` no hop
        runs ``distinct()`` (each would add a shuffle): an id reached
        through several edges of the LAST hop appears once per such edge
        (fan-in), so callers that need a set dedup the result. Earlier
        hops never multiply rows — a semi join keeps each index row at
        most once."""
        steps = list(steps)
        if not steps:
            raise ValueError("walk requires at least one step")
        out = frontier
        for step in steps:
            tag, key = (step, None) if isinstance(step, str) else step
            ei = self._index_entries(tag, key)
            if isinstance(out, int):
                ei = ei.filter(F.col("src") == out)
            else:
                ei = ei.join(out.select(F.col("id").alias("src")), "src", "left_semi")
            out = ei.select(F.col("dst").alias("id"))
        return out

    def _index_entries(self, idx_tag: str, idx_key=None) -> DataFrame:
        ei = self.edge_index.filter(F.col("idx_tag") == idx_tag)
        if idx_key is not None:
            ei = ei.filter(F.col("idx_key") == str(idx_key))
        return ei

    def get_sources(self, frontier) -> DataFrame:
        """Reverse traversal (traverseSources, Graph.hs:79-80,135-139): the
        reference keeps a reverse-adjacency set; for us the edges table
        joined on ``dst`` serves both directions."""
        if isinstance(frontier, int):
            return self.edges.filter(F.col("dst") == frontier).select(F.col("src").alias("id")).distinct()
        return (
            self.edges.join(frontier.select(F.col("id").alias("dst")), "dst")
            .select(F.col("src").alias("id"))
            .distinct()
        )

    def get_all_targets(self, frontier) -> DataFrame:
        """traverseTargets (Graph.hs:72-77): distinct targets across all
        indexes — the edges table already holds exactly that set."""
        if isinstance(frontier, int):
            return self.edges.filter(F.col("src") == frontier).select(F.col("dst").alias("id")).distinct()
        return (
            self.edges.join(frontier.select(F.col("id").alias("src")), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )

    # -- whole-graph analytics ---------------------------------------------

    def reachable(
        self,
        root_id: int = ROOT_ID,
        max_iters: int = 1000,
    ) -> DataFrame:
        """BFS from root via iterative frontier joins — the Pregel-style
        re-expression of the reference's queue+visited-set walk
        (Graph.hs:82-118). Driver loop (Catalyst has no recursion); lineage
        truncated per level with localCheckpoint (``pregel._bfs``)."""
        edges = self.edges.select("src", "dst").persist()
        try:
            return self._reachable_on(edges, root_id, max_iters)
        finally:
            edges.unpersist()

    # Above this many visited ids the BFS stops broadcasting the visited/
    # frontier frames and falls back to shuffle joins: 8M longs ≈ 100 MB
    # serialized — past typical executor broadcast budgets, and far below
    # Spark's 8 GB broadcast hard limit so the switch happens while the
    # broadcast path is still safe.
    BFS_BROADCAST_MAX_IDS = 8_000_000

    def _reachable_on(
        self,
        edges: DataFrame,
        root_id: int,
        max_iters: int,
    ) -> DataFrame:
        """BFS over a caller-persisted narrow (src, dst) frame → the
        checkpointed reachable id set. ``pregel._bfs`` runs the level
        loop; this method only supplies the level expansion.

        The frontier and visited
        frames — bounded by the reachable-node count — are broadcast, so
        each level is ONE shuffle (the distinct over newly-found dsts):
        the cached edge list is scanned in place (BroadcastHashJoin inner
        + LeftAnti, no exchange on the fat side), and the anti-join runs
        BEFORE the distinct so already-visited dsts never enter the
        shuffle. The broadcast is SIZE-GUARDED, not unconditional: the
        level sizes are observed on their checkpoints, and once the
        visited set passes BFS_BROADCAST_MAX_IDS it degrades to
        shuffle joins + AQE mid-traversal, so a 100M-node reachable set
        completes instead of failing on the broadcast limit.

        Degraded-mode shuffle is LEVEL-SIZED, not edge-table-sized
        (round-11 verdict item 4: 60 MB at 10× → 2,256 MB at 30× for 3×
        the data). Two causes, both fixed here:

        * Catalyst's PushLeftSemiLeftAntiThroughJoin rewrites
          ``(edges ⋈ frontier) ⟕anti visited`` into
          ``(edges ⟕anti visited on dst) ⋈ frontier`` — correct under
          broadcast hints (no exchange anywhere) but catastrophic as
          shuffle joins: the FULL edge table exchanges on dst for the
          anti-join and its E-sized output re-exchanges on src for the
          frontier join, EVERY level (measured: ~115 MB + ∝|visited|
          per level at 10×). Degraded levels therefore materialize the
          candidate set (a level-sized checkpoint — the same barrier the
          loop already pays for the frontier) between the two joins, so
          the anti-join's left side is |frontier|·fanout ids, never E.
        * The frontier join's edge side is a src-partitioned,
          partition-sorted, persisted twin, built ONCE at first degrade
          (one E-sized exchange total): each level's sort-merge join
          reuses its partitioning and sort order, so only the frontier
          and the visited set — the honest per-level floor — move
          through the network."""
        from graph_db_spark.pregel import _bfs

        spark = self.spark
        try:
            nparts = max(
                spark.sparkContext.defaultParallelism,
                int(spark.conf.get("spark.sql.shuffle.partitions")),
            )
        except Exception:
            nparts = spark.sparkContext.defaultParallelism
        twin: list[DataFrame] = []  # degraded-mode edge twin, built once (see above)
        scratch: list[DataFrame] = []

        def expand(frontier, visited, _level, n_visited):
            src = frontier.withColumnRenamed("id", "src")
            if n_visited <= self.BFS_BROADCAST_MAX_IDS:
                return (
                    edges.join(F.broadcast(src), "src")
                    .select(F.col("dst").alias("id"))
                    .join(F.broadcast(visited), "id", "left_anti")
                    .distinct()
                )
            # degraded mode: checkpoint the candidates so the anti-join
            # cannot be pushed below the frontier join onto the raw edge
            # table (see docstring)
            if not twin:
                twin.append(
                    edges.repartition(nparts, "src").sortWithinPartitions("src").persist()
                )
            cand = (
                twin[0].join(src, "src")
                .select(F.col("dst").alias("id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            scratch.append(cand)
            return cand.join(visited, "id", "left_anti")

        try:
            start = spark.createDataFrame([(root_id,)], "id LONG")
            return _bfs(start, expand, max_iters, ["id"], keep_levels=False, scratch=scratch)
        finally:
            if twin:
                twin[0].unpersist()

    def get_stats(self) -> GraphStats:
        """GraphDB.hs:355-356 / Graph.hs:82-118: (reachable nodes, distinct
        edges from reachable nodes, index entries from reachable nodes).

        The narrow edge list is persisted ONCE for the whole call — the
        BFS levels and the n_edges semi-join all reuse it instead of
        re-deriving edges from source per count — and the reachable set
        (a localCheckpointed frame of ids) broadcasts into both semi-joins
        so the 2.7M-row edge_index never shuffles."""
        from graph_db_spark.session import capped_initial_partitions

        edges = self.edges.select("src", "dst").persist()
        try:
            # frontier-sized per-level shuffles: cap AQE's initial
            # exchange width for the whole BFS + both semi-join counts
            # (the session default starts wide for corpus shuffles;
            # paying its per-exchange constant per BFS level measured
            # get_stats 4.0 -> 5.4 s at sf0.1, round 14)
            with capped_initial_partitions(edges.sparkSession):
                reach = self._reachable_on(edges, ROOT_ID, 1000)
                n_nodes = reach.count()
                # same size guard as the BFS loop: the known count decides
                use_bcast = n_nodes <= self.BFS_BROADCAST_MAX_IDS
                hint = F.broadcast if use_bcast else (lambda df: df)
                reach_src = hint(reach.withColumnRenamed("id", "src"))
                # the two counts are independent jobs over already-pinned
                # inputs — overlap them (guide §2.6) so stats latency is
                # max(count jobs), not their sum; at scale each is a full
                # pass over its table
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    fe = pool.submit(
                        edges.join(reach_src, "src", "left_semi").count
                    )
                    fi = pool.submit(
                        self.edge_index.join(reach_src, "src", "left_semi").count
                    )
                    n_edges, n_idx = fe.result(), fi.result()
                return GraphStats(n_nodes, n_edges, n_idx)
        finally:
            edges.unpersist()

    # -- mutation (set-oriented, one pass per commit) ----------------------

    def apply_events(self, events: DataFrame) -> "GraphSnapshot":
        """Apply a WAL event batch in one set-oriented pass.

        Net-effect semantics, equivalent to the reference's sequential
        interpretation of the same log (Persistent.hs:126-171):

        * vertices — the latest NewNode/SetValue per node wins;
        * edges    — per (src, dst): alive iff the latest of
                     {AddTarget(seq), RemoveTarget(seq), Remove(dst→seq),
                      pre-existing edge (seq = -1)} is an add
                     (idempotent set insert per Graph.hs:57-61; Remove
                     unlinks from all sources per Graph.hs:126-127);
        * edge_index — delete rows for every touched pair and every pair
                     whose dst was re-valued, then re-emit from the final
                     state (set_value re-indexing, Graph.hs:46-55).
        """
        spark = self.spark
        payload = self.payload_schema()
        ev = events.cache()

        # ---- vertices: last NewNode/SetValue per node wins
        vev = ev.filter(F.col("op").isin(OP_NEW_NODE, OP_SET_VALUE))
        from pyspark.sql import Window as W

        latest = (
            vev.withColumn(
                "rn",
                F.row_number().over(W.partitionBy("node_id").orderBy(F.col("seq").desc())),
            )
            .filter(F.col("rn") == 1)
            .select(
                F.col("node_id").alias("id"),
                F.col("kind"),
                F.from_json("value", payload).alias("v"),
            )
            .select("id", "kind", *[F.col(f"v.{f.name}").alias(f.name) for f in payload.fields])
        )
        new_vertices = (
            self.vertices.join(latest.select("id"), "id", "left_anti").unionByName(latest)
        )

        # ---- edges: per-pair net effect
        adds = ev.filter(F.col("op") == OP_ADD_TARGET).select("src", "dst", "seq")
        pre = self.edges.select("src", "dst", F.lit(-1).cast("long").alias("seq"))
        all_adds = adds.unionByName(pre).groupBy("src", "dst").agg(F.max("seq").alias("add_seq"))
        rems = (
            ev.filter(F.col("op") == OP_REMOVE_TARGET)
            .groupBy("src", "dst")
            .agg(F.max("seq").alias("rem_seq"))
        )
        node_rems = (
            ev.filter(F.col("op") == OP_REMOVE)
            .groupBy(F.col("node_id").alias("dst"))
            .agg(F.max("seq").alias("node_rem_seq"))
        )
        resolved = (
            all_adds.join(rems, ["src", "dst"], "left")
            .join(node_rems, "dst", "left")
            .withColumn(
                "alive",
                (F.col("add_seq") > F.coalesce(F.col("rem_seq"), F.lit(-2)))
                & (F.col("add_seq") > F.coalesce(F.col("node_rem_seq"), F.lit(-2))),
            )
        )
        new_edges = resolved.filter("alive").select("src", "dst")

        # ---- edge_index: delete touched, re-emit from final state
        edge_ev_pairs = (
            ev.filter(F.col("op").isin(OP_ADD_TARGET, OP_REMOVE_TARGET))
            .select("src", "dst")
            .distinct()
        )
        removed_nodes = ev.filter(F.col("op") == OP_REMOVE).select(
            F.col("node_id").alias("dst")
        ).distinct()
        revalued = latest.select(F.col("id").alias("dst")).distinct()
        touched_pairs = (
            edge_ev_pairs.unionByName(
                self.edges.join(removed_nodes, "dst", "left_semi").select("src", "dst")
            )
            .unionByName(
                self.edges.join(revalued, "dst", "left_semi").select("src", "dst")
            )
        )
        # Re-valuing a node re-indexes its *source* edges (dst-payload
        # exprs, the reference's Graph.hs:46-55 semantics). If any
        # IndexSpec also reads src_-prefixed payload (allowed by
        # model.IndexSpec), edges OUT of a re-valued node hold stale keys
        # too — include them, but only when such a spec exists (no shipped
        # schema has one, so this branch normally costs nothing).
        if any(
            spec.key_expr and "src_" in spec.key_expr
            for ek in self.schema.edge_kinds
            for spec in ek.indexes
        ):
            revalued_src = latest.select(F.col("id").alias("src")).distinct()
            touched_pairs = touched_pairs.unionByName(
                self.edges.join(revalued_src, "src", "left_semi").select("src", "dst")
            )
        touched_pairs = touched_pairs.distinct()
        kept_index = self.edge_index.join(touched_pairs, ["src", "dst"], "left_anti")
        reemit_pairs = new_edges.join(touched_pairs, ["src", "dst"], "left_semi")
        new_index = kept_index.unionByName(
            emit_edge_index(reemit_pairs, new_vertices, self.schema)
        )

        return GraphSnapshot(new_vertices, new_edges, new_index, self.schema)

    def apply_insert_batch(
        self,
        events: DataFrame,
        staged: list[dict] | None = None,
        src_kinds: dict[int, str] | None = None,
    ) -> "GraphSnapshot":
        """Append-only fast path for insert-only commits (the reference's
        dominant OLTP shape, Benchmarks/GraphDB.hs:104-110: newNode +
        addTarget).

        Precondition (checked by the caller from the staged event list):
        the batch contains only NewNode/AddTarget ops and every AddTarget's
        dst is a node minted in the same batch — so no staged pair can
        already exist, and plain unions ARE the net effect: no window over
        event seq, no anti-joins, no touched-pair re-emission. Each union
        branch is append-only, keeping the commit at three shallow jobs.

        When the caller also provides the staged event list and the kinds
        of every referenced src node (*src_kinds*), index emission skips
        Spark joins entirely: the joined (src, dst, kinds, payload) rows
        are built driver-side — they ARE driver-side already — and only
        the emission projection runs on the cluster. This removes 2-3
        broadcast exchanges + a base-table scan per commit, the latency
        floor of the OLTP micro-commit path. (Falls back to the join path
        when an IndexSpec reads src_ payload, which driver rows don't
        carry.)
        """
        payload = self.payload_schema()
        # One partition per union branch: createDataFrame slices even a
        # 100-row staged batch across defaultParallelism (32) partitions,
        # so an OLTP loop's lazy union stack grows +32 partitions per
        # commit per table — by the 4th commit localCheckpoint schedules
        # ~300 near-empty tasks (measured: 2.5 s per materialize, the
        # whole micro-commit floor). Staged batches are driver-sized by
        # construction, so coalesce(1) is always right here; the forced
        # broadcasts below make planner size-stats irrelevant (unlike
        # events_df, where coalesce hides LocalTableScan stats — see
        # WriteTx.events_df).
        new_v = (
            events.filter(F.col("op") == OP_NEW_NODE)
            .select(
                F.col("node_id").alias("id"),
                F.col("kind"),
                F.from_json("value", payload).alias("v"),
            )
            .select("id", "kind", *[F.col(f"v.{f.name}").alias(f.name) for f in payload.fields])
            .coalesce(1)
        )
        new_pairs = (
            events.filter(F.col("op") == OP_ADD_TARGET)
            .select("src", "dst")
            .distinct()
            .coalesce(1)
        )
        needs_src_payload = any(
            spec.key_expr and "src_" in spec.key_expr
            for ek in self.schema.edge_kinds
            for spec in ek.indexes
        )
        if staged is not None and src_kinds is not None and not needs_src_payload:
            # -- driver-built emission input: no joins, no broadcasts
            minted: dict[int, tuple[str, dict]] = {}
            for e in staged:
                if e["op"] == OP_NEW_NODE:
                    minted[e["node_id"]] = (e["kind"], json.loads(e["value"] or "{}"))
            pairs = sorted(
                {(e["src"], e["dst"]) for e in staged if e["op"] == OP_ADD_TARGET}
            )
            rows = [
                {
                    "src": s,
                    "dst": d,
                    "__src_kind": src_kinds[s],
                    "__dst_kind": minted[d][0],
                    **{
                        f.name: json_coerce(minted[d][1].get(f.name), f.dataType)
                        for f in payload.fields
                    },
                }
                for s, d in pairs
            ]
            joined_schema = T.StructType(
                [
                    T.StructField("src", T.LongType(), False),
                    T.StructField("dst", T.LongType(), False),
                    T.StructField("__src_kind", T.StringType(), False),
                    T.StructField("__dst_kind", T.StringType(), False),
                ]
                + payload.fields
            )
            joined = local_frame(self.spark, rows, joined_schema).coalesce(1)
            emitted = emission_projection(joined, self.schema)
        else:
            # Emission only needs the dst payloads (all minted in this
            # batch) plus the src vertices (a tiny distinct set — often
            # just the root): semi-join the base table once instead of
            # joining the full (and possibly lazily-stacked) vertex union
            # twice.
            srcs = events.filter(F.col("op") == OP_ADD_TARGET).select(
                F.col("src").alias("id")
            ).distinct()
            emit_vertices = self.vertices.join(
                F.broadcast(srcs), "id", "left_semi"
            ).unionByName(new_v)
            emitted = emit_edge_index(
                new_pairs, emit_vertices, self.schema, broadcast_vertices=True
            )
        # Eagerly checkpoint the three tiny (1-partition) branches NOW, in
        # parallel: each commit's json/emission projections compile and run
        # once, on a shallow single-branch plan, and the snapshot becomes a
        # union of plain checkpoint scans. Without this, every 4th-commit
        # materialize re-plans + re-codegens the whole stacked tree (wide
        # from_json payload x N branches) — measured as the entire OLTP
        # micro-commit floor (3-8 s spikes). Three 1-task jobs cost
        # ~0.1 s total and make later compaction codegen-free.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            new_vertices, new_edges, emitted = pool.map(
                lambda df: df.localCheckpoint(eager=True),
                (new_v, new_pairs, emitted),
            )
        new_vertices = self.vertices.unionByName(new_vertices)
        new_edges = self.edges.unionByName(new_edges)
        new_index = self.edge_index.unionByName(emitted)
        return GraphSnapshot(new_vertices, new_edges, new_index, self.schema)

    def materialize(self) -> "GraphSnapshot":
        """Truncate lineage after a commit (the cheap local analogue of
        writing the snapshot tables; storage.checkpoint persists for real).

        The three table checkpoints are independent Spark jobs — submit
        them from a thread pool so they overlap (the scheduler interleaves
        their tasks; per-commit latency drops to ~the slowest job instead
        of the sum, which dominates the OLTP micro-commit path).

        Partition hygiene: every commit union appends the event batch's
        partitions, so an OLTP loop grows the snapshot's partition count
        without bound — hundreds of near-empty tasks per checkpoint, and
        every emission broadcast re-scans them. Tables that crept past
        2× the scheduler's parallelism are coalesced (narrow, no shuffle)
        back to it before checkpointing; big tables under the cap are
        left alone."""
        from concurrent.futures import ThreadPoolExecutor

        p = self.spark.sparkContext.defaultParallelism

        def ckpt(df: DataFrame) -> DataFrame:
            if df.rdd.getNumPartitions() > 2 * p:
                df = df.coalesce(p)
            return df.localCheckpoint(eager=True)

        with ThreadPoolExecutor(max_workers=3) as pool:
            v, e, i = pool.map(ckpt, (self.vertices, self.edges, self.edge_index))
        return GraphSnapshot(v, e, i, self.schema)


class WriteTx:
    """A staged write transaction — the ``Write`` monad of GraphDB.hs:239-261.

    Ops stage WAL events driver-side; ``GraphSession.write`` applies them in
    one set-oriented pass at commit. Reads *inside* the tx observe staged
    mutations (the reference's in-place semantics) by applying the staged
    prefix to the base snapshot on demand.
    """

    def __init__(self, session: "GraphSession"):
        self._s = session
        self.events: list[dict] = []
        self._dirty_view: GraphSnapshot | None = None

    # -- the 9 ops ---------------------------------------------------------

    def get_root(self) -> int:
        return ROOT_ID

    def new_node(self, kind: str, **payload) -> int:
        """GraphDB.hs:301-302 — allocate a detached node. Ids come from the
        session's deterministic allocator (stable across replay — SURVEY
        §2.10's positional-ref simplification)."""
        node_id = self._s._next_id
        self._s._next_id += 1
        self._stage(OP_NEW_NODE, node_id=node_id, kind=kind, value=json.dumps(payload))
        return node_id

    def get_value(self, node_id: int) -> dict | None:
        return self._view().get_value(node_id)

    def set_value(self, node_id: int, kind: str, **payload) -> None:
        """GraphDB.hs:313-314 — replace payload; re-indexes vs every source
        at commit (Graph.hs:46-55)."""
        self._stage(OP_SET_VALUE, node_id=node_id, kind=kind, value=json.dumps(payload))

    def get_targets(self, frontier, idx_tag: str, idx_key=None) -> DataFrame:
        return self._view().get_targets(frontier, idx_tag, idx_key)

    def walk(self, frontier, steps) -> DataFrame:
        return self._view().walk(frontier, steps)

    def add_target(self, src: int, dst: int) -> None:
        """GraphDB.hs:335-336 — link src→dst; index emission at commit;
        idempotent (Graph.hs:57-61)."""
        self._stage(OP_ADD_TARGET, src=src, dst=dst)

    def remove_target(self, src: int, dst: int) -> None:
        self._stage(OP_REMOVE_TARGET, src=src, dst=dst)

    def remove(self, node_id: int) -> None:
        """GraphDB.hs:348-349 — unlink from all sources (Graph.hs:126-127)."""
        self._stage(OP_REMOVE, node_id=node_id)

    def get_stats(self) -> GraphStats:
        return self._view().get_stats()

    # -- plumbing ----------------------------------------------------------

    def _stage(self, op: str, node_id=None, src=None, dst=None, kind=None, value=None):
        # reads after this staging must rebuild the dirty view — a cached
        # one would show a stale prefix (read-write-read inside one tx)
        self._dirty_view = None
        self._s._next_seq += 1
        self.events.append(
            {
                "seq": self._s._next_seq,
                "tx_id": self._s._next_tx,
                "op": op,
                "node_id": node_id,
                "src": src,
                "dst": dst,
                "kind": kind,
                "value": value,
            }
        )
        self._dirty_view = None

    def events_df(self) -> DataFrame:
        # NOTE: no coalesce here — wrapping the LocalTableScan hides its
        # size from the planner, which then sort-merge-joins (full snapshot
        # shuffle) instead of broadcasting the batch into index emission:
        # measured 2.5x slower per commit. local_frame keeps the scan an
        # Arrow LocalTableScan (JVM-side) rather than a pickled RDD.
        return local_frame(self._s.spark, self.events, EVENT_SCHEMA)

    def _view(self) -> GraphSnapshot:
        if not self.events:
            return self._s.snapshot
        if self._dirty_view is None:
            self._dirty_view = self._s.snapshot.apply_events(self.events_df())
        return self._dirty_view


class GraphSession:
    """A live database session over snapshot state — the analogue of the
    reference's nonpersistent session (library/GraphDB.hs:118-131).

    Readers always see the committed snapshot (immutable — read concurrency
    is free); writers commit through ``write`` which is effectively the
    exclusive side of the reference's fair RWLock (Nonpersistent.hs:51-56):
    single-threaded driver commits.
    """

    # Materialize (localCheckpoint) the snapshot only every Nth commit:
    # checkpointing copies the whole snapshot, so per-commit cost is
    # O(|snapshot|); with lazy union-plans in between, N-1 of every N
    # commits cost only plan construction, and lineage depth stays <= N.
    MATERIALIZE_EVERY = 4

    def __init__(self, snapshot: GraphSnapshot, next_id: int | None = None,
                 next_seq: int = 0, next_tx: int = 0, storage=None):
        self.snapshot = snapshot
        if next_id is None:
            row = snapshot.vertices.agg(F.max("id").alias("m")).collect()[0]
            next_id = (row["m"] or 0) + 1
        self._next_id = next_id
        self._next_seq = next_seq
        self._next_tx = next_tx
        self._lazy_commits = 0
        self._general_pending = False  # a general commit awaits truncation
        self.storage = storage  # optional EventLogStorage (persistence layer)
        # node-id → kind, maintained from committed events (+ lazy point
        # lookups) so insert commits can build index-emission input
        # driver-side. Kinds only change via set_value, which updates the
        # cache; bounded by a size cap (drop-all on overflow — it is a
        # cache, correctness falls back to the join path).
        self._kind_cache: dict[int, str] = {}

    @property
    def spark(self) -> SparkSession:
        return self.snapshot.spark

    def read(self, fn):
        """GraphDB.hs:278-283 — run a read program against the snapshot."""
        return fn(self.snapshot)

    def _resolve_src_kinds(
        self, staged: list[dict], minted_kinds: dict[int, str]
    ) -> dict[int, str] | None:
        """Kinds for every AddTarget src in the batch, from this batch's
        mints, the session cache, or ONE batched point lookup against the
        snapshot (whose results are cached — steady-state OLTP loops never
        look up again). Returns None only if a src id doesn't exist, which
        the join path resolves to no emission the same way."""
        src_ids = {e["src"] for e in staged if e["op"] == OP_ADD_TARGET}
        kinds: dict[int, str] = {}
        missing: list[int] = []
        for s in src_ids:
            k = minted_kinds.get(s) or self._kind_cache.get(s)
            if k is None:
                missing.append(s)
            else:
                kinds[s] = k
        if missing:
            found = (
                self.snapshot.vertices.filter(F.col("id").isin(missing))
                .select("id", "kind")
                .collect()
            )
            for r in found:
                kinds[r["id"]] = r["kind"]
                self._kind_cache[r["id"]] = r["kind"]
            if len(found) < len(missing):
                return None  # dangling src — let the join path decide
        return kinds

    def write(self, fn, materialize: bool = True):
        """GraphDB.hs:285-289 — run a write program, commit its staged
        events (one set-oriented apply + optional WAL append)."""
        tx = self.begin()
        result = fn(tx)
        self.commit(tx, materialize=materialize)
        return result

    def begin(self) -> "WriteTx":
        """Open an interactive write transaction. Ops stage against it;
        ``commit`` applies them. The split (vs the closed ``write(fn)``
        program form) exists for the remote session layer, whose clients
        stream ops one request at a time (Server.hs:17-64's command
        processor) and only commit on the protocol's Finish."""
        return WriteTx(self)

    def commit(self, tx: "WriteTx", materialize: bool = True) -> None:
        """Apply a transaction's staged events as one set-oriented commit
        (+ optional async WAL append)."""
        self._next_tx += 1
        if tx.events:
            ev_df = tx.events_df()
            minted_kinds = {
                e["node_id"]: e["kind"] for e in tx.events if e["op"] == OP_NEW_NODE
            }
            insert_only = all(
                e["op"] == OP_NEW_NODE
                or (e["op"] == OP_ADD_TARGET and e["dst"] in minted_kinds)
                for e in tx.events
            )
            if insert_only:
                src_kinds = self._resolve_src_kinds(tx.events, minted_kinds)
                new_snap = self.snapshot.apply_insert_batch(
                    ev_df,
                    staged=tx.events if src_kinds is not None else None,
                    src_kinds=src_kinds,
                )
            else:
                new_snap = self.snapshot.apply_events(ev_df)
            if len(self._kind_cache) > 2_000_000:
                self._kind_cache.clear()
            self._kind_cache.update(minted_kinds)
            for e in tx.events:
                if e["op"] == OP_SET_VALUE:
                    self._kind_cache[e["node_id"]] = e["kind"]
            self._lazy_commits += 1
            if not insert_only:
                self._general_pending = True
            # Insert-path commits checkpoint their own branches eagerly
            # (apply_insert_batch), so the snapshot is a shallow union of
            # checkpoint scans — the periodic full materialize is then pure
            # compaction and only needs to run when the stack's partition
            # count (≈ one per commit) approaches the coalesce guard.
            # General (apply_events) commits materialize every Nth: their
            # window/anti-join trees deepen the plan for every later query
            # until truncated. The threshold must reflect whether ANY
            # general commit is pending since the last materialize — not
            # just the current commit's shape — or a general tree created
            # by commit k survives un-truncated under a later stream of
            # insert-only commits (round-5 review finding).
            threshold = (
                self.MATERIALIZE_EVERY
                if self._general_pending
                else 2 * self.spark.sparkContext.defaultParallelism
            )
            if materialize and self._lazy_commits >= threshold:
                self.snapshot = new_snap.materialize()
                self._lazy_commits = 0
                self._general_pending = False
            else:
                self.snapshot = new_snap
            if self.storage is not None:
                # Buffered persistence (Persistent.hs:62-69): enqueue the
                # append on the storage's I/O worker — the commit returns
                # without waiting on log I/O; checkpoint/load/close barrier
                # on storage.flush(). The append writes the staged list
                # driver-side with pyarrow: no Spark job.
                self.storage.persist_events_async(list(tx.events))
