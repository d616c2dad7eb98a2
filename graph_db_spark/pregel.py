"""Pregel-style graph analytics: the reference's getStats BFS
(Graph.hs:82-118) generalized into DataFrame join loops — ``bfs_levels``,
``tagged_bfs_levels``, ``connected_components``,
``connected_components_star``, ``shortest_paths``, ``pagerank``,
``personalized_pagerank``, ``kcore`` and ``label_propagation``.

Each operator only defines a step and a convergence signature; one of two
private drivers runs it. ``_fixpoint`` folds ``_ROUND_FOLD`` rounds into
one eager ``localCheckpoint`` (Catalyst has no recursion; the checkpoint
truncates lineage), observes the signature on that same action, tests
convergence, counts rounds and releases the superseded generation.
``_bfs`` runs the level loop: observed level sizes, a lazy visited union
consolidated every ``_VISITED_CONSOLIDATE`` levels, and the releases.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, functions as F

from graph_db_spark.session import frontier_paced

#: Consolidate the BFS visited union into one checkpoint every N levels:
#: bounds the anti-join plan at N union branches, and rewrites the whole
#: visited set every Nth level instead of every level.
_VISITED_CONSOLIDATE = 8

#: Logical rounds composed lazily into ONE checkpoint job: driver-blocking
#: actions halve, shuffle bytes stay flat (±1%, plans/r17/pregel_fold_ab.md).
#: Bit-identical: folded steps are idempotent at their fixpoint and the
#: signatures monotone. 1 runs unfolded (the tests' reference path).
_ROUND_FOLD = 2


def release(df: DataFrame | None) -> None:
    """Drop a superseded localCheckpoint's blocks (they bypass the
    CacheManager, so ``unpersist`` can't), else they stay for the
    session's life. Only for frames nothing downstream reads: a
    truncated-lineage frame cannot be recomputed. Frames that are not
    checkpoint scans, and None, are left alone."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort hygiene; never fail the computation over it


def _release_all(frames: list | None) -> None:
    while frames:
        release(frames.pop())


def _rows() -> dict:
    return {"n": F.count(F.lit(1))}


def _project(df: DataFrame, cols: list[str] | None) -> DataFrame:
    return df if cols is None or df.columns == cols else df.select(*cols)


def _checkpoint(
    df: DataFrame, signature: dict | None = None, cols: list[str] | None = None
) -> tuple[DataFrame, dict | None]:
    """Eager-localCheckpoint *df* projected to *cols* → (frame, *signature*
    values or None), observed exactly on the checkpoint action itself (no
    extra job); it may read columns the projection drops."""
    if not signature:
        return _project(df, cols).localCheckpoint(eager=True), None
    obs = Observation()
    df = df.observe(obs, *[expr.alias(name) for name, expr in signature.items()])
    return _project(df, cols).localCheckpoint(eager=True), obs.get


def _unchanged(prev: tuple, cur: tuple) -> bool:
    return prev[1] == cur[1]


def _fixpoint(
    state: DataFrame,
    step,
    max_iters: int,
    signature: dict | None = None,
    sig: dict | None = None,
    converged=_unchanged,
    fold: bool = True,
    per_round: bool = False,
    scratch: list | None = None,
) -> tuple[DataFrame, int]:
    """Iterate the lazy *step* from the checkpointed *state* → (state, rounds).

    Each pass composes ``_ROUND_FOLD`` steps (1 if not *fold*) and
    checkpoints once, observing *signature*. Without one the loop runs
    *max_iters* rounds; with one it stops when ``converged(prev, cur)``
    holds for (frame, values) pairs (*sig*: the start's values), by
    default when the values are unchanged.

    *per_round* tests every logical round: the signature must be the row
    count ``n``, and inner steps get ``step(frame, probe)``, *probe* an
    observed twin the step streams exactly once. AQE may prune a probe
    with its metrics when the pass ends empty; those rounds are then
    recounted from their lazy frames. Frames a step checkpoints itself go
    on *scratch*, released with the superseded state."""
    cols = state.columns
    rounds = 0
    while rounds < max_iters:
        k = min(_ROUND_FOLD if fold else 1, max_iters - rounds)
        cur, inner = state, []
        for i in range(k):
            cur = _project(cur, cols)
            if per_round and i:
                obs = Observation()
                inner.append((cur, obs))
                cur = step(cur, cur.observe(obs, *[e.alias(n) for n, e in signature.items()]))
            else:
                cur = step(cur)
        new, new_sig = _checkpoint(cur, signature, cols)
        done = False
        if signature is None:
            rounds += k
        else:
            if per_round and not new_sig["n"]:
                seen = [(mid, {"n": mid.count()}) for mid, _ in inner]
            else:
                seen = [(mid, obs.get) for mid, obs in inner]
            prev = (state, sig)
            for pair in seen + [(new, new_sig)]:
                rounds += 1 if per_round else k
                if converged(prev, pair):
                    done = True
                    break
                prev = pair
            sig = new_sig
        release(state)
        _release_all(scratch)
        state = new
        if done:
            break
    return state, rounds


def _bfs(
    start: DataFrame,
    expand,
    max_iters: int,
    key: list[str],
    keep_levels: bool = True,
    scratch: list | None = None,
):
    """The BFS level loop (Graph.hs:87-117's visited-set queue, set-oriented).

    ``expand(frontier, visited, level, n_visited)`` returns the next level
    lazily, anti-joined against *visited* (the *key* columns of all levels
    so far, *n_visited* rows); each level is checkpointed with its size
    observed, and an empty one ends the walk. Levels are checkpoints
    already, so *visited* is a lazy union over them, consolidated only
    every ``_VISITED_CONSOLIDATE`` levels (not O(|V|·depth) bytes and a
    job per level). Returns the level frames if *keep_levels*, else the
    visited set as one checkpoint, releasing levels once superseded and
    consolidated. *scratch* as in ``_fixpoint``."""
    frontier, sig = _checkpoint(start, _rows())
    n_visited = sig["n"]
    levels = [frontier]
    visited = _project(frontier, key)
    consolidated, pending = None, 0
    for level in range(1, max_iters + 1):
        nxt, sig = _checkpoint(expand(frontier, visited, level, n_visited), _rows())
        _release_all(scratch)
        if not sig["n"]:
            release(nxt)
            break
        n_visited += sig["n"]
        levels.append(nxt)
        visited = visited.unionByName(_project(nxt, key))
        frontier = nxt
        pending += 1
        if pending >= _VISITED_CONSOLIDATE:
            new = visited.localCheckpoint(eager=True)
            release(consolidated)
            if not keep_levels:
                for f in levels[:-1]:
                    release(f)
                del levels[:-1]
            consolidated = visited = new
            pending = 0
    if keep_levels:
        release(consolidated)
        return levels
    if pending:
        visited = visited.localCheckpoint(eager=True)
        release(consolidated)
    elif consolidated is None:
        return visited  # nothing beyond the start: it is the visited set
    for f in levels:
        release(f)
    return visited


def undirected(edges: DataFrame) -> DataFrame:
    """Both directions of an edge list (src, dst), as one union."""
    return edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _src_partitioned(edges: DataFrame) -> DataFrame:
    """Partition by ``src`` before persisting for a loop, so every round's
    join on src reuses the layout and only the state frame shuffles."""
    return edges.repartition("src")


def _bfs_levels(
    edges: DataFrame, sources: DataFrame, max_iters: int, directed: bool, key: list[str]
) -> DataFrame:
    e = _src_partitioned(
        edges.select("src", "dst") if directed else undirected(edges)
    ).persist()
    tags = key[1:]

    def expand(frontier, visited, level, _n):
        return (
            e.join(frontier.select(F.col("id").alias("src"), *tags), "src")
            .select(F.col("dst").alias("id"), *tags)
            .distinct()
            .join(visited, key, "left_anti")
            .select(*key, F.lit(level).alias("level"))
        )

    try:
        start = sources.select(*key).distinct().select(*key, F.lit(0).alias("level"))
        return reduce(lambda a, b: a.unionByName(b), _bfs(start, expand, max_iters, key))
    finally:
        e.unpersist()


@frontier_paced
def bfs_levels(
    edges: DataFrame, sources: DataFrame, max_iters: int = 1000, directed: bool = True
) -> DataFrame:
    """(id, level) for every vertex reachable from *sources* (level 0)."""
    return _bfs_levels(edges, sources, max_iters, directed, ["id"])


@frontier_paced
def tagged_bfs_levels(
    edges: DataFrame, sources: DataFrame, max_iters: int = 1000, directed: bool = True
) -> DataFrame:
    """Independent BFS per tag of *sources* (id, tag) in ONE level loop →
    (id, tag, level): k landmark walks cost one join per level, not k."""
    return _bfs_levels(edges, sources, max_iters, directed, ["id", "tag"])


@frontier_paced
def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iters: int = 100
) -> DataFrame:
    """(id, component = min vertex id) by min-label propagation: each round
    every vertex takes the min of its own and its neighbors' labels."""
    e = _src_partitioned(undirected(edges)).persist()

    def _step(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            e.join(lbl.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        return lbl.join(neighbor_min, "id", "left").select(
            "id",
            F.col("component").alias("__old"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )

    try:
        labels = vertices.select(
            F.col("id"), F.col("id").alias("component")
        ).localCheckpoint(eager=True)
        # The last step's old and new labels sit side by side, so the
        # changed-count rides the checkpoint. Labels only decrease: the
        # last step changing nothing proves the fixpoint.
        changed = F.sum((F.col("component") != F.col("__old")).cast("long"))
        return _fixpoint(
            labels,
            _step,
            max_iters,
            {"changed": changed},
            converged=lambda _prev, cur: not cur[1]["changed"],
        )[0]
    finally:
        e.unpersist()


@frontier_paced
def connected_components_star(
    vertices: DataFrame, edges: DataFrame, max_iters: int = 50
) -> tuple[DataFrame, int]:
    """(labels (id, component = min id), rounds) by large-star/small-star
    alternation (Kiveris et al., SoCC'14): O(log² n) rounds where
    min-label propagation needs O(diameter). Large-star re-points every
    neighbor v > u to min(Γ(u) ∪ {u}); small-star every v ≤ u (and u) to
    min(Γ⁻(u) ∪ {u}); the stable edge set is one star per component.

    Each half is its own checkpoint. Measured and removed: fusing the
    halves (+11% shuffle write, +39% read; plans/r17/pregel_fold_ab.md)
    and rewriting only edges near last round's changes (164–180 s vs
    40–46 s; SCALE_STRESS_r11.json).
    """
    ids = vertices.select(F.col("id").cast("long").alias("id")).distinct()
    # hash-sum as DECIMAL: exact, order-independent, and immune to the
    # ANSI-mode long-overflow a bigint sum of xxhash64 values hits.
    signature = dict(
        n=F.count(F.lit(1)),
        h=F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
    )
    e, sig = _checkpoint(
        edges.select(F.col("src").cast("long").alias("a"), F.col("dst").cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct(),
        signature,
    )
    scratch: list[DataFrame] = []

    def _round(e: DataFrame) -> DataFrame:
        nbr = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mmin = nbr.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")  # min(Γ(u) ∪ {u})
        )
        # shuffle_hash: the un-hinted SortMergeJoin re-sorts 2|E| rows per
        # half-round — the measured 30× sort-pressure floor
        # (SCALE_STRESS_r08). The build side is the |V|-row min table.
        large = (
            nbr.join(mmin.hint("shuffle_hash"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m"))
        )
        e1 = (
            large.filter(F.col("x") != F.col("m"))
            .select(F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        scratch.append(e1)
        msmall = e1.groupBy("u").agg(F.min("v").alias("m"))  # min(Γ⁻(u) ∪ {u})
        small = (
            e1.join(msmall.hint("shuffle_hash"), "u")
            .select(F.col("v").alias("x"), "m")
            .unionByName(msmall.select(F.col("u").alias("x"), "m"))
        )
        return (
            small.filter(F.col("x") != F.col("m"))
            .select(F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v"))
            .distinct()
        )

    def _stable(prev: tuple, cur: tuple) -> bool:
        # A signature mismatch proves change for free; a match may be a
        # hash-sum collision, so confirm it with one exact semi-join:
        # distinct sets of equal size are equal iff one contains the other.
        (old, old_sig), (new, new_sig) = prev, cur
        return new_sig == old_sig and new_sig["n"] == (
            new.join(old, ["u", "v"], "left_semi").count()
        )

    e, rounds = _fixpoint(
        e, _round, max_iters, signature, sig, _stable, fold=False, scratch=scratch
    )
    labels = (
        ids.join(e.select(F.col("u").alias("id"), F.col("v").alias("root")), "id", "left")
        .groupBy("id")
        .agg(F.min(F.coalesce(F.col("root"), F.col("id"))).alias("component"))
    )
    return labels, rounds


@frontier_paced
def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_iters: int = 50,
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted single/multi-source shortest paths → (id, dist) by
    synchronous Bellman-Ford: one join + min-aggregate per round, until a
    round improves nothing."""
    e = _src_partitioned(
        edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
    ).persist()
    # Monotone signature: dists only decrease and ids are only added, so
    # (count, Σdist) is unchanged iff the frame is. DECIMAL keeps the sum
    # exact and order-independent (a double could wobble an ULP).
    signature = dict(n=F.count(F.lit(1)), s=F.sum(F.col("dist").cast("decimal(38,15)")))

    def _relax(d: DataFrame) -> DataFrame:
        relaxed = (
            e.join(d.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        return d.unionByName(relaxed).groupBy("id").agg(F.min("dist").alias("dist"))

    try:
        dist, sig = _checkpoint(
            sources.select(F.col("id"), F.lit(0.0).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist")),
            signature,
        )
        return _fixpoint(dist, _relax, max_iters, signature, sig)[0]
    finally:
        e.unpersist()


def _pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    n_iters: int,
    damping: float,
    seeds: DataFrame | None = None,
) -> DataFrame:
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    e = _src_partitioned(
        edges.select("src", "dst").join(out_deg.withColumnRenamed("id", "src"), "src")
    ).persist()
    v = vertices.select("id").distinct().persist()
    if seeds is None:
        base, rank0, teleport = v, F.lit(1.0), F.lit(1.0 - damping)
    else:
        base = v.join(F.broadcast(seeds.select("id").withColumn("b", F.lit(1.0))), "id", "left")
        base = base.select("id", F.coalesce(F.col("b"), F.lit(0.0)).alias("base")).persist()
        rank0, teleport = F.col("base"), F.lit(1.0 - damping) * F.col("base")

    def _iter(r: DataFrame) -> DataFrame:
        contribs = (
            e.join(r.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("msum"))
        )
        return base.join(contribs, "id", "left").select(
            "id",
            (teleport + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))).alias("rank"),
        )

    try:
        ranks = base.select("id", rank0.alias("rank")).localCheckpoint(eager=True)
        return _fixpoint(ranks, _iter, n_iters)[0]
    finally:
        e.unpersist()
        v.unpersist()
        if seeds is not None:
            base.unpersist()


@frontier_paced
def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    n_iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank → (id, rank), rank(d) = (1-α) + α·Σ
    rank(s)/outdeg(s) without dangling-mass redistribution (as the DuckDB
    oracle computes it): per round one join onto edges, one sum keyed on
    dst, and a left join back so rankless vertices keep the base rank."""
    return _pagerank(vertices, edges, n_iters, damping)


@frontier_paced
def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    n_iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank → (id, rank): pagerank teleporting to the
    (tiny, broadcast) *seed set*, rank(v) = (1-α)·1[v ∈ seeds] + α·Σ
    rank(s)/outdeg(s) — the similarity/recommendation primitive."""
    return _pagerank(vertices, edges, n_iters, damping, seeds)


@frontier_paced
def kcore(edges: DataFrame, k: int, max_iters: int = 50) -> tuple[DataFrame, int]:
    """The k-core — the maximal subgraph where every vertex has degree >= k
    (undirected, deduplicated) → ((id, in-core degree), rounds). Each peel
    is one degree groupBy plus semi-joins of the edges to the survivors,
    until a peel drops nobody; the round count is exact per peel."""

    def _peel(edge_df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
        # *probe* is the semi-joins' streamed side only: that path runs
        # once per action, where edge_df also feeds both build sides
        # through the degree aggregate and would count three times.
        deg = edge_df.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
        survivors = deg.filter(F.col("degree") >= k)
        return (
            (probe if probe is not None else edge_df)
            .join(survivors.select(F.col("id").alias("src")), "src", "left_semi")
            .join(survivors.select(F.col("id").alias("dst")), "dst", "left_semi")
        )

    e, sig = _checkpoint(
        undirected(edges).filter(F.col("src") != F.col("dst")).distinct(), _rows()
    )
    e, rounds = _fixpoint(e, _peel, max_iters, _rows(), sig, per_round=True)
    out = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k)
    )
    return out, rounds


@frontier_paced
def label_propagation(edges: DataFrame, n_iters: int = 4) -> DataFrame:
    """Synchronous label propagation → (id, label): each round every
    vertex adopts its neighbors' most frequent label, ties to the smallest
    (deterministic LPA, so it replays), for a fixed round count since
    synchronous LPA may oscillate. The argmax is one max(struct(cnt,
    -label)), no window shuffle."""
    e = undirected(edges).filter(F.col("src") != F.col("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    v = e.select(F.col("src").alias("id")).distinct()
    labels = v.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)

    def _round(lbl: DataFrame) -> DataFrame:
        neigh = e.join(lbl.withColumnRenamed("id", "src"), "src")
        counted = neigh.groupBy(F.col("dst").alias("id"), "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        best = counted.groupBy("id").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m")
        )
        return lbl.join(best, "id", "left").select(
            "id",
            F.coalesce(-F.col("m.nl"), F.col("label")).alias("label"),
        )

    try:
        return _fixpoint(labels, _round, n_iters)[0]
    finally:
        release(e)  # the labels are checkpoints: nothing reads e after the loop
