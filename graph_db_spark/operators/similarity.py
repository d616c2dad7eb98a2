"""Similarity search over embedding columns (ARRAY<FLOAT>).

Baseline: brute-force cosine top-k — a broadcast of the query set against a
scan of the corpus; all arithmetic in built-in higher-order functions
(zip_with + aggregate → whole-stage codegen, no Python in the hot path).

Scale path: LSH bucketing via deterministic hyperplane signs (md5-parity
pseudo-random planes — portable, no RNG state), so candidate generation is
an equi-join on bucket signatures instead of a full cross product. At
100 TB the corpus side stays partitioned; only the (small) query side is
broadcast.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from graph_db_spark.functions.vector import dot as _dot, hyperplane_signature, with_norm

_log = logging.getLogger(__name__)

__all__ = [
    "cosine_topk",
    "exact_near_dup_pairs",
    "hyperplane_signature",
    "lsh_cosine_topk",
    "lsh_near_dup_pairs",
    "with_norm",
]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, cos, rank).

    ``queries`` is expected small → broadcast; the corpus scan is a single
    pass, the only shuffle is the per-query top-k (partial top-k would use
    AQE; for modest k a window over query_id is adequate since rows per
    query = |corpus| are hash-partitioned by query_id).
    Self-matches are excluded. Rank ties break on neighbor id
    (deterministic — required for oracle hash-match).
    """
    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("vec")), "vec"
    ).withColumnRenamed("__norm", "cnorm")
    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")), "qvec"
    ).withColumnRenamed("__norm", "qnorm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("qid"))
        .withColumn(
            "cos",
            F.round(_dot(F.col("vec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), round_digits),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assert_same_dim: bool = False,
) -> DataFrame:
    """Bucketed ANN with OR-amplification: *n_tables* independent
    hyperplane tables of *n_planes* bits each; a corpus vector is a
    candidate if it shares a bucket with the query in ANY table (the
    standard multi-table LSH recall lever — single-table bucketing
    over-partitions the corpus and recall collapses). Exact cosine runs
    only on the deduped candidate set. Recall < 1 by construction (the
    brute-force operator is the correctness baseline; bench the
    recall/cost trade by n_tables).

    Failure modes (documented contract): null vectors are dropped by the
    signature stage's isNotNull filter, and a corpus/query DIMENSION
    mismatch yields non-matching buckets — i.e. an EMPTY result, not an
    error (each side derives its own sign matrix from its batch's vector
    length). Pass ``assert_same_dim=True`` to pay two limit-1 probe jobs
    and raise ``ValueError`` on mismatch instead; the default stays
    probe-free so the hot path launches no extra jobs.
    """
    from graph_db_spark.functions.vector import hyperplane_signatures_multi

    if assert_same_dim:
        def _dim(df):
            r = (
                df.filter(F.col(vec_col).isNotNull())
                .select(F.size(F.col(vec_col)).alias("d"))
                .limit(1)
                .collect()
            )
            return r[0]["d"] if r else None

        cd, qd = _dim(corpus), _dim(queries)
        if cd is not None and qd is not None and cd != qd:
            raise ValueError(
                f"corpus vectors have dim {cd} but query vectors dim {qd}; "
                "LSH buckets would never match (empty result)"
            )

    # No driver-side dim probe by default: the sign matrix is derived
    # executor-side from each batch's vector length (pure function of
    # constants, so all executors agree). An empty / all-null corpus
    # simply yields an empty candidate set through the joins below.
    cs = hyperplane_signatures_multi(corpus, n_planes, n_tables, id_col, vec_col)
    qs = hyperplane_signatures_multi(queries, n_planes, n_tables, id_col, vec_col)
    cands = (
        cs.withColumnRenamed("id", "nid")
        .join(F.broadcast(qs.withColumnRenamed("id", "qid")), ["table", "bucket"])
        .select("nid", "qid")
        .filter(F.col("nid") != F.col("qid"))
        .distinct()
    )

    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("vec")), "vec"
    ).withColumnRenamed("__norm", "cnorm")
    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")), "qvec"
    ).withColumnRenamed("__norm", "qnorm")
    scored = (
        cands.join(c, "nid")
        .join(F.broadcast(q), "qid")
        .withColumn(
            "cos",
            F.round(_dot(F.col("vec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), 6),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        # cos is null exactly when the pair is unscorable (zip_with over
        # mismatched vector lengths) — drop those rather than rank them,
        # which makes the dim-mismatch contract above literally true even
        # when short/long sign matrices happen to collide on bucket bits.
        scored.filter(F.col("cos").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


def exact_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine (a < b, cos ≥ threshold) — O(n²) crossJoin.

    This is the RECALL BASELINE for ``lsh_near_dup_pairs``, a correctness
    fixture at test scale only; never the 100 TB path."""
    n = with_norm(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec")
    a = n.select(F.col("id").alias("a"), F.col("vec").alias("va"), F.col("__norm").alias("na"))
    b = n.select(F.col("id").alias("b"), F.col("vec").alias("vb"), F.col("__norm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold) via
    bucketed candidate generation — the 100 TB path (no cross product
    anywhere in the plan).

    Candidates are pairs sharing a bucket in ANY of *n_tables* hyperplane
    tables (one signature pass over the corpus, one equi-join on
    (table, bucket), distinct); exact cosine runs on candidates only.
    For a pair at angle θ the miss probability is
    ((1-(1-θ/π)^n_planes))^n_tables — at near-dup thresholds (cos ≥ 0.99,
    θ ≤ 8°) with 8×8 tables that is < 1e-6, i.e. recall is 1.0 in any
    deterministic run (planes are md5-derived, no RNG); the brute-force
    twin above verifies this in tests. At 100 TB, raise n_planes so bucket
    cardinality ≈ corpus/partition-target and bucket joins stay balanced.
    """
    from graph_db_spark.functions.vector import hyperplane_signatures_multi

    sigs = hyperplane_signatures_multi(df, n_planes, n_tables, id_col, vec_col)
    cands = (
        sigs.select(F.col("id").alias("a"), "table", "bucket")
        .join(sigs.select(F.col("id").alias("b"), "table", "bucket"), ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    n = with_norm(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec")
    va = n.select(F.col("id").alias("a"), F.col("vec").alias("va"), F.col("__norm").alias("na"))
    vb = n.select(F.col("id").alias("b"), F.col("vec").alias("vb"), F.col("__norm").alias("nb"))
    return (
        cands.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def _sq_l2(a, b):
    """Squared L2 between two array columns as the sequential fold every
    kmeans/PQ oracle replicates with list_sum(list_transform(...))."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _l2_nearest(
    v: DataFrame, vec: str, book: DataFrame, cell: str, cvec: str, out: str | None = None
) -> DataFrame:
    """(id, *out*): each row of *v* (id, *vec*) assigned to its L2-nearest
    row of the k-row *book* (*cell*, *cvec*) — the one assignment step of
    ``kmeans_assign``, the IVF-PQ coarse quantizer and every ``pq_encode``
    subspace. One broadcast of the codebook into the scan, the
    sequential-fold squared distance (``_sq_l2``), and a map-side
    combinable min over the (d, cell) struct, so ties break on cell asc.
    NULL distances (a ragged vector, or one with a NULL element) are
    dropped first: struct-min sorts NULL before every value, so without
    the filter such a row would be coded as the lowest cell. Those rows
    get no assignment."""
    return (
        v.crossJoin(F.broadcast(book))
        .withColumn("d", _sq_l2(F.col(vec), F.col(cvec)))
        .filter(F.col("d").isNotNull())
        .groupBy("id")
        .agg(F.min(F.struct("d", cell)).alias("mm"))
        .select("id", F.col(f"mm.{cell}").alias(out or cell))
    )


def pq_fit(
    df: DataFrame,
    m: int = 2,
    n_codes: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
    dim: int | None = None,
) -> list[DataFrame]:
    """Product-quantization codebooks (Jégou et al. 2011, the FAISS `PQ`
    index): split the vector into *m* contiguous subspaces and train an
    independent k-means codebook (``kmeans_fit`` — decimal-exact,
    RNG-free, oracle-replicable) of *n_codes* codewords in each. Returns
    m centroid frames [(cell, cvec)], each k rows, checkpointed by
    kmeans_fit. Memory story at scale: a d-dim float32 vector becomes m
    log2(n_codes)-bit codes — at m=16, k=256 a 768-dim embedding drops
    3072 → 16 bytes, the standard billion-vector regime.

    *dim* (default: probed from one row like ``ivf``'s dimension probe)
    must be divisible by m; subspace s covers columns
    [s·dim/m, (s+1)·dim/m)."""
    if dim is None:
        dim = len(df.select(vec_col).head()[0])
    if dim % m != 0:
        raise ValueError(f"dim={dim} must divide evenly into m={m} subspaces")
    w = dim // m
    books = []
    for s in range(m):
        sub = df.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col), s * w + 1, w).alias("embedding"),
        )
        fit = kmeans_fit(sub, k=n_codes, n_iters=n_iters, sample_mod=sample_mod)
        books.append(
            _carry_codebook(
                fit,
                fit.select(
                    F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
                ),
            )
        )
    return books


def _book_dim(cb: DataFrame) -> int:
    """Subspace width of a PQ codebook frame: from the driver-held rows
    when available (zero jobs), else one bounded head() job (the
    pre-round-16 probe, documented plan-construction-time execution)."""
    rows = _codebook_rows(cb, "cell", "cvec")
    if rows and rows[0][1] is not None:
        return len(rows[0][1])
    return len(cb.select("cvec").head()[0])


def pq_encode(
    df: DataFrame,
    books: list[DataFrame],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode: per subspace, the L2-nearest codeword through the shared
    assignment step ``_l2_nearest`` (ties on cell id — the
    ``kmeans_assign`` contract). Returns (id, c0..c{m-1}). Each subspace
    assignment is one broadcast of the k-row codebook into the corpus
    scan + a min-struct agg — no shuffle beyond the id group. A vector
    with a NULL distance in some subspace (ragged, or a NULL element)
    gets no code there, so it has no row at all and never enters an ADC
    candidate set."""
    dim_w: list[int] = []
    out = None
    for s, cb in enumerate(books):
        w = _book_dim(cb)
        start = sum(dim_w) + 1
        dim_w.append(w)
        v = df.select(
            F.col(id_col).alias("id"), F.slice(F.col(vec_col), start, w).alias("vec")
        )
        enc = _l2_nearest(v, "vec", cb, "cell", "cvec", out=f"c{s}")
        out = enc if out is None else out.join(enc, "id")
    return out


def _adc_topk(
    cand: DataFrame, qsrc: DataFrame, qvec: str, books: list[DataFrame], k: int
) -> DataFrame:
    """The ADC scorer shared by every PQ route: per subspace s, a distance
    table (the *qsrc* key columns, c{s}, d{s}) of the query slice against
    codebook s (9dp-rounded squared L2, broadcast), joined into the
    candidate frame *cand* (id, c0..c{m-1}, plus any of qid / ccell) on
    c{s} and whichever of qid / ccell both sides carry; then the 9dp
    lookup-sum and the (adc, nid) tie-broken top-k per query, self-matches
    (nid = qid) excluded. *qsrc* holds the query vectors in *qvec* plus
    the table keys: (qid) for raw PQ, (qid, ccell) for residual tables,
    one per probed cell. Returns (qid, nid, adc)."""
    keys = [c for c in qsrc.columns if c != qvec]
    dim_w = [_book_dim(cb) for cb in books]
    adc = cand
    for s, cb in enumerate(books):
        start = sum(dim_w[:s]) + 1
        qd = (
            qsrc.select(*keys, F.slice(F.col(qvec), start, dim_w[s]).alias("qv"))
            .crossJoin(F.broadcast(cb))
            .select(
                *keys,
                F.col("cell").alias(f"c{s}"),
                F.round(_sq_l2(F.col("qv"), F.col("cvec")), 9).alias(f"d{s}"),
            )
        )
        on = [c for c in keys if c in adc.columns] + [f"c{s}"]
        adc = adc.join(F.broadcast(qd), on)
    total = F.round(sum(F.col(f"d{s}") for s in range(len(books))), 9)
    scored = adc.filter(F.col("id") != F.col("qid")).select(
        "qid", F.col("id").alias("nid"), total.alias("adc")
    )
    w = W.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    return (
        scored.select("qid", "nid", "adc", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= k)
        .select("qid", "nid", "adc")
    )


def pq_adc_topk(
    df: DataFrame,
    queries: DataFrame,
    books: list[DataFrame],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: the corpus is seen ONLY through
    its codes; each query precomputes an m×n_codes distance table against
    the codebooks (tiny, broadcast), and a candidate's approximate
    distance is the SUM of table lookups — the trick that makes
    billion-scale scans memory-bandwidth-bound instead of FLOP-bound.
    Returns (qid, nid, adc) top-k per query, (adc, nid) tie-broken,
    distances rounded 9dp for cross-engine hash stability. Self-matches
    (nid = qid) are excluded."""
    coded = pq_encode(df, books, id_col, vec_col)
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    return _adc_topk(coded, qv, "qvec", books, k)


def _coarse_book(coarse: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(ccell, ccvec): a ``kmeans_fit`` coarse codebook renamed for the
    IVF-PQ routes, keeping its driver-held rows."""
    return _carry_codebook(
        coarse,
        coarse.select(F.col(id_col).alias("ccell"), F.col(vec_col).alias("ccvec")),
    )


def _coarse_probes(qv: DataFrame, cc: DataFrame, n_probe: int) -> DataFrame:
    """(qid, ccell): each query's *n_probe* L2-nearest coarse cells,
    (distance, cell) tie-broken — the IVF probe list, shared by both
    IVF-PQ variants. qid-partitioned window, never unpartitioned."""
    wp = W.partitionBy("qid").orderBy(F.col("d").asc(), F.col("ccell").asc())
    return (
        qv.crossJoin(F.broadcast(cc))
        .withColumn("d", _sq_l2(F.col("qvec"), F.col("ccvec")))
        .select("qid", "ccell", F.row_number().over(wp).alias("pr"))
        .filter(F.col("pr") <= n_probe)
        .select("qid", "ccell")
    )


def ivfpq_adc_topk(
    df: DataFrame,
    queries: DataFrame,
    coarse: DataFrame,
    books: list[DataFrame],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the two FAISS index halves composed — a coarse k-means
    quantizer prunes the scan to each query's *n_probe* nearest cells
    (the IVF half), and within them candidates are scored by the PQ/ADC
    lookup sum (the memory half). Per query the work drops from N ADC
    sums to N·(n_probe/k_coarse) — the standard billion-vector recipe.
    This composition encodes RAW vectors (FAISS's no-residual option);
    ``ivfpq_residual_topk`` below is the production refinement — PQ on
    residuals v − coarse_centroid, one distance table per (query,
    probed cell). Deterministic end to end: L2 assignments
    tie-break on cell, the probe list on (distance, cell), the final
    cut on (adc, nid); *coarse* comes from ``kmeans_fit`` and *books*
    from ``pq_fit``, so a SQL oracle re-derives everything."""
    cc = _coarse_book(coarse, id_col, vec_col)
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    corpus_cells = _l2_nearest(v, "vec", cc, "ccell", "ccvec")
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    probes = _coarse_probes(qv, cc, n_probe)
    coded = pq_encode(df, books, id_col, vec_col).join(corpus_cells, "id")
    return _adc_topk(coded.join(F.broadcast(probes), "ccell"), qv, "qvec", books, k)


def _residual_codes(
    df: DataFrame,
    cc: DataFrame,
    m: int,
    n_codes: int,
    n_iters: int,
    sample_mod: int | None,
    id_col: str,
    vec_col: str,
    checkpoint: bool,
) -> tuple[list[DataFrame], DataFrame]:
    """The corpus half of residual IVF-PQ, shared by the in-query route
    and the store writer: each vector's L2-nearest coarse cell, its
    residual r = v − centroid(cell) (element-wise IEEE doubles), PQ books
    trained on the residuals, and the codes. Returns (books, coded) with
    coded = (id, c0..c{m-1}, ccell). *checkpoint* localCheckpoints the
    residual frame, which the PQ fits and the encode all read."""
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    resid = (
        v.join(_l2_nearest(v, "vec", cc, "ccell", "ccvec"), "id")
        .join(F.broadcast(cc), "ccell")
        .select(
            "id",
            "ccell",
            F.zip_with("vec", "ccvec", lambda a, b: a - b).alias("r"),
        )
    )
    if checkpoint:
        resid = resid.localCheckpoint()
    resid_v = resid.select(F.col("id").alias(id_col), F.col("r").alias(vec_col))
    books = pq_fit(
        resid_v, m=m, n_codes=n_codes, n_iters=n_iters, sample_mod=sample_mod
    )
    coded = pq_encode(resid_v, books, id_col, vec_col).join(
        resid.select("id", "ccell"), "id"
    )
    return books, coded


def ivfpq_residual_topk(
    df: DataFrame,
    queries: DataFrame,
    coarse: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    m: int = 2,
    n_codes: int = 4,
    n_iters: int = 2,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: bool = True,
) -> DataFrame:
    """Residual-encoded IVF-PQ — the production FAISS ``IVFPQ`` recipe
    (Jégou et al. 2011 §IV.B, faiss IndexIVFPQ's default): PQ codebooks
    are trained on and encode RESIDUALS r = v − coarse_centroid(cell),
    not raw vectors. Residuals of a trained coarse quantizer are
    near-zero-centered with far smaller spread than the corpus, so the
    same m×n_codes budget quantizes them much more finely — the recall
    rung above ``ivfpq_adc_topk``'s raw-vector option (pytest pins
    recall ≥ the raw variant on a planted clustered fixture).

    The price is per-(query, probed cell) distance tables: a query's
    table depends on ITS residual against EACH probed cell's centroid,
    so tables are n_queries × n_probe × n_codes × m rows — still tiny
    and broadcast (FAISS pays the same per-probe table recompute; it is
    the textbook residual-IVFPQ cost). Corpus-side work is unchanged
    from the raw variant: one coarse-assignment scan, one
    residual-encode scan per subspace, candidates pruned to probed
    cells before any scoring. Residuals are plain IEEE subtractions of
    the 9dp-rounded centroids, so a SQL oracle re-derives codebooks,
    codes, tables, and the (adc, nid) tie-broken cut bit-for-bit.

    Trains its own PQ books internally (they are a function of the
    coarse assignment); *coarse* comes from ``kmeans_fit`` like the raw
    variant's.

    *checkpoint* (default True) localCheckpoints the residual frame:
    the PQ fits, both encodes, and the ADC scan all read it, and uncut
    each re-executes the coarse-assign + subtract pipeline (~10 replays;
    measured 48.7 → a few s on the 4k fixture). A PQ fit whose sample is
    small (≤ 512 rows) reads it once and runs its Lloyd passes on the
    driver; a larger sample reads it once per pass (``kmeans_fit``).
    The frame is corpus-sized, so this is a
    fixture/medium-scale cut — at billion-vector scale the production
    flow PERSISTS the residual codes as a write-time index (the
    ``signature_store_write`` pattern) instead of checkpointing raw
    residuals: built in round 15 as ``ivfpq_residual_store_write`` +
    ``ivfpq_residual_topk_persisted`` below (result-identical,
    pytest-pinned). Same caveats as ``kmeans_fit``: executes at
    plan-construction time; blocks die with executors."""
    cc = _coarse_book(coarse, id_col, vec_col)
    books, coded = _residual_codes(
        df, cc, m, n_codes, n_iters, sample_mod, id_col, vec_col, checkpoint
    )
    return _residual_adc_topk(coded, cc, books, queries, k, n_probe, id_col, vec_col)


def _residual_adc_topk(
    coded: DataFrame,
    cc: DataFrame,
    books: list[DataFrame],
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The query-time half of residual IVF-PQ, shared by the in-query
    route (``ivfpq_residual_topk``) and the persisted-index route
    (``ivfpq_residual_topk_persisted``): probe list, per-(query, probed
    cell) residual distance tables, ADC lookup-sum over *coded*
    (id, ccell, c0..c{m-1}), deterministic (adc, nid) top-k cut. The two
    routes are result-identical because everything corpus-side (coarse
    assignment, residuals, PQ books, codes) is a pure function the store
    merely caches."""
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    probes = _coarse_probes(qv, cc, n_probe)
    # per-(query, probed cell) residual: qr = q − centroid(probed cell)
    qres = probes.join(qv, "qid").join(F.broadcast(cc), "ccell").select(
        "qid",
        "ccell",
        F.zip_with("qvec", "ccvec", lambda a, b: a - b).alias("qr"),
    )
    return _adc_topk(coded.join(F.broadcast(probes), "ccell"), qres, "qr", books, k)


def ivfpq_residual_store_write(
    df: DataFrame,
    path: str,
    coarse_k: int = 4,
    m: int = 2,
    n_codes: int = 4,
    n_iters: int = 2,
    sample_mod: int | None = None,
    sample_target: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the residual IVF-PQ index as a write-time artifact — the
    production rung ``ivfpq_residual_topk``'s docstring names (the
    ``signature_store_write`` pattern, after the reference's write-time
    indexing principle, Graph.hs:57-61). Three parquet tables:

      coarse/ (ccell, ccvec)        — the coarse quantizer (k rows)
      books/  (s, cell, cvec)       — the m residual-subspace codebooks
      codes/  (id, c0..c{m-1}) BY ccell — every vector's coarse cell +
              residual PQ codes, PARTITIONED on ccell so a query batch
              probing p cells scans exactly p directories (partition
              pruning — the ``semantic_store_write`` members/ layout)

    The Lloyd fits (coarse + per-subspace) run ONCE here; query batches
    pay only the probe against k persisted centroids and an ADC scan of
    the probed cells' codes — no coarse re-assign, no residual
    materialization, no PQ re-fit. Every stage is the deterministic
    kmeans/pq contract (md5-derived sampling, DECIMAL sums, 9dp
    centroids), so an oracle re-derives the store bit-for-bit."""
    import os

    coarse = kmeans_fit(
        df, k=coarse_k, n_iters=n_iters, id_col=id_col, vec_col=vec_col,
        sample_mod=sample_mod, sample_target=sample_target,
    )
    cc = _coarse_book(coarse, id_col, vec_col)
    # the residual frame is always checkpointed here: write-time only, the
    # PQ fits + encode re-read it ~10×; queries never pay this
    books, coded = _residual_codes(
        df, cc, m, n_codes, n_iters, sample_mod, id_col, vec_col, checkpoint=True
    )
    cc.write.mode("errorifexists").parquet(os.path.join(path, "coarse"))
    b_all = None
    for s, cb in enumerate(books):
        bs = cb.select(F.lit(s).alias("s"), "cell", "cvec")
        b_all = bs if b_all is None else b_all.unionByName(bs)
    b_all.write.mode("errorifexists").parquet(os.path.join(path, "books"))
    coded.write.mode("errorifexists").partitionBy("ccell").parquet(
        os.path.join(path, "codes")
    )


def ivfpq_residual_topk_persisted(
    spark,
    store_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve residual IVF-PQ top-k from the persisted index
    (``ivfpq_residual_store_write``): broadcast the k-row coarse table
    for the probe list, broadcast the per-(query, probed cell) distance
    tables, and ADC-scan ONLY the probed cells' code partitions (the
    probes join keys on the store's partition column, so dynamic
    partition pruning cuts the scan to p directories). Per-query-batch
    cost is probe + p-cell code scan + lookup sum — independent of the
    fits, and independent of corpus size once cell count scales with
    the corpus (the constant-cell k ∝ n rule the semantic store uses).
    Result-identical to ``ivfpq_residual_topk`` at equal parameters
    (pytest-pinned)."""
    import os

    cc = spark.read.parquet(os.path.join(store_path, "coarse"))
    cc_rows = _store_codebook_rows(os.path.join(store_path, "coarse"), "ccell", "ccvec")
    if cc_rows is not None:
        cc._gds_codebook_rows = cc_rows
    b_all = spark.read.parquet(os.path.join(store_path, "books"))
    b_rows = _store_codebook_rows(os.path.join(store_path, "books"), "s", "cell", "cvec")
    if b_rows is not None:
        # driver-side read of the tiny books table: m and the per-book
        # rows come for free, no plan-time Spark jobs
        m = max(r[0] for r in b_rows) + 1
    else:
        m = b_all.agg(F.max("s")).head()[0] + 1
    books = [
        b_all.filter(F.col("s") == s).select("cell", "cvec") for s in range(m)
    ]
    if b_rows is not None:
        for s in range(m):
            books[s]._gds_codebook_rows = [
                (cell, cvec) for (bs, cell, cvec) in b_rows if bs == s
            ]
    coded = spark.read.parquet(os.path.join(store_path, "codes"))
    return _residual_adc_topk(coded, cc, books, queries, k, n_probe, id_col, vec_col)


def _cos_scored(frame: DataFrame) -> DataFrame:
    """*frame* (vec, __norm, cvec, cnorm, ...) with ccos = cosine(vec,
    cvec) rounded to 6dp, rows with a NULL ccos dropped. The division is
    guarded: a zero-norm vector (or degenerate centroid) yields a NULL
    cosine — the documented no-assignment contract — not an ANSI
    divide-by-zero error (Spark 4 defaults ansi=true)."""
    denom = F.col("__norm") * F.col("cnorm")
    return frame.withColumn(
        "ccos",
        F.round(F.when(denom != 0, _dot(F.col("vec"), F.col("cvec")) / denom), 6),
    ).filter(F.col("ccos").isNotNull())


def _cos_min(scored: DataFrame) -> DataFrame:
    """(id, cell, cent_cos): per id, the scored row of highest cosine.
    The min over a (−ccos, cell) struct is map-side combinable — the
    scored rows collapse to ≤1 per id and partition before the exchange,
    with no sort — and lexicographic, so ties on cosine break on cell
    asc, the same order as ``ivf_assign``'s window (oracle-stable). NULL
    cosines were dropped by ``_cos_scored``: struct-min sorts NULL fields
    first, so one degenerate centroid would otherwise capture every
    vector."""
    return (
        scored.groupBy("id")
        .agg(F.min(F.struct((-F.col("ccos")).alias("negcos"), F.col("cell"))).alias("m"))
        .select("id", F.col("m.cell").alias("cell"), (-F.col("m.negcos")).alias("cent_cos"))
    )


def _cos_nearest(v: DataFrame, c: DataFrame) -> DataFrame:
    """(id, cell, cent_cos): each vector of *v* (id, vec, __norm) assigned
    to its cosine-nearest row of the small centroid frame *c* (cell,
    cvec, cnorm), broadcast — the one cosine assignment step of
    ``ivf_assign`` (n_probe = 1), the semantic-dedup store and the
    SemDeDup descent. Vectors whose every cosine is NULL get no row."""
    return _cos_min(_cos_scored(v.crossJoin(F.broadcast(c))))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its *n_probe* nearest centroid cells by
    cosine (rounded to 6dp, ties broken by centroid id — deterministic
    across engines). One broadcast cross join vs the (small) centroid
    set; n_probe = 1 is the shared min-struct step ``_cos_nearest``, a
    larger n_probe a per-vector top-n window. Zero-norm vectors get no
    row. Returns (id, cell, cell_rank)."""
    v = with_norm(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec")
    c = with_norm(
        centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec")), "cvec"
    ).withColumnRenamed("__norm", "cnorm")
    if n_probe == 1:
        return _cos_nearest(v, c).select("id", "cell", F.lit(1).alias("cell_rank"))
    w = W.partitionBy("id").orderBy(F.col("ccos").desc(), F.col("cell").asc())
    # NULL cosines are dropped before the window: an all-NULL (zero-norm)
    # vector gets no row at all, rather than a NULL-ranked one (desc puts
    # NULLs last, so an all-NULL group would still rank its first row).
    return (
        _cos_scored(v.crossJoin(F.broadcast(c)))
        .withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= n_probe)
        .select("id", "cell", "cell_rank")
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into centroid cells, assign
    corpus vectors to their nearest cell, probe each query's n_probe
    nearest cells, exact cosine only within probed cells.

    *centroids* (id_col, vec_col) supplies trained cells — e.g. from the
    distributed ``kmeans_fit`` below; the default keeps the deterministic
    no-RNG placeholder (the n_centroids lowest-id vectors).

    Scale shape: the centroid table is tiny and broadcast everywhere; the
    corpus shuffles once on cell id (its partitioning key on disk in a real
    deployment, making the probe join partition-pruned); per-query work is
    |cell| not |corpus|.
    """
    if centroids is None:
        centroids = corpus.select(F.col(id_col), F.col(vec_col)).filter(
            F.col(id_col) < n_centroids
        )
    c_assign = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1).select(
        F.col("id").alias("nid"), "cell"
    )
    q_assign = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe).select(
        F.col("id").alias("qid"), "cell"
    )
    c = with_norm(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("vec")), "vec"
    ).withColumnRenamed("__norm", "cnorm").join(c_assign, "nid")
    q = with_norm(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")), "qvec"
    ).withColumnRenamed("__norm", "qnorm").join(F.broadcast(q_assign), "qid")
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("nid") != F.col("qid"))
        .withColumn(
            "cos",
            F.round(_dot(F.col("vec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), 6),
        )
        .select("qid", "nid", "cos")
        .dropDuplicates(["qid", "nid"])  # a neighbor seen via 2 probed cells counts once
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "cos", "rank")
    )


#: Multiplier of the cross-engine sampling hash (Knuth's 2^32/phi). The
#: rule ``((id * KMEANS_SAMPLE_MULT) % 2^64-safe-range) % s == 0`` is
#: plain int64 arithmetic, so DuckDB oracles replicate the SAMPLE
#: bit-for-bit — xxhash64 would be Spark-only. Overflow-free for ids
#: < ~3.4e9 (id * mult < 2^63); a corpus with wider ids would switch to
#: xxhash64 and give up the cross-engine twin.
KMEANS_SAMPLE_MULT = 2654435761
KMEANS_SAMPLE_RANGE = 4294967296


def kmeans_sample_pred(id_expr, sample_mod: int):
    """The deterministic fit-sample membership predicate (shared by
    kmeans_fit and any oracle-twin construction in tests)."""
    return (
        F.pmod(
            F.pmod(
                id_expr.cast("long") * F.lit(KMEANS_SAMPLE_MULT),
                F.lit(KMEANS_SAMPLE_RANGE),
            ),
            F.lit(int(sample_mod)),
        )
        == 0
    )


#: Inline-codebook ceiling for the executed k-means fast path (round 16):
#: the driver-iterated fit embeds the codebook as literal arrays inside a
#: map-only assignment projection, which is sane only while the expression
#: stays small (k x dim literal doubles — 65536 covers k=512 at dim=128,
#: and the k<=512 row guard also bounds the O(k) init collect). Above it
#: the fit keeps the broadcast crossJoin formulation, which is the right
#: shape for 50k-cell production codebooks anyway (the codebook no longer
#: fits an expression, and n x k row amplification is then amortized over
#: genuinely large per-cell work).
KMEANS_INLINE_MAX = 65536
_KMEANS_INLINE_MAX_K = 512

_KMEANS_DUP_MSG = (
    "kmeans_fit: corrupt codebook — duplicate values in id column "
    "{id_col!r} violate the unique-id precondition; dedupe first "
    "(df.groupBy({id_col!r}).agg(F.first(vec)))"
)


def _driver_rows_as_parquet(spark, rows, spark_schema, prefix: str) -> DataFrame:
    """Materialize driver-built (id, vector) rows as a JVM-scannable
    frame by writing ONE tiny parquet file with pyarrow and reading it
    back under the explicit schema.

    Why not createDataFrame: in classic PySpark a local-data frame is
    backed by a PYTHON RDD (pickled rows through sc.parallelize), so
    every consuming job — including an eager localCheckpoint of it —
    pays a Python-worker deserialization pass (measured 5.8 s/job for a
    125-row codebook feeding an Arrow stage, vs ~50 ms over a parquet
    scan). Parquet DOUBLE/INT64 round-trip IEEE/integer values exactly,
    and the explicit read schema pins dtypes and nullability. The file
    is a k-row write-time artifact (~10 KB), cleaned up at interpreter
    exit."""
    import atexit
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix=f"gds_{prefix}_")
    atexit.register(shutil.rmtree, d, True)
    names = [f.name for f in spark_schema.fields]
    arrow_schema = pa.schema(
        [
            pa.field(
                f.name,
                pa.list_(pa.float64())
                if isinstance(f.dataType, T.ArrayType)
                else (
                    pa.int32()
                    if isinstance(f.dataType, T.IntegerType)
                    else pa.int64()
                ),
                nullable=True,
            )
            for f in spark_schema.fields
        ]
    )
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    pq.write_table(table, os.path.join(d, "part-0.parquet"))
    return spark.read.schema(spark_schema).parquet(d)


def _np_l2_argmin(X, C):
    """Row index of each row of *X* (n x L) into its L2-nearest row of the
    cell-ascending codebook *C* (k x L) — the numpy twin of
    ``_l2_nearest``, shared by the Arrow assignment stage and the driver
    pool.

    Why numpy (guide §4.2, and the repo's documented exception precedent,
    functions/vector.hyperplane_signatures_multi): the distance kernel is
    a dense n x k x dim sweep, and Spark's zip_with/aggregate fold is
    CodegenFallback — measured ~2 µs per interpreted lambda eval, which
    made the fold itself (not the exchanges) the cost of every k-means
    family entry. The kernel accumulates (x_d − c_d)² SEQUENTIALLY over
    dims — `acc = acc + t*t` per dim, vectorized across rows — which is
    the same IEEE operation sequence as the JVM fold, so every distance
    is bit-identical; ties pick the lowest cell id (numpy argmin's
    first-minimum over the cell-ascending codebook == the struct-min
    tie-break). NaN distances map to +inf before argmin, reproducing the
    JVM ordering's NaN-sorts-last (an all-NaN row picks the lowest cell,
    exactly like the struct-min)."""
    import numpy as np

    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(C.shape[1]):  # sequential over dims == the JVM fold order
        t = X[:, d, None] - C[None, :, d]
        acc = acc + t * t
    np.copyto(acc, np.inf, where=np.isnan(acc))
    return np.argmin(acc, axis=1)  # first min == lowest cell id


def _np_l2_argmin_assign(
    df_v: DataFrame, cents: dict, cell_cast: str, carry_v: bool = True
) -> DataFrame | None:
    """(cell[, v]) rows: each row of *df_v* (schema: v ARRAY<DOUBLE>, plus
    whatever else) assigned to its L2-nearest centroid of the driver-held
    codebook *cents* — VALUE-IDENTICAL to the crossJoin + (d, cell)
    struct-min formulation, executed as one map-only Arrow/numpy stage
    (kernel: ``_np_l2_argmin``).

    The JVM-side pre-filter `size(v) == L AND no null element` reproduces
    the fold's NULL contract exactly: a ragged or null-padded vector gets
    a NULL distance against every length-L centroid under zip_with
    padding, so the aggregate route never assigned it either.

    Returns None (caller falls back to the crossJoin route) when the
    codebook is empty, has non-uniform lengths, or holds NULL
    vectors/elements — the cases whose NULL semantics the uniform-L
    kernel can't reproduce."""
    import numpy as np

    order = sorted(cents)
    vecs = [cents[c] for c in order]
    if not vecs or any(v is None or any(x is None for x in v) for v in vecs):
        return None
    lens = {len(v) for v in vecs}
    if len(lens) != 1:
        return None
    L = lens.pop()
    if L == 0:
        return None
    C = np.array(vecs, dtype=np.float64)  # exact: floats round-trip
    cell_ids = np.array([int(c) for c in order], dtype=np.int64)

    pre = df_v.filter(
        (F.size("v") == L) & ~F.exists("v", lambda x: x.isNull())
    ).select("v")
    # the closure below references the module-level kernel: ship it by
    # value, so Python workers need not have this package on their path
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack([np.asarray(r, dtype=np.float64) for r in pdf["v"]])
            idx = _np_l2_argmin(X, C)
            out = {"cell": cell_ids[idx].astype(np_cell)}
            if carry_v:
                out["v"] = list(pdf["v"])
            yield pd.DataFrame(out)

    np_cell = {"int": "int32", "bigint": "int64", "smallint": "int16"}.get(cell_cast)
    if np_cell is None:
        return None
    schema = f"cell {cell_cast}" + (", v array<double>" if carry_v else "")
    return pre.mapInPandas(assign, schema=schema)


def _np_l2_argmin_local(pool: list, cents: dict, L: int) -> list:
    """Driver-side twin of ``_np_l2_argmin_assign`` for a driver-held row
    pool (a carried codebook or a small fit sample): the same kernel
    (``_np_l2_argmin``) after the same pre-filter (length-L, no null
    elements), zero Spark jobs. Returns [(cell, vec), ...]."""
    import numpy as np

    rows = [
        vec
        for _i, vec in pool
        if vec is not None and len(vec) == L and not any(x is None for x in vec)
    ]
    if not rows:
        return []
    order = sorted(cents)
    C = np.array([cents[c] for c in order], dtype=np.float64)
    cell_ids = [int(c) for c in order]
    idx = _np_l2_argmin(np.array(rows, dtype=np.float64), C)
    return [(cell_ids[i], vec) for i, vec in zip(idx, rows)]


def _codebook_rows(frame: DataFrame, *cols: str):
    """Driver copy of a small codebook frame, or None when unavailable.

    STRICTLY attribute-based — never runs a Spark job: a codebook built
    by this module's executed fit (or re-read driver-side from a
    persisted store's tiny parquet) carries its exact rows as
    ``_gds_codebook_rows`` (positional (cell, vec)). A plan-time probe
    job here would break the composes-lazily contract
    (test_knn_label_agreement_composes_lazily_with_n_cells); frames
    without the attribute keep the broadcast crossJoin route. Values are
    Spark-computed (or parquet-exact) and only ferried, so they are
    exact."""
    rows = getattr(frame, "_gds_codebook_rows", None)
    if rows is None:
        return None
    return [tuple(r) for r in rows] if len(rows) <= _KMEANS_INLINE_MAX_K else None


def _carry_codebook(src: DataFrame, out: DataFrame) -> DataFrame:
    """Propagate ``_gds_codebook_rows`` across a rename-only projection
    (positional (cell, vec) values are unchanged, so the driver copy
    stays exact). The attribute rides only the returned object."""
    rows = getattr(src, "_gds_codebook_rows", None)
    if rows is not None:
        out._gds_codebook_rows = rows
    return out


def _store_codebook_rows(dir_path: str, *cols: str):
    """Driver-side exact read of a persisted k-row codebook parquet
    directory (pyarrow, NO Spark job — the file is a write-time artifact
    of a few KB). Returns positional rows over *cols*, or None if the
    directory can't be read. Parquet DOUBLE/INT64 round-trip exactly, so
    these are the same values the JVM scan of the same files yields."""
    import glob

    try:
        import pyarrow.parquet as pq

        parts = sorted(glob.glob(os.path.join(dir_path, "*.parquet")))
        if not parts:
            return None
        rows: list = []
        for p in parts:
            t = pq.read_table(p, columns=list(cols))
            rows.extend(zip(*(t.column(c).to_pylist() for c in cols)))
        if len(rows) > _KMEANS_INLINE_MAX_K:
            return None
        return rows
    except Exception:
        return None

def _decimal_means_local(assigned_rows: list, L: int, round_digits: int):
    """Driver twin of the pool fit's means aggregation — VALUE-IDENTICAL
    to `round(cast(sum(cast(element_at(v,d) as decimal(28,12))) as
    double) / count(1), round_digits)` per (cell, dim):

    - cast double→decimal(28,12) is Spark's Decimal.apply(Double), which
      goes through the SHORTEST string form (scala BigDecimal.decimal ==
      BigDecimal.valueOf == Double.toString) — replicated as
      Decimal(repr(x)).quantize(1e-12, HALF_UP); verified empirically
      against Spark 4.1.2 on halfway/long-mantissa cases (round 16:
      binary-exact expansion diverges on e.g. 2.5e-12, repr matches);
    - the decimal sum is exact and order-free;
    - cast decimal→double and double/count are correctly-rounded IEEE in
      both runtimes;
    - round(double, n) is BigDecimal.valueOf(x).setScale(n, HALF_UP) —
      the same repr-based quantize.

    Returns {cell: [mean...]} or None when any member value is
    non-finite (Spark's NaN→NULL-decimal contract — the caller keeps
    the Spark aggregation for that pass)."""
    from decimal import ROUND_HALF_UP, Decimal

    tw = Decimal(1).scaleb(-12)
    q = Decimal(1).scaleb(-int(round_digits))
    sums: dict = {}
    counts: dict = {}
    for cell, vec in assigned_rows:
        acc = sums.get(cell)
        if acc is None:
            acc = [Decimal(0)] * L
            sums[cell] = acc
            counts[cell] = 0
        counts[cell] += 1
        for d in range(L):
            x = vec[d]
            if x != x or x in (float("inf"), float("-inf")):
                return None
            acc[d] += Decimal(repr(x)).quantize(tw, ROUND_HALF_UP)
    return {
        cell: [
            float(Decimal(repr(float(acc[d]) / counts[cell])).quantize(q, ROUND_HALF_UP))
            for d in range(L)
        ]
        for cell, acc in sums.items()
    }


def _kmeans_fit_driver(
    v: DataFrame,
    k: int,
    n_iters: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
    sample_mod: int | None,
    local_rows: list | None = None,
) -> DataFrame | None:
    """Driver-iterated Lloyd fit — the executed (checkpoint=True) fast
    path, round 16 (guide §2.4: remove shuffles outright; §1.2: fix the
    distributed algorithm first).

    VALUE-IDENTICAL to the lazy formulation: every arithmetic step is the
    same JVM expression in the same order — the sequential
    zip_with/aggregate fold for distances, the (d, cell) lexicographic
    struct-min for assignment, per-(cell, dim) DECIMAL(28,12) sums divided
    by the per-dim member count and rounded in Spark (never in Python).
    Only the EXECUTION changes, by one of two routes. For integral ids
    both start with one id-ordered collect of at most 513 sample rows — a
    single job whatever the partitioning.

    - **pool** — the fit sample is small (at most 512 rows, rows x dim
      within KMEANS_INLINE_MAX, no null id) or is a codebook this module
      built (its rows ride the DataFrame). The fetch above holds it (zero
      jobs for a carried codebook), and every Lloyd pass runs on the
      driver: ``_np_l2_argmin_local`` assigns, and
      ``_decimal_means_local`` reproduces the DECIMAL means exactly. A
      fit then costs that one job whatever n_iters is (measured: the
      three ~50-row fits of ann_ivfpq_residual_topk went 6.5 s → 0.4 s).
      A pass whose members hold a non-finite value keeps the Spark
      aggregation (the NaN→NULL decimal contract).
    - **arrow** — a larger sample: the init rows come from the same fetch
      (so it is the route's only job outside its passes; it ships up to
      513 x dim doubles to the driver). The k-row codebook is
      collected to the driver between Lloyd passes and embedded in a
      map-only Arrow/numpy assignment (``_np_l2_argmin_assign``), so
      each pass is ONE scan of the fit sample feeding one
      map-side-combinable aggregation (a k x dim fixed-width shuffle) —
      instead of the lazy plan's crossJoin materializing n x k
      vector-carrying struct rows through a hash aggregate plus a
      posexplode double-shuffle, per pass (measured
      round 16: the k=125 fit at sf0.1 was 15.4 s of
      dedup_semantic_tree's 17.5; this route runs it in well under a
      second).

    Both routes give the lazy plan's values bit for bit (pinned in the
    tests). The chosen route is logged at DEBUG.

    Returns None when the codebook cannot be inlined (k > 512 or
    k x dim > KMEANS_INLINE_MAX) — the caller falls back to the broadcast
    formulation, the right shape at that codebook scale."""
    from pyspark.sql import types as T

    if k > _KMEANS_INLINE_MAX_K:
        return None
    spark = v.sparkSession
    sampled = sample_mod is not None
    if local_rows is not None and any(i is None for i, _ in local_rows):
        local_rows = None  # null ids: keep the JVM framing's null semantics
    pool = None
    fit = None
    head = None
    if local_rows is not None:
        # Input is a codebook this module built (the pyramid's upper
        # levels): its rows ride the DataFrame object, so the sample
        # filter and init selection run driver-side with ZERO jobs. The
        # sample predicate is pure INTEGER arithmetic — replicated
        # exactly (Python ints are exact; the JVM's 64-bit wrap of
        # id * MULT is applied before the mods).
        def _pred(i):
            x = (int(i) * KMEANS_SAMPLE_MULT) % (1 << 64)
            if x >= 1 << 63:
                x -= 1 << 64
            return x % KMEANS_SAMPLE_RANGE % sample_mod == 0

        if sampled and sample_mod > 1:
            pool = [r for r in local_rows if _pred(r[0])]
        else:
            pool = list(local_rows)
        fit = None  # assignment for pool inputs runs driver-side (below)
    else:
        fit = (
            (
                v.filter(kmeans_sample_pred(F.col("id"), sample_mod))
                if sample_mod > 1
                else v
            )
            if sampled
            else v
        )
        if isinstance(v.schema["id"].dataType, (T.ShortType, T.IntegerType, T.LongType)):
            # ONE id-ordered bounded collect (a TakeOrderedAndProject: one
            # job whatever the partitioning) both picks the route and
            # serves as the init fetch. A small sample becomes the pool:
            # every Lloyd pass then runs driver-side (below), so the fit's
            # job count does not grow with n_iters. A larger one keeps the
            # Arrow passes and takes its init rows from this fetch, so
            # that route needs no init collect of its own. The ceilings
            # that bound the inline codebook bound the pool.
            head = [
                (r["id"], r["v"])
                for r in fit.select("id", "v")
                .orderBy("id")
                .limit(_KMEANS_INLINE_MAX_K + 1)
                .collect()
            ]
            width = max((len(vec) for _i, vec in head if vec is not None), default=0)
            if (
                len(head) <= _KMEANS_INLINE_MAX_K
                and len(head) * width <= KMEANS_INLINE_MAX
                and all(i is not None for i, _ in head)
            ):
                pool, fit = head, None
    if sampled:
        # k smallest sampled ids (same TakeOrderedAndProject the lazy
        # path plans), renumbered to cells 0..k-1 — rank-by-id, exactly
        # the triangular-join renumbering's count(pid < id)
        if pool is not None:
            init_rows = sorted(pool, key=lambda r: r[0])[:k]
        elif head is not None:
            init_rows = head[:k]  # k <= 512 < len(head) or the whole sample
        else:
            init_rows = [
                (r["id"], r["v"])
                for r in fit.orderBy("id").limit(k).select("id", "v").collect()
            ]
        ids = [i for i, _ in init_rows]
        if len(set(ids)) != len(ids):
            raise ValueError(_KMEANS_DUP_MSG.format(id_col=id_col))
        cents = {
            rank: (list(vec) if vec is not None else None)
            for rank, (_i, vec) in enumerate(sorted(init_rows, key=lambda r: r[0]))
        }
        cell_cast = "int"
        cell_dtype = T.IntegerType()
        cell_nullable = False  # the lazy path's count(pid).cast(int)
    else:
        if pool is not None:
            init_rows = [(i, vec) for i, vec in pool if i < k]
        elif head is not None and (
            len(head) <= _KMEANS_INLINE_MAX_K
            or (head[-1][0] is not None and head[-1][0] >= k)
        ):
            # the fetch holds the whole sample, or its last (largest) id
            # is >= k, so every row with id < k sorts inside it
            init_rows = [(i, vec) for i, vec in head if i is not None and i < k]
        else:
            init_rows = [
                (r["id"], r["v"])
                for r in v.filter(F.col("id") < k).select("id", "v").collect()
            ]
        ids = [i for i, _ in init_rows]
        if len(set(ids)) != len(ids):
            raise ValueError(_KMEANS_DUP_MSG.format(id_col=id_col))
        cents = {
            int(i): (list(vec) if vec is not None else None) for i, vec in init_rows
        }
        cell_cast = v.schema["id"].dataType.simpleString()
        cell_dtype = v.schema["id"].dataType
        cell_nullable = v.schema["id"].nullable
    lens = {len(c) for c in cents.values() if c is not None}
    if (
        not cents
        or len(lens) != 1
        or any(c is None for c in cents.values())
        or k * max(lens) > KMEANS_INLINE_MAX
    ):
        # non-uniform / NULL centroid vectors: the uniform-L kernel can't
        # reproduce the zip_with NULL-padding contract — fall back
        return None
    L = lens.pop()
    # The means aggregation: per-dim DECIMAL(28,12) sums (the exact
    # order-independent sum the lazy path's posexplode aggregation
    # computes) divided by the member count and rounded IN SPARK — Python
    # never does arithmetic on the values. Because the kernel's pre-filter
    # admits only length-L fully-non-null... vectors CAN carry NaN (kept,
    # like the fold) and per-dim NULLs cannot occur, so the per-dim
    # posexplode row count equals the plain member count. Built once,
    # reused every pass (the exprs don't depend on the codebook).
    # String expressions: one py4j round-trip per column instead of ~5
    # (the composed-Column form measured 1.3 s of pure driver-side py4j
    # chatter per fit at dim=64); parsed semantics are identical.
    aggs = [
        F.expr(f"sum(cast(element_at(v, {d + 1}) as decimal(28,12))) as s{d}")
        for d in range(L)
    ] + [F.expr("count(1) as n")]
    sel = ["cell"] + [
        f"round(cast(s{d} as double) / n, {round_digits}) as val{d}" for d in range(L)
    ]
    _log.debug(
        "kmeans_fit route=%s k=%d n_iters=%d pool_rows=%s",
        "pool" if pool is not None else "arrow",
        k,
        n_iters,
        len(pool) if pool is not None else None,
    )
    # Lloyd passes: tiny k x dim shuffles — run under the capped AQE
    # initial width like the lazy path (round 14)
    from graph_db_spark.session import capped_initial_partitions

    with capped_initial_partitions(spark):
        for _ in range(n_iters):
            if pool is not None:
                # Fully driver-side pass over the ≤512-row pool (a carried
                # codebook or a small fetched sample): numpy argmin
                # assignment + decimal-exact means twin — ZERO Spark jobs
                # (a per-pass Spark round-trip costs ~0.5 s of pure job
                # latency; measured 2.25 s of the tree entry's upper fits
                # in round 16). Falls back to the Spark aggregation for
                # non-finite members (the NaN→NULL decimal contract).
                assigned_rows = _np_l2_argmin_local(pool, cents, L)
                means = _decimal_means_local(assigned_rows, L, round_digits)
                if means is not None:
                    for cell, vec in means.items():
                        cents[cell] = vec
                    continue
                assigned = _driver_rows_as_parquet(
                    spark,
                    assigned_rows,
                    T.StructType(
                        [
                            T.StructField("cell", cell_dtype, True),
                            T.StructField(
                                "v", T.ArrayType(T.DoubleType(), True), True
                            ),
                        ]
                    ),
                    "kmpool",
                )
            else:
                assigned = _np_l2_argmin_assign(fit, cents, cell_cast, carry_v=True)
                if assigned is None:
                    return None
            rows = assigned.groupBy("cell").agg(*aggs).selectExpr(*sel).collect()
            for r in rows:
                # a NaN element casts to a NULL decimal, which sum() skips
                # while count(1) still counts its member — the lazy path
                # computes the same value
                cents[r["cell"]] = [r[f"val{d}"] for d in range(L)]
    schema = T.StructType(
        [
            T.StructField(id_col, cell_dtype, cell_nullable),
            T.StructField(vec_col, T.ArrayType(T.DoubleType(), True), True),
        ]
    )
    rows = [(c, cents[c]) for c in sorted(cents)]
    out = _driver_rows_as_parquet(spark, rows, schema, "kmcb")
    out._gds_codebook_rows = rows  # exact driver copy for downstream fits
    return out


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
    checkpoint: bool = True,
    sample_mod: int | None = None,
    sample_target: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means → (vec_id = cell, embedding = centroid),
    the trained-centroid source for ``ivf_cosine_topk``.

    **Precondition: ``id_col`` values must be UNIQUE.** Two internals
    assume it (round-12 advice): the sampled-init renumbering ranks the
    k seed rows by ``count(pid)`` over a strict ``pid < id`` triangular
    join — duplicate ids would share a rank, so ``groupBy(id)`` would
    silently merge seeds and train a corrupted codebook with < k cells;
    and ``orderBy(id).limit(k)`` is evaluated independently on both
    sides of that self-join, deterministic only because the sort key
    never ties. Callers with possibly-duplicated ids must dedupe first
    (``df.groupBy(id_col).agg(F.first(vec_col))``); every in-repo
    caller feeds parquet primary keys (vec_id / doc_id), which are
    unique by construction.

    Deterministic and cross-engine exact (no RNG, no FP drift):
    - init = the vectors with id < k (k-means++ would add RNG; the
      sampled mode below seeds from the hash-sample instead);
    - assignment distance is a sequential left-to-right fold over the
      zipped arrays — the same double result on any engine;
    - new centroids are per-(cell, dim) means computed with DECIMAL sums
      (exact, order-independent — a double sum would differ across
      partitionings), divided by the exact member count and rounded.

    **Sampled fit — the scale path.** The full-corpus fit costs
    n·k distance evaluations per Lloyd round; with the SemDeDup-style
    k ∝ sqrt(n) scaling that term is n^1.5 and was measured as the
    dominant cost of both semantic-dedup routes (SCALE_STRESS_r08:
    286 s of a 322 s hierarchical run at 200k vectors). Lloyd's means
    converge on a uniform sample of the corpus, so:

    - ``sample_mod=s`` fits the codebook on the deterministic hash-sample
      ``((id * 2654435761) % 2^32) % s == 0`` (~n/s rows) — plain int64
      arithmetic a DuckDB oracle replicates bit-for-bit;
    - ``sample_target=t`` derives ``s = max(1, n // t)`` from one
      column-pruned count (t ≈ max(10_000, 50·k) is the usual choice:
      ≥50 sample points per centroid);
    - in sampled mode init = the k smallest sampled ids, RENUMBERED to
      cells 0..k-1 (a fixture corpus with contiguous ids gets the same
      init set as the legacy ``id < k`` rule when s=1, and compact cell
      ids keep a second-level coarse fit's legacy init valid).

    Per round the fit then costs (n/s)·k — constant when t is fixed —
    and the one full-corpus n·k pass left is the caller's final
    assignment. The FULL corpus is never sampled away: only the
    codebook-training rows are. Sampled and unsampled fits produce
    different (both valid) codebooks; consumers' oracles must replicate
    the same rule.

    Scale shape per iteration (lazy plan): centroids broadcast into the
    assignment (one sample scan, no shuffle), then ONE shuffle of
    fixed-width (cell, dim, x) triples for the map-side-combinable mean
    agg. Empty cells keep their previous centroid (standard Lloyd's
    fallback).

    *checkpoint* (default True) EXECUTES the fit now and returns the
    trained codebook as a materialized k-row frame, so consumers don't
    re-run the Lloyd passes (``_kmeans_fit_driver``: a fit sample of at
    most 512 rows is fetched once and iterated on the driver — one job
    per fit; a larger one runs one map-only assignment scan plus one
    k x dim aggregation per pass). Codebooks too large to inline keep
    the lazy plan, localCheckpointed; those blocks are lost on executor
    failure. Pass checkpoint=False when merely composing plans."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # A codebook produced by this module's executed path carries its own
    # rows on the DataFrame object (exact values — they were computed by
    # Spark and only ferried): the pyramid's upper fits then derive the
    # sample modulus, the sample filter, and the init set with ZERO jobs.
    # The attribute rides only the original object — any transformation
    # returns a fresh DataFrame without it, so it can never go stale.
    local_rows = getattr(df, "_gds_codebook_rows", None)
    if sample_target is not None and sample_mod is None:
        # one column-pruned count; ~n/sample_target keeps ≥ target rows
        n_v = len(local_rows) if local_rows is not None else v.count()
        sample_mod = max(1, n_v // int(sample_target))
    if checkpoint:
        # Executed path (round 16): the fit runs eagerly here anyway (the
        # localCheckpoint below), so iterate Lloyd's passes from the
        # driver — identical values (see _kmeans_fit_driver), a fraction
        # of the stages. Falls back to the lazy-plan-plus-checkpoint
        # below when the codebook cannot ride the fast path.
        fast = _kmeans_fit_driver(
            v, k, n_iters, id_col, vec_col, round_digits, sample_mod,
            local_rows=local_rows,
        )
        if fast is not None:
            return fast
    _log.debug("kmeans_fit route=lazy k=%d n_iters=%d", k, n_iters)
    if sample_mod is not None:
        fit = v.filter(kmeans_sample_pred(F.col("id"), sample_mod)) if sample_mod > 1 else v
        # k smallest sampled ids, renumbered to cells 0..k-1.
        # orderBy+limit is a TakeOrderedAndProject (per-partition top-k,
        # driver merge of k rows); the rank-by-id renumbering is a
        # triangular self-join over those k rows (k² tiny comparisons,
        # same pattern as shard_manifest_by_tokens' bucket offsets) —
        # NOT a global row_number() window, so the plan carries no
        # single-partition window exchange and Spark's "No Partition
        # Defined" warning stays reserved for genuinely unbounded
        # global windows (round-12: this one k-row window was emitting
        # it ~28× per k-means-family plan in the sweep).
        top = fit.orderBy("id").limit(k).select("id", "v")
        prior = top.select(F.col("id").alias("pid"))
        cent = (
            top.join(prior, F.col("pid") < F.col("id"), "left")
            .groupBy("id")
            .agg(
                F.count("pid").cast("int").alias("cell"),
                F.first("v").alias("c"),
            )
            .select("cell", "c")
        )
        v_fit = fit
    else:
        cent = v.filter(F.col("id") < k).select(
            F.col("id").alias("cell"), F.col("v").alias("c")
        )
        v_fit = v
    dist = _sq_l2(F.col("v"), F.col("c"))
    for _ in range(n_iters):
        # Nearest-centroid pick via a min-struct aggregation instead of a
        # row_number window: map-side partial combine collapses the N×k
        # scored rows to ≤N per upstream partition BEFORE the exchange and
        # drops the full sort a window would need. (d, cell) is unique per
        # id, so lexicographic struct-min reproduces exactly the old
        # orderBy(d asc, cell asc) tie-break; v rides along in the struct
        # (it never influences the comparison).
        assigned = (
            v_fit.crossJoin(F.broadcast(cent))
            .withColumn("d", dist)
            # NULL distances (ragged vector dims → zip_with null-padding)
            # must not win: struct-min sorts NULLs first, and the old
            # window's asc ordering ALSO put NULLs first (Spark asc is
            # NULLS FIRST) — so BOTH formulations need this filter to
            # keep a degenerate row from capturing the assignment.
            .filter(F.col("d").isNotNull())
            .groupBy("id")
            .agg(F.min(F.struct(F.col("d"), F.col("cell"), F.col("v"))).alias("m"))
            .select(F.col("m.cell").alias("cell"), F.col("m.v").alias("v"))
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(F.col("x").cast("decimal(28,12)")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cell",
                "dim",
                F.round(F.col("sx").cast("double") / F.col("n"), round_digits).alias("val"),
            )
        )
        new_cent = (
            means.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("ps"))
            .select("cell", F.transform("ps", lambda p: p["val"]).alias("c"))
        )
        # empty cells keep their previous centroid
        cent = (
            cent.alias("o")
            .join(new_cent.alias("n"), "cell", "left")
            .select("cell", F.coalesce(F.col("n.c"), F.col("o.c")).alias("c"))
        )
    out = cent.select(F.col("cell").alias(id_col), F.col("c").alias(vec_col))
    # The trained codebook is a k-row artifact that every consumer
    # (assignment, ANN probe, a second-level coarse fit, a broadcast)
    # references independently — without cutting the lineage here, EACH
    # consumer re-executes all n_iters Lloyd passes over the full corpus
    # (measured: the hierarchical SemDeDup stress at 200k vectors re-ran
    # the n*k fit several times over). localCheckpoint(eager) runs the
    # fit exactly once and pins k tiny rows; values are unchanged, so
    # every DuckDB oracle pairing is unaffected.
    if not checkpoint:
        # compose-only mode: nothing may execute here, so the unique-id
        # precondition is the caller's contract alone (docstring above)
        return out
    # Lloyd-loop shuffles are (cell, dim, x) triples — codebook-sized,
    # never corpus-sized: execute the fit under the capped AQE initial
    # width (round 14: the wide session default costs a per-exchange
    # constant × n_iters × m subspaces; ann_ivf_kmeans read 2.2 → 2.8 s)
    from graph_db_spark.session import capped_initial_partitions

    with capped_initial_partitions(out.sparkSession):
        out = out.localCheckpoint(eager=True)
    # Loud corruption gate (round-13 advice): duplicated input ids make
    # BOTH init paths train a silently-wrong codebook — legacy `id < k`
    # emits duplicate cell keys, and the sampled rank renumbering merges
    # seeds into non-contiguous cells (rank(d_j) = c_j · Σ_{i<j} c_i is
    # 0..m−1 iff every multiplicity is 1). One aggregation over the
    # k-row checkpointed codebook detects both; the fit has already
    # executed, so the check costs nothing upstream.
    chk = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(id_col).alias("nd"),
        F.max(id_col).alias("mx"),
    ).first()
    if chk["nd"] != chk["n"] or (
        sample_mod is not None and chk["n"] and chk["mx"] != chk["n"] - 1
    ):
        raise ValueError(_KMEANS_DUP_MSG.format(id_col=id_col))
    return out

def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final cluster membership for a trained ``kmeans_fit`` codebook:
    (id, cell) by EUCLIDEAN nearest centroid — the shared L2 step
    ``_l2_nearest`` that ``pq_encode`` and the IVF-PQ coarse quantizer
    also use, and the assignment rule Lloyd's iterations use internally
    (sequential-fold squared distance, ties on cell asc), so membership
    agrees with the fit and with the oracle's `a{n}` CTE. Distinct from
    ``ivf_assign``, which ranks by COSINE (the ANN probe contract).

    Scale shape: centroids broadcast, the min-struct agg is map-side
    combinable — one corpus scan, the only exchange carries <=1 row per
    vector. Degenerate rows (ragged dims or a NULL element -> NULL
    distance) get no assignment, matching kmeans_fit's own filter."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    cent = centroids.select(
        F.col(id_col).alias("cell"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("c"),
    )
    return _l2_nearest(v, "v", cent, "cell", "c")


def _salted_cell_join_sides(xm, ym, n_cells: int, x_id_col: str, spark):
    """Prepare both sides of a within-cell self-join so the PAIR stage
    actually parallelizes. Two failure modes this neutralizes (round-11,
    measured on knn_label_agreement: 4.1 s → 1.5 s for the identical
    501k pairs):

    - AQE's byte-based partition coalescing sees only the tiny shuffled
      member frame (k rows × vec) and folds the exchange to one or two
      partitions — but the join AMPLIFIES rows |cell|-fold and each pair
      evaluates an interpreted higher-order-function dot product, so the
      cheap-bytes assumption is wrong by 2-3 orders of magnitude. An
      explicit ``repartition(n, keys)`` is user-specified and exempt
      from coalescing; *n* = max(defaultParallelism, the session's
      shuffle-partition setting), i.e. whatever the deployment sized for
      its data.
    - When the codebook is smaller than the core count (k < cores — the
      fixture regime, and any freshly-bootstrapped corpus), hashing on
      cell alone caps parallelism at k. A salt column splits each cell's
      x-side m ways (m = min(16, 2·cores/k), so m→1 once k ≫ cores and
      NOTHING is replicated at production scale) and explode-replicates
      the y-side m×, putting every core to work on the pair stage.

    Returns (x_side, y_side, join_keys); each (x, y) pair still joins
    exactly once (x's salt picks exactly one y replica)."""
    par = spark.sparkContext.defaultParallelism
    try:
        nparts = max(par, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except Exception:
        nparts = par
    m = max(1, min(16, (2 * par) // max(int(n_cells), 1)))
    if m > 1:
        xm = xm.withColumn("psalt", F.pmod(F.xxhash64(F.col(x_id_col)), F.lit(m)))
        ym = ym.withColumn("psalt", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))
        keys = ["cell", "psalt"]
    else:
        keys = ["cell"]
    return xm.repartition(nparts, *keys), ym.repartition(nparts, *keys), keys


def knn_label_agreement(
    df: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_cells: int | None = None,
) -> DataFrame:
    """Embedding-space mislabel screening (the confident-learning-style
    curation signal): for each vector, the MAJORITY label among its k
    nearest cosine neighbors inside its IVF cell, and whether it agrees
    with the vector's own label. Disagreeing rows are the candidates a
    labeled-data curation pass re-examines. Returns
    (id, label, knn_label, n_neighbors, agree).

    Neighborhood = the vector's single nearest trained cell (the
    n_probe=1 IVF recall trade, documented — a boundary vector's true
    neighbors may sit in the adjacent cell; SemDeDup makes the same
    trade for the same reason). Ties: neighbors rank (cos DESC, id ASC);
    majority breaks (votes DESC, label ASC) — all deterministic, oracle
    hash-stable. Degenerate vectors (zero-norm → no assignment) and
    singleton cells emit NULL knn_label / NULL agree, never a guess.

    Scale shape: centroids broadcast into assignment (one scan); the
    member frame shuffles ONCE on cell id for the within-cell pair join
    (equi — never a cross product; sum(|cell|²) pairwise work, bounded
    by k ∝ corpus exactly as SemDeDup bounds it); the top-k window and
    the vote argmax are hash-partitioned on vector id."""
    v = with_norm(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.col(label_col).alias("lbl"),
        ),
        "vec",
    )
    asg = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col, n_probe=1)
    mem = v.join(asg.select("id", "cell"), "id")
    xm = mem.select(
        F.col("id").alias("xid"), F.col("vec").alias("xv"),
        F.col("__norm").alias("xn"), "cell",
    )
    ym = mem.select(
        F.col("id").alias("yid"), F.col("vec").alias("yv"),
        F.col("__norm").alias("yn"), F.col("lbl").alias("ylbl"), "cell",
    )
    # the salt factor needs the codebook size; counting here would run
    # any unmaterialized centroid plan at PLAN-CONSTRUCTION time (and a
    # non-checkpointed kmeans_fit would execute its whole Lloyd chain
    # twice — once for this count, once inside ivf_assign). Callers that
    # know k pass it; only a materialized/cheap centroids frame should
    # rely on the count() fallback.
    xm, ym, join_keys = _salted_cell_join_sides(
        xm,
        ym,
        int(n_cells) if n_cells is not None else centroids.count(),
        "xid",
        df.sparkSession,
    )
    denom = F.col("xn") * F.col("yn")
    pairs = (
        xm.join(ym, join_keys)
        .filter(F.col("xid") != F.col("yid"))
        .withColumn(
            "cos",
            F.round(F.when(denom != 0, _dot(F.col("xv"), F.col("yv")) / denom), 6),
        )
        .filter(F.col("cos").isNotNull())
        # project BEFORE the top-k window: without this the window's
        # hash-repartition + sort drags both 64-dim vectors through the
        # exchange for every pair row (measured: the whole operator's
        # dominant cost at sf0.1 — round-11 band-tightening item)
        .select("xid", "yid", "ylbl", "cos")
    )
    w = W.partitionBy("xid").orderBy(F.col("cos").desc(), F.col("yid").asc())
    top = pairs.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    votes = top.groupBy("xid", "ylbl").agg(F.count(F.lit(1)).alias("nv"))
    maj = (
        votes.groupBy("xid")
        .agg(
            F.min(F.struct((-F.col("nv")).alias("neg"), F.col("ylbl").alias("l"))).alias("m"),
            F.sum("nv").alias("n_neighbors"),
        )
        .select("xid", F.col("m.l").alias("knn_label"), "n_neighbors")
    )
    return (
        v.select(F.col("id"), F.col("lbl").alias(label_col))
        .join(maj.withColumnRenamed("xid", "id"), "id", "left")
        .select(
            "id",
            label_col,
            "knn_label",
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
            F.when(
                F.col("knn_label").isNotNull(), F.col("knn_label") == F.col(label_col)
            ).alias("agree"),
        )
    )


def hard_negative_mining(
    df: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_cells: int | None = None,
) -> DataFrame:
    """Hard-negative mining over a labeled embedding corpus — the
    contrastive-training curation op: for each vector, its *k*
    highest-cosine neighbors with a DIFFERENT label inside its IVF cell.
    Those near-duplicate-but-differently-labeled pairs are exactly what
    contrastive/metric-learning batches want as hard negatives (and what
    a label-noise audit re-examines from the other direction —
    ``knn_label_agreement`` flags the vector, this op names the
    offending neighbors). Returns (id, label, neg_id, neg_label, cos,
    rank), rank 1..k by (cos DESC, neg_id ASC); vectors with no
    other-class cell-mate emit nothing (no guess rows).

    Same neighborhood contract and scale shape as
    ``knn_label_agreement``: single-nearest-cell assignment (the
    n_probe=1 IVF recall trade), centroids broadcast, ONE cell-keyed
    salted equi-join for the within-cell pairs (never a cross product,
    pairwise work bounded by k ∝ corpus), vector columns projected away
    before the id-partitioned top-k window."""
    v = with_norm(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.col(label_col).alias("lbl"),
        ),
        "vec",
    )
    asg = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col, n_probe=1)
    mem = v.join(asg.select("id", "cell"), "id")
    xm = mem.select(
        F.col("id").alias("xid"), F.col("vec").alias("xv"),
        F.col("__norm").alias("xn"), F.col("lbl").alias("xlbl"), "cell",
    )
    ym = mem.select(
        F.col("id").alias("yid"), F.col("vec").alias("yv"),
        F.col("__norm").alias("yn"), F.col("lbl").alias("ylbl"), "cell",
    )
    xm, ym, join_keys = _salted_cell_join_sides(
        xm,
        ym,
        int(n_cells) if n_cells is not None else centroids.count(),
        "xid",
        df.sparkSession,
    )
    denom = F.col("xn") * F.col("yn")
    pairs = (
        xm.join(ym, join_keys)
        .filter(F.col("xid") != F.col("yid"))
        .filter(F.col("xlbl") != F.col("ylbl"))
        .withColumn(
            "cos",
            F.round(F.when(denom != 0, _dot(F.col("xv"), F.col("yv")) / denom), 6),
        )
        .filter(F.col("cos").isNotNull())
        # project vectors away BEFORE the window (the knn operator's
        # measured dominant-cost lesson, round 11)
        .select("xid", "xlbl", "yid", "ylbl", "cos")
    )
    w = W.partitionBy("xid").orderBy(F.col("cos").desc(), F.col("yid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("xid").alias("id"),
            F.col("xlbl").alias(label_col),
            F.col("yid").alias("neg_id"),
            F.col("ylbl").alias("neg_label"),
            "cos",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def label_centroid_margin(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 9,
) -> DataFrame:
    """Linear-probe-proxy embedding evaluation: per-label centroids
    (DECIMAL-exact per-dim means — order-independent, oracle-replicable),
    then each vector's cosine margin = cos(own-label centroid) − best
    cosine to any OTHER label's centroid. Returns
    (id, label, own_cos, rival_label, rival_cos, margin); negative
    margin = the vector sits closer to another class's centroid — the
    standard embedding-quality / hard-example signal for labeled corpora.

    Ties in the rival argmax break (cos DESC, label ASC). Degenerate
    vectors (zero norm → NULL cosines everywhere) emit NULL margins.

    Scale shape: the label-centroid fit is ONE map-side-combinable
    (label, dim) decimal-mean shuffle of fixed width (labels·dims rows);
    the ~|labels| centroid table broadcasts back into one corpus scan for
    both the own-label equi-join and the rival cross — nothing shuffles
    the corpus."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.col(label_col).alias("lbl"),
    )
    means = (
        v.select("lbl", F.posexplode("v").alias("dim", "x"))
        .groupBy("lbl", "dim")
        .agg(F.sum(F.col("x").cast("decimal(28,12)")).alias("sx"), F.count(F.lit(1)).alias("n"))
        .select(
            "lbl", "dim",
            F.round(F.col("sx").cast("double") / F.col("n"), round_digits).alias("val"),
        )
    )
    cents = (
        means.groupBy("lbl")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("ps"))
        .select(
            F.col("lbl").alias("clbl"),
            F.transform("ps", lambda p: p["val"]).alias("cv"),
        )
    )
    cents = with_norm(cents, "cv").withColumnRenamed("__norm", "cn")
    vn = with_norm(v, "v").withColumnRenamed("__norm", "vn")
    denom = F.col("vn") * F.col("cn")
    scored = (
        vn.crossJoin(F.broadcast(cents))
        .withColumn(
            "cos",
            F.round(F.when(denom != 0, _dot(F.col("v"), F.col("cv")) / denom), 6),
        )
    )
    own = scored.filter(F.col("lbl") == F.col("clbl")).select(
        "id", "lbl", F.col("cos").alias("own_cos")
    )
    rival = (
        scored.filter((F.col("lbl") != F.col("clbl")) & F.col("cos").isNotNull())
        .groupBy("id")
        .agg(F.min(F.struct((-F.col("cos")).alias("neg"), F.col("clbl").alias("l"))).alias("m"))
        .select(
            "id",
            F.col("m.l").alias("rival_label"),
            (-F.col("m.neg")).alias("rival_cos"),
        )
    )
    return (
        own.join(rival, "id", "left")
        .select(
            "id",
            F.col("lbl").alias(label_col),
            "own_cos",
            "rival_label",
            "rival_cos",
            F.round(F.col("own_cos") - F.col("rival_cos"), 6).alias("margin"),
        )
    )


def pca_power_scores(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
    round_digits: int = 9,
) -> DataFrame:
    """Top-principal-component scores by MATRIX-FREE power iteration —
    the embedding-curation primitive PCA-based pipelines need
    (dominant-direction whitening, outlier screens, spectral
    near-duplicate axes) without ever materializing the d×d covariance:
    each iteration computes C·v as Xᶜᵀ(Xᶜ·v)/n — one per-row dot and one
    per-dim weighted sum, both map-side-combinable aggregations over the
    posexploded centered corpus. Returns (id, pc1) with pc1 = the
    centered vector's projection on the converged direction (6dp).

    Deterministic and cross-engine exact, the kmeans_fit discipline:
    per-dim means and all reduction sums go through DECIMAL (exact,
    order-independent — a double sum would differ across partitionings)
    with fixed rounding points (products rounded to 12dp before the
    decimal cast, the direction renormalized and rounded to
    *round_digits* per iteration); init v₀ = e₀ (no RNG). The sign of
    pc1 follows the deterministic iterate, so the oracle replicates it
    bit-for-bit. With a fixed iteration count this is a TRUNCATED power
    method: n_iters=2 separates the dominant direction on embedding-like
    spectra; pass more for near-degenerate top eigenvalues.

    Scale shape (round 16, guide §2.4 — remove shuffles outright): the
    per-id reductions (X·v dots, final projections) are ROW-LOCAL array
    folds over the vector column — decimal sums are exact and
    order-independent, so folding the identically-rounded products
    inside the row produces bit-for-bit the value the old
    posexplode→groupBy(id) exchange produced, with zero shuffle and no
    corpus⋈y join (previously a full corpus-sized hash join per
    iteration). Only the transpose direction (per-dim sums) still
    aggregates, keyed on d — |dims| groups, map-side combinable. The
    per-dim means are computed once and carried as a checkpointed 1-row
    array (the old lazy m-subtree re-ran the corpus mean scan inside
    every consuming job). Corpus passes: 1 (means) + 1 per iteration +
    1 (final projection) — down from 2-3 per iteration. Preconditions
    (shared with the oracle's generate_subscripts form; round-16 ADVICE
    items made explicit): (a) vectors are rectangular (same dimension on
    every row) with NON-NULL elements — a NULL element nulls that row's
    zip_with products and hence its whole dot/pc1 (the pre-round-16
    posexplode+SUM path skipped null terms instead); (b) *id_col* values
    are UNIQUE — the output is one row per INPUT row (the row-local fold
    needs no per-id aggregation), so duplicate ids yield duplicate
    output rows where the old groupBy(id) form collapsed them; (c) the
    oracle-parity claim for the row-local decimal folds is exact while
    every 12dp-rounded product is exactly representable at 14 decimal
    places in a double — i.e. |xcᵢ·vᵢ| ≲ 45, where ulp(45) ≈ 0.7e-14:
    beyond that the fold's (38,14)+(38,14)→(38,13) re-type can drop a
    junk 14th-scale digit the old scale-14 groupBy sum (and the DuckDB
    DECIMAL(38,14) sum) would keep. Unit-scale embedding corpora sit
    orders of magnitude inside all three bounds."""
    from pyspark.sql import Observation

    dec = "decimal(38,14)"
    obs = Observation()
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda c: c.cast("double")).alias("v"),
        )
        # rides the means job below — replaces a separate df.count() job;
        # observed BEFORE the size filter, matching the old count() scope
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .filter(F.size("v") > 0)
    )

    def as_arr(frame: DataFrame, col: str) -> DataFrame:
        # (d, col) rows -> one row holding [col ordered by d]
        return frame.agg(
            F.array_sort(F.collect_list(F.struct("d", col))).alias("s")
        ).select(F.transform("s", lambda t: t[col]).alias("arr"))

    x = base.select("id", F.posexplode("v").alias("d", "val"))
    m = (
        x.groupBy("d")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                round_digits,
            ).alias("m")
        )
    )
    # one corpus pass; every later pass reads the 1-row array for free
    marr = as_arr(m, "m").localCheckpoint(eager=True)
    xc = base.crossJoin(F.broadcast(marr)).select(
        "id", F.zip_with("v", "arr", lambda a, b: a - b).alias("xc")
    )
    n_rows = obs.get["n"]

    def dot_v(vec_arr, dir_arr):
        # sum of 12dp-rounded products through DECIMAL — the exact value
        # the old groupBy(id) sum produced, folded row-locally
        # (38,14)+(38,14) re-types to (38,13) under Spark's decimal
        # addition; the addends carry <= 12dp so the back-cast is exact
        return F.aggregate(
            F.zip_with(vec_arr, dir_arr, lambda a, b: F.round(a * b, 12)),
            F.lit(0).cast(dec),
            lambda acc, t: (acc + t.cast(dec)).cast(dec),
        ).cast("double")

    # v0 = e0, sized from the (already-checkpointed) mean vector — a lazy
    # 1-row projection, no job of its own
    varr = marr.select(
        F.transform(
            F.sequence(F.lit(0), F.size("arr") - 1),
            lambda i: F.when(i == F.lit(0), F.lit(1.0)).otherwise(F.lit(0.0)),
        ).alias("arr")
    )
    for _ in range(n_iters):
        y = xc.crossJoin(F.broadcast(varr)).select(
            "id", "xc", dot_v(F.col("xc"), F.col("arr")).alias("y")
        )
        z = (
            y.select(F.posexplode("xc").alias("d", "xcv"), "y")
            .groupBy("d")
            .agg(
                F.round(
                    F.sum(F.round(F.col("xcv") * F.col("y"), 12).cast(dec))
                    .cast("double")
                    / F.lit(float(n_rows)),
                    12,
                ).alias("zd")
            )
        )
        nrm = z.agg(
            F.sqrt(F.sum(F.round(F.col("zd") * F.col("zd"), 12).cast(dec)).cast("double"))
            .alias("nrm")
        )
        v = z.crossJoin(F.broadcast(nrm)).select(
            "d",
            F.when(
                F.col("nrm") != 0, F.round(F.col("zd") / F.col("nrm"), round_digits)
            )
            .otherwise(F.lit(0.0))
            .alias("vd"),
        )
        # one corpus pass per iteration; d-sized result, plan cut per pass
        varr = as_arr(v, "vd").localCheckpoint(eager=True)
    return xc.crossJoin(F.broadcast(varr)).select(
        "id", F.round(dot_v(F.col("xc"), F.col("arr")), 6).alias("pc1")
    )
