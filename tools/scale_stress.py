"""Scale-stress suite: measure the iterative/bucketed flagships at a base
scale S and at 10×S, in-engine, and check for super-linear blowup.

Everything the per-round bench measures runs at sf0.1 (5k docs, 2k
vectors, ~600k lineitem); this suite is the evidence that the plans
"designed for 100×" actually degrade ~linearly through the first 10×:

- ``bfs_stats``   — GraphSnapshot.get_stats() (the reference's flagship,
                    Graph.hs:82-118) on a synthetic layered DAG:
                    0.5M → 5M nodes, 1.4M → 13.7M edges, depth 8.
- ``cc_star``     — large-star/small-star connected components on the
                    same graphs.
- ``dedup_minhash`` — MinHash+LSH near-dup pairs on a generated corpus
                    (50k → 500k docs, ~1% planted near-dup twins, the
                    rest pairwise-distinct so candidate volume scales
                    with the corpus, not quadratically). Records the
                    auto-picked band-join strategy, plus the byte-hint
                    path's timing for comparison (identical pairs).
- ``pipeline_training_corpus`` / ``pipeline_curated_pack`` — the two
                    registered composed pipelines end to end on the same
                    generated corpus (documents-table-only queries).
- ``landmark_distances`` — tagged multi-source BFS (3 landmarks, one
                    frontier join per level total) on the layered DAG.
- ``ann_ivf_kmeans`` — distributed k-means fit (k=8, 2 Lloyd rounds) +
                    IVF top-k probe on expanded fixture embeddings
                    (20k → 200k vectors, dim 64).
- ``semdedup``    — cluster-bounded semantic dedup (k = sqrt(n) trained
                    cells) on the same expanded embeddings; shuffle is
                    linear by design, compute n^1.5 (see inline note).
- ``prefix_jaccard`` / ``containment_exact`` — the exact-recall prefix
                    joins on a stopword-contaminated corpus (50k → 500k
                    docs), plus the untimed ``prefix_skew_profile``: the
                    max df any prefix token carries vs the corpus max —
                    the evidence behind the "df-ascending order designs
                    out stopword skew" claim.
- ``semdedup_default`` — the ``semantic_dedup`` entry point as shipped:
                    CONSTANT-cell auto-k (k ∝ n, round-11), sampled fits
                    at every pyramid level, branch-64 top-down routing.
                    Records ``within_cell_pairs`` (Σ |cell|·(|cell|-1)/2,
                    computed untimed) — the pairwise-term metric whose
                    ratio must stay ~linear for the k ∝ n schedule.

Corpus/vector generation is deterministic column arithmetic (md5 of
(seed, position)) — no RNG state, no driver loops; the 10× frames are
built by the same expressions with a bigger range/expansion factor.

Shuffle volume per op is read from the Spark UI REST API (total shuffle
write bytes across the op's stages) — the scale-out cost driver.

Usage: python tools/scale_stress.py [--fast] [--x30] [--spread] [--only=op1,op2]
  --fast      1/10 sizes (smoke)
  --x30       add a 30x point for the flagships (bfs_stats, ann_ivf_kmeans)
  --spread    3 back-to-back 10x runs for semdedup/semdedup_hier (rerun
              variance evidence; records 10x_r2/10x_r3 + spread_pct)
  --only=...  run only the named ops (targeted quiet re-measures)
Prints one JSON line; paste the table into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from graph_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def shuffle_write_bytes(spark) -> int:
    """Total shuffle write bytes across all completed stages so far."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages", timeout=10) as r:
            stages = json.load(r)
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1


def layered_graph(spark, width: int, layers: int, fanout: int = 3):
    """Deterministic layered DAG: root(0) → layer0(all) and each node of
    layer l → *fanout* children in layer l+1 (hash-spread). Returns
    (vertices, edges) with |V| = 1 + layers*width."""
    root_edges = spark.range(width).select(
        F.lit(0).cast("long").alias("src"), (1 + F.col("id")).alias("dst")
    )
    inner = (
        spark.range((layers - 1) * width)
        .select(
            (F.col("id") / width).cast("long").alias("l"),
            (F.col("id") % width).alias("i"),
        )
        .select(
            (1 + F.col("l") * width + F.col("i")).alias("src"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(fanout - 1)),
                    lambda j: 1
                    + (F.col("l") + 1) * width
                    + (F.col("i") * 31 + j * 17 + F.col("l")) % width,
                )
            ).alias("dst"),
        )
    )
    edges = root_edges.unionByName(inner)
    vertices = spark.range(1 + layers * width).select(F.col("id"))
    return vertices, edges


def synthetic_docs(spark, n_docs: int, n_tokens: int = 80):
    """n_docs documents of *n_tokens* md5-derived tokens; ids ≡ 1 (mod
    100) are a planted near-dup twin of id-1 (one token differs)."""
    is_twin = (F.col("id") % 100 == 1).cast("long")
    seed = F.col("id") - is_twin
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(n_tokens)),
            lambda p: F.substring(
                F.md5(
                    F.concat(
                        seed.cast("string"),
                        F.lit(":"),
                        # the twin's token 3 differs — everything else matches
                        F.when((p == 3) & (is_twin == 1), F.lit("X")).otherwise(
                            p.cast("string")
                        ),
                    )
                ),
                1,
                6,
            ),
        ),
    )
    return spark.range(n_docs).select(F.col("id").alias("doc_id"), text.alias("text"))


def expanded_embeddings(spark, sf_dir: str, factor: int):
    """Fixture embeddings × *factor* with deterministic per-copy
    perturbation (distinct ids, slightly rotated vectors)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    k = spark.range(factor).select(F.col("id").alias("k"))
    return e.crossJoin(k).select(
        (F.col("vec_id") + F.col("k") * 10_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x
            + ((F.col("vec_id") * 7 + F.col("k") * 13 + d) % 11 - 5).cast("double") * 0.01,
        ).alias("embedding"),
    )


def main() -> None:
    fast = "--fast" in sys.argv
    x30 = "--x30" in sys.argv
    spread = "--spread" in sys.argv
    only = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        elif a == "--only":
            # space-separated form: silently running the FULL suite on a
            # syntax slip wastes a quiet-machine measurement window
            if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
                raise SystemExit("--only needs a comma-separated op list")
            only = set(argv[i + 1].split(","))
    KNOWN_OPS = {
        "bfs_stats", "bfs_stats_phases", "bfs_stats_degraded", "cc_star",
        "dedup_minhash", "dedup_minhash_byte_hint_path",
        "pipeline_training_corpus", "pipeline_curated_pack",
        "pipeline_curated_pack_stages",
        "dedup_repeated_lines", "shard_manifest_by_tokens",
        "dedup_incremental_new_vs_store", "incremental_dedup_store",
        "landmark_distances", "ann_ivf_kmeans", "stream_dedup_banded",
        "exact_substring_spans", "semdedup", "semdedup_hier",
        "semdedup_default", "stream_dedup_banded_builtin",
        "stream_dedup_builtin_claim_lag", "semantic_incremental_store",
        "prefix_jaccard", "containment_exact",
        "ivfpq_persisted", "ivfpq_persisted_build",
        "simhash_banded_wide", "bfs_deep",
    }
    if only is not None and only - KNOWN_OPS:
        # fail BEFORE Spark startup: a typo'd op name would otherwise
        # silently run NOTHING and burn the quiet-machine window
        raise SystemExit(
            f"unknown --only ops: {sorted(only - KNOWN_OPS)}; known: {sorted(KNOWN_OPS)}"
        )
    div = 10 if fast else 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="scale_stress",
        cpus=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            # the shuffle-delta probe reads cumulative stage totals from
            # the UI REST API; the default 1000-stage retention buffer
            # overflows mid-suite and the delta goes NEGATIVE (observed
            # in the r12 full run's semdedup rows) — retain enough
            # stages for the whole suite
            "spark.ui.retainedStages": "50000",
        },
    )

    def want(*ops: str) -> bool:
        """--only=<csv> gates whole setup blocks, so a targeted re-measure
        (e.g. the quiet stream_dedup_banded run) skips the other corpora
        entirely instead of paying their generation + execution."""
        return only is None or bool(only & set(ops))

    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSnapshot
    from graph_db_spark.operators import dedup as D
    from graph_db_spark.operators.similarity import ivf_cosine_topk, kmeans_fit
    from graph_db_spark.pregel import connected_components_star

    results: dict[str, dict] = {}

    def run(op: str, scale: str, fn):
        sw0 = shuffle_write_bytes(spark)
        t0 = time.time()
        out = fn()
        dt = round(time.time() - t0, 2)
        sw1 = shuffle_write_bytes(spark)
        mb = round((sw1 - sw0) / 1e6, 1) if sw0 >= 0 and sw1 >= 0 else None
        results.setdefault(op, {})[scale] = {"sec": dt, "shuffle_write_mb": mb, **out}
        print(f"[stress] {op} @{scale}: {dt}s shuffle={mb}MB {out}", file=sys.stderr, flush=True)

    # -- graph ops on the layered DAG --------------------------------------
    graph_scales = [("1x", 62_500 // div), ("10x", 625_000 // div)]
    if x30:
        # two-point trend for the flagship: 30x turns the 10x→100x
        # extrapolation into a measured slope (round-7 verdict item 7).
        graph_scales.append(("30x", 1_875_000 // div))
    for scale, width in graph_scales if want("bfs_stats", "bfs_stats_phases", "bfs_stats_degraded", "cc_star") else []:
        v, e = layered_graph(spark, width=width, layers=8)
        ei = e.select(
            "src", F.lit("T").alias("idx_tag"), F.lit(None).cast("string").alias("idx_key"), "dst"
        )
        snap = GraphSnapshot(
            v.select("id", F.lit("N").alias("kind")), e, ei, catalogue_schema()
        )
        if want("bfs_stats"):
            run(
                "bfs_stats",
                scale,
                lambda s=snap: {"stats": list(s.get_stats().as_tuple())},
            )
        if want("bfs_stats_phases") and scale in ("10x", "30x"):
            # round-11 verdict item 4: decompose the bfs_stats shuffle
            # into the BFS loop vs the two stats semi-joins, with the
            # reachable-set size the broadcast guard keys on. At 30x
            # (15M ids > the 8M guard) both phases run the shuffle
            # branch; the loop's shuffle must be level-sized (visited +
            # candidates + the one-time edges twin), never
            # edge-table-x-levels (the round-11 blowup, fixed in
            # graph.py _reachable_on).
            def phases(s=snap):
                edges = s.edges.select("src", "dst").persist()
                try:
                    sw0 = shuffle_write_bytes(spark)
                    t0 = time.time()
                    reach = s._reachable_on(edges, 0, 1000)
                    n = reach.count()
                    loop_s = round(time.time() - t0, 2)
                    sw1 = shuffle_write_bytes(spark)
                    bcast = n <= type(s).BFS_BROADCAST_MAX_IDS
                    hint = F.broadcast if bcast else (lambda df: df)
                    reach_src = hint(reach.withColumnRenamed("id", "src"))
                    t0 = time.time()
                    ne = edges.join(reach_src, "src", "left_semi").count()
                    ni = s.edge_index.join(reach_src, "src", "left_semi").count()
                    semi_s = round(time.time() - t0, 2)
                    sw2 = shuffle_write_bytes(spark)
                    return {
                        "reachable_ids": n,
                        "loop_sec": loop_s,
                        "loop_shuffle_mb": round((sw1 - sw0) / 1e6, 1),
                        "semijoin_sec": semi_s,
                        "semijoin_shuffle_mb": round((sw2 - sw1) / 1e6, 1),
                        "broadcast_branch": bcast,
                        "n_edges": ne,
                        "n_idx": ni,
                    }
                finally:
                    edges.unpersist()

            run("bfs_stats_phases", scale, phases)
        if scale == "30x" and not (only and "cc_star" in only):
            continue  # 30x measures the flagship only, unless cc_star
            # is explicitly targeted (--only=cc_star --x30)
        if scale == "10x" and want("bfs_stats_degraded"):
            # force the broadcast→shuffle degrade MID-TRAVERSAL at real
            # size (the default 8M guard can't trip below 8M reachable
            # ids): lower the guard so the walk switches to shuffle
            # joins after the first ~1M visited, and the stats must not
            # change. This is the 100×-scale branch, measured.
            def degraded(s=snap):
                prev = type(s).BFS_BROADCAST_MAX_IDS
                type(s).BFS_BROADCAST_MAX_IDS = 1_000_000
                try:
                    return {"stats": list(s.get_stats().as_tuple())}
                finally:
                    type(s).BFS_BROADCAST_MAX_IDS = prev

            run("bfs_stats_degraded", scale, degraded)
        if want("cc_star"):
            # Size shuffle partitions to the edge count (~350k edge rows
            # per partition) — the knob every cluster deployment sets.
            # At 30x (41M edges) the session default of 32 partitions
            # left each task holding a 470k-entry SHJ build + its slice
            # of an 82M-row probe in one JVM: measured 216.9 s vs 133.5 s
            # at 128 partitions (round 10); at 1x/10x the default wins
            # (fewer task launches), so the rule keeps it there.
            n_edges = 22 * width  # layered_graph: width*(1 + (layers-1)*fanout)
            parts = max(int(cpus), n_edges // 350_000)
            prev_parts = spark.conf.get("spark.sql.shuffle.partitions")

            def cc(vv=v, ee=e, p=parts, pp=prev_parts):
                spark.conf.set("spark.sql.shuffle.partitions", str(p))
                try:
                    labels, r = connected_components_star(vv, ee)
                    return {
                        "components": labels.filter(F.col("component") == 0).count(),
                        "rounds": r,
                        "shuffle_partitions": p,
                    }
                finally:
                    spark.conf.set("spark.sql.shuffle.partitions", pp)

            run("cc_star", scale, cc)

    # -- MinHash+LSH dedup on the generated corpus -------------------------
    # minhash_near_dup_pairs now picks the band-join strategy from the
    # corpus row count (LSH_BROADCAST_MAX_DOCS); record which plan the
    # auto path chose so the artifact proves it matches the measured
    # winner (shuffle at both 50k and 500k — r06 numbers).
    minhash_ops = ("dedup_minhash", "dedup_minhash_byte_hint_path")
    for scale, n in (
        (("1x", 50_000 // div), ("10x", 500_000 // div)) if want(*minhash_ops) else ()
    ):
        docs = synthetic_docs(spark, n)

        # plan-only peek (no execution): which band-join strategy did the
        # auto path pick for this corpus size? NOTE: this is the INITIAL
        # plan — binding for the auto path (its merge hint forbids AQE
        # broadcast conversion), advisory for the un-hinted byte-hint
        # path below (AQE could re-plan at runtime; the timings + shuffle
        # bytes are the ground truth there).
        _cands = D.lsh_candidate_pairs(
            D.minhash_signatures(D.shingles(docs, "doc_id", "text", 3), 8),
            8, 4, corpus_rows=n,
        )
        _plan = _cands._jdf.queryExecution().executedPlan().toString()
        strategy = "broadcast" if "BroadcastHashJoin" in _plan else "shuffle"

        run(
            "dedup_minhash",
            scale,
            lambda d=docs, s=strategy: {
                "pairs": D.minhash_near_dup_pairs(
                    d, "doc_id", "text", n_hashes=8, bands=4, threshold=0.7, shingle=3
                ).count(),
                "band_join": s,
            },
        )

        # the path Spark's 64 MB byte hint would have picked on its own
        # (corpus_rows withheld → broadcast at these sizes): must produce
        # IDENTICAL pairs, and its timing shows what the auto strategy
        # saves at each scale.
        def dedup_byte_hint(d=docs):
            tok = D.shingles(d, "doc_id", "text", 3)
            cands = D.lsh_candidate_pairs(D.minhash_signatures(tok, 8), 8, 4)
            plan = cands._jdf.queryExecution().executedPlan().toString()
            return {
                "pairs": D.jaccard_verify(cands, tok, 0.7).count(),
                "band_join": "broadcast" if "BroadcastHashJoin" in plan else "shuffle",
            }

        run("dedup_minhash_byte_hint_path", scale, dedup_byte_hint)

    # -- exact-recall prefix joins (round-13 verdict item 4) ----------------
    # The docstrings of prefix_filter_jaccard_pairs /
    # prefix_filter_containment_pairs ARGUE that the df-ascending prefix
    # bounds the candidate join's per-key fan-out (prefixes are each doc's
    # RAREST tokens, so stopword-shingle skew is designed out). Measure it:
    # 1x/10x wall + shuffle, planted-pair counts, and the untimed skew
    # profile — the max document frequency over all prefix tokens. The
    # corpus is ADVERSARIAL for this claim: every document carries a
    # shared 10-stopword suffix, so ~8 shingles per doc have df = n (a raw
    # token self-join would fan out n² on them); the df order must keep
    # every one of them OUT of the prefixes.
    prefix_ops = ("prefix_jaccard", "containment_exact")
    for scale, n in (
        (("1x", 50_000 // div), ("10x", 500_000 // div)) if want(*prefix_ops) else ()
    ):
        docs = synthetic_docs(spark, n).select(
            "doc_id",
            F.concat_ws(
                " ", "text", F.lit("the of and to in a is for on with")
            ).alias("text"),
        )
        tok = D.shingles(docs, "doc_id", "text", 3)
        if want("prefix_jaccard"):
            run(
                "prefix_jaccard",
                scale,
                lambda d=docs: {
                    "pairs": D.prefix_filter_jaccard_pairs(
                        d, "doc_id", "text", 0.7, 3
                    ).count()
                },
            )
        if want("containment_exact"):
            run(
                "containment_exact",
                scale,
                lambda d=docs: {
                    "pairs": D.prefix_filter_containment_pairs(
                        d, "doc_id", "text", 0.8, 3
                    ).count()
                },
            )
        # untimed skew profile: the largest df any PREFIX token carries
        # (the candidate join's max per-key fan-out) vs the corpus-wide
        # max df (what a raw token self-join would hit). The df-order
        # claim holds iff max_prefix_df stays ~constant while max_df = n.
        pref, _sizes = D._df_ordered_prefix(tok, 0.7)
        dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        prof = (
            pref.select("token")
            .distinct()
            .join(dfreq, "token")
            .agg(F.max("df").alias("mx"), F.count(F.lit(1)).alias("ntok"))
            .first()
        )
        corpus_max = dfreq.agg(F.max("df")).first()[0]
        results.setdefault("prefix_skew_profile", {})[scale] = {
            "max_prefix_df": prof["mx"],
            "distinct_prefix_tokens": prof["ntok"],
            "corpus_max_df": corpus_max,
        }
        print(
            f"[stress] prefix_skew_profile @{scale}: max_prefix_df={prof['mx']} "
            f"corpus_max_df={corpus_max}",
            file=sys.stderr,
            flush=True,
        )

    # -- composed pipelines at corpus scale --------------------------------
    # The two most expensive composed bench entries, run against a
    # synthetic documents table at 50k → 500k docs (both read ONLY the
    # documents table, so a generated corpus written as documents.parquet
    # exercises the full registered plans end to end).
    import shutil
    import tempfile

    from graph_db_spark.queries import REGISTRY

    pipeline_ops = (
        "pipeline_training_corpus",
        "pipeline_curated_pack",
        # round-12 documents-table ops: line-level dedup explodes ~27
        # segments/doc (md5-keyed df join — must stay linear), and the
        # shard manifest's two-level prefix sum must stay flat
        "dedup_repeated_lines",
        "shard_manifest_by_tokens",
        # asymmetric incremental dedup: new-batch-vs-store prune
        "dedup_incremental_new_vs_store",
    )
    for scale, n in (
        (("1x", 50_000 // div), ("10x", 500_000 // div))
        if want(*pipeline_ops, "pipeline_curated_pack_stages")
        else ()
    ):
        tmp = tempfile.mkdtemp(prefix=f"stress_docs_{scale}_")
        try:
            synthetic_docs(spark, n).select(
                "doc_id",
                "text",
                F.lit("en").alias("lang"),
                F.concat(F.lit("src"), (F.col("doc_id") % 5).cast("string")).alias(
                    "source"
                ),
                F.length("text").cast("long").alias("n_chars"),
            ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
            for op in pipeline_ops:
                if want(op):
                    run(
                        op,
                        scale,
                        lambda t=tmp, o=op: {
                            "rows": REGISTRY[o].build(spark, t).count()
                        },
                    )
            if want("pipeline_curated_pack_stages"):
                # round-11 verdict item 3: the composed pipeline's 10x
                # wall ratio read 11.18 — the one production-path row
                # above linear. Break the plan into its four gate
                # stages + the composed pack and time each separately
                # (same corpus, same session) so the super-linear term
                # is attributable to a named stage instead of the
                # composition.
                def stage_profile(t=tmp, sc=scale):
                    stage_names = [
                        "text_repetition_signals",
                        "boilerplate_ngrams",
                        "decontam_ngram_overlap",
                        # the production stage: 64-bit/16-bit buckets
                        "dedup_simhash_banded_wide",
                        "pipeline_curated_pack",
                    ]
                    if sc == "1x":
                        # the 8-bit-bucket form the round-12 profile
                        # convicted (n²/2^(width+1) collisions: 4.9 s at
                        # 5k docs → 77 s at 50k, 16× for 10×) — kept at
                        # base scale only as the measured contrast; at
                        # 10x (500k docs) it alone would cost ~25 min
                        stage_names.insert(4, "dedup_simhash_banded")
                    out = {}
                    for sname in stage_names:
                        sw0 = shuffle_write_bytes(spark)
                        t0 = time.time()
                        n = REGISTRY[sname].build(spark, t).count()
                        out[sname] = {
                            "sec": round(time.time() - t0, 2),
                            "shuffle_mb": round(
                                (shuffle_write_bytes(spark) - sw0) / 1e6, 1
                            ),
                            "rows": n,
                        }
                    return {"stages": out}

                run("pipeline_curated_pack_stages", scale, stage_profile)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # -- persisted signature store: batch cost vs STORE size ---------------
    # Round-12 verdict item 3: demonstrate (not argue) the docstring's
    # batch-cost-independent-of-store claim. FIXED batch of 10k arrivals
    # against a 50k (1x) vs 500k (10x) persisted store; per-batch wall on
    # the persisted route should be ~flat (the only store-linear term is
    # the columnar scan of bands/ + sizes/), while the recompute route —
    # which re-shingles and re-signs the store every batch — scales with
    # the store. Planted twins are batch-local (ids ≡ 1 mod 100 twin
    # id-1), so expected drops are IDENTICAL across store scales and
    # between routes: any divergence is a correctness bug, not noise.
    if want("incremental_dedup_store"):
        from graph_db_spark.operators.dedup import (
            incremental_near_dup_vs_store,
            jaccard_verify,
            lsh_candidate_pairs,
            minhash_signatures,
            shingles,
            signature_store_write,
        )

        batch_n = 10_000 // div
        for scale, store_n in (("1x", 50_000 // div), ("10x", 500_000 // div)):
            tmp = tempfile.mkdtemp(prefix=f"stress_sigstore_{scale}_")
            try:
                n_total = store_n + batch_n
                docs_path = os.path.join(tmp, "documents.parquet")
                synthetic_docs(spark, n_total).write.parquet(docs_path)
                d = spark.read.parquet(docs_path)
                store_docs = d.filter(F.col("doc_id") < store_n)
                arrivals = d.filter(F.col("doc_id") >= store_n)
                store_path = os.path.join(tmp, "sig_store")

                # one-time write-side cost (amortized across all batches)
                run(
                    "incremental_dedup_store",
                    f"{scale}_index_build",
                    lambda: {
                        "store_docs": store_n,
                        "built": signature_store_write(store_docs, store_path) or True,
                    },
                )

                def persisted_batch():
                    pairs = incremental_near_dup_vs_store(
                        spark, store_path, arrivals, store_docs, threshold=0.7
                    )
                    return {
                        "store_docs": store_n,
                        "batch_docs": batch_n,
                        "dropped": pairs.select("b").distinct().count(),
                    }

                run("incremental_dedup_store", f"{scale}_batch_persisted", persisted_batch)

                def recompute_batch():
                    tok = shingles(d, "doc_id", "text", 3)
                    cands = lsh_candidate_pairs(
                        minhash_signatures(tok, 8), 8, 4, corpus_rows=n_total
                    )
                    pairs = jaccard_verify(
                        cands.filter(F.col("b") >= store_n), tok, 0.7
                    )
                    return {
                        "store_docs": store_n,
                        "batch_docs": batch_n,
                        "dropped": pairs.select("b").distinct().count(),
                    }

                run("incremental_dedup_store", f"{scale}_batch_recompute", recompute_batch)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    # -- packed-long SimHash banding at corpus scale (round 17; stresses
    # the r16 rewrite that packs 64-bit signatures into 32-bit long words
    # through the banded join and verifies with bit_count(xor)) ------------
    for scale, n in (
        (("1x", 50_000 // div), ("10x", 500_000 // div))
        if want("simhash_banded_wide")
        else ()
    ):
        docs = synthetic_docs(spark, n)
        run(
            "simhash_banded_wide",
            scale,
            lambda d=docs: {
                "pairs": D.simhash_near_dup_pairs(
                    D.simhash_bits(D.shingles(d, "doc_id", "text", 3), n_bits=64),
                    n_bits=64,
                    bands=4,
                    max_hamming=3,
                ).count()
            },
        )

    # -- deep BFS: the r16 visited-set consolidation across its boundary ---
    # bfs_levels keeps the visited set as a lazy union and consolidates
    # into one checkpoint every _VISITED_CONSOLIDATE=8 levels; the bundled
    # fixtures and the 8-layer DAG above never cross that boundary at
    # stress scale. 24 layers cross it twice (consolidations at levels 8
    # and 16), so blowup here would expose a depth-dependent cost the
    # shallow runs cannot see.
    for scale, width in (
        (("1x", 4_000 // div), ("10x", 40_000 // div)) if want("bfs_deep") else ()
    ):
        from graph_db_spark.pregel import bfs_levels

        v, e = layered_graph(spark, width=width, layers=24)
        run(
            "bfs_deep",
            scale,
            lambda ee=e: {
                "rows": bfs_levels(
                    ee,
                    spark.range(1).select(F.lit(0).cast("long").alias("id")),
                    max_iters=100,
                ).count(),
                "layers": 24,
            },
        )

    # -- exact-substring span coverage at corpus scale ---------------------
    # duplicated_span_coverage (Lee et al. criterion, round-8 windowed
    # single-compute shape) on the generated corpus: the planted twins
    # share every 10-gram except the windows crossing their differing
    # token, so dup_docs = both members of every planted pair.
    _ess_scales = [("1x", 50_000 // div), ("10x", 500_000 // div)]
    if x30:
        # second point on the scaling curve for the newest heavy family
        _ess_scales.append(("30x", 1_500_000 // div))
    for scale, n in _ess_scales if want("exact_substring_spans") else ():
        docs = synthetic_docs(spark, n)
        run(
            "exact_substring_spans",
            scale,
            lambda d=docs, nn=n: {
                "docs": nn,
                "dup_docs": D.duplicated_span_coverage(d, "doc_id", "text", k=10)
                .filter(F.col("dup_tokens") > 0)
                .count(),
            },
        )

    # -- STREAMING banded near-dup at corpus scale -------------------------
    # The stateful per-bucket first-writer-wins operator driven through
    # Structured Streaming over the same generated corpus: wall time,
    # distinct docs dropped (planted twins ~n/100), and the state-store
    # row count (4 band buckets per doc in the single availableNow batch
    # — across batches the watermark timeout bounds it instead).
    from graph_db_spark.streaming import (
        stream_dedup_near_banded,
        stream_dedup_near_banded_builtin,
    )

    stream_variants = [("stream_dedup_banded", stream_dedup_near_banded)]
    # JVM-native A/B (round-10 verdict item 3): dropDuplicatesWithinWatermark
    # claims + stream-stream join-back — no Python in the hot loop
    stream_variants.append(
        ("stream_dedup_banded_builtin", stream_dedup_near_banded_builtin)
    )
    for op_name, op_fn in stream_variants:
      if not want(op_name):
        continue
      for scale, n in (("1x", 50_000 // div), ("10x", 500_000 // div)):
        tmp = tempfile.mkdtemp(prefix=f"stress_stream_{scale}_")
        try:
            synthetic_docs(spark, n).select(
                "doc_id",
                "text",
                F.lit("en").alias("lang"),
                F.lit("src").alias("source"),
                F.length("text").cast("long").alias("n_chars"),
            ).write.mode("overwrite").parquet(os.path.join(tmp, "docs"))

            def run_stream(t=tmp, sc=scale, fn=op_fn, op=op_name):
                q = (
                    fn(spark, os.path.join(t, "docs"))
                    .writeStream.outputMode("append")
                    .format("memory")
                    .queryName(f"stress_bhits_{op}_{sc}")
                    .start()
                )
                try:
                    q.processAllAvailable()
                    prog = q.lastProgress
                    state_rows = (
                        sum(so["numRowsTotal"] for so in prog["stateOperators"])
                        if prog and prog.get("stateOperators")
                        else None
                    )
                    # where the batch time goes (addBatch = plan incl.
                    # the Python stateful op; commit = state store) —
                    # the evidence for trigger-bound floor analysis
                    durs = dict((prog or {}).get("durationMs") or {})
                    commit_ms = (
                        sum(so.get("commitTimeMs") or 0 for so in prog["stateOperators"])
                        if prog and prog.get("stateOperators")
                        else None
                    )
                    dropped = spark.sql(
                        f"SELECT count(DISTINCT doc_id) AS n FROM stress_bhits_{op}_{sc}"
                    ).collect()[0]["n"]
                finally:
                    q.stop()
                return {
                    "dropped": dropped,
                    "state_rows": state_rows,
                    "last_batch_ms": durs,
                    "state_commit_ms": commit_ms,
                }

            run(op_name, scale, run_stream)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # -- builtin route: claim_lag state bound (round-11 verdict item 6) ----
    # The builtin route's third state store (the rows join side) is only
    # needed to meet claims elected at or after the row's own micro-batch,
    # so its horizon is the ingest's arrival disorder, not the dedup
    # window. Two-batch protocol (the single-batch runs above never
    # advance the watermark, so eviction never fires there): 90% of the
    # corpus, then the rest — batch 2 commits under batch 1's closing
    # watermark and evicts rows-side state older than (wm - claim_lag).
    # Identical drops required; state_rows is the headline.
    if want("stream_dedup_banded_builtin", "stream_dedup_builtin_claim_lag"):
        n = 500_000 // div
        for lag_name, lag in (("default", None), ("5min", "5 minutes")):
            tmp = tempfile.mkdtemp(prefix=f"stress_lag_{lag_name}_")
            try:
                docs = synthetic_docs(spark, n).select(
                    "doc_id",
                    "text",
                    F.lit("en").alias("lang"),
                    F.lit("src").alias("source"),
                    F.length("text").cast("long").alias("n_chars"),
                )
                cut = int(n * 0.9)
                src = os.path.join(tmp, "docs")
                docs.filter(F.col("doc_id") < cut).write.parquet(src)

                def run_lag(t=src, d=docs, c=cut, lg=lag, ln=lag_name):
                    kw = {} if lg is None else {"claim_lag": lg}
                    q = (
                        stream_dedup_near_banded_builtin(spark, t, **kw)
                        .writeStream.outputMode("append")
                        .format("memory")
                        .queryName(f"stress_lag_{ln}")
                        .start()
                    )
                    try:
                        q.processAllAvailable()
                        d.filter(F.col("doc_id") >= c).write.mode("append").parquet(t)
                        q.processAllAvailable()
                        prog = q.lastProgress
                        state_rows = (
                            sum(so["numRowsTotal"] for so in prog["stateOperators"])
                            if prog and prog.get("stateOperators")
                            else None
                        )
                        dropped = spark.sql(
                            f"SELECT count(DISTINCT doc_id) AS n FROM stress_lag_{ln}"
                        ).collect()[0]["n"]
                    finally:
                        q.stop()
                    return {"dropped": dropped, "state_rows": state_rows, "claim_lag": lg or "watermark"}

                run("stream_dedup_builtin_claim_lag", f"10x_{lag_name}", run_lag)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    # -- landmark-distance index (tagged multi-source BFS) -----------------
    # graph_landmark_distances' engine op (pregel.tagged_bfs_levels) on
    # the layered DAG: 3 landmarks, state keyed (id, landmark), one
    # frontier join per level for ALL landmarks together.
    from graph_db_spark.pregel import tagged_bfs_levels

    landmark_scales = [("1x", 62_500 // div), ("10x", 625_000 // div)]
    if x30:
        # round-15: third point for the iterative-flagship re-measure
        # under the data-scaled exchange config (VERDICT r14 item 2)
        landmark_scales.append(("30x", 1_875_000 // div))
    for scale, width in landmark_scales if want("landmark_distances") else ():
        v, e = layered_graph(spark, width=width, layers=8)
        landmarks = spark.createDataFrame(
            [(0,), (1 + width // 2,), (1 + 3 * width,)], "id LONG"
        ).select("id", F.col("id").alias("tag"))
        run(
            "landmark_distances",
            scale,
            lambda ee=e, lm=landmarks: {
                "rows": tagged_bfs_levels(ee, lm, max_iters=6, directed=False).count()
            },
        )

    # -- k-means fit + IVF probe on expanded embeddings --------------------
    ann_scales = [("1x", max(10 // div, 1)), ("10x", max(100 // div, 2))]
    if x30:
        ann_scales.append(("30x", max(300 // div, 3)))
    for scale, factor in ann_scales if want("ann_ivf_kmeans") else []:
        # spread to cluster parallelism: the fixture is one parquet file,
        # and a real corpus arrives in thousands of splits
        emb = expanded_embeddings(spark, SF_DIR, factor).repartition(int(cpus)).persist()
        emb.count()

        def ann(e=emb):
            # sampled fit (round-10): the Lloyd passes read ~10k rows at
            # every scale, so the fit term is CONSTANT in corpus size;
            # assignment + probe still scan the full corpus
            cents = kmeans_fit(e, k=8, n_iters=2, sample_target=10_000)
            q = e.filter(F.col("vec_id") < 20)
            topk = ivf_cosine_topk(e, q, k=5, centroids=cents, n_probe=2)
            return {"topk_rows": topk.count()}

        run("ann_ivf_kmeans", scale, ann)
        emb.unpersist()

    # -- persisted residual IVF-PQ: query-batch cost vs store size ----------
    # Round-15 verdict item 4: the write-time residual-code index
    # (similarity.ivfpq_residual_store_write) must make PER-QUERY-BATCH
    # cost independent of corpus size — the r13 signature-store
    # demonstration applied to ANN. Stores are built at 1x/10x under the
    # constant-cell rule k = max(8, n // 1024) (probed-cell size stays
    # ~1k vectors as the corpus grows; the semantic-store schedule), then
    # the SAME fixed 20-query batch is served from each. The build is
    # its own labeled row (one-time, amortized like every store build).
    ivfpq_scales = [("1x", max(10 // div, 1)), ("10x", max(100 // div, 2))]
    for scale, factor in ivfpq_scales if want("ivfpq_persisted") else []:
        import shutil
        import tempfile

        from graph_db_spark.operators.similarity import (
            ivfpq_residual_store_write,
            ivfpq_residual_topk_persisted,
        )

        emb = expanded_embeddings(spark, SF_DIR, factor).repartition(int(cpus)).persist()
        n_vec = emb.count()
        k_coarse = max(8, n_vec // 1024)
        tmpd = tempfile.mkdtemp(prefix=f"ivfpq_store_{scale}_")
        store = os.path.join(tmpd, "store")

        def build(e=emb, s=store, kk=k_coarse, nv=n_vec):
            ivfpq_residual_store_write(
                e, s, coarse_k=kk, m=2, n_codes=16, n_iters=2,
                sample_target=10_000,
            )
            return {"k_coarse": kk, "n_vectors": nv}

        run("ivfpq_persisted_build", scale, build)
        # the 20 original fixture vectors exist identically at every
        # scale — a FIXED query batch
        qbatch = emb.filter(F.col("vec_id") < 20)

        def serve(s=store, qq=qbatch, kk=k_coarse):
            topk = ivfpq_residual_topk_persisted(spark, s, qq, k=5, n_probe=2)
            return {"topk_rows": topk.count(), "k_coarse": kk}

        run("ivfpq_persisted", scale, serve)
        emb.unpersist()
        shutil.rmtree(tmpd, ignore_errors=True)

    # -- SemDeDup cluster-bounded semantic dedup ---------------------------
    # k = sqrt(n): the exact method's self-balancing point (assignment
    # n*k vs within-cell pairwise n*(n/k)). Round-10: the FIT now trains
    # on a deterministic hash-sample of max(10k, 50k) rows (kmeans_fit
    # sample_target — the "sample/GPU" move real deployments make, the
    # sampled half implemented in-engine), so the measured n^1.5 fit
    # floor (286 s of the 322 s hier run at 200k vectors,
    # SCALE_STRESS_r08) drops to a near-constant term. What remains
    # super-linear BY CONSTRUCTION in the exact route is the n*k
    # ASSIGNMENT matmul (flat, zero-shuffle — the GPU half); the hier
    # route cuts that to n*(1+n_probe)*sqrt(k). Shuffle stays linear in
    # both (pair join moves each vector once, keyed on cell).
    sd_scales = [("1x", max(10 // div, 1)), ("10x", max(100 // div, 2))]

    def sd_fit(e, n):
        import math

        k = max(int(math.sqrt(n)), 8)
        target = max(10_000, 50 * k)
        cents = kmeans_fit(e, k=k, n_iters=2, sample_target=target)
        return k, target, cents

    def spread_scales(scale):
        # --spread: 3 back-to-back runs at 10x (round-8 task #3: rerun
        # spread for the fit-dominated ops; target ±15%)
        return [scale] if not (spread and scale == "10x") else [scale, "10x_r2", "10x_r3"]

    def within_cell_pairs(verd) -> int:
        """Σ |cell|·(|cell|-1)/2 over the verdict frame — the number of
        within-cell cosine evaluations the pairwise prune performs. The
        k ∝ n schedule must keep this ~linear in n (constant cell size);
        the old isqrt(n) rule grew it n^1.5. Computed OUTSIDE the timed
        section (it re-runs the pair-join-shaped agg) so walls stay
        comparable across rounds. Caveat: at --fast sizes the 1x corpus
        (2k vectors) sits under the k=8 FLOOR (cells of ~250, not
        ~1024), so the 1x point is artificially cheap and the fast-tier
        pairs ratio overshoots — judge the flag at full sizes, where k
        is above the floor at every scale."""
        row = (
            verd.filter(F.col("cell").isNotNull())
            .groupBy("cell")
            .count()
            .agg(
                F.sum((F.col("count") * (F.col("count") - 1) / 2).cast("long")).alias("p")
            )
            .collect()[0]
        )
        return int(row["p"] or 0)

    for scale, factor in sd_scales if want("semdedup") else []:
        emb = expanded_embeddings(spark, SF_DIR, factor).repartition(int(cpus)).persist()
        n = emb.count()
        stash: dict = {}

        def sd(e=emb, n=n, stash=stash):
            k, target, cents = sd_fit(e, n)
            verd = D.semantic_dedup_tree_verdicts(e, [cents], tau=0.95)
            stash["verd"] = verd
            return {
                "vectors": n,
                "k": k,
                "fit_sample_target": target,
                "pruned": verd.filter(F.col("pruned")).count(),
            }

        for s in spread_scales(scale):
            run("semdedup", s, sd)
            results["semdedup"][s]["within_cell_pairs"] = within_cell_pairs(stash["verd"])
        emb.unpersist()

    # The entry point AS SHIPPED (round-11): constant-cell auto-k
    # (k = max(8, ceil(n/1024)) — k ∝ n, so within_cell_pairs must track
    # n, not n^1.5), per-level sampled fits, branch-64 pyramid routing.
    sdd_scales = list(sd_scales)
    if x30:
        sdd_scales.append(("30x", max(300 // div, 3)))
    for scale, factor in sdd_scales if want("semdedup_default") else []:
        emb = expanded_embeddings(spark, SF_DIR, factor).repartition(int(cpus)).persist()
        n = emb.count()
        stash = {}

        def sdd(e=emb, n=n, stash=stash):
            verd = D.semantic_dedup(e, tau=0.95)
            stash["verd"] = verd
            return {
                "vectors": n,
                "pyramid_ks": D.semantic_pyramid_ks(n),
                "pruned": verd.filter(F.col("pruned")).count(),
            }

        for s in spread_scales(scale):
            run("semdedup_default", s, sdd)
            results["semdedup_default"][s]["within_cell_pairs"] = within_cell_pairs(
                stash["verd"]
            )
        emb.unpersist()

    # Same corpus/k, hierarchical (coarse-quantized) assignment: the fit
    # and pairwise stages are identical to `semdedup`, so the delta
    # isolates the assignment-term cut (n*k -> n*2*sqrt(k)). With the
    # sampled fit this is the 100 TB-shaped default route end to end.
    for scale, factor in sd_scales if want("semdedup_hier") else []:
        emb = expanded_embeddings(spark, SF_DIR, factor).repartition(int(cpus)).persist()
        n = emb.count()

        def sd_hier(e=emb, n=n):
            import math

            k, target, cents = sd_fit(e, n)
            kk = max(int(math.sqrt(k)), 2)
            # sampled-fit cells are renumbered 0..k-1, so the coarse
            # fit's id<kk init stays valid; k rows need no sampling
            coarse = kmeans_fit(cents, k=kk, n_iters=2)
            verd = D.semantic_dedup_tree_verdicts(e, [cents, coarse], tau=0.95)
            return {
                "vectors": n,
                "k": k,
                "k_coarse": kk,
                "fit_sample_target": target,
                "pruned": verd.filter(F.col("pruned")).count(),
            }

        for s in spread_scales(scale):
            run("semdedup_hier", s, sd_hier)
        emb.unpersist()

    # -- persisted semantic index: batch cost vs STORE size ----------------
    # Round-13 twin of incremental_dedup_store for the embedding family:
    # FIXED batch (the factor-3 expansion = 6,000 vectors, identical at
    # every scale, each a bit-identical copy of a store member so drops
    # are deterministic) against a 20k (1x) vs 200k (10x) persisted
    # semantic index. Index build pays the constant-cell kmeans once
    # (k = max(8, n/1024), sampled fit); per-batch is a broadcast
    # assignment + a members scan pruned to touched cells + a
    # |batch|·|cell| pairwise — cell size is constant under the k ∝ n
    # schedule, so per-batch wall should be ~flat modulo the scan.
    if want("semantic_incremental_store"):
        from graph_db_spark.operators.dedup import (
            incremental_semantic_vs_store,
            semantic_store_write,
        )

        batch = (
            expanded_embeddings(spark, SF_DIR, 3)
            .select((F.col("vec_id") + F.lit(10_000_000_000)).alias("vec_id"), "embedding")
            .repartition(int(cpus))
            .persist()
        )
        batch_n = batch.count()
        for scale, factor in sd_scales:
            emb = expanded_embeddings(spark, SF_DIR, factor).repartition(int(cpus)).persist()
            n = emb.count()
            k = max(8, n // 1024)
            tmp = tempfile.mkdtemp(prefix=f"stress_semstore_{scale}_")
            store_path = os.path.join(tmp, "sem_store")
            try:
                run(
                    "semantic_incremental_store",
                    f"{scale}_index_build",
                    lambda e=emb, p=store_path, kk=k, nn=n: {
                        "vectors": nn,
                        "k": kk,
                        "built": semantic_store_write(
                            e, p, k=kk, n_iters=2,
                            sample_target=max(10_000, 50 * kk),
                        )
                        or True,
                    },
                )
                run(
                    "semantic_incremental_store",
                    f"{scale}_batch_persisted",
                    lambda p=store_path, nn=n: {
                        "vectors": nn,
                        "batch_vectors": batch_n,
                        "dropped": incremental_semantic_vs_store(
                            spark, p, batch, tau=0.95
                        )
                        .select("b")
                        .distinct()
                        .count(),
                    },
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            emb.unpersist()
        batch.unpersist()

    # -- scaling verdict ---------------------------------------------------
    # `.get("sec", 0)`: untimed profile entries (prefix_skew_profile)
    # carry no wall reading — they are evidence rows, not timed ops
    for op, d in results.items():
        if "1x" in d and "10x" in d and d["1x"].get("sec", 0) > 0:
            d["ratio_10x"] = round(d["10x"]["sec"] / d["1x"]["sec"], 2)
            d["superlinear_blowup"] = d["ratio_10x"] > 20  # >2× over linear
        runs = [d[s]["sec"] for s in ("10x", "10x_r2", "10x_r3") if s in d and "sec" in d[s]]
        if len(runs) >= 2:
            mid = sorted(runs)[len(runs) // 2]
            d["spread_pct"] = round(100 * (max(runs) - min(runs)) / mid, 1)
        if "10x" in d and "30x" in d and d["10x"].get("sec", 0) > 0:
            # second measured point on the scaling curve: 3x more data
            # from the 10x base; >6 would be 2x over linear
            d["ratio_30x_vs_10x"] = round(d["30x"]["sec"] / d["10x"]["sec"], 2)
            d["superlinear_blowup_30x"] = d["ratio_30x_vs_10x"] > 6
        # within-cell pairwise-work metric (semdedup family): the k ∝ n
        # schedule must keep Σ|cell|² ~linear — a second, wall-independent
        # blowup tripwire (round-10 verdict item 1)
        p1 = d.get("1x", {}).get("within_cell_pairs")
        p10 = d.get("10x", {}).get("within_cell_pairs")
        p30 = d.get("30x", {}).get("within_cell_pairs")
        if p1 and p10:
            d["pairs_ratio_10x"] = round(p10 / p1, 2)
            d["superlinear_blowup_pairs"] = d["pairs_ratio_10x"] > 20
        if p10 and p30:
            d["pairs_ratio_30x_vs_10x"] = round(p30 / p10, 2)
            d["superlinear_blowup_pairs_30x"] = d["pairs_ratio_30x_vs_10x"] > 6

    print(json.dumps({"metric": "scale_stress", "fast": fast, "cpus": int(cpus), "ops": results}))
    spark.stop()


if __name__ == "__main__":
    main()
