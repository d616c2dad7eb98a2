"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full execution, no
driver collect). The graph build (index emission — the reference's
write-time indexing cost) is measured once as its own entry; traversals
then run against the cached snapshot, mirroring the reference's
read-after-load usage.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graph_db_spark.session import get_spark, host_cpus  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: Machine-readable copy of BASELINE.md's per-entry bands: name ->
#: (floor, top) in seconds at sf0.1 on local[32]. The TOP is the band
#: audit's retry trigger (see main()); the floor is documentation only
#: (readings below it are "faster than band", never flagged). Entries
#: whose BASELINE.md rows state an explicit band carry it verbatim;
#: the eight entries BASELINE.md never banded in prose carry the
#: standard construction applied to the round-14 committed quiet run
#: (BENCH_local.json): top = 1.7 x quiet + 0.25 s headroom, marked
#: "derived r14" below. Keep this table in sync with BASELINE.md when
#: bands move — the check lives in tests/test_harness_contract.py::
#: test_bands_table_tracks_registry, which flags names that drift from
#: the suite's entry set. (graph_stats_persisted's 4.8 top predates the
#: r14 formula: it was derived from the r7 2.85 s reading, not the
#: r14 2.48 quiet — kept as committed, per round-15 ADVICE note.)
BANDS: dict[str, tuple[float, float]] = {
    "graph_build_index": (3.9, 19.0),
    "graph_3hop": (0.8, 5.8),
    "graph_5hop": (1.9, 8.8),
    "graph_stats_bfs": (4.0, 10.0),
    "graph_persist_checkpoint": (6.0, 15.0),
    "graph_3hop_persisted": (0.0, 1.0),
    "graph_5hop_persisted": (0.0, 1.5),
    "graph_stats_persisted": (0.0, 4.8),  # derived r14 (quiet 2.48; r7 2.85)
    "q1_pricing_summary": (0.2, 2.2),
    "q3_shipping_priority": (0.2, 2.2),
    "q5_region_revenue": (0.2, 2.2),
    "window_topk_orders_per_cust": (0.2, 2.2),
    "window_running_user_value": (0.2, 2.2),
    "sessionize_events_gaps": (0.0, 1.0),  # derived r14 (quiet 0.44)
    "agg_rollup_geo": (0.2, 2.2),
    "setop_customer_cohorts": (0.2, 2.2),
    "json_extract_events": (0.2, 2.2),
    "dedup_exact_documents": (0.0, 0.6),  # derived r14 (quiet 0.16)
    "dedup_minhash_lsh": (1.8, 7.5),
    "text_stats_documents": (0.0, 0.8),  # derived r14 (quiet 0.31)
    "ann_cosine_topk": (0.0, 1.7),
    "ann_lsh_topk": (0.0, 1.6),
    "ann_ivf_topk": (0.0, 1.8),
    "ann_int8_topk": (0.0, 1.0),
    "sliding_window_events": (0.0, 1.0),  # derived r14 (quiet 0.41)
    "graph_pagerank": (1.8, 3.4),
    "graph_sssp_weighted": (2.9, 5.4),
    "graph_triangle_count": (2.0, 4.2),
    "funnel_click_purchase": (0.0, 0.7),  # derived r14 (quiet 0.26)
    "window_rolling_1h_user": (0.0, 0.9),  # derived r14 (quiet 0.34)
    "pipeline_training_corpus": (4.9, 15.6),
    "embedding_near_dup_pairs": (1.9, 10.0),
    "decontam_ngram_overlap": (0.8, 4.6),
    "sketch_countmin_heavy_tokens": (0.0, 0.8),
    "pack_sequences": (0.0, 0.5),
    "graph_connected_components_star": (2.8, 5.5),
    "text_repetition_signals": (1.4, 2.1),
    "dedup_simhash_banded": (3.3, 9.2),
    "dedup_simhash_banded_wide": (1.8, 4.8),
    "dedup_exact_substring_spans": (8.0, 25.0),
    "doc_lm_mean_prob": (0.8, 3.2),
    "pipeline_curated_pack": (3.4, 7.6),
    "graph_kcore_part_supplier": (0.0, 2.0),  # derived r14 (quiet 1.03)
    "q6_forecast_revenue": (0.0, 1.5),
    "q19_disjunctive_pushdown": (0.0, 1.5),
    "q12_priority_case_pivot": (0.0, 1.5),
    "q22_dormant_rich_customers": (0.0, 1.5),
    "graph_hits_hubs_authorities": (0.0, 1.5),
    "q8_nation_market_share": (0.0, 1.6),
    "q11_important_inventory": (0.0, 1.6),
    "q13_customer_orders_distribution": (0.0, 1.6),
    "q15_top_supplier": (0.0, 1.6),
    "q20_promotion_suppliers": (0.0, 1.6),
    "q21_waiting_suppliers": (0.0, 1.6),
    "dedup_minhash_signature_groups": (0.0, 3.0),
    "bpe_encode_fixed_rules": (0.0, 3.5),
    "ann_ivf_kmeans_topk": (2.2, 5.5),
    "mix_sources_temperature": (0.0, 2.5),
    "doc_feature_hash_embed": (0.0, 2.8),
    "graph_landmark_distances": (3.9, 9.0),
    "doc_similar_feature_hash": (0.0, 3.2),
    "dedup_semantic_semdedup": (8.0, 17.0),
    "dedup_semantic_semdedup_hier": (9.0, 20.0),
    "dsir_importance_weights": (0.0, 2.5),
    "sample_cluster_balanced": (2.5, 6.0),
    "quality_percentile_gate": (0.0, 0.8),
    "dedup_semantic_default": (4.0, 9.0),
    "knn_label_agreement": (3.0, 6.0),
    "embedding_label_margin": (0.0, 1.8),
    "split_stratified_holdout": (0.0, 0.8),
    "dedup_semantic_tree": (12.0, 28.0),
    "dedup_duplicate_clusters": (2.5, 7.0),
    "embedding_pca_scores": (2.5, 6.5),
    "dedup_repeated_lines": (0.0, 2.8),
    "shard_manifest_by_tokens": (0.0, 2.8),
    "scd2_user_status_intervals": (0.0, 1.8),
    "dedup_incremental_new_vs_store": (1.3, 6.0),
    "dedup_incremental_persisted_store": (0.0, 4.5),
    "dedup_containment_pairs": (0.0, 4.0),
    "dedup_semantic_incremental_store": (3.0, 9.0),
    "dedup_prefix_filter_pairs": (1.5, 6.0),
    "event_time_weighted_avg": (0.0, 1.2),
    "ann_pq_adc_topk": (1.8, 6.0),
    "dedup_containment_exact_pairs": (2.5, 8.0),
    "ann_ivfpq_topk": (3.0, 9.0),
    "ann_ivfpq_residual_topk": (3.0, 9.0),
    "ann_ivfpq_residual_persisted": (0.0, 2.0),  # r15 quiet 0.74: no fits at query time
    "embedding_hard_negatives": (3.0, 8.0),  # r15 quiet 4.7-6.1 standalone
    "dedup_cluster_best_quality": (2.5, 7.0),  # r15 quiet 3.0-3.3 (dup_clusters band)
    "insert_bulk_1000": (1.2, 3.5),
    "insert_microtx_20x50": (5.5, 15.0),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Entry-name subset filter — set ONLY by tests (the harness-contract
    # pytest runs a ~10-entry representative subset at sf0.001 so the full
    # suite's 91 per-job driver latencies stop blowing the CI budget; r16
    # verdict #1b). The driver never sets it: an unset/empty value times
    # every entry exactly as before. Dependent entries gate on their
    # producer (traversals need graph_build_index in the subset, the
    # *_persisted entries need graph_persist_checkpoint).
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    only = {s for s in (p.strip() for p in only_env.split(",")) if s} or None
    spark = get_spark(app_name="graph_db_spark_bench", cpus=cpus)

    from graph_db_spark.catalogue import tpch_graph
    from graph_db_spark.model import ROOT_ID
    from graph_db_spark.queries import REGISTRY

    times: dict[str, float] = {}
    errors: dict[str, str] = {}

    def sentinel() -> float:
        # Fixed tiny reference task (1-partition sum over a generated
        # range — no IO, no shuffle). Its wall-time is a direct probe of
        # co-tenant load on this machine: ~0.1 s alone, multiples of that
        # under contention. Recorded at suite start/end so a reader can
        # normalize the suite total without re-running it.
        t0 = time.time()
        spark.range(0, 20_000_000, numPartitions=1).selectExpr("sum(id)").collect()
        return round(time.time() - t0, 3)

    def sentinel_wide() -> float:
        # ALL-CORES probe (round-13 blind spot: two co-tenant windows
        # inflated 32-core stages 12-60% while the 1-core sentinel read
        # QUIET — a ~6-core co-tenant barely queues one task but steals
        # a fifth of a 32-wide stage). Same no-IO sum, 32 partitions:
        # ~0.1 s alone, and it degrades in proportion to stolen cores.
        t0 = time.time()
        spark.range(0, 640_000_000, numPartitions=32).selectExpr("sum(id)").collect()
        return round(time.time() - t0, 3)

    sentinel_start = sentinel()
    sentinel_start = min(sentinel_start, sentinel())  # best-of-2, like the queries
    sentinel_wide_start = min(sentinel_wide(), sentinel_wide())

    # Mid-suite contention trace (round-12 verdict item 6): the start/end
    # sentinel pair missed a co-tenant window that inflated three adjacent
    # MID-suite entries. One probe every 10 timed entries (~0.1 s quiet,
    # ≈1 s total overhead) timestamps contention against entry order, so a
    # reader can tell "this entry ran slow" from "the machine was busy when
    # this entry ran". Recorded in the sidecar; the compact line carries
    # only the max.
    sentinel_trace: list[list] = []

    # Every timed entry's runner, in suite order — the post-suite
    # contention audit re-runs flagged entries through the same closure.
    runners: dict[str, object] = {}

    def timed(name, fn, repeats: int = 1):
        # best-of-N (criterion-style): the machine hosts co-tenant round
        # tasks whose load spikes otherwise dominate single measurements.
        # Per-query fault isolation: one broken query must never kill the
        # whole suite — record the error and keep benchmarking the rest.
        if only is not None and name not in only:
            return
        if len(times) % 10 == 9:
            sentinel_trace.append([len(times), sentinel(), sentinel_wide()])
        runners[name] = fn
        best = None
        for _ in range(repeats):
            t0 = time.time()
            try:
                fn()
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"[bench] {name}: ERROR {errors[name]}", file=sys.stderr, flush=True)
                return
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
        print(f"[bench] {name}: {times[name]}s", file=sys.stderr, flush=True)

    # -- graph build: bulk load + index emission (write-time cost) ---------
    # best-of-2 like every other entry (round-4 judge: a single contended
    # measurement inflated this 3×); each repeat builds and caches a fresh
    # snapshot, unpersisting the previous one so repeats are independent.
    holder: dict[str, object] = {}

    def build_index():
        prev = holder.get("g")
        if prev is not None:
            prev.edge_index.unpersist()
            prev.vertices.unpersist()
        gg = tpch_graph(spark, sf_dir)
        gg.edge_index.cache()
        gg.vertices.cache()
        holder["n_idx"] = gg.edge_index.count()
        gg.vertices.count()
        holder["g"] = gg

    timed("graph_build_index", build_index, repeats=2)
    g = holder.get("g")
    n_idx = holder.get("n_idx")

    # -- graph traversals on the built graph -------------------------------
    # Closures read holder["g"] DYNAMICALLY (not the local g): if the
    # contention audit retries graph_build_index, later traversal retries
    # must run against the freshly-cached snapshot, not the unpersisted one.
    if g is not None:
        def three_hop():
            gg = holder["g"]
            f = gg.get_targets(ROOT_ID, "Catalogue_Region_Name", "EUROPE")
            for tag in ("Region_Nation", "Nation_Customer"):
                f = gg.get_targets(f, tag)
            force(gg.get_values(f).select("id", "name"))

        def five_hop():
            gg = holder["g"]
            f = gg.get_targets(ROOT_ID, "Catalogue_Region_Name", "ASIA")
            for tag in ("Region_Nation", "Nation_Customer", "Customer_Order", "Order_Part"):
                f = gg.get_targets(f, tag)
            force(gg.get_values(f).select("id", "name"))

        try:
            three_hop()  # warmup: materialize cached snapshot + compile codegen
        except Exception:  # noqa: BLE001
            pass
        timed("graph_3hop", three_hop, repeats=2)
        timed("graph_5hop", five_hop, repeats=2)
        timed("graph_stats_bfs", lambda: holder["g"].get_stats(), repeats=2)

    # -- steady-state persisted-snapshot route ------------------------------
    # The deployment shape: checkpoint the snapshot once (src-bucketed
    # edge_index), then traversals run against the published tables with no
    # build stage in the plan. graph_persist_checkpoint is the one-time
    # write cost; graph_3hop_persisted is the hop latency WITHOUT the build.
    from graph_db_spark.catalogue import tpch_graph_persisted

    pholder: dict[str, object] = {}

    def persist_ckpt():
        pholder["gp"] = tpch_graph_persisted(spark, sf_dir, rebuild=True)

    timed("graph_persist_checkpoint", persist_ckpt, repeats=1)
    gp = pholder.get("gp")
    if gp is not None:
        def three_hop_persisted():
            gpp = pholder["gp"]
            f = gpp.get_targets(ROOT_ID, "Catalogue_Region_Name", "EUROPE")
            for tag in ("Region_Nation", "Nation_Customer"):
                f = gpp.get_targets(f, tag)
            force(gpp.get_values(f).select("id", "name"))

        def five_hop_persisted():
            gpp = pholder["gp"]
            f = gpp.get_targets(ROOT_ID, "Catalogue_Region_Name", "ASIA")
            for tag in ("Region_Nation", "Nation_Customer", "Customer_Order", "Order_Part"):
                f = gpp.get_targets(f, tag)
            force(gpp.get_values(f).select("id", "name"))

        try:
            three_hop_persisted()  # warmup: codegen against persisted layout
        except Exception:  # noqa: BLE001
            pass
        timed("graph_3hop_persisted", three_hop_persisted, repeats=2)
        timed("graph_5hop_persisted", five_hop_persisted, repeats=2)
        # BFS stats off the persisted tables: the most expensive traversal
        # minus the build stage (compare graph_stats_bfs above)
        timed("graph_stats_persisted", lambda: pholder["gp"].get_stats(), repeats=2)

    # -- relational + LLM headline queries ---------------------------------
    headline = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "window_topk_orders_per_cust",
        "window_running_user_value",
        "sessionize_events_gaps",
        "agg_rollup_geo",
        "setop_customer_cohorts",
        "dedup_exact_documents",
        "dedup_minhash_lsh",
        "text_stats_documents",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "sliding_window_events",
        "graph_pagerank",
        "graph_sssp_weighted",
        "graph_triangle_count",
        "json_extract_events",
        "funnel_click_purchase",
        "window_rolling_1h_user",
        "pipeline_training_corpus",
        # round-2 additions: LSH-bucketed near-dup detection, benchmark
        # decontamination, count-min sketch, sequence packing, star CC
        "embedding_near_dup_pairs",
        "decontam_ngram_overlap",
        "sketch_countmin_heavy_tokens",
        "pack_sequences",
        "graph_connected_components_star",
        # batch-5 additions: repetition quality signals, SimHash banded
        # near-dup (signature-only candidate join), LM document scoring
        "text_repetition_signals",
        "dedup_simhash_banded",
        # round-12: the corpus-scale 64-bit/16-bit-bucket banding (the
        # pipeline's production SimHash stage after the stage profile
        # convicted 8-bit buckets of the n²/2^(width+1) collision term)
        "dedup_simhash_banded_wide",
        "dedup_exact_substring_spans",
        "doc_lm_mean_prob",
        # batch-6: quantized-domain ANN + the composed curated-corpus
        # pipeline (clean -> decontaminate -> dedup -> pack)
        "ann_int8_topk",
        "pipeline_curated_pack",
        # round-2 late additions: iterative k-core peeling
        "graph_kcore_part_supplier",
        # round-4: TPC-H shape completions (scan-pure agg, disjunctive
        # pushdown, CASE pivot, scalar-subquery + anti-join) and HITS
        "q6_forecast_revenue",
        "q19_disjunctive_pushdown",
        "q12_priority_case_pivot",
        "q22_dormant_rich_customers",
        "graph_hits_hubs_authorities",
        # round-5: full-TPC-H completion — the last six canonical shapes
        # (conditional-ratio share, global-threshold HAVING, filtered
        # outer-join histogram, view-max equality, chained semi-joins,
        # exists+not-exists self-correlation)
        "q8_nation_market_share",
        "q11_important_inventory",
        "q13_customer_orders_distribution",
        "q15_top_supplier",
        "q20_promotion_suppliers",
        "q21_waiting_suppliers",
        # round-5: streaming-dedup batch twin + BPE tokenizer apply
        "dedup_minhash_signature_groups",
        "bpe_encode_fixed_rules",
        "ann_ivf_kmeans_topk",
        "mix_sources_temperature",
        "doc_feature_hash_embed",
        "graph_landmark_distances",
        "doc_similar_feature_hash",
        # round-8: cluster-bounded semantic dedup (SemDeDup, exact +
        # hierarchical-assignment scale variant) and DSIR hashed-n-gram
        # importance weighting
        "dedup_semantic_semdedup",
        "dedup_semantic_semdedup_hier",
        "dsir_importance_weights",
        # round-8: cluster-balanced sampling (k-means topic rebalance)
        # and per-source quality-percentile gating
        "sample_cluster_balanced",
        "quality_percentile_gate",
        # round-10: the semantic-dedup DEFAULT entry point (auto-k
        # sampled codebook + hierarchical assignment — the route the
        # obvious name now gets)
        "dedup_semantic_default",
        # round-10: labeled-corpus curation ops (mislabel screening,
        # centroid-margin eval, stratified split audit)
        "knn_label_agreement",
        "embedding_label_margin",
        "split_stratified_holdout",
        # round-11: forced 3-level quantization-pyramid semantic dedup
        # (the deep route the default entry point takes once k > branch)
        # and duplicate-cluster canonicalization (LSH pairs -> star-CC)
        "dedup_semantic_tree",
        "dedup_duplicate_clusters",
        # round-11: matrix-free top-PC projection (power iteration)
        "embedding_pca_scores",
        # round-12: RefinedWeb-style repeated-line removal with doc
        # reconstruction, token-budget shard manifest (two-level
        # distributed prefix sum), SCD2 gaps-and-islands intervals
        "dedup_repeated_lines",
        "shard_manifest_by_tokens",
        "scd2_user_status_intervals",
        # round-12: asymmetric incremental ingest dedup (new batch vs
        # duplicate-free store; store x store candidates pruned pre-verify)
        "dedup_incremental_new_vs_store",
        # round-13: the production route — store signatures persisted once,
        # per-batch cost independent of store size
        "dedup_incremental_persisted_store",
        # round-13: asymmetric containment (quote/subset) verify on LSH
        # candidates
        "dedup_containment_pairs",
        # round-13: incremental semantic dedup vs the persisted codebook +
        # cell-partitioned member index (no re-fit, touched cells only)
        "dedup_semantic_incremental_store",
        # round-13: exact-recall similarity join (prefix filtering)
        "dedup_prefix_filter_pairs",
        # round-13: duration-weighted signal average (lead window + DECIMAL)
        "event_time_weighted_avg",
        # round-13: product-quantization ANN (ADC lookup-sum scan)
        "ann_pq_adc_topk",
        # round-13: exact-recall containment join (one-sided prefix)
        "dedup_containment_exact_pairs",
        # round-13: composed IVF-PQ index (probe prune + ADC lookup sum)
        "ann_ivfpq_topk",
        # round-14: residual-encoded IVF-PQ (the production FAISS recipe —
        # PQ trained on v − coarse_centroid, per-(query, cell) tables)
        "ann_ivfpq_residual_topk",
        # round-15: the persisted residual-code index route — probe +
        # DPP-pruned ADC scan of the write-time store, no fits at query
        # time (store build rides the warmup below, like every store)
        "ann_ivfpq_residual_persisted",
        # round-15: hard-negative mining (cell-bounded cross-label
        # top-k — the contrastive-training curation pair source)
        "embedding_hard_negatives",
        # round-15: quality-aware duplicate-cluster survivor policy
        # (keep the best-quality member, not the min id)
        "dedup_cluster_best_quality",
    ]
    # Warmup (criterion-style, like the reference's harness): run each
    # headline plan once at sf0.001 — same plan shapes, so whole-stage
    # codegen compiles against the tiny inputs — and touch the sf tables to
    # absorb parquet reader/listing init. Timed runs then measure steady
    # state instead of first-touch JIT.
    for name in headline:
        if only is not None and name not in only:
            continue
        try:
            force(REGISTRY[name].build(spark, "/root/testdata/sf0.001"))
        except Exception:  # noqa: BLE001
            pass  # the timed run below records the error with context
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        # noop-write, not count(): count() answers from parquet footer
        # stats without touching column chunks, so the first timed query
        # would otherwise absorb the cold columnar-decode cost.
        try:
            force(spark.read.parquet(f"{sf_dir}/{t}.parquet"))
        except Exception:  # noqa: BLE001
            pass
    # Absorb the MinHash-family per-session first-touch at the TARGET sf.
    # The tokenize -> signatures -> LSH-band join -> Jaccard verify ->
    # iterative-CC plan family carries a ~15 s one-time per-session cost at
    # sf0.1 (Python/Arrow worker-pool spin-up at real batch sizes + first
    # large localCheckpoint materialization) that the sf0.001 warm-up does
    # not absorb — whichever family member ran first used to eat it
    # (round-4 judge: pipeline_training_corpus 21.9 s cold vs 6.3 s warm).
    # One untimed pass here puts every timed run in steady state.
    # dedup_incremental_persisted_store also rides here: its one-time
    # signature-store build (ensure_signature_store, cached on the fixture
    # fingerprint) must be write-time cost, not part of the timed batch.
    for name in (
        "dedup_minhash_lsh",
        "pipeline_training_corpus",
        "pipeline_curated_pack",
        "dedup_incremental_persisted_store",
        "dedup_semantic_incremental_store",
        "ann_ivfpq_residual_persisted",
    ):
        if only is not None and name not in only:
            continue
        try:
            force(REGISTRY[name].build(spark, sf_dir))
        except Exception:  # noqa: BLE001
            pass

    for name in headline:
        timed(name, lambda n=name: force(REGISTRY[n].build(spark, sf_dir)), repeats=2)

    # (snapshot stays cached until after both audits — flagged graph
    # entries must retry against the same cached layout they ran on)

    sentinel_headline_wide = min(sentinel_wide(), sentinel_wide())

    # -- contention audit: self-defending retries (round-13 verdict #1) ----
    # Runs BEFORE the insert workloads (round-15 ADVICE): retried
    # headline/graph entries time against the same session state they ran
    # under, not one carrying the insert workloads' checkpointed frames;
    # the insert entries themselves are covered by the band audit below
    # (each insert run builds a fresh empty session, so a retry there is
    # an independent repeat by construction).
    # Trigger: every entry whose ENCLOSING wide-sentinel window (nearest
    # probe at or before it, nearest after — start/headline-end sentinels
    # as edges) read more than 2× the run's TYPICAL wide reading is re-run
    # best-of-2, up to twice, stopping when the retry's own window reads
    # quiet. Typical = the MEDIAN of all wide probes: a contention WINDOW
    # is a deviation from this run's own level. (The first cut used min()
    # as the reference; one unusually-quiet end probe then flagged all 88
    # entries of an evenly-quiet run and doubled the suite — the median
    # is robust to a single low/high probe.) The entry's published time is
    # the best across suite + retries (best-of-N is already the suite
    # protocol — retries are more repeats under measured-quieter
    # conditions); `retries` keeps both readings and the sentinel
    # attribution so no reading is silently replaced. A fully-contended
    # run flags nothing here — its elevated sentinels are in the artifact
    # and the BASELINE band protocol (band audit below) adjudicates it.
    entry_order = list(times)
    wide_points = (
        [(-1, sentinel_wide_start)]
        + [(r[0], r[2]) for r in sentinel_trace]
        + [(len(entry_order), sentinel_headline_wide)]
    )
    _wides = sorted(w for _, w in wide_points)
    wide_floor = _wides[len(_wides) // 2]

    def enclosing_wide(i: int) -> float:
        prev = max((p for p in wide_points if p[0] <= i), key=lambda p: p[0])
        nxt = min((p for p in wide_points if p[0] > i), key=lambda p: p[0])
        return max(prev[1], nxt[1])

    def audit_retry(name: str, rec: dict, floor: float, stop_below: float | None = None) -> dict:
        """Re-run *name* best-of-2, up to two attempts, recording each
        attempt's reading + its own wide-sentinel attribution. Stops
        early when an attempt ran in a measured-quiet window, or (band
        audit) when the retry already landed back inside the band.
        Publishes min(suite, retries) into `times`; every reading stays
        in *rec* so nothing is silently replaced."""
        rec = dict(rec, suite=times[name], attempts=[])
        best_retry = None
        for _attempt in range(2):
            pre_w = sentinel_wide()
            best = None
            try:
                for _ in range(2):
                    t0 = time.time()
                    runners[name]()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
            except Exception as exc:  # noqa: BLE001
                rec["attempts"].append(
                    {"error": f"{type(exc).__name__}: {exc}"[:120]}
                )
                break
            post_w = sentinel_wide()
            attempt_wide = round(max(pre_w, post_w), 3)
            rec["attempts"].append({"sec": round(best, 3), "wide": attempt_wide})
            best_retry = best if best_retry is None else min(best_retry, best)
            if stop_below is not None and best_retry <= stop_below:
                break  # back inside the band — the suite reading was noise
            if attempt_wide <= 2 * floor:
                break  # this retry ran in a measured-quiet window
        if best_retry is not None:
            rec["retry"] = round(best_retry, 3)
            times[name] = round(min(rec["suite"], best_retry), 3)
        return rec

    retries: dict[str, dict] = {}
    flagged = [
        n
        for i, n in enumerate(entry_order)
        if n in runners and enclosing_wide(i) > 2 * wide_floor
    ]
    for name in flagged:
        window = round(enclosing_wide(entry_order.index(name)), 3)
        retries[name] = audit_retry(name, {"window_wide": window}, wide_floor)
        print(
            f"[bench] retry {name}: suite {retries[name]['suite']}s "
            f"(window {window}) -> {retries[name].get('retry')}s",
            file=sys.stderr,
            flush=True,
        )

    # -- band audit, phase A: non-insert entries (round-15 verdict leftover,
    # carried through the r16 verdict's item 8): any entry whose published
    # reading exceeds its BASELINE band TOP is re-run best-of-2 — and that
    # retry must happen BEFORE the mutating insert section below, so the
    # retried closure times against the same session state (cached graph
    # snapshot, no insert-workload checkpoint frames) it originally ran
    # under. The two insert entries get the same audit in phase B after
    # they run (each insert run builds a fresh empty session, so a late
    # retry there is an independent repeat by construction).
    # The bands were measured at sf0.1 — at any other scale (the harness
    # contract test runs this file at sf0.001) the comparison is
    # meaningless, so the trigger only arms at the band scale.
    bands_armed = sf == "0.1"
    band_retries: dict[str, dict] = {}

    def band_audit(names, floor) -> None:
        for name in names:
            band = BANDS.get(name)
            if band is None or name not in runners or times.get(name, 0.0) <= band[1]:
                continue
            band_retries[name] = audit_retry(
                name, {"band_top": band[1]}, floor, stop_below=band[1]
            )
            print(
                f"[bench] band-retry {name}: suite {band_retries[name]['suite']}s "
                f"(band top {band[1]}) -> {band_retries[name].get('retry')}s",
                file=sys.stderr,
                flush=True,
            )

    if bands_armed:
        band_audit(list(times), wide_floor)

    # -- insert workloads (CompetitionBench / NonpersistentBench shapes:
    #    1,000 random artist inserts; see BASELINE.md) -----------------------
    import random

    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSession, GraphSnapshot

    rng = random.Random(42)
    alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ" * 2 + "abcdefghijklmnopqrstuvwxyz" * 4 + "0123456789"

    def rand_name():
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 50)))

    def insert_bulk_1000():
        # The Spark-idiomatic form: one write tx staging 1,000 inserts,
        # applied in a single set-oriented commit.
        session = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))

        def prog(tx):
            for i in range(1000):
                a = tx.new_node("Artist", name=rand_name(), uid=i)
                tx.add_target(0, a)

        session.write(prog)
        session.snapshot.edge_index.count()

    def insert_microtx_20():
        # The OLTP form: 20 separate commits of 50 inserts each — measures
        # per-commit overhead (the reference's per-insert tx, batched 50×).
        session = GraphSession(GraphSnapshot.empty(spark, catalogue_schema()))
        for b in range(20):
            def prog(tx, b=b):
                for i in range(50):
                    a = tx.new_node("Artist", name=rand_name(), uid=b * 50 + i)
                    tx.add_target(0, a)
            session.write(prog)
        session.snapshot.edge_index.count()

    # best-of-2 for the insert workloads too — round-over-round regressions
    # should be signal, not co-tenant noise (each run builds its own fresh
    # session, so repeats are independent).
    timed("insert_bulk_1000", insert_bulk_1000, repeats=2)
    timed("insert_microtx_20x50", insert_microtx_20, repeats=2)

    sentinel_end = sentinel()
    sentinel_end = min(sentinel_end, sentinel())
    sentinel_wide_end = min(sentinel_wide(), sentinel_wide())

    # -- band audit, phase B: the insert entries (see phase A above; the
    # trigger is round-15 verdict #1 — the sentinel-window audit
    # structurally cannot flag ENTRY-LOCAL slowness, so any entry above
    # its BASELINE band top is re-run best-of-2, stopping early if the
    # retry lands back in band (noise) or ran in a measured-quiet window
    # (regression confirmed — the reading stands and `above_band` says
    # so). -----------------------------------------------------------------
    _wides_all = sorted(_wides + [sentinel_wide_end])
    band_floor = _wides_all[len(_wides_all) // 2]
    if bands_armed:
        band_audit(["insert_bulk_1000", "insert_microtx_20x50"], band_floor)
    # Names still above their band top after retries: the artifact's own
    # regression verdict (repeated quiet readings above band = regression,
    # per BASELINE.md's protocol).
    above_band = sorted(
        n for n, (_lo, top) in BANDS.items() if n in times and times[n] > top
    ) if bands_armed else []
    # Self-check: a renamed/retired entry leaves a stale band behind — or
    # a new entry lands unbanded. Recorded, never fatal (the suite and
    # BASELINE.md evolve in the same commit most rounds).
    bands_stale = sorted(set(BANDS) - set(times) - set(errors))
    bands_missing = sorted(set(times) - set(BANDS))

    if holder.get("g") is not None:
        holder["g"].edge_index.unpersist()
        holder["g"].vertices.unpersist()

    total = round(sum(times.values()), 3)
    import pyspark

    out = {
        "metric": "graph_db_spark_headline_suite",
        # When any query errored the sum covers only the surviving entries;
        # publishing it as the headline would let a crash read as a speedup
        # against the 44-entry baseline. Null it out and expose the partial
        # sum separately so comparisons can't silently use it.
        "value": total if not errors else None,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_index_entries": n_idx,
        "cpus": int(cpus),
        # Co-tenant load probe: wall-time of a fixed 1-partition no-IO task
        # at suite start/end (~0.1 s alone; multiples under contention).
        "sentinel_sec": {
            "start": sentinel_start,
            "end": sentinel_end,
            # worst mid-suite probe (one every 10 entries) — a quiet
            # start/end pair with an inflated mid value marks a co-tenant
            # window INSIDE the suite (the r12 false-regression shape)
            "mid_max": max((s[1] for s in sentinel_trace), default=None),
            # ALL-CORES twin of each value: catches partial co-tenants
            # that slow wide stages while the 1-core probe stays quiet
            # (the r13 blind spot — two suite runs 12-60% inflated at
            # quiet narrow sentinels)
            "wide_start": sentinel_wide_start,
            "wide_end": sentinel_wide_end,
            "wide_mid_max": max((s[2] for s in sentinel_trace), default=None),
        },
        # [entry_index, narrow_sec, wide_sec] triples for attributing
        # contention to suite order
        "sentinel_trace": sentinel_trace,
        # Contention audit: entries whose enclosing wide-sentinel window
        # read >2× the quiet floor, with suite reading, retry reading(s),
        # and per-attempt sentinel attribution. `queries` carries the best
        # across suite + quiet retries; nothing is silently replaced.
        "retries": retries,
        # Band audit: entries above their BASELINE band top regardless of
        # sentinels (the entry-local trigger), same retry protocol.
        "band_retries": band_retries,
        # Entries STILL above their band top after retries — the
        # artifact's own regression verdict (empty on a healthy run).
        "above_band": above_band,
        "bands_stale": bands_stale,
        "bands_missing": bands_missing,
        # the run's typical (median) wide-sentinel reading — the audits'
        # 2× reference
        "retry_wide_floor": round(wide_floor, 3),
        "env": {"pyspark": pyspark.__version__, "python": sys.version.split()[0]},
    }
    if errors:
        out["errors"] = errors
        out["incomplete"] = True
        out["partial_total"] = total
    # Full-precision sidecar FIRST: the driver's stdout capture window is
    # ~2 KB and has truncated the suite JSON before (BENCH_r06 lost the
    # headline); the committed file survives any capture truncation.
    # SPARK_GRAFT_BENCH_OUT redirects it (the harness-contract test runs
    # bench.py at sf0.001 and must not clobber the committed sf0.1
    # artifact).
    sidecar = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
    )
    with open(sidecar, "w") as f:
        json.dump(out, f, indent=1)
    # stdout: ONE compact line small enough for the driver's capture,
    # which keeps only the LAST ~2000 chars of combined output — a longer
    # line loses its HEAD (metric/value/first queries) and the round
    # artifact becomes unparseable (that killed BENCH_r06's headline).
    # Round-17 (r16 verdict #1 — the round's highest-leverage fix): the
    # driver's comparator and scaling analysis read ONLY the plain
    # `queries` dict, and the round-15/16 lines spent ~1.5 KB on a
    # zlib+b85 `queries_z` blob the driver never decodes — r16's line had
    # room for ONE plain entry, so PERF_r16 paired 1 of 91 queries,
    # reported 5 phantom "dropped" entries, and produced an empty scaling
    # block. The blob is GONE from stdout (the sidecar above keeps the
    # full-precision map + every provenance field); the plain map prints
    # SLOWEST-FIRST and the tiering only ever trims the fastest tail
    # (2-dp -> 1-dp -> drop optional provenance -> trim, with an explicit
    # queries_omitted counter), which maximizes what the driver can pair
    # (~60 of 91 entries at current name lengths, vs 1 in r16).
    order = sorted(times, key=times.get, reverse=True)  # slowest-first

    def _line(dp: int, provenance: bool, keep: int) -> str:
        compact = dict(out, queries={k: round(times[k], dp) for k in order[:keep]})
        compact.pop("env", None)
        compact.pop("sentinel_trace", None)  # sidecar-only (the compact
        # line keeps just sentinel_sec.mid_max)
        compact.pop("retries", None)  # sidecar-only; the compact line
        # carries just the count so a reader knows the audit fired
        compact.pop("band_retries", None)  # sidecar-only, count below
        compact.pop("retry_wide_floor", None)
        compact.pop("bands_stale", None)
        compact.pop("bands_missing", None)
        if not above_band:
            compact.pop("above_band", None)  # empty = healthy, save bytes
        if retries:
            compact["retried"] = len(retries)
        if band_retries:
            compact["band_retried"] = len(band_retries)
        if keep < len(times):
            compact["queries_omitted"] = len(times) - keep  # sidecar has all
        if not provenance:
            compact.pop("n_index_entries", None)
            compact.pop("cpus", None)
            compact["metric"] = "suite"
            if out["value"] is not None:
                compact["value"] = round(out["value"], 1)
        # Keep the co-tenant sentinel IN the compact line (~40 bytes):
        # the driver artifact must be self-auditing — an apparent
        # cross-round regression with an inflated sentinel is
        # attributable to machine load from the artifact alone
        # (round-7 verdict item 1).
        compact["sentinel_sec"] = {
            k: round(v, 3) for k, v in out["sentinel_sec"].items() if v is not None
        }
        if errors:
            compact["errors"] = {k: v[:60] for k, v in list(errors.items())[:5]}
            if len(errors) > 5:
                compact["errors_omitted"] = len(errors) - 5
        return json.dumps(compact, separators=(",", ":"))

    budget = 1995  # the capture window is the LAST 2000 chars incl. newline
    line = _line(2, True, len(times))
    if len(line) > budget:
        line = _line(1, True, len(times))
    if len(line) > budget:
        line = _line(1, False, len(times))
    keep = len(times)
    while len(line) > budget and keep > 1:
        keep -= 1
        line = _line(1, False, keep)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
