"""The three workloads. Each takes a ``Bench`` (see run.py) and returns a
``Result``: the one-off build time, the repeated store/input opens and
one record per timed op. Correctness problems go to
``bench.fail(...)``.

Op counts are fixed up front from ``--seconds`` and a nominal rate, so
both sides of an A/B run the same ops (same writes, same passes) and a
faster engine simply finishes sooner.
"""

from __future__ import annotations

import hashlib
import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

#: Store/input opens per run; setup_s = one-off build + their median.
SETUP_REPEATS = 3
#: Nominal rates that turn --seconds into a fixed op count.
OLTP_TX_PER_S = 1.0
ANALYTICS_PASS_S = 12.0
CORPUS_PASS_S = 20.0

#: Input sizes, the same for every workload.
GRAPH_SF = 0.005  # TPC-H scale: 750 customers, 7,500 orders, ~30k lineitems
CORPUS_DOCS = 200
CORPUS_VECS = 200
INSERTS_PER_WRITE = 10

ANALYTICS = [
    ("pagerank", "graph_pagerank"),
    ("cc_star", "graph_connected_components_star"),
    ("sssp", "graph_sssp_weighted"),
    ("kcore", "graph_kcore_part_supplier"),
    ("get_stats", "graph_stats_persisted"),  # GraphSnapshot.get_stats; checked vs this oracle
]
CORPUS = [
    ("training_corpus", "pipeline_training_corpus"),
    ("minhash_lsh", "dedup_minhash_lsh"),
    ("ivfpq_residual", "ann_ivfpq_residual_topk"),
]


@dataclass
class Op:
    cls: str
    tag: str
    ms: float
    ok: bool


@dataclass
class Result:
    build_s: float = 0.0
    setup_s: list = field(default_factory=list)
    sentinel_s: float = 0.0  # host-contention probe just before the timed ops
    ops: list = field(default_factory=list)
    wall_s: float = 0.0
    info: dict = field(default_factory=dict)


# -- correctness helpers -------------------------------------------------


def _canon(v) -> str:
    """Value canonicalization of the repo's oracle check (floats to 6 dp)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00NULL"
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        return f"{float(v):.6f}"
    return str(v)


def normalize(columns, rows) -> tuple:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (tuple(columns[i] for i in order),
            tuple(sorted(tuple(_canon(r[i]) for i in order) for r in rows)))


def matches(got, want) -> bool:
    """Normalized outputs agree: same columns and rows, floats within one
    unit of their 6th decimal (the engine and DuckDB may sum in another
    order, which can flip the last rounded digit)."""
    def same(a: str, b: str) -> bool:
        if a == b:
            return True
        try:
            return abs(float(a) - float(b)) <= 1.5e-6
        except ValueError:
            return False

    return got[0] == want[0] and len(got[1]) == len(want[1]) and all(
        same(a, b) for ra, rb in zip(got[1], want[1]) for a, b in zip(ra, rb))


def digest(norm) -> str:
    return hashlib.sha256(repr(norm).encode()).hexdigest()[:16]


def oracles(data_dir: str, names) -> dict:
    """Normalized DuckDB oracle output of each REGISTRY entry in *names*."""
    import duckdb

    from graph_db_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        out = {}
        for name in names:
            rel = con.sql(REGISTRY[name].oracle)
            out[name] = normalize(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


# -- oltp_mixed ----------------------------------------------------------


def _oltp_plan(data_dir: str, seed: int, n_ops: int):
    region = pq.read_table(f"{data_dir}/region.parquet").to_pandas()
    nation = pq.read_table(f"{data_dir}/nation.parquet").to_pandas()
    cust = pq.read_table(f"{data_dir}/customer.parquet").to_pandas()
    rname = dict(zip(region.r_regionkey, region.r_name))
    nat = {int(k): (rname[r], n) for k, n, r in zip(nation.n_nationkey, nation.n_name, nation.n_regionkey)}
    by_nation = {k: [] for k in nat}
    for key, name, nk in zip(cust.c_custkey, cust.c_name, cust.c_nationkey):
        by_nation[int(nk)].append((name, int(key)))
    base = {r: 0 for r in rname.values()}
    for nk, rows in by_nation.items():
        base[nat[nk][0]] += len(rows)
    rng = np.random.default_rng([seed, 1])
    nations = sorted(k for k, v in by_nation.items() if v)
    regions = sorted(base)

    def make(kind: str, client: int, k: int) -> dict:
        if kind == "point":
            nk = nations[rng.integers(len(nations))]
            name, key = by_nation[nk][rng.integers(len(by_nation[nk]))]
            return {"cls": kind, "region": nat[nk][0], "nation": nat[nk][1], "name": name, "uid": key}
        if kind == "scan":
            return {"cls": kind, "region": regions[rng.integers(len(regions))]}
        nk = int(rng.integers(len(nat)))
        uid0 = 10**9 + client * 10**7 + k * INSERTS_PER_WRITE
        return {"cls": kind, "region": nat[nk][0], "nation": nat[nk][1],
                "uids": list(range(uid0, uid0 + INSERTS_PER_WRITE))}

    # A fixed 40/30/30 schedule, dealt alternately to the two clients: the
    # seed picks keys, never the interleaving, so seeds compare like for like.
    kinds = ["point", "scan", "write", "point", "scan", "point", "write", "scan", "point", "write"]
    kinds = (kinds * (n_ops // len(kinds) + 1))[:n_ops]
    plans = [[make(k, client, i) for i, k in enumerate(kinds[client::2])] for client in range(2)]
    return base, plans


def _tx(op: dict):
    """The client program of one op, as a function of a RemoteTx."""
    if op["cls"] == "point":
        def prog(tx):
            refs = tx.walk(tx.get_root(), [("Catalogue_Region_Name", op["region"]),
                                           ("Region_Nation_Name", op["nation"]),
                                           ("Nation_Customer_Name", op["name"])])
            return [tx.get_value(r) for r in refs]
    elif op["cls"] == "scan":
        def prog(tx):
            return tx.walk(tx.get_root(), [("Catalogue_Region_Name", op["region"]),
                                           "Region_Nation", "Nation_Customer"])
    else:
        def prog(tx):
            nation = tx.walk(tx.get_root(), [("Catalogue_Region_Name", op["region"]),
                                             ("Region_Nation_Name", op["nation"])])
            if len(nation) != 1:
                raise RuntimeError(f"nation lookup returned {len(nation)} refs")
            for uid in op["uids"]:
                tx.add_target(nation[0], tx.new_node("Customer", name=f"bench-{uid}", uid=uid))
    return prog


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _d, fs in os.walk(path) for f in fs)


def oltp_mixed(bench) -> Result:
    from graph_db_spark.catalogue import tpch_graph, tpch_graph_schema
    from graph_db_spark.graph import GraphSession, GraphSnapshot
    from graph_db_spark.model import ROOT_ID
    from graph_db_spark.remote.client import RemoteGraphSession
    from graph_db_spark.remote.server import GraphServer
    from graph_db_spark.storage import EventLogStorage
    from pyspark.sql import functions as F

    spark, res, data = bench.spark, Result(), bench.data_dir
    n_ops = 10 * max(1, round(bench.seconds * OLTP_TX_PER_S / 10))
    base, plans = _oltp_plan(data, bench.seed, n_ops)
    schema = tpch_graph_schema()

    with bench.op("setup"):
        t0 = time.perf_counter()
        store = EventLogStorage(spark, os.path.join(bench.tmp, "store"), schema)
        store.acquire()
        store.checkpoint(GraphSession(tpch_graph(spark, data)))
        res.build_s = time.perf_counter() - t0
        for r in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            # the last open is the serving one: it holds the writer lock
            opened = store if r == SETUP_REPEATS - 1 else EventLogStorage(spark, store.path, schema)
            session = opened.load(GraphSnapshot.empty)
            res.setup_s.append(time.perf_counter() - t0)
    ckpt_bytes = _dir_bytes(os.path.join(store.path, "checkpoints"))

    server = GraphServer(session, socket_path="graph.sock").start()
    clients = [RemoteGraphSession(socket_path="graph.sock") for _ in range(2)]
    mu = threading.Lock()
    acked = {r: 0 for r in base}
    started = {r: 0 for r in base}
    acked_names: set = set()
    refs_per_scan: list = []

    def run_op(client: int, op: dict, tag: str) -> bool:
        db = clients[client]
        prog = _tx(op)
        if op["cls"] == "write":
            with mu:
                started[op["region"]] += 1
            with bench.client_op(client, tag):
                db.write(prog)
            with mu:
                acked[op["region"]] += 1
                acked_names.update(f"bench-{u}" for u in op["uids"])
            return True
        with mu:
            lo = base[op["region"]] + INSERTS_PER_WRITE * acked[op["region"]]
        with bench.client_op(client, tag):
            out = db.read(prog)
        if op["cls"] == "point":
            ok = len(out) == 1 and out[0] is not None and out[0].get("name") == op["name"] \
                and out[0].get("uid") == op["uid"]
            if not ok:
                bench.fail(f"{tag}: point read {op['name']} returned {out!r}")
            return ok
        with mu:
            hi = base[op["region"]] + INSERTS_PER_WRITE * started[op["region"]]
        refs_per_scan.append(len(out))
        if not lo <= len(out) <= hi:
            bench.fail(f"{tag}: scan of {op['region']} saw {len(out)} customers, "
                       f"expected {lo}..{hi}")
            return False
        return True

    def client_loop(client: int) -> None:
        for i, op in enumerate(plans[client]):
            tag = f"{op['cls']}#{client}.{i}"
            t = time.perf_counter()
            try:
                ok = run_op(client, op, tag)
            except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
                bench.fail(f"{tag}: {type(exc).__name__}: {exc}")
                ok = False
            with mu:
                res.ops.append(Op(op["cls"], tag, (time.perf_counter() - t) * 1e3, ok))

    res.sentinel_s = bench.sentinel()
    t0 = time.perf_counter()
    threads = [threading.Thread(target=client_loop, args=(c,)) for c in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    res.wall_s = time.perf_counter() - t0

    for db in clients:
        db.close()
    server.stop()
    store.close()
    disk_bytes = _dir_bytes(store.path)
    log_root = os.path.join(store.path, "log")
    batches = [os.path.join(log_root, gen, b) for gen in sorted(os.listdir(log_root))
               for b in sorted(os.listdir(os.path.join(log_root, gen))) if b.startswith("batch-")]
    wal_bytes = sum(_dir_bytes(b) for b in batches)
    replay_events = sum(pq.ParquetFile(os.path.join(b, f)).metadata.num_rows
                        for b in batches for f in os.listdir(b) if f.endswith(".parquet"))

    # Recovery: a fresh store object over the same directory.
    with bench.op("recover"):
        t0 = time.perf_counter()
        recovered = EventLogStorage(spark, store.path, schema).load(GraphSnapshot.empty)
        recover_s = time.perf_counter() - t0
    snap = recovered.snapshot
    for region, n0 in base.items():
        regions = snap.get_targets(ROOT_ID, "Catalogue_Region_Name", region)
        n = snap.get_targets(snap.get_targets(regions, "Region_Nation"), "Nation_Customer").count()
        want = n0 + INSERTS_PER_WRITE * acked[region]
        if n != want:
            bench.fail(f"recovered {region}: {n} customers, expected {want}")
    names = {r["name"] for r in snap.vertices.filter(F.col("name").startswith("bench-"))
             .select("name").collect()}
    if names != acked_names:
        bench.fail(f"recovered inserts: {len(names)} present, {len(acked_names)} acknowledged")

    writes = sum(acked.values())
    payload = sum(len(f'{{"name": "{n}", "uid": {n[6:]}}}') for n in acked_names)
    res.info.update({
        "oltp.recover_s": recover_s,
        "oltp.disk_bytes_per_user_byte": disk_bytes / max(1, payload),
        "storage.checkpoint_bytes": ckpt_bytes,
        "storage.wal_batches_per_write": len(batches) / max(1, writes),
        "storage.wal_bytes_per_write": wal_bytes / max(1, writes),
        "storage.replay_events": replay_events,
        "remote.refs_per_scan": float(np.mean(refs_per_scan)) if refs_per_scan else 0.0,
    })
    bench.log(f"oltp: {len(res.ops)} tx in {res.wall_s:.2f}s, {writes} writes acknowledged, "
              f"recover {recover_s:.2f}s, store {disk_bytes} B")
    return res


# -- graph_analytics / corpus_curation -------------------------------------


def _passes(bench, classes, call, pass_s: float, res: Result) -> None:
    """Timed passes over *classes*. The first pass runs in the fresh
    session, the way a batch job meets the engine, and is checked against
    the DuckDB oracle; every later pass must reproduce its output digest."""
    ref = {}
    res.sentinel_s = bench.sentinel()
    t0 = time.perf_counter()
    for p in range(max(1, round(bench.seconds / pass_s))):
        for cls, name in classes:
            tag = f"{cls}#{p}"
            t = time.perf_counter()
            try:
                with bench.op(tag):
                    norm = call(cls, name)
                ms = (time.perf_counter() - t) * 1e3
                if cls not in ref:
                    ref[cls] = digest(norm)
                    res.info.setdefault("rows", {})[cls] = len(norm[1])
                    ok = matches(norm, bench.oracles[name])
                    if not ok:
                        bench.fail(f"{tag}: output differs from the DuckDB oracle")
                else:
                    ok = digest(norm) == ref[cls]
                    if not ok:
                        bench.fail(f"{tag}: output digest differs from the first pass")
            except Exception as exc:  # noqa: BLE001 — counted, the pass goes on
                ms = (time.perf_counter() - t) * 1e3
                bench.fail(f"{tag}: {type(exc).__name__}: {exc}")
                ok = False
            res.ops.append(Op(cls, tag, ms, ok))
    res.wall_s = time.perf_counter() - t0


def _query(bench, name: str):
    from graph_db_spark.queries import REGISTRY

    def run():
        df = REGISTRY[name].build(bench.spark, bench.data_dir)
        return normalize(df.columns, df.collect())

    return bench.traced(f"build:{name}", "queries", run)


def graph_analytics(bench) -> Result:
    from graph_db_spark.catalogue import tpch_graph_persisted

    res = Result()
    root = os.path.join(bench.tmp, "snapshots")
    with bench.op("setup"):
        t0 = time.perf_counter()
        snap = tpch_graph_persisted(bench.spark, bench.data_dir, root=root)  # build + checkpoint
        res.build_s = time.perf_counter() - t0
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            snap = tpch_graph_persisted(bench.spark, bench.data_dir, root=root)  # open
            res.setup_s.append(time.perf_counter() - t0)

    def call(cls, name):
        if cls == "get_stats":
            s = snap.get_stats()
            return normalize(("edges", "index_entries", "nodes"),
                             [(s.edges, s.index_entries, s.nodes)])
        return _query(bench, name)

    _passes(bench, ANALYTICS, call, ANALYTICS_PASS_S, res)
    return res


def corpus_curation(bench) -> Result:
    res = Result()
    with bench.op("setup"):
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            for table in ("documents", "embeddings"):
                bench.spark.read.parquet(f"{bench.data_dir}/{table}.parquet").count()
            res.setup_s.append(time.perf_counter() - t0)
    _passes(bench, CORPUS, lambda cls, name: _query(bench, name), CORPUS_PASS_S, res)
    res.info["corpus.docs_per_s"] = CORPUS_DOCS * len(res.ops) / len(CORPUS) / max(res.wall_s, 1e-9)
    res.info["operators.dup_pairs_out"] = res.info.get("rows", {}).get("minhash_lsh", 0)
    return res


@dataclass(frozen=True)
class Spec:
    run: object
    oracles: tuple = ()  # REGISTRY names whose DuckDB oracle checks the output


WORKLOADS = {
    "oltp_mixed": Spec(oltp_mixed),
    "graph_analytics": Spec(graph_analytics, tuple(name for _, name in ANALYTICS)),
    "corpus_curation": Spec(corpus_curation, tuple(name for _, name in CORPUS)),
}
