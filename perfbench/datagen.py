"""Seeded TPC-H-ish fixture generator for the benchmark.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``) as single parquet
files with the same column names and physical types as the engine's test
fixtures. Every value derives from ``numpy.random.default_rng(seed)``, so
the same (seed, sizes) always gives byte-identical inputs.

Keys are dense from 0, as in the fixtures: the part-chain analytics
(``i -> i+1``, ``i -> i+7``) and the 3-hop OLTP walks rely on that.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
# The fixtures' 30-word vocabulary: it covers every language-marker token
# the engine's language ID looks for, so predicted languages vary.
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
EMBED_DIM = 64


#: Peel rounds of the 4-core of the high-quantity part-supplier graph, on
#: every seed. It must stay within the 8 rounds the oracle of
#: ``graph_kcore_part_supplier`` unrolls; fixing it makes seeds differ in
#: values, not in loop length.
KCORE_ROUNDS = 3


def _peel_rounds(src: np.ndarray, dst: np.ndarray, k: int) -> int:
    """Rounds of k-core peeling on the bipartite edge list until no edge
    is removed (each round drops edges with an endpoint of degree < k)."""
    edges = np.unique(np.stack([src, dst], axis=1), axis=0) if len(src) else np.zeros((0, 2), int)
    rounds = 0
    while len(edges):
        _, si, sc = np.unique(edges[:, 0], return_inverse=True, return_counts=True)
        _, di, dc = np.unique(edges[:, 1], return_inverse=True, return_counts=True)
        keep = (sc[si] >= k) & (dc[di] >= k)
        if keep.all():
            break
        edges = edges[keep]
        rounds += 1
    return rounds


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def generate(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """Write every table under *out_dir*; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))

    _write(out_dir, "nation", {
        "n_nationkey": np.arange(N_NATIONS, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": (np.arange(N_NATIONS) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, N_NATIONS, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))

    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, N_NATIONS, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    adj = np.array(["cold", "small", "large", "shiny", "blue", "green", "heavy", "light"])
    noun = np.array(["widget", "bolt", "gear", "panel", "valve", "spring"])
    types = np.array(["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM"])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2_500),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_part = rng.integers(0, n_part, n_li)
    l_supp = rng.integers(0, n_supp, n_li)
    # Redraw the quantities, deterministically, until the peel takes
    # KCORE_ROUNDS rounds.
    for attempt in range(1000):
        qty = np.random.default_rng([seed, 7, attempt]).integers(1, 51, n_li)
        hot = qty >= 48
        if _peel_rounds(l_part[hot], l_supp[hot], k=4) == KCORE_ROUNDS:
            break
    else:
        raise RuntimeError(f"no k-core peel of {KCORE_ROUNDS} rounds at sf {sf}")
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": l_supp.astype(np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
        .astype(np.int32),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-01", 2_600),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))

    n_ev = max(100, int(100_000 * sf))
    ev_types = np.array(["view", "click", "purchase", "signup", "error"])
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts(rng, n_ev, "2024-01-01", 30)),
        "user_id": rng.integers(0, 200, n_ev).astype(np.int64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    # Documents: random vocabulary text; exactly 5% are near-duplicates of
    # another, distinct, original document (its text plus one token), which
    # gives the MinHash/LSH dedup real pairs to find and clusters of two.
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 100, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)]) for n in lens]
    order = rng.permutation(n_docs)
    n_dup = n_docs // 20
    for dup, orig in zip(order[:n_dup], order[n_dup:2 * n_dup]):
        texts[dup] = texts[orig] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())]))

    # Embeddings: unit vectors around ten labelled centres.
    centres = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))

    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li, "documents": n_docs,
            "embeddings": n_vecs}
