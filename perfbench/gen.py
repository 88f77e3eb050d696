"""Seeded input generator for the benchmark workloads.

``generate(workload, seed, out_dir)`` writes one parquet file per table in
the ``hgn_spark.catalog.TABLES`` layout under ``out_dir/tables`` plus the
workload's ground truth in ``out_dir/truth.json``, and returns the input
description (sizes, truth, content hash). Everything is a pure function of
``(workload, seed)``: the same pair gives byte-identical files, which the
content hash records and ``test_perfbench.py`` checks.

Every workload writes all ten tables, so any registered row can read any
table; the tables a workload's rows do not drive are kept tiny.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. The derived graph only joins suppliers of one
# `suppkey % 5` class; hgn_social puts all its communities in one class so
# that inter-community edges may join any two of them. Its communities are
# large next to a vertex's two-hop neighbourhood: with smaller, denser ones
# every edge passes the registered row's r-metric thresholds and HGN
# deletes nothing.
SIZES: dict[str, dict[str, int]] = {
    "hgn_social": {
        "communities": 3, "community_size": 150, "intra_degree": 10,
        "inter_degree": 1, "classes": 1, "orders": 500, "customers": 100,
        "events": 500, "documents": 60, "embeddings": 50,
    },
    "corpus_curation": {
        "documents": 400, "embeddings": 300, "clusters": 12,
        "orders": 3000, "customers": 300, "suppliers": 50, "parts": 400,
        "events": 3000,
    },
}

_EPOCH = datetime(1995, 1, 1)
_EVENT_EPOCH = datetime(2024, 1, 1)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("small", "red", "blue", "hot", "old", "large", "green", "cold")
_PNOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_STOPWORDS = ("the", "a", "of", "and", "to")
_EMB_DIM = 64


def _rng(seed: int, workload: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _dates(rng, n, span_days, epoch=_EPOCH):
    days = rng.integers(0, span_days, n)
    return pa.array([epoch + timedelta(days=int(d)) for d in days], pa.timestamp("us"))


def _region_nation() -> dict[str, pa.Table]:
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    return {"region": region, "nation": nation}


def _customers(rng, n) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _suppliers(rng, n, nationkeys=None) -> pa.Table:
    keys = np.arange(n) if nationkeys is None else np.asarray(sorted(nationkeys))
    nat = (
        rng.integers(0, 25, len(keys)) if nationkeys is None
        else np.array([nationkeys[k] for k in keys])
    )
    return pa.table({
        "s_suppkey": pa.array(keys, pa.int64()),
        "s_name": [f"Supplier#{int(k):09d}" for k in keys],
        "s_nationkey": pa.array(nat, pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(keys)), 2),
    })


def _parts(rng, n) -> pa.Table:
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [_PTYPES[t] for t in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
    })


def _orders(rng, n, n_cust) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _dates(rng, n, 2400),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, n)],
    })


def _lineitem(rng, orderkeys, partkeys, suppkeys, quantity, price) -> pa.Table:
    n = len(orderkeys)
    linenumber = np.zeros(n, np.int32)
    order = np.argsort(orderkeys, kind="stable")
    sorted_keys = np.asarray(orderkeys)[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    ranks = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    linenumber[order] = ranks + 1
    flags = rng.integers(0, 3, n)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(partkeys, pa.int64()),
        "l_suppkey": pa.array(suppkeys, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": np.asarray(quantity, np.float64),
        "l_extendedprice": np.round(np.asarray(quantity) * np.asarray(price), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in flags],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n, 2500),
    })


def _sales_lineitem(rng, n_orders, n_parts, n_supp, part_price) -> pa.Table:
    per_order = rng.integers(1, 8, n_orders)
    orderkeys = np.repeat(np.arange(n_orders), per_order)
    n = len(orderkeys)
    partkeys = rng.integers(0, n_parts, n)
    return _lineitem(
        rng, orderkeys, partkeys, rng.integers(0, n_supp, n),
        rng.integers(1, 51, n).astype(np.float64), part_price[partkeys],
    )


def _events(rng, n, n_users) -> pa.Table:
    micros = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(
            [_EVENT_EPOCH + timedelta(microseconds=int(m)) for m in micros],
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [_EVENT_TYPES[t] for t in rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(1.2, 40.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# --- documents --------------------------------------------------------------

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "do", "ge",
    "hu", "ba", "fi", "ko", "li", "mu", "no", "ri", "su", "ta", "ve", "yo",
)


def _vocab(rng, n) -> list[str]:
    words: list[str] = []
    seen = set(_STOPWORDS)
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word 3-grams of the lower-cased whitespace tokens — the
    shingling ``hgn_spark.operators.text.shingles`` applies."""
    toks = [t for t in text.lower().split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def _documents(rng, n_docs) -> tuple[pa.Table, dict]:
    vocab = _vocab(rng, 2000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    templates = [
        " ".join(vocab[i] for i in rng.choice(200, int(rng.integers(12, 24)), p=None))
        for _ in range(8)
    ]

    def body(n_tok):
        words = [vocab[i] for i in rng.choice(len(vocab), n_tok, p=zipf)]
        for j in np.flatnonzero(rng.random(n_tok) < 0.08):
            words[j] = _STOPWORDS[int(rng.integers(0, 5))]
        return words

    def pii(words):
        r = rng.random(3)
        if r[0] < 0.15:
            words.insert(int(rng.integers(0, len(words))),
                         f"{vocab[int(rng.integers(0, 300))]}.{int(rng.integers(0, 99))}@mail.example.org")
        if r[1] < 0.10:
            words.insert(int(rng.integers(0, len(words))),
                         ".".join(str(int(x)) for x in rng.integers(1, 255, 4)))
        if r[2] < 0.10:
            words.insert(int(rng.integers(0, len(words))),
                         str(int(rng.integers(1_000_000, 999_999_999))))
        return words

    texts: list[str] = []
    planted: list[list] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if doc_id >= 20 and r < 0.03:
            src = int(rng.integers(0, doc_id))
            texts.append(texts[src])
            planted.append([src, doc_id, 1.0])
            continue
        if doc_id >= 20 and r < 0.09:
            src = int(rng.integers(0, doc_id))
            words = texts[src].split(" ")
            for j in rng.choice(len(words), 1 + int(rng.integers(0, 2)), replace=False):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            planted.append([src, doc_id, round(jaccard(texts[src], texts[-1]), 4)])
            continue
        words = body(int(rng.integers(40, 140)))
        if rng.random() < 0.3:
            t = templates[int(rng.integers(0, len(templates)))].split(" ")
            words = t + words if rng.random() < 0.5 else words + t
        texts.append(" ".join(pii(words)))
    langs = [_LANGS[i] for i in rng.choice(5, n_docs, p=_LANG_P)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # Pairs at or above the near-duplicate threshold of
    # hgn_spark.operators.dedup (JACCARD_THRES); exact copies carry 1.0.
    return table, {"planted_pairs": [p for p in planted if p[2] >= 0.8]}


def _embeddings(rng, n, n_clusters) -> pa.Table:
    centers = rng.normal(size=(n_clusters, _EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    vecs = centers[labels] + rng.normal(scale=0.08, size=(n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --- the social graph -------------------------------------------------------


def _social_graph(rng, s) -> tuple[dict[str, pa.Table], dict]:
    """Planted-partition graph whose vertices are suppliers. Community c
    lives in suppkey class c % classes (classes <= 5), so every edge joins
    two suppliers of one class, as ``graph.queries.derived_edges``
    requires. Each vertex's nation is its community's nation with
    probability 0.8."""
    k, size, n_cls = s["communities"], s["community_size"], s["classes"]
    members = [[] for _ in range(k)]
    for c in range(k):
        cls = c % n_cls
        base = (c // n_cls) * size
        members[c] = [5 * (base + i) + cls for i in range(size)]
    comm_nation = rng.integers(0, 25, k)
    nationkeys = {}
    community = {}
    for c in range(k):
        for v in members[c]:
            community[v] = c
            nationkeys[v] = int(
                comm_nation[c] if rng.random() < 0.8 else rng.integers(0, 25)
            )
    edges = set()
    p_in = s["intra_degree"] / (size - 1)
    for c in range(k):
        m = np.asarray(members[c])
        iu, ju = np.triu_indices(size, 1)
        keep = rng.random(len(iu)) < p_in
        edges.update(zip(m[iu[keep]].tolist(), m[ju[keep]].tolist()))
    per_class = k // n_cls
    n_inter = int(s["inter_degree"] * k * size / 2)
    for _ in range(n_inter):
        cls = int(rng.integers(0, n_cls))
        a, b = rng.choice(per_class, 2, replace=False)
        u = members[n_cls * a + cls][int(rng.integers(0, size))]
        v = members[n_cls * b + cls][int(rng.integers(0, size))]
        edges.add((min(u, v), max(u, v)))
    edges = sorted(edges)
    # Each edge gets its own part supplied by both endpoints at quantity
    # >= 49; noise rows below the quantity cut pair random suppliers.
    n_e = len(edges)
    src = np.array([e[0] for e in edges], np.int64)
    dst = np.array([e[1] for e in edges], np.int64)
    verts = np.array(sorted(community), np.int64)
    n_noise = n_e // 2
    partkeys = np.r_[np.arange(n_e), np.arange(n_e), rng.integers(0, n_e, n_noise)]
    suppkeys = np.r_[src, dst, rng.choice(verts, n_noise)]
    qty = np.r_[rng.integers(49, 51, 2 * n_e), rng.integers(1, 49, n_noise)]
    orderkeys = rng.integers(0, s["orders"], len(partkeys))
    part_price = np.round(900.0 + (np.arange(n_e) % 1000) / 10.0, 1)
    tables = {
        "supplier": _suppliers(rng, len(verts), nationkeys),
        "lineitem": _lineitem(
            rng, orderkeys, partkeys, suppkeys, qty.astype(np.float64),
            part_price[partkeys],
        ),
        "part": _parts(rng, n_e),
    }
    truth = {
        "vertices": len(verts),
        "edges": n_e,
        "communities": {str(v): c for v, c in sorted(community.items())},
        "kcore_peel": peel_profile(edges),
    }
    return tables, truth


def peel_profile(edges) -> dict[str, int]:
    """Shape of the level-by-level k-core peel of an undirected graph, as
    ``graph.queries._kcore_oracle`` unrolls it: level k repeatedly drops
    the vertices with fewer than k alive neighbours. ``levels`` is the
    degeneracy plus one (the first level that empties the graph) and
    ``rounds`` the most peel rounds any level needs before it stops
    changing, so an oracle unrolled to these bounds reaches every
    fixpoint."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    levels = rounds = 0
    while alive:
        levels += 1
        n = 0
        while True:
            drop = {v for v in alive if len(adj[v] & alive) < levels}
            if not drop:
                break
            alive -= drop
            n += 1
        rounds = max(rounds, n)
    return {"levels": levels, "rounds": rounds}


# --- entry point ------------------------------------------------------------


def _write(tables: dict[str, pa.Table], out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"), row_group_size=1 << 20)


def content_hash(table_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(table_dir)):
        h.update(name.encode() + b"\0")
        with open(os.path.join(table_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's tables and truth under ``out_dir``; return the
    input description (``table_dir``, row counts, truth, content hash)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; known: {sorted(SIZES)}")
    s = SIZES[workload]
    rng = _rng(seed, workload)
    tables = _region_nation()
    truth: dict = {}
    if workload == "hgn_social":
        g, truth = _social_graph(rng, s)
        tables.update(g)
    tables.setdefault("customer", _customers(rng, s["customers"]))
    if "supplier" not in tables:
        tables["supplier"] = _suppliers(rng, s["suppliers"])
    if "part" not in tables:
        tables["part"] = _parts(rng, s["parts"])
    tables["orders"] = _orders(rng, s["orders"], s["customers"])
    if "lineitem" not in tables:
        price = tables["part"].column("p_retailprice").to_numpy()
        tables["lineitem"] = _sales_lineitem(
            rng, s["orders"], s["parts"], tables["supplier"].num_rows, price
        )
    tables["events"] = _events(rng, s["events"], 50)
    docs, doc_truth = _documents(rng, s["documents"])
    tables["documents"] = docs
    tables["embeddings"] = _embeddings(rng, s["embeddings"], s.get("clusters", 10))
    if workload == "corpus_curation":
        truth = doc_truth
    table_dir = os.path.join(out_dir, "tables")
    _write(tables, table_dir)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return {
        "table_dir": table_dir,
        "rows": {n: t.num_rows for n, t in sorted(tables.items())},
        "truth": truth,
        "content_hash": content_hash(table_dir),
    }
