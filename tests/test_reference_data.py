"""End-to-end runs on the reference's own input graphs (read-only at
/root/reference/data) — the Quakers network loaded through our S1/S2
source layer, driven through the full HGN loop with the reference's
quakers.yml run options, and sanity-checked structurally.

The reference publishes no golden community assignment (its own tests
never touch the Spark code — SURVEY §5), so assertions here pin graph
facts that are independently checkable (node/edge counts from the raw
files) plus structural invariants of the algorithm's output.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hgn_spark.graph.components import component_sizes, connected_components
from hgn_spark.graph.core import canonicalize, degrees
from hgn_spark.graph.hgn import HGNParams, hgn_communities
from hgn_spark.sources.csv import load_edges_csv, load_nodes_csv

QUAKERS = "/root/reference/data/input_graphs/Quakers"
FEATURES = [
    "id",
    "Historical_Significance",
    "Gender",
    "Birthdate",
    "Deathdate",
    "internal_id",
]

pytestmark = pytest.mark.skipif(
    not os.path.exists(QUAKERS), reason="reference data not present"
)


@pytest.fixture(scope="module")
def quakers(spark):
    nodes = load_nodes_csv(
        spark,
        f"{QUAKERS}/quakers_nodelist.csv2",
        feature_names=FEATURES,
        has_header=True,
        encoding="ISO-8859-1",
    )
    edges = load_edges_csv(
        spark, f"{QUAKERS}/quakers_edgelist.csv2", has_header=True
    )
    return nodes, edges


def test_quakers_loads_with_declared_schema(quakers):
    nodes, edges = quakers
    assert nodes.count() == 119  # 120 file lines minus header
    assert edges.count() == 174  # 175 lines minus header
    assert dict(nodes.dtypes)["id"] == "bigint"
    assert dict(edges.dtypes) == {"src": "bigint", "dst": "bigint"}
    assert nodes.filter(F.col("Gender").isin("male", "female")).count() == 119


def test_quakers_structure(quakers):
    nodes, edges = quakers
    deg = degrees(edges)
    # George Fox (founder) is the highest-degree vertex in this network.
    top = deg.orderBy(F.col("degree").desc()).first()
    name_row = nodes.filter(F.col("id") == top["id"]).first()
    assert top["degree"] > 10
    assert name_row is not None
    comps = connected_components(edges, nodes.select("id"))
    sizes = comps.groupBy("component").count().collect()
    # Known structure: one giant component (96 of 119 vertices) +
    # isolated/small satellites.
    assert max(r["count"] for r in sizes) == 96


HAMSTER = "/root/reference/data/input_graphs/Hamsterster"


@pytest.mark.skipif(not os.path.exists(HAMSTER), reason="reference data absent")
def test_hamsterster_loads(spark):
    """The second reference dataset: pipe-delimited quoted nodes,
    space-delimited edges with a '%'-comment first line consumed as the
    header (hamsterster.yml:37-58 semantics)."""
    features = [
        "id", "name", "joined", "species", "coloring", "gender", "birthday",
        "age", "hometown", "favorite_toy", "favorite_activity", "favorite_foo",
    ]
    nodes = load_nodes_csv(
        spark,
        f"{HAMSTER}/nodes",
        feature_names=features,
        delimiter="|",
        has_header=True,
        encoding="ISO-8859-1",
    )
    edges = load_edges_csv(spark, f"{HAMSTER}/edges", delimiter=" ", has_header=True)
    assert nodes.count() == 1856
    assert edges.count() == 12534
    assert nodes.filter(F.col("id").isNull()).count() == 0
    species = {r["species"] for r in nodes.select("species").distinct().collect()}
    assert any(s and s.startswith("Hamster") for s in species)
    deg = degrees(edges)
    assert deg.count() > 1700  # nearly all vertices participate


@pytest.mark.skipif(not os.path.exists(HAMSTER), reason="reference data absent")
def test_hamsterster_hgn_full_convergence(spark):
    """The full HGN loop run to CONVERGENCE (the loop's own
    no-deletions exit, not a step cap) on the larger reference graph
    (1856 nodes / 12534 edges, hub degree ~270) with the exact
    hamsterster.yml run options (confs/hamsterster.yml:61-75,
    max_steps=5000). The pipeline is deterministic — no RNG, canonical
    edges, tie-broken rankings — so the resulting community structure
    is pinned exactly (reproduced across independent sessions).
    ~2-3 min on local[32]: the cost is the 2-hop betweenness init over
    ~3.4M 2-paths plus the iterated deletion rounds."""
    features = [
        "id", "name", "joined", "species", "coloring", "gender", "birthday",
        "age", "hometown", "favorite_toy", "favorite_activity", "favorite_foo",
    ]
    nodes = load_nodes_csv(
        spark, f"{HAMSTER}/nodes", feature_names=features, delimiter="|",
        has_header=True, encoding="ISO-8859-1",
    )
    edges = load_edges_csv(spark, f"{HAMSTER}/edges", delimiter=" ", has_header=True)
    params = HGNParams(
        r_lvl1_thres=0.50,
        r_lvl2_thres=0.85,
        max_edge_weight=0.50,
        betweenness_thres=10.0,
        feature_min_avg=0.33,
        max_steps=5000,
        max_sp_length=2,
        min_comp_size=100,
    )
    comms = hgn_communities(
        nodes, edges, ["species", "coloring", "hometown"], params
    )
    sizes = {r["component"]: r["n_members"] for r in
             comms.groupBy("component").agg(
                 F.count(F.lit(1)).alias("n_members")).collect()}
    # Pinned community structure of the converged run.
    assert sum(sizes.values()) == 1424   # vertices surviving with >= 1 edge
    assert len(sizes) == 102             # communities
    top = sorted(sizes.values(), reverse=True)
    assert top[:4] == [610, 156, 79, 46]
    # min_comp_size=100 (the conf's value) keeps exactly the two big
    # communities via the wired G14 filter.
    big = component_sizes(comms, min_size=params.min_comp_size).collect()
    assert sorted((r["n_members"] for r in big), reverse=True) == [610, 156]


def _nx_graph(edges_df):
    import networkx as nx

    g = nx.Graph()
    for r in edges_df.collect():
        if r["src"] != r["dst"]:
            g.add_edge(r["src"], r["dst"])
    return g


def _truncated_betweenness_py(g, k: int, single_path: bool) -> dict:
    """Independent pure-Python truncated-GN betweenness, mirroring the
    spec in hgn_spark/graph/betweenness.py: every ORDERED pair (a, z)
    with d(a, z) <= k contributes 1 unit — split across its shortest
    paths (fractional GN), or all on the deterministic minimum-vertex-
    sequence path in compat mode (reference graph_tools.py:208 keeps one
    arbitrary path; the engine picks the smallest midpoint sequence)."""
    from collections import deque

    credit: dict[tuple, float] = {}
    for a in g.nodes:
        # BFS from a, depth <= k, recording shortest-path predecessors.
        dist = {a: 0}
        preds: dict = {a: []}
        q = deque([a])
        while q:
            u = q.popleft()
            if dist[u] >= k:
                continue
            for v in g.neighbors(u):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    preds[v] = [u]
                    q.append(v)
                elif dist[v] == dist[u] + 1:
                    preds[v].append(u)
        for z, d in dist.items():
            if z == a or d > k:
                continue
            # enumerate all shortest a→z paths (vertex lists)
            paths: list[list] = []

            def walk(node, suffix):
                if node == a:
                    paths.append([a] + suffix)
                    return
                for p in preds[node]:
                    walk(p, [node] + suffix)

            walk(z, [])
            if single_path:
                paths = [min(paths, key=lambda p: p[1:])]
            w = 1.0 / len(paths)
            for p in paths:
                for u, v in zip(p, p[1:]):
                    e = (min(u, v), max(u, v))
                    credit[e] = credit.get(e, 0.0) + w
    return credit


def test_quakers_cc_matches_networkx(quakers):
    """Exact partition parity: engine large/small-star components vs
    networkx connected_components over the same edges + isolated
    vertices from the node table."""
    import networkx as nx

    nodes, edges = quakers
    g = _nx_graph(edges)
    for r in nodes.select("id").collect():
        g.add_node(r["id"])
    want = {frozenset(c) for c in nx.connected_components(g)}
    got_rows = connected_components(edges, nodes.select("id")).collect()
    by_comp: dict[int, set] = {}
    for r in got_rows:
        by_comp.setdefault(r["component"], set()).add(r["id"])
    got = {frozenset(m) for m in by_comp.values()}
    assert got == want
    # engine labels components by their minimum member id
    for comp, members in by_comp.items():
        assert comp == min(members)


@pytest.mark.parametrize("k", [2, 3])
def test_quakers_brandes_betweenness_matches_python_reference(quakers, k):
    """The σ/δ-accumulation betweenness (edge_betweenness_brandes — the
    large-k scale path, no path materialization) vs the independent
    pure-Python truncated-GN implementation on the real Quakers graph,
    at the shipped depth (k=2) and one deeper layer (k=3)."""
    from hgn_spark.graph.betweenness import edge_betweenness_brandes

    _nodes, edges = quakers
    g = _nx_graph(edges)
    want = _truncated_betweenness_py(g, k=k, single_path=False)
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(edges, max_sp_length=k).collect()
    }
    assert set(got) == set(want)
    for e, v in want.items():
        assert abs(got[e] - v) < 1e-9, (e, got[e], v)


@pytest.mark.parametrize("compat", [False, True], ids=["fractional", "compat"])
def test_quakers_betweenness_matches_python_reference(quakers, compat):
    """Truncated-GN betweenness (k=2) vs the independent pure-Python
    implementation, both fractional (default) and compat single-path
    (reference graph_tools/graph_tools.py:208 semantics), exact edge
    set + per-edge values to 1e-9."""
    from hgn_spark.graph.betweenness import edge_betweenness

    _nodes, edges = quakers
    g = _nx_graph(edges)
    want = _truncated_betweenness_py(g, k=2, single_path=compat)
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(
            edges, max_sp_length=2, compat_single_path=compat
        ).collect()
    }
    assert set(got) == set(want)
    for e, v in want.items():
        assert abs(got[e] - v) < 1e-9, (e, got[e], v)


def test_quakers_hgn_end_to_end(quakers):
    nodes, edges = quakers
    params = HGNParams(
        # quakers.yml run_options (confs/quakers.yml:55-68); max_steps
        # capped for test wall-clock — deletions converge in few steps
        # ("merely few iterations", reference README claim).
        r_lvl1_thres=0.50,
        r_lvl2_thres=0.85,
        max_edge_weight=0.50,
        betweenness_thres=10.0,
        feature_min_avg=0.33,
        max_steps=3,
        max_sp_length=2,
    )
    comms = hgn_communities(nodes, edges, ["Gender"], params)
    rows = comms.collect()
    assert len(rows) > 0
    by_comp: dict[int, int] = {}
    for r in rows:
        by_comp[r["component"]] = by_comp.get(r["component"], 0) + 1
    # The loop must have split the giant component into communities.
    assert len(by_comp) > 1
    # Every surviving vertex is a real Quakers vertex.
    ids = {r["id"] for r in rows}
    all_ids = {r["id"] for r in nodes.select("id").collect()}
    assert ids <= all_ids
    # Edge deletion happened: fewer surviving vertices-with-edges or
    # more components than the initial single giant component.
    initial = connected_components(canonicalize(edges))
    n_initial = initial.select("component").distinct().count()
    assert len(by_comp) >= n_initial


@pytest.mark.skipif(not os.path.exists(HAMSTER), reason="reference data absent")
def test_hamsterster_sampled_betweenness_error_bounds(spark):
    """Brandes–Pich source-sampled betweenness on the larger reference
    graph (VERDICT r6 #5): across three sample fractions the estimator
    must (a) be deterministic (md5 sample, no RNG), (b) tighten
    monotonically toward exact on every quality measure, and (c) stay
    inside measured bounds (2026-08: total rel-err 5.0%/1.8%/1.2%,
    top-100 overlap 26/50/72 at fractions 0.25/0.5/0.75 — pinned with
    ~2x margin; per-edge error is large at small fractions because
    k=2-truncated credit is highly localized, which is exactly why the
    docstring scopes the estimator to aggregate/ranking use)."""
    from hgn_spark.graph.betweenness import (
        edge_betweenness_brandes,
        edge_betweenness_sampled,
    )

    edges = load_edges_csv(
        spark, f"{HAMSTER}/edges", delimiter=" ", has_header=True
    ).localCheckpoint(eager=True)
    exact = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(edges, 2).collect()
    }
    tot = sum(exact.values())
    top_exact = set(sorted(exact, key=lambda k: (-exact[k], k))[:100])

    bounds = {0.25: (0.10, 20), 0.5: (0.05, 40), 0.75: (0.03, 60)}
    prev_err, prev_overlap = None, None
    for frac, (max_tot_err, min_overlap) in sorted(bounds.items()):
        est = {
            (r["src"], r["dst"]): r["betweenness"]
            for r in edge_betweenness_sampled(
                edges, 2, source_fraction=frac
            ).collect()
        }
        tot_err = abs(sum(est.values()) - tot) / tot
        overlap = len(
            top_exact & set(sorted(est, key=lambda k: (-est[k], k))[:100])
        )
        assert tot_err <= max_tot_err, (frac, tot_err)
        assert overlap >= min_overlap, (frac, overlap)
        if prev_err is not None:
            assert tot_err <= prev_err, "error must tighten with fraction"
            assert overlap >= prev_overlap, "ranking must tighten with fraction"
        prev_err, prev_overlap = tot_err, overlap


def test_quakers_core_numbers_networkx_parity(quakers):
    """h-operator core decomposition on the real Quakers network ==
    networkx.core_number — a real-graph check beyond the derived
    testdata graph (the Quakers graph has pendant chains and a dense
    core, exercising both the propagation-depth and the h-index
    plateaus)."""
    nx = pytest.importorskip("networkx")

    from hgn_spark.graph.kcore import core_numbers

    _nodes, edges = quakers
    got = {
        r["id"]: r["core"] for r in core_numbers(edges).collect()
    }
    G = nx.Graph()
    G.add_edges_from([(r.src, r.dst) for r in edges.collect()])
    want = nx.core_number(G)
    assert got == want
