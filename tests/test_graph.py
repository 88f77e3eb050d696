"""Algorithmic checks for the graph layer on hand-computed fixtures.

The fixture is two triangles {1,2,3} and {4,5,6} joined by the bridge
3-4, plus isolated vertex 7. Every expected value below is derived by
hand (the container has no networkx), which is exact for graphs this
size — the SURVEY §5 test plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hgn_spark.graph.betweenness import (
    edge_betweenness,
    edge_betweenness_brandes,
    shortest_path_lengths,
    shortest_paths,
)
from hgn_spark.graph.components import (
    component_sizes,
    connected_components,
    filter_small_components,
)
from hgn_spark.graph.core import degrees, drop_isolated_vertices, neighbors, symmetrize
from hgn_spark.graph.hgn import HGNParams, hgn_communities
from hgn_spark.graph.rmetrics import candidate_common_members, r_metrics_edges_pairs
from hgn_spark.graph.weights import hybrid_edge_weights, one_hot_cosine_similarities

EDGES = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


@pytest.fixture(scope="module")
def vertices(spark):
    # attr: triangle membership; vertex 7 is isolated
    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "b"), (7, "c")]
    return spark.createDataFrame(rows, "id long, attr string")


def _as_dict(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


def test_symmetrize(edges):
    sym = symmetrize(edges)
    assert sym.count() == 2 * len(EDGES)
    assert sym.filter("src = dst").count() == 0


def test_symmetrize_assume_canonical_same_rows(edges):
    """The r15 fast path (skip the dedup exchange when the input is
    guaranteed canonical) must return the identical ROW SET — the
    fixture IS canonical (src < dst, distinct), so both forms agree."""
    want = {(r["src"], r["dst"]) for r in symmetrize(edges).collect()}
    got = {
        (r["src"], r["dst"])
        for r in symmetrize(edges, assume_canonical=True).collect()
    }
    assert got == want


def test_rmetrics_pairs_canonical_flag_identical(edges):
    """r_metrics_edges_pairs and candidate_common_members with
    edges_canonical=True (the HGN loop's call shape) equal the safe
    default on canonical input — scored values and member rows both."""
    s0 = r_metrics_edges_pairs(edges, 0.25, 0.9)
    s1 = r_metrics_edges_pairs(edges, 0.25, 0.9, edges_canonical=True)
    key = lambda r: (r["src"], r["dst"])  # noqa: E731
    assert {key(r): (r["r11"], r["r12"], r["r21"], r["r22"], r["keepit"])
            for r in s0.collect()} == {
        key(r): (r["r11"], r["r12"], r["r21"], r["r22"], r["keepit"])
        for r in s1.collect()
    }
    m0 = candidate_common_members(edges, edges)
    m1 = candidate_common_members(edges, edges, edges_canonical=True)
    assert {(r["src"], r["dst"], r["member"]) for r in m0.collect()} == {
        (r["src"], r["dst"], r["member"]) for r in m1.collect()
    }


def test_degrees(edges):
    got = _as_dict(degrees(edges), "id", "degree")
    assert got == {1: 2, 2: 2, 3: 3, 4: 3, 5: 2, 6: 2}


def test_neighbors_lvl1_and_isolated(edges, vertices):
    nb = neighbors(edges, vertices=vertices, level=1)
    got = {r["id"]: (r["count"], sorted(r["neighbors"])) for r in nb.collect()}
    assert got[3] == (3, [1, 2, 4])
    assert got[7] == (0, [])  # isolated vertex: count 0, empty array


def test_neighbors_lvl2(edges):
    nb = neighbors(edges, level=2)
    got = {r["id"]: sorted(r["neighbors"]) for r in nb.collect()}
    assert got[1] == [2, 3, 4]          # 1-hop {2,3} ∪ 2-hop {4}
    assert got[3] == [1, 2, 4, 5, 6]    # includes both triangle interiors
    assert got[4] == [1, 2, 3, 5, 6]


def test_shortest_path_lengths(edges):
    sp = shortest_path_lengths(edges, max_len=2)
    got = {(r["src"], r["dst"]): r["distance"] for r in sp.collect()}
    assert got[(1, 2)] == 1
    assert got[(1, 4)] == 2
    assert got[(3, 5)] == 2
    assert (1, 5) not in got  # distance 3: beyond truncation
    assert (1, 1) not in got


def test_rmetrics(edges):
    scored = r_metrics_edges_pairs(edges, r_lvl1_thres=0.25, r_lvl2_thres=0.9)
    rows = {(r["src"], r["dst"]): r for r in scored.collect()}
    e12 = rows[(1, 2)]
    assert e12["r11"] == pytest.approx(0.5)  # CN={3}, deg(1)=2
    assert e12["r12"] == pytest.approx(0.5)
    assert e12["keepit"] is True
    bridge = rows[(3, 4)]
    assert bridge["r11"] == 0.0 and bridge["r12"] == 0.0  # no lvl1 CN
    assert bridge["r21"] == pytest.approx(4 / 5)  # |CN|=4, |lvl2(3)|=5
    assert bridge["r22"] == pytest.approx(4 / 5)
    assert bridge["keepit"] is False  # 0.8 < 0.9 threshold
    cand = scored.filter(~F.col("keepit")).select("src", "dst")
    members = candidate_common_members(edges, cand).collect()
    # the bridge is the sole candidate; its lvl2 CN
    assert sorted((r["src"], r["dst"], r["member"]) for r in members) == [
        (3, 4, m) for m in (1, 2, 5, 6)
    ]


def test_betweenness_fractional(edges):
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(edges, max_sp_length=2).collect()
    }
    # d1: every edge gets 2 (both orientations). d2 paths (σ=1 each):
    # 1-3-4, 2-3-4, 3-4-5, 3-4-6 — each ordered both ways (+2 per edge).
    assert got[(1, 2)] == pytest.approx(2.0)
    assert got[(1, 3)] == pytest.approx(4.0)
    assert got[(2, 3)] == pytest.approx(4.0)
    assert got[(3, 4)] == pytest.approx(10.0)  # bridge: 2 + 4 paths × 2
    assert got[(4, 5)] == pytest.approx(4.0)
    assert got[(5, 6)] == pytest.approx(2.0)


def test_betweenness_compat_single_path(spark):
    # Square 1-2-4-3-1: pair (1,4) has σ=2 (via 2 or 3). Compat keeps one
    # path (smallest mid=2); fractional splits 0.5/0.5.
    sq = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    frac = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(sq).collect()
    }
    # edge (1,2): d1=2; paths 1-2-4 (σ=2, both directions) → +2·(1/2)=1;
    # paths 2-1-3 (σ=1... wait (2,3) non-adjacent, mids {1,4} → σ=2) → +1.
    assert frac[(1, 2)] == pytest.approx(2.0 + 1.0 + 1.0)
    compat = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(sq, compat_single_path=True).collect()
    }
    # (1,4) keeps only mid=2 path; (2,3) keeps only mid=1 path.
    assert compat[(1, 2)] == pytest.approx(2.0 + 2.0 + 2.0)
    assert compat[(3, 4)] == pytest.approx(2.0)  # loses both picks


def test_betweenness_compat_max_length_only(spark):
    """§8.3 compat: only max-length paths credit (the reference's
    progressive-filter bug). Path graph 1-2-3 at k=2: default credits
    distance-1 pairs (each edge +2) AND the distance-2 pair through
    both edges (+2 over two ordered directions); compat drops the
    distance-1 credit entirely."""
    pg = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    full = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(pg, max_sp_length=2).collect()
    }
    assert full == {(1, 2): pytest.approx(4.0), (2, 3): pytest.approx(4.0)}
    compat = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(
            pg, max_sp_length=2, compat_max_length_only=True
        ).collect()
    }
    # only the two ordered distance-2 paths (1→3, 3→1), each crossing
    # both edges once
    assert compat == {(1, 2): pytest.approx(2.0), (2, 3): pytest.approx(2.0)}
    with pytest.raises(ValueError, match="compat"):
        edge_betweenness(
            pg, max_sp_length=2, compat_max_length_only=True, method="sigma"
        )


def test_betweenness_k3_path_graph(spark):
    # Path 1-2-3-4-5 truncated at k=3: every pair ≤3 has σ=1.
    # Edge {2,3} lies on ordered pairs (1,3),(1,4),(2,3),(2,4),(2,5)
    # and their reverses → 10; edge {1,2} on (1,2),(1,3),(1,4) → 6.
    pg = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(pg, max_sp_length=3).collect()
    }
    assert got == {
        (1, 2): pytest.approx(6.0),
        (2, 3): pytest.approx(10.0),
        (3, 4): pytest.approx(10.0),
        (4, 5): pytest.approx(6.0),
    }


@pytest.mark.parametrize("k", [1, 2, 3])
def test_brandes_equals_path_enumeration(edges, k):
    """The σ/δ accumulation variant is output-identical to the
    path-enumeration default at every truncation depth (same edge set,
    values to 1e-9) — here on the two-triangle bridge fixture, whose
    diameter (3) exercises a non-trivial deepest layer at k=3."""
    # method="paths" pins the enumerating side explicitly — auto would
    # route k=3 through sigma too (measured crossover at k > 2), making
    # the comparison vacuous.
    a = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness(edges, max_sp_length=k, method="paths").collect()
    }
    b = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(edges, max_sp_length=k).collect()
    }
    assert set(a) == set(b)
    for e, v in a.items():
        assert abs(b[e] - v) < 1e-9, (e, b[e], v)


def test_sampled_betweenness_exact_on_sampled_sources(spark, edges):
    """Source-sampled betweenness: fraction >= 1 is bit-identical to
    the full Brandes run; a partial fraction equals a pure-Python GN
    accumulation restricted to the SAME md5-sampled sources, scaled by
    n/k — the estimator is exact per sampled source, not just unbiased
    in expectation."""
    import hashlib
    from collections import deque

    from hgn_spark.graph.betweenness import (
        edge_betweenness_brandes,
        edge_betweenness_sampled,
    )

    full = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(edges, max_sp_length=2).collect()
    }
    same = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_sampled(
            edges, max_sp_length=2, source_fraction=1.0
        ).collect()
    }
    assert same == full

    frac = 0.5
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_sampled(
            edges, max_sp_length=2, source_fraction=frac
        ).collect()
    }
    # pure-Python mirror: GN fractional credits from ordered pairs
    # whose source is in the same md5 sample, scaled by n/k
    adj: dict[int, set[int]] = {}
    for r in edges.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    thr = format(int(frac * 2**32), "08x")
    sampled = {
        v
        for v in adj
        if hashlib.md5(str(v).encode()).hexdigest()[:8] < thr
    }
    assert 0 < len(sampled) < len(adj)
    want: dict[tuple[int, int], float] = {}
    for s in sampled:
        # truncated BFS with sigma, depth <= 2
        dist, sig, parents = {s: 0}, {s: 1.0}, {}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= 2:
                continue
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sig[w] = 0.0
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sig[w] += sig[u]
                    parents.setdefault(w, []).append(u)
        # backward delta accumulation
        delta = {v: 0.0 for v in dist}
        for w in sorted(dist, key=lambda v: -dist[v]):
            for u in parents.get(w, []):
                c = sig[u] / sig[w] * (1.0 + delta[w])
                e = (min(u, w), max(u, w))
                want[e] = want.get(e, 0.0) + c
                delta[u] += c
    scale = len(adj) / len(sampled)
    want = {e: v * scale for e, v in want.items()}
    assert set(got) == set(want)
    for e, v in got.items():
        assert abs(v - want[e]) < 1e-9, (e, v, want[e])


def test_brandes_multi_path_split(spark):
    """Square 1-2-4-3-1: pair (1,4) has σ=2, so Brandes must split the
    credit — the case where single-path shortcuts diverge."""
    sq = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in edge_betweenness_brandes(sq, max_sp_length=2).collect()
    }
    # Same hand-derived values as test_betweenness_compat_single_path's
    # fractional half: d1 both orientations (2) + half-credit 2-paths.
    assert got[(1, 2)] == pytest.approx(4.0)
    assert got[(3, 4)] == pytest.approx(4.0)


def test_shortest_paths_arrays(edges):
    sp = {
        (r["src"], r["dst"]): r
        for r in shortest_paths(edges, max_len=2).collect()
    }
    r = sp[(1, 4)]
    assert r["distance"] == 2
    assert [(e["src"], e["dst"]) for e in r["path"]] == [(1, 3), (3, 4)]


def test_connected_components(edges, vertices, spark):
    comps = _as_dict(connected_components(edges, vertices), "id", "component")
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7}
    cut = spark.createDataFrame(
        [e for e in EDGES if e != (3, 4)], "src long, dst long"
    )
    comps2 = _as_dict(connected_components(cut), "id", "component")
    assert comps2 == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_component_sizes_and_small_filter(spark, vertices):
    cut = spark.createDataFrame(
        [e for e in EDGES if e != (3, 4)] + [(8, 9)], "src long, dst long"
    )
    comps = connected_components(cut)
    sizes = _as_dict(component_sizes(comps, min_size=3), "component", "n_members")
    assert sizes == {1: 3, 4: 3}  # the 2-node component {8,9} filtered out
    v = vertices.union(spark.createDataFrame([(8, "d"), (9, "d")], "id long, attr string"))
    fv, fe = filter_small_components(v, cut, min_size=3)
    assert sorted(r["id"] for r in fv.collect()) == [1, 2, 3, 4, 5, 6]
    assert fe.count() == 6


def test_drop_isolated(edges, vertices):
    kept = drop_isolated_vertices(vertices, edges)
    assert sorted(r["id"] for r in kept.collect()) == [1, 2, 3, 4, 5, 6]


def test_one_hot_cosine(edges, vertices):
    sims = _as_dict(
        one_hot_cosine_similarities(edges, vertices, ["attr"]).withColumn(
            "key", F.concat_ws("-", "src", "dst")
        ),
        "key",
        "similarity",
    )
    assert sims["1-2"] == 1.0  # same attr
    assert sims["3-4"] == 0.0  # across triangles


def test_ml_pipeline_cosine_equals_closed_form(spark):
    """The reference's StringIndexer(keep)→OneHotEncoder(dropLast)→
    VectorAssembler pipeline yields the SAME cosines as the closed form
    on fit==transform data: keep's unseen bucket sits at the last index
    and dropLast removes exactly that slot (SURVEY §8.9+§8.10 cancel)."""
    from hgn_spark.graph.weights import ml_one_hot_cosine_similarities

    verts = spark.createDataFrame(
        [(1, "x", "p"), (2, "x", "p"), (3, "y", "q"), (4, "z", "q"), (5, "x", "r")],
        "id long, f1 string, f2 string",
    )
    es = spark.createDataFrame([(1, 2), (3, 4), (1, 4), (1, 5)], "src long, dst long")
    ml = {
        (r["src"], r["dst"]): round(r["similarity"], 9)
        for r in ml_one_hot_cosine_similarities(es, verts, ["f1", "f2"]).collect()
    }
    cf = {
        (r["src"], r["dst"]): round(r["similarity"], 9)
        for r in one_hot_cosine_similarities(es, verts, ["f1", "f2"]).collect()
    }
    assert ml == cf
    assert ml[(1, 2)] == 1.0 and ml[(3, 4)] == 0.5 and ml[(1, 4)] == 0.0


def test_hybrid_edge_weights(edges, vertices):
    scored = r_metrics_edges_pairs(edges, r_lvl1_thres=0.25, r_lvl2_thres=0.9)
    cand = scored.filter(~F.col("keepit")).select("src", "dst")
    sims = one_hot_cosine_similarities(edges, vertices, ["attr"])
    sims = sims.union(
        sims.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "similarity")
    )
    w = hybrid_edge_weights(
        candidate_common_members(edges, cand), sims, feature_min_avg=0.6
    ).collect()
    # Only candidate is the bridge (3,4); CN={1,2,5,6}; sim edges fully
    # inside: (1,2) sim 1.0 and (5,6) sim 1.0 → weight 2/2 = 1.0.
    assert len(w) == 1
    assert (w[0]["src"], w[0]["dst"]) == (3, 4)
    assert w[0]["edge_weight"] == pytest.approx(1.0)


def test_hgn_loop_splits_triangles(edges, vertices):
    params = HGNParams(
        r_lvl1_thres=0.25,
        r_lvl2_thres=0.9,
        max_edge_weight=0.9,
        betweenness_thres=5.0,
        feature_min_avg=0.6,
        max_steps=5,
    )
    comps = _as_dict(
        hgn_communities(vertices, edges, ["attr"], params), "id", "component"
    )
    # Bridge weight 1.0 ≥ 0.9 but betweenness 10 > 5 → deleted; triangles
    # survive (all keepit). Isolated 7 dropped.
    assert comps == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_candidate_common_members_matches_full(spark, edges):
    """The candidate-only member expansion, with and without the
    source restriction, equals the level-2 common-neighbor sets
    computed from `neighbors(level=2)`: members of N2(src) ∩ N2(dst)
    other than src and dst. Checked for every edge as a candidate and
    for a two-edge subset; the bridge (3,4) has {1,2,5,6}."""
    nb2 = {r["id"]: set(r["neighbors"]) for r in neighbors(edges, level=2).collect()}
    for cand_edges in (EDGES, [(1, 2), (3, 4)]):
        cand = spark.createDataFrame(cand_edges, "src long, dst long")
        want = {
            (s, d, m) for s, d in cand_edges for m in (nb2[s] & nb2[d]) - {s, d}
        }
        assert {m for s, d, m in want if (s, d) == (3, 4)} == {1, 2, 5, 6}
        for restrict in (True, False):
            got = {
                (r["src"], r["dst"], r["member"])
                for r in candidate_common_members(
                    edges, cand, restrict_sources=restrict
                ).collect()
            }
            assert got == want


def test_triangles_and_clustering(edges):
    from hgn_spark.graph.core import triangles

    got = _as_dict(triangles(edges), "id", "triangles")
    # each vertex of the two triangles closes exactly one; the bridge
    # 3-4 closes none
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1}


def test_triangles_networkx_parity(spark):
    """Degree-ordered edge-iterator vs networkx on the sf0.001 derived
    graph — exact count parity for every triangle-bearing vertex."""
    nx = pytest.importorskip("networkx")

    from hgn_spark.graph.queries import derived_edges
    from hgn_spark.graph.core import triangles
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    G = nx.Graph()
    G.add_edges_from([(r.src, r.dst) for r in e.collect()])
    expect = {k: v for k, v in nx.triangles(G).items() if v > 0}
    got = _as_dict(triangles(e), "id", "triangles")
    assert got == expect


def test_pagerank_fixture(edges):
    """Symmetric-triangle fixture: ranks sum to 1 and the higher-degree
    bridge endpoints (3, 4) outrank the interior vertices."""
    from hgn_spark.graph.pagerank import pagerank

    got = _as_dict(pagerank(edges, n_iter=30), "id", "pagerank")
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert set(got) == {1, 2, 3, 4, 5, 6}
    for interior in (1, 2, 5, 6):
        assert got[3] > got[interior]
        assert got[4] > got[interior]
    # symmetry of the fixture: mirror vertices have equal ranks
    assert abs(got[3] - got[4]) < 1e-12
    assert abs(got[1] - got[6]) < 1e-12


def test_pagerank_reference_power_iteration_parity(spark):
    """Same update, same uniform start, same iteration count → values
    match an independent pure-Python power iteration to float tolerance
    on the sf0.001 derived graph (networkx.pagerank needs scipy, which
    this container lacks; the hand-rolled loop below is the same
    textbook update networkx implements)."""
    from hgn_spark.graph.pagerank import pagerank
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    adj: dict[int, set[int]] = {}
    for r in e.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    n = len(adj)
    d = 0.85
    n_iter = 60
    pr = {v: 1.0 / n for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v in adj:
            s = sum(pr[u] / len(adj[u]) for u in adj[v])
            nxt[v] = (1.0 - d) / n + d * s
        pr = nxt
    got = _as_dict(pagerank(e, n_iter=n_iter), "id", "pagerank")
    assert set(got) == set(pr)
    for k, v in got.items():
        assert abs(v - pr[k]) < 1e-9, (k, v, pr[k])


def test_personalized_pagerank_matches_pure_python(spark):
    """Seeded teleport: same update, same seed-mass start, same
    iteration count → matches an independent pure-Python loop; seed
    relevance concentrates near the seeds and an empty seed set
    raises."""
    import pytest as _pytest

    from hgn_spark.graph.pagerank import personalized_pagerank
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    adj: dict[int, set[int]] = {}
    for r in e.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)
    seeds = sorted(adj)[:2]
    spark_seeds = spark.createDataFrame([(s,) for s in seeds], "id long")
    d, n_iter = 0.85, 40
    ns = len(seeds)
    pr = {v: (1.0 / ns if v in seeds else 0.0) for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v in adj:
            s = sum(pr[u] / len(adj[u]) for u in adj[v])
            tele = (1.0 - d) / ns if v in seeds else 0.0
            nxt[v] = tele + d * s
        pr = nxt
    got = _as_dict(
        personalized_pagerank(e, spark_seeds, n_iter=n_iter), "id", "pagerank"
    )
    assert set(got) == set(pr)
    for k, v in got.items():
        assert abs(v - pr[k]) < 1e-9, (k, v, pr[k])
    # seeds hold the teleport mass → rank at a seed beats the median
    ranked = sorted(got.values())
    assert all(got[s] > ranked[len(ranked) // 2] for s in seeds)
    with _pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(
            e, spark.createDataFrame([(999999,)], "id long")
        )


def test_pagerank_fused_matches_separate_loops(spark):
    """The fused dual-recurrence loop (one join+agg per round carrying
    both rank columns — the registered row's execution path) equals
    the single-vector `pagerank` and `personalized_pagerank` run
    separately, column for column (1e-9: same recurrence, different
    float summation schedules)."""
    from pyspark.sql import functions as F

    from hgn_spark.graph.pagerank import (
        pagerank,
        pagerank_fused,
        personalized_pagerank,
    )
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    seeds = (
        e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .orderBy("id")
        .limit(2)
    )
    fused = {
        r["id"]: (r["pr_uniform"], r["pr_ppr"])
        for r in pagerank_fused(e, seeds, n_iter=20).collect()
    }
    uni = _as_dict(pagerank(e, n_iter=20), "id", "pagerank")
    ppr = _as_dict(personalized_pagerank(e, seeds, n_iter=20), "id", "pagerank")
    assert set(fused) == set(uni) == set(ppr)
    for k, (u, p) in fused.items():
        assert abs(u - uni[k]) < 1e-9, (k, u, uni[k])
        assert abs(p - ppr[k]) < 1e-9, (k, p, ppr[k])


def test_pagerank_fused_round_plan_shape(spark, monkeypatch):
    """The fused round's physical plan carries BOTH rank sums through
    one aggregation with a map-side partial (partial_sum) — the
    one-shuffle-per-round-for-the-pair claim — and no cartesian/BNLJ.
    Captured at localCheckpoint time (the round frames are
    materialized eagerly, so the final plan alone would start at a
    checkpoint scan)."""
    from pyspark.sql import functions as F

    from hgn_spark.graph.pagerank import pagerank_fused
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE
    from tests.test_plan_guard import _checkpoint_patch_target

    DataFrame = _checkpoint_patch_target()
    captured = []
    orig = DataFrame.localCheckpoint

    def patched(self, eager=True):
        captured.append(
            spark._jvm.PythonSQLUtils.explainString(
                self._jdf.queryExecution(), "formatted"
            )
        )
        return orig(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", patched)
    e = derived_edges(spark, SF_SMOKE)
    seeds = (
        e.select(F.col("src").alias("id")).distinct().orderBy("id").limit(2)
    )
    pagerank_fused(e, seeds, n_iter=1, checkpoint_interval=1)
    rounds = [p for p in captured if "partial_sum" in p]
    assert rounds, "no round plan captured (map-side partial missing?)"
    p = rounds[-1]
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # Both sums ride ONE aggregation: two partial_sum calls, not two
    # aggregation subtrees (HashAggregate appears once per side of the
    # final/partial pair).
    assert p.count("partial_sum") >= 2
    # THE fusion invariant: exactly one aggregation subtree for the
    # pair (one partial + one final HashAggregate), each computing
    # both sums — a regression to per-branch plans would double these.
    # (Count node-detail headers — the formatted plan names each node
    # twice: once in the tree, once in its detail block.)
    import re

    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", p, re.M))
    assert n_agg == 2, p
    # Shuffle budget of the STATIC round plan: one join (two input
    # exchanges in the conservative pre-AQE plan; AQE broadcasts the
    # |V|-row rank side at runtime) + the groupBy(dst) exchange. More
    # means a second join/agg chain crept in.
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_exchange <= 3, p


def test_core_numbers_fixture(edges):
    """Two triangles + bridge: every triangle vertex is 2-core, and
    adding a pendant vertex demotes nothing but itself."""
    from hgn_spark.graph.kcore import core_numbers

    got = _as_dict(core_numbers(edges), "id", "core")
    assert got == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 2}
    pendant = edges.sparkSession.createDataFrame(
        EDGES + [(6, 8)], "src long, dst long"
    )
    got2 = _as_dict(core_numbers(pendant), "id", "core")
    assert got2[8] == 1
    assert all(got2[v] == 2 for v in (1, 2, 3, 4, 5, 6))


def test_core_numbers_raises_on_guard_before_fixpoint(edges):
    """A guard too small for convergence must fail loudly, not return
    the not-yet-converged labels (which would be silent UPPER bounds —
    the h-operator descends from degrees; same contract as the old
    peeling guard, ADVICE r5)."""
    import pytest

    from hgn_spark.graph.kcore import core_numbers

    with pytest.raises(RuntimeError, match="max_iter"):
        core_numbers(edges, max_iter=1).collect()


def test_core_numbers_path_and_barbell(spark):
    """The VERDICT r7 watch item: the documented O(diameter) round
    behavior on path-like graphs, pinned. A 60-vertex path is the
    h-operator's worst shape — core-1 information walks inward one hop
    per round, so it needs ~n/2 rounds (a 10k path would take ~5000
    Spark rounds; the behavior is diameter-linear regardless of n, so
    the fixture pins the regime at a wall-clock-sane size):

    - the default (proven (2m+1)·interval) budget completes and every
      core is 1;
    - a barbell (two K5s joined by that path) completes with cores 4
      in the cliques and 2 on the path (both path ends attach to a
      clique, so no vertex ever has degree < 2 and the whole bridge
      survives 2-core peeling) — the mixed-depth shape;
    - an explicit budget below the path's ~diameter/2 rounds raises
      loudly instead of returning unconverged labels.
    """
    from hgn_spark.graph.kcore import core_numbers

    n = 60
    path = [(i, i + 1) for i in range(1, n)]
    pdf = spark.createDataFrame(path, "src long, dst long")
    got = _as_dict(core_numbers(pdf), "id", "core")
    assert got == {v: 1 for v in range(1, n + 1)}

    with pytest.raises(RuntimeError, match="max_iter"):
        # ~n/2 rounds are REQUIRED on a path; 6 is far below 30.
        core_numbers(pdf, max_iter=6).collect()

    k5a = [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    k5b = [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]
    barbell = k5a + k5b + [(100, 1), (n, 200)] + path
    bdf = spark.createDataFrame(barbell, "src long, dst long")
    got_b = _as_dict(core_numbers(bdf), "id", "core")
    nx = pytest.importorskip("networkx")
    G = nx.Graph(barbell)
    assert got_b == nx.core_number(G)
    assert all(got_b[100 + i] == 4 for i in range(5))
    assert all(got_b[200 + i] == 4 for i in range(5))
    assert all(got_b[v] == 2 for v in range(1, n + 1))


def test_core_numbers_networkx_parity(spark):
    nx = pytest.importorskip("networkx")

    from hgn_spark.graph.kcore import core_numbers
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    G = nx.Graph()
    G.add_edges_from([(r.src, r.dst) for r in e.collect()])
    expect = nx.core_number(G)
    got = _as_dict(core_numbers(e), "id", "core")
    assert got == expect


def _sync_lpa(edges: list[tuple[int, int]], n_iter: int) -> dict[int, int]:
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    lab = {v: v for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v in adj:
            c = Counter(lab[w] for w in adj[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        lab = nxt
    return lab


def test_label_propagation_fixture(edges):
    """Two triangles + bridge: each triangle collapses onto its min
    label; parity with an independent synchronous-LPA implementation."""
    from hgn_spark.graph.lpa import label_propagation

    got = _as_dict(label_propagation(edges, n_iter=10), "id", "label")
    assert got == _sync_lpa(EDGES, 10)
    # the two triangles end as (at most) two communities
    assert len(set(got.values())) <= 2


def test_label_propagation_derived_graph_parity(spark):
    from hgn_spark.graph.lpa import label_propagation
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    pairs = [(r.src, r.dst) for r in e.collect()]
    got = _as_dict(label_propagation(e, n_iter=10), "id", "label")
    assert got == _sync_lpa(pairs, 10)


def test_modularity_networkx_parity(spark):
    """modularity_score == networkx.community.modularity on the derived
    graph under the LPA partition, and on a hand-checked fixture."""
    nx = pytest.importorskip("networkx")
    import networkx.algorithms.community as nxc

    from hgn_spark.graph.core import modularity_score
    from hgn_spark.graph.lpa import label_propagation
    from hgn_spark.graph.queries import derived_edges
    from tests.conftest import SF_SMOKE

    e = derived_edges(spark, SF_SMOKE)
    comm = label_propagation(e, n_iter=10).select(
        "id", F.col("label").alias("community")
    )
    got = modularity_score(e, comm).first()

    G = nx.Graph()
    G.add_edges_from([(r.src, r.dst) for r in e.collect()])
    groups: dict = {}
    for r in comm.collect():
        groups.setdefault(r["community"], set()).add(r["id"])
    want = nxc.modularity(G, list(groups.values()))
    assert abs(got["modularity"] - want) < 1e-6
    assert got["n_edges"] == G.number_of_edges()
    assert got["n_communities"] == len(groups)

    # fixture: two triangles + bridge, split at the bridge -> Q = 10/49
    fix = spark.createDataFrame(EDGES, "src long, dst long")
    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)], "id long, community long"
    )
    q = modularity_score(fix, assign).first()["modularity"]
    Gf = nx.Graph()
    Gf.add_edges_from(EDGES)
    wantf = nxc.modularity(Gf, [{1, 2, 3}, {4, 5, 6}])
    assert abs(q - wantf) < 1e-6


def test_core_numbers_path_graph_default_guard(spark):
    """Regression (r7 review): h-operator rounds track propagation
    DEPTH, not degree — a 250-vertex path (max degree 2, all cores 1)
    needs ~125 rounds, which the old fixed max_iter=100 default
    wrongly aborted. The n-bounded default must converge."""
    from hgn_spark.graph.kcore import core_numbers

    n = 250
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = _as_dict(core_numbers(path, checkpoint_interval=25), "id", "core")
    assert len(got) == n
    assert set(got.values()) == {1}


def test_loop_final_generations_parked(spark):
    """Loop operators park their FINAL checkpoint generation in the
    registered loose store (r8: previously only k-core did — the other
    loops' finals lingered until async GC, the measurement cost the
    checkpoint module documents). CC is the cheap representative; its
    returned plan lazily references the parked star forest, so the
    blocks must stay live until clear_session_caches."""
    from hgn_spark import checkpoint as cp
    from hgn_spark.graph.components import connected_components
    from hgn_spark.registry import clear_session_caches

    clear_session_caches()
    e = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    cc = connected_components(e)
    assert cc.count() == 5
    parked = (
        set().union(*cp._LOOSE_BLOCK_IDS.values())
        if cp._LOOSE_BLOCK_IDS
        else set()
    )
    assert parked, "connected_components must park its star-forest blocks"
    clear_session_caches()


def test_betweenness_auto_approx_dispatch(edges):
    """VERDICT r13 #3 wiring: method='auto' + allow_approx at k>=4
    returns exactly what the sampled estimator returns (same fraction,
    same deterministic md5 sample); without the opt-in, auto stays
    exact (bit-equal to the sigma kernel)."""
    from hgn_spark.graph.betweenness import edge_betweenness_sampled

    got = _as_dict(
        edge_betweenness(edges, 4, allow_approx=True, source_fraction=0.5)
        .withColumn("k", F.concat_ws("-", "src", "dst")),
        "k",
        "betweenness",
    )
    want = _as_dict(
        edge_betweenness_sampled(edges, 4, source_fraction=0.5)
        .withColumn("k", F.concat_ws("-", "src", "dst")),
        "k",
        "betweenness",
    )
    assert got == want
    exact = _as_dict(
        edge_betweenness(edges, 4).withColumn(
            "k", F.concat_ws("-", "src", "dst")
        ),
        "k",
        "betweenness",
    )
    sigma = _as_dict(
        edge_betweenness_brandes(edges, 4).withColumn(
            "k", F.concat_ws("-", "src", "dst")
        ),
        "k",
        "betweenness",
    )
    assert exact == sigma
