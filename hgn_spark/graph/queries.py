"""Registered graph queries over a testdata-derived graph.

The testdata has no edge table, so a deterministic co-supplier graph is
derived from `lineitem`: two suppliers are connected when they supply
the same part in large quantity (>= 49), restricted to suppliers in the
same mod-5 bucket so the graph fragments into several components
(otherwise the 100-supplier projection is one giant blob). Both the
Spark queries and the DuckDB oracles derive the graph from the same
parquet with the same expression, so every operator below gets a full
hash-checked correctness row — including connected components and
truncated betweenness, which the round-1 verdict only asked for as
rows-only.

At sf0.01 the graph is 98 nodes / 235 edges / 5 components with an
average of 1.85 common neighbors per edge — small, but the Spark plans
are the same shape at any scale (the derivation itself is a lineitem
self-join on the part key, which AQE handles like any other equi-join).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hgn_spark.catalog import load_table
from hgn_spark.checkpoint import tracked_local_checkpoint
from hgn_spark.graph.betweenness import edge_betweenness
from hgn_spark.graph.components import connected_components
from hgn_spark.graph.core import degrees, neighbors
from hgn_spark.graph.hgn import HGNParams, hgn_communities
from hgn_spark.graph.rmetrics import r_metrics_edges_pairs
from hgn_spark.registry import register

R1_THRES = 0.25
R2_THRES = 0.25
MIN_COMP_SIZE = 3

# Shared oracle prologue: the derived graph + its symmetrized form.
GRAPH_CTE = """
gedges AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
  WHERE a.l_quantity >= 49 AND b.l_quantity >= 49
    AND a.l_suppkey < b.l_suppkey
    AND a.l_suppkey % 5 = b.l_suppkey % 5
),
sym AS (SELECT src, dst FROM gedges UNION SELECT dst, src FROM gedges)
"""

# Materialized twin for the unrolled-loop oracles (HGN, PageRank, LPA —
# each references the graph dozens of times; see _hgn_oracle's note on
# DuckDB inlining plain CTEs per reference). DERIVED from GRAPH_CTE so
# the graph-derivation rule exists exactly once.
_GRAPH_CTE_MAT = GRAPH_CTE.replace(" AS (", " AS MATERIALIZED (")
assert _GRAPH_CTE_MAT.count("MATERIALIZED") == 2


# Derived edge list per (session, sf_dir): every graph query starts
# from the same lineitem self-join, and its output is tiny relative to
# the scan (2.8k edges at sf0.1) — materialize once per session, the
# same engine-caching discipline as the dedup family's shingle sets.
_EDGES_CACHE: dict[tuple[str, str], DataFrame] = {}
# Persistent-RDD ids behind the cached checkpoint (released by
# registry.clear_session_caches).
_CACHE_BLOCK_IDS: dict[tuple[str, str], set[int]] = {}

from hgn_spark.registry import register_cache as _register_cache  # noqa: E402

_register_cache("graph_edges", _EDGES_CACHE, block_ids=_CACHE_BLOCK_IDS)


def derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same graph in Spark: one lineitem self-join on the part key."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _EDGES_CACHE.get(key)
    if cached is not None:
        return cached
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select("l_suppkey", "l_partkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    out = (
        a.join(b, F.col("a.l_partkey") == F.col("b.l_partkey"))
        .filter(
            (F.col("a.l_suppkey") < F.col("b.l_suppkey"))
            & (F.col("a.l_suppkey") % 5 == F.col("b.l_suppkey") % 5)
        )
        .select(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .distinct()
    )
    out, ids = tracked_local_checkpoint(out)
    _EDGES_CACHE[key] = out
    _CACHE_BLOCK_IDS.setdefault(key, set()).update(ids)
    return out


@register(
    "graph_degrees",
    # One per-vertex row for both G3 halves (degree count + level-2
    # neighborhood) — the r7 window consolidation that paid for the
    # streaming_stateful_user_counts oracle row. Every non-isolated
    # vertex appears in both halves (lvl2 ⊇ 1-hop), so the inner join
    # loses nothing.
    # The `edge_csv` branch recomputes the DEGREE half from a CSV
    # round trip of the edge list read back with load_edges_csv's
    # DECLARED ±weight schema (no inference pass): identical degrees
    # only if the text round trip loses/corrupts no edge. Its oracle
    # twin is the same deg half replayed — the lvl2 half is shared,
    # computed once.
    oracle=f"""
    WITH {GRAPH_CTE},
    deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
    lvl2 AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM sym
        UNION ALL
        SELECT a.src, b.dst FROM sym a JOIN sym b ON a.dst = b.src
        WHERE a.src <> b.dst
      )
    ),
    l2 AS (
      SELECT u AS id, count(*) AS lvl2_count,
             array_to_string(list_sort(list(v)), ',') AS lvl2_neighbors
      FROM lvl2 GROUP BY u
    ),
    half AS (
      SELECT deg.id AS id, degree, lvl2_count, lvl2_neighbors
      FROM deg JOIN l2 ON l2.id = deg.id
    )
    SELECT 'derived' AS path, * FROM half
    UNION ALL
    SELECT 'edge_csv' AS path, * FROM half
    """,
    tags=("graph",),
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex degree plus level-2 neighborhood (1-hop ∪ 2-hop
    endpoints, self excluded) — G3 complete (graph_tools.py:328-370),
    as labeled `path` branches: 'derived' computes from the in-engine
    edge frame; 'edge_csv' recomputes degrees from an S2-style CSV
    round trip of the same edges (declared schema read-back,
    spark_manager.py:131-149 parity). Arrays serialized sorted for
    the order-insensitive hash."""
    from hgn_spark.sources.csv import load_edges_csv
    from hgn_spark.sources.sinks import ephemeral_io_dir

    # derived_edges is canonical (src < dst, distinct) by construction —
    # every symmetrize below it skips the provably-no-op dedup exchange
    # (r15, guide §2.4). The CSV round trip writes that same distinct
    # set, so the read-back is canonical too.
    e = derived_edges(spark, sf_dir)
    deg = degrees(e, edges_canonical=True)
    nb = neighbors(e, level=2, edges_canonical=True).select(
        "id",
        F.col("count").alias("lvl2_count"),
        F.array_join(F.sort_array("neighbors"), ",").alias("lvl2_neighbors"),
    )
    csv_path = os.path.join(ephemeral_io_dir(spark, "edges"), "csv")
    e.write.mode("overwrite").csv(csv_path)
    csv_deg = degrees(load_edges_csv(spark, csv_path), edges_canonical=True)
    lab = lambda df, p: df.select(F.lit(p).alias("path"), "*")  # noqa: E731
    return lab(deg, "derived").unionByName(lab(csv_deg, "edge_csv")).join(nb, "id")


def graph_neighbors_lvl2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-2 neighborhoods alone — the pre-merge driver row, kept
    callable for tests and API compatibility."""
    nb = neighbors(derived_edges(spark, sf_dir), level=2)
    return nb.select(
        "id",
        "count",
        F.array_join(F.sort_array("neighbors"), ",").alias("neighbors"),
    )


@register(
    "graph_rmetrics",
    oracle=f"""
    WITH {GRAPH_CTE},
    lvl2 AS (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM sym
        UNION ALL
        SELECT a.src, b.dst FROM sym a JOIN sym b ON a.dst = b.src
        WHERE a.src <> b.dst
      )
    ),
    deg1 AS (SELECT src AS id, count(*) AS cnt FROM sym GROUP BY src),
    deg2 AS (SELECT u AS id, count(*) AS cnt FROM lvl2 GROUP BY u),
    cn1 AS (
      SELECT e.src, e.dst, count(*) AS c
      FROM gedges e
      JOIN sym n1 ON n1.src = e.src
      JOIN sym n2 ON n2.src = e.dst AND n2.dst = n1.dst
      GROUP BY e.src, e.dst
    ),
    cn2 AS (
      SELECT e.src, e.dst, count(*) AS c
      FROM gedges e
      JOIN lvl2 n1 ON n1.u = e.src
      JOIN lvl2 n2 ON n2.u = e.dst AND n2.v = n1.v
      WHERE n1.v <> e.src AND n1.v <> e.dst
      GROUP BY e.src, e.dst
    )
    SELECT e.src, e.dst,
           round(coalesce(cn1.c, 0) * 1.0 / d1s.cnt, 4) AS r11,
           round(coalesce(cn1.c, 0) * 1.0 / d1d.cnt, 4) AS r12,
           round(coalesce(cn2.c, 0) * 1.0 / d2s.cnt, 4) AS r21,
           round(coalesce(cn2.c, 0) * 1.0 / d2d.cnt, 4) AS r22,
           (coalesce(cn1.c, 0) * 1.0 / d1s.cnt > {R1_THRES}
            OR coalesce(cn1.c, 0) * 1.0 / d1d.cnt > {R1_THRES}
            OR coalesce(cn2.c, 0) * 1.0 / d2s.cnt > {R2_THRES}
            OR coalesce(cn2.c, 0) * 1.0 / d2d.cnt > {R2_THRES}) AS keepit
    FROM gedges e
    JOIN deg1 d1s ON d1s.id = e.src
    JOIN deg1 d1d ON d1d.id = e.dst
    JOIN deg2 d2s ON d2s.id = e.src
    JOIN deg2 d2d ON d2d.id = e.dst
    LEFT JOIN cn1 ON cn1.src = e.src AND cn1.dst = e.dst
    LEFT JOIN cn2 ON cn2.src = e.src AND cn2.dst = e.dst
    """,
    tags=("graph",),
)
def graph_rmetrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11/r12/r21/r22 + keepit per edge (G4 with UD2-UD5 as native
    expressions, graph_tools/graph_tools.py:372-435) — the same scoring
    the HGN loop runs each step."""
    scored = r_metrics_edges_pairs(
        derived_edges(spark, sf_dir), R1_THRES, R2_THRES, edges_canonical=True
    )
    return scored.select(
        "src",
        "dst",
        F.round("r11", 4).alias("r11"),
        F.round("r12", 4).alias("r12"),
        F.round("r21", 4).alias("r21"),
        F.round("r22", 4).alias("r22"),
        "keepit",
    )


@register(
    "graph_betweenness_k2",
    oracle=f"""
    WITH {GRAPH_CTE},
    p2 AS (
      SELECT a.src AS src, a.dst AS mid, b.dst AS dst
      FROM sym a JOIN sym b ON a.dst = b.src
      WHERE a.src <> b.dst
        AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = a.src AND s.dst = b.dst)
    ),
    sigma AS (SELECT src, dst, count(*) AS m FROM p2 GROUP BY src, dst),
    contrib AS (
      SELECT least(p.src, p.mid) AS e_src, greatest(p.src, p.mid) AS e_dst,
             1.0 / s.m AS w
      FROM p2 p JOIN sigma s ON s.src = p.src AND s.dst = p.dst
      UNION ALL
      SELECT least(p.mid, p.dst), greatest(p.mid, p.dst), 1.0 / s.m
      FROM p2 p JOIN sigma s ON s.src = p.src AND s.dst = p.dst
      UNION ALL
      SELECT least(src, dst), greatest(src, dst), 1.0 FROM sym
    )
    SELECT e_src AS src, e_dst AS dst, round(sum(w), 4) AS betweenness
    FROM contrib GROUP BY 1, 2
    """,
    tags=("graph",),
)
def graph_betweenness_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated GN edge betweenness, k=2, correct fractional counting
    (G5-G8 collapsed into two self-joins; see betweenness.py header)."""
    b = edge_betweenness(
        derived_edges(spark, sf_dir), max_sp_length=2, edges_canonical=True
    )
    return b.select("src", "dst", F.round("betweenness", 4).alias("betweenness"))


@register(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE {GRAPH_CTE},
    walk(node, comp) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
    ),
    comps AS (SELECT node AS id, min(comp) AS component FROM walk GROUP BY node),
    sizes AS (SELECT component, count(*) AS n_members FROM comps GROUP BY component)
    SELECT c.id, c.component, s.n_members,
           CAST(s.n_members >= {MIN_COMP_SIZE} AS BIGINT) AS kept
    FROM comps c JOIN sizes s USING (component)
    """,
    tags=("graph", "iterative"),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star (G13),
    joined with per-component sizes and the small-community filter flag
    (G14 — defined in the reference, graph_tools/graph_tools.py:519-540,
    but never wired into main.py; wired here). Two §2 rows in one driver
    row: (id, component) is the G13 evidence, (n_members, kept) the G14
    evidence — `kept` marks components the HAVING-style filter retains.

    Hash-checked against a DuckDB recursive min-label closure — both
    converge to component = min member id.
    """
    comps = connected_components(derived_edges(spark, sf_dir), edges_canonical=True)
    # r14 (guide §2.6/§3): per-component size as ONE window count
    # instead of component_sizes + join — the join form referenced the
    # CC-output subtree twice (Catalyst shares no subplans: vertex-set
    # union + mapping join executed once for `comps`, once inside
    # `sizes`) and paid an aggregate exchange plus a join exchange.
    # Same rows (count over the full partition, min_size=1 was a
    # no-op filter), one subtree, one exchange.
    n = F.count(F.lit(1)).over(W.partitionBy("component"))
    return comps.select(
        "id",
        "component",
        n.alias("n_members"),
        (n >= MIN_COMP_SIZE).cast("long").alias("kept"),
    )


@register(
    "graph_shortest_paths_k2",
    oracle=f"""
    WITH {GRAPH_CTE},
    p2 AS (
      SELECT a.src AS src, a.dst AS mid, b.dst AS dst
      FROM sym a JOIN sym b ON a.dst = b.src
      WHERE a.src <> b.dst
        AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = a.src AND s.dst = b.dst)
    )
    SELECT src, dst, 1 AS distance, 1 AS n_paths FROM sym
    UNION ALL
    SELECT src, dst, 2 AS distance, count(*) AS n_paths
    FROM p2 GROUP BY src, dst
    """,
    tags=("graph",),
)
def graph_shortest_paths_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path enumeration (G6/G7) projected to a hash-checkable
    shape: per ordered pair, distance + number of shortest paths. The
    (src, dst, distance) projection of this row IS the truncated
    BFS-distances result, so this also carries the G5 evidence (the
    formerly standalone `graph_sp_lengths` row — merged to free an
    oracle slot; `betweenness.shortest_path_lengths` itself stays
    covered by tests/test_graph.py and the BFS property test). The
    array<struct> path column is exercised in tests/test_graph.py."""
    from hgn_spark.graph.betweenness import shortest_paths

    sp = shortest_paths(derived_edges(spark, sf_dir), max_len=2, edges_canonical=True)
    return sp.groupBy("src", "dst", "distance").agg(
        F.count(F.lit(1)).alias("n_paths")
    )


@register(
    "graph_triangles_clustering",
    oracle=f"""
    WITH {GRAPH_CTE},
    tri AS (
      SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      FROM gedges e1
      JOIN gedges e2 ON e2.src = e1.dst
      JOIN gedges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    mem AS (SELECT unnest([x, y, z]) AS id FROM tri),
    cnt AS (SELECT id, count(*) AS triangles FROM mem GROUP BY id),
    deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src)
    SELECT c.id, c.triangles, d.degree,
           round(2.0 * c.triangles / (d.degree * (d.degree - 1)), 6)
             AS clustering
    FROM cnt c JOIN deg d USING (id)
    """,
    tags=("graph", "triangles"),
)
def graph_triangles_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle count + local clustering coefficient
    (2T/(d(d-1))) — the standard cohesion metrics a graph-analytics
    user expects next to degrees and components (an engine extension;
    the reference computes common-neighbor counts per EDGE for its
    r-metrics but never closes the triangle per vertex).

    Spark side uses the degree-ordered edge-iterator (graph/core.py
    `triangles`: O(m^1.5) wedges, equi-joins only); the oracle
    enumerates the same triangles by id order — the triangle SET is
    orientation-independent, so the counts hash-match exactly.
    Vertices in no triangle are excluded (their coefficient is 0 by
    convention and they never leave the map side).
    """
    from hgn_spark.graph.core import degrees, triangles

    e = derived_edges(spark, sf_dir)
    t = triangles(e, edges_canonical=True)
    deg = degrees(e, edges_canonical=True)
    return t.join(deg, "id").select(
        "id",
        "triangles",
        "degree",
        F.round(
            2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ).alias("clustering"),
    )


PR_DAMPING = 0.85
PR_ITER = 20
PPR_N_SEEDS = 2  # personalized branch: the two lowest vertex ids


def _pagerank_oracle() -> str:
    """DuckDB replay of the fixed-iteration power method (the
    `_hgn_oracle` unrolling technique), BOTH recurrences as labeled
    `method` branches, so both are hash-checked:

    - 'uniform': classic PageRank — uniform start over the symmetrized
      vertex set, then PR_ITER rounds of one join + one grouped sum;
    - 'ppr': personalized PageRank — teleport mass returns only to the
      PPR_N_SEEDS lowest vertex ids, the start vector IS the teleport
      distribution, same round shape (the unrolled SQL previously
      pytest-only in tests/test_oracle_parity.py).

    The damping base inlines as the Python float `1.0 - PR_DAMPING` so
    both engines use the bit-identical constant; round(pr, 6) absorbs
    last-ulp summation-order differences (verified zero mismatches at
    sf0.001/0.01/0.1)."""
    uni_rounds = ",".join(
        f"""
    pr{i} AS MATERIALIZED (
      SELECT s.dst AS id,
             (SELECT b FROM basec) + {PR_DAMPING} * sum(p.pr / o.od) AS pr
      FROM sym s
      JOIN pr{i - 1} p ON p.id = s.src
      JOIN outdeg o ON o.id = s.src
      GROUP BY s.dst)"""
        for i in range(1, PR_ITER + 1)
    )
    # PPR rounds: the non-seed base is 0, so the CASE keys on seed
    # membership of the DESTINATION (grouped alongside, constant per
    # group). Vertices with no inbound contribution this round appear
    # via the seed base only if seeded — mirrored by the Spark side's
    # left join + coalesce(0), which the symmetrized graph makes
    # equivalent (every vertex has inbound edges).
    ppr_base = (
        f"(CASE WHEN sd.id IS NOT NULL THEN {1.0 - PR_DAMPING} / "
        "(SELECT n FROM ns) ELSE 0.0 END)"
    )
    ppr_rounds = ",".join(
        f"""
    ppr{i} AS MATERIALIZED (
      SELECT s.dst AS id, {ppr_base} + {PR_DAMPING} * sum(p.pr / o.od) AS pr
      FROM sym s
      JOIN ppr{i - 1} p ON p.id = s.src
      JOIN outdeg o ON o.id = s.src
      LEFT JOIN seeds sd ON sd.id = s.dst
      GROUP BY s.dst, sd.id)"""
        for i in range(1, PR_ITER + 1)
    )
    return f"""
    WITH {_GRAPH_CTE_MAT},
    outdeg AS MATERIALIZED (
      SELECT src AS id, count(*) AS od FROM sym GROUP BY src),
    nv AS (SELECT count(*) AS n FROM outdeg),
    basec AS (SELECT {1.0 - PR_DAMPING} / n AS b FROM nv),
    pr0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nv) AS pr FROM outdeg),
    seeds AS MATERIALIZED (SELECT id FROM outdeg ORDER BY id LIMIT {PPR_N_SEEDS}),
    ns AS (SELECT count(*) AS n FROM seeds),
    ppr0 AS MATERIALIZED (
      SELECT o.id,
             CASE WHEN s.id IS NOT NULL
                  THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS pr
      FROM outdeg o LEFT JOIN seeds s ON s.id = o.id),
    {uni_rounds},
    {ppr_rounds}
    SELECT 'uniform' AS method, id, round(pr, 6) AS pagerank FROM pr{PR_ITER}
    UNION ALL
    SELECT 'ppr', id, round(pr, 6) FROM ppr{PR_ITER}
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "centrality"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration PageRank on the derived graph (engine extension —
    the reference ships no centrality beyond edge betweenness), both
    recurrences as labeled `method` branches of one driver row:

    - 'uniform': the classic power iteration;
    - 'ppr': personalized PageRank seeded on the PPR_N_SEEDS lowest
      vertex ids (deterministic on both sides) — the seed-expansion
      primitive.

    Fixed iteration counts are registered constants, so the oracle
    UNROLLS both loops into join+groupBy CTEs (same technique as
    `_hgn_oracle`) — a fully hash-checked driver row; exact-iteration
    networkx / pure-Python parity is additionally pinned in
    tests/test_graph.py."""
    from hgn_spark.checkpoint import CheckpointJanitor
    from hgn_spark.graph.pagerank import build_links, pagerank_fused

    e = derived_edges(spark, sf_dir)
    # Both recurrences run FUSED: one state frame carries both rank
    # columns, so each of the PR_ITER rounds is still one equi-join +
    # one map-side-combinable aggregation — 20 shuffles for the pair
    # instead of 40 (measured progression in ARCHITECTURE.md's
    # round-8 Benchmarks paragraph, anchored to committed artifacts).
    # The single-vector `pagerank`/`personalized_pagerank` remain the
    # public API; fused==separate parity is pinned in
    # tests/test_graph.py.
    jan = CheckpointJanitor(spark)
    links, links_ids = build_links(e, jan, edges_canonical=True)
    seeds = (
        links.select(F.col("src").alias("id")).distinct().orderBy("id").limit(PPR_N_SEEDS)
    )
    both = pagerank_fused(
        e, seeds, damping=PR_DAMPING, n_iter=PR_ITER, links=links
    )
    jan.release(links_ids)
    uni = both.select(
        F.lit("uniform").alias("method"),
        "id",
        F.round("pr_uniform", 6).alias("pagerank"),
    )
    ppr = both.select(
        F.lit("ppr").alias("method"),
        "id",
        F.round("pr_ppr", 6).alias("pagerank"),
    )
    return uni.unionByName(ppr)


LPA_ITER = 10


def _lpa_oracle() -> str:
    """DuckDB replay of LPA_ITER synchronous label-propagation rounds
    plus the Newman modularity of the final assignment, so the
    community row carries a hash-checked QUALITY metric, not just a
    partition.

    Per round: neighbor label counts, then argmax by (count desc, label
    asc) expressed as min(label) among max-count labels — the exact
    tie-break the Spark struct-max implements; pure integer arithmetic,
    so the member branch is exact. The modularity branch is the closed
    form Q = Σ_c [e_c/m − (d_c/2m)²] over the canonical (src < dst)
    edge set, rounded to 6 decimals like every float aggregate."""
    rounds = ",".join(
        f"""
    cnt{i} AS (
      SELECT s.dst AS id, l.label, count(*) AS c
      FROM sym s JOIN lab{i} l ON l.id = s.src
      GROUP BY s.dst, l.label),
    lab{i + 1} AS MATERIALIZED (
      SELECT c.id, min(c.label) AS label
      FROM cnt{i} c
      JOIN (SELECT id, max(c) AS mc FROM cnt{i} GROUP BY id) m
        ON m.id = c.id AND c.c = m.mc
      GROUP BY c.id)"""
        for i in range(LPA_ITER)
    )
    return f"""
    WITH {_GRAPH_CTE_MAT},
    lab0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM sym),
    {rounds},
    m AS (SELECT count(*) AS m FROM gedges),
    intra AS (
      SELECT l1.label AS community, count(*) AS e_c
      FROM gedges g
      JOIN lab{LPA_ITER} l1 ON l1.id = g.src
      JOIN lab{LPA_ITER} l2 ON l2.id = g.dst
      WHERE l1.label = l2.label
      GROUP BY l1.label),
    deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
    degc AS (
      SELECT l.label AS community, sum(d.degree) AS d_c
      FROM deg d JOIN lab{LPA_ITER} l ON l.id = d.id
      GROUP BY l.label),
    q AS (
      SELECT round(sum(
               coalesce(i.e_c, 0) * 1.0 / (SELECT m FROM m)
               - (dc.d_c / (2.0 * (SELECT m FROM m)))
                 * (dc.d_c / (2.0 * (SELECT m FROM m)))), 6) AS modularity
      FROM degc dc LEFT JOIN intra i ON i.community = dc.community)
    SELECT 'member' AS branch, id, label,
           CAST(NULL AS DOUBLE) AS modularity
    FROM lab{LPA_ITER}
    UNION ALL
    SELECT 'modularity', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           modularity
    FROM q
    """


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative", "communities", "quality"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA communities on the derived graph (engine
    extension — the near-linear complement to the HGN loop;
    GraphFrames' labelPropagation equivalent), plus the Newman
    modularity of the assignment as a labeled branch:

    - 'member': one (id, label) row per vertex;
    - 'modularity': one row carrying Q of that assignment
      (core.modularity_score — networkx parity additionally pinned in
      tests/test_graph.py).

    Fixed rounds + total tie-break make the output a pure function of
    the graph, so the oracle unrolls the loop and replays the closed
    form (see `_lpa_oracle`). The LPA result frame is checkpointed by
    the loop, so feeding it to both branches costs one extra scan of
    materialized blocks, not a second loop."""
    from hgn_spark.graph.core import modularity_score
    from hgn_spark.graph.lpa import label_propagation

    e = derived_edges(spark, sf_dir)
    lab = label_propagation(e, n_iter=LPA_ITER, edges_canonical=True)
    members = lab.select(
        F.lit("member").alias("branch"),
        "id",
        "label",
        F.lit(None).cast("double").alias("modularity"),
    )
    q = modularity_score(
        e, lab.select("id", F.col("label").alias("community")), edges_canonical=True
    ).select(
        F.lit("modularity").alias("branch"),
        F.lit(None).cast("long").alias("id"),
        F.lit(None).cast("long").alias("label"),
        "modularity",
    )
    return members.unionByName(q)


# Unroll bounds for the k-core oracle. The peel loop's shape is
# data-dependent (outer levels = degeneracy, inner rounds = longest
# removal cascade per level), but at the driver's scale factors it is
# small and MEASURED: sf0.01 needs 6 levels x <=10 rounds, sf0.1 needs
# 5 x <=9. The unroll bounds sit well above both; extra rounds are
# no-ops at the fixpoint (the peel step is idempotent), and extra
# levels emit empty survivor sets. If a future SF exceeded the bounds
# the oracle would UNDER-count cores and the hash check would fail
# loudly — never silently pass.
_KCORE_LEVELS = 10
_KCORE_ROUNDS = 16


def _kcore_oracle(levels: int = _KCORE_LEVELS, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled-peeling k-core oracle (same technique as the HGN /
    PageRank / LPA loop oracles): one CTE per peel round computing the
    still-alive vertex set — a vertex survives the round iff its degree
    among alive endpoints is >= k (endpoints with zero alive neighbors
    drop out of the join, mirroring kcore.py's explicit alive frame) —
    then core(v) = number of level fixpoints survived, since the
    (k+1)-core is contained in the k-core and a vertex removed while
    peeling level k survived exactly levels 1..k-1."""
    ctes = []
    prev = "alive0"
    survivors = []
    for k in range(1, levels + 1):
        for j in range(rounds):
            name = f"a{k}_{j + 1}"
            ctes.append(f"""
    {name} AS MATERIALIZED (
      SELECT id FROM (
        SELECT s.src AS id, count(*) AS deg
        FROM sym s JOIN {prev} p ON p.id = s.src
        JOIN {prev} q ON q.id = s.dst
        GROUP BY s.src)
      WHERE deg >= {k})""")
            prev = name
        survivors.append(prev)
    union = "\n      UNION ALL\n      ".join(
        f"SELECT id FROM {s}" for s in survivors
    )
    return f"""
    WITH {_GRAPH_CTE_MAT},
    alive0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym),
    {",".join(ctes)}
    SELECT id, CAST(count(*) AS INT) AS core FROM (
      {union}
    ) GROUP BY id
    """


@register("graph_kcore", oracle=_kcore_oracle(), tags=("graph", "iterative", "cohesion"))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the derived graph (engine extension):
    per-vertex core numbers by distributed peeling — hash-checked
    against the unrolled-peeling DuckDB replay (see _kcore_oracle) and
    pinned to exact networkx.core_number parity in tests/test_graph.py."""
    from hgn_spark.graph.kcore import core_numbers

    return core_numbers(derived_edges(spark, sf_dir), edges_canonical=True)


HGN_MAX_STEPS = 3


def _hgn_iteration_ctes(i: int, ein: str) -> str:
    """One unrolled HGN iteration as CTE text: r-metrics on edge set
    ``ein`` → candidate common-neighbor members → hybrid weights over
    the init-step similarity edges → deletion rule against init-step
    betweenness → surviving edge set ``e{i+1}``. Mirrors the loop body
    in hgn.py:82-113 block for block."""
    eout = f"e{i + 1}"
    # AS MATERIALIZED: every CTE here is referenced several times and
    # sits on top of a chain back to the lineitem self-join; DuckDB
    # inlines plain CTEs per reference, which both multiplies the work
    # exponentially across unrolled iterations and opens the parquet
    # once per expansion (observed: "Too many open files").
    return f"""
    sym{i} AS MATERIALIZED (
      SELECT src, dst FROM {ein} UNION SELECT dst, src FROM {ein}),
    lvl2_{i} AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM sym{i}
        UNION ALL
        SELECT a.src, b.dst FROM sym{i} a JOIN sym{i} b ON a.dst = b.src
        WHERE a.src <> b.dst)),
    deg1_{i} AS (SELECT src AS id, count(*) AS cnt FROM sym{i} GROUP BY src),
    deg2_{i} AS (SELECT u AS id, count(*) AS cnt FROM lvl2_{i} GROUP BY u),
    cn1_{i} AS (
      SELECT e.src, e.dst, count(*) AS c
      FROM {ein} e
      JOIN sym{i} n1 ON n1.src = e.src
      JOIN sym{i} n2 ON n2.src = e.dst AND n2.dst = n1.dst
      GROUP BY e.src, e.dst),
    rm{i} AS (
      SELECT e.src, e.dst,
             (coalesce(cn1.c, 0) * 1.0 / d1s.cnt > {R1_THRES}
              OR coalesce(cn1.c, 0) * 1.0 / d1d.cnt > {R1_THRES}
              OR coalesce(cn2.c, 0) * 1.0 / d2s.cnt > {R2_THRES}
              OR coalesce(cn2.c, 0) * 1.0 / d2d.cnt > {R2_THRES}) AS keepit
      FROM {ein} e
      JOIN deg1_{i} d1s ON d1s.id = e.src
      JOIN deg1_{i} d1d ON d1d.id = e.dst
      JOIN deg2_{i} d2s ON d2s.id = e.src
      JOIN deg2_{i} d2d ON d2d.id = e.dst
      LEFT JOIN cn1_{i} cn1 ON cn1.src = e.src AND cn1.dst = e.dst
      LEFT JOIN (
        SELECT e2.src, e2.dst, count(*) AS c
        FROM {ein} e2
        JOIN lvl2_{i} m1 ON m1.u = e2.src
        JOIN lvl2_{i} m2 ON m2.u = e2.dst AND m2.v = m1.v
        WHERE m1.v <> e2.src AND m1.v <> e2.dst
        GROUP BY e2.src, e2.dst) cn2
        ON cn2.src = e.src AND cn2.dst = e.dst),
    cnm{i} AS MATERIALIZED (
      SELECT e.src, e.dst, n1.v AS member
      FROM {ein} e
      JOIN rm{i} r ON r.src = e.src AND r.dst = e.dst AND NOT r.keepit
      JOIN lvl2_{i} n1 ON n1.u = e.src
      JOIN lvl2_{i} n2 ON n2.u = e.dst AND n2.v = n1.v
      WHERE n1.v <> e.src AND n1.v <> e.dst),
    pairs{i} AS (
      SELECT DISTINCT c.src, c.dst, s.src AS s_src, s.dst AS s_dst,
             s.similarity
      FROM cnm{i} c JOIN sims s ON s.src = c.member
      WHERE EXISTS (SELECT 1 FROM cnm{i} c2
                    WHERE c2.src = c.src AND c2.dst = c.dst
                      AND c2.member = s.dst)),
    w{i} AS (
      SELECT src, dst,
             sum(CASE WHEN similarity >= 0.5 THEN 1 ELSE 0 END) * 1.0
               / count(*) AS ew
      FROM pairs{i} GROUP BY src, dst),
    del{i} AS (
      SELECT w.src, w.dst FROM w{i} w
      JOIN betw b ON b.src = w.src AND b.dst = w.dst
      WHERE w.ew < 0.5 OR (w.ew >= 0.5 AND b.betweenness > 3.0)),
    {eout} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {ein} e
      WHERE NOT EXISTS (SELECT 1 FROM del{i} d
                        WHERE d.src = e.src AND d.dst = e.dst))"""


def _hgn_oracle() -> str:
    """DuckDB replay of the full HGN loop with the registered params
    (max_steps={HGN_MAX_STEPS}, k=2, thresholds inline): init-step
    similarities + betweenness on the initial graph, the loop UNROLLED
    to max_steps iterations (deleting nothing is a fixpoint, so
    unrolling past the loop's early break recomputes the same edge
    set), recursive min-label components on the survivors. The
    betweenness threshold compares raw float sums — verified to have
    no value within 1e-6 of the 3.0 boundary at sf0.001/0.01/0.1, so
    both engines land on the same side everywhere."""
    its = ",".join(
        _hgn_iteration_ctes(i, f"e{i}" if i else "gedges")
        for i in range(HGN_MAX_STEPS)
    )
    final = f"e{HGN_MAX_STEPS}"
    return f"""
    WITH RECURSIVE {_GRAPH_CTE_MAT},
    sims AS MATERIALIZED (
      SELECT e.src, e.dst,
             CASE WHEN vs.s_nationkey = vd.s_nationkey
                  THEN 1.0 ELSE 0.0 END AS similarity
      FROM gedges e
      JOIN supplier vs ON vs.s_suppkey = e.src
      JOIN supplier vd ON vd.s_suppkey = e.dst
      UNION ALL
      SELECT e.dst, e.src,
             CASE WHEN vs.s_nationkey = vd.s_nationkey
                  THEN 1.0 ELSE 0.0 END
      FROM gedges e
      JOIN supplier vs ON vs.s_suppkey = e.src
      JOIN supplier vd ON vd.s_suppkey = e.dst),
    bp2 AS (
      SELECT a.src AS src, a.dst AS mid, b.dst AS dst
      FROM sym a JOIN sym b ON a.dst = b.src
      WHERE a.src <> b.dst
        AND NOT EXISTS (SELECT 1 FROM sym s
                        WHERE s.src = a.src AND s.dst = b.dst)),
    bsigma AS (SELECT src, dst, count(*) AS m FROM bp2 GROUP BY src, dst),
    bcontrib AS (
      SELECT least(p.src, p.mid) AS e_src, greatest(p.src, p.mid) AS e_dst,
             1.0 / s.m AS w
      FROM bp2 p JOIN bsigma s ON s.src = p.src AND s.dst = p.dst
      UNION ALL
      SELECT least(p.mid, p.dst), greatest(p.mid, p.dst), 1.0 / s.m
      FROM bp2 p JOIN bsigma s ON s.src = p.src AND s.dst = p.dst
      UNION ALL
      SELECT least(src, dst), greatest(src, dst), 1.0 FROM sym),
    betw AS MATERIALIZED (
      SELECT e_src AS src, e_dst AS dst, sum(w) AS betweenness
      FROM bcontrib GROUP BY 1, 2),
    {its},
    fsym AS (SELECT src, dst FROM {final}
             UNION SELECT dst, src FROM {final}),
    walk(node, comp) AS (
      SELECT src, src FROM fsym
      UNION
      SELECT s.dst, w.comp FROM walk w JOIN fsym s ON s.src = w.node)
    SELECT node AS id, min(comp) AS component FROM walk GROUP BY node
    """


@register(
    "hgn_communities",
    oracle=_hgn_oracle(),
    tags=("graph", "iterative", "flagship"),
)
def hgn_communities_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full HGN loop on the derived graph (G11-G12 + G13): r-metrics →
    hybrid weights → deletion rule → convergence → components.

    Vertices come from `supplier` with s_nationkey as the single
    categorical feature (cosine ∈ {0,1}, like the reference's Quakers
    Gender-only run — SURVEY §8.8). The iterative loop is not directly
    SQL-expressible, but max_steps is a registered constant — the
    oracle UNROLLS the loop (see `_hgn_oracle`), turning the flagship
    from rows-only into a fully hash-checked driver row. Algorithmic
    checks live in tests/test_graph.py on hand-computed fixtures.
    """
    edges = derived_edges(spark, sf_dir)
    vertices = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_nationkey").alias("nationkey")
    )
    params = HGNParams(
        r_lvl1_thres=R1_THRES,
        r_lvl2_thres=R2_THRES,
        max_edge_weight=0.5,
        betweenness_thres=3.0,
        feature_min_avg=0.5,
        max_steps=3,
        max_sp_length=2,
    )
    return hgn_communities(
        vertices, edges, ["nationkey"], params, edges_canonical=True
    )
