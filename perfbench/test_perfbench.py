"""Tests of the benchmark's own machinery: seeded generation, the graph
encoding, span self time and job attribution under HGN's init pool.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from run import shutdown  # noqa: E402
from tracing import Span, Tracer  # noqa: E402


@pytest.mark.parametrize("workload", ["hgn_social", "corpus_curation"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert a["content_hash"] == b["content_hash"] == gen.content_hash(b["table_dir"])
    assert a["content_hash"] != c["content_hash"]
    assert a["truth"] == b["truth"]
    from hgn_spark.catalog import TABLES

    assert sorted(os.listdir(a["table_dir"])) == sorted(f"{t}.parquet" for t in TABLES)


def test_lineitem_encoding_rebuilds_the_planted_graph(tmp_path):
    """graph.queries' derivation (its DuckDB twin) recovers exactly the
    generated edge set, and every vertex is a supplier."""
    import duckdb

    from hgn_spark.graph.queries import GRAPH_CTE

    meta = gen.generate("hgn_social", 3, str(tmp_path))
    con = duckdb.connect()
    for t in ("lineitem", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{meta['table_dir']}/{t}.parquet'")
    edges = con.execute(f"WITH {GRAPH_CTE} SELECT src, dst FROM gedges").fetchall()
    assert len(edges) == len(set(edges)) == meta["truth"]["edges"]
    verts = {int(v) for v in meta["truth"]["communities"]}
    assert {v for e in edges for v in e} <= verts
    n_supp = con.execute("SELECT count(*) FROM supplier").fetchone()[0]
    assert n_supp == meta["truth"]["vertices"] == len(verts)


def test_kcore_oracle_sized_to_the_peel_profile_is_exact(tmp_path):
    """On a graph whose peel needs more rounds than graph_kcore's
    registered oracle unrolls, the oracle the gate runs still gives
    networkx's core numbers."""
    import duckdb
    import networkx as nx

    from hgn_spark.graph import queries
    from hgn_spark.registry import load_all
    from run import oracle_sql

    meta = gen.generate("hgn_social", 6, str(tmp_path))
    assert meta["truth"]["kcore_peel"]["rounds"] > queries._KCORE_ROUNDS
    con = duckdb.connect()
    for t in ("lineitem", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{meta['table_dir']}/{t}.parquet'")
    g = nx.Graph(con.execute(f"WITH {queries.GRAPH_CTE} SELECT src, dst FROM sym").fetchall())
    assert gen.peel_profile(g.edges)["levels"] == max(nx.core_number(g).values()) + 1
    got = dict(con.execute(oracle_sql(load_all()["graph_kcore"], meta["truth"])).fetchall())
    assert got == nx.core_number(g)


def test_planted_pairs_carry_their_jaccard(tmp_path):
    import pyarrow.parquet as pq

    meta = gen.generate("corpus_curation", 5, str(tmp_path))
    docs = pq.read_table(os.path.join(meta["table_dir"], "documents.parquet"))
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    pairs = meta["truth"]["planted_pairs"]
    assert len(pairs) >= 20
    for a, b, j in pairs:
        assert j >= 0.8
        assert round(gen.jaccard(text[a], text[b]), 4) == j


def test_self_time_subtracts_union_of_children():
    t = Tracer(sc=None, run_id="t")
    t.spans = [
        Span(0, "root", "r", None, "main", 0.0, 10.0),
        # two overlapping children (pool threads) and one nested grandchild
        Span(1, "a", "x", 0, "p1", 1.0, 4.0),
        Span(2, "a", "y", 0, "p2", 3.0, 6.0),
        Span(3, "b", "z", 1, "p1", 1.5, 2.0),
        Span(4, "a", "w", 0, "main", 8.0, 9.0),
    ]
    self_t = t.self_times()
    assert self_t[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_t[1] == pytest.approx(2.5)
    assert self_t[2] == pytest.approx(3.0)
    assert self_t[3] == pytest.approx(0.5)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_CKPT"] = str(work / "ckpt")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    from hgn_spark.session import get_spark

    s = get_spark(extra_conf={"spark.ui.retainedJobs": "100000",
                              "spark.ui.retainedStages": "100000"})
    yield s
    shutdown(s)


def test_jobs_from_hgn_init_pool_threads_are_attributed(spark, tmp_path, monkeypatch):
    """HGN's init step checkpoints similarities and betweenness on two
    pool threads. Their jobs must bill to spans opened on those threads,
    which parent to the HGN span that submitted them and from there to the
    execution's root span, and every job of the region must land on some
    span."""
    from hgn_spark.registry import clear_session_caches, load_all

    monkeypatch.setitem(gen.SIZES, "hgn_social", dict(
        gen.SIZES["hgn_social"], communities=2, community_size=60, intra_degree=6,
    ))
    meta = gen.generate("hgn_social", 1, str(tmp_path))
    spec = load_all()["hgn_communities"]
    clear_session_caches(blocking=True)
    tracer = Tracer(spark.sparkContext, "test")
    tracer.mark_start()
    tracer.install()
    try:
        with tracer.span("graph.queries", spec.name, root=True):
            df = spec.fn(spark, meta["table_dir"])
        with tracer.span("drain", spec.name, root=True):
            df.toPandas()
        totals = tracer.collect()
    finally:
        tracer.uninstall()
    main = threading.current_thread().name
    pool_spans = [s for s in tracer.spans if s.thread != main]
    assert pool_spans, "no span was opened on HGN's init pool threads"
    assert sum(s.jobs for s in pool_spans) > 0
    by_sid = {s.sid: s for s in tracer.spans}
    tasks = [s for s in pool_spans if s.name.startswith("pool:")]
    assert tasks and all(by_sid[s.parent].layer == "graph.hgn" for s in tasks)
    roots = {s.sid for s in tracer.spans if s.parent is None}
    for s in pool_spans:
        p = s
        while p.parent is not None:
            p = by_sid[p.parent]
        assert p.sid in roots and p.name == spec.name and p.layer == "graph.queries"
    assert totals["jobs"] == sum(s.jobs for s in tracer.spans) > 0
    assert all(v >= 0 for v in totals.values())
