"""Generate an sf>=1 scale slice by k-fold replication of the sf0.1
tables with REPLICA-NAMESPACED keys (VERDICT r6 #4: one data-bound
benchmark point — the sf0.001→0.1 suite is overhead-bound, so the
100 TB scaling claims need a measurement where per-query growth, not
JVM fixed cost, dominates).

Design: each replica is a key-disjoint copy of the sf0.1 data, so the
combined slice has k× the rows with the SAME per-replica structure —
work that is linear in the data (scans, bucketed joins, per-doc HOFs)
scales ~k×, and anything superlinear shows up immediately.

- lineitem / part / supplier / orders / customer: integer keys offset
  per replica by a pad computed per KEY DOMAIN — the max over EVERY
  table carrying that key (c_custkey ∪ o_custkey, o_orderkey ∪
  l_orderkey, p_partkey ∪ l_partkey, s_suppkey ∪ l_suppkey) — so FK
  pairs stay aligned by construction, not by the accident of two
  tables sharing a maximum. Pads are multiples of 10 (so
  l_suppkey % 5 — the derived graph's edge rule — is preserved and
  each replica grows an ISOMORPHIC copy of the sf0.1 graph). part's
  p_size is offset too: sizes are the theta-join's equi key, and
  shared sizes across replicas would grow that join quadratically
  instead of linearly.
- documents: every token is suffixed with '\\x01' + replica index
  (replica 0 = verbatim), so replicas provably share NO tokens — the
  separator cannot appear inside a space-split token, so a verbatim
  token ending in a digit can never collide with a suffixed one.
  Shingle buckets, 7-gram sets and fingerprints stay replica-local,
  exactly like a real corpus whose vocabulary grows with its size.
  Each replica keeps the sf0.1 corpus's internal near-dup structure,
  so dedup verify work scales linearly. (Replicating text verbatim
  instead would make every doc a k-way exact dup and every shingle
  bucket k× hotter — the adversarial mega-bucket regime, which is
  `ngram_jaccard_pairs_capped`'s job, not a fair scaling baseline.)
- embeddings: vec_id offset by a multiple of 50 (lcm of the
  query/centroid strides) and each replica circularly dim-rotated —
  norms and intra-replica cosines preserved exactly, cross-replica
  cosines scrambled.
- region / nation: copied verbatim (broadcast dims).

Usage: python scripts/gen_scale_slice.py [k] [out_dir]
       (defaults: k=10 → "sf1", out=/tmp/hgn_scale/sf1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

SRC = "/root/testdata/sf0.1"


def _round10(m: int) -> int:
    """max+1 rounded up to a multiple of 10 (keeps key % 5 classes,
    hence the derived graph, intact per replica)."""
    return ((int(m) + 10) // 10) * 10


def _domain_pad(frames: list[tuple[DataFrame, str]]) -> int:
    """One pad per key DOMAIN: the max over every (table, column) that
    carries the key. FK alignment across replicas is then structural —
    with per-table pads it held only while the tables' maxima happened
    to coincide (TPC-H dbgen leaves every third customer orderless, so
    a regenerated testdata could break a per-table scheme silently)."""
    return _round10(
        max(int(df.agg(F.max(c)).first()[0]) for df, c in frames)
    )


def replicate_keyed(df: DataFrame, pads: dict[str, int], k: int) -> DataFrame:
    out = None
    for i in range(k):
        r = df
        for c, p in pads.items():
            r = r.withColumn(c, F.col(c) + F.lit(i * p))
        out = r if out is None else out.unionByName(r)
    return out


def replicate_documents(df: DataFrame, k: int) -> DataFrame:
    doc_pad = _round10(int(df.agg(F.max("doc_id")).first()[0]))
    out = None
    for i in range(k):
        r = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * doc_pad))
        if i > 0:
            # \x01 separator: cannot appear inside a space-split token,
            # so replica vocabularies are disjoint by construction.
            sfx = F.lit("\x01" + str(i))
            toks = F.filter(
                F.split(F.col("text"), " "), lambda t: t != F.lit("")
            )
            r = r.withColumn(
                "text", F.array_join(F.transform(toks, lambda t: F.concat(t, sfx)), " ")
            )
        r = r.withColumn("n_chars", F.length("text").cast("long"))
        out = r if out is None else out.unionByName(r)
    return out


def replicate_embeddings(df: DataFrame, k: int) -> DataFrame:
    """Replicate embeddings with vec_id offsets that are multiples of 50
    (QUERY_STRIDE, and a multiple of the stride-25 centroids earlier
    IVF variants used), so every replica contributes an isomorphic
    query population. Each replica's
    vectors are circularly dim-rotated by the replica index: norms and
    all INTRA-replica cosines are preserved exactly (the replica keeps
    sf0.1's similarity structure), while cross-replica cosines are
    scrambled — like a real corpus, more data means more distinct
    content, not k identical copies (verbatim replication would make
    every vector a k-way exact dup and semantic dedup trivially
    all-drop)."""
    m = df.agg(F.max("vec_id")).first()[0]
    pad = ((int(m) + 50) // 50) * 50
    out = None
    for i in range(k):
        r = df.withColumn("vec_id", F.col("vec_id") + F.lit(i * pad))
        if i > 0:
            n = F.size("embedding")
            r = r.withColumn(
                "embedding",
                F.concat(
                    F.slice(F.col("embedding"), F.lit(i % 64) + 1, n),
                    F.slice(F.col("embedding"), 1, F.lit(i % 64)),
                ),
            )
        if (i // 64) % 2 == 1:
            # k > 64 wraps the 64-dim rotation (replica 64 would equal
            # replica 0 verbatim — fake k-way exact dups). Negating
            # every wrapped replica keeps norms and intra-replica
            # cosines bit-exact (sign flips are exact in FP) while
            # cross-wrap cosines flip sign — distinct content up to
            # k = 128 (the 100x slice needs 100).
            r = r.withColumn(
                "embedding", F.transform(F.col("embedding"), lambda x: -x)
            )
        out = r if out is None else out.unionByName(r)
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/hgn_scale/sf1"
    os.makedirs(out_dir, exist_ok=True)

    from hgn_spark.session import get_spark

    spark = get_spark(app_name="gen_scale_slice")

    def read(t: str) -> DataFrame:
        return spark.read.parquet(f"{SRC}/{t}.parquet")

    li, orders, part, supp, cust, events = (
        read("lineitem"), read("orders"), read("part"),
        read("supplier"), read("customer"), read("events"),
    )
    custkey = _domain_pad([(cust, "c_custkey"), (orders, "o_custkey")])
    orderkey = _domain_pad([(orders, "o_orderkey"), (li, "l_orderkey")])
    partkey = _domain_pad([(part, "p_partkey"), (li, "l_partkey")])
    suppkey = _domain_pad([(supp, "s_suppkey"), (li, "l_suppkey")])
    p_size = _domain_pad([(part, "p_size")])
    event_id = _domain_pad([(events, "event_id")])
    user_id = _domain_pad([(events, "user_id")])

    plans = {
        "lineitem": lambda: replicate_keyed(
            li,
            {"l_orderkey": orderkey, "l_partkey": partkey, "l_suppkey": suppkey},
            k,
        ),
        "orders": lambda: replicate_keyed(
            orders, {"o_orderkey": orderkey, "o_custkey": custkey}, k
        ),
        "part": lambda: replicate_keyed(
            part, {"p_partkey": partkey, "p_size": p_size}, k
        ),
        "supplier": lambda: replicate_keyed(supp, {"s_suppkey": suppkey}, k),
        "customer": lambda: replicate_keyed(cust, {"c_custkey": custkey}, k),
        "documents": lambda: replicate_documents(read("documents"), k),
        "events": lambda: replicate_keyed(
            events, {"event_id": event_id, "user_id": user_id}, k
        ),
        "region": lambda: read("region"),
        "nation": lambda: read("nation"),
        "embeddings": lambda: replicate_embeddings(read("embeddings"), k),
    }
    for t, fn in plans.items():
        fn().write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: written", flush=True)
    print(f"scale slice k={k} at {out_dir}")


if __name__ == "__main__":
    main()
