"""Relational operator surface (SURVEY.md §2.2-§2.7).

Covers every projection/filter/join/aggregation/set-op/scalar-function
class the reference executes, re-expressed as declarative DataFrame
plans so Catalyst does pushdown, pruning, join selection and AQE.

Reference parity notes (file:line into /root/reference):
- selects/filters:    graph_tools/graph_tools.py:343-367, main.py:136-137
- joins (inner/right/full/semi/anti): graph_tools/graph_tools.py:51-61,
  360, 465-483, 533-538; main.py:201-205
- aggregations incl. conditional ratio: graph_tools/graph_tools.py:270-286,
  354-357, 512-516, 531-532
- unions: graph_tools/graph_tools.py:126,349-350; spark_manager.py:370-409
- explode/collect_set/coalesce: graph_tools/graph_tools.py:142-145,355,363
The window/sort/set-op/json/date operators beyond the reference are the
engine-extension surface (SURVEY.md §2.5/§2.7 "not present" rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hgn_spark.catalog import load_table
from hgn_spark.registry import register

# ---------------------------------------------------------------------------
# M0 flagship: join + filter + conditional agg across 4 tables.
# ---------------------------------------------------------------------------


@register(
    "flagship_revenue_by_nation",
    # Revenue is summed as DECIMAL on both sides: a double sum depends on
    # the order of its additions, which varies with the partitioning,
    # and when a nation's total lands on a half cent the round(…, 2)
    # flips by a cent. Prices and discounts are stored as doubles that
    # hold 2-decimal values, so the DECIMAL(15,2) casts are exact, and
    # so is the sum; the rounded total is cast back to double.
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(15, 2))
                 * (1 - CAST(l_discount AS DECIMAL(15, 2)))) AS rev,
             sum(l_quantity) AS qty,
             count(*) AS n_items
      FROM lineitem GROUP BY l_orderkey)
    SELECT n.n_name AS nation,
           CAST(round(sum(p.rev), 2) AS DOUBLE) AS revenue,
           count(*) AS n_orders,
           round(sum(p.qty) / sum(p.n_items), 4) AS avg_qty
    FROM per_order p
    JOIN orders o   ON o.o_orderkey = p.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderstatus <> 'X'
    GROUP BY n.n_name
    """,
    tags=("join", "agg", "flagship"),
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per customer nation: 3 fact/dim joins + grouped aggregates.

    Aggregate-below-join: lineitem is pre-aggregated per order on the
    SAME key the join shuffles on, so the join input shrinks from one
    row per lineitem to one per order and the distinct-count becomes a
    plain count (one row per surviving order) — no expand pass, one
    less wide aggregation (measured 2x faster, exact same output).
    nation (25 rows) is broadcast explicitly, customer by AQE.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "X")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(15,2)")
            * (1 - F.col("l_discount").cast("decimal(15,2)"))
        ).alias("rev"),
        F.sum("l_quantity").alias("qty"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("qty") / F.sum("n_items"), 4).alias("avg_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Scans / projections / filters
# ---------------------------------------------------------------------------


# One projection, five IO paths: every `io` branch must reproduce the
# SAME rows, so the oracle is the base SELECT replayed per label — a
# branch only hash-matches if its write→read round trip is lossless
# and its persistence op is semantically a no-op. This is what turns
# the sink/checkpoint/view plumbing (SURVEY S1/S3, S5, S6, C6) from
# pytest-tier into driver-hash evidence (r9).
_SCAN_IO_SQL = """
    SELECT '{io}' AS io, l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45"""
_SCAN_IO_BRANCHES = (
    "parquet", "csv_roundtrip", "checkpoint_reload", "append_dedupe",
    "sql_view", "jdbc_roundtrip", "config_driven",
)



@register(
    "scan_projection_pushdown",
    # The csv_partitioned branch reads back ONE hive partition of the
    # S7-style partitioned sink, so its oracle twin filters the same
    # base SELECT to that partition value. The pandas_roundtrip branch
    # (r10 — the S8 evidence upgrade) round-trips a deterministic
    # subset chosen to sit under to_pandas_sample's 10k row cap at
    # both driver scales (mod-29 keeps it ~4.3k rows at sf0.1), so
    # the capped hatch's limit() is a no-op and the branch is exact.
    oracle=" UNION ALL ".join(
        [_SCAN_IO_SQL.format(io=b) for b in _SCAN_IO_BRANCHES]
        + [_SCAN_IO_SQL.format(io="csv_partitioned") + " AND l_linenumber = 1"]
        + [_SCAN_IO_SQL.format(io="pandas_roundtrip") + " AND l_orderkey % 29 = 0"]
    ),
    tags=("scan", "filter", "sink"),
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IO-round-trip composite row: a pushed-down parquet scan PLUS the
    IO/persistence plumbing as labeled `io` branches over the SAME
    result set (the r9 evidence upgrade — every branch must
    hash-match the identical oracle rows). Bench readers note: most of
    this row's wall time is the seven disk/DB round trips, not the
    scan — the scan-pushdown plan assertions live in tests.

    - 'parquet': the base scan. `.explain` shows PushedFilters:
      [LessThan(l_shipdate,...), GreaterThan(l_quantity,45)] and a
      4-column ReadSchema (plan-asserted in tests);
    - 'csv_roundtrip' (S1+S3): distributed CSV write (no
      repartition(1)) then re-read with a DECLARED schema — no
      inference pass; proves the text round trip is lossless
      (Spark's double formatter round-trips);
    - 'checkpoint_reload' (S5): the result through `checkpoint_df`'s
      durable parquet round trip — the reference's per-step
      reload_df semantics (spark_manager.py:215-231);
    - 'append_dedupe' (S6): the result appended TWICE (second append
      an overlapping subset) into `append_dedupe_reload`'s
      accumulator — the dedupe must cancel the duplicate append
      exactly (spark_manager.py:192-213 parity);
    - 'sql_view' (C6): the same query through a temp view +
      `spark.sql` — the SQL surface over the catalog;
    - 'jdbc_roundtrip' (S11): batched write into embedded Derby, then
      the PARTITIONED parallel read back (range-sliced queries on
      l_orderkey) — the reference's per-row-INSERT datastore path,
      re-expressed and driver-hashed;
    - 'config_driven' (S12): the same predicate parameters loaded
      from a YAML config with !ENV substitution + jsonschema
      validation — the query is built FROM the parsed config, so a
      substitution or validation bug cannot hash-match;
    - 'pandas_roundtrip' (S8): a deterministic mod-29 subset through
      the row-capped toPandas hatch and back — exact because the
      subset sits under the cap, so limit() is a no-op;
    - 'csv_partitioned' (S7): hive-partitioned CSV sink
      (partitionBy(l_linenumber), the distributed community-sink
      shape) read back with a partition filter — the branch emits
      only partition l_linenumber=1, and the read plans a
      PartitionFilters prune (asserted in tests), so the sink layout
      AND the pruned read are both hash-proven.
    """
    from hgn_spark.sources.sinks import (
        append_dedupe_reload,
        checkpoint_df,
        ephemeral_io_dir,
        to_pandas_sample,
        write_table,
    )

    base = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") < "1997-01-01") & (F.col("l_quantity") > 45))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )

    def lab(df: DataFrame, io: str) -> DataFrame:
        return df.select(
            F.lit(io).alias("io"), "l_orderkey", "l_linenumber", "price"
        )

    tmp = ephemeral_io_dir(spark, "scan")

    # r14 OPTIMIZATION (guide §2.6 — overlap independent jobs): the
    # seven round trips below are mutually independent (each derives
    # from `base` and touches its own path/db/table), but were run
    # sequentially — ~3.3 s of construction in which each blocking
    # write/read leaves the cluster idle during the next one's driver
    # round-trip. A small thread pool overlaps them; per-chain
    # ORDERING (e.g. the two appends into one accumulator) is kept
    # inside its chain. Results are unchanged: every chain is a
    # deterministic function of `base` and its own sink.
    from concurrent.futures import ThreadPoolExecutor

    def _chain_csv():
        # S1+S3: distributed CSV write, declared-schema read (inference
        # would cost a second full pass at 100 TB).
        csv_path = os.path.join(tmp, "csv")
        base.write.mode("overwrite").option("header", True).csv(csv_path)
        return spark.read.schema(
            "l_orderkey bigint, l_linenumber bigint, price double"
        ).option("header", True).csv(csv_path)

    def _chain_ckpt():
        # S5: durable checkpoint (parquet round trip + reload).
        return checkpoint_df(base, durable_path=os.path.join(tmp, "ckpt"))

    def _chain_append():
        # S6: append the full result, then append an overlapping
        # subset — the reload must dedupe the overlap away
        # ((l_orderkey, l_linenumber) is the lineitem PK, so duplicate
        # ROWS are exact). Sequential WITHIN the chain by contract.
        acc = os.path.join(tmp, "acc")
        append_dedupe_reload(base, acc)
        return append_dedupe_reload(base.filter(F.col("price") > 10000), acc)

    # C6: temp view + SQL string. spark.sql analyzes eagerly (the
    # returned frame's plan is view-resolved), so the view can be
    # dropped right after instead of polluting the session catalog.
    base.createOrReplaceTempView("hgn_scan_io_base")
    sql_back = spark.sql(
        "SELECT l_orderkey, l_linenumber, price FROM hgn_scan_io_base"
    )
    spark.catalog.dropTempView("hgn_scan_io_base")

    def _chain_jdbc():
        # S11: embedded-Derby round trip — batched write, then the
        # range-partitioned parallel read (8 sliced queries; slices
        # outside the bounds land in the edge partitions, so loose
        # bounds stay correct). Derby folds unquoted identifiers to
        # upper case; the positional toDF restores the declared names.
        from hgn_spark.sources.jdbc import read_jdbc, write_jdbc

        derby_props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        # Drop any previous invocation's in-memory db before
        # recreating — bounds per-JVM Derby state to one fresh table
        # (VERDICT r9 #4). Derby signals a successful in-memory drop
        # via SQLException 08006, so the call ALWAYS raises;
        # first-invocation "db does not exist" lands in the same
        # except.
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                "jdbc:derby:memory:hgn_scan_io;drop=true"
            )
        except Exception:  # noqa: BLE001 — drop-success and no-db both raise
            pass
        jdbc_url = "jdbc:derby:memory:hgn_scan_io;create=true"
        write_jdbc(
            base, jdbc_url, "scan_io", mode="overwrite", properties=derby_props
        )
        return read_jdbc(
            spark,
            jdbc_url,
            "scan_io",
            properties=derby_props,
            partition_column="l_orderkey",
            lower_bound=0,
            upper_bound=6_100_000,
            num_partitions=8,
        ).toDF("l_orderkey", "l_linenumber", "price")

    # S12: the predicate parameters arrive via the YAML config layer —
    # !ENV substitution + jsonschema validation — and the branch's
    # query is built from the PARSED values, so the branch only
    # hash-matches if the config layer round-trips them faithfully.
    import os as _os

    from hgn_spark.config import load_config

    # Namespaced and restored after load_config (the only consumer) —
    # the r9 version mutated the process env permanently (ADVICE r9);
    # try/finally so a YAML-write or load_config failure can't leak it
    # either (ADVICE r10).
    _prev_qty = _os.environ.get("HGN_SCAN_IO_QTY")
    _os.environ["HGN_SCAN_IO_QTY"] = "45"
    try:
        conf_path = os.path.join(tmp, "scan_io.yml")
        with open(conf_path, "w", encoding="utf-8") as fh:
            fh.write(
                "query:\n"
                "  ship_before: '1997-01-01'\n"
                "  min_qty: !ENV ${HGN_SCAN_IO_QTY}\n"
            )
        schema = {
            "type": "object",
            "required": ["query"],
            "properties": {
                "query": {
                    "type": "object",
                    "required": ["ship_before", "min_qty"],
                    "properties": {
                        "ship_before": {"type": "string"},
                        "min_qty": {"type": "string", "pattern": "^[0-9]+$"},
                    },
                }
            },
        }
        qconf = load_config(conf_path, schema)["query"]
    finally:
        if _prev_qty is None:
            del _os.environ["HGN_SCAN_IO_QTY"]
        else:
            _os.environ["HGN_SCAN_IO_QTY"] = _prev_qty
    conf_back = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") < qconf["ship_before"])
            & (F.col("l_quantity") > int(qconf["min_qty"]))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )

    def _chain_csv_part():
        # S7: hive-partitioned CSV layout (the distributed
        # community-sink shape: one directory per partition value, no
        # driver collect), read back pruned to one partition. The
        # declared schema lists the FILE columns positionally and the
        # partition column by name.
        part_path = os.path.join(tmp, "csv_part")
        base.write.mode("overwrite").partitionBy("l_linenumber").option(
            "header", True
        ).csv(part_path)
        return (
            spark.read.schema("l_orderkey bigint, price double, l_linenumber bigint")
            .option("header", True)
            .csv(part_path)
            .filter(F.col("l_linenumber") == 1)
            .select("l_orderkey", "l_linenumber", "price")
        )

    def _chain_pandas():
        # S8: the row-capped collect-to-pandas hatch, driver-hashed
        # (r10). The mod-29 subset stays under the 10k cap at every
        # driver scale, so the hatch's limit() passes ALL rows and a
        # lossy pandas-boundary conversion (dtype coercion,
        # truncation) is the only way the branch can diverge from its
        # oracle twin. The schema is passed because an empty subset
        # leaves pandas nothing to infer it from.
        pan = base.filter(F.col("l_orderkey") % 29 == 0)
        return spark.createDataFrame(to_pandas_sample(pan), schema=pan.schema)

    with ThreadPoolExecutor(max_workers=6) as pool:
        f_csv = pool.submit(_chain_csv)
        f_ckpt = pool.submit(_chain_ckpt)
        f_append = pool.submit(_chain_append)
        f_jdbc = pool.submit(_chain_jdbc)
        f_csv_part = pool.submit(_chain_csv_part)
        f_pandas = pool.submit(_chain_pandas)
        csv_back = f_csv.result()
        ckpt_back = f_ckpt.result()
        dedup_back = f_append.result()
        jdbc_back = f_jdbc.result()
        part_back = f_csv_part.result()
        pan_back = f_pandas.result()

    out = lab(base, "parquet")
    for io, df in (
        ("csv_roundtrip", csv_back),
        ("checkpoint_reload", ckpt_back),
        ("append_dedupe", dedup_back),
        ("sql_view", sql_back),
        ("jdbc_roundtrip", jdbc_back),
        ("config_driven", conf_back),
        ("csv_partitioned", part_back),
        ("pandas_roundtrip", pan_back),
    ):
        out = out.unionByName(lab(df, io))
    return out


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT 'pricing' AS branch, l_returnflag AS k1, l_linestatus AS k2,
           round(sum(l_quantity), 2) AS v1,
           round(sum(l_extendedprice), 2) AS v2,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS v3,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS v4,
           round(avg(l_quantity), 4) AS v5,
           round(avg(l_extendedprice), 4) AS v6,
           round(avg(l_discount), 4) AS v7,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT 'pctl' AS branch, c_mktsegment AS k1, CAST(NULL AS VARCHAR) AS k2,
           round(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                          THEN c_acctbal END), 4) AS v1,
           round(max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                          THEN c_acctbal END), 4) AS v2,
           round(avg(c_acctbal), 4) AS v3,
           CAST(NULL AS DOUBLE) AS v4, CAST(NULL AS DOUBLE) AS v5,
           CAST(NULL AS DOUBLE) AS v6, CAST(NULL AS DOUBLE) AS v7,
           CAST(NULL AS BIGINT) AS n
    FROM (
      SELECT c_mktsegment, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer)
    GROUP BY c_mktsegment
    """,
    tags=("agg", "percentile"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two labeled branches in one driver row (window-consolidation
    policy, see setops_family):

    - ``pricing``: TPC-H Q1-style wide aggregate — partial aggregation
      map-side, one shuffle;
    - ``pctl``: nearest-rank percentiles by segment (formerly the
      standalone `percentiles_by_segment` row; merged to free an oracle
      slot for the unrolled LPA oracle).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pricing = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("v1"),
            F.round(F.sum("l_extendedprice"), 2).alias("v2"),
            F.round(F.sum(disc), 2).alias("v3"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("v4"),
            F.round(F.avg("l_quantity"), 4).alias("v5"),
            F.round(F.avg("l_extendedprice"), 4).alias("v6"),
            F.round(F.avg("l_discount"), 4).alias("v7"),
            F.count("*").alias("n"),
        )
        .select(
            F.lit("pricing").alias("branch"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "v1", "v2", "v3", "v4", "v5", "v6", "v7", "n",
        )
    )
    pctl = percentiles_by_segment(spark, sf_dir).select(
        F.lit("pctl").alias("branch"),
        F.col("c_mktsegment").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("p50").alias("v1"),
        F.col("p90").alias("v2"),
        F.col("mean_bal").alias("v3"),
        F.lit(None).cast("double").alias("v4"),
        F.lit(None).cast("double").alias("v5"),
        F.lit(None).cast("double").alias("v6"),
        F.lit(None).cast("double").alias("v7"),
        F.lit(None).cast("long").alias("n"),
    )
    return pricing.unionByName(pctl)


def conditional_ratio_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(when)/count ratio — the reference's edge-weight aggregate shape
    (graph_tools/graph_tools.py:512-516). Driver evidence rides as the
    'cond_ratio' branch of `agg_rollup_pivot` (merged r7 to free an
    oracle slot in the 50-query window for the unrolled k-core
    oracle)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.count(F.when(F.col("l_discount") > 0.05, 1)) / F.count(F.lit(1)), 4
            ).alias("high_disc_ratio")
        )
    )


def percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-rank percentiles via window rank, not `percentile()`.

    Driver evidence rides as the 'pctl' branch of `pricing_summary`
    (merged to free an oracle slot in the 50-query window for the
    unrolled LPA oracle).

    `percentile()` buffers every group value in one aggregation buffer —
    a per-task memory bomb with ~5 segments at 100 TB (VERDICT r1). The
    window formulation sorts within the shuffle (spillable) and keeps a
    single scalar per row; the same definition runs on the DuckDB side,
    so the comparison is exact, not tolerance-based.
    """
    ranked = (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_acctbal", "c_custkey")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
            ),
        )
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("c_mktsegment")))
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.round(
            F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("c_acctbal"))), 4
        ).alias("p50"),
        F.round(
            F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("c_acctbal"))), 4
        ).alias("p90"),
        F.round(F.avg("c_acctbal"), 4).alias("mean_bal"),
    )


@register(
    "agg_rollup_pivot",
    oracle="""
    WITH ro AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             count(*) AS n_customers,
             round(sum(c.c_acctbal), 2) AS total_bal
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY ROLLUP (r.r_name, n.n_name)),
    pv AS (
      SELECT o_orderpriority,
             count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
             count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
             count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
      FROM orders GROUP BY o_orderpriority)
    SELECT 'rollup' AS op, region AS dim1, nation AS dim2,
           n_customers AS n, total_bal AS total FROM ro
    UNION ALL
    SELECT 'pivot', o_orderpriority, 'status_O', status_O,
           CAST(NULL AS DOUBLE) FROM pv
    UNION ALL
    SELECT 'pivot', o_orderpriority, 'status_F', status_F,
           CAST(NULL AS DOUBLE) FROM pv
    UNION ALL
    SELECT 'pivot', o_orderpriority, 'status_P', status_P,
           CAST(NULL AS DOUBLE) FROM pv
    UNION ALL
    SELECT 'cond_ratio', CAST(l_orderkey AS VARCHAR), NULL, CAST(NULL AS BIGINT),
           round(count(CASE WHEN l_discount > 0.05 THEN 1 END) * 1.0 / count(*), 4)
    FROM lineitem GROUP BY l_orderkey
    """,
    tags=("agg", "rollup", "pivot", "unpivot"),
)
def agg_rollup_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both grouping shapes in one labeled driver row (consolidated per
    VERDICT r3 so the 50-query window keeps room for the rows-only
    flagship entries):

    - ``rollup``: hierarchical region → nation → grand-total counts;
    - ``pivot``: orders pivoted to a fixed wide value list (no extra
      value-discovery pass), zero-filled, then unpivoted back to long
      form with ``stack`` — exercising pivot AND unpivot while keeping
      one harmonized output schema;
    - ``cond_ratio``: the per-order conditional count(when)/count ratio
      (conditional_ratio_agg, merged r7), ratio carried in ``total``.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    ro = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "c_acctbal")
        .rollup("region", "nation")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .select(
            F.lit("rollup").alias("op"),
            F.col("region").alias("dim1"),
            F.col("nation").alias("dim2"),
            F.col("n_customers").alias("n"),
            F.col("total_bal").alias("total"),
        )
    )
    pv = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            F.lit("pivot").alias("op"),
            F.col("o_orderpriority").alias("dim1"),
            F.expr(
                "stack(3, 'status_O', coalesce(`O`, 0L), 'status_F', coalesce(`F`, 0L), "
                "'status_P', coalesce(`P`, 0L))"
            ).alias("dim2", "n"),
            F.lit(None).cast("double").alias("total"),
        )
    )
    cr = conditional_ratio_agg(spark, sf_dir).select(
        F.lit("cond_ratio").alias("op"),
        F.col("l_orderkey").cast("string").alias("dim1"),
        F.lit(None).cast("string").alias("dim2"),
        F.lit(None).cast("long").alias("n"),
        F.col("high_disc_ratio").alias("total"),
    )
    return ro.unionByName(pv).unionByName(cr)


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    *,
    strict: bool = False,
) -> DataFrame:
    """Merge-asof: attach to every left row the LATEST right row of the
    same key with ``right_ts <= left_ts`` (``<`` when ``strict``); left
    rows with no earlier right row keep nulls (left-outer semantics).

    Plan: tag both sides, union, and take ``last(payload) ignorenulls``
    over a per-key window ordered by (ts, tag) — ONE hash shuffle on the
    key and a partition-local sort, exactly the merge-asof plan kdb/
    Flink/pandas use. The naive alternative (range join ``r.ts <= l.ts``
    then per-left-row argmax) materializes |left| x |earlier-right-rows|
    pairs per key before pruning — quadratic per key, a scale-killer at
    100 TB. Here the intermediate is |left| + |right| rows, always.

    The equal-ts tie is resolved by the tag's sort position (right rows
    sort before left rows for inclusive, after for strict), so the
    window never needs to look ahead. Skewed keys cost what any per-key
    window costs; AQE cannot split a single window partition, so a hot
    key is the caller's salting decision. Right rows must be unique per
    (key, ts) — pre-aggregate the right side — otherwise which same-ts
    payload wins is tie-ambiguous.

    Returns all left columns plus right's non-key columns (including
    ``right_ts``). The reference has no as-of operator; this is part of
    the engine-extension surface (SURVEY.md §2.3 ext)."""
    ltag, rtag = (0, 1) if strict else (1, 0)
    rpayload = [c for c in right.columns if c != on]
    l2 = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(ltag).alias("__tag"),
        F.struct(*left.columns).alias("__left"),
    )
    r2 = (
        right.filter(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
        .select(
            F.col(on).alias("__k"),
            F.col(right_ts).alias("__t"),
            F.lit(rtag).alias("__tag"),
            F.struct(*rpayload).alias("__right"),
        )
    )
    w = (
        W.partitionBy("__k")
        .orderBy("__t", "__tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        l2.unionByName(r2, allowMissingColumns=True)
        .withColumn("__m", F.last("__right", ignorenulls=True).over(w))
        .filter(F.col("__tag") == ltag)
        .select(
            *[F.col("__left")[c].alias(c) for c in left.columns],
            *[F.col("__m")[c].alias(c) for c in rpayload],
        )
    )


@register(
    "join_asof_prev_order",
    # DuckDB's native ASOF LEFT JOIN is the oracle; strict inequality
    # (o_orderdate > d) matches strict=True on the Spark side. Nullable
    # no-match outputs are coalesced to sentinels on BOTH sides so the
    # dtype families stay (int, double, datetime) instead of drifting
    # to all-float under pandas null promotion.
    oracle="""
    WITH day AS (SELECT o_custkey, o_orderdate AS d,
                        round(sum(o_totalprice), 2) AS day_spend,
                        count(*) AS day_orders
                 FROM orders GROUP BY 1, 2)
    SELECT o.o_orderkey,
           coalesce(d.d, TIMESTAMP '1970-01-01') AS prev_date,
           coalesce(d.day_spend, 0.0) AS prev_day_spend,
           coalesce(d.day_orders, 0) AS prev_day_orders,
           coalesce(date_diff('day', d.d, o.o_orderdate), -1) AS gap_days
    FROM orders o ASOF LEFT JOIN day d
      ON o.o_custkey = d.o_custkey AND o.o_orderdate > d.d
    """,
    tags=("join", "asof"),
)
def join_asof_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order temporal feature: the customer's previous order day
    (spend, order count, gap in days) via a strict as-of self-join —
    the 'time since last event' pattern every training-data pipeline
    needs. First orders keep sentinel values (epoch / 0 / -1)."""
    orders = load_table(spark, sf_dir, "orders")
    day = orders.groupBy("o_custkey", F.col("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("day_spend"),
        F.count(F.lit(1)).alias("day_orders"),
    )
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    j = asof_join(left, day, "o_custkey", "o_orderdate", "d", strict=True)
    return j.select(
        "o_orderkey",
        F.coalesce("d", F.lit("1970-01-01").cast("timestamp")).alias("prev_date"),
        F.coalesce("day_spend", F.lit(0.0)).alias("prev_day_spend"),
        F.coalesce("day_orders", F.lit(0).cast("long")).alias("prev_day_orders"),
        F.coalesce(F.datediff("o_orderdate", "d"), F.lit(-1)).alias("gap_days"),
    )


@register(
    "join_outer_variants",
    oracle="""
    WITH cust AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                  FROM customer GROUP BY c_nationkey),
         supp AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                  FROM supplier GROUP BY s_nationkey)
    SELECT 'full_outer' AS op,
           CAST(coalesce(cust.nk, supp.nk) AS BIGINT) AS key,
           coalesce(n_cust, 0) AS m1,
           CAST(coalesce(n_supp, 0) AS DOUBLE) AS m2
    FROM cust FULL OUTER JOIN supp ON cust.nk = supp.nk
    UNION ALL
    SELECT 'right_outer' AS op,
           CAST(c.c_nationkey AS BIGINT) AS key,
           count(o.o_orderkey) AS m1,
           CAST(count(DISTINCT c.c_custkey) AS DOUBLE) AS m2
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    UNION ALL
    SELECT 'left_outer' AS op,
           CAST(c.c_custkey AS BIGINT) AS key,
           count(o.o_orderkey) AS m1,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS m2
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("join",),
)
def join_outer_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every outer-join orientation, labeled per variant: full-outer —
    the reference's isolated-vertex pattern (graph_tools/
    graph_tools.py:360: neighbors FULL JOIN vertices); right-outer
    (reference J7/J8, graph_tools/graph_tools.py:465-483); left-outer
    with null-aware aggregation (customers with zero orders kept,
    spend coalesced to 0). Common schema (op, key, m1, m2)."""
    # r15 (guide §2.3/§7.2): all three branches are functions of ONE
    # customer⟕orders per-customer aggregate — the right-outer branch
    # is the same join seen from the other side (a right join keeps
    # exactly the customer rows the left join keeps), its nation-level
    # count(o_orderkey) is the sum of per-customer counts and its
    # countDistinct(c_custkey) the number of per-customer rows; the
    # full-outer branch's customers-per-nation likewise. Compute the
    # per-customer frame once (c_custkey is the customer PK, so adding
    # c_nationkey to its group keys changes nothing), checkpoint the
    # ~|customer|-row result, and derive every branch from it: customer
    # and orders are each scanned ONCE (was 3x and 2x).
    from hgn_spark.checkpoint import loose_local_checkpoint

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = loose_local_checkpoint(
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.count("o_orderkey").alias("n_ord"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "spend"
            ),
        ),
        eager=False,
    )
    cust = per_cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    full = cust.join(supp, "nk", "full").select(
        F.lit("full_outer").alias("op"),
        F.col("nk").cast("long").alias("key"),
        F.coalesce("n_cust", F.lit(0)).alias("m1"),
        F.coalesce("n_supp", F.lit(0)).cast("double").alias("m2"),
    )
    right = (
        per_cust.groupBy("c_nationkey")
        .agg(
            F.sum("n_ord").alias("m1"),
            F.count(F.lit(1)).cast("double").alias("m2"),
        )
        .select(
            F.lit("right_outer").alias("op"),
            F.col("c_nationkey").cast("long").alias("key"),
            "m1",
            "m2",
        )
    )
    left = per_cust.select(
        F.lit("left_outer").alias("op"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("n_ord").alias("m1"),
        F.col("spend").alias("m2"),
    )
    return full.unionByName(right).unionByName(left)


@register(
    "join_semi_anti",
    oracle="""
    SELECT 'semi' AS op, CAST(n_nationkey AS BIGINT) AS key, n_name AS name
    FROM nation n
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000)
    UNION ALL
    SELECT 'anti' AS op, CAST(c_custkey AS BIGINT) AS key, c_name AS name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (reference component filter, graph_tools.py:533-538)
    unioned with a left-anti join (reference edge-deletion,
    main.py:201-205), labeled per variant."""
    n = load_table(spark, sf_dir, "nation")
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    semi = (
        n.join(rich, n.n_nationkey == rich.c_nationkey, "left_semi")
        .select(
            F.lit("semi").alias("op"),
            F.col("n_nationkey").cast("long").alias("key"),
            F.col("n_name").alias("name"),
        )
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(
            F.lit("anti").alias("op"),
            F.col("c_custkey").cast("long").alias("key"),
            F.col("c_name").alias("name"),
        )
    )
    return semi.unionByName(anti)


@register(
    "join_theta_multikey",
    oracle="""
    SELECT 'range_same_size' AS op, CAST(p.p_partkey AS BIGINT) AS key,
           count(*) AS n
    FROM part p
    JOIN part q ON q.p_size = p.p_size AND q.p_retailprice < p.p_retailprice
    GROUP BY p.p_partkey
    UNION ALL
    SELECT 'multikey_pairs' AS op, CAST(a.l_partkey AS BIGINT) AS key,
           count(*) AS n
    FROM lineitem a JOIN lineitem b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey
     AND a.l_returnflag = b.l_returnflag AND a.l_linestatus = b.l_linestatus
     AND a.l_quantity = b.l_quantity AND a.l_orderkey < b.l_orderkey
    GROUP BY a.l_partkey
    """,
    tags=("join", "extension"),
)
def join_theta_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+range hybrid join (theta joins are a reference gap, SURVEY
    §2.3) unioned with a 5-key conjunction self-join (reference J9,
    graph_tools.py:493-508), labeled per variant.

    In both branches the equi keys drive one shuffle and the inequality
    evaluates post-shuffle — the scalable shape for mixed conditions.
    Multikey equality is exact on both engines because every key is a
    stored column (no computed floats — the reference's float-equality
    hazard, SURVEY §8.5, doesn't apply).
    """
    # r15 (VERDICT r14 #7, guide §1.2 step 1 — fix the algorithm, not
    # the operator): both branches are self-joins whose per-row match
    # count is pure RANK arithmetic over the equi-key partition, so a
    # window replaces each join outright. rank() = 1 + |rows strictly
    # before| (ties share), hence:
    #   range_same_size: |q in same size with q_price < p_price|
    #     = rank(price asc) - 1 per size partition;
    #   multikey_pairs:  |b in same 5-key group with b_orderkey >
    #     a_orderkey| = rank(orderkey desc) - 1, summed per partkey.
    # Rows the inner join produced no match for (n = 0) are filtered,
    # matching the join's absence. One exchange per branch instead of
    # two sides + the quadratic join output (the size key has a FIXED
    # ~50 distinct values, so the join blows up as (n/50)² at scale;
    # the window is n log n per partition). Oracle unchanged — same
    # counts, hash-checked.
    # range_same_size additionally avoids shuffling `part` at all: the
    # count of strictly-cheaper same-size rows is a function of
    # (p_size, p_retailprice) only, so a (size, price) HISTOGRAM (tiny
    # — map-side partial agg, then a cumulative sum within each size)
    # broadcast-joins back onto the scan. `part`'s p_size has ~50 fixed
    # distinct values, so a rank() window (or the old join) over it
    # caps at 50-way parallelism; only the histogram rows pass through
    # that bottleneck here (guide §2.3 "shuffle keys and metadata
    # instead of payloads").
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    hist = (
        p.groupBy("p_size", "p_retailprice")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "n",
            F.coalesce(
                F.sum("c").over(
                    W.partitionBy("p_size")
                    .orderBy("p_retailprice")
                    .rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select("p_size", "p_retailprice", "n")
    )
    theta = (
        p.join(F.broadcast(hist), ["p_size", "p_retailprice"])
        .filter(F.col("n") > 0)
        .select(
            F.lit("range_same_size").alias("op"),
            F.col("p_partkey").cast("long").alias("key"),
            "n",
        )
    )
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus", "l_quantity"]
    a = load_table(spark, sf_dir, "lineitem").select(cols)
    multikey = (
        a.withColumn(
            "m",
            F.rank().over(
                W.partitionBy(
                    "l_partkey",
                    "l_suppkey",
                    "l_returnflag",
                    "l_linestatus",
                    "l_quantity",
                ).orderBy(F.col("l_orderkey").desc())
            )
            - 1,
        )
        .groupBy("l_partkey")
        .agg(F.sum("m").alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit("multikey_pairs").alias("op"),
            F.col("l_partkey").cast("long").alias("key"),
            "n",
        )
    )
    return theta.unionByName(multikey)


# approx_percentile sketch accuracy for sketch_accuracy_report; the
# exact-percentile bracket margin below is sized against its 1/acc
# rank-error guarantee.
_PCTL_ACC = 10000
# Bracket half-width in quantile space: 50x the sketch's guaranteed
# rank error (1/_PCTL_ACC), so the true neighbors of the target rank
# provably fall inside [lo, hi] for any n >= ~205; the n < 1000
# fallback below covers everything smaller by sorting the whole column
# (trivial at that size).
_PCTL_BRACKET = 0.005
_PCTL_SMALL_N = 1000


def _agg_with_exact_percentile(
    df: DataFrame,
    col: str,
    p: float,
    other_aggs: list,
    exact_name: str,
    approx_name: str,
) -> DataFrame:
    """One-row aggregate of ``other_aggs`` + approx_percentile + EXACT
    percentile(col, p), the exact value computed by bracket-and-sort
    instead of `percentile()` (VERDICT r14 #5, guide §5): Spark's exact
    Percentile is an ObjectHashAggregate that buffers every (value,
    count) in one in-memory map — the single declared-row aggregation
    with unbounded per-group state, measured locally as a GC-degenerate
    2.0-2.9 s drain with 4.8-40 s variance under pressure, and a
    straight OOM at 100 TB.

    The replacement runs three bounded passes over the (column-pruned)
    scan:
      1. the main aggregate, widened with a 3-quantile
         approx_percentile bracket [p-δ, p, p+δ] from the SAME sketch
         the approx metric already builds (so the approx value is
         bit-identical to before) plus count(col);
      2. k_below = count of values strictly below the bracket floor;
      3. a global sort of the bracketed SLIVER only (≈2δ·n rows; at
         n < _PCTL_SMALL_N the bracket widens to everything) ranked by
         row_number, from which the two neighbor ranks of
         position = p·(n-1) are picked.
    The interpolation mirrors Percentile.getPercentile exactly —
    (higher-position)·lowerKey + (position-lower)·higherKey in double,
    with the same lower==higher and lowerKey==higherKey short-circuits
    — so the result is bit-identical to percentile() (pinned by test).
    Nulls are ignored (count(col)) and an all-null/empty column yields
    NULL, both matching percentile().
    """
    from hgn_spark.checkpoint import loose_local_checkpoint

    v = F.col(col)
    plo = max(0.0, p - _PCTL_BRACKET)
    phi = min(1.0, p + _PCTL_BRACKET)
    agg1 = df.agg(
        *other_aggs,
        F.expr(
            f"approx_percentile({col}, array({plo!r}, {p!r}, {phi!r}), {_PCTL_ACC})"
        ).alias("_ap3"),
        F.count(v).alias("_n_v"),
    )
    # One row; referenced by the bracket bounds AND the final
    # projection, and Catalyst shares no subplans — materialize once.
    agg1 = loose_local_checkpoint(agg1)
    small = F.col("_n_v") < _PCTL_SMALL_N
    bounds = agg1.select(
        F.when(small, F.lit(float("-inf")))
        .otherwise(F.col("_ap3")[0])
        .alias("_lo"),
        F.when(small, F.lit(float("inf")))
        .otherwise(F.col("_ap3")[2])
        .alias("_hi"),
        F.col("_n_v").alias("_n"),
    )
    vals = (
        df.select(v.alias("_v"))
        .where(v.isNotNull())
        .crossJoin(F.broadcast(bounds))
    )
    below = vals.where(F.col("_v") < F.col("_lo")).agg(
        F.count(F.lit(1)).alias("_k_below")
    )
    position = F.lit(p) * (F.col("_n") - 1).cast("double")
    lower = F.floor(position)
    higher = F.ceil(position)
    rnk = (
        F.col("_k_below")
        + F.row_number().over(W.orderBy("_v"))
        - 1
    )
    sliver = (
        vals.where((F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi")))
        .crossJoin(F.broadcast(below))
        .withColumn("_rnk", rnk)
        .where((F.col("_rnk") == lower) | (F.col("_rnk") == higher))
        .agg(
            F.max(F.when(F.col("_rnk") == lower, F.col("_v"))).alias("_lower_key"),
            F.max(F.when(F.col("_rnk") == higher, F.col("_v"))).alias("_higher_key"),
        )
    )
    exact = (
        bounds.crossJoin(sliver)
        .select(
            F.when(higher == lower, F.col("_lower_key"))
            .when(F.col("_lower_key") == F.col("_higher_key"), F.col("_lower_key"))
            .otherwise(
                (higher.cast("double") - position) * F.col("_lower_key")
                + (position - lower.cast("double")) * F.col("_higher_key")
            )
            .alias(exact_name)
        )
    )
    return agg1.crossJoin(exact).select(
        *[c for c in agg1.columns if not c.startswith("_")],
        F.col(exact_name),
        F.col("_ap3")[1].alias(approx_name),
    )


@register("sketch_accuracy_report", oracle=None, tags=("agg", "sketch", "approx"))
def sketch_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates next to their exact values — the sketches
    a 100 TB engine actually runs when exact distinct counts or
    percentiles would shuffle the full key set: HyperLogLog++
    (approx_count_distinct) and the approximate-percentile sketch, each
    reported as (metric, exact, approx, rel_err) rows computed in ONE
    aggregation pass per table (sketch and exact side by side, so the
    error is audited by the query itself).

    Sketch results are implementation-defined (engine/HLL-register
    layout), so no DuckDB value-hash oracle can exist — rows-only by
    nature; the relative-error bounds are pinned in
    tests/test_oracle_parity.py's sibling (test_llm_ops): HLL++ at
    default rsd 0.05, percentile sketch at accuracy 10000.

    Scale shape: approx_count_distinct carries a fixed few-KB register
    set per group through map-side combine instead of shuffling every
    distinct key; approx_percentile likewise a bounded quantile sketch
    — both turn unbounded-state aggregations into constant-state ones.
    """
    e = load_table(spark, sf_dir, "events")
    ev = _agg_with_exact_percentile(
        e,
        "value",
        0.95,
        [
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        ],
        exact_name="exact_p95",
        approx_name="approx_p95",
    )
    li = _agg_with_exact_percentile(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        0.5,
        [
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
        ],
        exact_name="exact_med",
        approx_name="approx_med",
    )

    def rows(df: DataFrame, pairs: list[tuple[str, str, str]]) -> DataFrame:
        # r14 (guide §2.6): ONE inline(array(struct...)) over the 1-row
        # agg frame instead of a per-metric union — the union form
        # referenced `df` once per metric, and Catalyst shares no
        # subplans, so every metric arm re-scanned and re-aggregated the
        # base table (4 parquet scans for 4 rows). Same rows, same
        # order, half the scans/aggregations.
        def metric_struct(metric: str, ex: str, ap: str):
            return F.struct(
                F.lit(metric).alias("metric"),
                F.col(ex).cast("double").alias("exact"),
                F.col(ap).cast("double").alias("approx"),
                # Degenerate inputs get defined semantics instead of
                # NaN rows: a sketch that exactly matches a zero/null
                # exact value has error 0.0; one that DEVIATES from a
                # zero exact has no meaningful relative error and stays
                # null (reporting 0.0 there would claim perfect accuracy
                # precisely when the sketch is wrong).
                F.when(
                    F.abs(F.col(ex)) > 0,
                    F.round(F.abs(F.col(ap) - F.col(ex)) / F.abs(F.col(ex)), 6),
                )
                .when(F.col(ap).eqNullSafe(F.col(ex)), F.lit(0.0))
                .otherwise(F.lit(None).cast("double"))
                .alias("rel_err"),
            )

        return df.select(
            F.inline(F.array(*[metric_struct(*p) for p in pairs]))
        )

    return rows(
        ev,
        [
            ("events_distinct_users", "exact_users", "approx_users"),
            ("events_p95_value", "exact_p95", "approx_p95"),
        ],
    ).unionByName(
        rows(
            li,
            [
                ("lineitem_distinct_parts", "exact_parts", "approx_parts"),
                ("lineitem_median_price", "exact_med", "approx_med"),
            ],
        )
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    sample_rate_hex: str = "40000000",
    oversample: int = 4,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k most frequent values with BOUNDED shuffle: the
    sample-then-verify pattern a 100 TB engine uses when the key space
    is too large for a full groupBy count.

    Pass 1 counts only a deterministic md5-row-sample (first 32 bits of
    a per-row hash under ``sample_rate_hex`` ≈ 25% by default) — the
    shuffle carries sampled keys only — and keeps the top
    ``k * oversample`` candidates. Pass 2 exactly counts JUST the
    candidates via a broadcast semi-join filter pushed to the scan, so
    the final numbers are exact, not estimates. A true heavy hitter
    appears in the sample with overwhelming probability (frequency
    f → Binomial(f, rate) sample hits); oversampling absorbs
    borderline ranks. Deterministic end to end (hash sample + (count
    desc, value asc) tie-break) — no randomSplit/Math.random.

    The sample hash MUST distinguish duplicate occurrences of one key,
    or a key's rows sample all-or-none and a heavy hitter can vanish
    from the candidate set wholesale (P = 1 - rate per key). Pass
    ``id_cols`` naming a row-identity set (an event id, a
    (doc_id, position) pair, …) — the hash then covers key + identity
    only, so payload columns stay out of it. With ``id_cols=None`` the
    hash falls back to every column of ``df`` and the function REFUSES
    a frame whose only column is the key itself (the guaranteed
    all-or-none regime) rather than silently dropping ~75% of the
    answer.

    Scope: correct top-k requires the distribution to HAVE heavy
    hitters (Zipf-ish). On near-uniform counts (every key within
    sampling noise of rank k), no sampling scheme can rank and ranks
    may swap with the full groupBy — which is the regime where a plain
    groupBy count is affordable anyway (shuffle ∝ distinct keys, all
    of which you are about to return).

    → (value, n) rows, exact counts, top-k by (n desc, value asc).
    """
    v = F.col(col)
    hash_cols = [col, *id_cols] if id_cols else list(df.columns)
    if set(hash_cols) == {col}:
        raise ValueError(
            "heavy_hitters: the sample hash would cover only the key "
            f"column {col!r}, making each key's rows sample all-or-none "
            "— pass id_cols naming a row-identity column set"
        )
    row_u8 = F.substring(F.md5(F.concat_ws("\x1f", *hash_cols)), 1, 8)
    sampled = df.filter(row_u8 < sample_rate_hex)
    # Candidate column aliased to a reserved name: pass 2 joins it back
    # against df, and a key column literally named `value` would make
    # the condition ambiguous.
    cands = (
        sampled.groupBy(v.alias("__cand"))
        .agg(F.count(F.lit(1)).alias("n_sample"))
        .orderBy(F.col("n_sample").desc(), F.col("__cand"))
        .limit(k * oversample)
        .select("__cand")
    )
    exact = (
        df.join(F.broadcast(cands), v == F.col("__cand"), "left_semi")
        .groupBy(v.alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return exact.orderBy(F.col("n").desc(), F.col("value")).limit(k)


@register(
    "heavy_hitters_user_events",
    # Both passes are md5-deterministic and SQL-expressible (VERDICT r6
    # #3), so the oracle replays the SAME sample-then-verify algorithm
    # — the pass-1 row-sample predicate, the oversampled candidate cut
    # with its (count desc, value asc) tie-break, and the pass-2 exact
    # candidate counts — proving the pattern end to end, not just its
    # final numbers.
    oracle="""
    WITH sampled AS (
      SELECT user_id FROM events
      WHERE substring(md5(concat_ws(chr(31), user_id, event_id)), 1, 8)
            < '40000000'),
    cands AS (
      SELECT user_id AS cand FROM sampled
      GROUP BY user_id ORDER BY count(*) DESC, cand LIMIT 40),
    exact AS (
      SELECT e.user_id AS value, count(*) AS n
      FROM events e JOIN cands c ON e.user_id = c.cand GROUP BY 1)
    SELECT value, n FROM exact ORDER BY n DESC, value LIMIT 10
    """,
    tags=("agg", "topk", "sampling"),
)
def heavy_hitters_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most active users by the bounded-shuffle
    sample-then-verify pattern (`heavy_hitters`): pass 1 counts a ~25%
    deterministic md5 row-sample (hash over key + event_id row
    identity, so one key's rows never sample all-or-none) and keeps 4×
    oversampled candidates; pass 2 exactly counts just the candidates
    behind a broadcast semi-join. Exact counts by construction."""
    events = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    return heavy_hitters(events, "user_id", k=10, id_cols=["event_id"])


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "setops_family",
    oracle="""
    WITH u AS (
      SELECT user_id, event_type, 'compound' AS branch FROM events
      WHERE (value < 10.0) OR (value >= 10.0 AND event_type = 'purchase')
      UNION ALL
      SELECT user_id, event_type, 'rest' AS branch FROM events
      WHERE NOT ((value < 10.0) OR (value >= 10.0 AND event_type = 'purchase'))
    ),
    d AS (SELECT DISTINCT user_id, event_type, branch FROM u)
    SELECT 'intersect' AS op, CAST(custkey AS VARCHAR) AS a,
           CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS n FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    UNION ALL
    SELECT 'except', CAST(custkey AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT) FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    UNION ALL
    SELECT 'union_distinct', event_type, branch, count(*)
    FROM d GROUP BY event_type, branch
    UNION ALL
    SELECT 'symmetrize', CAST(src AS VARCHAR), CAST(NULL AS VARCHAR), degree
    FROM (
      SELECT src, count(*) AS degree FROM (
        SELECT l_suppkey AS src, l_partkey AS dst FROM lineitem
        UNION
        SELECT l_partkey, l_suppkey FROM lineitem) sym
      GROUP BY src) deg
    """,
    tags=("setop", "filter", "dedup", "graph"),
)
def setops_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The set-operation surface in one labeled driver row (consolidated
    per VERDICT r3 to keep the 50-query window roomy):

    - ``intersect`` / ``except``: INTERSECT and EXCEPT(distinct) over the
      same two order-status slices (a reference gap — its only
      intersection ran on Python sets inside a UDF,
      graph_tools/graph_tools.py:397);
    - ``union_distinct``: SQL-string compound predicate (reference
      main.py:136-137 pattern) splitting events into two labeled
      branches, re-combined with unionByName across frames whose column
      order differs (reference graph_tools/graph_tools.py:349-350), an
      exact dedup on the projection (reference dropDuplicates,
      spark_manager.py:207), then a grouped count — P3/P4 + U2 + P7;
    - ``symmetrize``: positional union of reversed edges + distinct +
      degree count — the reference's undirected-graph emulation (U1,
      graph_tools/graph_tools.py:125-126), formerly the standalone
      `union_positional_symmetrize` row (merged to free an oracle slot
      in the driver's 50-query window).
    """
    o = load_table(spark, sf_dir, "orders")
    null_s = F.lit(None).cast("string")
    null_n = F.lit(None).cast("long")
    # r15 (VERDICT r14 #7, guide §2.3/§2.4): INTERSECT and
    # EXCEPT(distinct) over the same two slices are both pure functions
    # of the per-custkey status-presence bits — ONE scan + ONE
    # aggregation ('has O', 'has F') replaces the four orders scans and
    # two join subtrees the set operators planned (Catalyst shares no
    # subplans, so `a`/`b` re-scanned per operator). intersect =
    # has_O ∧ has_F; except = has_O ∧ ¬has_F — the same distinct sets
    # by definition, oracle-checked.
    st = (
        o.filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderstatus") == "O").alias("has_o"),
            F.max(F.col("o_orderstatus") == "F").alias("has_f"),
        )
    )
    setop = st.filter(F.col("has_o")).select(
        F.when(F.col("has_f"), F.lit("intersect"))
        .otherwise(F.lit("except"))
        .alias("op"),
        F.col("custkey").cast("string").alias("a"),
        null_s.alias("b"),
        null_n.alias("n"),
    )

    e = load_table(spark, sf_dir, "events")
    pred = "(value < 10.0) OR (value >= 10.0 AND event_type = 'purchase')"
    # The two branch predicates are complementary, so the
    # filter-filter-union is ONE scan with a computed label. Null
    # semantics preserved exactly: a row where `pred` is NULL passed
    # NEITHER filter, so the label stays NULL and is dropped — a plain
    # otherwise() would misfile it under 'rest'.
    ud = (
        e.select(
            "user_id",
            "event_type",
            F.when(F.expr(pred), F.lit("compound"))
            .when(F.expr(f"NOT ({pred})"), F.lit("rest"))
            .alias("branch"),
        )
        .filter(F.col("branch").isNotNull())
        .distinct()
        .groupBy("event_type", "branch")
        .agg(F.count(F.lit(1)).alias("n_user_types"))
        .select(
            F.lit("union_distinct").alias("op"),
            F.col("event_type").alias("a"),
            F.col("branch").alias("b"),
            F.col("n_user_types").alias("n"),
        )
    )

    # Symmetrize stays the two-scan positional union: the one-scan
    # explode variant was MEASURED SLOWER (0.99 vs 0.71 s noop-drained
    # at sf0.1 — the Generate breaks the scan's codegen pipeline and
    # halves effective scan parallelism), so the union keeps the win
    # the r15 probe attributed to it.
    edges = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    sym = (
        edges.union(edges.select("dst", "src"))  # positional: values swap columns
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.lit("symmetrize").alias("op"),
            F.col("src").cast("string").alias("a"),
            null_s.alias("b"),
            F.col("degree").alias("n"),
        )
    )
    return setop.unionByName(ud).unionByName(sym)


# ---------------------------------------------------------------------------
# Scalar functions: arrays, structs, json, dates
# ---------------------------------------------------------------------------


@register(
    "explode_array_and_map",
    oracle="""
    SELECT 'token' AS branch, word AS key, count(*) AS n,
           CAST(NULL AS DOUBLE) AS total, CAST(NULL AS VARCHAR) AS arr
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    UNION ALL
    SELECT 'line' AS branch, CAST(linenumber AS VARCHAR) AS key,
           count(*) AS n, round(sum(qty), 2) AS total,
           CAST(NULL AS VARCHAR) AS arr
    FROM (SELECT l_orderkey, l_linenumber AS linenumber, sum(l_quantity) AS qty
          FROM lineitem GROUP BY 1, 2)
    GROUP BY linenumber
    UNION ALL
    SELECT 'cset' AS branch, CAST(o.o_custkey AS VARCHAR) AS key,
           count(DISTINCT l.l_suppkey) AS n, CAST(NULL AS DOUBLE) AS total,
           array_to_string(list_sort(list(DISTINCT l.l_suppkey)), ',') AS arr
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
    tags=("array", "map", "agg"),
)
def explode_array_and_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collection-function surface in one driver row (labeled
    branches, window-consolidation policy):

    - array: explode(split(text)) → token counts (F2);
    - map: map build → explode(map) round-trip (F1, the distances-map
      explode at graph_tools/graph_tools.py:142-145). Map keys must be
      unique, so quantities are pre-summed per (order, linenumber) —
      testdata reuses line numbers within an order;
    - cset: collect_set neighbor aggregation (formerly the standalone
      `collect_set_sorted` row; merged to free an oracle slot for the
      streaming session-window oracle).
    """
    # Spread the one-file documents scan so the token explode
    # parallelizes (one parquet file = one partition otherwise).
    docs = load_table(spark, sf_dir, "documents").repartition(
        max(spark.sparkContext.defaultParallelism, 8)
    )
    tok_branch = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("token").alias("branch"),
            F.col("word").alias("key"),
            "n",
            F.lit(None).cast("double").alias("total"),
            F.lit(None).cast("string").alias("arr"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("l_quantity").alias("qty")
    )
    m = per_line.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "qty")))
        ).alias("qty_by_line")
    )
    map_branch = (
        m.select(F.explode("qty_by_line").alias("linenumber", "qty"))
        .groupBy("linenumber")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("qty"), 2).alias("total"),
        )
        .select(
            F.lit("line").alias("branch"),
            F.col("linenumber").cast("string").alias("key"),
            "n",
            "total",
            F.lit(None).cast("string").alias("arr"),
        )
    )
    cset_branch = collect_set_sorted(spark, sf_dir).select(
        F.lit("cset").alias("branch"),
        F.col("custkey").cast("string").alias("key"),
        F.col("degree").alias("n"),
        F.lit(None).cast("double").alias("total"),
        F.col("suppliers").alias("arr"),
    )
    return tok_branch.unionByName(map_branch).unionByName(cset_branch)


def collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set neighbor aggregation (reference A2,
    graph_tools/graph_tools.py:354-357); serialized sorted for comparison.

    Driver evidence rides as the 'cset' branch of
    `explode_array_and_map` (merged to free an oracle slot for the
    streaming session-window oracle)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # ONE aggregation: size(collect_set) IS the distinct count. Pairing
    # countDistinct with collect_set planned a second aggregate pass +
    # an extra exchange for the same answer (measured 2-4x slower).
    s = F.sort_array(F.collect_set("l_suppkey"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(s.alias("s"))
        .select(
            "custkey",
            F.size("s").cast("long").alias("degree"),
            F.array_join(F.transform("s", lambda x: x.cast("string")), ",").alias(
                "suppliers"
            ),
        )
    )


@register(
    "json_date_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS day, event_type,
           count(*) AS n, round(sum(value), 4) AS total_value,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY 1, 2
    """,
    tags=("json", "date", "agg"),
)
def json_date_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling aggregation (batch twin of the streaming window)
    with JSON path extraction from a string column (events.props) feeding
    two of the aggregates."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type: parse
    ``events.props`` ONCE into a variant column, then pull typed fields
    with ``variant_get`` → (event_id, k, inferred schema string).

    The scale rationale vs per-path ``get_json_object``: every
    get_json_object call re-parses the raw JSON string, so extracting
    m fields costs m parses per row; a variant column parses once into
    a binary encoding that every downstream variant_get reads
    directly — the semi-structured analogue of columnarizing. At
    100 TB the variant column is what lands in the silver table, not
    the raw string. Equality with the per-path reads is pinned in
    tests/test_llm_ops.py; not a driver row (DuckDB has no variant
    twin, and the window holds 50 oracled rows) — the VARIANT surface
    is covered at the pytest layer."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.k", "int").alias("k"),
        F.schema_of_variant("v").alias("props_schema"),
    )


# ---------------------------------------------------------------------------
# Window functions, sort, limit (reference gaps — SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "topk_per_group_and_global",
    oracle="""
    SELECT 'per_cust_top3' AS op, o_custkey, o_orderkey,
           round(o_totalprice, 2) AS price, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    UNION ALL
    SELECT 'global_top10' AS op, o_custkey, o_orderkey,
           round(o_totalprice, 2) AS price, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 10
    """,
    tags=("window", "sort", "limit"),
)
def topk_per_group_and_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number with a total tie-break order, plus
    the global top-N, labeled.

    The global branch stays orderBy+limit — Spark plans
    TakeOrderedAndProject (per-partition heaps, no full sort, no
    single-partition all-rows window); row_number then ranks only the 10
    surviving rows."""
    o = load_table(spark, sf_dir, "orders")
    wg = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    per_group = (
        o.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("per_cust_top3").alias("op"),
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "rn",
        )
    )
    top10 = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(10)
    wglob = W.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    global_rows = (
        top10.withColumn("rn", F.row_number().over(wglob))
        .select(
            F.lit("global_top10").alias("op"),
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "rn",
        )
    )
    return per_group.unionByName(global_rows)


@register(
    "window_running_lag",
    oracle="""
    SELECT 'running_rev' AS op, l_suppkey AS part_key,
           l_orderkey AS id_a, CAST(l_linenumber AS BIGINT) AS id_b,
           round(sum(l_extendedprice)
                 OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                l_extendedprice
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS val
    FROM lineitem
    UNION ALL
    SELECT 'lag_delta' AS op, user_id AS part_key, event_id AS id_a,
           CAST(NULL AS BIGINT) AS id_b, round(delta, 4) AS val
    FROM (SELECT user_id, event_id,
                 value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS delta
          FROM events)
    WHERE delta IS NOT NULL
    UNION ALL
    SELECT op, part_key, id_a, id_b, val FROM (
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w <= 1800000000
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT user_id, ts, value,
               CAST(sum(new_session)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM flagged
      ), sess AS (
        SELECT user_id, session_id, count(*) AS n_events,
               round(sum(value), 4) AS session_value,
               CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
                 AS duration_sec
        FROM numbered GROUP BY user_id, session_id)
      SELECT 'sess_value' AS op, user_id AS part_key, session_id AS id_a,
             n_events AS id_b, session_value AS val FROM sess
      UNION ALL
      SELECT 'sess_dur', user_id, session_id, duration_sec,
             CAST(NULL AS DOUBLE) FROM sess
    )
    """,
    tags=("window", "filter", "null", "session"),
)
def window_running_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two analytic-window shapes, labeled and unioned into one driver
    row: a running-sum frame (UNBOUNDED PRECEDING..CURRENT ROW per
    supplier over lineitem) and a lag() delta per user over events with
    an IS NOT NULL filter on the window-produced null (reference P5,
    graph_tools/graph_tools.py:496-502 null-filtering subqueries).

    The testdata's (l_orderkey, l_linenumber) is NOT unique (118k
    duplicate keys at sf0.1, with differing prices on the same
    shipdate), so l_extendedprice joins the running-sum ORDER BY: rows
    still tied after it contribute equal amounts, making every prefix
    sum well-defined regardless of physical tie order — without it the
    query passed or failed the hash gate by scheduling luck."""
    w_run = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = load_table(spark, sf_dir, "lineitem").select(
        F.lit("running_rev").alias("op"),
        F.col("l_suppkey").alias("part_key"),
        F.col("l_orderkey").alias("id_a"),
        F.col("l_linenumber").cast("long").alias("id_b"),
        F.round(F.sum("l_extendedprice").over(w_run), 2).alias("val"),
    )
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = load_table(spark, sf_dir, "events")
    lagged = (
        e.withColumn("delta", F.col("value") - F.lag("value").over(w_lag))
        .filter(F.col("delta").isNotNull())
        .select(
            F.lit("lag_delta").alias("op"),
            F.col("user_id").alias("part_key"),
            F.col("event_id").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.round("delta", 4).alias("val"),
        )
    )
    # Gap-based sessionization rides as two more labeled branches (r7
    # window consolidation that paid for the text_vocab_top_pairs
    # oracle row): per-session value and per-session duration. r15
    # (guide §7.2 duplicated subtrees): the two branches used to be
    # two selects over `sess`, and Catalyst shares no subplans — the
    # whole sessionize subtree (events scan + two window passes + agg)
    # executed twice (4 scans in the r14 plan). One inline explode of
    # a 2-struct array emits both labeled rows from ONE execution —
    # no rerun, no checkpoint barrier.
    sess = sessionize_events(spark, sf_dir)
    sess_both = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("sess_value").alias("op"),
                    F.col("n_events").cast("long").alias("id_b"),
                    F.col("session_value").alias("val"),
                ),
                F.struct(
                    F.lit("sess_dur").alias("op"),
                    F.col("duration_sec").cast("long").alias("id_b"),
                    F.lit(None).cast("double").alias("val"),
                ),
            )
        ).alias("b"),
        F.col("user_id").alias("part_key"),
        F.col("session_id").alias("id_a"),
    ).select("b.op", "part_key", "id_a", "b.id_b", "b.val")
    return running.unionByName(lagged).unionByName(sess_both)


# ---------------------------------------------------------------------------
# Gap-fill surface (VERDICT r1 §missing #7): null predicates, na handling,
# struct casts, positional union, map explode, struct-key joins, right outer,
# multi-key self-join, agg+HAVING.
# ---------------------------------------------------------------------------


def na_fill_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both halves of P6 in one pipeline: dropna(subset) on a computed
    column (reference graph_tools/graph_tools.py:284), then fillna on
    join-produced nulls after a left join (reference
    graph_tools/graph_tools.py:362). Also exercises the IS-NOT-NULL
    predicate on a window-produced null (reference P5,
    graph_tools/graph_tools.py:496-502).

    Driver evidence rides as the 'na' branch of `agg_having_distinct`
    (merged to free an oracle slot in the 50-query window for the
    unrolled PageRank oracle — same consolidation policy as
    setops_family / join_struct_key)."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    deltas = (
        load_table(spark, sf_dir, "orders")
        .withColumn("delta", F.col("o_totalprice") - F.lag("o_totalprice").over(w))
        .na.drop(subset=["delta"])
        .select("o_custkey", "delta")
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(deltas, c.c_custkey == deltas.o_custkey, "left")
        .na.fill({"delta": 0.0})
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("delta"), 2).alias("total_delta"),
        )
    )


@register(
    "join_struct_key",
    oracle="""
    SELECT 'join_agg' AS op, o.o_orderpriority AS a,
           CAST(NULL AS VARCHAR) AS b, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS v
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    UNION ALL
    SELECT 'cast_access', CAST(o_orderkey AS VARCHAR),
           upper(o_orderstatus), CAST(o_custkey AS INT),
           round(o_totalprice, 2)
    FROM orders WHERE o_totalprice > 100000
    """,
    tags=("join", "struct", "cast"),
)
def join_struct_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The struct surface in one labeled driver row:

    - ``join_agg``: join condition reaching into a struct field
      (reference J6: m.a.id = l.dst, graph_tools/graph_tools.py:206-207)
      feeding a grouped aggregate;
    - ``cast_access``: build a struct column, cast the whole struct to
      a named narrower StructType (reference P8,
      spark_manager/spark_manager.py:449-451), then access nested
      fields (reference F8: m.a.id-style access,
      graph_tools/graph_tools.py:207) — formerly the standalone
      `struct_build_cast_access` row (merged to free an oracle slot in
      the driver's 50-query window).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.struct(
            F.col("l_orderkey").alias("id"), F.col("l_linenumber").alias("ln")
        ).alias("a"),
        "l_extendedprice",
    )
    o = load_table(spark, sf_dir, "orders")
    joined = (
        li.join(o, li["a.id"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .select(
            F.lit("join_agg").alias("op"),
            F.col("o_orderpriority").alias("a"),
            F.lit(None).cast("string").alias("b"),
            F.col("cnt").alias("n"),
            F.col("revenue").alias("v"),
        )
    )

    hi = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    meta = F.struct(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    ).cast("struct<cust:int,status:string,price:double>")
    nested = hi.select("o_orderkey", meta.alias("meta"))
    cast_access = nested.select(
        F.lit("cast_access").alias("op"),
        F.col("o_orderkey").cast("string").alias("a"),
        F.upper(F.col("meta.status")).alias("b"),
        F.col("meta.cust").cast("long").alias("n"),
        F.round(F.col("meta.price"), 2).alias("v"),
    )
    return joined.unionByName(cast_access)


@register(
    "agg_having_distinct",
    oracle="""
    SELECT 'having' AS branch, CAST(o_custkey AS VARCHAR) AS key,
           count(*) AS n1,
           count(DISTINCT o_orderpriority) AS n2,
           round(sum(o_totalprice), 2) AS v
    FROM orders GROUP BY o_custkey HAVING count(*) >= 15
    UNION ALL
    SELECT 'na' AS branch, c.c_mktsegment AS key,
           count(*) AS n1, CAST(NULL AS BIGINT) AS n2,
           round(sum(coalesce(k.delta, 0.0)), 2) AS v
    FROM customer c LEFT JOIN (
      SELECT o_custkey, delta FROM (
        SELECT o_custkey,
               o_totalprice - lag(o_totalprice)
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS delta
        FROM orders) d
      WHERE delta IS NOT NULL) k ON k.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("agg", "having", "null"),
)
def agg_having_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two labeled branches in one driver row (window-consolidation
    policy, see setops_family):

    - ``having``: filter after aggregation (reference A4 component-size
      HAVING, graph_tools/graph_tools.py:531-532) plus a distinct
      aggregate in the same pass (expand + two-phase agg);
    - ``na``: the P5/P6 null surface — dropna on a window-computed
      column, left-join-produced nulls filled, IS-NOT-NULL predicate
      (formerly the standalone `na_fill_drop` row; merged to free an
      oracle slot for the unrolled PageRank oracle).
    """
    having = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.countDistinct("o_orderpriority").alias("n2"),
            F.round(F.sum("o_totalprice"), 2).alias("v"),
        )
        .filter(F.col("n1") >= 15)
        .select(
            F.lit("having").alias("branch"),
            F.col("o_custkey").cast("string").alias("key"),
            "n1",
            "n2",
            "v",
        )
    )
    na = na_fill_drop(spark, sf_dir).select(
        F.lit("na").alias("branch"),
        F.col("c_mktsegment").alias("key"),
        F.col("n_rows").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.col("total_delta").alias("v"),
    )
    return having.unionByName(na)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch twin of streaming session_window. Driver evidence rides
    as the 'sess_value'/'sess_dur' branches of `window_running_lag`
    (merged r7 to free an oracle slot for text_vocab_top_pairs).

    Gap is compared at microsecond precision on both sides (ADVICE r1:
    second-floor truncation can misclassify a 1800.4s gap); the running
    sum orders by (ts, event_id) so the plan is deterministic under ties.
    """
    e = load_table(spark, sf_dir, "events")
    numbered = sessionize(e, "user_id", "ts", ["event_id"])
    return numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "duration_sec"
        ),
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_cols: list[str],
    gap_us: int = 1_800_000_000,
) -> DataFrame:
    """Gap-based session numbering: adds ``session_id`` (1-based per
    key) — a new session starts when the microsecond gap to the
    previous event exceeds ``gap_us``. The reusable core of
    `sessionize_events` (same lag + running-sum shape); the order
    within a key is (ts, *tiebreak_cols) so numbering is deterministic
    under ties. Property-tested against a pure-Python sessionizer on
    random streams (tests/test_llm_ops.py)."""
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = W.partitionBy(key_col).orderBy(*order)
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    us = F.unix_micros(F.col(ts_col))
    flagged = df.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(w) <= gap_us, 0).otherwise(1),
    )
    return flagged.withColumn("session_id", F.sum("new_session").over(wrun)).drop(
        "new_session"
    )
