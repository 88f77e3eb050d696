"""r-metric edge scoring (SURVEY.md §2.9 G4) with native expressions.

The reference computes r11/r12 (level-1) and r21/r22 (level-2) per edge
with five row-at-a-time Python UDFs (graph_tools/graph_tools.py:389-404)
— every row pays a JVM→Python worker hop. Here the same math runs in
PAIR FORM: neighborhoods are flat (id, nb) rows, common neighbors come
out of two hash equi-joins against that pair table, and the counts out
of grouped aggregations — the formulation the graph_rmetrics DuckDB
oracle uses. The whole pipeline stays inside whole-stage codegen and
never builds a per-vertex neighbor array: a power-law hub is just more
rows, which AQE skew-splits, not one collect_set buffer in one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hgn_spark.graph.core import neighbor_pairs, symmetrize


def _ratio(common: Column, count: Column) -> Column:
    """common/count guarding div-by-0 — udf_calculate_r_metrics
    (graph_tools.py:400-401)."""
    return F.when(count > 0, common.cast("double") / count).otherwise(F.lit(0.0))


def _common_member_rows(
    e: DataFrame, pairs: DataFrame, level_tag: str
) -> DataFrame:
    """(src, dst, member) rows: member ∈ N_L(src) ∩ N_L(dst), member ∉
    {src, dst} — the common-neighbor set as rows. Two equi-joins
    against the (id, nb) pair table and no arrays anywhere. Rows are
    distinct because ``pairs`` is distinct per (id, nb)."""
    s = pairs.select(
        F.col("src").alias(f"{level_tag}_sid"), F.col("dst").alias("member")
    )
    d = pairs.select(
        F.col("src").alias(f"{level_tag}_did"), F.col("dst").alias("member")
    )
    return (
        e.join(s, e["src"] == s[f"{level_tag}_sid"])
        .filter((F.col("member") != F.col("src")) & (F.col("member") != F.col("dst")))
        .join(d, (e["dst"] == d[f"{level_tag}_did"]) & (s["member"] == d["member"]))
        .select("src", "dst", s["member"].alias("member"))
    )


def _tagged_pairs2(edges: DataFrame, edges_canonical: bool = False) -> DataFrame:
    """Level-2 neighbor pairs carrying a level-1 membership tag —
    (src, dst, is_l1) with is_l1 true iff dst is ADJACENT to src.

    Because the level-2 neighborhood is defined as adjacent ∪ two-hop
    (neighbor_pairs' contract), p1 ⊆ p2: one tagged frame supports
    BOTH levels' counts and common-member sets, so one aggregation and
    one expansion serve both levels instead of two separate pair
    subtrees. The `distinct` of the untagged form becomes a
    groupBy+max over the same keys — the identical exchange, now also
    carrying the 1-byte tag.
    """
    sym = symmetrize(edges, assume_canonical=edges_canonical)
    a = sym.alias("a")
    b = sym.alias("b")
    two = a.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
    )
    return (
        sym.withColumn("is_l1", F.lit(True))
        .unionByName(two.withColumn("is_l1", F.lit(False)))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("is_l1").alias("is_l1"))
    )


def r_metrics_edges_pairs(
    edges: DataFrame,
    r_lvl1_thres: float,
    r_lvl2_thres: float,
    edges_canonical: bool = False,
) -> DataFrame:
    """Score every edge with r11/r12/r21/r22 and the keep decision.

    Returns (src, dst, r11, r12, r21, r22, keepit) where the level-L
    ratios are |common level-L neighbors| / |level-L neighborhood| of
    the source (rL1) and destination (rL2) endpoint, and
    keepit = r11>t1 OR r12>t1 OR r21>t2 OR r22>t2
    (udf_keep_edge_condition). Ratios are integer counts divided by
    integer counts, so they are exact up to one double division.

    The common-member expansion is the dominant term of an HGN step,
    and Catalyst shares no subplans between consumers. Loop callers
    therefore checkpoint the (small) keepit=False candidate list and
    call `candidate_common_members` for the weights: members are only
    ever consumed for candidates, so the expansion for the weights
    runs once, over the candidates only.
    """
    e = edges.select("src", "dst")
    pt = _tagged_pairs2(edges, edges_canonical=edges_canonical)
    # Counts for BOTH levels out of one aggregation (cnt_l1 = the
    # is_l1 rows) and common members for BOTH levels out of one
    # two-join expansion: a member common at level 1 is common at
    # level 2 (p1 ⊆ p2), so it appears once, with both side tags true.
    cnt = pt.groupBy(F.col("src").alias("id")).agg(
        F.count("dst").alias("cnt_l2"),
        F.count(F.when(F.col("is_l1"), 1)).alias("cnt_l1"),
    )
    s = pt.select(
        F.col("src").alias("m_sid"),
        F.col("dst").alias("member"),
        F.col("is_l1").alias("s_l1"),
    )
    d = pt.select(
        F.col("src").alias("m_did"),
        F.col("dst").alias("member"),
        F.col("is_l1").alias("d_l1"),
    )
    mm = (
        e.join(s, e["src"] == s["m_sid"])
        .filter((F.col("member") != F.col("src")) & (F.col("member") != F.col("dst")))
        .join(d, (e["dst"] == d["m_did"]) & (s["member"] == d["member"]))
        .select("src", "dst", (s["s_l1"] & d["d_l1"]).alias("both_l1"))
    )
    cc = mm.groupBy("src", "dst").agg(
        F.count("*").alias("cc2"),
        F.count(F.when(F.col("both_l1"), 1)).alias("cc1"),
    )

    def _cnt(side: str) -> DataFrame:
        return cnt.select(
            F.col("id").alias(f"{side}id"),
            F.col("cnt_l1").alias(f"cnt_{side}_l1"),
            F.col("cnt_l2").alias(f"cnt_{side}_l2"),
        )

    return (
        e.join(_cnt("src"), e["src"] == F.col("srcid"))
        .join(_cnt("dst"), e["dst"] == F.col("dstid"))
        .join(cc, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            F.coalesce("cc1", F.lit(0)).alias("cc1"),
            F.coalesce("cc2", F.lit(0)).alias("cc2"),
            "cnt_src_l1",
            "cnt_dst_l1",
            "cnt_src_l2",
            "cnt_dst_l2",
        )
        .withColumn("r11", _ratio(F.col("cc1"), F.col("cnt_src_l1")))
        .withColumn("r12", _ratio(F.col("cc1"), F.col("cnt_dst_l1")))
        .withColumn("r21", _ratio(F.col("cc2"), F.col("cnt_src_l2")))
        .withColumn("r22", _ratio(F.col("cc2"), F.col("cnt_dst_l2")))
        .select("src", "dst", "r11", "r12", "r21", "r22")
        .withColumn(
            "keepit",
            (F.col("r11") > r_lvl1_thres)
            | (F.col("r12") > r_lvl1_thres)
            | (F.col("r21") > r_lvl2_thres)
            | (F.col("r22") > r_lvl2_thres),
        )
    )


def candidate_common_members(
    edges: DataFrame,
    cand: DataFrame,
    restrict_sources: bool = True,
    edges_canonical: bool = False,
) -> DataFrame:
    """Level-2 common-member rows (src, dst, member) for a (preferably
    materialized) candidate edge subset — the input of
    `hybrid_edge_weights` (see the note on r_metrics_edges_pairs).

    ``restrict_sources`` additionally source-restricts the 2-hop
    self-join to the candidates' endpoints. That bounds the expansion
    by the candidate set when candidates are a small fraction, but
    ADDS a semi-join that measured ~12% overhead at sf0.1 where most
    edges are candidates (13.1 vs 11.7 s row min), so loop callers
    gate it on the measured candidate fraction (hgn.py) instead of
    always paying it."""
    srcs = (
        cand.select(F.col("src").alias("id"))
        .unionByName(cand.select(F.col("dst").alias("id")))
        .distinct()
        if restrict_sources
        else None
    )
    return _common_member_rows(
        cand.select("src", "dst"),
        neighbor_pairs(edges, level=2, sources=srcs, edges_canonical=edges_canonical),
        "l2",
    )
