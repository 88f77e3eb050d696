"""Attribute cosine similarity + hybrid edge weights (SURVEY §2.9 G9-G10).

Cosine: the reference one-hot-encodes categorical vertex features
(StringIndexer → OneHotEncoder → VectorAssembler, spark_manager/
spark_manager.py:151-176) and then runs a per-row sklearn cosine UDF
(graph_tools/graph_tools.py:64-70). For one-hot-per-feature encodings
the cosine has a closed form: each vertex vector holds exactly one 1
per feature column, so

    dot(u, v)   = #features where the two vertices hold the same value
    |u| = |v|   = sqrt(n_features)
    cosine(u,v) = matches / n_features

which is a handful of native comparisons — no ML pipeline, no Python
worker hop, exact. (Divergence note: the reference's OneHotEncoder
keeps Spark's dropLast=True default, so one category per feature
encodes as the zero vector and its matches score 0 — SURVEY §8.10. We
compute the true cosine; pass compat_drop_last=True to reproduce the
reference's artifact.)

Hybrid weights: the reference's j_1/j_2/j_3 right-join dance
(graph_tools/graph_tools.py:437-517) computes, per candidate-delete
edge e, the fraction of similarity edges with BOTH endpoints inside
e's common-neighbor set that score ≥ feature_min_avg. Re-derived here
as two equi-joins over common-member rows (SURVEY §2.9 G10 note): same
result set, no right-outer null rows, no float-equality join key
(§8.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def one_hot_cosine_similarities(
    edges: DataFrame,
    vertices: DataFrame,
    feature_cols: list[str],
    compat_drop_last: bool = False,
) -> DataFrame:
    """Per-edge attribute cosine → (src, dst, similarity).

    One broadcast-or-shuffle join per endpoint (J1 shape,
    graph_tools/graph_tools.py:51-61), then a native expression.
    """
    n = len(feature_cols)
    if n == 0:
        raise ValueError("feature_cols must be non-empty")
    src_side = vertices.select(
        F.col("id").alias("_sid"), *[F.col(c).alias(f"_src_{c}") for c in feature_cols]
    )
    dst_side = vertices.select(
        F.col("id").alias("_did"), *[F.col(c).alias(f"_dst_{c}") for c in feature_cols]
    )
    joined = edges.join(src_side, edges["src"] == src_side["_sid"]).join(
        dst_side, edges["dst"] == dst_side["_did"]
    )
    if compat_drop_last:
        # Bit-parity with the reference's ML pipeline belongs to
        # ml_one_hot_cosine_similarities, which runs the actual
        # StringIndexer/OneHotEncoder chain (quirks §8.9/§8.10 included)
        # rather than re-deriving Spark ML internals here.
        raise NotImplementedError(
            "use ml_one_hot_cosine_similarities for reference-pipeline parity"
        )
    matches = sum(
        F.when(F.col(f"_src_{c}") == F.col(f"_dst_{c}"), 1).otherwise(0)
        for c in feature_cols
    )
    return joined.select(
        "src", "dst", (matches / F.lit(float(n))).alias("similarity")
    )


def ml_one_hot_cosine_similarities(
    edges: DataFrame,
    vertices: DataFrame,
    feature_cols: list[str],
) -> DataFrame:
    """Per-edge cosine via the reference's ACTUAL ML pipeline
    (spark_manager.py:151-176): StringIndexer(handleInvalid="keep") →
    OneHotEncoder (Spark default dropLast=True) → VectorAssembler.

    Measured parity note (pinned in tests/test_graph.py): because the
    indexer keeps an unseen bucket at the LAST index and the encoder's
    dropLast drops exactly that slot, every real category keeps a
    distinct one-hot slot when fitting and transforming the same data —
    SURVEY §8.9 and §8.10 cancel out and this pipeline's cosine equals
    `one_hot_cosine_similarities`' closed form. Kept as the
    reference-shaped path (and the one that generalizes to ML feature
    chains); the closed form is the fast path.

    The per-row cosine itself is still native (vector_to_array + the
    fold), not the reference's sklearn UDF; sklearn's
    cosine_similarity on a zero vector yields 0, reproduced via the
    nullif guard.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    idx_cols = [f"{c}_idx" for c in feature_cols]
    vec_cols = [f"{c}_vec" for c in feature_cols]
    stages = [
        StringIndexer(inputCol=c, outputCol=i, handleInvalid="keep")
        for c, i in zip(feature_cols, idx_cols)
    ]
    stages.append(OneHotEncoder(inputCols=idx_cols, outputCols=vec_cols))
    stages.append(VectorAssembler(inputCols=vec_cols, outputCol="features"))
    model = Pipeline(stages=stages).fit(vertices)
    feats = model.transform(vertices).select(
        "id", vector_to_array("features").alias("fv")
    )

    src_side = feats.select(F.col("id").alias("_sid"), F.col("fv").alias("fv_src"))
    dst_side = feats.select(F.col("id").alias("_did"), F.col("fv").alias("fv_dst"))
    joined = edges.join(src_side, edges["src"] == src_side["_sid"]).join(
        dst_side, edges["dst"] == dst_side["_did"]
    )
    dot = F.aggregate(
        F.zip_with(F.col("fv_src"), F.col("fv_dst"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )
    cos = dot / F.nullif(
        F.sqrt(norm_sq(F.col("fv_src"))) * F.sqrt(norm_sq(F.col("fv_dst"))), F.lit(0.0)
    )
    return joined.select(
        "src", "dst", F.coalesce(cos, F.lit(0.0)).alias("similarity")
    )


def hybrid_edge_weights(
    cand_members: DataFrame,
    similarities: DataFrame,
    feature_min_avg: float,
) -> DataFrame:
    """Candidate common-member rows (src, dst, member) → (src, dst,
    edge_weight), one row per candidate edge with at least one
    similarity edge inside its common-neighbor set.

    edge_weight = fraction of similarity edges whose BOTH endpoints lie
    in the candidate edge's common-neighbor set with similarity ≥
    feature_min_avg — the reference's final ratio agg
    (graph_tools/graph_tools.py:512-516). ``cand_members`` comes from
    `rmetrics.candidate_common_members`, so it already holds exactly
    the candidate edges' members.

    Derivation: equi-join similarity edges on their src endpoint
    against the member rows, then semi-join the pair against the
    member rows again on the dst endpoint. Two shuffles, both on real
    equi keys; the reference needed two right-outer joins, a 5-key
    self-join on a FLOAT column, and three parquet round-trips for the
    same set.
    """
    cn = cand_members.select(
        F.col("src").alias("nb_src"),
        F.col("dst").alias("nb_dst"),
        "member",
    )
    sims = similarities.select(
        F.col("src").alias("s_src"), F.col("dst").alias("s_dst"), "similarity"
    )
    # Similarity edges with src endpoint inside the common-neighbor set.
    half = cn.join(sims, cn["member"] == sims["s_src"]).select(
        "nb_src", "nb_dst", "s_src", "s_dst", "similarity"
    )
    # ... whose dst endpoint is ALSO inside the same edge's set.
    full = half.join(
        cn.select(
            F.col("nb_src").alias("nb_src2"),
            F.col("nb_dst").alias("nb_dst2"),
            F.col("member").alias("member2"),
        ),
        (F.col("nb_src") == F.col("nb_src2"))
        & (F.col("nb_dst") == F.col("nb_dst2"))
        & (F.col("s_dst") == F.col("member2")),
        "left_semi",
    ).dropDuplicates(["nb_src", "nb_dst", "s_src", "s_dst"])
    return full.groupBy(
        F.col("nb_src").alias("src"), F.col("nb_dst").alias("dst")
    ).agg(
        (
            F.count(F.when(F.col("similarity") >= feature_min_avg, 1))
            / F.count(F.lit(1))
        ).alias("edge_weight")
    )
