"""The HGN divisive community-detection loop (SURVEY §2.9 G11-G12, §3.1).

Orchestrates the pieces exactly as the reference's main loop does
(main.py:144-213): cosine similarities and truncated betweenness once
up front (the cacheable init step, main.py:243-258), then per
iteration r-metrics → hybrid edge weights → deletion rule → anti-join,
until no edge qualifies or max_steps is hit. Communities are the final
connected components.

Deliberate divergences from the reference (each documented in SURVEY §8):

- §8.1 the force-keep union could duplicate edges — we never re-add
  keepit edges (the anti-join already kept them), so no duplicates;
- §8.2 betweenness defaults to correct GN fractional counting
  (compat flag available in betweenness.edge_betweenness);
- canonical src<dst edges + canonical betweenness mean ONE deletion
  join instead of the reference's both-orientation pair (main.py:130-134)
  and ONE anti-join instead of two (main.py:201-205);
- lineage is truncated with localCheckpoint per iteration instead of a
  parquet write+read (spark_manager.py:215-231).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgn_spark.checkpoint import CheckpointJanitor, park_loose_blocks
from hgn_spark.graph.betweenness import edge_betweenness
from hgn_spark.graph.components import connected_components
from hgn_spark.graph.core import canonicalize, drop_isolated_vertices
from hgn_spark.graph.rmetrics import candidate_common_members, r_metrics_edges_pairs
from hgn_spark.graph.weights import hybrid_edge_weights, one_hot_cosine_similarities


@dataclass
class HGNParams:
    """Knobs mirroring the reference's run_options config section
    (confs/quakers.yml:55-68)."""

    r_lvl1_thres: float = 0.5
    r_lvl2_thres: float = 0.5
    max_edge_weight: float = 0.5
    betweenness_thres: float = 5.0
    feature_min_avg: float = 0.5
    max_steps: int = 10
    max_sp_length: int = 2
    min_comp_size: int = 1


def hgn_communities(
    vertices: DataFrame,
    edges: DataFrame,
    feature_cols: list[str],
    params: HGNParams | None = None,
    edges_canonical: bool = False,
) -> DataFrame:
    """Run the full loop → (id, component).

    ``vertices``: (id, *features); ``edges``: (src, dst) any orientation.
    """
    p = params or HGNParams()
    jan = CheckpointJanitor(edges.sparkSession)
    # ``edges_canonical``: caller guarantees src < dst distinct rows
    # (e.g. derived_edges), so canonicalize's dedup exchange is a no-op
    # and the init checkpoint materializes the input directly.
    e, e_ids = jan.checkpoint(
        edges.select("src", "dst") if edges_canonical else canonicalize(edges)
    )

    # --- init step (computed once, like main.py:243-258) ---------------
    # The similarity and betweenness init frames both read the
    # materialized `e` and nothing of each other, so their eager
    # checkpoints run concurrently. Their id sets are released at the
    # same point after the loop, so concurrent id-diff attribution
    # between the two checkpoints cannot mis-release a block.
    def _init_sims():
        s = one_hot_cosine_similarities(e, vertices, feature_cols)
        # Symmetrize similarities so common-neighbor membership checks
        # see both orientations; the hybrid ratio is invariant to the
        # doubling (numerator and denominator scale together).
        return jan.checkpoint(
            s.union(
                s.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "similarity"
                )
            )
        )

    def _init_betw():
        # Betweenness is computed ONCE, on the initial edge set, and
        # never refreshed inside the loop — the reference does the same
        # (main.py:243-258).
        return jan.checkpoint(
            edge_betweenness(e, max_sp_length=p.max_sp_length, edges_canonical=True)
        )

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_sims = _pool.submit(_init_sims)
        _f_betw = _pool.submit(_init_betw)
        sims, sims_ids = _f_sims.result()
        betw, betw_ids = _f_betw.result()

    # --- main loop ------------------------------------------------------
    # Edge count carried across generations: counted once, then
    # maintained by arithmetic — |e ⟕anti d| = |e| - |d| because
    # to_delete is unique per canonical edge and a subset of e (it
    # joins e's scored edges inner against canonical betweenness). The
    # candidate-fraction gate then costs ONE action per step
    # (cand.count()), not two.
    n_edges = e.count()
    for _ in range(p.max_steps):
        # Score once, CHECKPOINT the small candidate list, then expand
        # common members for the candidates only: the full-edge member
        # expansion is the step's dominant term, and Catalyst would
        # re-run the scored plan per consumer without the
        # materialization barrier. e is canonical by construction
        # (canonicalize at init; anti-join deletion preserves it), so
        # every symmetrize in the scoring path may skip its dedup
        # exchange.
        scored = r_metrics_edges_pairs(
            e, p.r_lvl1_thres, p.r_lvl2_thres, edges_canonical=True
        )
        cand, cand_ids = jan.checkpoint(
            scored.filter(~F.col("keepit")).select("src", "dst")
        )
        # Source-restricting the member expansion pays only when
        # candidates are a small fraction (see candidate_common_members).
        # cand is materialized, so its count is metadata-cheap.
        restrict = 4 * cand.count() < max(n_edges, 1)
        weights = hybrid_edge_weights(
            candidate_common_members(
                e, cand, restrict_sources=restrict, edges_canonical=True
            ),
            sims,
            p.feature_min_avg,
        )
        # Canonical edges → single equi-join against canonical betweenness
        # (the reference probes both orientations, main.py:130-134).
        to_delete, td_ids = jan.checkpoint(
            weights.join(betw, ["src", "dst"], "inner")
            .filter(
                (F.col("edge_weight") < p.max_edge_weight)
                | (
                    (F.col("edge_weight") >= p.max_edge_weight)
                    & (F.col("betweenness") > p.betweenness_thres)
                )
            )
            .select("src", "dst")
        )
        # count() instead of isEmpty(): same loop-control action class
        # on a materialized checkpoint, and the count maintains n_edges
        # for the next step's gate without re-counting e.
        n_del = to_delete.count()
        # The candidate list fed to_delete, now materialized — free it.
        jan.release(cand_ids)
        if n_del == 0:
            jan.release(td_ids)
            break
        new_e, new_e_ids = jan.checkpoint(
            e.join(to_delete, ["src", "dst"], "left_anti")
        )
        n_edges -= n_del
        # Iteration N's edge set is materialized: its inputs — the
        # previous generation and this round's deletion set — can never
        # be read again. Free them now so the loop carries ONE edge
        # generation instead of O(max_steps) (bounded memory at scale;
        # locally this kept multi-second cleanup pauses out of whatever
        # query runs after the loop).
        e = new_e
        jan.release(e_ids)
        jan.release(td_ids)
        e_ids = new_e_ids

    survivors = drop_isolated_vertices(vertices.select("id"), e, edges_canonical=True)
    out = connected_components(e, survivors, edges_canonical=True)
    # The returned plan references only the final edge generation (via
    # the survivors join) and CC's fixpoint mapping — the init-step
    # similarity and betweenness checkpoints are dead weight from here.
    jan.release(sims_ids)
    jan.release(betw_ids)
    # The final edge generation stays lazily referenced by the returned
    # plan (survivors join + CC mapping) — park it for clear-time
    # release instead of leaving it to async GC.
    park_loose_blocks(e_ids, edges.sparkSession)
    return out
