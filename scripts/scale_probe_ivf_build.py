"""IVF index-BUILD scale probe (VERDICT r10 #2): times the two
builders' index construction — centroid train + full corpus assign,
materialized via a noop write — at sf0.1 and the replica slices, and
reports growth factors plus end-to-end recall@k of the query path over
each index (numpy brute-force truth, the r11 recall-probe oracle).

Builders:
- ``exact_assign``: `_ivf_seed_frames_adaptive` — sqrt-n centroids,
  exact broadcast argmax assign. O(n^1.5): the n x sqrt(n) assign is
  the superlinear step this probe exists to retire (r10 measured 5.7x
  build time for 3x data, 100x -> 300x).
- ``linear``: `ivf_build_linear` — sampled-Lloyd train (8*nlist
  deterministic md5 sample) + SRP-bucket-local assign with exact-argmax
  rescue. O(n log n); the bar is growth <= ~3x for 3x data from the
  100x to the 300x slice.

Recall@k is measured for BOTH indexes so the approximate assign's
index-quality cost is a number, not a hope. Same-isotropic-corpus
caveat as the recall probe: no cluster structure means these recalls
lower-bound a structured corpus's.

r12 (VERDICT r11 #2): each index additionally gets the full
nprobe ∈ {3, 8, 16, 32} recall/cost sweep — r11 measured the dial
only over the exact-assign index (0.59 at nprobe=32 at 30x), leaving
the linear index's rescue curve unknown. The assignment frame is
localCheckpoint'ed before the query sweep so secs_query measures the
QUERY path against a materialized index (as served in production),
not a per-query re-build — r11's exact_assign secs_query numbers
included the re-derived assign and are superseded by this shape.

Usage: python scripts/scale_probe_ivf_build.py [scales] [out.json]
  scales default: "sf0.1=/root/testdata/sf0.1,100x=/tmp/hgn_scale/sf10,300x=/tmp/hgn_scale/sf30"
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

DEFAULT_SCALES = (
    "sf0.1=/root/testdata/sf0.1,"
    "100x=/tmp/hgn_scale/sf10,300x=/tmp/hgn_scale/sf30"
)


def main() -> None:
    scales = [
        tuple(s.split("=", 1))
        for s in (sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SCALES).split(",")
    ]
    out_path = sys.argv[2] if len(sys.argv) > 2 else None

    from recall_probe import _collect_topk, _load_vectors, _np_exact_topk, _topk_overlap

    from hgn_spark.operators.similarity import (
        TOP_K,
        QUERY_STRIDE,
        _ivf_query,
        _ivf_seed_frames_adaptive,
        ivf_build_linear,
    )
    from hgn_spark.registry import clear_session_caches
    from hgn_spark.session import get_spark

    spark = get_spark(app_name="ivf_build_probe")
    builders = {
        "exact_assign": lambda d, n: _ivf_seed_frames_adaptive(spark, d, n=n),
        "linear": lambda d, n: ivf_build_linear(spark, d, n=n),
    }
    out: dict = {"probe": "ivf_build_r12", "scales": {}}
    for label, sf_dir in scales:
        if not os.path.isdir(sf_dir):
            print(f"# skip {label}: missing", file=sys.stderr)
            continue
        ids, mat = _load_vectors(sf_dir)
        truth = _np_exact_topk(ids, mat, QUERY_STRIDE, TOP_K)
        res: dict = {"n": len(ids)}
        for name, build in builders.items():
            clear_session_caches(blocking=True)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            frames = build(sf_dir, len(ids))
            # Build = materialize the full assignment (index lists) —
            # checkpointed, so the nprobe sweep below queries a SERVED
            # index instead of re-deriving the assign per pass.
            assign = frames[2].localCheckpoint(eager=True)
            frames = (frames[0], frames[1], assign)
            t_build = round(time.perf_counter() - t0, 2)
            res[name] = {"secs_build": t_build}
            for nprobe in (3, 8, 16, 32):
                t0 = time.perf_counter()
                got = _collect_topk(
                    _ivf_query(frames, nprobe=nprobe)
                )
                t_query = round(time.perf_counter() - t0, 2)
                res[name][f"nprobe{nprobe}"] = {
                    "secs_query": t_query,
                    "recall_at_k": _topk_overlap(got, truth, TOP_K),
                }
            assign.unpersist(blocking=True)
            print(f"# {label} {name}: {json.dumps(res[name])}",
                  file=sys.stderr, flush=True)
        out["scales"][label] = res
    sc = out["scales"]
    if "100x" in sc and "300x" in sc:
        out["build_growth_100x_to_300x"] = {
            b: round(sc["300x"][b]["secs_build"] / sc["100x"][b]["secs_build"], 2)
            for b in builders
            if b in sc["100x"] and b in sc["300x"]
        }
    js = json.dumps(out)
    print(js)
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            fh.write(js + "\n")


if __name__ == "__main__":
    main()
