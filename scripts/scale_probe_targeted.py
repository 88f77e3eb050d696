"""Targeted 100x probe: time the n-gram jaccard family (whole-corpus /
df-capped / incremental), whose uncapped growth was above-linear, at
sf0.1 and at a k-fold replica slice (scripts/gen_scale_slice.py; the
100x slice is /tmp/hgn_scale/sf10).

The claim under test: the df_cap guard holds the linear term at 100x
where the uncapped path does not. Session caches are cleared before
every timed run: each variant pays its own index/signature build, the
single-query production cost. (The SRP sketch variants this probe
also timed were retired; their numbers stay in the committed
PROBE_*.json files, and the production SRP sizing is probed by
scripts/srp_operating_point_100x.py.)

Usage: python scripts/scale_probe_targeted.py [scaled_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
PER_VARIANT_TIMEOUT = 1800  # s; a guard variant must finish far under this


def main() -> None:
    scaled = sys.argv[1] if len(sys.argv) > 1 else "/tmp/hgn_scale/sf10"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from hgn_spark.operators.dedup import (
        CAP_DF,
        dedup_ngram_jaccard_pairs,
        neardup_incremental,
        ngram_jaccard_pairs_capped,
    )
    from hgn_spark.registry import clear_session_caches
    from hgn_spark.session import get_spark

    spark = get_spark(app_name="scale_probe_targeted")
    # Engine warm-up, untimed (same rationale as bench.py).
    spark.read.parquet(f"{BASE}/nation.parquet").groupBy(
        "n_regionkey"
    ).count().write.format("noop").mode("overwrite").save()

    # df_cap=4: fires at sf0.1 (above p99 shingle df, below max) and,
    # because replica vocabularies are disjoint, the per-replica df
    # distribution is IDENTICAL at every k — a fixed absolute cap
    # stays exactly as aggressive at 100x as at 1x. CAP_DF (=2, the
    # driver row's pinned value) is probed too, as-shipped.
    variants = {
        "jaccard_all": lambda s, d: dedup_ngram_jaccard_pairs(s, d),
        "jaccard_cap_df4": lambda s, d: ngram_jaccard_pairs_capped(s, d, df_cap=4),
        f"jaccard_cap_df{CAP_DF}": lambda s, d: ngram_jaccard_pairs_capped(
            s, d, df_cap=CAP_DF
        ),
        "jaccard_incremental": lambda s, d: neardup_incremental(s, d),
    }

    out: dict[str, dict[str, float | str]] = {}
    for sf_dir, label in ((BASE, "sf0.1"), (scaled, "scaled")):
        times: dict[str, float | str] = {}
        for name, fn in variants.items():
            best: float | None = None
            for _ in range(runs):
                clear_session_caches()
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                try:
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:  # noqa: BLE001 — record, keep probing
                    times[name] = f"ERROR: {type(exc).__name__}"
                    break
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                print(f"# {label} {name}: {dt:.2f}s", file=sys.stderr, flush=True)
                if dt > PER_VARIANT_TIMEOUT / (2 * runs):
                    break  # one slow pass is answer enough; skip repeats
            if name not in times and best is not None:
                times[name] = round(best, 2)
        out[label] = times

    growth = {
        n: round(out["scaled"][n] / out["sf0.1"][n], 1)
        for n in variants
        if isinstance(out["sf0.1"].get(n), float)
        and isinstance(out["scaled"].get(n), float)
    }
    print(
        json.dumps(
            {
                "probe": "targeted_100x",
                "scaled_dir": scaled,
                "base": out["sf0.1"],
                "scaled": out["scaled"],
                "growth_factor": growth,
            }
        )
    )


if __name__ == "__main__":
    main()
