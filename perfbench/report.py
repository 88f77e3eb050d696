"""Summarize the run records in perfbench/_work/results: per workload, the
median, quartiles and spread of each end-to-end metric over the untraced
runs, the error rate, and the tracing overhead (median traced pass time
against median untraced pass time).

    python3 perfbench/report.py
"""

from __future__ import annotations

import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    by_wl: dict[str, list[dict]] = {}
    for path in glob.glob(os.path.join(HERE, "_work", "results", "*.json")):
        with open(path) as f:
            rec = json.load(f)
        by_wl.setdefault(rec["workload"], []).append(rec)
    for wl, recs in sorted(by_wl.items()):
        plain = [r for r in recs if not r["trace"]]
        traced = [r for r in recs if r["trace"]]
        print(f"{wl}: {len(plain)} untraced run(s), {len(traced)} traced run(s)")
        for name in sorted({k for r in plain for k in r["metrics"]}):
            ms = [r["metrics"][name] for r in plain if name in r["metrics"]]
            vals, unit = [m["value"] for m in ms], ms[0]["unit"]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                print(f"  {name:16s} median {med:.4g} {unit}  "
                      f"IQR/median {(q3 - q1) / med:.3f}  n={len(vals)}")
            else:
                print(f"  {name:16s} {med:.4g} {unit}  n=1")
        steal = [r["context"]["steal_s"] for r in plain if "steal_s" in r["context"]]
        if steal:
            print(f"  stolen CPU during the measured loop: median {statistics.median(steal):.2f} s, "
                  f"max {max(steal):.2f} s  n={len(steal)}")
        bad = sum(r["error_rate"] > 0 for r in recs)
        print(f"  runs with errors: {bad}/{len(recs)}  "
              f"mismatched rows seen: {sorted({m[0] for r in recs for m in r['mismatched_rows']})}")
        if plain and traced:
            p = statistics.median(x for r in plain for x in r["passes"])
            t = statistics.median(x for r in traced for x in r["passes"])
            print(f"  tracing overhead: traced pass {t:.3f} s vs untraced {p:.3f} s "
                  f"({(t / p - 1) * 100:+.1f}%)")


if __name__ == "__main__":
    main()
