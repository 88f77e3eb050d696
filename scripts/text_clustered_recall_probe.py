"""Text-guard recall on the boilerplate-heavy corpus (VERDICT r12 #5):
minhash (the production near-dup path) and the df-capped jaccard path
measured against planted-pair truth on the df distribution the cap
EXISTS for (mega-buckets from shared boilerplate; see
gen_probe_docs.py for the corpus construction and its verified
analytic truth).

Per scale:
  - truth: planted_pairs.json (exact by construction, verified by the
    generator; additionally CROSS-VALIDATED here at the small scale by
    running the Spark uncapped exact-jaccard path and asserting it
    returns exactly the planted set — which also measures what the
    uncapped inverted index COSTS on mega-buckets);
  - `minhash_recall` (`minhash_lsh_pairs`): the recall-SIZED sketch —
    `minhash_recall_perms(J=0.8, R=0.95)` solves
    the band count for the stated operating point (24 perms / 6 bands,
    expected 1-(1-0.8^4)^6 ≈ 0.958 at the threshold itself). The pass
    bar: recall >= 0.95 in the J>=0.80 stratum at BOTH scales
    (collision probability is n-independent for set resemblance, so
    flat-across-scales is expected, just flat at the DESIGN value now);
  - `ngram_jaccard_pairs_auto` at PRODUCTION_CAP_DF: the dispatch must
    choose 'capped' here (max shingle df = n/20 >> 16), and the capped
    path must hold recall 1.0 — planted pairs share df<=2 tail
    shingles, so dropping the boilerplate buckets loses nothing. That
    asymmetry (bounded candidates, zero recall cost) is the cap's
    entire design claim, measured on its target distribution for the
    first time.

Recall numbers are load-immune; secs_* fields are not.

Usage: python scripts/text_clustered_recall_probe.py [scales] [out.json]
  scales default: "6k=/tmp/hgn_scale/probe_docs_6k,20k=/tmp/hgn_scale/probe_docs_20k"
  (cross-validation runs at the first scale only)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SCALES = (
    "6k=/tmp/hgn_scale/probe_docs_6k,20k=/tmp/hgn_scale/probe_docs_20k"
)
STRATA = (0.80, 0.85, 0.90, 0.95)


def main() -> None:
    scales = [
        tuple(s.split("=", 1))
        for s in (sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SCALES).split(",")
    ]
    out_path = sys.argv[2] if len(sys.argv) > 2 else None

    from hgn_spark.operators.dedup import (
        JACCARD_THRES,
        PRODUCTION_CAP_DF,
        choose_jaccard_path,
        dedup_ngram_jaccard_pairs,
        minhash_lsh_pairs,
        minhash_recall_perms,
        ngram_jaccard_pairs_auto,
    )
    from hgn_spark.registry import clear_session_caches
    from hgn_spark.session import get_spark

    spark = get_spark(app_name="text_clustered_recall")
    sized_perm, sized_bands = minhash_recall_perms(JACCARD_THRES, 0.95)
    out: dict = {
        "probe": "text_clustered_recall_r14",
        "knob": {
            "df_cap": PRODUCTION_CAP_DF,
            "sized_num_perm": sized_perm,
            "sized_bands": sized_bands,
            "sized_target": {"j_design": JACCARD_THRES, "recall": 0.95},
        },
        "load_avg_start": round(os.getloadavg()[0], 2),
        "scales": {},
    }

    def _pairs(df) -> set:
        return {
            (min(r["d1"], r["d2"]), max(r["d1"], r["d2"]))
            for r in df.select("d1", "d2").collect()
        }

    first = True
    for label, sf_dir in scales:
        meta = json.load(open(os.path.join(sf_dir, "planted_pairs.json")))
        truth = {
            (min(a, b), max(a, b)): j for a, b, j in meta["pairs"]
        }
        res: dict = {
            "n_docs": meta["n_docs"],
            "n_planted": meta["n_planted"],
            "boilerplate_shingle_df": meta["boilerplate_shingle_df"],
            "dispatch": choose_jaccard_path(meta["boilerplate_shingle_df"]),
        }
        if first:
            # Cross-validate the analytic truth against the Spark
            # exact path — and record what uncapped costs here.
            clear_session_caches(blocking=True)
            t0 = time.perf_counter()
            exact = _pairs(dedup_ngram_jaccard_pairs(spark, sf_dir))
            t_exact = round(time.perf_counter() - t0, 2)
            res["exact_crossval"] = {
                "secs": t_exact,
                "exact_n": len(exact),
                "equals_planted_truth": exact == set(truth),
            }
            first = False
        for name, fn in (
            ("minhash_recall", lambda: minhash_lsh_pairs(spark, sf_dir)),
            (
                "jaccard_capped_auto",
                lambda: ngram_jaccard_pairs_auto(
                    spark, sf_dir, df_cap=PRODUCTION_CAP_DF
                ),
            ),
        ):
            clear_session_caches(blocking=True)
            t0 = time.perf_counter()
            got = _pairs(fn())
            t = round(time.perf_counter() - t0, 2)
            entry: dict = {"secs_guard": t, "guard_n": len(got)}
            for lo in STRATA:
                bucket = {p for p, j in truth.items() if lo <= j < lo + 0.05}
                if bucket:
                    entry[f"recall_j_{lo:.2f}"] = round(
                        len(got & bucket) / len(bucket), 4
                    )
                    entry[f"n_j_{lo:.2f}"] = len(bucket)
            entry["recall_all"] = round(
                len(got & set(truth)) / len(truth), 4
            )
            entry["false_pairs"] = len(got - set(truth))
            res[name] = entry
            print(f"# {label} {name}: {json.dumps(entry)}",
                  file=sys.stderr, flush=True)
        out["scales"][label] = res
    js = json.dumps(out)
    print(js)
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            fh.write(js + "\n")


if __name__ == "__main__":
    main()
