"""Per-query bench regression check (VERDICT r6 #8): compare a bench
JSON against a recorded baseline, resolving row merges so a
consolidated row is judged against the SUM of the rows it absorbed.

Exit 1 if any COMPARABLE query exceeds the threshold (default 1.3x)
without being a merge that added formerly-unbenched work; merged rows
are reported with their equivalence set so a human (or the round
narrative) can attribute the delta instead of misreading it as a
regression.

Usage: python scripts/bench_regression.py NEW.json BASELINE.json [thresh] [SPREAD.json]
       (BASELINE.json may be a driver artifact with {"parsed": {...}}
       or a raw bench line with {"queries": {...}}.)

SPREAD.json (VERDICT r9 #6) is a committed bench run with a "spread"
section (bench.py with SPARK_GRAFT_BENCH_PASSES>=4): a row over the
threshold whose NEW reading still lands at or below that row's
recorded max is reported INSPREAD — inside the measured same-code
noise envelope — instead of FAIL, so each round stops re-litigating
which over-line readings are host noise. Rows over the line AND over
their recorded max remain failures.
"""

from __future__ import annotations

import json
import sys

# name in the NEW bench -> the baseline rows whose work it carries.
# Extended whenever the 50-slot window consolidation merges rows
# (labeled-branch unions); rows absorbed that were never benched in
# the baseline contribute nothing to the equivalent, so the ratio
# over-counts — those rows are flagged, not failed.
# Every list INCLUDES the merged row's own name: once a later round's
# baseline records the consolidated row directly, the self-entry is
# the match (a list of only absorbed names would report the row as
# NEW/incomparable against any baseline from after the merge).
MERGES: dict[str, list[str]] = {
    # r7 consolidations vs the r6 baseline
    "text_profile": ["text_profile", "pack_token_chunks", "text_repetition_signals"],
    "window_running_lag": ["window_running_lag", "sessionize_events"],
    "streaming_windowed_aggs": ["streaming_windowed_aggs", "streaming_tumbling_daily"],
    # simsearch_topk_cosine's r7 absorption of the r6 two-variant IVF
    # row is not mapped: both absorbed IVF variants were later retired,
    # so against an r6 baseline the row reports as new/incomparable.
    # these absorbed registry rows that the r6 bench never timed:
    # graph_degrees (+graph_neighbors_lvl2), agg_rollup_pivot
    # (+conditional_ratio_agg), dedup_minhash_lsh_pairs
    # (+simhash/srp branches)
}
# Rows whose baseline equivalent is known-incomplete (absorbed
# unbenched branches): report, don't fail.
# - vs r6: graph_degrees (+lvl2), agg_rollup_pivot (+cond-ratio),
#   dedup_minhash_lsh_pairs (+simhash/srp), streaming_windowed_aggs
#   (+sliding).
# - vs r7: graph_pagerank (+ppr branch), graph_label_propagation
#   (+modularity branch), dedup_ngram_jaccard_pairs (+incremental
#   vs_corpus/in_batch branches), simsearch_topk_cosine (+srp-lsh
#   multiprobe branch), sample_stratified_hash (+mixture_repeat and
#   split_train/val/test branches) — the r8 evidence-upgrade merges,
#   none of whose added work the r7 bench ever timed.
# - vs r8: dedup_ngram_jaccard_pairs again (+df-capped 'cap' branch —
#   a second candidate join + full-index verify the r8 bench never
#   timed), dedup_minhash_lsh_pairs again (+adaptive-bits
#   'srp_adaptive' branch — a fourth sketch pipeline, run FUSED with
#   the pinned one), and scan_projection_pushdown (+4 IO round-trip
#   branches: CSV write/read, durable checkpoint, append+dedupe
#   accumulator, temp-view SQL — the r9 plumbing evidence upgrade).
# - vs r9 (the r10 scale-mitigation + evidence branches):
#   dedup_ngram_jaccard_pairs (+capped-incremental vs_corpus_cap/
#   in_batch_cap — a third candidate join), dedup_minhash_lsh_pairs
#   (+simhash_cap — a fifth sketch pipeline), simsearch_topk_cosine
#   (+ivf_adaptive and lsh_adaptive — two more assign/probe/rerank
#   pipelines), graph_degrees (+edge_csv CSV round trip + degree
#   recompute), scan_projection_pushdown (+pandas_roundtrip collect +
#   re-parallelize).
# - vs r10/r11: dedup_minhash_lsh_pairs (+simhash_manku, r11),
#   simsearch_topk_cosine (+ivf_linear, r12 — a seventh pipeline:
#   sampled-Lloyd train + SRP-bucket assign + rescue + its own
#   probe/rerank tail, never timed by earlier benches).
WIDENED = {"graph_degrees", "agg_rollup_pivot", "dedup_minhash_lsh_pairs",
           "streaming_windowed_aggs",
           "graph_pagerank", "graph_label_propagation",
           "dedup_ngram_jaccard_pairs", "simsearch_topk_cosine",
           "sample_stratified_hash", "scan_projection_pushdown"}


def _queries(path: str) -> dict[str, float]:
    d = json.load(open(path))
    if "parsed" in d:
        d = d["parsed"]
    return d["queries"]


def _load(path: str) -> dict:
    d = json.load(open(path))
    if "parsed" in d:
        d = d["parsed"]
    return d


def main() -> None:
    new_doc = _load(sys.argv[1])
    new = new_doc["queries"]
    base_doc = _load(sys.argv[2])
    base = base_doc["queries"]
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    spread_doc = _load(sys.argv[4]) if len(sys.argv) > 4 else {}
    spread = spread_doc.get("spread", {})
    # Provenance gate (ADVICE r10): a spread envelope fully exonerates
    # an over-threshold reading only if it was measured on the SAME
    # code as the baseline — otherwise a real regression baked into
    # the spread's own passes would excuse itself. bench.py stamps a
    # content hash of the code tree (hgn_spark/ __spark_entry__.py
    # bench.py — scripts/ is deliberately excluded; see
    # bench.py code_tree_hash) as "tree_hash" — the primary key
    # (VERDICT r11 #4: commit ids false-mismatch across log-only
    # commits; r11's spread was code-identical to the driver bench yet
    # one artifact commit apart, degrading INSPREAD to manual). The
    # commit id remains the fallback for pre-r12 artifacts that carry
    # no tree_hash. When provenance can't be established (driver
    # artifacts carry neither field) or doesn't match, rows are
    # downgraded to SPREADWARN — still listing the delta so a human
    # adjudicates — never silently cleared.
    #
    # The envelope must match the code of the READING UNDER TEST (the
    # NEW artifact): the claim being adjudicated is "NEW's over-line
    # value sits inside the noise band measured on the same code NEW
    # ran" — matching the baseline instead would demand the spread be
    # same-code with LAST round's tree, which is never true after any
    # code change and was the wrong key even when commits matched.
    spread_verified = (
        spread_doc.get("tree_hash") is not None
        and spread_doc.get("tree_hash") == new_doc.get("tree_hash")
    ) or (
        spread_doc.get("commit") is not None
        and spread_doc.get("commit") == new_doc.get("commit")
    )

    failures = []
    spread_warns = []
    for q, t in sorted(new.items()):
        names = MERGES.get(q, [q])
        eq = [n for n in names if n in base]
        if not eq:
            print(f"NEW      {q}: {t:.2f}s (no baseline equivalent)")
            continue
        b = sum(base[n] for n in eq)
        if b <= 0:
            # A 0.0s baseline row (rounded-to-zero fast query) has no
            # meaningful ratio — report it instead of dividing by zero.
            # Distinct tag from NEW (ADVICE r8): a baseline row EXISTS
            # here, so grep for genuinely-new rows must not match it.
            print(f"ZEROBASE {q}: {t:.2f}s (baseline recorded as 0s — incomparable)")
            continue
        ratio = t / b
        tag = "merged " if len(names) > 1 else ""
        if ratio > thresh and q in WIDENED:
            print(f"WIDENED  {q}: {t:.2f}s vs {b:.2f}s = {ratio:.2f}x "
                  f"(absorbed unbenched branches — attribute, don't fail)")
        elif ratio > thresh and q in spread and t <= spread[q]["max"]:
            # INSPREAD needs BOTH provenance and a fast-floor check
            # (ADVICE r12): the spread is recorded on the NEW code, so
            # a real regression would sit in every one of its passes —
            # "t <= spread max" alone would then self-exonerate.
            # Demand the spread's own FASTEST pass be under the line:
            # a genuine noise band straddles the threshold (its min is
            # a clean reading), a consistent regression does not.
            spread_min_ok = spread[q].get("min", spread[q]["max"]) <= thresh * b
            if spread_verified and spread_min_ok:
                print(f"INSPREAD {q}: {t:.2f}s vs {b:.2f}s = {ratio:.2f}x "
                      f"(<= recorded same-code max {spread[q]['max']:.2f}s "
                      f"over {spread[q]['passes']} passes, spread min "
                      f"{spread[q].get('min', spread[q]['max']):.2f}s under "
                      f"the {thresh}x line — noise, not code)")
            elif spread_verified:
                spread_warns.append((q, t, b, ratio))
                print(f"SPREADWARN {q}: {t:.2f}s vs {b:.2f}s = {ratio:.2f}x "
                      f"(same-code spread covers it, but even the spread's "
                      f"fastest pass {spread[q].get('min', float('nan')):.2f}s "
                      f"exceeds {thresh}x baseline — consistent slowdown, "
                      f"not noise; adjudicate manually)")
            else:
                spread_warns.append((q, t, b, ratio))
                sk = spread_doc.get("tree_hash") or spread_doc.get("commit") or "?"
                nk = new_doc.get("tree_hash") or new_doc.get("commit") or "?"
                print(f"SPREADWARN {q}: {t:.2f}s vs {b:.2f}s = {ratio:.2f}x "
                      f"(<= spread max {spread[q]['max']:.2f}s over "
                      f"{spread[q]['passes']} passes, but spread code "
                      f"{sk[:12]} != new-reading code {nk[:12]} — "
                      f"adjudicate manually)")
        elif ratio > thresh:
            over = (f", outside recorded max {spread[q]['max']:.2f}s"
                    if q in spread else "")
            failures.append((q, t, b, ratio))
            print(f"FAIL     {q}: {t:.2f}s vs {b:.2f}s = {ratio:.2f}x {tag}{over}")
        else:
            print(f"ok       {q}: {t:.2f}s vs {b:.2f}s = {ratio:.2f}x {tag}")
    if spread_warns:
        print(f"\n{len(spread_warns)} spread warning(s) — inside a spread "
              "envelope that either lacks matching code provenance or "
              "whose fastest pass is itself over the line; adjudicate "
              "before accepting")
    if failures:
        print(f"\n{len(failures)} regression(s) over {thresh}x")
        sys.exit(1)
    print(f"\nno regressions over {thresh}x")


if __name__ == "__main__":
    main()
