"""Branch-role registry: which labeled branches of a multi-branch driver
row are GROUND-TRUTH yardsticks (exact computations kept so the driver
hash proves each approximate production path against exact truth —
not built for probe scale) vs PRODUCTION-AT-SCALE (the path a 100 TB
deployment runs, probed at 100x/300x).

This is the single source of truth: ARCHITECTURE.md's table is
rendered from it (``python -m hgn_spark.branches``, pinned verbatim by
tests/test_plan_guard.py), the scale probes consult it before timing a
composite row (scripts/scale_probe_heavy.py warns-and-skips composites
whose ground-truth branches would dominate the probe unless they are
selected explicitly), and tests/test_plan_guard.py asserts the labels
match the rows' actual branch values so the map cannot rot.

Rows absent from this map are single-path: their registered query IS
the production shape.
"""

from __future__ import annotations

GROUND_TRUTH = "ground-truth"
PRODUCTION = "production-at-scale"

# row name -> (branch column, {branch label -> role}, note)
BRANCH_ROLES: dict[str, tuple[str, dict[str, str], str]] = {
    "simsearch_topk_cosine": (
        "variant",
        {
            # exact: the recall ground truth — structurally quadratic
            # (queries grow with the corpus x a full scan each).
            "exact": GROUND_TRUTH,
            # ivf_adaptive: sqrt-n centroids keep the assign at
            # n x sqrt(n) — the QUERY-side production dial; the
            # BUILD-side production path is ivf_linear. nprobe is
            # RECALL-CALIBRATED on the built index (ivf_calibrate_nprobe,
            # target 90%): PROBE_ivf_build_r12 measured every fixed
            # nprobe's recall decaying with n (0.95 -> 0.44-0.51 at
            # 100x) because nlist ~ sqrt(n) makes a pinned dial probe a
            # shrinking fraction of lists.
            # Corpus-shape caveat (PROBE_ivf_calibrated_r13): on
            # ISOTROPIC data the calibrated dial honestly comes back
            # large (~0.3*nlist probed) — IVF buys only ~3x over brute
            # force there, because structureless vectors give centroids
            # no locality to exploit. On clustered corpora the same
            # calibration probes 0.13-0.26 of lists at equal recall.
            "ivf_adaptive": PRODUCTION,
            # lsh_adaptive: occupancy-targeted SRP width — 4.7x at 100x.
            "lsh_adaptive": PRODUCTION,
            # ivf_linear: the linear-build topology (sampled Lloyd +
            # SRP-bucket assign + rescue) driver-hashed —
            # PROBE_ivf_build: 0.94x build growth per 3x data vs 4.68x
            # for the exact assign. Same calibrated nprobe as
            # ivf_adaptive, sized on ITS index (the approximate assign
            # shifts the curve, so each index calibrates itself).
            "ivf_linear": PRODUCTION,
        },
        "ANN row; production branches probed at 100x/300x "
        "(PROBE_100x_mitigations_r10, PROBE_300x_guards_r10); linear-build "
        "recall sweep in PROBE_ivf_build_r12.",
    ),
    "dedup_minhash_lsh_pairs": (
        "method",
        {
            # minhash_recall: minhash_recall_perms solves bands for the
            # stated (J=0.8, R=0.95) point -> 24 perms / 6 bands,
            # expected 0.958 at the threshold itself.
            # PROBE_text_clustered_r14 measures the J>=0.80 stratum at
            # 1.0 / 0.9899 on the 6k / 20k mega-bucket corpora and 1.0
            # everywhere above. Collision probability is n-independent
            # (set resemblance), so no corpus-growth dial is needed.
            "minhash_recall": PRODUCTION,
            # simhash_manku: C(6,3)=20 combination tables, 24-bit keys —
            # every pair within the hamming bound by pigeonhole (recall
            # 1.0), driver-hashed against the 4 x 12-bit chunk-keyed
            # oracle, whose verified pairs are identical.
            "simhash_manku": PRODUCTION,
            # srp_recall: recall-targeted multi-band sizing
            # (srp_recall_bands) — measured 1.0/0.96/0.97 recall at
            # cos>=0.9 across sf0.1/10x/30x, flat under growth, for
            # b ~ n^0.22 bands. An explicit SRP_MAX_BANDS=256 budget
            # WARNS with the quantified effective recall when it binds
            # (~5*10^8 vectors at cos 0.9 / R 0.95); shortfall measured
            # at a binding-region tier in PROBE_srp_cap_r13.
            "srp_recall": PRODUCTION,
        },
        "Sketch row; recall in PROBE_recall_r11 (simhash), "
        "PROBE_recall_r12 (srp, planted cos>=0.9 pairs) and "
        "PROBE_text_clustered_r14 (minhash).",
    ),
    "dedup_ngram_jaccard_pairs": (
        "op",
        {
            # all/vs_corpus/in_batch: exact-jaccard truth over the
            # UNCAPPED inverted index — correct at any scale the
            # shingle df distribution allows, but mega-buckets are
            # unguarded; the capped twins are what ships against
            # adversarial corpora.
            "all": GROUND_TRUTH,
            "vs_corpus": GROUND_TRUTH,
            "in_batch": GROUND_TRUTH,
            "cap": PRODUCTION,
            "vs_corpus_cap": PRODUCTION,
            "in_batch_cap": PRODUCTION,
        },
        "Exact-jaccard row; PROBE_recall_r11 sizes the production "
        "df_cap (the driver CAP_DF=2 keeps the hash proof non-vacuous "
        "at sf0.01 but is NOT a production value). "
        "PROBE_text_clustered_r13 measures the capped path at recall "
        "1.0 in every stratum ON the mega-bucket distribution the cap "
        "exists for (boilerplate df 300/1000 >> cap 16), with the "
        "dispatch choosing it automatically.",
    ),
}

# Composite registered rows whose callable unions a ground-truth
# yardstick with production branches — a scale probe that times the
# WHOLE row measures the quadratic exact scan (simsearch's `exact`
# top-k: queries grow with the corpus, each a full scan), not the
# engine's scale path.
COMPOSITE_SCALE_UNSAFE = {
    "simsearch_row": "simsearch_topk_cosine",
}


def roles_for(row: str) -> dict[str, str] | None:
    entry = BRANCH_ROLES.get(row)
    return entry[1] if entry else None


def render_table() -> str:
    """Markdown table for ARCHITECTURE.md."""
    lines = [
        "| row | branch column | branch | role | note |",
        "|---|---|---|---|---|",
    ]
    for row, (col, roles, note) in BRANCH_ROLES.items():
        first = True
        for label, role in roles.items():
            lines.append(
                f"| {row if first else ''} | {col if first else ''} "
                f"| `{label}` | {role} | {note if first else ''} |"
            )
            first = False
    return "\n".join(lines)


if __name__ == "__main__":
    print(render_table())
