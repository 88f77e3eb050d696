"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed as a full pipeline and drained with a noop
write — `count()` lets Catalyst prune unreferenced window/agg
expressions, so it under-measures real work (VERDICT r1 #3); the noop
sink evaluates every output column without collecting to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO))

# Headline set: one per operator family, weighted toward the shapes that
# dominate at 100 TB (joins, wide aggs, windows, dedup, similarity, graph).
# Suite passes; per-query min across passes (see timing loop). The
# spread protocol (VERDICT r9 #6) raises this to >=4 via the env var
# and records per-query min/median/max, so cross-round regression
# checks can tell "over the line but inside the recorded noise
# envelope" from a real slowdown.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))

HEADLINE = [
    "flagship_revenue_by_nation",
    "pricing_summary",
    "scan_projection_pushdown",
    "join_asof_prev_order",
    "join_theta_multikey",
    "topk_per_group_and_global",
    # running-sum + lag + sessionize branches in one driver row (r7
    # window consolidation; absorbs the former sessionize_events row)
    "window_running_lag",
    "explode_array_and_map",
    "decontaminate_ngram_overlap",
    "agg_rollup_pivot",
    # minhash + simhash + SRP branches merged into one driver row (r7
    # window consolidation)
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_canonical_groups",
    "dedup_exact_incremental",
    "dedup_semantic_clusters",
    "sample_stratified_hash",
    "heavy_hitters_user_events",
    # exact + IVF seed/kmeans variants merged into one driver row (r7
    # window consolidation) — its timing is the sum of what the two
    # pre-r7 rows measured.
    "simsearch_topk_cosine",
    "embedding_quantize_int8",
    "text_profile",
    "chunk_documents",
    "text_vocab_top_pairs",
    "text_tfidf_topterms",
    "corpus_source_report",
    "redact_pii_docs",
    "multimodal_decode_resize",
    "graph_degrees",
    "graph_triangles_clustering",
    "graph_rmetrics",
    "graph_betweenness_k2",
    "graph_connected_components",
    "graph_kcore",
    "graph_pagerank",
    "graph_label_propagation",
    "hgn_communities",
    "pipeline_curation_report",
    "streaming_windowed_aggs",
    "streaming_dedup_events",
    "streaming_session_windows",
    # new r7 hash-checked driver rows (bench tracks driver rows)
    "streaming_static_enrich",
    "streaming_stateful_user_counts",
    # r9 (VERDICT r8 #2): the 9 driver rows that previously had no
    # recorded bench point — all cheap, but a regression in any of
    # them was invisible to bench_regression. With these, every one
    # of the 50 driver-window rows has a per-round timing.
    "agg_having_distinct",
    "graph_shortest_paths_k2",
    "join_outer_variants",
    "join_semi_anti",
    "join_struct_key",
    "json_date_daily",
    "multimodal_binary_meta",
    "setops_family",
    "streaming_stream_stream_join",
]

# Dedicated re-spread of a row subset (VERDICT r12 #6: adjudicating
# two 1.3x-straddling rows needs a 5-pass spread of JUST those rows in
# one idle window, without paying the full 50-row suite per pass).
# Comma-separated row names; unknown names are reported as MISSING by
# the normal path. The artifact keeps the same shape (queries/spread/
# tree_hash), so bench_regression.py consumes it unchanged — but it is
# NOT a headline artifact: the total covers only the subset.
_ONLY = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
if _ONLY:
    _keep = [q.strip() for q in _ONLY.split(",") if q.strip()]
    HEADLINE = [q for q in HEADLINE if q in _keep] + [
        q for q in _keep if q not in HEADLINE
    ]


def code_tree_hash() -> str | None:
    """sha256 over the sorted (path, bytes) of every tracked file under
    the paths that determine bench timings: hgn_spark/,
    __spark_entry__.py, bench.py. Reads WORKING-TREE contents (not git
    blobs), so an uncommitted edit changes the hash — the provenance
    question is "was the measured code identical", not "was HEAD
    identical".

    scripts/ is deliberately EXCLUDED: probe and adjudication tooling
    never executes inside a bench run, and including it reproduced the
    r11 false-mismatch one level down — this round's first spread was
    invalidated by a probe-script commit that could not have changed a
    single timing."""
    import hashlib
    import subprocess

    try:
        ls = subprocess.run(
            ["git", "ls-files", "-z", "hgn_spark",
             "__spark_entry__.py", "bench.py"],
            capture_output=True,
            cwd=str(_REPO),
            timeout=10,
            check=True,
        )
        h = hashlib.sha256()
        for rel in sorted(p for p in ls.stdout.decode().split("\0") if p):
            f = _REPO / rel
            if not f.is_file():
                continue  # tracked but deleted in the working tree
            h.update(rel.encode())
            h.update(b"\0")
            h.update(f.read_bytes())
            h.update(b"\0")
        return h.hexdigest()
    except Exception:  # noqa: BLE001 — provenance is best-effort
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Host-contention baseline BEFORE the session spins up: the
    # end-of-run load average (recorded below) includes the bench's own
    # 32 executor threads, so only the start reading distinguishes "the
    # window was busy" from "the bench was running" (VERDICT r11 #8;
    # the r12 spread measured a window where even a warm 1-second query
    # ran 1.7x slow at idle load — the start/end pair plus tree_hash is
    # what lets a judge attribute that without re-deriving it).
    try:
        load_avg_start = round(os.getloadavg()[0], 2)
    except Exception:  # noqa: BLE001 — context is best-effort
        load_avg_start = None

    from hgn_spark.session import get_spark
    from hgn_spark.registry import load_all

    specs = load_all()
    spark = get_spark(app_name="hgn_spark_bench")

    # Warm the ENGINE once, untimed — so per-query timings measure
    # steady-state throughput (what matters at 100 TB, where session
    # startup amortizes to zero) rather than billing one-time session
    # costs to whichever query happens to run first:
    #   - parquet footer/codec paths + a shuffle (exchange + AQE machinery)
    #   - whole-stage codegen compiler warm-up
    #   - the Python worker pool (mapInPandas spawns one worker per core
    #     on first use — ~10 s on local[32] that would otherwise land on
    #     the first Arrow-batched query)
    #   - the noop datasource used as the drain
    try:
        nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        nation.groupBy("n_regionkey").count().write.format("noop").mode(
            "overwrite"
        ).save()
        spark.range(spark.sparkContext.defaultParallelism * 2).repartition(
            spark.sparkContext.defaultParallelism
        ).mapInPandas(lambda it: (pdf for pdf in it), schema="id long").write.format(
            "noop"
        ).mode("overwrite").save()
        #   - the higher-order-function evaluator (zip_with/aggregate/
        #     transform lambdas run interpreted + trigger a one-time ~5 s
        #     JIT/codegen warm-up that would otherwise bill to the first
        #     embedding query) and the window-exec path
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as _F

        _v = spark.range(64).agg(
            _F.collect_list(_F.col("id").cast("double")).alias("a")
        )
        _v.select(
            _F.aggregate(
                _F.zip_with("a", "a", lambda x, y: x * y),
                _F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dot"),
            _F.transform("a", lambda x: x * 2).alias("t"),
        ).write.format("noop").mode("overwrite").save()
        spark.range(256).withColumn(
            "rn",
            _F.row_number().over(
                _W.partitionBy(_F.col("id") % 8).orderBy(_F.col("id").desc())
            ),
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 — warm-up must never kill the run
        # The contract is ONE JSON line on stdout, exit 0 — a warm-up
        # failure (e.g. a missing table in a custom SF dir) only means
        # first-query timings carry the one-time session costs.
        print(f"# WARMUP FAILED (continuing cold): {exc}", file=sys.stderr)

    # N_RUNS full passes over the suite, session caches cleared between
    # passes, per-query minimum across passes. Within a pass the
    # session-scoped caches behave exactly as in a production session
    # (the shingle index is built once and billed to the first dedup
    # query); clearing between passes keeps the repeat honest — pass 2
    # re-does the real work rather than reading checkpoints back. The
    # min strips host-contention noise (single-shot numbers on a shared
    # box swing 2-3x) and per-plan codegen compilation, i.e. it reports
    # the steady-state throughput the warm-up preamble already targets.
    from hgn_spark.registry import clear_session_caches

    # Untimed per-query warm pass (r9, VERDICT r8 #3): the fragility
    # probe (PROBE_hh_fragility_r9.json) showed sub-second rows decline
    # ~2x across their first executions even alone and engine-warmed
    # (heavy_hitters: 1.85 s -> 0.75 s over 8 reps — per-plan codegen +
    # JIT warm-in), and the driver's anomalous r8 reading (1.41 s,
    # 2.03x) is exactly that early-regime value: under host contention
    # the warm-in is slower, so min-of-2 lands before steady state.
    # One untimed execution per query moves both timed passes into the
    # steady-state regime the suite is defined to measure; session
    # caches are cleared afterwards so pass 1 still pays real build
    # costs.
    # Arrow/Python-worker rows (the multimodal family) warm in deeper
    # than JVM-only plans: the r10 warm-in probe
    # (PROBE_multimodal_warmin_r10.json) shows steady state around the
    # 4th execution, while warm+2-timed stops at 3 — exactly the
    # regime where the r9 driver read 1.62x on byte-identical code
    # (VERDICT r9 what's-wrong #1). Those rows get a second untimed
    # warm execution so both timed passes land in steady state.
    for name in HEADLINE:
        spec = specs.get(name)
        if spec is None:
            continue
        warm_execs = 2 if "multimodal" in spec.tags else 1
        try:
            for _ in range(warm_execs):
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — timed passes will record it
            print(f"# WARM-PASS ERROR {name}: {exc}", file=sys.stderr)
    # blocking=True: the warm pass parked a whole suite's checkpoint
    # blocks; releasing them async would drain DURING pass 1 and bill
    # multi-second cleanup pauses to whichever queries run first
    # (measured: hgn 39 s / pagerank 28 s in pass 1 with the async
    # clear vs ~7 s / ~4 s steady state). Drain synchronously, then GC
    # untimed, so every timed pass starts from a quiet block manager.
    clear_session_caches(blocking=True)
    spark.sparkContext._jvm.System.gc()

    per_pass: list[dict[str, float]] = []
    missing = []
    pass_errors: dict[str, str] = {}
    for pass_i in range(N_RUNS):
        if pass_i > 0:
            clear_session_caches(blocking=True)
            spark.sparkContext._jvm.System.gc()
        timings_pass: dict[str, float] = {}
        missing = []
        for name in HEADLINE:
            spec = specs.get(name)
            if spec is None:
                missing.append(name)
                print(f"# MISSING headline query: {name}", file=sys.stderr)
                continue
            # No skip on a prior-pass error: the min-across-passes
            # exists to absorb transient host noise, and a transiently
            # erroring query (contention OOM in pass 1) deserves its
            # retry — otherwise it silently vanishes from the total and
            # round-over-round comparisons read as a speedup.
            # Force a JVM GC before each timed query. The iterative
            # queries (HGN loop, connected components, dedup family)
            # release dozens of localCheckpoint block sets whose actual
            # cleanup is asynchronous (ContextCleaner runs on weak-ref
            # collection); without this, one query's cleanup bills as GC
            # pauses inside the NEXT query's timing — measured ±3s swings
            # on collect_set_sorted depending on suite position. The GC
            # itself runs untimed, as inter-job idle would on a cluster.
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, sf_dir)
                # Full-evaluation drain: every column computed, nothing
                # collected.
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — record, keep benching
                # First line only, capped: the full message (query plans,
                # stack frames) can run to kilobytes and push the JSON line
                # past the driver's stdout capture window, making it
                # unparseable.
                msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:200]
                pass_errors[name] = msg
                print(f"# ERROR {name}: {msg}", file=sys.stderr)
                continue
            timings_pass[name] = time.perf_counter() - t0
            print(
                f"# pass {pass_i + 1} {name}: {timings_pass[name]:.3f}s",
                file=sys.stderr,
            )
        per_pass.append(timings_pass)

    timings = {
        name: round(min(p[name] for p in per_pass if name in p), 4)
        for name in HEADLINE
        if any(name in p for p in per_pass)
    }
    # A query is an ERROR only if no pass succeeded; a success in any
    # pass yields a timing and drops the transient error record — one
    # unambiguous story per query for consumers of the JSON.
    errors = {n: m for n, m in pass_errors.items() if n not in timings}

    # Per-branch wall times for the multi-branch rows of
    # hgn_spark.branches.BRANCH_ROLES: a row's headline time mixes its
    # ground-truth yardsticks with its production branches, so time
    # each branch's own drain once, after the timed passes, in a
    # non-headline field — filtering the unioned row on its branch
    # literal folds every other arm to an empty relation (constant
    # folding + PropagateEmptyRelation), so each drain executes that
    # branch's subtree only. Caveats recorded with the data: shared
    # session-cached builds bill to the FIRST branch of a row that
    # needs them, and driver-side sizing scalars (counts, nprobe
    # calibration) re-run per drain — the numbers attribute a row's
    # widening, they are not additive to the headline min.
    from pyspark.sql import functions as _Fb

    from hgn_spark.branches import BRANCH_ROLES

    branch_timings: dict[str, dict[str, float]] = {}
    for row, (bcol, roles, _note) in BRANCH_ROLES.items():
        spec = specs.get(row)
        if spec is None or row not in timings:
            continue
        clear_session_caches(blocking=True)
        per: dict[str, float] = {}
        for label in roles:
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            try:
                spec.fn(spark, sf_dir).filter(
                    _Fb.col(bcol) == label
                ).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — keep the rest
                msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:120]
                print(f"# BRANCH ERROR {row}/{label}: {msg}", file=sys.stderr)
                continue
            per[label] = round(time.perf_counter() - t0, 4)
            print(f"# branch {row}/{label}: {per[label]:.3f}s", file=sys.stderr)
        branch_timings[row] = per

    total = round(sum(timings.values()), 4)
    out = {
        # ADVICE r13 #2: a subset run (SPARK_GRAFT_BENCH_ONLY) must not
        # masquerade as a full headline artifact — distinct metric name
        # plus the filter itself stamped below, so a subset artifact
        # mistaken for a baseline is detectable by shape, not memory.
        "metric": (
            "subset_query_wall_clock_total"
            if _ONLY
            else "headline_query_wall_clock_total"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": N_RUNS,
        "agg": "min",
        "branch_timings": branch_timings,
        "branch_timings_note": (
            "single post-pass drain per labeled branch (other union arms "
            "constant-fold to empty); first branch of a row absorbs "
            "session-cached shared builds; driver-side sizing scalars "
            "re-run per drain — attributes row widening, not additive "
            "to the headline min"
        ),
    }
    # Low-core runs self-identify (VERDICT r14 #9): at sf0.1 most rows
    # are orchestration/barrier-bound, so 8-core timings close to the
    # 32-core ones are EXPECTED, not evidence that $SPARK_GRAFT_CPUS is
    # ignored — parallel-scaling claims at this SF come from the >=100x
    # probes instead.
    _cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if _cpus < 16:
        out["scaling_note"] = (
            f"run at {_cpus} cores: sf{sf} rows are dominated by fixed "
            "per-action driver/barrier costs, so near-1x ratios vs a "
            "32-core run are expected at this scale factor"
        )
    # Code provenance for the spread protocol (ADVICE r10): a spread
    # envelope only excuses an over-threshold reading if it was
    # measured on the same code — bench_regression.py compares this
    # field between the spread artifact and the reading under test.
    try:
        import subprocess

        out["commit"] = (
            subprocess.run(
                ["git", "rev-parse", "HEAD"],
                capture_output=True,
                text=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:  # noqa: BLE001 — provenance is best-effort
        out["commit"] = None
    # Content-addressed provenance (VERDICT r11 #4): commit ids
    # false-mismatch when a log-only commit (PROGRESS.jsonl, artifact
    # files) lands between the spread run and the driver bench — r11's
    # spread was recorded one commit before HEAD on an identical code
    # tree and the INSPREAD adjudication degraded to manual. tree_hash
    # covers exactly the code that determines query timings, so
    # bench_regression.py can verify same-code across log-only commits.
    out["tree_hash"] = code_tree_hash()
    # Host-contention context (VERDICT r11 #8): the driver bench lands
    # ~9% uniformly high whenever its window is busy (r9, r11). The
    # 1-minute load average and process count at the end of the run let
    # adjudication distinguish contention from regression without
    # re-deriving it.
    try:
        out["load_avg"] = round(os.getloadavg()[0], 2)
        out["load_avg_start"] = load_avg_start
        out["n_procs"] = sum(1 for p in os.listdir("/proc") if p.isdigit())
    except Exception:  # noqa: BLE001 — context is best-effort
        pass
    if N_RUNS >= 3:
        # Per-query noise envelope over all passes — the committed
        # BENCH_rN_spread.json record bench_regression.py consults.
        import statistics

        out["spread"] = {
            name: {
                "min": round(min(vals), 4),
                "median": round(statistics.median(vals), 4),
                "max": round(max(vals), 4),
                "passes": len(vals),
            }
            for name in timings
            for vals in [[p[name] for p in per_pass if name in p]]
        }
    if missing:
        out["missing"] = missing
    if errors:
        out["errors"] = errors
    if _ONLY:
        out["row_filter"] = _keep
    js = json.dumps(out)
    print(js)
    # Truncation hardening (VERDICT r13 what's-wrong #3): the driver's
    # r13 artifact lost the headline because a clipped stdout pipe cut
    # the one JSON line mid-row. Also write the identical line to a
    # well-known file so any consumer can recover the whole artifact.
    try:
        (_REPO / "BENCH_last.json").write_text(js + "\n")
    except Exception as exc:  # noqa: BLE001 — the stdout line is the contract
        print(f"# BENCH_last.json write failed: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
