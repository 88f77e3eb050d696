"""Benchmark command: generate seeded inputs, run one workload's rows in a
closed loop on ``local[nproc]``, check every output against its DuckDB
oracle and print one JSON result line.

    python3 perfbench/run.py --workload hgn_social --seed 1 --seconds 10 --trace 0

Run from the repository root. See perfbench/README.md for the workloads,
metrics and the traced run (``--trace 1``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# Each workload's rows, run in this order once per pass; `items` names the
# input count its throughput is normalized by.
WORKLOADS = {
    "hgn_social": {
        "rows": ("hgn_communities", "graph_label_propagation", "graph_kcore"),
        "items": "edges",
    },
    "corpus_curation": {
        "rows": (
            "pipeline_curation_report", "dedup_ngram_jaccard_pairs",
            "embedding_quantize_int8", "streaming_dedup_events",
            "join_outer_variants",
        ),
        "items": "documents",
    },
}
DRIVER_MEM = "4g"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def code_tree_hash() -> str:
    """sha256 over the sorted (path, bytes) of hgn_spark/, __spark_entry__.py
    and bench.py: the file set bench.code_tree_hash covers, read from the
    file system because a benchmark checkout need not be a git repository."""
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    for d, dirs, names in os.walk(os.path.join(ROOT, "hgn_spark")):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        files += [os.path.join(d, n) for n in names if not n.endswith(".pyc")]
    h = hashlib.sha256()
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
            h.update(b"\0")
    return h.hexdigest()


def java_pid(spark) -> int | None:
    """pid of the driver JVM: the gateway process execs into java."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def live_heap_mb(spark) -> float:
    """Driver heap in use after a full collection: what the session keeps
    alive (cached frames, checkpoint blocks, streaming state, the status
    store) once the measured loop is over."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the steal column of /proc/stat). Its growth over the
    measured loop tells a host-contention outlier from a slow program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | None) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --- oracle gate -------------------------------------------------------------


def normalize(df):
    """The normalization of tests/test_oracle_parity.py: columns sorted by
    name, floats rounded to 6 places (-0.0 folded), ints widened, datetimes
    tz-naive, rows sorted."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype in ("float64", "float32"):
            df[c] = df[c].astype("float64").round(6) + 0.0
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _family(dtype) -> str:
    s = str(dtype)
    for prefix, fam in (("int", "int"), ("uint", "int"), ("Int", "int"),
                        ("UInt", "int"), ("float", "float"), ("Float", "float"),
                        ("datetime", "datetime")):
        if s.startswith(prefix):
            return fam
    return s


def mismatch(got, want) -> str | None:
    """None when the two raw frames agree, else the first difference."""
    gf = {c: _family(got[c].dtype) for c in got.columns}
    wf = {c: _family(want[c].dtype) for c in want.columns}
    if gf != wf:
        return f"dtype families {gf} vs {wf}"
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"row count {len(g)} vs {len(w)}"
    for c in g.columns:
        bad = ~((g[c].isna() & w[c].isna()) | (g[c] == w[c]))
        if bad.any():
            return f"column {c} differs in {int(bad.sum())} row(s)"
    return None


def oracle_sql(spec, truth: dict) -> str:
    """The row's registered oracle, except that graph_kcore's unrolled peel
    is widened to the generated graph's peel profile when the registered
    bounds are too small for it: an oracle unrolled short of a level's
    fixpoint under-counts core numbers, so it would reject a correct
    answer. Wider bounds only add no-op rounds and empty levels."""
    peel = truth.get("kcore_peel")
    if spec.name != "graph_kcore" or not peel:
        return spec.oracle
    from hgn_spark.graph import queries

    levels = max(queries._KCORE_LEVELS, peel["levels"])
    rounds = max(queries._KCORE_ROUNDS, peel["rounds"] + 1)
    log(f"oracle graph_kcore unrolled to {levels} levels x {rounds} rounds")
    return queries._kcore_oracle(levels, rounds)


def oracle_results(specs, rows, table_dir, truth) -> dict:
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{table_dir}/{f}'")
    out = {}
    for r in rows:
        t0 = time.perf_counter()
        try:
            out[r] = con.execute(oracle_sql(specs[r], truth)).fetchdf()
            log(f"oracle {r} {time.perf_counter() - t0:.2f}s")
        except Exception:  # noqa: BLE001 — a failing oracle fails its row
            log(f"oracle {r} failed:\n{traceback.format_exc()}")
            out[r] = None
    con.close()
    return out


# --- the run ------------------------------------------------------------------


class NoTracer:
    def span(self, layer, name, root=False):
        import contextlib

        return contextlib.nullcontext()


def execute(spark, spec, table_dir, tracer, layer):
    """One execution: build the frame (construct), then collect it (drain)."""
    t0 = time.perf_counter()
    with tracer.span(layer, spec.name, root=True):
        df = spec.fn(spark, table_dir)
    with tracer.span("drain", spec.name, root=True):
        pdf = df.toPandas()
    return time.perf_counter() - t0, pdf


def run_pass(spark, specs, rows, table_dir, tracer, outputs, failures, latencies):
    from hgn_spark.registry import clear_session_caches
    from tracing import layer_of_module

    t0 = time.perf_counter()
    with tracer.span("registry", "clear_session_caches", root=True):
        clear_session_caches(blocking=True)
    for r in rows:
        try:
            dt, pdf = execute(spark, specs[r], table_dir, tracer,
                              layer_of_module(specs[r].fn.__module__))
        except Exception:  # noqa: BLE001 — a failed execution is counted
            log(f"{r} failed:\n{traceback.format_exc()}")
            failures.append(r)
            continue
        latencies.append(dt)
        outputs.append((r, pdf))
    return time.perf_counter() - t0


def warm_pass(spark, specs, rows, table_dir, outputs, failures):
    """Set-up's warm execution: every row once, concurrently, so the
    first-execution costs (codegen, JIT, Python workers) overlap."""
    from concurrent.futures import ThreadPoolExecutor

    from hgn_spark.registry import clear_session_caches

    clear_session_caches(blocking=True)
    with ThreadPoolExecutor(len(rows)) as pool:
        futures = {
            r: pool.submit(execute, spark, specs[r], table_dir, NoTracer(), "warm")
            for r in rows
        }
    for r, fut in futures.items():
        try:
            dt, pdf = fut.result()
            log(f"warm {r} {dt:.2f}s")
            outputs.append((r, pdf))
        except Exception:  # noqa: BLE001 — a failed execution is counted
            log(f"{r} failed in the warm pass:\n{traceback.format_exc()}")
            failures.append(r)


def planted_recall(outputs, planted_pairs) -> float:
    """Share of the planted near-duplicate pairs that the whole-corpus
    branch of dedup_ngram_jaccard_pairs returned (0 without such pairs)."""
    planted = {(min(a, b), max(a, b)) for a, b, _j in planted_pairs}
    found = set()
    for r, pdf in outputs:
        if r == "dedup_ngram_jaccard_pairs":
            sub = pdf[pdf["op"] == "all"]
            found |= set(zip(sub["d1"].astype(int), sub["d2"].astype(int)))
    return len(planted & found) / len(planted) if planted else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hgn_spark", "session.py")):
        log(f"hgn_spark not found under {ROOT}: run from a repository checkout")
        return 2
    load_avg_start = os.getloadavg()[0]
    wl = WORKLOADS[args.workload]
    sys.path[:0] = [ROOT, HERE]
    import gen

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    inputs = gen.generate(args.workload, args.seed,
                          os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}"))
    table_dir = inputs["table_dir"]
    n_items = (inputs["truth"]["edges"] if wl["items"] == "edges"
               else inputs["rows"]["documents"])
    nproc = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(WORK, d) for k, d in (
        ("SPARK_LOCAL_DIRS", "spark-local"), ("SPARK_GRAFT_CKPT", "ckpt"),
        ("SPARK_GRAFT_WAREHOUSE", "warehouse"), ("TMPDIR", "tmp"),
        ("results", "results"),
    )}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({k: v for k, v in dirs.items() if k != "results"})
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

    # --- set-up: session, registry, one untimed warm pass ---------------
    t_setup = time.perf_counter()
    t_session = time.time()
    from hgn_spark.session import _DEFAULTS, get_spark

    java_opts = re.sub(
        r"-Dderby\.system\.home=\S+",
        f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        _DEFAULTS["spark.driver.extraJavaOptions"],
    ) + f" -Djava.io.tmpdir={dirs['TMPDIR']}"
    spark = get_spark(extra_conf={
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    })
    t_session_end = time.time()
    try:
        from hgn_spark.registry import load_all

        specs = load_all()
        rows = wl["rows"]
        outputs: list = []
        failures: list = []
        warm_pass(spark, specs, rows, table_dir, outputs, failures)
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f}s")

        tracer = NoTracer()
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext, run_id)
            tracer.record("session", "get_spark", t_session, t_session_end)
            tracer.mark_start()
            tracer.install()

        # --- measured closed loop ---------------------------------------
        pass_times: list[float] = []
        latencies: list[float] = []
        steal_start = steal_s()
        t_run = time.perf_counter()
        while not pass_times or time.perf_counter() - t_run < args.seconds:
            # Each pass starts from a collected heap, so garbage left by the
            # warm-up or a previous pass is not billed to it.
            spark.sparkContext._jvm.java.lang.System.gc()
            n_done = len(latencies)
            pass_times.append(run_pass(spark, specs, rows, table_dir, tracer,
                                       outputs, failures, latencies))
            rows_s = " ".join(f"{x:.2f}" for x in latencies[n_done:])
            log(f"pass {len(pass_times)} {pass_times[-1]:.2f}s (rows: {rows_s})")
        steal_run = steal_s() - steal_start
        memory = {"jvm.peak_rss_mb": vm_hwm_mb(java_pid(spark))}
        if args.trace:
            memory["jvm.live_heap_mb"] = live_heap_mb(spark)
        sc = spark.sparkContext
        context = {
            "nproc": nproc, "default_parallelism": sc.defaultParallelism,
            "master": sc.master, "load_avg_start": load_avg_start,
            "steal_s": steal_run,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "code_tree_hash": code_tree_hash(), "content_hash": inputs["content_hash"],
            "input_rows": inputs["rows"], "items": {wl["items"]: n_items}, **memory,
            "query_p50_s": statistics.median(latencies) if latencies else None,
        }
        if args.trace:
            per_layer = trace_metrics(tracer, pass_times, run_id)
            per_layer.update(memory)
    finally:
        t_stop = time.perf_counter()
        shutdown(spark)
        log(f"shutdown {time.perf_counter() - t_stop:.2f}s")

    # --- oracle gate (after timing) ------------------------------------------
    want = oracle_results(specs, rows, table_dir, inputs["truth"])
    mismatched = []
    for r, pdf in outputs:
        why = "oracle failed" if want[r] is None else mismatch(pdf, want[r])
        if why:
            mismatched.append([r, why])
            log(f"MISMATCH {r}: {why}")
    attempted = len(outputs) + len(failures)
    failed = len(failures) + len(mismatched)

    if args.trace:
        per_layer["operators.dedup.planted_recall"] = planted_recall(
            outputs, inputs["truth"].get("planted_pairs", []))
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(per_layer.items())}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "items_per_s": {"value": n_items / statistics.median(pass_times),
                            "unit": "items/s"},
        }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": setup_s, "passes": pass_times, "latencies": latencies,
        "error_rate": failed / attempted, "failed_rows": failures,
        "mismatched_rows": mismatched, "context": context, "metrics": metrics,
    }
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for k, m in metrics.items():
        log(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    log(f"{args.workload} error_rate = {failed}/{attempted} = "
        f"{failed / attempted:.4f} fraction")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def trace_metrics(tracer, pass_times: list[float], run_id: str) -> dict[str, float]:
    """Per-layer and run-wide numbers of the traced region, per measured
    pass. Raises TraceError when the counters cannot be trusted."""
    from tracing import TraceError

    counters = tracer.collect()
    tracer.uninstall()
    tracer.dump(os.path.join(WORK, "results", f"spans-{run_id}.jsonl"))
    n = len(pass_times)
    out = tracer.layer_metrics(n)
    out.update({f"spark.{k}": v / n for k, v in counters.items()})
    roots = [s for s in tracer.spans if s.parent is None]
    out["construct_s"] = sum(
        s.end - s.start for s in roots if s.layer not in ("drain", "registry", "session")
    ) / n
    out["drain_s"] = sum(s.end - s.start for s in roots if s.layer == "drain") / n
    hgn_calls = tracer.calls("graph.hgn", "hgn_communities")
    out["graph.hgn.steps"] = (
        tracer.calls("graph.rmetrics", "r_metrics_edges_pairs") / hgn_calls
        if hgn_calls else 0.0
    )
    out["trace.pass_s"] = statistics.median(pass_times)
    negative = {k: v for k, v in out.items() if v < 0}
    if negative:
        raise TraceError(f"negative counters: {negative}")
    return out


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s") or name in ("construct_s", "drain_s"):
        return "s"
    if leaf.endswith("bytes"):
        return "bytes"
    if leaf == "gc_ms":
        return "ms"
    if name == "operators.dedup.planted_recall":
        return "ratio"
    if leaf.endswith("_mb"):
        return "MB"
    if name == "graph.hgn.steps":
        return "steps"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
