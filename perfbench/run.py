"""Benchmark of the raster→DGGS indexing and cell-join engine, with the
checkpointed write as layer probes, on local[N] (N = available cores, at
most 4).

    python3 perfbench/run.py --workload index_agg --seed 1 --seconds 10 --trace 0

Runs from the repository root.  Generates the workload's inputs from the
seed, builds a NumPy reference, warms up with two checked passes, then runs
checked passes for ``--seconds`` and prints one JSON object as the last
line of stdout: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (spans, Spark stage/task metrics, layer probes) with ``--trace 1``.
Spans are written as JSON lines under ``.perfbench_work/spans/``.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from observe import ProcTree, SparkRest, Tracer, node_metric
from workloads import WORKLOADS, Ctx

WARMUP_PASSES = 2
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _layer_units() -> dict[str, str]:
    """Per-layer metric names and units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and let the Python workers import the engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # a 2 GiB JVM heap holds every workload; the 8 GiB default only
    # lets the JVM grow on a machine shared with other jobs
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join(
            filter(None, (os.environ.get(var), jvm_opts)))
    sys.path.insert(0, ROOT)


def _stop_spark(spark, procs) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM and
    its Python workers have exited."""
    from pyspark import SparkContext

    pids = procs.descendant_pids()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _env(run_dir)
    try:
        import raster2dggs_spark  # noqa: F401  (the program under test)
        from raster2dggs_spark.session import get_spark
    except ImportError as e:
        log(f"perfbench: engine not importable from {ROOT}: {e}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}")
        return 2
    wl = WORKLOADS[args.workload]()
    cores = min(4, len(os.sched_getaffinity(0)))
    procs = ProcTree()
    procs.start_sampling()
    spark = None
    trace = bool(args.trace)
    try:
        t_setup = time.perf_counter()
        ctx = Ctx(None, run_dir, args.seed, Tracer(False), cores)
        conf = {"spark.ui.enabled": "true", "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false"} if trace else None
        # inputs and references need no Spark: build them while the JVM
        # starts (the JVM is another process, so this thread mostly waits)
        with ThreadPoolExecutor(1) as pool:
            generated = pool.submit(wl.generate, ctx)
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{wl.name}", master=f"local[{cores}]",
                              extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            generated.result()
        gen_wall = time.perf_counter() - t_setup
        ctx.spark = spark
        ctx.tracer = tracer = Tracer(trace, spark.sparkContext if trace else None)
        t = time.perf_counter()
        wl.load(ctx)
        load_s = time.perf_counter() - t
        # the first pass is cold (JVM start-up, new Python workers) and the
        # second still costs ~20% more CPU than the third: measure from the
        # third on
        t = time.perf_counter()
        warm_ok = True
        for _ in range(WARMUP_PASSES):
            with tracer.span("warmup"):
                got = wl.run_pass(ctx)
            warm_ok = wl.check(ctx, got)["ok"] and warm_ok
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        log(f"perfbench: session {session_s:.2f}s, session+generate "
            f"{gen_wall:.2f}s, load {load_s:.2f}s, warm-up {warm_s:.2f}s, "
            f"setup {setup_s:.2f}s")
    except Exception:
        traceback.print_exc()
        _stop_spark(spark, procs)
        procs.stop_sampling()
        return 1

    # ---- measured passes ------------------------------------------------
    passes = []
    ncpu = len(os.sched_getaffinity(0))
    procs.reset_peak()
    t_start = time.perf_counter()
    i = 0
    # a traced run alternates traced and untraced passes and needs both
    min_passes = 2 if trace else 1
    while (time.perf_counter() - t_start < args.seconds
           or len(passes) < min_passes):
        traced = trace and i % 2 == 0
        tracer.enabled = traced
        rec = {"traced": traced}
        c0 = procs.snapshot()
        t = time.perf_counter()
        try:
            with tracer.span("pass", index=i) as sp:
                got = wl.run_pass(ctx)
            rec["job_s"] = time.perf_counter() - t
            c1 = procs.snapshot()
            rec.update(wl.check(ctx, got))
        except Exception:
            traceback.print_exc()
            rec["job_s"] = time.perf_counter() - t
            c1 = procs.snapshot()
            rec["ok"] = False
        rec["span"] = sp
        rec["cpu_s"] = c1["total"] - c0["total"]
        rec["py_cpu_s"] = c1["py_workers"] - c0["py_workers"]
        rec["jvm_proc_cpu_s"] = c1["jvm"] - c0["jvm"]
        # JVM plus worker CPU cannot exceed every core busy for the pass
        rec["cpu_sane"] = (rec["jvm_proc_cpu_s"] + rec["py_cpu_s"]
                           <= ncpu * rec["job_s"] * 1.02 + 0.2)
        passes.append(rec)
        i += 1
    peak_rss = procs.peak_mb()
    tracer.enabled = trace
    log(f"perfbench: passes {[round(p['job_s'], 2) for p in passes]}s, "
        f"cpu {[round(p['cpu_s'], 1) for p in passes]}s "
        f"(JVM {[round(p['jvm_proc_cpu_s'], 1) for p in passes]}s, "
        f"workers {[round(p['py_cpu_s'], 1) for p in passes]}s)")

    attempted = len(passes)
    failed = sum(not p["ok"] for p in passes)
    correct = warm_ok and failed == 0 and all(p["cpu_sane"] for p in passes)
    if not warm_ok:
        log("perfbench: a warm-up pass failed its check")
    dropped = max((p.get("zonal_missed_cells", 0) for p in passes), default=0)
    if dropped:
        log(f"perfbench: zonal_join dropped {dropped} reference cell(s), the "
            "known hex7 face-seam cover defect")
    for p in passes:
        if not p["ok"] or not p["cpu_sane"]:
            log(f"perfbench: pass failed: { {k: v for k, v in p.items() if k != 'span'} }")

    def med(key):
        vals = [p[key] for p in passes if key in p]
        return statistics.median(vals) if vals else 0.0

    if not trace:
        job_s = med("job_s")
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (job_s, "s"),
            "input_per_s": (wl.units / job_s, "1/s"),
            "cpu_s": (med("cpu_s"), "s"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
            "recall": (med("recall"), "ratio"),
            "precision": (med("precision"), "ratio"),
            "exact_ratio": (med("exact_ratio"), "ratio"),
        }
    else:
        try:
            metrics = _layer_metrics(ctx, wl, passes, session_s, peak_rss)
        except Exception:
            traceback.print_exc()
            correct = False
            metrics = {k: (0.0, u) for k, u in _layer_units().items()}
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(
            spans_dir, f"{wl.name}-seed{args.seed}.jsonl"))

    _stop_spark(spark, procs)
    procs.stop_sampling()
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _layer_metrics(ctx, wl, passes, session_s, peak_rss):
    """Per-layer metrics of a traced run: layer probes, span self times,
    and stage/task metrics of the traced passes from the REST API."""
    tracer, spark = ctx.tracer, ctx.spark
    units = _layer_units()
    out = dict.fromkeys(units, 0.0)
    out["session.start_s"] = session_s
    out["mem.peak_rss_mb"] = peak_rss
    out["sources.gen_s"] = wl.gen_s
    out.update(wl.probes(ctx))

    sc = spark.sparkContext
    rest = SparkRest(sc.uiWebUrl, sc.applicationId)
    rest.settled()
    traced = [p for p in passes if p["traced"] and p["span"] is not None]
    per_pass = [rest.group_metrics(tracer.groups_under(p["span"]["id"]))
                for p in traced]
    mm = lambda k: statistics.median(m[k] for m in per_pass)  # noqa: E731
    out.update({
        "exchange.shuffle_write_bytes": mm("shuffle_write_bytes"),
        "exchange.shuffle_read_bytes": mm("shuffle_read_bytes"),
        "exchange.records": mm("shuffle_records"),
        "exchange.spill_bytes": mm("spill_bytes"),
        "tasks.count": mm("tasks"),
        "tasks.failed": mm("failed_tasks"),
        "tasks.run_s": mm("run_s"),
        "tasks.jvm_cpu_s": mm("jvm_cpu_s"),
        "tasks.gc_s": mm("gc_s"),
        "tasks.py_cpu_s": statistics.median(p["py_cpu_s"] for p in traced),
        "tasks.skew": mm("skew"),
    })
    t_on = [p["job_s"] for p in passes if p["traced"]]
    t_off = [p["job_s"] for p in passes if not p["traced"]]
    if t_on and t_off:
        out["trace.overhead_s"] = statistics.median(t_on) - statistics.median(t_off)

    roots = {p["span"]["id"] for p in traced}
    last = traced[-1]["span"]["id"]
    joins = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    if wl.name == "vector_join":
        pip, knn = ("operators.joins.point_in_polygon_join",
                    "operators.joins.knn_join")
        out["joins.pip_s"] = tracer.median_self(pip, roots)
        out["joins.zonal_s"] = tracer.median_self(
            "operators.joins.zonal_join", roots)
        out["joins.knn_s"] = tracer.median_self(knn, roots)
        out["joins.zonal_missed_cells"] = statistics.median(
            p["zonal_missed_cells"] for p in passes if "zonal_missed_cells" in p)
        plans = rest.sql_plans(rest.group_job_ids(tracer.groups_under(last, pip)))
        out["joins.pip_broadcast"] = float(any(
            n.get("nodeName") == "BroadcastHashJoin" for p in plans for n in p))
        out["joins.pip_keep_ratio"] = (wl.pip_rows
                                       / max(1, out["joins.pip_candidates"]))
        knn_groups = tracer.groups_under(last, knn)
        kjobs = [j for j in rest.jobs() if j.get("jobGroup") in knn_groups]
        out["joins.knn_jobs"] = len(kjobs)
        # one synchronous count of the unresolved queries per round
        out["joins.knn_rounds"] = sum(
            j.get("name", "").startswith("count at") for j in kjobs)
        # candidate pairs: the equi-join of the ring-cover cells (the
        # MapInPandas side) with the indexed targets, over all rounds
        cand = 0
        for p in rest.sql_plans({j["jobId"] for j in kjobs}):
            if any(n.get("nodeName") == "MapInPandas" for n in p):
                cand += sum(node_metric(n, "number of output rows")
                            for n in p if n.get("nodeName") in joins)
        out["joins.knn_candidates_per_query"] = cand / wl.N_QUERIES
    if wl.name == "index_agg":
        # rows pixel_cells produced while resuming the half-committed write
        ingest = wl.ingest
        jobs = rest.group_job_ids({tracer.group(ingest.resume_span)})
        rows = sum(node_metric(n, "number of output rows")
                   for p in rest.sql_plans(jobs) for n in p
                   if n.get("nodeName") == "MapInPandas")
        out["checkpoint.resume_recompute_ratio"] = (
            rows / max(1, ingest.pending))
    return {k: (v, units[k]) for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
