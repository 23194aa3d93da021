#!/usr/bin/env python3
"""combblas_spark benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Workloads (see ``workloads.py``):
``pagerank_rmat`` and ``query_sweep``.  The seed varies the R-MAT
graph; ``query_sweep`` reads fixed generated tables.

The run starts one driver JVM on ``local[nproc]``, prepares the inputs,
runs untimed warm-up passes, then timed passes for ``--seconds``.
Every operation is timed up to a ``noop`` write of its result and
checked outside the timer.  With ``--trace 0`` the result holds the end-to-end metrics.
With ``--trace 1`` the run repeats the timed passes in a second
session with Spark's event log on and reports per-layer metrics from
job, stage and task spans (written to ``.perfbench/spans.jsonl``).
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import PR_ITERS, SHUFFLE_PARTITIONS, SWEEP  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("pagerank_rmat", "query_sweep")
DRIVER_HEAP = "3g"
#: a traced pagerank_rmat run measures at least this many supersteps,
#: so ten samples lie beyond the p90, unless that takes longer than
#: TRACED_MAX_S
TRACED_SUPERSTEPS, TRACED_MAX_S = 100, 45
DEADLINE_S = 175


END_TO_END = [("pass_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB")]
QUERIES = ["pagerank_rmat", *SWEEP]
PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.load_s", "s"),
    ("sources.scan_bytes", "bytes"),
    ("algos.jobs", "count"),
    ("algos.jobs_per_superstep", "count"),
    ("algos.driver_gap_s", "s"),
    ("algos.persisted_rdds_end", "count"),
    ("algos.cached_bytes_end", "bytes"),
    ("algos.supersteps", "count"),
    ("algos.superstep_s", "s"),
    ("algos.superstep_s_p90", "s"),
    ("algos.edges_per_s", "edges/s"),
    ("operators.task_s", "s"),
    ("operators.task_cpu_s", "s"),
    ("operators.gc_s", "s"),
    ("operators.stages", "count"),
    ("operators.tasks", "count"),
    ("operators.shuffle_read_bytes", "bytes"),
    ("operators.shuffle_write_bytes", "bytes"),
    ("operators.shuffle_records", "count"),
    ("operators.spill_bytes", "bytes"),
    ("operators.task_skew", "ratio"),
    ("operators.core_util", "fraction"),
    ("operators.joins.broadcast_hash", "count"),
    ("operators.joins.shuffled_hash", "count"),
    ("operators.joins.sort_merge", "count"),
    ("operators.joins.nested_loop", "count"),
    ("functions.codegen_compiles", "count"),
    ("functions.codegen_compiles_per_superstep", "count"),
    ("pipeline.py_rows", "count"),
    ("pipeline.py_bytes_sent", "bytes"),
    ("pipeline.py_bytes_received", "bytes"),
    ("pipeline.py_task_s", "s"),
    ("baseline.numpy_edges_per_s", "edges/s"),
    ("trace.overhead_pass_s", "ratio"),
    ("trace.overhead_edges_per_s", "ratio"),
    ("host.steal_s", "s"),
    ("error_rate", "fraction"),
] + [(f"query_s.{q}", "s") for q in QUERIES] + [(f"query_jobs.{q}", "count") for q in QUERIES]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def session(trace: bool, cores: int):
    from combblas_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData -Xms{DRIVER_HEAP} -Xmn512m",
        "spark.local.dir": f"{WORK}/local",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{WORK}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{WORK}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def stop(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from probe import process_tree

    gw = spark.sparkContext._gateway
    tree = process_tree(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in tree[1:]) and time.time() < deadline:
        time.sleep(0.1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else median(xs)


def edges_per_s(wl, ph) -> float:
    """Edges over the median steady superstep (each solve's first dropped)."""
    steady = [s for i, s in enumerate(ph.supersteps) if i % PR_ITERS]
    return wl.edges / median(steady)


def per_layer(workload: str, wl, tracer, ph, ph_a, cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced phase ``ph``; ``ph_a`` is untraced."""
    import spans

    n = len(ph.passes)
    out, jobs_per_op = spans.layer_metrics(f"{WORK}/eventlog", tracer, ph.query_ops,
                                           n, cores)
    steps = len(ph.supersteps)
    is_pr = workload == "pagerank_rmat"
    out.update({
        "algos.jobs_per_superstep": out["algos.jobs"] * n / steps if steps else 0.0,
        "algos.persisted_rdds_end": median(ph.persisted_rdds),
        "algos.cached_bytes_end": median(ph.cached_bytes),
        "algos.supersteps": steps,
        "algos.superstep_s": median(ph.supersteps),
        "algos.superstep_s_p90": p90(ph.supersteps),
        "algos.edges_per_s": edges_per_s(wl, ph) if is_pr else 0.0,
        "functions.codegen_compiles": ph.codegen_compiles / n,
        "functions.codegen_compiles_per_superstep":
            ph.codegen_compiles / steps if steps else 0.0,
        "baseline.numpy_edges_per_s": wl.numpy_edges_per_s if is_pr else 0.0,
        "trace.overhead_pass_s": ph.pass_s / ph_a.pass_s,
        "trace.overhead_edges_per_s":
            edges_per_s(wl, ph) / edges_per_s(wl, ph_a) if is_pr else 0.0,
    })
    for q in QUERIES:
        out[f"query_s.{q}"] = median(ph.query_s.get(q, []))
        out[f"query_jobs.{q}"] = median(
            [jobs_per_op[o["id"]] for o in ph.query_ops if o["op"] == q])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("combblas_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}; run from a checkout of the repository")
    signal.alarm(DEADLINE_S)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(f"{WORK}/tmp")
    # Python workers import the package whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = f"{WORK}/tmp"
    sys.path.insert(0, ROOT)

    import probe
    import spans
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    steal0 = probe.host_steal_s()
    tracer = spans.Tracer()
    with tracer.span("session") as sp_session:
        spark = session(False, cores)
    sampler = probe.RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()

    is_pr = args.workload == "pagerank_rmat"
    wl = W.PageRankWorkload(args.seed) if is_pr else W.QueryWorkload(WORK)
    with tracer.span("sources.prep") as sp_prep:
        wl.prep(spark)
    # the reference solve is checking, not set-up: it is left out of setup_s
    if is_pr:
        with tracer.span("reference") as sp_ref:
            wl.reference()
    with tracer.span("warmup") as sp_warm:
        warm = W.measure(spark, wl, tracer, 0, wl.warmup_passes)
    setup_s = sp_warm["end"] - PROCESS_T0
    if is_pr:
        setup_s -= sp_ref["end"] - sp_ref["start"]

    with tracer.span("timed"):
        ph = W.measure(spark, wl, tracer, args.seconds, wl.timed_passes)
    sampler.stop()
    phases = [warm, ph]

    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "passes": len(ph.passes), "pass_s_samples": ph.passes,
        "session_s": sp_session["end"] - sp_session["start"],
        "prep_s": sp_prep["end"] - sp_prep["start"],
        "warmup_s": sp_warm["end"] - sp_warm["start"],
        "query_s": {q: median(v) for q, v in ph.query_s.items()},
    }
    if is_pr:
        detail.update({
            "edges": wl.edges, "supersteps": len(ph.supersteps),
            "edges_per_s": edges_per_s(wl, ph),
            "superstep_s_median": median(ph.supersteps),
            "baseline_numpy_edges_per_s": wl.numpy_edges_per_s,
        })

    if args.trace:
        ph_a = ph
        spark.stop()  # the traced session reuses the (warm) JVM
        spark = session(True, cores)
        with tracer.span("traced"):
            with tracer.span("sources.prep"):
                wl.prep(spark)
            ph = W.measure(spark, wl, tracer, args.seconds, 1,
                           TRACED_SUPERSTEPS if is_pr else 0, TRACED_MAX_S)
        phases.append(ph)
        stop(spark)
        metrics = per_layer(args.workload, wl, tracer, ph, ph_a, cores)
        metrics.update({"session.start_s": detail["session_s"],
                        "sources.load_s": detail["prep_s"]})
        tracer.write(f"{WORK}/spans.jsonl")
    else:
        stop(spark)
        metrics = {
            "setup_s": setup_s,
            "pass_s": ph.pass_s,
            "peak_rss_mb": sampler.peak / 2**20,
        }
    wl.close()

    failures = [f for p in phases for f in p.failures]
    attempted = sum(p.attempted for p in phases)
    detail.update({"host_steal_s": probe.host_steal_s() - steal0,
                   "error_rate": len(failures) / attempted, "failures": failures})
    if args.trace:
        metrics["error_rate"] = detail["error_rate"]
        metrics["host.steal_s"] = detail["host_steal_s"]
    for f in failures:
        print(f"perfbench: FAILED {f['op']} ({f['pass']}): {f['error']}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in (PER_LAYER if args.trace else END_TO_END)},
    }))


if __name__ == "__main__":
    main()
