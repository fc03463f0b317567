"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload qa_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
the program only sees the generated paths and question lists. With
``--trace 0`` the last line of standard output is a JSON object whose
``metrics`` are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer metrics. The line before it holds
the workload-level detail (per-workload metrics with units and sample
counts, failures, input-generation time). Each run also writes its full
record under ``.perfbench_results/``. Everything the run writes stays
inside the checkout: scratch files go to ``.perfbench_work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "document_query_system_spark"
#: Cores the benchmark gives Spark. Four is the width all numbers in
#: README.md were taken at; a wider machine still runs local[4].
MAX_CORES = 4
DRIVER_MEM = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench_results"))
    return p.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Point every scratch location of Python, Spark and the JVM inside
    ``work``; must run before the package is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _shutdown(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def result(ctx, metrics: dict) -> dict:
    """The run's result line: every operation attempted, those that
    raised or failed their check, and the metrics."""
    failed = len(ctx.failures)
    return {
        "correct": failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {os.path.basename(HERE)}/; run from a full checkout", file=sys.stderr)
        return 2
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    _environment(work, cores)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads as wl

    if args.workload not in wl.IMPLS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(wl.IMPLS)}", file=sys.stderr)
        return 2
    ctx = wl.Context(args.workload, args.seed, args.seconds, cores, os.path.join(work, "untraced"))
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "cores": cores}
    try:
        impl = wl.IMPLS[args.workload]()
        g0 = time.perf_counter()
        impl.generate(ctx)
        record["gen_s"] = time.perf_counter() - g0
        untraced = wl.measure(ctx, impl)
        c0 = time.perf_counter()
        impl.check(ctx)
        record["phases"] = {**untraced["phases"], "check_s": time.perf_counter() - c0}
        record["setup_reps"] = untraced["reps"]
        record["samples"] = untraced["timed"].get("samples")
        record["e2e"] = untraced["e2e"]
        record["detail"] = impl.detail(ctx, untraced["timed"])
        metrics = untraced["e2e"]
        if args.trace:
            metrics = _traced(ctx, args, untraced, record)
    finally:
        _shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    line = result(ctx, metrics)
    record["detail"]["failed_ratio"] = {
        "value": line["failed"] / line["attempted"],
        "unit": "ratio",
        "n": line["attempted"],
    }
    record["detail"]["rounding_ties"] = {"value": len(ctx.ties), "unit": "count", "n": line["attempted"]}
    record["failures"], record["ties"] = ctx.failures, ctx.ties
    for f in ctx.failures:
        print(f"perfbench FAILED {f['workload']} {f['op']} {f['name']}: {f['reason']}", file=sys.stderr)
    for t in ctx.ties:
        print(f"perfbench TIE {t['workload']} {t['op']} {t['name']}: {t['reason']}", file=sys.stderr)
    os.makedirs(args.out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(args.out, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "cores", "gen_s", "phases", "detail")}))
    print(json.dumps(line), flush=True)
    return 0


def _traced(ctx, args, untraced: dict, record: dict) -> dict:
    """Repeat the measurement in fresh sessions with job-group tags and
    the event log on; return the per-layer metrics."""
    import layers
    import spans as tr
    import workloads as wl

    log_dir = os.path.join(os.path.dirname(ctx.work), "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    # A fresh JVM, launched with the event log on, so the traced
    # measurement starts as cold as the untraced one.
    _shutdown(ctx.spark)
    ctx.spark = None
    confs = " ".join(f"--conf {k}={v}" for k, v in tr.event_log_conf(log_dir).items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = os.environ["PYSPARK_SUBMIT_ARGS"].replace(
        "pyspark-shell", f"{confs} pyspark-shell"
    )
    ctx.tracer = tr.Tracer(tag_jobs=True)
    ctx.work = os.path.join(os.path.dirname(ctx.work), "traced")
    impl = wl.IMPLS[args.workload]()
    impl.generate(ctx)
    wl.reset_peak_rss([os.getpid()])
    traced = wl.measure(ctx, impl)
    ctx.spark.stop()
    fold: dict = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        tr.merge_folds(fold, tr.fold_event_log(path, ctx.tracer.spans))
    impl.check(ctx)
    values = layers.compute(ctx.tracer.spans, fold, traced["reps"], ctx.cores)
    for k, m in untraced["e2e"].items():
        values[f"trace.overhead.{k}"] = traced["e2e"][k]["value"] - m["value"]
    units = {n: u for n, u, _ in layers.names()}
    record["e2e_traced"] = traced["e2e"]
    record["per_layer"] = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in units}
    os.makedirs(args.out, exist_ok=True)
    ctx.tracer.dump(os.path.join(args.out, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    return record["per_layer"]


if __name__ == "__main__":
    sys.exit(run(_args(sys.argv[1:])))
