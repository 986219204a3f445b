#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. With ``--trace 0`` the last line of
standard output is one JSON object holding every end-to-end metric named
in ``BENCHMARK.json``; with ``--trace 1`` it holds every per-layer
metric instead. The lines before it record the environment, the output
checks and (traced) the path of the span file. Scratch data lives under
``.perfbench_work/`` in the checkout and is removed when the run ends;
span files are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "snowplow_elasticsearch_loader_spark"
REQUIRED = (os.path.join(PACKAGE, "__init__.py"), os.path.join("oracle", "bm25.py"), "BENCHMARK.json")
#: per-layer metrics read from the Spark event log, per traced op
TASK_METRICS = {
    "spark.task_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
}


def git_hash(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as fh:
            return fh.read().strip()
    return None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def task_layers(event_log_dir: str, spans_list, ops: list[str]) -> dict[str, float]:
    from statistics import fmean

    from perfbench.spans import TaskTotals, parse_event_log, tasks_by_op

    groups = {}
    for path in sorted(os.listdir(event_log_dir)):
        with open(os.path.join(event_log_dir, path)) as fh:
            groups.update(parse_event_log(fh))
    per_op = tasks_by_op(spans_list, groups)
    empty = TaskTotals()
    return {
        name: fmean(getattr(per_op.get(op, empty), attr) for op in ops) if ops else 0.0
        for name, attr in TASK_METRICS.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    cleared = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in cleared:
        del os.environ[k]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # everything the run and the JVM write stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    sys.path.insert(0, ROOT)

    from perfbench.workloads import MASTER, WORKLOADS, Ctx

    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace))
    if ctx.trace:
        ctx.event_log_dir = os.path.join(work, "eventlog")
        os.makedirs(ctx.event_log_dir)
    try:
        try:
            out = WORKLOADS[args.workload](ctx)
        finally:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
        layers = dict(out.layers)
        tag = f"{args.workload}-s{args.seed}{'-trace' if ctx.trace else ''}"
        with open(os.path.join(out_dir, f"samples-{tag}.json"), "w") as fh:
            json.dump(out.samples, fh)
        if ctx.trace:
            # the event log is complete only once the session has stopped
            layers.update(task_layers(ctx.event_log_dir, out.tracer.spans, out.trace_ops))
            span_file = os.path.join(out_dir, f"spans-{tag}.jsonl")
            out.tracer.dump(span_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))

    import pyspark

    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "work_dir": os.path.relpath(work, ROOT),
        "spark_local_dir": os.path.relpath(os.path.join(work, "spark-local"), ROOT),
        "cleared_env": cleared,
        "git": git_hash(ROOT),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host_probe_s": out.host_probe_s,
    }
    print(json.dumps({"env": env}))
    print(json.dumps({"checks": out.checks}))
    if ctx.trace:
        print(json.dumps({"spans": os.path.relpath(span_file, ROOT), "end_to_end": out.e2e}))
        # a layer the workload does not run reads 0
        values, names = layers, spec["per_layer"]
    else:
        values, names = out.e2e, spec["end_to_end"]
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0.0) if ctx.trace else values[m["name"]], "unit": m["unit"]}
        for m in names
    }
    result = {
        "correct": all(c["ok"] for c in out.checks.values()) and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
