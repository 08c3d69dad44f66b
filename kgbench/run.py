"""KG benchmark: one command per workload run.

    python3 kgbench/run.py --workload crawl --seed 42 --seconds 10 --trace 0

Runs from the root of a checkout of this repository on `local[4]`, from one
driver process, one operation at a time (closed loop, one client). It
materializes the workload's inputs from `--seed`, warms up, then

- `--trace 0`: repeats the operation for `--seconds` seconds untraced and
  reports the end-to-end metrics named in BENCHMARK.json;
- `--trace 1`: runs the operation once untraced and once traced (one span
  and Spark job group per layer call), reads the JVM status stores, writes
  the spans to `.kgbench_out/`, and reports the per-layer metrics.

It checks the outputs, and prints a human-readable summary and, as the
last line of standard output, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. Everything it writes stays inside the checkout.
See kgbench/NOTES.md for the workloads, the metric definitions and the
layer → end-to-end predictions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPEATS = 3  # input materializations per run; setup_s takes their median


def _fail(msg: str) -> int:
    print(f"kgbench: {msg}", file=sys.stderr)
    return 2


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _isolate(work: str) -> None:
    """Keep every temp file inside the checkout and let the Python workers
    import the package wherever the benchmark is started from."""
    for sub in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _start_spark(work: str):
    from trainable_entity_extractor_spark.session import get_spark

    spark = get_spark(
        "kgbench",
        master=f"local[{CORES}]",
        extra_conf={
            # a pre-touched, fixed-size heap: the JVM's RSS no longer depends
            # on when the collector grows the heap, so peak_rss_mb moves
            # with the memory the program itself adds (Python workers,
            # Arrow buffers, driver-side collects)
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.tee.scratch.dir": os.path.join(work, "scratch"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    from harness import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        try:
            os.waitpid(-1, os.WNOHANG)  # reap a killed child of our own
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _measure(wl, seconds: float, failures: list[str]):
    from harness import Tracer

    ops = []
    t0 = time.time()
    # closed loop; an operation is started only if, at the pace so far,
    # it ends within the measuring window
    while not ops or (time.time() - t0) * (len(ops) + 1) / len(ops) <= seconds:
        res = wl.op(Tracer(None, False))
        failures += res.failures
        ops.append(res)
        gc.collect()
    return ops


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for need in ("trainable_entity_extractor_spark", "__spark_entry__.py", "tools", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return _fail(f"{need} not found in {ROOT}: run from a full checkout")
    declared = _declared()
    if args.workload not in declared["workloads"]:
        return _fail(f"unknown workload {args.workload!r}; choose from {declared['workloads']}")

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    from harness import RssSampler, StatusSnapshot, Tracer, median, span_metrics
    from workloads import WORKLOADS

    rss = RssSampler().start()
    spark = None
    failures: list[str] = []
    try:
        t0 = time.time()
        spark = _start_spark(work)
        session_s = time.time() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        mats = []
        for _ in range(SETUP_REPEATS):
            t = time.time()
            wl.materialize()
            mats.append(time.time() - t)
        t = time.time()
        failures += wl.warmup()
        warm_s = time.time() - t
        setup_s = session_s + median(mats) + warm_s

        if args.trace == 0:
            ops = _measure(wl, args.seconds, failures)
            failures += wl.check()
            metrics = {"setup_s": setup_s, "op_s": wl.op_s(ops)}
            summary = {
                **{k: f"{v:.6g} {unit}" for k, (v, unit) in wl.report(ops).items()},
                "op_walls_s": [round(o.wall, 3) for o in ops],
                "session_s": f"{session_s:.3f} s",
                "materialize_s": f"{median(mats):.3f} s",
                "warmup_s": f"{warm_s:.3f} s",
            }
        else:
            # traced between two untraced operations, so that neither side
            # gets the last of the warmup
            plain = wl.op(Tracer(None, False))
            gc.collect()
            tracer = Tracer(spark.sparkContext, True)
            traced = wl.op(tracer)
            gc.collect()
            plain2 = wl.op(Tracer(None, False))
            failures += plain.failures + traced.failures + plain2.failures
            snap = StatusSnapshot(spark)  # before the checks add jobs
            metrics = wl.layer_metrics(tracer, snap)
            metrics.update(span_metrics(tracer, snap, "pipeline"))
            root = tracer.get("pipeline")
            metrics["pipeline.span_coverage"] = sum(s.wall for s in tracer.children("pipeline")) / root.wall
            untraced = (plain.wall + plain2.wall) / 2
            metrics["pipeline.tracing_overhead_s"] = traced.wall - untraced
            failures += wl.check()
            out_dir = os.path.join(ROOT, ".kgbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.to_json()}, f, indent=1)
            summary = {"traced_s": traced.wall, "untraced_s": untraced, "spans": len(tracer.spans)}
            unknown = sorted(set(metrics) - set(declared["per_layer"]))
            if unknown:
                raise RuntimeError(f"metrics missing from BENCHMARK.json per_layer: {unknown}")
            metrics = {name: metrics.get(name, 0) for name in declared["per_layer"]}
    finally:
        if spark is not None:
            _stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace == 0:
        metrics["peak_rss_mb"] = rss.peak_mb
        units = declared["end_to_end"]
    else:
        units = declared["per_layer"]
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")

    for msg in failures:
        print(f"kgbench: CHECK FAILED: {msg}", file=sys.stderr)
    attempted = wl.attempted + 1  # +1: the once-per-run output check
    failed = len(failures)
    summary["failed_frac"] = failed / attempted
    if wl.outputs:
        summary["outputs"] = {t: [rows, str(csum)] for t, (rows, csum) in wl.outputs.items()}
    print(f"kgbench {args.workload} seed={args.seed} trace={args.trace}: " + json.dumps(summary))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
