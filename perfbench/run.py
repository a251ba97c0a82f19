"""perfbench: seeded end-to-end and per-layer benchmark of pdf_parse_bench_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates (or reuses) the workload's
inputs for the seed, sets up a local[nproc] session several times, warms
up, runs the workload's timed window (a closed loop of at least S seconds),
checks every output against golden / oracle outputs, and prints each metric
by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's `end_to_end` ones, with --trace 1 its `per_layer`
ones (from a traced window run after an untraced one).

Everything the run writes stays under `.perfbench_work/` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3


def _isolate_writes() -> None:
    """Point every temp/spill location of Python, the JVM and Spark into
    the checkout, and let Python workers import the checkout's package."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))


def _identity(batches):
    yield from batches


def setup_session(cores: int):
    """SETUP_REPS times: get_spark plus the first Python-UDF task; the
    first rep also launches the JVM. Returns the last session and the
    times of both parts of each rep."""
    from pdf_parse_bench_spark.session import get_spark

    spark, starts, warms = None, [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores)
        t1 = time.perf_counter()
        spark.range(1, numPartitions=1).mapInPandas(
            _identity, "id long").collect()
        starts.append(t1 - t0)
        warms.append(time.perf_counter() - t1)
    return spark, starts, warms


def tail(steps: list[float]) -> tuple[float, int]:
    """Highest integer percentile (nearest rank) with at least 10 steps
    beyond it, and that percentile; the maximum (p100) when there are fewer
    than 11 steps."""
    xs = sorted(steps)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return xs[rank - 1], p
    return xs[-1], 100


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.trace import descendant_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendant_pids(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendant_pids(os.getpid()):
        os.kill(pid, 9)


def _log(msg: str, t0: float) -> None:
    print(f"# {time.perf_counter() - t0:7.1f} s  {msg}", file=sys.stderr,
          flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    _isolate_writes()
    import pdf_parse_bench_spark  # noqa: F401  (fail fast without the package)

    from perfbench import check, gen
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import NO_TRACE, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {list(WORKLOADS)}")
    check.self_test()

    t0 = time.perf_counter()
    inputs = gen.prepare(args.workload, args.seed, WORK / "inputs")
    _log(f"inputs {inputs.name} ready", t0)

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    scratch = WORK / "runs" / run_id
    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler()
    spark = None
    try:
        spark, starts, warms = setup_session(cores)
        _log("session set up", t0)
        wl = WORKLOADS[args.workload](spark, inputs, scratch)
        wl.warmup()
        _log("warmed up", t0)
        if args.trace:  # peak RSS is a traced-run metric
            sampler.start()
        win = wl.window(NO_TRACE, args.seconds)
        peak_mb = sampler.stop()
        _log("untraced window done", t0)
        e2e = win.e2e()
        layer = {}
        if args.trace:
            wl.new_window()
            tracer = Tracer(run_id, spark.sparkContext)
            wl.start_trace(tracer)
            traced = wl.window(tracer, args.seconds)
            wl.stop_trace()
            layer = wl.layer_metrics()
            layer["peak_rss_mb"] = peak_mb
            layer["session.start_s"] = statistics.median(starts)
            layer["session.worker_warm_s"] = statistics.median(warms)
            basis = wl.overhead_basis
            layer["trace.overhead_s"] = traced.e2e()[basis] - e2e[basis]
            layer["trace.coverage"] = tracer.layer_coverage(
                tracer.children(None))
            tracer.write(WORK / "traces" / f"{run_id}.jsonl")
            _log("traced window done", t0)
        attempted, failed = wl.check()
        _log("outputs checked", t0)
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    _log("stopped", t0)

    e2e["setup_s"] = statistics.median(a + b for a, b in zip(starts, warms))
    tail_s, tail_p = tail(win.steps)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        # a layer the workload never calls spent no time and did no work
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<44} {v:>16.6g} {m['unit']}")
    # reported, not gated: too few steps per run to be steady (see README)
    print(f"{'step_s_tail':<44} {tail_s:>16.6g} s (p{tail_p} of "
          f"{len(win.steps)} steps)")
    print(f"{'failed_frac':<44} {failed / attempted:>16.6g} ratio "
          f"({failed} of {attempted} operations)")
    print(f"# walls {[round(u, 3) for u in win.walls]} steps "
          f"{[round(x, 3) for x in win.steps]} docs {win.docs} in "
          f"{win.docs_s:.3f} s; setups "
          f"{[round(a + b, 3) for a, b in zip(starts, warms)]}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
