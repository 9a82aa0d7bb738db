"""Closed-loop benchmark of the engine: one client, one operation at a time.

Run from the repository root:

    python3 perfbench/run.py --workload var_forecast --seed 1 --seconds 5 --trace 0

A run generates the workload's inputs from ``--seed`` under
``.perfbench_work/`` (recreated each run), starts a Spark session on
``local[<cores>]`` through the program's own session factory, and runs
passes over the workload's operations until ``--seconds`` have passed;
the first pass always runs, in the fresh session. Outputs are checked
once, after the timed passes and outside the timing.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones. With ``--trace 1`` they are the
per-layer ones, taken from one pass with layer spans on, with the
traced pass's wall time and the time spent in the tracing wrappers
themselves; the spans go to ``.perfbench_spans/``. The lines before the JSON are a
readable report. The run exits non-zero without a result when the
program package is missing or the session cannot start.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")

END_TO_END_UNITS = {
    "pass_s": "s",
    "op_geomean_s": "s",
    "ok_share": "share",
    "setup_s": "s",
    "driver_rss_peak_mb": "MB",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(n_cores: int):
    """The program's own session factory, with the UI server on (its
    status REST API feeds the traced run) and every scratch path inside
    the work directory."""
    from var_elasticnet_bigdata_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def rss_peaks_mb(spark) -> dict[str, float]:
    """Peak resident set (VmHWM) of the Python driver and of the JVM.
    The end-to-end metric is the Python driver's: the JVM's peak follows
    its heap sizing, which varies by a third between identical runs, so
    it is a per-layer metric with the JVM's live heap beside it."""
    pids = {
        "python": os.getpid(),
        "jvm": int(spark._jvm.java.lang.ProcessHandle.current().pid()),
    }
    out = {}
    for name, pid in pids.items():
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        out[name] = kb / 1024.0
    return out


def jvm_live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the run left
    cached or retained in the driver JVM."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):  # the py4j calls themselves allocate
        spark._jvm.java.lang.System.gc()
        used.append(rt.totalMemory() - rt.freeMemory())
    return min(used) / 2**20


def run_pass(workload, results: list[dict], first_ok: dict) -> float:
    """One pass over the operations. A failing operation is recorded
    with its error class; the pass goes on with the next one."""
    t_pass = time.perf_counter()
    for op in workload.ops:
        t0 = time.perf_counter()
        try:
            out = op.run()
            err = None
        except Exception as e:  # noqa: BLE001 — recorded, the loop goes on
            out, err = None, e
        lat = time.perf_counter() - t0
        rec = {"op": op.name, "latency_s": lat, "error": None}
        if err is not None:
            rec["error"] = type(err).__name__
            rec["detail"] = error_detail(err)
        elif op.name not in first_ok:
            first_ok[op.name] = out
        results.append(rec)
    return time.perf_counter() - t_pass


def error_detail(err: Exception) -> str:
    """The first line of the message naming an error class: for a Spark
    call, the JVM's (``java.lang.StackOverflowError``)."""
    lines = str(err).strip().splitlines()
    for line in lines:
        if "Error" in line or "Exception" in line:
            return line.strip()[:200]
    return (lines[0] if lines else type(err).__name__)[:200]


def check_outputs(workload, first_ok: dict) -> dict[str, str]:
    """Run each operation's output check once; name -> failure reason."""
    bad = {}
    for op in workload.ops:
        if op.check is None or op.name not in first_ok:
            continue
        try:
            reason = op.check(first_ok[op.name])
        except Exception as e:  # noqa: BLE001 — a crashing check is a wrong output
            reason = f"check raised {type(e).__name__}: {e}"
        if reason:
            bad[op.name] = reason
    return bad


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the repository root replaces this script's directory, whose module
    # names (trace, inputs, ...) would shadow others on the path
    sys.path[0] = ROOT
    if not os.path.isdir(os.path.join(ROOT, "var_elasticnet_bigdata_spark")):
        print("program package var_elasticnet_bigdata_spark not found in "
              f"{ROOT}; run from the repository root", file=sys.stderr)
        return 2
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    n_cores = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    tracer = trace.Tracer() if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(n_cores)
    jvm = spark.sparkContext._gateway.proc
    try:
        wl = workloads.build(args.workload, spark, args.seed, WORK, tracer)
        setup_s = time.perf_counter() - t0
        return report(args, spark, wl, tracer, setup_s, n_cores)
    finally:
        spark.stop()
        stop_jvm(spark, jvm)
        shutil.rmtree(WORK, ignore_errors=True)


def stop_jvm(spark, proc) -> None:
    """End the JVM the session launched and wait for it."""
    spark.sparkContext._gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def report(args, spark, wl, tracer, setup_s: float, n_cores: int) -> int:
    from perfbench import trace

    results: list[dict] = []
    first_ok: dict = {}
    passes: list[float] = []
    if tracer is None:
        # the first pass runs in a fresh session; a faster program fits
        # more passes into the same seconds
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(run_pass(wl, results, first_ok))
    else:
        # one pass with layer spans on, in the same fresh-session
        # condition as the untraced runs' first pass
        tracer.reset()
        w0 = time.time()
        with trace.LayerPatch(tracer):
            passes.append(run_pass(wl, results, first_ok))
        w1 = time.time()
        write_spans(wl.name, args.seed, tracer.spans)
        layers = trace.layer_metrics(
            tracer.spans, trace.SparkStatus(spark).snapshot(), (w0, w1), n_cores
        )
        rss = rss_peaks_mb(spark)
        layers["jvm.rss_peak_mb"] = rss["jvm"]
        layers["jvm.live_heap_mb"] = jvm_live_heap_mb(spark)
        layers["trace.pass_s"] = passes[0]
        layers["trace.overhead_s"] = tracer.overhead_s

    bad = check_outputs(wl, first_ok)
    failed = sum(1 for r in results if r["error"] or r["op"] in bad)
    attempted = len(results)

    per_op: dict[str, list[float]] = {}
    for r in results:
        per_op.setdefault(r["op"], []).append(r["latency_s"])
    print(f"workload {wl.name}: {len(passes)} passes, {attempted} operations, "
          f"{n_cores} cores, seed {args.seed}")
    for name, lats in per_op.items():
        errs = sorted({r["detail"] for r in results if r["op"] == name and r["error"]})
        note = f"  FAILED {errs[0]}" if errs else ""
        if name in bad:
            note += f"  WRONG OUTPUT: {bad[name]}"
        print(f"  {name:32s} {' '.join(f'{x:7.3f}' for x in lats)} s{note}")
    print(f"output check: {'OK' if not bad else 'MISMATCH ' + json.dumps(bad)}")
    print(f"fail_share: {failed / attempted:.4f} ({failed}/{attempted})")

    if tracer is None:
        rss = rss_peaks_mb(spark)
        print("peak RSS: " + ", ".join(f"{k} {v:.0f} MB" for k, v in rss.items()))
        metrics = {
            "pass_s": statistics.median(passes),
            "op_geomean_s": geomean([statistics.median(v) for v in per_op.values()]),
            "ok_share": 1.0 - failed / attempted,
            "setup_s": setup_s,
            "driver_rss_peak_mb": rss["python"],
        }
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": trace.unit_of(k)} for k, v in layers.items()}
        print(f"spans: {os.path.relpath(spans_path(wl.name, args.seed), ROOT)}")
    for k, v in out.items():
        print(f"  {k:32s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


def spans_path(workload: str, seed: int) -> str:
    return os.path.join(SPANS_DIR, f"{workload}-seed{seed}.jsonl")


def write_spans(workload: str, seed: int, spans) -> None:
    """Write the traced pass's spans as JSON lines under SPANS_DIR."""
    os.makedirs(SPANS_DIR, exist_ok=True)
    with open(spans_path(workload, seed), "w") as f:
        for i, s in enumerate(spans):
            f.write(json.dumps({
                "id": i, "name": s.name, "layer": s.layer,
                "start": s.start, "end": s.end, "parent": s.parent,
            }) + "\n")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        sys.exit(1)
