"""Run one benchmark workload against the seafan_spark in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Inputs are generated from ``--seed`` into ``.perfbench_work/`` at the
checkout root (recreated on every run); the program sees only those
files. Set-up (imports, ``get_session`` with the program's default
config on ``local[nproc]``, one untimed warm-up pass) is timed, then
``--seconds`` over the workload's nominal pass time of passes run back
to back (at least one). Every operation's output is checked. Stdout carries one ``metric`` line per metric and, last, one
JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of traced passes (interleaved with
untraced passes, whose wall time gives ``trace.overhead_frac``).
Exit status: 0 when every output was right, 1 on a wrong output or a
program error, 2 when the checkout holds no seafan_spark.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tabular_train", "curation_dedup")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_dirs() -> dict[str, str]:
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("inputs", "out", "tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["work"] = work
    return dirs


def _hygiene(dirs: dict[str, str]) -> None:
    """Child processes (the JVM, Spark's Python workers) write scratch
    inside the checkout and import this checkout's seafan_spark."""
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"


def _workload(name: str, meta: dict, out_dir: str):
    if name == "tabular_train":
        from perfbench.tabular import Tabular

        return Tabular(meta, out_dir)
    from perfbench.curation import Curation

    return Curation(meta, out_dir)


def _stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "seafan_spark", "__init__.py")):
        print(f"perfbench: no seafan_spark package at {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import harness as H
    from perfbench.gen import GENERATORS

    dirs = _prepare_dirs()
    _hygiene(dirs)

    t = time.perf_counter()
    meta = GENERATORS[args.workload](args.seed, dirs["inputs"])
    wl = _workload(args.workload, meta, dirs["out"])
    excluded_s = time.perf_counter() - t  # input generation is not set-up
    t = time.perf_counter()
    wl.prepare_expected()
    excluded_s += time.perf_counter() - t  # nor is computing expected outputs

    import seafan_spark
    from seafan_spark import get_session

    if not os.path.abspath(seafan_spark.__file__).startswith(os.path.join(ROOT, "seafan_spark")):
        print(f"perfbench: imported seafan_spark from {seafan_spark.__file__}, not {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        # executor summaries are otherwise written to the status store at
        # most every 100 ms, which would misattribute task time to spans
        conf["spark.ui.liveUpdate.period"] = "0"
    spark = get_session("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        b = H.Bench(spark, H.Tracer(spark))
        try:
            metrics, lines = _measure(args, wl, spark, b, cores, excluded_s, dirs["work"])
            ok = True
        except H.PassAborted as e:
            print(f"perfbench: pass aborted: {e}", file=sys.stderr)
            metrics, lines, ok = {}, [], False
    finally:
        _stop_jvm(spark)
    correct = ok and b.failed == 0
    if ok:
        lines.append(f"metric failed_ops_frac {b.failed / max(b.attempted, 1)!r} fraction")
    H.emit(metrics, correct, max(b.attempted, 1), b.failed, lines)
    return 0 if correct else 1


def _measure(args, wl, spark, b, cores: int, excluded_s: float, work_dir: str):
    """Set up, warm up, run the timed passes; return (metrics, lines)."""
    import numpy as np

    from perfbench import harness as H
    from seafan_spark.session import cleanup

    tracer = b.tr
    wl.run_pass(b)  # untimed warm-up
    cleanup(spark)
    setup_s = H.process_age_s() - excluded_s
    b.attempted = b.failed = 0  # only timed passes count toward failed/attempted

    walls_u, walls_t, lat = [], [], []
    traced_spans, gc_s, task_s, iters = [], 0.0, 0.0, 0
    # A fixed pass count per workload: each pass runs further down the JIT
    # warm-up curve, so parent and child must time the same passes. At
    # HEAD on 4 cores they fill about --seconds. Traced runs alternate
    # untraced and traced passes, an odd number of them starting untraced,
    # so the untraced passes bracket the traced ones on that curve.
    passes = max(1, round(args.seconds / wl.nominal_pass_s))
    if args.trace:
        passes = max(3, passes) | 1
    traced = False
    while len(walls_u) + len(walls_t) < passes:
        tracer.enabled = traced
        b.latencies_ms = None if traced else []
        b.model_iterations = 0
        first = len(tracer.spans)
        check0 = b.check_s
        if traced:
            gc0, (task0, _, _) = tracer.gc_ms(), tracer.counters()
        t0 = time.perf_counter()
        with tracer.span("pass"):
            wl.run_pass(b)
        wall = time.perf_counter() - t0 - (b.check_s - check0)
        if traced:
            walls_t.append(wall)
            traced_spans += tracer.spans[first:]
            gc_s += (tracer.gc_ms() - gc0) / 1000.0
            task_s += (tracer.counters()[0] - task0) / 1000.0
            iters = b.model_iterations
        else:
            walls_u.append(wall)
            lat += b.latencies_ms
        tracer.enabled = False
        cleanup(spark)
        traced = bool(args.trace) and not traced

    if not args.trace:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = H.vm_hwm_mb("self") + H.vm_hwm_mb(jvm_pid)
        lines = [
            f"samples passes {len(walls_u)} input_rows {wl.rows} pass_walls_s " + " ".join(f"{w:.3f}" for w in walls_u),
            f"samples operations {len(lat)} op_p50_ms {np.percentile(lat, 50):.1f} op_p95_ms {np.percentile(lat, 95):.1f}",
        ]
        return H.end_to_end_report(setup_s, wl.rows, walls_u, rss_mb), lines
    cand, verified = wl.dedup_pair_counts(spark)
    metrics = H.per_layer_report(
        tracer.layer_totals(traced_spans), walls_t, walls_u, task_s, cores, gc_s, iters, cand, verified
    )
    tracer.dump(os.path.join(work_dir, "spans.jsonl"))
    lines = [f"samples traced_passes {len(walls_t)} untraced_passes {len(walls_u)} spans {len(traced_spans)}"]
    return metrics, lines


if __name__ == "__main__":
    sys.exit(main())
