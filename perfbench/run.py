"""CLARITE pipeline benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload qc_wide --seed 1 --seconds 10 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer counters of the traced passes, and the spans are written to
``.perfbench/traces/<workload>-seed<seed>.jsonl``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import CALL_COUNTERS, PHASE_COUNTERS, STAGE_COUNTERS  # noqa: E402

# Set-up (generate, load, cache) runs this many times per run and its
# median is reported: the first repetition also pays the JVM's warm-up
# of the read path, and one sample alone varies with disk state.
SETUP_REPS = 3
# A 1g heap keeps the run small on a shared machine and steadies the
# peak-RSS reading: with 3g, how far the heap grew before a collection
# varied the JVM's peak by 20-40% from run to run.
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pipeline_s": "s",
    "vars_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, in a fixed order (at most 128)."""
    from perfbench.workloads import SPANS

    unit = {"jobs": "count", "py4j_calls": "count", "tasks": "count", "shuffle_mb": "MB"}
    out = {}
    for span in SPANS:
        counters = list(CALL_COUNTERS)
        if span.endswith(".collect"):
            counters += PHASE_COUNTERS
        for c in counters:
            out[f"{span}.{c}"] = unit.get(c, "ms" if c.endswith("_ms") else "s")
    for name in (
        "analyze.association_study.tasks",
        "analyze.association_study.collect.tasks",
        "analyze.association_study.collect.shuffle_mb",
    ):
        out[name] = unit[name.rsplit(".", 1)[1]]
    out["trace.pass_s"] = "s"
    out["trace.overhead_s"] = "s"
    return out


def _isolate(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    let Spark's Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM, the spark-submit launcher's too; without -UsePerfData
    # each would write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def measure(workload: str, seed: int, seconds: float, trace: bool, toy: bool, work: str) -> dict:
    import clarite_python_spark as cs

    from perfbench.trace import Direct, Tracer
    from perfbench.workloads import WORKLOADS, load, unload

    wl = WORKLOADS[workload]
    shape = wl.toy if toy else wl.shape
    cpus = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = cs.get_spark(app_name=f"perfbench-{workload}", cpus=cpus)
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        spark.sparkContext.setLogLevel("ERROR")
        data_s, inputs = [], None
        for rep in range(SETUP_REPS):
            if inputs is not None:
                unload(inputs)
                shutil.rmtree(inputs.path)
                shutil.rmtree(inputs.path + "_design", ignore_errors=True)
            path = os.path.join(work, f"input{rep}")
            t0 = time.perf_counter()
            truth = wl.generate(path, seed, shape, cpus)
            inputs = load(spark, path, truth)
            data_s.append(time.perf_counter() - t0)

        outputs, failed = [], 0
        out_dir = os.path.join(work, "out")

        def one_pass(hook) -> float:
            nonlocal failed
            t = time.perf_counter()
            try:
                outputs.append(wl.run_pass(inputs, hook, os.path.join(out_dir, f"pass{len(outputs)}")))
            except Exception as exc:  # a failed pass counts against ok_ratio
                print(f"pass failed: {exc!r}", file=sys.stderr)
                failed += 1
            return time.perf_counter() - t

        first_pass_s = one_pass(Direct())
        # warm passes: at least the workload's count and at least
        # `seconds`; traced runs alternate untraced and traced passes
        warm, traced = [], []
        tracer = Tracer(spark, f"{workload}-seed{seed}") if trace else None
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(warm) + len(traced) < max(wl.warm_passes, 2 if trace else 1):
            if tracer is not None and len(traced) < len(warm):
                tracer.start_pass()
                traced.append(one_pass(tracer))
            else:
                warm.append(one_pass(Direct()))
        rss = _peak_rss_mb([os.getpid(), jvm.pid])
        if tracer is not None:
            tracer.close()

        print(
            f"session {session_s:.3f} s, data set-up {[round(t, 3) for t in data_s]} s, "
            f"first pass {first_pass_s:.3f} s, warm {[round(t, 3) for t in warm]} s, "
            f"traced {[round(t, 3) for t in traced]} s",
            file=sys.stderr,
        )
        problems = wl.check(spark, inputs, outputs, seed)
        for i, p in enumerate(problems):
            for line in p:
                print(f"pass {i}: {line}", file=sys.stderr)
        attempted = 1 + len(warm) + len(traced)
        ok = sum(1 for p in problems if not p)
        result = {"correct": ok == attempted, "attempted": attempted, "failed": failed}
        if not trace:
            pipeline_s = statistics.median(warm)
            values = {
                "setup_s": session_s + statistics.median(data_s),
                "first_pass_s": first_pass_s,
                "pipeline_s": pipeline_s,
                "vars_per_s": (shape.variables - wl.untested) / pipeline_s,
                "driver_peak_rss_mb": rss,
                "ok_ratio": ok / attempted,
            }
            units = END_TO_END
        else:
            values = _layer_values(tracer.spans)
            values["trace.pass_s"] = statistics.median(traced)
            values["trace.overhead_s"] = statistics.median(traced) - statistics.median(warm)
            units = per_layer_units()
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{workload}-seed{seed}.jsonl"))
        result["metrics"] = {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()}
        return result
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait for it (and so for
        # the Python workers it forked)
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def _layer_values(spans: list[dict]) -> dict:
    """Median over the traced passes of each span counter."""
    values: dict[str, list[float]] = {}
    for s in spans:
        for k in (*CALL_COUNTERS, *STAGE_COUNTERS, *PHASE_COUNTERS):
            if k in s:
                values.setdefault(f"{s['span']}.{k}", []).append(s[k])
    return {k: statistics.median(v) for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny shapes, for the self-tests")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    _isolate(work)
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), args.toy, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
