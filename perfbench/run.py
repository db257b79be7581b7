"""Steady-state benchmark of the openmldb_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pit_backfill --seed 1 \\
        --seconds 10 --trace 0

One run generates its inputs from ``--seed`` (``gen_s``, not part of
set-up), starts Spark on ``local[nproc]``, pays the cold pass and the
warm-up passes (together with ``get_spark``: ``setup_s``), then runs
steady-state passes for ``--seconds`` and reports medians. Outputs are
checked outside the timed window. ``--trace 1`` adds a traced pass and
reports per-layer metrics instead. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is a fuller summary with units, sample counts and provenance.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

WARMUP_PASSES = 3
MIN_SAMPLES = 3

END_TO_END = {"rows_per_s": "1/s", "job_cpu_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}
# per-layer metrics every workload reports (the traced result line)
PER_LAYER = ("session.get_spark_s", "warmup_s", "plan_s", "spark.tasks",
             "spark.task_cpu_s", "spark.shuffle_write_bytes",
             "spark.spill_bytes", "trace_overhead")


def configure_env(work: str) -> None:
    """Host-forced settings only; every other knob keeps the program's
    default. Must run before the package is imported (it reads the
    driver memory at import)."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None             # re-read TMPDIR


def spark_conf(work: str) -> dict:
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        # JVM temp files stay in the work dir. The heap is committed and
        # touched up front (-Xms = -Xmx, pre-touch): otherwise how far G1
        # grows it depends on GC timing, and peak RSS swung by 20-30%
        # between identical runs. Peak RSS then moves with what the
        # program adds beyond the fixed heap (off-heap, Python workers).
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def layer_metrics(tr, untraced_median_s: float) -> dict[str, tuple]:
    """Per-layer metrics of one traced pass: name -> (value, unit)."""
    spans = tr.spans
    root = spans[0]
    m: dict[str, tuple] = {}
    plan_s = 0.0
    for i, sp in enumerate(spans):
        if sp.name in ("pass", "action"):
            continue
        if sp.name == "checkpoint.write":
            key = "checkpoint.write_s"
        else:                           # a public call: self time is plan
            key = f"{sp.name}.s"
            plan_s += tr.self_time(i)
        m[key] = (m.get(key, (0.0,))[0] + sp.end - sp.start, "s")
        if sp.name == "window_agg.kernel":
            c = sp.counters
            m.update({
                "window_agg.kernel.python_s": (c.get("python_s", 0.0), "s"),
                "window_agg.kernel.arrow_bytes_in":
                    (c.get("arrow_bytes_in", 0.0), "B"),
                "window_agg.kernel.arrow_bytes_out":
                    (c.get("arrow_bytes_out", 0.0), "B"),
                "window_agg.kernel.tasks": (c["top_stage_tasks"], "count"),
                "window_agg.kernel.max_task_s":
                    (c["top_stage_max_task_s"], "s"),
                "window_agg.kernel.median_task_s":
                    (c["top_stage_median_task_s"], "s"),
            })
    c = root.counters
    m.update({
        "plan_s": (plan_s, "s"),
        "spark.tasks": (c["tasks"], "count"),
        "spark.task_cpu_s": (c["task_cpu_s"], "s"),
        "spark.shuffle_write_bytes": (c["shuffle_write_bytes"], "B"),
        "spark.spill_bytes": (c["spill_bytes"], "B"),
        "trace_overhead": ((root.end - root.start) / untraced_median_s, "1"),
    })
    m.update(tr.metrics)
    return m


def steal_s() -> float:
    """CPU time stolen from this VM by its host, all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def provenance(args) -> dict:
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "seed": args.seed, "workload": args.workload,
            "steal_s": steal_s()}


def run(args, work: str) -> tuple[dict, dict]:
    from openmldb_spark import get_spark
    import workloads
    from procs import ProcTree
    from spans import NullTracer, Tracer

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    wl.stage(args.seed, work, args.scale)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}",
                      extra_conf=spark_conf(work))
    get_spark_s = time.perf_counter() - t0
    procs = ProcTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    null = NullTracer()

    attempted = failed = 0
    errors: list[str] = []

    def one_pass(tr) -> tuple[float, float] | None:
        nonlocal attempted, failed
        attempted += 1
        c0, t = procs.cpu_s(), time.perf_counter()
        try:
            wl.run_pass(spark, tr)
        except Exception:
            failed += 1
            errors.append(traceback.format_exc(limit=3))
            return None
        wall = time.perf_counter() - t
        cpu = procs.cpu_s() - c0
        procs.sample_rss()
        return wall, cpu

    # the self-test's tiny scale only exercises the code paths
    warmups, min_samples = ((WARMUP_PASSES, MIN_SAMPLES)
                            if args.scale == "full" else (0, 1))
    # set-up: the cold pass and the warm-up passes are not samples
    t0 = time.perf_counter()
    warm = [one_pass(null) for _ in range(1 + warmups)]
    warmup_s = time.perf_counter() - t0
    setup_s = get_spark_s + warmup_s

    samples = []
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < args.seconds
           or len(samples) < min_samples):
        r = one_pass(null)
        if r is None:
            break
        samples.append(r)

    attempted += 1
    try:
        errs = wl.check(spark)
    except Exception:
        errs = [traceback.format_exc(limit=3)]
    if errs:
        failed += 1
        errors.extend(errs)

    if not samples:
        raise RuntimeError("no steady-state pass succeeded:\n"
                           + "\n".join(errors))
    walls = [w for w, _ in samples]
    pass_s = statistics.median(walls)
    e2e = {
        "rows_per_s": wl.n_input / pass_s,
        "job_cpu_s": statistics.median(c for _, c in samples),
        "setup_s": setup_s,
        "peak_rss_mb": procs.peak_rss_mb(),
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                    for k, v in e2e.items()},
        "error_rate": {"value": failed / attempted, "unit": "1"},
        "input": {"n": wl.n_input, "unit": wl.unit},
        "samples": len(samples), "pass_s": walls,
        "pass_cpu_s": [c for _, c in samples],
        "pass_s_quartiles": (statistics.quantiles(walls, n=4)
                             if len(walls) > 1 else walls),
        "warm_pass_s": [w[0] for w in warm if w],
        "gen_s": gen_s, "get_spark_s": get_spark_s,
        "errors": errors,
    }

    if args.trace:
        tr = Tracer(spark)
        with tr.span("pass"):
            try:
                wl.run_pass(spark, tr)
            finally:
                tr.close_checkpoint()
                tr.release()
        tr.collect_counters()
        layers = layer_metrics(tr, pass_s)
        layers["session.get_spark_s"] = (get_spark_s, "s")
        layers["warmup_s"] = (warmup_s, "s")
        summary["layers"] = {k: {"value": v, "unit": u}
                             for k, (v, u) in sorted(layers.items())}
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace_{args.workload}_seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": tr.to_json()}, f, indent=1)
        summary["trace_file"] = os.path.relpath(path, ROOT)
        metrics = {k: summary["layers"][k] for k in PER_LAYER}
    else:
        metrics = summary["metrics"]

    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return summary, result


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pit_backfill", "kernel_windows",
                             "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the self-test only")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "openmldb_spark")):
        print(f"perfbench: no openmldb_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=OUT)
    configure_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    prov = provenance(args)
    try:
        summary, result = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    prov["loadavg_end"] = list(os.getloadavg())
    prov["steal_s"] = steal_s() - prov["steal_s"]
    summary["provenance"] = prov
    print(json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
