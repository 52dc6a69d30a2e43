"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It builds nothing: the program is the
``html_parser_spark`` package and ``jobs/`` next to this directory.
All files go under ``.perfbench_work/`` in the checkout.

One run, closed loop on a ``local[min(4, nproc)]`` session:

1. set-up, three times: (re)start the Spark session and generate and
   materialise the seeded inputs; then warm up with one untimed job;
2. timed jobs, each started after the previous one and its output
   check finished, until their walls add up to ``--seconds``;
3. with ``--trace 0``: the end-to-end metrics (medians over the timed
   jobs).  With ``--trace 1``: timed jobs alternate between untraced
   and traced (Spark event log on, spans around the program's public
   functions), and the per-layer metrics come from the traced ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
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
from contextlib import nullcontext
from typing import Dict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.ledger import Ledger, read_events  # noqa: E402
from perfbench.procstat import TreeSampler  # noqa: E402
from perfbench.trace import Tracer, kernel_probe  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUPS = 3
# Warm-up: untimed jobs until at least this many have run and they took
# this long.  Job walls keep falling for the first ~5 fixture jobs in a
# JVM (JIT, code generation, Python worker imports).
WARMUP_JOBS = 2
WARMUP_S = 12.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_work_dir(name: str) -> str:
    """An empty ``.perfbench_work/<name>`` and an environment that keeps
    every temporary file of this process, the JVMs it launches (the
    launcher JVM would write ``/tmp/hsperfdata_*``) and the Python
    workers inside it; workers import the program from the checkout."""
    work = os.path.join(ROOT, ".perfbench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "eventlog"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return work


def start_session(work: str, cores: int, event_log: bool):
    from pyspark.sql import SparkSession

    b = (SparkSession.Builder().master(f"local[{cores}]").appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
         .config("spark.local.dir", f"{work}/spark-local")
         .config("spark.sql.warehouse.dir", f"{work}/warehouse")
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.eventLog.enabled", "true" if event_log else "false"))
    if event_log:
        b = (b.config("spark.eventLog.dir", f"file://{work}/eventlog")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class EventLogSwitch:
    """Detach and re-attach the session's event-logging listener, so
    untraced and traced jobs can alternate in one session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self.listener = self.sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on == self.on:
            return
        self.sc.listenerBus().waitUntilEmpty()
        if on:
            self.sc.addSparkListener(self.listener)
        else:
            self.sc.removeSparkListener(self.listener)
        self.on = on


def stop_jvm() -> None:
    """End the gateway JVM (and the Python workers it forked) and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):  # make sure it ends
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


# Per-layer metrics of a traced run, with their units; the run also
# reports ``process.cpu_s_per_kturn`` (process-tree CPU of the untraced
# jobs), whose spread across runs on a shared 4-vCPU VM (0.23) is too
# wide for an end-to-end bound.
PER_LAYER_UNITS = {
    "kernel.parse_us_per_page": "us",
    "kernel.match_us_per_page": "us",
    "kernel.extract_us_per_page": "us",
    "kernel.strip_emit_us_per_page": "us",
    "kernel.mb_per_s": "MB/s",
    "kernel.nodes_per_page": "count",
    "kernel.removed_per_page": "count",
    "operators.udf_python_s": "s",
    "operators.udf_boot_s": "s",
    "operators.udf_init_s": "s",
    "operators.arrow_sent_mb": "MB",
    "operators.arrow_recv_mb": "MB",
    "operators.udf_rows": "count",
    "operators.kernel_passes_per_turn": "ratio",
    "operators.udf_overhead_share": "ratio",
    "sources.scan_s": "s",
    "sources.scan_mb": "MB",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "sources.files_written": "count",
    "plans.shuffle_write_mb": "MB",
    "plans.shuffle_write_s": "s",
    "plans.shuffle_fetch_wait_s": "s",
    "plans.agg_s": "s",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.task_p50_s": "s",
    "plans.task_max_s": "s",
    "plans.task_skew": "ratio",
    "plans.gc_s": "s",
    "plans.executor_cpu_s": "s",
    "plans.sql_executions": "count",
    "trace.turns_per_s": "1/s",
    "trace.overhead_share": "ratio",
    "trace.attributed_share": "ratio",
    "trace.unattributed_share": "ratio",
    "trace.udf_stage_share": "ratio",
    "trace.kernel_share": "ratio",
    "trace.write_stage_share": "ratio",
    "trace.scan_stage_share": "ratio",
    "trace.plan_stage_share": "ratio",
}


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isfile(os.path.join(ROOT, "html_parser_spark", "__init__.py")):
        print(f"perfbench: no html_parser_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = prepare_work_dir(args.workload)
    cores = min(4, len(os.sched_getaffinity(0)))
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)

    try:
        with TreeSampler() as sampler:
            result = run(args, wl, work, cores, trace, sampler)
    finally:
        stop_jvm()
        shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    print(result["summary"], flush=True)
    print(json.dumps(result["json"]), flush=True)
    return 0


def run(args, wl, work, cores, trace, sampler) -> Dict:
    # 1. set-up: session + inputs, several times; then the warm-up
    setup_walls = []
    spark = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work, cores, event_log=trace)
        wl.generate()
        setup_walls.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    i = 0
    while i < WARMUP_JOBS or time.perf_counter() - t0 < WARMUP_S:
        i += 1
        wl.check(spark, -i, wl.job(spark, -i))
    warm_s = time.perf_counter() - t0
    setup_s = statistics.median(setup_walls) + warm_s
    print(f"perfbench: setups {[round(w, 2) for w in setup_walls]} s, "
          f"warm-up {i} jobs {warm_s:.2f} s",
          file=sys.stderr)

    tracer = Tracer(spark.sparkContext if trace else None)
    switch = EventLogSwitch(spark) if trace else None

    # 2. timed closed loop: until the timed walls add up to --seconds
    # (and, when tracing, at least two untraced and two traced jobs)
    reps = []
    while sum(r["wall_s"] for r in reps) < args.seconds or len(reps) < 1 + 3 * trace:
        i = len(reps)
        traced = trace and i % 2 == 1
        if switch:
            switch.set(traced)
        rec = {"traced": traced}
        with (tracer.span("rep", rep=i) if traced else nullcontext()), \
                (tracer.patched() if traced else nullcontext()):
            sampler.reset_peak()
            cpu0 = sampler.cpu_s()
            t0 = time.perf_counter()
            with (tracer.span("job") if traced else nullcontext()) as job_span:
                result = wl.job(spark, i)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = sampler.cpu_s() - cpu0
            rec["rss_b"] = sampler.peak_rss_bytes()
            with (tracer.span("check") if traced else nullcontext()):
                rec["failed"] = wl.check(spark, i, result)
        rec["turns"] = wl.n_turns
        if traced:
            rec["job_span"] = job_span["id"]
        reps.append(rec)
        print(f"perfbench: rep {i} traced={traced} wall {rec['wall_s']:.3f} s "
              f"failed {rec['failed']}", file=sys.stderr)

    attempted = sum(r["turns"] for r in reps)
    failed = sum(r["failed"] for r in reps)
    untraced = [r for r in reps if not r["traced"]]
    e2e = {
        "turns_per_s": statistics.median([r["turns"] / r["wall_s"] for r in untraced]),
        "peak_rss_mb": statistics.median([r["rss_b"] / 1e6 for r in untraced]),
        "setup_s": setup_s,
    }
    cpu_s_per_kturn = statistics.median([r["cpu_s"] / r["turns"] * 1e3 for r in untraced])
    summary = (f"perfbench {wl.name} seed={args.seed} cores={cores} "
               f"reps={len(untraced)} turns/rep={wl.n_turns} "
               f"error_rate={failed / attempted:.6f} cpu_s_per_kturn={cpu_s_per_kturn:.4g} "
               + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    if not trace:
        units = {"turns_per_s": "1/s", "peak_rss_mb": "MB", "setup_s": "s"}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    else:
        metrics = traced_metrics(spark, wl, work, cores, reps, tracer, switch)
        metrics["process.cpu_s_per_kturn"] = {"value": cpu_s_per_kturn, "unit": "s"}
        spark = None
    if spark is not None:
        spark.stop()
    return {"summary": summary, "json": {
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}}


def traced_metrics(spark, wl, work, cores, reps, tracer, switch) -> Dict:
    """Per-layer metrics: the ledger of the traced jobs, the kernel
    probe, and the traced/untraced comparison.  Stops ``spark``."""
    switch.set(True)
    pages = wl.sample_pages(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the event log
    tracer.sc = None
    kernel = kernel_probe(tracer, pages)
    led = Ledger(read_events(os.path.join(work, "eventlog"), app_id))

    traced = [r for r in reps if r["traced"]]
    layer: Dict[str, float] = {}
    for r in traced:
        for k, v in led.layers(tracer.subtree(r["job_span"])).items():
            layer[k] = layer.get(k, 0.0) + v / len(traced)
    wall = statistics.median([r["wall_s"] for r in traced])
    untraced_wall = statistics.median([r["wall_s"] for r in reps if not r["traced"]])
    budget = wall * cores  # core-seconds one traced job had
    udf_s, rows = layer["operators.udf_python_s"], layer["operators.udf_rows"]
    kernel_s = kernel["kernel.extract_us_per_page"] * 1e-6 * rows
    # Task time, split by the kind of stage it ran in, is the attributed
    # part of the core-seconds; the rest went to driver-side planning,
    # scheduling gaps and idle cores.
    stage_s = {k: layer[f"stages.{k}_s"] for k in ("udf", "write", "scan", "plan")}
    attributed = sum(stage_s.values())
    out = dict(kernel)
    out.update({k: v for k, v in layer.items() if k in PER_LAYER_UNITS})
    out.update({
        "operators.kernel_passes_per_turn": rows / wl.n_turns,
        "operators.udf_overhead_share": 1 - kernel_s / udf_s if udf_s else 0.0,
        "trace.turns_per_s": wl.n_turns / wall,
        "trace.overhead_share": wall / untraced_wall - 1,
        "trace.attributed_share": attributed / budget,
        "trace.unattributed_share": 1 - attributed / budget,
        "trace.kernel_share": kernel_s / budget,
        **{f"trace.{k}_stage_share": v / budget for k, v in stage_s.items()},
    })
    with open(os.path.join(work, "trace.json"), "w") as f:
        json.dump({"spans": tracer.spans, "self_s": tracer.self_times(), "layers": out},
                  f, indent=1)
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
