#!/usr/bin/env python3
"""Benchmark harness.

Default mode: runs the headline operator suite on
``local[$SPARK_GRAFT_CPUS]`` (default 32) over
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) and prints TWO
JSON lines — a full-detail record (also written to BENCH_LOCAL.json),
then a compact summary as the LAST line sized to always fit a
2000-char tail capture (round-3 lesson: the detail line outgrew the
driver's capture and the round's headline evidence survived only as a
truncated string)::

    {...full detail: walls, block minima, loadavg probes, scaling...}
    {"metric": "extract_wall_sec", "value": <headline extraction wall
     sec>, "unit": "sec", "queries": {...per-query sec...}, "sf": ...,
     "turns_per_sec": ..., "gate": {...}, "scaling": {...}}

Methodology (what is and isn't inside the timed region):

* the transcript input table is **materialized to parquet first**
  (untimed) — the timed job is scan → map-only Arrow-batched
  extraction kernel → aggregate, i.e. exactly the production shape
  (extraction shuffles nothing; see plans/pipeline.py), not in-memory
  synthesis;
* Python UDF workers are **warmed** with one identical untimed run, so
  worker fork/import cost (a fixed per-executor cost that a
  long-running cluster job pays once) is not billed to throughput;
* the HEADLINE uses the interleaved-repeat protocol (round-3 verdict
  item): 3 blocks × 3 runs, each block followed by a third of the
  query suite so the blocks genuinely spread across the multi-minute
  window, reported as the median of per-block minima, with
  ``os.getloadavg()`` probes recorded before every block and after the
  suite — a noise-contaminated run is self-evident AND localizable
  from the JSON instead of silently reading as a regression;
* scaling children time THREE runs and report the minimum, and the
  hardware control is best-of-2 per level — this sandbox has noisy
  neighbors (identical configs have measured 2× apart), and the
  minimum wall is the least-contaminated observation;
* scaling evidence (BASELINE.json north rule: N vs 4N EXECUTORS, ≥0.8
  efficiency; no multi-machine cluster exists in this sandbox): the
  identical job runs in fresh subprocesses under
  ``local-cluster[1,4,4096]`` vs ``local-cluster[4,4,4096]`` — one vs
  four REAL executor JVMs (own heap, own Python worker pool each) on
  this host, sharing only the physical socket — on the SAME
  materialized input; efficiency = (T_low / T_high) / 4.  The input is
  sized (``SCALE_REPLICATE``) so kernel compute dominates fixed job
  overhead.  Because all executors share one socket's frequency/memory
  budget (unlike a real scale-out, which adds machines), a no-Spark
  multiprocessing **hardware control** runs the raw kernel at the same
  two total-core counts; ``normalized_efficiency`` = Spark speedup /
  control speedup is the machine-independent number.  Skip with
  SPARK_GRAFT_BENCH_SCALING=0.

Child mode (internal): ``bench.py --scaling-child <n_executors>``
measures only extraction throughput at that cluster size and prints
one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "100"))
SCALE_REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_REPLICATE", "300"))
SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
SCALE_LOW = int(os.environ.get("SPARK_GRAFT_BENCH_LOW", "4"))
SCALE_HIGH = int(os.environ.get("SPARK_GRAFT_BENCH_HIGH", str(4 * SCALE_LOW)))
EXEC_LOW = int(os.environ.get("SPARK_GRAFT_BENCH_EXEC_LOW", "1"))
EXEC_HIGH = int(os.environ.get("SPARK_GRAFT_BENCH_EXEC_HIGH", str(4 * EXEC_LOW)))
CHILD_TIMED_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_CHILD_RUNS", "5"))
HEADLINE_BLOCKS = int(os.environ.get("SPARK_GRAFT_BENCH_BLOCKS", "3"))
HEADLINE_RUNS_PER_BLOCK = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_PER_BLOCK", "3"))
GATE_MODE = os.environ.get("SPARK_GRAFT_BENCH_GATE", "warn")  # warn | fail | off
N_CONVS = 500

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def make_spark(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(4 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def make_spark_cluster(n_executors: int, cores_per: int = 4):
    """Multi-executor session: ``local-cluster`` launches one REAL
    executor JVM per slot (own heap, own Python worker pool) on this
    host — the closest this sandbox gets to "N executors": only the
    physical socket is shared."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder
        .master(f"local-cluster[{n_executors},{cores_per},4096]")
        .appName(f"bench-exec-{n_executors}x{cores_per}")
        .config("spark.sql.shuffle.partitions", str(4 * n_executors * cores_per))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.executor.memory", "4g")
        .config("spark.driver.memory", "8g")
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.abspath(__file__)))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
        .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
        # single host: no data locality to wait for; the default 3s
        # per-level wait stalls multi-executor scheduling only
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def materialize_input(spark, sf_dir: str, replicate: int, out_dir: str) -> int:
    """Write the synthetic transcript table to parquet (untimed) and
    return its row count."""
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=N_CONVS, replicate=replicate)
    t = t.drop("doc_id", "expected_main_text")
    # Pre-split files so the timed scan parallelizes across all cores,
    # with enough waves per core that the last-wave straggler tail is
    # amortized: 64 partitions on 16 cores is 4 waves (the r01 4x4
    # scaling child lost ~20% wall to the tail); 256 partitions is 16.
    t.repartition(256).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


def extraction_throughput(spark, input_dir: str, n_turns: int, timed_runs: int = 1,
                          warm_runs: int = 1):
    """Turns/sec of the production-shaped extraction job: parquet scan
    → map-only kernel (no input shuffle — see plans/pipeline.py) →
    aggregate.  No disk sink; count + checksum force full computation.

    Reports the MIN of ``timed_runs`` walls (one measurement block).
    The headline protocol lives in main(): it calls this once per
    block and interleaves the blocks with thirds of the query suite
    (the r02 driver run regressed 19% with EVERY query drifting slower
    — noise-shaped but unproven), so the block minima genuinely spread
    across the multi-minute window and the median of them resists a
    transient load spike, with per-block loadavg probes localizing any
    contamination in the JSON."""
    from pyspark.sql import functions as F

    from html_parser_spark.plans.pipeline import extract_turns

    def run_once():
        out = extract_turns(spark.read.parquet(input_dir))
        return out.agg(
            F.count("*").alias("n"),
            F.sum(F.octet_length("main_text")).alias("chars"),
            F.sum("n_nodes").alias("nodes"),
        ).collect()[0]

    # Warm-up runs (untimed): fork + import one Python UDF worker per
    # core and let executor JIT settle — one-time per-executor costs a
    # long-running cluster job pays once, not per row.  Steady state is
    # what scales; the r01 driver run showed multi-executor walls still
    # descending after one warm run, hence warm_runs=2 for children.
    for _ in range(warm_runs):
        run_once()

    # Min of `timed_runs` repeats: the minimum wall is the
    # least-contaminated observation of the job's true cost.
    walls = []
    agg = None
    for _ in range(timed_runs):
        t0 = time.time()
        agg = run_once()
        walls.append(time.time() - t0)
    wall = min(walls)
    assert agg["n"] == n_turns, (agg["n"], n_turns)
    return {
        "turns": n_turns,
        "wall_sec": round(wall, 3),
        "walls_sec": [round(w, 3) for w in walls],
        "turns_per_sec": round(n_turns / wall, 1),
        "mb_out": round(agg["chars"] / 1e6, 1),
        "nodes": int(agg["nodes"]),
    }


def kernel_mb_per_core(spark, sf_dir: str, n_pages: int = 400, repeats: int = 3) -> dict:
    """Single-core parse+extract MB/s of the pure-Python kernel — the
    SURVEY §7 exit-criterion figure (the tokenizer bar was ≥10 MB/s per
    core) and the honest per-core comparison against the reference's
    published single-core Zig parse throughput (BASELINE.md: 1233 MB/s
    avg).  A bounded page sample is collected once; the timed region is
    a driver-side single-thread loop over ``extract_main`` (parse +
    selector removal + link-density + text emission — strictly MORE
    work per byte than the reference's parse-only number), so the MB/s
    is per-core by construction.  The distributed job multiplies this
    by busy cores; the map-only plan keeps that multiplication linear
    (see scaling evidence)."""
    from html_parser_spark.kernel.extract import extract_main
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    import random

    def one_rate(pages, repeats):
        total_bytes = sum(len(p.encode("utf-8")) for p in pages)
        for p in pages[:10]:  # warm: adaptive-interpreter specialization
            extract_main(p)
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for p in pages:
                extract_main(p)
            walls.append(time.perf_counter() - t0)
        wall = min(walls)
        mbps = total_bytes / 1e6 / wall
        return {
            "pages": len(pages),
            "input_mb": round(total_bytes / 1e6, 3),
            "wall_sec": round(wall, 3),
            "mb_per_sec_per_core": round(mbps, 2),
            "meets_survey_bar": mbps >= 10.0,
            "ratio_vs_reference": round(mbps / 1233.0, 4),
        }

    # Block 1: the suite's actual fixture pages (~0.7 KB each) — the
    # number behind the suite's turns/s; per-page fixed cost (DOM
    # alloc, selector setup) dominates at this size.
    fixture_pages = [r[0] for r in
                     transcripts_from_documents(spark, sf_dir, n_convs=N_CONVS)
                     .select("text").limit(n_pages).collect()]
    # Block 2: realistic web-page sizes (~60 KB: nav + article + footer,
    # deterministic content) — the size class the SURVEY §7 bar and the
    # reference's own bench corpus describe; fixed cost amortized.
    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "content", "paragraph",
             "navigation", "article", "density", "heuristic"]
    paras = "".join(
        "<p>" + " ".join(rng.choice(words) for _ in range(40)) + "</p>"
        for _ in range(200))
    nav = ("<nav><ul>" + "".join(f"<li><a href='/x{i}'>link {i}</a></li>"
                                 for i in range(20)) + "</ul></nav>")
    web_page = (f"<html><head><title>t</title></head><body>{nav}"
                f"<main><article>{paras}</article></main>"
                f"<footer><a href='/'>home</a></footer></body></html>")
    return {
        "survey_s7_bar_mb_per_sec": 10.0,
        "reference_single_core_mb_per_sec": 1233.0,
        "fixture_pages": one_rate(fixture_pages, repeats),
        "web_page_60kb": one_rate([web_page] * 32, repeats),
    }


QUERY_PICKS = [
    "extract_main_text", "html_count_li", "html_node_count",
    "tpch_pricing_summary", "join_region_revenue", "events_hourly",
    "minhash_signatures", "simhash", "dedup_exact_stats",
    "text_quality", "fingerprint", "ann_cosine_topk",
    "lsh_candidate_pairs", "window_top_order",
    "simhash_banded_pairs", "embedding_neardup", "pdf_extract",
    "ann_ivf_batch_topk", "pii_scrub", "incremental_dedup",
    "bm25_topk",
    # round 5: markdown rendering (kernel-bound map-only pass), URL
    # canonicalization (pure JVM expressions), link-graph resolution
    # (one Arrow pass + Catalyst RFC 3986), and site-level boilerplate
    # removal (the two-shuffle corpus-frequency pipeline)
    "html_to_markdown", "url_normalize", "link_resolve",
    "boilerplate_removal",
]

# The 3 most expensive suite queries get the headline's interleaved
# protocol (round-3 verdict item 5): one timed run per block, reported
# as the median across blocks, so round-over-round deltas on them are
# signal instead of single-shot ±40% box noise.
REPEAT_PICKS = ("simhash_banded_pairs", "simhash", "html_count_li")


def _time_query(spark, sf_dir: str, name: str, runs: int = 1) -> list:
    """Walls for ``runs`` executions of one suite query (noop sink
    forces full execution) — the single timing definition both the
    min-of-2 suite pass and the median-of-blocks repeat protocol use."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    walls = []
    for _ in range(runs):
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 3))
    return walls


def run_headline_queries(spark, sf_dir: str, picks=None):
    """Per-query wall times for the operator suite: min-of-2 (the
    first run may pay page-cache misses)."""
    return {name: round(min(_time_query(spark, sf_dir, name, runs=2)), 3)
            for name in (picks if picks is not None else QUERY_PICKS)}


def run_interleaved_suite(spark, suite_dir: str, n_suite: int, load_probes: dict):
    """The headline protocol: HEADLINE_BLOCKS extraction blocks
    interleaved with thirds of the query suite so the block minima
    sample the whole multi-minute window — one transient load spike
    contaminates one block, not the median.  The REPEAT_PICKS queries
    also run once in EVERY block (min-of-2 in block 0 to absorb
    page-cache misses) and report the median across blocks.  Returns
    (extract stats with the block-median headline, per-query times,
    per-repeat-query walls); per-block loadavg probes are appended to
    ``load_probes``."""
    singles = [q for q in QUERY_PICKS if q not in REPEAT_PICKS]
    chunk = (len(singles) + HEADLINE_BLOCKS - 1) // HEADLINE_BLOCKS
    block_exs = []
    qtimes = {}
    repeat_walls = {name: [] for name in REPEAT_PICKS if name in QUERY_PICKS}
    for bi in range(HEADLINE_BLOCKS):
        load_probes[f"before_block{bi}"] = list(os.getloadavg())
        block_exs.append(extraction_throughput(
            spark, suite_dir, n_suite,
            timed_runs=HEADLINE_RUNS_PER_BLOCK,
            warm_runs=1 if bi == 0 else 0))
        qtimes.update(run_headline_queries(
            spark, SF_DIR, singles[bi * chunk:(bi + 1) * chunk]))
        for name in repeat_walls:
            walls = _time_query(spark, SF_DIR, name, runs=2 if bi == 0 else 1)
            repeat_walls[name].append(min(walls))
    for name, walls in repeat_walls.items():
        qtimes[name] = round(statistics.median(walls), 3)
    block_mins = [b["wall_sec"] for b in block_exs]
    ex = dict(block_exs[0])
    ex["walls_sec"] = [w for b in block_exs for w in b["walls_sec"]]
    ex["block_mins_sec"] = block_mins
    ex["wall_sec"] = round(statistics.median(block_mins), 3)
    ex["turns_per_sec"] = round(n_suite / ex["wall_sec"], 1)
    ex["estimator"] = (f"median of {HEADLINE_BLOCKS} block-minima "
                       f"({HEADLINE_RUNS_PER_BLOCK} runs/block, blocks "
                       f"interleaved with the query suite); REPEAT_PICKS "
                       f"queries = median of one run per block")
    return ex, qtimes, repeat_walls


def child_main(n_executors: int, input_dir: str, n_turns: int) -> None:
    spark = make_spark_cluster(n_executors)
    spark.sparkContext.setLogLevel("ERROR")
    res = extraction_throughput(spark, input_dir, n_turns,
                                timed_runs=CHILD_TIMED_RUNS, warm_runs=2)
    spark.stop()
    print(json.dumps({"executors": n_executors, **res}))


def _control_worker(args):
    """Pure-kernel worker for the hardware control: extract pages in a
    tight loop for a fixed duration, return docs done."""
    pages, seconds = args
    from html_parser_spark.kernel.extract import DEFAULT_REMOVE_SELECTOR, extract_main
    from html_parser_spark.kernel.selector import compile_selector

    sel = compile_selector(DEFAULT_REMOVE_SELECTOR)
    n = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        for p in pages:
            extract_main(p, remove_selector=sel)
            n += 1
        if time.perf_counter() > t_end:
            break
    return n


def hardware_control(sf_dir: str, seconds: float = 6.0) -> dict:
    """How does THIS BOX scale pure-CPU Python work from SCALE_LOW to
    SCALE_HIGH processes, with no Spark at all?

    Single-machine parallelism shares one socket's frequency/memory
    budget, so raw per-process throughput drops as processes grow — an
    artifact a real N→4N cluster scale-out (more machines) does not
    have.  The control isolates that artifact: the *normalized*
    efficiency (Spark speedup / control speedup) is the part
    attributable to our pipeline."""
    import multiprocessing as mp

    import duckdb

    from html_parser_spark.sources.transcripts import PAGE_PREFIX, PAGE_SUFFIX

    con = duckdb.connect()
    texts = [r[0] for r in con.execute(
        f"select text from '{sf_dir}/documents.parquet' limit 5000").fetchall()]
    pages = [(PAGE_PREFIX + t + PAGE_SUFFIX).encode() for t in texts]

    out = {}
    best = {SCALE_LOW: 0.0, SCALE_HIGH: 0.0}
    for _round in range(2):  # best-of-2 per level (noisy neighbors)
        for nproc in (SCALE_LOW, SCALE_HIGH):
            with mp.Pool(nproc) as pool:
                t0 = time.perf_counter()
                counts = pool.map(_control_worker, [(pages, seconds)] * nproc)
                wall = time.perf_counter() - t0
            best[nproc] = max(best[nproc], sum(counts) / wall)
    for nproc in (SCALE_LOW, SCALE_HIGH):
        out[f"procs[{nproc}]"] = {
            "docs_per_sec": round(best[nproc], 1),
            "docs_per_sec_per_proc": round(best[nproc] / nproc, 1),
        }
    lo = out[f"procs[{SCALE_LOW}]"]["docs_per_sec"]
    hi = out[f"procs[{SCALE_HIGH}]"]["docs_per_sec"]
    out["speedup"] = round(hi / lo, 3)
    out["efficiency"] = round(hi / lo / (SCALE_HIGH / SCALE_LOW), 3)
    return out


def run_scaling(input_dir: str, n_turns: int, sf_dir: str) -> dict:
    """N→4N executor scaling: the SAME job in fresh subprocesses on
    local-cluster with EXEC_LOW vs EXEC_HIGH real executor JVMs (4
    cores each), on the same materialized input."""
    out = {}
    for n_exec in (EXEC_LOW, EXEC_HIGH):
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_SCALING"] = "0"
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-child",
             str(n_exec), input_dir, str(n_turns)],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        lines = [ln for ln in p.stdout.strip().splitlines() if ln.startswith("{")]
        if not lines:
            raise RuntimeError(f"scaling child {n_exec} failed: {p.stderr[-2000:]}")
        out[f"executors[{n_exec}x4]"] = json.loads(lines[-1])
    lo = out[f"executors[{EXEC_LOW}x4]"]
    hi = out[f"executors[{EXEC_HIGH}x4]"]
    speedup = lo["wall_sec"] / hi["wall_sec"]
    ratio = EXEC_HIGH / EXEC_LOW
    out["speedup"] = round(speedup, 3)
    out["executor_ratio"] = ratio
    out["efficiency"] = round(speedup / ratio, 3)
    control = hardware_control(sf_dir)
    out["hardware_control"] = control
    # Spark's speedup relative to the box's own best-case speedup —
    # 1.0 means the pipeline scales exactly as well as raw parallel
    # processes; this is the number a multi-machine N→4N comparison
    # (which adds sockets instead of sharing one) would reflect.
    out["normalized_efficiency"] = round(
        min(speedup / max(control["speedup"], 1e-9), 1.0), 3)
    return out


def compact_summary(result: dict) -> str:
    """The FINAL stdout line: everything the round record needs
    (headline, per-query times, gate, scaling, worst loadavg), compact
    enough to always fit a 2000-char tail capture.  Full detail is the
    preceding stdout line and BENCH_LOCAL.json."""
    comp = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "turns_per_sec": result["turns_per_sec"],
        "cores": result["cores"],
        "loadavg_max_1m": round(
            max(v[0] for v in result["loadavg"].values()), 1),
        "detail": "BENCH_LOCAL.json",
    }
    kr = result.get("kernel_mb_per_core")
    if kr:
        comp["kernel_mb_s_core"] = {
            "fixture": kr["fixture_pages"]["mb_per_sec_per_core"],
            "web60kb": kr["web_page_60kb"]["mb_per_sec_per_core"],
        }
    gate = result.get("gate")
    if gate:
        comp["gate"] = {"ratio": gate["ratio"], "status": gate["status"],
                        "baseline_turns_per_sec": gate["baseline_turns_per_sec"]}
    scaling = result.get("scaling")
    if scaling:
        comp["scaling"] = {
            "speedup": scaling["speedup"],
            "executor_ratio": scaling["executor_ratio"],
            "efficiency": scaling["efficiency"],
            "normalized_efficiency": scaling["normalized_efficiency"],
        }
    line = json.dumps(comp)
    if len(line) > 1800:  # paranoia: never outgrow the tail again
        comp["queries"] = {k: comp["queries"][k]
                           for k in ("extract_pipeline",) if k in comp["queries"]}
        line = json.dumps(comp)
    return line


def regression_gate(result: dict) -> dict | None:
    """Round-over-round guard: compare the headline throughput to the
    stored baseline for the same scale factor (BENCH_BASELINE.json,
    updated when a round's number is accepted).  Mirrors the reference's
    hard per-fixture bench gate (bench/README.md:83-85); threshold is
    25% to ride out this sandbox's ±40%-tail noise on single runs of
    min-of-k walls.  GATE_MODE: warn (default) annotates the JSON,
    fail exits non-zero, off skips."""
    if GATE_MODE == "off":
        return None
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        baselines = json.load(f)
    base = baselines.get(f"sf{result['sf']}")
    if not base:
        return None
    ratio = result["turns_per_sec"] / base["turns_per_sec"]
    gate = {
        "baseline_turns_per_sec": base["turns_per_sec"],
        "ratio": round(ratio, 3),
        "threshold": 0.75,
        "status": "ok" if ratio >= 0.75 else "regressed",
    }
    if gate["status"] == "regressed" and GATE_MODE == "fail":
        gate["action"] = "exit-1"
    return gate


def main() -> None:
    if len(sys.argv) >= 5 and sys.argv[1] == "--scaling-child":
        child_main(int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))
        return

    tmp = tempfile.mkdtemp(prefix="bench_transcripts_")
    try:
        spark = make_spark(CPUS)
        spark.sparkContext.setLogLevel("ERROR")

        suite_dir = os.path.join(tmp, "suite")
        n_suite = materialize_input(spark, SF_DIR, REPLICATE, suite_dir)

        # Load probes bracketing the timed regions: a loadavg well above
        # this session's own core usage proves a contaminated run.
        load_probes = {"before_suite": list(os.getloadavg())}
        t_suite0 = time.time()
        ex, qtimes, repeat_walls = run_interleaved_suite(
            spark, suite_dir, n_suite, load_probes)
        suite_wall = round(time.time() - t_suite0, 3)
        load_probes["after_suite"] = list(os.getloadavg())

        kernel_rate = kernel_mb_per_core(spark, SF_DIR)

        scale_dir = os.path.join(tmp, "scale")
        n_scale = 0
        if SCALING:
            n_scale = materialize_input(spark, SF_DIR, SCALE_REPLICATE, scale_dir)
        spark.stop()

        scaling = run_scaling(scale_dir, n_scale, SF_DIR) if SCALING else None
        load_probes["after_scaling"] = list(os.getloadavg())

        result = {
            "metric": "extract_wall_sec",
            "value": ex["wall_sec"],
            "unit": "sec",
            "queries": {"extract_pipeline": ex["wall_sec"], **qtimes},
            "sf": SF_DIR.rstrip("/").split("sf")[-1],
            "suite_wall_sec": suite_wall,
            "turns_per_sec": ex["turns_per_sec"],
            "extract": ex,
            "kernel_mb_per_core": kernel_rate,
            "query_block_walls": repeat_walls,
            "cores": CPUS,
            "loadavg": load_probes,
        }
        if scaling is not None:
            result["scaling"] = scaling
        gate = regression_gate(result)
        if gate is not None:
            result["gate"] = gate
        # Full detail goes to a file + a non-final stdout line; the LAST
        # line is a compact summary guaranteed to fit the driver's tail
        # capture (round-3 lesson: BENCH_r03.json parsed=null because the
        # single detail line outgrew the 2000-char tail).
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
        try:
            with open(detail_path, "w") as f:
                json.dump(result, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout detail line still has it
        print(json.dumps(result))
        print(compact_summary(result))
        if gate is not None and gate.get("action") == "exit-1":
            sys.exit(1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
