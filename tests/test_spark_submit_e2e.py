"""Out-of-process spark-submit deployment test — the north rule's
deployment clause run for real, not simulated: build the --py-files
zip, submit jobs/extract_job.py to a MULTI-EXECUTOR master
(local-cluster, 2 executor JVMs × 4 cores), then re-submit the same
run-id and require the resume path to skip every bucket while the
output stays idempotent.

This is the slowest test in the suite (~60-90 s: two full JVM boots)
by design — it is the only place the zip's self-containment, the
executor-side PYTHONPATH, and the control-table resume protocol are
exercised the way a cluster user would run them.
"""

import json
import os
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(tmp_path, run_id):
    zip_path = os.path.join(REPO, "dist", "html_parser_spark.zip")
    cmd = [
        "spark-submit", "--master", "local-cluster[2,4,4096]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.executor.memory=2g",
        "--conf", f"spark.executorEnv.PYTHONPATH={zip_path}",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "extract_job.py"),
        "--input", str(tmp_path / "input"),
        "--output", str(tmp_path / "out"),
        "--control", str(tmp_path / "ctl"),
        "--run-id", run_id, "--buckets", "8",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=REPO)
    lines = [ln for ln in p.stdout.strip().splitlines() if ln.startswith("{")]
    assert p.returncode == 0 and lines, p.stderr[-2000:]
    return json.loads(lines[-1])


@pytest.mark.slow
def test_spark_submit_pyfiles_resume(spark, sf_dir, tmp_path):
    if not any(os.access(os.path.join(d, "spark-submit"), os.X_OK)
               for d in os.environ.get("PATH", "").split(os.pathsep) if d):
        pytest.skip("spark-submit not on PATH")
    # fresh zip so the submitted code is the code under test
    subprocess.run([sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
                   check=True, capture_output=True)
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=40).drop(
        "doc_id", "expected_main_text")
    t.write.mode("overwrite").parquet(str(tmp_path / "input"))

    first = _submit(tmp_path, "e2e")
    assert first["rows_total"] == 500 and first["buckets_skipped"] == 0

    second = _submit(tmp_path, "e2e")
    assert second["buckets_skipped"] == 8     # full resume: nothing recomputed
    assert second["rows_total"] == 500

    con = duckdb.connect()
    n, d = con.execute(
        f"select count(*), count(distinct (conv_id, turn_idx)) "
        f"from '{tmp_path}/out/**/*.parquet'").fetchone()
    assert (n, d) == (500, 500)               # idempotent output
    ctl = con.execute(
        f"select count(*) from '{tmp_path}/ctl/**/*.parquet' "
        f"where run_id = 'e2e'").fetchone()[0]
    assert ctl == 8                           # one lineage row per bucket


@pytest.mark.slow
def test_spark_submit_corpus_prep_job(spark, sf_dir, tmp_path):
    """The composed corpus-prep entry point under the same deployment
    clause: --py-files zip, multi-executor master, JSON summary, and
    split-partitioned output readable by an independent engine."""
    if not any(os.access(os.path.join(d, "spark-submit"), os.X_OK)
               for d in os.environ.get("PATH", "").split(os.pathsep) if d):
        pytest.skip("spark-submit not on PATH")
    subprocess.run([sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
                   check=True, capture_output=True)
    from html_parser_spark.sources.transcripts import transcripts_from_documents

    t = transcripts_from_documents(spark, sf_dir, n_convs=40).drop(
        "doc_id", "expected_main_text")
    t.write.mode("overwrite").parquet(str(tmp_path / "input"))

    zip_path = os.path.join(REPO, "dist", "html_parser_spark.zip")
    cmd = [
        "spark-submit", "--master", "local-cluster[2,4,4096]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.executor.memory=2g",
        "--conf", f"spark.executorEnv.PYTHONPATH={zip_path}",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "corpus_prep_job.py"),
        "--input", str(tmp_path / "input"),
        "--output", str(tmp_path / "prepped"),
        "--quality", "0.0", "--min-tokens", "1", "--langs", "en,und",
        "--budget", "64", "--pack-buckets", "4",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=REPO)
    lines = [ln for ln in p.stdout.strip().splitlines() if ln.startswith("{")]
    assert p.returncode == 0 and lines, p.stderr[-2000:]
    summary = json.loads(lines[-1])
    assert summary["metric"] == "corpus_prep" and summary["rows_kept"] > 0

    con = duckdb.connect()
    n, d = con.execute(
        f"select count(*), count(distinct doc_id) "
        f"from '{tmp_path}/prepped/docs/**/*.parquet'").fetchone()
    assert n == summary["rows_kept"] and d == n
