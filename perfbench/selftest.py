"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py        # from the root of a checkout, ~1 min

* the web-page generator's expected text equals ``extract_main`` on a
  sample of pages;
* the Python-built fixture transcripts equal what
  ``transcripts_from_documents`` builds;
* the ledger turns the event log of a tiny traced run (extract, a
  shuffle, a partitioned write) into the per-layer numbers, and the
  event-log switch keeps untraced jobs out of it;
* the ``/proc`` sampler counts the CPU of child processes.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.ledger import Ledger, read_events  # noqa: E402
from perfbench.procstat import tree  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_web_expected_matches_extract_main(self):
        from html_parser_spark.kernel.extract import extract_main

        pages = gen.web_pages(seed=5, n_pages=24)
        for p in pages:
            self.assertEqual(extract_main(p.html.encode("utf-8")).main_text, p.expected)
        sizes = sorted(len(p.html) for p in pages)
        self.assertLess(sizes[0], 10_000)
        self.assertGreater(sizes[-1], 150_000)
        self.assertTrue(40_000 < sizes[len(sizes) // 2] < 90_000)

    def test_same_seed_same_pages(self):
        a, b = gen.web_pages(9, 3), gen.web_pages(9, 3)
        self.assertEqual([p.html for p in a], [p.html for p in b])
        self.assertNotEqual(a[0].html, gen.web_pages(10, 3)[0].html)

    def test_fixture_documents_shape(self):
        docs = gen.fixture_documents(3, 500, pii_share=0.2)
        n_words = [len(t.split(" ")) for t in docs["text"].to_pylist()]
        self.assertEqual(docs.num_rows, 500)
        self.assertGreaterEqual(min(n_words), 10)
        self.assertTrue(any("@example.com" in t for t in docs["text"].to_pylist()))


class SparkTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        from perfbench.run import prepare_work_dir, start_session

        cls.work = prepare_work_dir("selftest")
        cls.spark = start_session(cls.work, cores=2, event_log=True)

    @classmethod
    def tearDownClass(cls):
        from perfbench.run import stop_jvm

        cls.spark.stop()
        stop_jvm()
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_fixture_transcripts_match_sources_layer(self):
        from html_parser_spark.sources.transcripts import transcripts_from_documents

        docs = gen.fixture_documents(4, 120)
        docs_dir = os.path.join(self.work, "docs")
        gen.write_parquet(docs, os.path.join(docs_dir, "documents.parquet"))
        ours, expected = gen.fixture_transcripts(docs, replicate=2, n_convs=10)
        theirs = transcripts_from_documents(self.spark, docs_dir, n_convs=10, replicate=2).collect()

        def key(conv, turn, role, text, tool, ts, exp):
            return conv, turn, role, text, tool, ts.timestamp(), exp

        want = sorted(key(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts,
                          r.expected_main_text) for r in theirs)
        got = sorted(key(*row.values(), e) for row, e in zip(
            ours.to_pylist(), expected["expected"].to_pylist()))
        self.assertEqual(got, want)

    def test_ledger_attributes_layers_to_spans(self):
        from pyspark.sql import functions as F

        from html_parser_spark.plans import pipeline
        from html_parser_spark.sources import catalog
        from perfbench.run import EventLogSwitch

        docs = gen.fixture_documents(6, 200)
        table, _ = gen.fixture_transcripts(docs, replicate=1, n_convs=20)
        src = os.path.join(self.work, "in")
        gen.write_input(table, src, 4)
        spark = self.spark
        switch = EventLogSwitch(spark)
        tracer = Tracer(spark.sparkContext)

        switch.set(False)
        with tracer.span("untraced"):
            pipeline.extract_turns(catalog.read_transcripts(spark, src)).count()
        switch.set(True)
        with tracer.span("job") as job, tracer.patched():
            # through the modules, so the patched functions are the ones called
            out = pipeline.extract_turns(catalog.read_transcripts(spark, src))
            catalog.write_table(out.repartition(4, "bucket"), os.path.join(self.work, "out"))
            out.groupBy("role").agg(F.sum(F.length("main_text"))).collect()
        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes the event log; this is the class's last test
        tracer.sc = None

        led = Ledger(read_events(os.path.join(self.work, "eventlog"), app_id))
        names = {s["name"] for s in tracer.spans}
        self.assertTrue({"plans.extract_turns", "sources.read_transcripts",
                         "sources.read_table", "operators.extract_struct_udf"} <= names)
        layers = led.layers(tracer.subtree(job["id"]))
        # two extract passes (the write and the aggregate), 200 turns each
        self.assertEqual(layers["operators.udf_rows"], 400)
        self.assertEqual(layers["plans.sql_executions"], 2)
        self.assertGreater(layers["operators.udf_python_s"], 0)
        self.assertGreater(layers["operators.arrow_sent_mb"], 0)
        self.assertGreater(layers["sources.scan_mb"], 0)
        self.assertGreater(layers["sources.write_mb"], 0)
        self.assertGreater(layers["sources.write_s"], 0)
        self.assertGreaterEqual(layers["sources.files_written"], 4)
        self.assertGreater(layers["plans.shuffle_write_mb"], 0)
        self.assertGreater(layers["plans.tasks"], 4)
        self.assertGreater(layers["plans.executor_cpu_s"], 0)
        untraced = tracer.subtree(next(s["id"] for s in tracer.spans if s["name"] == "untraced"))
        self.assertEqual(led.layers(untraced)["plans.tasks"], 0)


class ProcStatTest(unittest.TestCase):
    def test_tree_counts_children(self):
        cpu0, rss = tree(os.getpid())
        self.assertGreater(rss, 0)
        child = subprocess.Popen([sys.executable, "-c",
                                  "import time\nt=time.time()\nwhile time.time()-t<0.5: pass"])
        child.wait(timeout=30)
        cpu1, _ = tree(os.getpid())
        self.assertGreater(cpu1 - cpu0, 0.3)


if __name__ == "__main__":
    unittest.main()
