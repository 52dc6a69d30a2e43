"""The workloads: input generation, the timed job, output checks.

Each workload writes its inputs under its work directory from the seed
(``generate``), runs one timed job (``job``) and then checks that job's
output outside the timed region (``check``), returning the number of
turns whose output is wrong or missing.
"""

from __future__ import annotations

import os
import shutil
import zlib
from typing import Dict, List, Tuple

import pyarrow as pa
from pyspark.sql import functions as F

from . import gen

N_FILES = 16  # input files of equal bytes
SEP = "\x1f"


def checksum(df, text_col: str) -> Tuple[int, int]:
    """(rows, sum of crc32(conv_id, turn_idx, text)): equal pairs mean
    equal turn-level text, barring a collision.  :func:`py_checksum`
    is the same sum over Python rows."""
    key = F.concat_ws(SEP, "conv_id", F.col("turn_idx").cast("string"), text_col)
    row = df.agg(F.count(F.lit(1)), F.sum(F.crc32(key))).first()
    return int(row[0]), int(row[1] or 0)


def py_checksum(expected: pa.Table) -> Tuple[int, int]:
    total = sum(
        zlib.crc32(f"{c}{SEP}{t}{SEP}{e}".encode("utf-8"))
        for c, t, e in zip(expected["conv_id"].to_pylist(), expected["turn_idx"].to_pylist(),
                           expected["expected"].to_pylist()))
    return expected.num_rows, total


def count_wrong(spark, out_df, expected_dir: str) -> int:
    """Expected turns whose extracted text is missing or different."""
    exp = spark.read.parquet(expected_dir)
    got = out_df.select("conv_id", "turn_idx", "main_text")
    joined = exp.join(got, ["conv_id", "turn_idx"], "left")
    bad = joined.where(F.col("main_text").isNull() | (F.col("main_text") != F.col("expected")))
    extra = got.join(exp, ["conv_id", "turn_idx"], "left_anti")
    return bad.count() + extra.count()


class Workload:
    name = ""
    why = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.input = os.path.join(work, "input")
        self.expected_dir = os.path.join(work, "expected")
        self.n_turns = 0
        self.expected: Tuple[int, int] = (0, 0)

    def generate(self) -> None:
        raise NotImplementedError

    def job(self, spark, rep: int):
        raise NotImplementedError

    def check(self, spark, rep: int, result) -> int:
        """Turns of the job's output that are wrong or missing."""
        raise NotImplementedError

    def sample_pages(self, spark) -> List[str]:
        """Pages for the kernel probe."""
        return [r[0] for r in spark.read.parquet(self.input).select("text").limit(300).collect()]

    def _materialise(self, transcripts: pa.Table, expected: pa.Table) -> None:
        """Write the program's input and the expected text, and take the
        expected checksum; no Spark job runs."""
        gen.write_input(transcripts, self.input, N_FILES)
        gen.write_parquet(expected, os.path.join(self.expected_dir, "part-0.parquet"))
        self.expected = py_checksum(expected)
        self.n_turns = expected.num_rows

    def _fixture(self, n_docs: int, replicate: int, pii_share: float = 0.0) -> None:
        docs = gen.fixture_documents(self.seed, n_docs, pii_share)
        self._materialise(*gen.fixture_transcripts(docs, replicate))


class _Extract(Workload):
    """scan -> ``extract_turns`` -> aggregate, checked per turn."""

    def job(self, spark, rep: int):
        from html_parser_spark.plans.pipeline import extract_turns
        from html_parser_spark.sources.catalog import read_transcripts

        out = extract_turns(read_transcripts(spark, self.input))
        return checksum(out, "main_text")

    def check(self, spark, rep: int, result):
        if result == self.expected:
            return 0
        from html_parser_spark.plans.pipeline import extract_turns
        from html_parser_spark.sources.catalog import read_transcripts

        out = extract_turns(read_transcripts(spark, self.input))
        return count_wrong(spark, out, self.expected_dir)


class FixtureExtract(_Extract):
    name = "fixture_extract"
    why = ("20k tiny fixture pages (~0.7 KB): per-page fixed cost and the Arrow UDF "
           "boundary dominate; the historical headline")
    n_docs, replicate = 5000, 4

    def generate(self) -> None:
        self._fixture(self.n_docs, self.replicate)


class WebExtract(_Extract):
    name = "web_extract"
    why = ("400 generated web pages (median ~60 KB, 3-400 KB) with chrome and link "
           "farms: the kernel's per-byte parse/strip/emit work dominates")
    n_pages = 400

    def generate(self) -> None:
        pages = gen.web_pages(self.seed, self.n_pages)
        self._materialise(*gen.web_transcripts(pages, prefix=f"web{self.seed}-"))
        by_size = sorted(pages, key=lambda p: len(p.html))
        self._sample = [by_size[(2 * i + 1) * len(by_size) // 16].html for i in range(8)]

    def sample_pages(self, spark) -> List[str]:
        return self._sample


class CorpusPrep(Workload):
    name = "corpus_prep"
    why = ("jobs/corpus_prep_job.run over 800 duplicate- and PII-bearing turns: the only "
           "composed multi-operator job, with its shuffles, writes and extract recompute")
    n_docs, replicate = 400, 2

    def generate(self) -> None:
        self._fixture(self.n_docs, self.replicate, pii_share=0.1)

    def job(self, spark, rep: int):
        from jobs import corpus_prep_job

        out = os.path.join(self.work, f"out{rep}")
        return corpus_prep_job.run(spark, corpus_prep_job.parse_args(
            ["--input", self.input, "--output", out]))

    def check(self, spark, rep: int, result):
        out = os.path.join(self.work, f"out{rep}")
        stats = {r["reason"]: r["n_docs"] for r in spark.read.parquet(out + "/stats").collect()}
        docs = spark.read.parquet(out + "/docs").select(
            "doc_id", "split", "bucket", "n_tokens", "start_offset").collect()
        shutil.rmtree(out, ignore_errors=True)
        # every input turn is kept or carries a drop reason
        failed = abs(self.n_turns - sum(stats.values())) + abs(self.n_turns - result["rows_in"])
        failed += abs(stats.get("kept", 0) - len(docs)) + abs(result["rows_kept"] - len(docs))
        # no document in two splits
        splits: Dict[str, set] = {}
        for d in docs:
            splits.setdefault(d["doc_id"], set()).add(d["split"])
        failed += sum(len(s) > 1 for s in splits.values())
        # packing offsets are contiguous inside each (split, bucket) stream
        streams: Dict[tuple, list] = {}
        for d in docs:
            streams.setdefault((d["split"], d["bucket"]), []).append(d)
        for stream in streams.values():
            offset = 0
            for d in sorted(stream, key=lambda d: d["doc_id"]):
                failed += d["start_offset"] != offset
                offset += d["n_tokens"]
        return min(failed, self.n_turns)


WORKLOADS = {w.name: w for w in (FixtureExtract, WebExtract, CorpusPrep)}
