"""Spans recorded from the benchmark side, plus the kernel probe.

A span is ``(id, parent, name, start, end)``, kept in memory and
written out when the run ends.  While a span is open its id is the
``perfbench.span`` Spark local property, so every Spark job started
inside it carries the id into the event log (see ``ledger.py``).

``patched`` wraps the program's public functions in spans for the
duration of a traced repetition by swapping module attributes; the
program's files are never modified.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Tuple

from .ledger import SPAN_PROPERTY

# (module, function) pairs of the program's public entry points that a
# traced repetition wraps in spans, grouped by layer.
TRACED_FUNCTIONS = (
    ("html_parser_spark.sources.catalog", "read_table"),
    ("html_parser_spark.sources.catalog", "read_transcripts"),
    ("html_parser_spark.operators.html_ops", "extract_struct_udf"),
    ("html_parser_spark.operators.curate", "curate_corpus"),
    ("html_parser_spark.operators.curate", "curation_stats"),
    ("html_parser_spark.operators.pii", "pii_scrub"),
    ("html_parser_spark.operators.corpusprep", "split_assign"),
    ("html_parser_spark.operators.corpusprep", "pack_sequences"),
    ("html_parser_spark.plans.pipeline", "extract_turns"),
    ("jobs.corpus_prep_job", "run"),
)


def layer_of(module: str) -> str:
    """``html_parser_spark.plans.pipeline`` -> ``plans``; ``jobs.x`` -> ``jobs``."""
    parts = module.split(".")
    return parts[1] if parts[0] == "html_parser_spark" else parts[0]


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: List[Dict] = []
        self._stack: List[str] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Dict]:
        rec = {"id": f"s{len(self.spans)}", "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        old = None
        if self.sc is not None:
            old = self.sc.getLocalProperty(SPAN_PROPERTY)
            self.sc.setLocalProperty(SPAN_PROPERTY, rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, old)

    def subtree(self, span_id: str) -> set:
        """Ids of ``span_id`` and every span opened inside it."""
        out = {span_id}
        for s in self.spans:  # children always follow their parent
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def self_times(self) -> Dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child: Dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: Dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    @contextmanager
    def patched(self) -> Iterator[None]:
        """Wrap every :data:`TRACED_FUNCTIONS` entry in a span, in every
        loaded program module that refers to it, until exit."""
        undo: List[Tuple[object, str, object]] = []
        for mod_name, fn_name in TRACED_FUNCTIONS:
            mod = sys.modules.get(mod_name)
            orig = getattr(mod, fn_name, None)
            if orig is None:
                continue
            wrapper = self._wrap(f"{layer_of(mod_name)}.{fn_name}", orig)
            for name, m in list(sys.modules.items()):
                if m is not None and name.split(".")[0] in ("html_parser_spark", "jobs") \
                        and getattr(m, fn_name, None) is orig:
                    undo.append((m, fn_name, orig))
                    setattr(m, fn_name, wrapper)
        try:
            yield
        finally:
            for m, fn_name, orig in reversed(undo):
                setattr(m, fn_name, orig)

    def _wrap(self, name: str, fn):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        wrapper.__wrapped__ = fn
        return wrapper


def kernel_probe(tracer: Tracer, pages: List[str], min_seconds: float = 1.5,
                 passes: int = 5) -> Dict[str, float]:
    """Single-core driver loop over ``pages``: ``parse``,
    ``query_all(DEFAULT_REMOVE_SELECTOR)`` on the parsed DOMs, and the
    full ``extract_main``.  Each pass times the three in turn, so they
    see the same machine; passes repeat at least ``passes`` times and
    ``min_seconds``, and each one's fastest pass counts, as the one
    least disturbed by the rest of the machine."""
    from html_parser_spark.kernel.extract import (
        DEFAULT_REMOVE_SELECTOR, extract_main,
    )
    from html_parser_spark.kernel.htmlparse import parse
    from html_parser_spark.kernel.matcher import query_all
    from html_parser_spark.kernel.selector import compile_selector

    sel = compile_selector(DEFAULT_REMOVE_SELECTOR)
    data = [p.encode("utf-8") for p in pages]
    doms = [parse(b) for b in data]
    results = [extract_main(b, remove_selector=sel) for b in data]  # warm
    ops = (
        ("kernel.parse", parse, data),
        ("kernel.query_all", lambda d: query_all(d, sel), doms),
        ("kernel.extract_main", lambda b: extract_main(b, remove_selector=sel), data),
    )
    best = {name: float("inf") for name, _, _ in ops}
    deadline = time.perf_counter() + min_seconds
    for i in range(50):
        if i >= passes and time.perf_counter() > deadline:
            break
        for name, fn, items in ops:
            with tracer.span(name):
                t0 = time.perf_counter()
                for x in items:
                    fn(x)
                best[name] = min(best[name], time.perf_counter() - t0)
    parse_us, match_us, extract_us = (best[name] / len(data) * 1e6 for name, _, _ in ops)
    mean_bytes = sum(len(b) for b in data) / len(data)
    return {
        "kernel.parse_us_per_page": parse_us,
        "kernel.match_us_per_page": match_us,
        "kernel.extract_us_per_page": extract_us,
        "kernel.strip_emit_us_per_page": extract_us - parse_us - match_us,
        "kernel.mb_per_s": mean_bytes / extract_us,
        "kernel.nodes_per_page": sum(len(d) for d in doms) / len(doms),
        "kernel.removed_per_page": sum(r.n_removed for r in results) / len(results),
    }
