"""Parse instrumentation hooks.

Reimplements the observable behavior of the reference's parse hook
wrapper (src/debug/instrumentation.zig:72-188): ``parse_with_hooks``
times a parse and emits ``ParseStats{elapsed_ns, input_len,
node_count}``.  The query-hook twins (``QueryStats`` with the
reference's cached/runtime split) have no caller outside the tests and
live in ``tests/support.py``.

Hooks are plain callables (``on_parse_start(input_len)``,
``on_parse_end(stats)``); in the Spark pipeline the same payloads feed
``html_ops.parse_stats_udf`` and per-partition metric rows in the
control table (plans/pipeline.py) — the distributed analog of these
single-process hooks.
"""
from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Optional

from .htmlparse import Dom, parse


@dataclass(frozen=True)
class ParseStats:
    elapsed_ns: int
    input_len: int
    node_count: int


def parse_with_hooks(
    source,
    drop_whitespace_text_nodes: bool = False,
    on_parse_start: Optional[Callable[[int], None]] = None,
    on_parse_end: Optional[Callable[[ParseStats], None]] = None,
) -> Dom:
    data = source.encode("utf-8") if isinstance(source, str) else source
    if on_parse_start is not None:
        on_parse_start(len(data))
    t0 = time.perf_counter_ns()
    dom = parse(data, drop_whitespace_text_nodes=drop_whitespace_text_nodes)
    if on_parse_end is not None:
        on_parse_end(ParseStats(
            elapsed_ns=max(time.perf_counter_ns() - t0, 0),
            input_len=len(data),
            node_count=len(dom),
        ))
    return dom
