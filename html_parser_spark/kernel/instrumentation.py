"""Parse instrumentation hooks.

Reimplements the observable behavior of the reference's parse hook
wrapper (src/debug/instrumentation.zig:72-188): ``parse_with_hooks``
times a parse and emits ``ParseStats{elapsed_ns, input_len,
node_count}``.  The query-hook twins (``QueryStats`` with the
reference's cached/runtime split) have no caller outside the tests and
live in ``tests/support.py``.

The one hook is a plain callable, ``on_parse_end(stats)``: the
reference's parse-start hook and its whitespace-dropping parse profile
are left out, since no caller sets them (``htmlparse.parse`` and
``api.Document.parse`` keep the profile).  In Spark the same payload is
``html_ops.parse_stats_udf``'s per-document struct.
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
    source, on_parse_end: Optional[Callable[[ParseStats], None]] = None,
) -> Dom:
    """Parse ``source`` and pass its :class:`ParseStats` to
    ``on_parse_end``."""
    data = source.encode("utf-8") if isinstance(source, str) else source
    t0 = time.perf_counter_ns()
    dom = parse(data)
    if on_parse_end is not None:
        on_parse_end(ParseStats(
            elapsed_ns=max(time.perf_counter_ns() - t0, 0),
            input_len=len(data),
            node_count=len(dom),
        ))
    return dom
