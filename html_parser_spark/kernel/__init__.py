"""Pure-Python HTML kernel (no Spark imports).

Everything in this package is deliberately dependency-free so it can be
shipped to executors via ``--py-files`` and called from Arrow-batched
pandas UDFs.  Semantics mirror the reference engine byte-for-byte; each
module cites the reference file/lines it models (citations are into the
read-only survey copy at /root/reference).
"""

from .htmlparse import Dom, parse  # noqa: F401
from .selector import Selector, SelectorError, compile_selector  # noqa: F401
from .matcher import query_all, query_one, matches_at  # noqa: F401
from .text import inner_text, normalize_ws  # noqa: F401
from .entities import decode_entities  # noqa: F401
from .attrs import attrs_of, get_attr  # noqa: F401
from .extract import extract_main, ExtractResult  # noqa: F401
