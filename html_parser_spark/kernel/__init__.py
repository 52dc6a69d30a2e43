"""Pure-Python HTML kernel (no Spark imports).

Everything in this package is deliberately dependency-free so it can be
shipped to executors via ``--py-files`` and called from Arrow-batched
pandas UDFs.  Semantics mirror the reference engine byte-for-byte; each
module cites the reference file/lines it models (citations are into the
read-only survey copy at /root/reference).
"""

#: Poison-pill guard on one document's bytes: ``html_ops.doc_udf``
#: truncates every operator's input to it (outputs are ~input-sized; an
#: Arrow batch holds thousands of rows), and the PDF kernel inflates at
#: most this much per document (deflate expands ~1000:1).  Truncation
#: is safe because the permissive parsers treat it as EOF: open
#: elements close, a cut UTF-8 character becomes U+FFFD.
MAX_DOC_BYTES = 16 * 1024 * 1024

from .htmlparse import Dom, parse  # noqa: F401
from .selector import Selector, SelectorError, compile_selector  # noqa: F401
from .matcher import query_all, query_one, matches_at  # noqa: F401
from .text import inner_text, normalize_ws  # noqa: F401
from .entities import decode_entities  # noqa: F401
from .attrs import attrs_of, get_attr  # noqa: F401
from .extract import extract_main, ExtractResult  # noqa: F401
