"""PII detection and redaction over text corpora.

Beyond-the-reference training-data operator (same family as
operators/textstats.py): every production corpus pipeline scrubs
personally identifiable information before training (C4 removed
pages by blocklist; Dolma/RefinedWeb mask emails / phone numbers /
IP addresses in place).  This module is the masking variant:
per-document PII counts plus in-place replacement with typed
placeholder tokens.

Everything is JVM-side ``regexp_count`` / ``regexp_replace`` — no
Python kernels, no shuffle, whole-stage codegen end to end.  The
patterns deliberately use only the regex subset shared by Java
(Spark) and RE2 (DuckDB — the correctness oracle): character
classes, bounded quantifiers, non-capturing groups, ASCII ``\\b``
word boundaries; no lookaround, no backreferences.  That keeps the
operator portable and the oracle twin bit-exact.  The patterns'
backslashes keep them out of Spark SQL text: they go in as literals.

Redaction order is fixed (email, IPv4, SSN, phone): earlier classes
consume their text before later, more general numeric patterns can
partially match it, so the composition is deterministic regardless
of engine.  Counts are always measured on the ORIGINAL text, one
class at a time (the standard accounting: a document's email count
does not change because IPs were masked first).

Scale notes: map-only — counts and redaction are per-row scalar
expressions; at 10^12 rows this fans out embarrassingly with zero
exchange.  Patterns are precompiled once per codegen stage by the
JVM, not per row.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sql import ident

# (class name, pattern, placeholder) in redaction order.  Patterns are
# the Java/RE2 shared subset — see module docstring.
PII_PATTERNS: Sequence[Tuple[str, str, str]] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def pii_counts(text_col: str = "text") -> Sequence[Column]:
    """Per-class occurrence counts on the original text: one
    ``n_<class>`` int column per pattern plus ``n_pii`` (their sum).
    Leftmost non-overlapping matches — identical semantics in Java
    and RE2."""
    return [*(c.alias(f"n_{name}") for c, (name, _, _) in zip(_counts(text_col), PII_PATTERNS)),
            pii_total(text_col).alias("n_pii")]


def _counts(text_col: str) -> Sequence[Column]:
    t = F.expr(ident(text_col))
    return [F.regexp_count(t, F.lit(pat)) for _, pat, _ in PII_PATTERNS]


def pii_total(text_col: str = "text") -> Column:
    """``n_pii`` of :func:`pii_counts`, unnamed."""
    return reduce(operator.add, _counts(text_col))


def redact_pii(text_col: str = "text") -> Column:
    """The text with every PII match replaced by its typed
    placeholder, applied in the fixed ``PII_PATTERNS`` order.
    Spark's ``regexp_replace`` is global; the DuckDB twin needs the
    ``'g'`` flag."""
    out = F.expr(ident(text_col))
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document PII accounting + redacted text: ``(id, n_email,
    n_ip, n_ssn, n_phone, n_pii, redacted)``.  Map-only plan."""
    return docs.select(
        F.col(id_col),
        *pii_counts(text_col),
        redact_pii(text_col).alias("redacted"),
    )
