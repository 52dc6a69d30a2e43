"""Each per-row rule of the text and vector operators is written once,
in its builder: Spark SQL text (``*_sql``), or one Column helper for
the whitespace-collapse regex, which holds backslashes.  Operators call
the builder; a copy of a rule anywhere else in the package fails here.
Patterns match a function's code with docstrings and comments left
out, so prose may still name a rule.  The gated queries of
``__spark_entry__.py`` are scanned for the rules in ``GATED_RULES``
(their DuckDB twins write other column names, so they never match)."""

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "html_parser_spark"
ENTRY = PACKAGE.parent / "__spark_entry__.py"

_WORDS = r"""(?:\{words_sql\(|split\(.*,\s*(['"]) \1\))"""

#: rule -> pattern over the unparsed code of one top-level function
RULES = {
    "whitespace words": re.compile(r"""split\(.*,\s*(['"]) \1\)"""),
    "token count": re.compile(r"size\(\s*(?:F\.)?" + _WORDS),
    "non-empty tokens": re.compile(_WORDS + r""".*(?:!=|<>)\s*(?:''|"")"""),
    "stopword hits": re.compile(r"STOPWORDS\["),
    "byte ratio": re.compile(r"octet_length\(.*regexp_replace\("),
    "dot product": re.compile(r"zip_with"),
    "md5 dedup window": re.compile(
        r"(?s)\bmd5\(.*\b(?:row_number|OVER|partitionBy|PARTITION BY)\b"
        r"|\b(?:row_number|OVER|partitionBy|PARTITION BY)\b.*\bmd5\("),
    "whitespace collapse": re.compile(r"\[ \\\\t\\\\n\\\\r\\\\f\]"),
    "dense turn ordering": re.compile(
        r"(?i)count_?distinct\(\s*['\"`]?turn_idx|count\(\s*DISTINCT\s+`?turn_idx"),
}

#: rule -> (module, top-level function) of its one definition
BUILDERS = {
    "whitespace words": ("operators/textstats.py", "words_sql"),
    "token count": ("operators/textstats.py", "token_count_sql"),
    "non-empty tokens": ("operators/textstats.py", "_tokens_sql"),
    "stopword hits": ("operators/textstats.py", "_hits_sql"),
    "byte ratio": ("operators/textstats.py", "_byte_ratio_sql"),
    "dot product": ("operators/similarity.py", "dot_sql"),
    "md5 dedup window": ("operators/dedup.py", "_same_text_sql"),
    "whitespace collapse": ("operators/textstats.py", "_collapse_ws"),
    "dense turn ordering": ("plans/pipeline.py", "dense_turns_sql"),
}

#: rules whose gated queries call the builder too
GATED_RULES = {"dense turn ordering"}


def _sites_in(module, source):
    tree = ast.parse(source)
    for n in ast.walk(tree):  # drop docstrings; comments never reach the AST
        body = getattr(n, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            n.body = body[1:] or [ast.Pass()]
    sites = set()
    for top in tree.body:
        code = ast.unparse(top)
        owner = getattr(top, "name", "<module>")
        sites |= {(module, owner, rule) for rule, pat in RULES.items() if pat.search(code)}
    return sites


def test_each_rule_has_one_builder():
    sites = set().union(*(_sites_in(path.relative_to(PACKAGE).as_posix(), path.read_text())
                          for path in sorted(PACKAGE.rglob("*.py"))))
    sites |= {s for s in _sites_in(ENTRY.name, ENTRY.read_text()) if s[2] in GATED_RULES}
    assert sites == {(m, f, rule) for rule, (m, f) in BUILDERS.items()}


def test_scan_sees_column_and_sql_copies():
    src = '''
def a(df):
    """split(text, ' ') and zip_with in prose are fine"""
    w = F.split(F.col("text"), " ")  # zip_with in a comment too
    return df.where(F.size(F.split(F.col("t"), " ")) > 0)
def b(t):
    return f"filter({words_sql(t)}, x -> x <> '')"
def c(v, q):
    return F.aggregate(F.zip_with(v, q, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
def d(df):
    h = F.md5(F.col("text")).alias("_h")
    return df.withColumn("_h", h).withColumn("r", F.row_number().over(Window.partitionBy("_h")))
def e(t, i):
    return f"row_number() OVER (PARTITION BY md5({t}) ORDER BY {i})"
def f(c):
    return F.trim(F.regexp_replace(c, r"[ \\t\\n\\r\\f]+", " ")), STOPWORDS["en"]
def g(t):
    return f"octet_length(regexp_replace({t}, '[A-Z]', ''))"
def h(df):
    return F.md5(F.col("text")), F.split(F.col("q"), "&"), F.size(F.col("v")), Window
def i(df):
    return df.groupBy("conv_id").agg(F.countDistinct("turn_idx"), F.countDistinct("role"))
def j(t):
    return "count(DISTINCT turn_idx) = count(*)", "count(DISTINCT conv_id)"
'''
    found = {(owner, rule) for _, owner, rule in _sites_in("m.py", src)}
    assert found == {
        ("a", "whitespace words"), ("a", "token count"), ("b", "non-empty tokens"),
        ("c", "dot product"), ("d", "md5 dedup window"), ("e", "md5 dedup window"),
        ("f", "whitespace collapse"), ("f", "stopword hits"), ("g", "byte ratio"),
        ("i", "dense turn ordering"), ("j", "dense turn ordering")}
