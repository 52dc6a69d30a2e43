"""Every Python UDF call site in the package is on an explicit allowed
list.  Document operators (HTML, PDF, image decode, media probe) go
through ``html_ops.doc_udf``, which owns null handling, the bytes
conversion and the ``MAX_DOC_BYTES`` bound; a new operator that builds
its own pandas UDF or ``mapInPandas`` loop fails here until it either
uses ``doc_udf`` or is added to ``ALLOWED`` on purpose."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "html_parser_spark"

#: the Python-UDF entry points of the DataFrame API
UDF_APIS = {
    "pandas_udf", "arrow_udf", "udf", "udtf", "mapInPandas", "mapInArrow",
    "applyInPandas", "applyInArrow", "applyInPandasWithState",
}

#: (module, enclosing top-level function, API)
ALLOWED = {
    ("operators/html_ops.py", "doc_udf", "pandas_udf"),
    ("operators/similarity.py", "_cells_udf", "pandas_udf"),
    ("operators/textstats.py", "nfc_normalize_udf", "pandas_udf"),
    ("streaming/stateful.py", "conversation_rollup_stream",
     "applyInPandasWithState"),
}


def _api_name(node):
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else None


def _sites_in(module, source):
    sites = []
    for top in ast.parse(source).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            # bare decorators (``@F.udf``); called ones are Call nodes
            exprs = [d for d in getattr(node, "decorator_list", [])
                     if not isinstance(d, ast.Call)]
            if isinstance(node, ast.Call):
                exprs.append(node)
            sites += [(module, owner, name) for name in map(_api_name, exprs)
                      if name in UDF_APIS]
    return sites


def test_python_udf_call_sites_are_the_allowed_set():
    sites = [site for path in sorted(PACKAGE.rglob("*.py"))
             for site in _sites_in(path.relative_to(PACKAGE).as_posix(),
                                   path.read_text())]
    assert len(sites) == len(set(sites)), "one site per (function, API)"
    assert set(sites) == ALLOWED


def test_scan_sees_decorators_and_method_calls():
    src = ("@F.pandas_udf('int')\ndef f(it): pass\n"
           "@F.udf\ndef u(v): pass\n"
           "def g(df): return df.mapInPandas(h, s)\n"
           "def r(spark): spark.udf.register('x', f)\n")
    assert _sites_in("m.py", src) == [
        ("m.py", "f", "pandas_udf"), ("m.py", "u", "udf"),
        ("m.py", "g", "mapInPandas")]
