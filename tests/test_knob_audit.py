"""Every defaulted parameter of a public package function is set by some
non-test caller, or is on an explicit ``KEPT`` list.

A parameter no job, tool, benchmark or gated query sets carries code
that only tests reach.  The scan reads the public functions and methods
of ``html_parser_spark/`` and every call in the package,
``__spark_entry__.py``, ``bench.py``, ``jobs/``, ``tools/`` and
``perfbench/``.  A call of the same name sets a parameter when it
passes it by position or by keyword; a ``**kwargs`` or ``*args`` call
sets every parameter it could reach.  Column-name parameters are API
shape, not behaviour, and are exempt.  A new test-only knob fails here
until it is set by a caller or added to ``KEPT`` on purpose; a stale
``KEPT`` entry fails too."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "html_parser_spark"
CALLERS = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py",
           ROOT / "jobs", ROOT / "tools", ROOT / "perfbench"]

#: {(module, qualified function name): parameters} never set by a
#: caller.  Each is an operator option a job or tool could set (a
#: threshold, tuning constant, synthetic-payload shape or reference-API
#: mirror); a behaviour only tests reach does not belong here.
KEPT = {
    ("api.py", "Node.outer_html"): {"materialized"},
    ("api.py", "Node.outer_html_self"): {"materialized"},
    ("kernel/matcher.py", "matches_at"): {"scope_root"},
    ("kernel/pdftext.py", "extract_pdf_text"): {"column_gap", "encoding", "y_quantum"},
    ("kernel/pdftext.py", "synth_pdf"): {"compress", "leading", "start_y", "x"},
    ("operators/boilerplate.py", "remove_boilerplate"): {
        "joiner", "min_docs", "selector", "threshold"},
    ("operators/corpusprep.py", "split_assign"): {"buckets"},
    ("operators/dedup.py", "dup_clusters"): {"max_iter"},
    ("operators/dedup.py", "embedding_near_dups"): {"max_bucket_size"},
    ("operators/dedup.py", "simhash_band_pairs"): {"max_bucket_size"},
    ("operators/graph.py", "pagerank"): {"dst", "src"},
    ("operators/html_ops.py", "inner_text_udf"): {"joiner", "normalize_whitespace"},
    ("operators/html_ops.py", "table_cells_udf"): {"selector"},
    ("operators/html_ops.py", "to_markdown_udf"): {"selector"},
    ("operators/jpeg.py", "synth_jpeg_color"): {"subsample_420"},
    ("operators/jpeg.py", "synth_jpeg_color_multiscan"): {"subsample_420"},
    ("operators/jpeg.py", "synth_jpeg_gray"): {"crop_h", "crop_w", "restart_interval"},
    ("operators/lexical.py", "bm25_topk"): {"b", "k1", "quantize"},
    ("operators/similarity.py", "with_cosine"): {"decimals"},
    ("operators/textstats.py", "doc_bigram_nll"): {"alpha", "model"},
    ("operators/textstats.py", "doc_neg_logprob"): {"alpha", "model"},
    ("operators/textstats.py", "language_mix"): {"selector"},
    ("operators/textstats.py", "normalize_text"): {"lowercase"},
    ("operators/textstats.py", "subword_estimate"): {"chars_per_token"},
    ("sources/catalog.py", "read_transcripts"): {"fmt"},
    ("streaming/stream.py", "dedup_events_stream"): {"keys", "watermark"},
}


def _exempt(param):
    return param.endswith(("_col", "_cols")) or param in ("id_a", "id_b")


def _defaulted(module, source):
    """(module, qualname, called name, params, defaulted) per public
    function or method; ``params`` are the positional parameters a
    caller fills, ``self``/``cls`` left out.  A class's ``__init__`` is
    called by the class name."""
    out = []

    def visit(fn, qual, is_method, called):
        if fn.name.startswith("_") and fn.name != "__init__":
            return
        a = fn.args
        pos = [p.arg for p in a.posonlyargs + a.args]
        static = any(getattr(d, "id", None) == "staticmethod"
                     for d in fn.decorator_list)
        if is_method and not static:
            pos = pos[1:]
        defaulted = pos[len(pos) - len(a.defaults):] if a.defaults else []
        defaulted += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                      if d is not None]
        out.append((module, qual, called, pos, defaulted))

    for top in ast.parse(source).body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
            visit(top, top.name, False, top.name)
        elif isinstance(top, ast.ClassDef) and not top.name.startswith("_"):
            for fn in top.body:
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(fn, f"{top.name}.{fn.name}", True,
                          top.name if fn.name == "__init__" else fn.name)
    return out


def _calls(source):
    """(called name, positional count or None for ``*args``, keywords,
    whether ``**kwargs`` is passed) per call."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name is None:
            continue
        npos = (None if any(isinstance(a, ast.Starred) for a in node.args)
                else len(node.args))
        kws = {k.arg for k in node.keywords if k.arg is not None}
        star = any(k.arg is None for k in node.keywords)
        out.append((name, npos, kws, star))
    return out


def _never_set(functions, calls):
    by_name = {}
    for name, npos, kws, star in calls:
        by_name.setdefault(name, []).append((npos, kws, star))
    missing = set()
    for module, qual, name, pos, defaulted in functions:
        for p in defaulted:
            if _exempt(p):
                continue
            idx = pos.index(p) if p in pos else None
            if not any(star or p in kws
                       or (idx is not None and (npos is None or npos > idx))
                       for npos, kws, star in by_name.get(name, [])):
                missing.add((module, qual, p))
    return missing


def _py_files(paths):
    for path in paths:
        yield from ([path] if path.is_file() else sorted(path.rglob("*.py")))


def audit():
    functions = [f for path in _py_files([PACKAGE])
                 for f in _defaulted(path.relative_to(PACKAGE).as_posix(),
                                     path.read_text())]
    calls = [c for path in _py_files(CALLERS) for c in _calls(path.read_text())]
    return _never_set(functions, calls)


def test_never_set_parameters_are_the_kept_set():
    missing = audit()
    kept = {(m, f, p) for (m, f), params in KEPT.items() for p in params}
    assert missing - kept == set(), "test-only knobs: set them or delete them"
    assert kept - missing == set(), "stale KEPT entries"


def test_scan_sees_positions_keywords_and_methods():
    src = ("def f(df, n=1, *, mode='a', key_col='k'): pass\n"
           "def _private(x=1): pass\n"
           "class C:\n"
           "    def __init__(self, a=1, b=2): pass\n"
           "    def m(self, x=0, y=0): pass\n"
           "    @staticmethod\n"
           "    def s(x=0): pass\n")
    functions = _defaulted("m.py", src)
    assert [(q, d) for _, q, _, _, d in functions] == [
        ("f", ["n", "mode", "key_col"]), ("C.__init__", ["a", "b"]),
        ("C.m", ["x", "y"]), ("C.s", ["x"])]
    calls = _calls("f(df, 2)\nC(b=3)\nobj.m(1)\ng(**kw)\n")
    assert _never_set(functions, calls) == {
        ("m.py", "f", "mode"), ("m.py", "C.__init__", "a"),
        ("m.py", "C.m", "y"), ("m.py", "C.s", "x")}
    assert _never_set(functions, calls + _calls("s(*xs)\nf(**kw)\n")) == {
        ("m.py", "C.__init__", "a"), ("m.py", "C.m", "y")}
