"""The rule that code walking untrusted input per nesting level is
iterative or depth-capped (CLAUDE.md), held by a test instead of a code
review: every module-level function of ``html_parser_spark`` on a
direct or mutual recursion cycle takes a ``depth`` parameter, or is
listed in ``BOUNDED`` with what bounds its recursion."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "html_parser_spark"

#: recursive functions without a ``depth`` parameter → their bound
BOUNDED = {
    "html_parser_spark.kernel.matcher._match_chain":
        "one frame per compound of the selector, not per DOM level",
    "html_parser_spark.operators.html_ops._apply":
        "recurses one level, for a SQL function's document column",
}


def _module(path: Path) -> str:
    parts = path.relative_to(PACKAGE.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _import_base(node: ast.ImportFrom, module: str, is_package: bool) -> str:
    if node.level == 0:
        return node.module
    parts = module.split(".") if is_package else module.split(".")[:-1]
    parts = parts[:len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


def call_graph():
    """Module-level functions (``module.name`` → its ``FunctionDef``) and
    the module-level functions each one calls, by plain name, through a
    ``from … import`` alias, or as ``module_alias.name``."""
    functions, calls = {}, {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = _module(path)
        tree = ast.parse(path.read_text(), str(path))
        aliases = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                base = _import_base(node, module, path.name == "__init__.py")
                for a in node.names:
                    aliases[a.asname or a.name] = f"{base}.{a.name}"
        defs = [n for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        aliases.update({fn.name: f"{module}.{fn.name}" for fn in defs})
        for fn in defs:
            targets = set()
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                if isinstance(f, ast.Name) and f.id in aliases:
                    targets.add(aliases[f.id])
                elif (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                      and f.value.id in aliases):
                    targets.add(f"{aliases[f.value.id]}.{f.attr}")
            functions[f"{module}.{fn.name}"] = fn
            calls[f"{module}.{fn.name}"] = targets
    return functions, {k: v & functions.keys() for k, v in calls.items()}


def recursive_functions(calls) -> set:
    """Every function that can reach itself through the call graph."""
    cyclic = set()
    for start in calls:
        stack, seen = list(calls[start]), set()
        while stack:
            f = stack.pop()
            if f == start:
                cyclic.add(start)
                break
            if f not in seen:
                seen.add(f)
                stack.extend(calls[f])
    return cyclic


def _takes_depth(fn) -> bool:
    args = fn.args
    return any(a.arg == "depth" for a in args.posonlyargs + args.args + args.kwonlyargs)


def test_recursive_functions_are_depth_capped():
    functions, calls = call_graph()
    cyclic = recursive_functions(calls)
    # the scan sees direct recursion and a mutual cycle
    assert "html_parser_spark.kernel.matcher._match_chain" in cyclic
    assert {"html_parser_spark.kernel.markdown._inline",
            "html_parser_spark.kernel.markdown._render_blocks",
            "html_parser_spark.kernel.markdown._render_list"} <= cyclic
    unguarded = sorted(f for f in cyclic
                       if f not in BOUNDED and not _takes_depth(functions[f]))
    assert not unguarded, f"recursive without a depth parameter: {unguarded}"
    assert set(BOUNDED) <= cyclic, "BOUNDED lists a function that no longer recurses"
