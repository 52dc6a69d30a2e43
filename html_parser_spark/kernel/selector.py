"""CSS selector compiler (pure Python, driver-side, picklable output).

Reimplements the reference grammar exactly (src/selector/runtime.zig:
13-499, documented grammar DOCUMENTATION.md:121-146):

* simple selectors: tag / ``*`` / ``#id`` / ``.class`` / ``[a]``,
  ``[a=v] [a^=v] [a$=v] [a*=v] [a~=v] [a|=v]`` (values optionally
  quoted);
* combinators: descendant (whitespace), ``>``, ``+``, ``~`` — a leading
  combinator anchors at the scope node;
* grouping with ``,``;
* pseudos: ``:first-child``, ``:last-child``, ``:nth-child(An+B)``
  (``odd``/``even``/``3n+1``/``+3n-2``/``-n+6``/``7`` forms);
* ``:not(simple)`` with exactly one simple tag/#id/.class/[attr] item.

Validation matches the reference's rejection list
(runtime.zig:595-623): empty selector, dangling combinator or comma,
``#a#b`` double id, ``:not()``/``:not(.a,.b)``, ``:nth-child()`` /
``(2n+)``, unknown pseudos, unterminated ``[attr`` and ``[attr^]``.

Tag names and attribute names are lowercased at compile time; id,
class and attribute values stay case-sensitive.  Compiled selectors
are frozen dataclasses of tuples — hashable and picklable, safe to
broadcast to executors and to use as cache keys.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache
from typing import Optional, Tuple


class SelectorError(ValueError):
    """Raised for any selector the reference would reject."""


@dataclass(frozen=True)
class AttrSel:
    name: bytes                 # lowercased
    op: str                     # exists|eq|prefix|suffix|contains|includes|dash
    value: bytes = b""


@dataclass(frozen=True)
class PseudoSel:
    kind: str                   # first_child|last_child|nth_child
    a: int = 0
    b: int = 1

    def nth_matches(self, position_1based: int) -> bool:
        # index = a*n + b with n >= 0 (ast.zig:87-100).
        idx = position_1based
        if self.a == 0:
            return idx == self.b
        diff = idx - self.b
        if (diff > 0 and self.a < 0) or (diff < 0 and self.a > 0):
            return False
        if diff % self.a != 0:
            return False
        return diff // self.a >= 0


@dataclass(frozen=True)
class NotSel:
    kind: str                   # tag|id|class|attr
    text: bytes = b""
    attr: Optional[AttrSel] = None


@dataclass(frozen=True)
class Compound:
    combinator: str = "none"    # none|descendant|child|adjacent|sibling
    tag: Optional[bytes] = None  # lowercased
    id: Optional[bytes] = None
    classes: Tuple[bytes, ...] = ()
    attrs: Tuple[AttrSel, ...] = ()
    pseudos: Tuple[PseudoSel, ...] = ()
    nots: Tuple[NotSel, ...] = ()


@dataclass(frozen=True)
class Selector:
    source: str
    groups: Tuple[Tuple[Compound, ...], ...] = ()
    requires_parent: bool = False


_WS_RE = re.compile(r"[ \t\n\r\x0c]+")
_IDENT_RE = re.compile(r"[A-Za-z_:][A-Za-z0-9_\-]*")
_HTML_WS = " \t\n\r\x0c"
_COMBINATORS = {">": "child", "+": "adjacent", "~": "sibling"}


class _Parser:
    def __init__(self, source: str):
        self.src = source
        self.i = 0
        self.n = len(source)

    def error(self, msg: str) -> SelectorError:
        return SelectorError(f"invalid selector {self.src!r}: {msg} at {self.i}")

    def peek(self) -> str:
        return self.src[self.i]

    def skip_ws(self) -> bool:
        m = _WS_RE.match(self.src, self.i)
        if m:
            self.i = m.end()
            return True
        return False

    def consume_if(self, ch: str) -> bool:
        if self.i < self.n and self.src[self.i] == ch:
            self.i += 1
            return True
        return False

    def parse_ident(self) -> Optional[str]:
        m = _IDENT_RE.match(self.src, self.i)
        if m is None:
            return None
        self.i = m.end()
        return m.group(0)

    def parse_combinator(self, default: str) -> str:
        """Consume a ``>``/``+``/``~`` and the whitespace after it and
        return its combinator; with none there, return ``default``."""
        comb = _COMBINATORS.get(self.src[self.i]) if self.i < self.n else None
        if comb is None:
            return default
        self.i += 1
        self.skip_ws()
        return comb

    def parse(self) -> Selector:
        self.skip_ws()
        if self.i >= self.n:
            raise self.error("empty")
        groups = []
        while True:
            compounds = [self.parse_compound(self.parse_combinator("none"))]

            while True:
                saw_ws = self.skip_ws()
                if self.i >= self.n or self.peek() == ",":
                    break
                comb = self.parse_combinator("descendant" if saw_ws else "none")
                if comb == "none":
                    raise self.error("expected combinator")
                compounds.append(self.parse_compound(comb))

            groups.append(tuple(compounds))

            self.skip_ws()
            if self.i >= self.n:
                break
            if self.peek() != ",":
                raise self.error("expected ','")
            self.i += 1
            self.skip_ws()
            if self.i >= self.n:
                raise self.error("dangling ','")

        requires_parent = any(
            comp.combinator in ("child", "descendant")
            or any(p.kind == "nth_child" for p in comp.pseudos)
            for g in groups
            for comp in g
        )
        return Selector(source=self.src, groups=tuple(groups), requires_parent=requires_parent)

    def parse_compound(self, combinator: str) -> Compound:
        tag: Optional[bytes] = None
        id_: Optional[bytes] = None
        classes = []
        attrs = []
        pseudos = []
        nots = []
        consumed = False

        if self.i < self.n:
            c = self.peek()
            if c == "*":
                self.i += 1
                consumed = True
            elif c.isascii() and (c.isalpha() or c == "_"):
                ident = self.parse_ident()
                if ident is None:
                    raise self.error("bad tag")
                tag = ident.lower().encode()
                consumed = True

        while self.i < self.n:
            c = self.peek()
            if c == "#":
                self.i += 1
                if id_ is not None:
                    raise self.error("duplicate #id in compound")
                ident = self.parse_ident()
                if ident is None:
                    raise self.error("bad id")
                id_ = ident.encode()
                consumed = True
            elif c == ".":
                self.i += 1
                ident = self.parse_ident()
                if ident is None:
                    raise self.error("bad class")
                classes.append(ident.encode())
                consumed = True
            elif c == "[":
                self.i += 1
                attrs.append(self.parse_attr_selector())
                consumed = True
            elif c == ":":
                self.i += 1
                self.parse_pseudo(pseudos, nots)
                consumed = True
            else:
                break

        if not consumed:
            raise self.error("empty compound")
        return Compound(
            combinator=combinator,
            tag=tag,
            id=id_,
            classes=tuple(classes),
            attrs=tuple(attrs),
            pseudos=tuple(pseudos),
            nots=tuple(nots),
        )

    def parse_attr_selector(self) -> AttrSel:
        self.skip_ws()
        ident = self.parse_ident()
        if ident is None:
            raise self.error("bad attr name")
        name = ident.lower().encode()
        self.skip_ws()
        ops = {"=": "eq", "^": "prefix", "$": "suffix", "*": "contains", "~": "includes", "|": "dash"}
        if self.i >= self.n:
            raise self.error("unterminated attr selector")
        c = self.peek()
        if c == "]":
            self.i += 1
            return AttrSel(name=name, op="exists")
        if c not in ops:
            raise self.error("bad attr op")
        op = ops[c]
        self.i += 1
        if op != "eq" and not self.consume_if("="):
            raise self.error("expected '='")
        value = self.parse_value_token()
        self.skip_ws()
        if not self.consume_if("]"):
            raise self.error("expected ']'")
        return AttrSel(name=name, op=op, value=value)

    def parse_value_token(self) -> bytes:
        self.skip_ws()
        if self.i >= self.n:
            raise self.error("missing attr value")
        c = self.peek()
        if c in "'\"":
            self.i += 1
            start = self.i
            while self.i < self.n and self.src[self.i] != c:
                self.i += 1
            if self.i >= self.n:
                raise self.error("unterminated quoted value")
            out = self.src[start:self.i]
            self.i += 1
            return out.encode()
        start = self.i
        while self.i < self.n:
            cur = self.src[self.i]
            if cur == "]" or cur in _HTML_WS:
                break
            self.i += 1
        if self.i == start:
            raise self.error("missing attr value")
        return self.src[start:self.i].encode()

    def parse_pseudo(self, pseudos: list, nots: list) -> None:
        ident = self.parse_ident()
        if ident is None:
            raise self.error("bad pseudo")
        low = ident.lower()
        if low == "first-child":
            pseudos.append(PseudoSel(kind="first_child"))
            return
        if low == "last-child":
            pseudos.append(PseudoSel(kind="last_child"))
            return
        if low == "nth-child":
            self.skip_ws()
            if not self.consume_if("("):
                raise self.error("expected '('")
            self.skip_ws()
            start = self.i
            while self.i < self.n and self.src[self.i] != ")":
                self.i += 1
            if self.i >= self.n:
                raise self.error("unterminated nth-child")
            arg = self.src[start:self.i].strip(_HTML_WS)
            self.i += 1
            a, b = _parse_nth(arg, self)
            pseudos.append(PseudoSel(kind="nth_child", a=a, b=b))
            return
        if low == "not":
            self.skip_ws()
            if not self.consume_if("("):
                raise self.error("expected '('")
            self.skip_ws()
            item = self.parse_simple_not()
            self.skip_ws()
            if not self.consume_if(")"):
                raise self.error("expected ')'")
            nots.append(item)
            return
        raise self.error(f"unknown pseudo :{ident}")

    def parse_simple_not(self) -> NotSel:
        if self.i >= self.n:
            raise self.error("empty :not()")
        c = self.peek()
        if c == "#":
            self.i += 1
            ident = self.parse_ident()
            if ident is None:
                raise self.error("bad :not id")
            return NotSel(kind="id", text=ident.encode())
        if c == ".":
            self.i += 1
            ident = self.parse_ident()
            if ident is None:
                raise self.error("bad :not class")
            return NotSel(kind="class", text=ident.encode())
        if c == "[":
            self.i += 1
            return NotSel(kind="attr", attr=self.parse_attr_selector())
        if c.isascii() and (c.isalpha() or c in "_:"):
            ident = self.parse_ident()
            if ident is None:
                raise self.error("bad :not tag")
            return NotSel(kind="tag", text=ident.lower().encode())
        raise self.error("unsupported :not() item")


def _parse_nth(expr: str, p: _Parser) -> Tuple[int, int]:
    """Parse An+B (runtime.zig:447-499)."""
    if not expr:
        raise p.error("empty nth-child")
    low = expr.lower()
    if low == "odd":
        return 2, 1
    if low == "even":
        return 2, 0
    n_idx = next((i for i, ch in enumerate(expr) if ch in "nN"), None)
    if n_idx is not None:
        a_part = expr[:n_idx].strip(_HTML_WS)
        b_part = expr[n_idx + 1:].strip(_HTML_WS)
        if a_part in ("", "+"):
            a = 1
        elif a_part == "-":
            a = -1
        else:
            a = _parse_signed_int(a_part, p)
        b = 0 if b_part == "" else _parse_signed_int(b_part, p)
        return a, b
    return 0, _parse_signed_int(expr, p)


def _parse_signed_int(s: str, p: _Parser) -> int:
    if not s:
        raise p.error("bad nth-child integer")
    body = s[1:] if s[0] in "+-" else s
    if not body or not body.isdigit():
        raise p.error("bad nth-child integer")
    value = int(s)
    if not (-(2**31) <= value < 2**31):
        raise p.error("nth-child integer overflow")
    return value


def compile_selector(source) -> Selector:
    """Compile ``source`` or raise :class:`SelectorError`; a compiled
    :class:`Selector` passes through unchanged."""
    if isinstance(source, Selector):
        return source
    return _compile_cached(source)


@lru_cache(maxsize=1024)
def _compile_cached(source) -> Selector:
    """Compiles are cached per process: a SQL function's selector column
    repeats one string per row."""
    if isinstance(source, bytes):
        source = source.decode("utf-8")
    return _Parser(source).parse()
