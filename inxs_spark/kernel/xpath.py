"""Small XPath-subset evaluator over kernel Node trees.

The reference library delegates XPath to lxml (``MatchesXPath``,
SURVEY.md §3.A A10); lxml is unavailable here (SURVEY.md §0), so this
module implements the subset needed by extraction rule-sets:

- absolute (``/a/b``), relative (``a/b``), descendant (``//a``,
  ``.//a``) location paths, unions (``a | b``)
- name tests: ``tag``, ``*``, ``{uri}local`` (Clark notation),
  ``ns:local`` resolved via a prefix map
- predicates — a real expression grammar:
  ``[@attr]``, ``[@attr='v']``, ``[@attr!='v']``, ``[3]``,
  ``[position()=2]``, ``[position()<last()]``, ``[last()]``,
  ``[text()='v']``, ``[child]`` (has such a child element),
  ``[contains(@class,'ad')]``, ``[starts-with(@id,'nav')]``,
  ``[not(...)]``, ``and`` / ``or`` combinations, numeric
  comparisons ``= != < <= > >=``
- steps ``.`` and ``..``

Predicates apply SEQUENTIALLY (``[pred][2]`` re-ranks positions after
the first filter, as XPath demands); positional predicates on the
descendant axis rank within each parent's matching children (matching
ElementTree's ``.//x[1]`` semantics), not across the global list.

Compiled once per expression (module-level cache); evaluation returns
document-ordered, deduplicated node lists (union branches concatenate
in branch order).
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Callable, List, Optional, Sequence

from .nodes import Node

_PRED_RE = re.compile(r"\[([^\]]*)\]")


class XPathError(ValueError):
    pass


def _descendants_or_self(node: Node) -> List[Node]:
    # iterative preorder — deep documents must not recurse
    out: List[Node] = []
    stack = [node]
    while stack:
        current = stack.pop()
        out.append(current)
        if current.children:
            stack.extend(reversed(current.children))
    return out


def _descendants(node: Node) -> List[Node]:
    """Strict descendants (context node excluded). XPath's ``X//Y`` is
    ``X/descendant-or-self::node()/child::Y`` — Y is always strictly
    below X, so ``.//a`` from a context node tagged 'a' must NOT return
    the context itself (matches ElementTree/lxml findall; round-1
    included self, wrongly matching the root)."""
    out: List[Node] = []
    stack = list(reversed(node.children))
    while stack:
        current = stack.pop()
        out.append(current)
        if current.children:
            stack.extend(reversed(current.children))
    return out


def _name_matches(node: Node, name: str, nsmap: Optional[dict]) -> bool:
    if name == "*":
        # name test: elements only (comments/PIs need an explicit
        # '#comment'/'#pi' literal, matched by the bare-name fallthrough)
        return not node.tag.startswith("#")
    if name.startswith("{"):
        return node.tag == name
    if ":" in name:
        prefix, local = name.split(":", 1)
        if nsmap and prefix in nsmap:
            return node.tag == "{%s}%s" % (nsmap[prefix], local)
        return False
    # bare name matches either the full tag or the localname when the
    # element has no namespace; namespaced elements need Clark/prefix
    return node.tag == name


# ---------------------------------------------------------------------------
# predicate expression grammar
#
#   pred   := or
#   or     := and ('or' and)*
#   and    := unary ('and' unary)*
#   unary  := 'not' '(' pred ')' | '(' pred ')' | comparison
#   comp   := value (cmp value)?          # bare value = XPath truth test
#   value  := @attr | 'lit' | number | text() | position() | last()
#           | contains(value, value) | starts-with(value, value)
#           | name                        # child-element existence
#
# Compiled to a closure fn(node, pos, size) -> bool plus a
# uses_position flag (drives per-parent ranking on descendant axes).
# ---------------------------------------------------------------------------

_TOK = re.compile(
    r"""\s*(?:
      (?P<attr>@[\w:.-]+)
    | (?P<str>'[^']*'|"[^"]*")
    | (?P<num>\d+(?:\.\d+)?)
    | (?P<cmp>!=|<=|>=|=|<|>)
    | (?P<lpar>\()
    | (?P<rpar>\))
    | (?P<comma>,)
    | (?P<name>[\w][\w.-]*)
    )""",
    re.VERBOSE,
)


class _Pred:
    __slots__ = ("fn", "uses_position")

    def __init__(self, fn: Callable, uses_position: bool):
        self.fn = fn
        self.uses_position = uses_position


def _tokenize_pred(text: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 0
    while i < len(text):
        m = _TOK.match(text, i)
        if m is None or m.end() == i:
            if text[i:].strip():
                raise XPathError(f"bad predicate syntax near {text[i:]!r}")
            break
        i = m.end()
        kind = m.lastgroup
        if kind is not None:
            out.append((kind, m.group(kind)))
    return out


def _num(v) -> Optional[float]:
    if isinstance(v, float):
        return v
    if v is None:
        return None
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


class _PredParser:
    """Recursive-descent parser over the token list."""

    def __init__(self, tokens: list[tuple[str, str]], source: str):
        self.toks = tokens
        self.i = 0
        self.source = source
        self.uses_position = False

    def _peek(self) -> tuple[str, str]:
        return self.toks[self.i] if self.i < len(self.toks) else ("", "")

    def _take(self, kind: str) -> str:
        k, v = self._peek()
        if k != kind:
            raise XPathError(
                f"expected {kind} at token {self.i} in [{self.source}]"
            )
        self.i += 1
        return v

    def parse(self) -> Callable:
        fn = self._or()
        if self.i != len(self.toks):
            raise XPathError(f"trailing tokens in predicate [{self.source}]")
        return fn

    def _or(self) -> Callable:
        parts = [self._and()]
        while self._peek() == ("name", "or"):
            self.i += 1
            parts.append(self._and())
        if len(parts) == 1:
            return parts[0]
        return lambda n, p, s, _ps=tuple(parts): any(f(n, p, s) for f in _ps)

    def _and(self) -> Callable:
        parts = [self._unary()]
        while self._peek() == ("name", "and"):
            self.i += 1
            parts.append(self._unary())
        if len(parts) == 1:
            return parts[0]
        return lambda n, p, s, _ps=tuple(parts): all(f(n, p, s) for f in _ps)

    def _unary(self) -> Callable:
        k, v = self._peek()
        if (k, v) == ("name", "not") and self.toks[self.i + 1 : self.i + 2] == [
            ("lpar", "(")
        ]:
            self.i += 2
            inner = self._or()
            self._take("rpar")
            return lambda n, p, s, _f=inner: not _f(n, p, s)
        if k == "lpar":
            self.i += 1
            inner = self._or()
            self._take("rpar")
            return inner
        return self._comparison()

    def _comparison(self) -> Callable:
        left = self._value()
        k, op = self._peek()
        if k != "cmp":
            return self._truth(left)
        self.i += 1
        right = self._value()
        lk, lf = left
        rk, rf = right
        numeric = {"num", "pos", "last"}
        force_num = lk in numeric or rk in numeric or op in ("<", "<=", ">", ">=")

        def cmp(n, p, s, _lf=lf, _rf=rf, _op=op, _fn=force_num):
            a, b = _lf(n, p, s), _rf(n, p, s)
            if a is None or b is None:
                return False
            if _fn:
                a, b = _num(a), _num(b)
                if a is None or b is None:
                    return False
            if _op == "=":
                return a == b
            if _op == "!=":
                return a != b
            if _op == "<":
                return a < b
            if _op == "<=":
                return a <= b
            if _op == ">":
                return a > b
            return a >= b

        return cmp

    def _truth(self, value: tuple[str, Callable]) -> Callable:
        kind, fn = value
        if kind in ("num", "pos", "last"):
            # a bare NUMERIC predicate is positional in XPath:
            # [3] == [position()=3], [last()] == [position()=last()]
            self.uses_position = True
            return lambda n, p, s, _f=fn: p == _f(n, p, s)
        # attr/text/child existence, or a boolean function result
        return lambda n, p, s, _f=fn: bool(_f(n, p, s))

    def _value(self) -> tuple[str, Callable]:
        k, v = self._peek()
        if k == "attr":
            self.i += 1
            name = v[1:]
            return ("attr", lambda n, p, s, _a=name: n.attrib.get(_a))
        if k == "str":
            self.i += 1
            lit = v[1:-1]
            return ("lit", lambda n, p, s, _v=lit: _v)
        if k == "num":
            self.i += 1
            num = float(v)
            return ("num", lambda n, p, s, _v=num: _v)
        if k == "name":
            if self.toks[self.i + 1 : self.i + 2] == [("lpar", "(")]:
                return self._function(v)
            self.i += 1
            name = v
            return (
                "child",
                lambda n, p, s, _t=name: any(
                    c.tag == _t or c.localname == _t for c in n.children
                ),
            )
        raise XPathError(f"bad value at token {self.i} in [{self.source}]")

    def _function(self, name: str) -> tuple[str, Callable]:
        self.i += 2  # name + '('
        if name == "text":
            self._take("rpar")
            return ("text", lambda n, p, s: n.text or "")
        if name == "position":
            self._take("rpar")
            self.uses_position = True
            return ("pos", lambda n, p, s: float(p))
        if name == "last":
            self._take("rpar")
            self.uses_position = True
            return ("last", lambda n, p, s: float(s))
        if name in ("contains", "starts-with"):
            _, a = self._value()
            self._take("comma")
            _, b = self._value()
            self._take("rpar")
            if name == "contains":
                def fn(n, p, s, _a=a, _b=b):
                    x, y = _a(n, p, s), _b(n, p, s)
                    return x is not None and y is not None and str(y) in str(x)
            else:
                def fn(n, p, s, _a=a, _b=b):
                    x, y = _a(n, p, s), _b(n, p, s)
                    return (
                        x is not None and y is not None
                        and str(x).startswith(str(y))
                    )
            return ("bool", fn)
        raise XPathError(f"unsupported function {name}() in [{self.source}]")


def _compile_predicate(pred: str) -> _Pred:
    pred = pred.strip()
    if not pred:
        raise XPathError("empty predicate []")
    parser = _PredParser(_tokenize_pred(pred), pred)
    fn = parser.parse()
    return _Pred(fn, parser.uses_position)


class _Step:
    __slots__ = ("descendant", "name", "predicates")

    def __init__(self, descendant: bool, name: str, predicates: Sequence[Callable]):
        self.descendant = descendant
        self.name = name
        self.predicates = list(predicates)


@lru_cache(maxsize=512)
def _compile(expr: str) -> tuple:
    """Compile expr → (absolute, initial_descendant, steps tuple)."""
    text = expr.strip()
    if not text:
        raise XPathError("empty xpath")
    absolute = False
    descendant_next = False
    if text.startswith(".//"):
        descendant_next = True
        text = text[3:]
    elif text.startswith("//"):
        absolute = True
        descendant_next = True
        text = text[2:]
    elif text.startswith("./"):
        text = text[2:]
    elif text.startswith("/"):
        absolute = True
        text = text[1:]

    steps: list[_Step] = []
    # split on '/', honoring '//' between steps as descendant axis
    parts = text.split("/")
    i = 0
    while i < len(parts):
        part = parts[i]
        if part == "":
            # came from '//' between steps → next step is descendant
            descendant_next = True
            i += 1
            continue
        preds_start = part.find("[")
        if preds_start == -1:
            name, preds_text = part, ""
        else:
            name, preds_text = part[:preds_start], part[preds_start:]
        if not name:
            raise XPathError(f"bad step {part!r} in {expr!r}")
        predicates = [_compile_predicate(p) for p in _PRED_RE.findall(preds_text)]
        steps.append(_Step(descendant_next, name, predicates))
        descendant_next = False
        i += 1
    if not steps:
        raise XPathError(f"no steps in xpath {expr!r}")
    return (absolute, tuple(steps))


def _split_union(expr: str) -> list[str]:
    """Split on top-level ``|`` (outside brackets and quotes)."""
    parts: list[str] = []
    depth = 0
    quote = ""
    start = 0
    for i, ch in enumerate(expr):
        if quote:
            if ch == quote:
                quote = ""
        elif ch in "'\"":
            quote = ch
        elif ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        elif ch == "|" and depth == 0:
            parts.append(expr[start:i])
            start = i + 1
    parts.append(expr[start:])
    return parts


def xpath_all(
    context: Node,
    expr: str,
    root: Optional[Node] = None,
    nsmap: Optional[dict] = None,
) -> List[Node]:
    """Evaluate the xpath subset; returns document-ordered nodes
    (union branches concatenate in branch order, deduplicated)."""
    branches = _split_union(expr)
    if len(branches) > 1:
        out: list[Node] = []
        seen: set[int] = set()
        for branch in branches:
            for node in xpath_all(context, branch, root=root, nsmap=nsmap):
                if id(node) not in seen:
                    seen.add(id(node))
                    out.append(node)
        return out
    absolute, steps = _compile(expr)
    if absolute:
        start = root if root is not None else context
        # absolute path: first step name test applies to the root
        # itself for '/a/...' form, or any descendant for '//a'
        current = [start]
        first = steps[0]
        if not first.descendant:
            matched = (
                [start]
                if _name_matches(start, first.name, nsmap)
                and _passes(first, start, 1)
                else []
            )
            current = matched
            remaining = steps[1:]
        else:
            # absolute '//a': descendant-or-self from the DOCUMENT node,
            # whose children include the root element — so the root
            # itself is a candidate (lxml: root.xpath('//a') matches a
            # root tagged 'a'); relative './/' below never includes self
            return _walk([start], steps, nsmap, include_self_first=True)
        return _walk(current, remaining, nsmap)
    return _walk([context], list(steps), nsmap)


def _passes(step: _Step, node: Node, position: int) -> bool:
    """First-predicate-only gate used by the absolute-root special case
    (size is 1 there by construction)."""
    return all(pred.fn(node, position, 1) for pred in step.predicates)


def _apply_predicates(step: _Step, candidates: List[Node]) -> List[Node]:
    """Predicates filter SEQUENTIALLY: each one sees the positions and
    size of the list the previous one produced (XPath semantics for
    chained predicates like ``p[@k][2]``)."""
    for pred in step.predicates:
        size = len(candidates)
        fn = pred.fn
        candidates = [
            c for i, c in enumerate(candidates, 1) if fn(c, i, size)
        ]
        if not candidates:
            break
    return candidates


def _walk(current: List[Node], steps: Sequence[_Step], nsmap: Optional[dict],
          include_self_first: bool = False) -> List[Node]:
    for step_idx, step in enumerate(steps):
        nxt: list[Node] = []
        seen: set[int] = set()
        positional = any(p.uses_position for p in step.predicates)
        pool = (
            _descendants_or_self
            if include_self_first and step_idx == 0
            else _descendants
        )
        for node in current:
            if step.name == ".":
                matched = [node]
            elif step.name == "..":
                matched = [node.parent] if node.parent is not None else []
            elif step.descendant:
                candidates = [
                    d
                    for d in pool(node)
                    if _name_matches(d, step.name, nsmap)
                ]
                if positional and step.predicates:
                    # ElementTree semantics for `.//x[1]`: rank within
                    # each PARENT's matching children, not globally
                    by_parent: dict[int, list[Node]] = {}
                    order: list[int] = []
                    for c in candidates:
                        key = id(c.parent)
                        if key not in by_parent:
                            by_parent[key] = []
                            order.append(key)
                        by_parent[key].append(c)
                    matched = []
                    picked: set[int] = set()
                    for key in order:
                        for m in _apply_predicates(step, by_parent[key]):
                            picked.add(id(m))
                    # restore document order from the candidate list
                    matched = [c for c in candidates if id(c) in picked]
                else:
                    matched = _apply_predicates(step, candidates)
            else:
                candidates = [
                    c for c in node.children if _name_matches(c, step.name, nsmap)
                ]
                matched = _apply_predicates(step, candidates)
            for m in matched:
                if id(m) not in seen:
                    seen.add(id(m))
                    nxt.append(m)
        current = nxt
        if not current:
            break
    return current


def looks_like_xpath(s: str) -> bool:
    """Heuristic from the reference's Rule-condition normalization: a
    string containing a path separator or axis marker is an XPath, a
    bare name is a tag test (SURVEY.md §4.2)."""
    return any(ch in s for ch in "/[@") and s not in ("/", "*")
