"""Handler/condition library — reimplements the reference's ``lib``
module surface (SURVEY.md §3.B; upstream:inxs/lib.py, unverifiable this
session — SURVEY.md §0, confidence tags per SURVEY row).

Handlers are either plain functions whose parameter names request
symbols (dependency injection, A6) or factories returning such
functions. Factory-produced handlers carry a ``_describe`` attribute so
rule-set fingerprints (lineage ``rule_set_hash``) are deterministic.

Tree-mutation semantics — the hardest parity surface (B1):

``remove_elements`` / ``drop_element``:
  * default: the element AND its subtree AND its tail disappear.
  * ``preserve_tail=True``: the element's tail is folded into the
    preceding sibling's tail (or the parent's text when first child).
  * ``preserve_text=True``: the element's own ``.text`` is folded the
    same way (children still dropped).
  * ``keep_children=True`` (unwrap): children are spliced into the
    parent at the element's position; the element's ``.text`` folds
    into the preceding text, and its tail folds into the tail of its
    last child (or preceding text when childless).
"""

from __future__ import annotations

import logging
import re as _re
from typing import Callable, Optional

from . import nodes as nodes_module
from .errors import AbortRule, AbortTransformation, SkipToNextElement  # re-export
from .nodes import Node

logger = logging.getLogger("inxs_spark.kernel")

__all__ = [
    "AbortRule", "AbortTransformation", "SkipToNextElement",
    "remove_elements", "drop_element", "get_text", "get_tail",
    "put_variable", "get_variable", "set_text", "set_tail",
    "set_attribute", "get_attribute", "pop_attribute", "pop_attributes",
    "strip_attributes", "clear_attributes", "rename_attributes",
    "prefix_attributes", "set_localname", "get_localname",
    "cleanup_namespaces", "drop_siblings", "append", "sorter",
    "concatenate", "join_to_set", "add_html_classes",
    "remove_html_classes", "insert_fontawesome_icon", "make_element",
    "merge", "resolve_xpath_to_element", "has_attributes",
    "has_children", "has_tail", "has_matching_text", "text_equals",
    "debug_message", "debug_symbols", "debug_dump_document", "f",
    "extract_text", "sub", "lowercase",
]


def _described(fn: Callable, description: str) -> Callable:
    fn._describe = description  # type: ignore[attr-defined]
    return fn


# ---------------------------------------------------------------------------
# tree surgery (B1, B11) — the boilerplate-strip primitives
# ---------------------------------------------------------------------------

def _fold_text_before(parent: Node, index: int, text: Optional[str]) -> None:
    """Fold text into the content position just before children[index]."""
    if not text:
        return
    if index == 0:
        parent.text = (parent.text or "") + text
    else:
        prev = parent.children[index - 1]
        prev.tail = (prev.tail or "") + text


def _remove_one(
    element: Node,
    keep_children: bool = False,
    preserve_text: bool = False,
    preserve_tail: bool = False,
) -> None:
    parent = element.parent
    if parent is None:  # root: clear it instead of detaching
        if keep_children:
            return
        for child in element.children:
            child.parent = None
        element.children.clear()
        if not preserve_text:
            element.text = None
        nodes_module.mark_detached()
        return
    try:
        idx = parent.index(element)
    except ValueError:
        return  # already detached (an ancestor was dropped first)
    parent.children.pop(idx)
    element.parent = None
    nodes_module.mark_detached()
    if keep_children:
        # unwrap: text folds before, children splice in, tail folds
        # after the last spliced child
        _fold_text_before(parent, idx, element.text)
        children = element.children
        for offset, child in enumerate(children):
            child.parent = parent
            parent.children.insert(idx + offset, child)
        element.children = []
        if element.tail:
            if children:
                last = children[-1]
                last.tail = (last.tail or "") + element.tail
            else:
                _fold_text_before(parent, idx, element.tail)
    else:
        folded = ""
        if preserve_text and element.text:
            folded += element.text
        if preserve_tail and element.tail:
            folded += element.tail
        _fold_text_before(parent, idx, folded)


def drop_element(
    keep_children: bool = False,
    preserve_text: bool = False,
    preserve_tail: bool = False,
):
    """Immediately remove the matched element (engine extension —
    pairs with TRAVERSE_BOTTOM_TO_TOP; the reference idiom collects
    then calls :func:`remove_elements` in a later step)."""

    def handler(element):
        _remove_one(element, keep_children, preserve_text, preserve_tail)

    return _described(
        handler,
        f"drop_element(keep_children={keep_children},"
        f"preserve_text={preserve_text},preserve_tail={preserve_tail})",
    )


def remove_elements(
    *references: str,
    keep_children: bool = False,
    preserve_text: bool = False,
    preserve_tail: bool = False,
    clear_ref: bool = True,
):
    """Remove all elements collected in the named context attributes
    (reference lib.remove_elements [M-H], SURVEY.md §3.B B1)."""

    def handler(context):
        for ref in references:
            elements = getattr(context, ref, None) or []
            for element in list(elements):
                _remove_one(element, keep_children, preserve_text, preserve_tail)
            if clear_ref:
                setattr(context, ref, [])

    return _described(
        handler,
        f"remove_elements({','.join(references)},keep_children={keep_children},"
        f"preserve_text={preserve_text},preserve_tail={preserve_tail})",
    )


def drop_siblings(side: str):
    """Remove all siblings on one side ('left'/'right') of the matched
    element (B11) — main-content isolation."""
    if side not in ("left", "right"):
        raise ValueError("side must be 'left' or 'right'")

    def handler(element):
        parent = element.parent
        if parent is None:
            return
        idx = parent.index(element)
        victims = parent.children[:idx] if side == "left" else parent.children[idx + 1:]
        for v in list(victims):
            _remove_one(v)
        if side == "left":
            parent.text = None

    return _described(handler, f"drop_siblings({side})")


# ---------------------------------------------------------------------------
# text & tail (B2, B4, B24)
# ---------------------------------------------------------------------------

def get_text(element):
    return element.text


def get_tail(element):
    return element.tail


def extract_text(element):
    """Full-subtree document-order text (lxml itertext semantics)."""
    return element.full_text()


def set_text(text=None):
    """Set element.text to the literal/Ref value, or to previous_result
    when called without argument."""
    from .transformation import Ref

    def handler(element, previous_result, _symbols):
        value = text
        if value is None:
            value = previous_result
        elif isinstance(value, Ref):
            value = _symbols(value)
        element.text = value if value is None else str(value)
        return element

    return _described(handler, f"set_text({text!r})")


def set_tail(tail=None):
    from .transformation import Ref

    def handler(element, previous_result, _symbols):
        value = tail
        if value is None:
            value = previous_result
        elif isinstance(value, Ref):
            value = _symbols(value)
        element.tail = value if value is None else str(value)
        return element

    return _described(handler, f"set_tail({tail!r})")


def sub(pattern: str, repl: str):
    """Regex-substitute within element.text (B24 [L])."""
    compiled = _re.compile(pattern)

    def handler(element):
        if element.text:
            element.text = compiled.sub(repl, element.text)
        return element

    return _described(handler, f"sub({pattern!r},{repl!r})")


def lowercase(element):
    if element.text:
        element.text = element.text.lower()
    return element


# ---------------------------------------------------------------------------
# variables (B3) — the north star's "SetLocalVariables"
# ---------------------------------------------------------------------------

def put_variable(name: str, value=...):
    """Set context.<name>; default value is previous_result."""
    from .transformation import Ref

    def handler(context, previous_result, _symbols):
        v = previous_result if value is ... else value
        if isinstance(v, Ref):
            v = _symbols(v)
        setattr(context, name, v)
        return previous_result

    return _described(handler, f"put_variable({name})")


def get_variable(name: str):
    def handler(context):
        return getattr(context, name)

    return _described(handler, f"get_variable({name})")


def append(name: str, value=...):
    """Append previous_result (or the given value/Ref) to the list at
    context.<name>, creating it on first use (B12 — the extraction
    accumulator pattern)."""
    from .transformation import Ref

    def handler(context, previous_result, _symbols):
        v = previous_result if value is ... else value
        if isinstance(v, Ref):
            v = _symbols(v)
        bucket = getattr(context, name, None)
        if bucket is None:
            bucket = []
            setattr(context, name, bucket)
        bucket.append(v)
        return v

    return _described(handler, f"append({name})")


def sorter(name: str, key=None):
    def handler(context):
        bucket = list(getattr(context, name))
        bucket.sort(key=key)
        setattr(context, name, bucket)
        return bucket

    return _described(handler, f"sorter({name})")


def concatenate(*parts):
    from .transformation import Ref

    def handler(_symbols):
        out = []
        for part in parts:
            out.append(str(_symbols(part)) if isinstance(part, Ref) else str(part))
        return "".join(out)

    return _described(handler, f"concatenate({len(parts)} parts)")


# ---------------------------------------------------------------------------
# attributes (B5–B8)
# ---------------------------------------------------------------------------

def set_attribute(name: str, value):
    from .transformation import Ref

    def handler(element, _symbols):
        element.attrib[name] = str(_symbols(value)) if isinstance(value, Ref) else str(value)
        return element

    return _described(handler, f"set_attribute({name})")


def get_attribute(name: str):
    def handler(element):
        return element.attrib.get(name)

    return _described(handler, f"get_attribute({name})")


def pop_attribute(name: str):
    def handler(element):
        return element.attrib.pop(name, None)

    return _described(handler, f"pop_attribute({name})")


def pop_attributes(*names: str):
    def handler(element):
        return {n: element.attrib.pop(n) for n in names if n in element.attrib}

    return _described(handler, f"pop_attributes({','.join(names)})")


def strip_attributes(*names: str):
    def handler(element):
        for n in names:
            element.attrib.pop(n, None)
        return element

    return _described(handler, f"strip_attributes({','.join(names)})")


def clear_attributes(element):
    element.attrib.clear()
    return element


def rename_attributes(translation_map: dict):
    def handler(element):
        for old, new in translation_map.items():
            if old in element.attrib:
                element.attrib[new] = element.attrib.pop(old)
        return element

    return _described(handler, f"rename_attributes({sorted(translation_map.items())})")


def prefix_attributes(prefix: str, *names: str):
    return _described(
        rename_attributes({n: prefix + n for n in names}),
        f"prefix_attributes({prefix},{','.join(names)})",
    )


# ---------------------------------------------------------------------------
# names & namespaces (B9, B10)
# ---------------------------------------------------------------------------

def set_localname(name: str):
    def handler(element):
        ns = element.namespace
        element.tag = ("{%s}%s" % (ns, name)) if ns else name
        return element

    return _described(handler, f"set_localname({name})")


def get_localname(element):
    return element.localname


def cleanup_namespaces(root):
    """Strip redundant explicit xmlns attributes (our Node model keeps
    namespaces in Clark notation, so declarations regenerate on
    serialize; B10)."""
    for node in _walk_all(root):
        for key in [k for k in node.attrib if k == "xmlns" or k.startswith("xmlns:")]:
            node.attrib.pop(key)
    return root


def _walk_all(node: Node):
    yield node
    for child in node.children:
        yield from _walk_all(child)


# ---------------------------------------------------------------------------
# HTML helpers (B16, B17)
# ---------------------------------------------------------------------------

def add_html_classes(*classes: str):
    def handler(element):
        existing = [c for c in (element.attrib.get("class") or "").split() if c]
        for cls in classes:
            if cls not in existing:
                existing.append(cls)
        element.attrib["class"] = " ".join(existing)
        return element

    return _described(handler, f"add_html_classes({','.join(classes)})")


def remove_html_classes(*classes: str):
    def handler(element):
        existing = [c for c in (element.attrib.get("class") or "").split() if c]
        remaining = [c for c in existing if c not in classes]
        if remaining:
            element.attrib["class"] = " ".join(remaining)
        else:
            element.attrib.pop("class", None)
        return element

    return _described(handler, f"remove_html_classes({','.join(classes)})")


def join_to_set(name: str, value):
    """Add value to a whitespace-separated attribute set (B15 [L])."""
    from .transformation import Ref

    def handler(element, _symbols):
        v = str(_symbols(value)) if isinstance(value, Ref) else str(value)
        items = [c for c in (element.attrib.get(name) or "").split() if c]
        if v not in items:
            items.append(v)
        element.attrib[name] = " ".join(items)
        return element

    return _described(handler, f"join_to_set({name})")


def insert_fontawesome_icon(name: str, position: str = "before", spacing: str = " "):
    """Insert ``<i class="fa fa-<name>"/>`` before/after element text
    (B17 — niche HTML helper kept for API completeness)."""

    def handler(element):
        icon = Node("i", {"class": f"fa fa-{name}"})
        if position == "before":
            icon.tail = (spacing + (element.text or "")) or None
            element.text = None
            element.insert(0, icon)
        else:
            if element.children:
                element.children[-1].tail = (element.children[-1].tail or "") + spacing
            else:
                element.text = (element.text or "") + spacing
            element.append(icon)
        return element

    return _described(handler, f"insert_fontawesome_icon({name},{position})")


# ---------------------------------------------------------------------------
# element building & merging (B18, B19, B20)
# ---------------------------------------------------------------------------

def make_element(tag: str, attrib: Optional[dict] = None, text: Optional[str] = None):
    def handler():
        return Node(tag, dict(attrib or {}), text)

    return _described(handler, f"make_element({tag})")


def merge(source: str = "previous_result"):
    """Merge the tree at context.<source>/previous_result into the
    matched element: children appended, text concatenated (B19 [L] —
    simple deterministic semantics; verify against reference on mount)."""

    def handler(element, previous_result, context):
        src = previous_result if source == "previous_result" else getattr(context, source)
        if src.text:
            if element.children:
                last = element.children[-1]
                last.tail = (last.tail or "") + src.text
            else:
                element.text = (element.text or "") + src.text
        for child in list(src.children):
            src.remove(child)
            element.append(child)
        return element

    return _described(handler, f"merge({source})")


def resolve_xpath_to_element(*names: str):
    """Replace xpath strings stored in context variables with the
    (first) matched element (B20)."""
    from .xpath import xpath_all

    def handler(context, root):
        for name in names:
            expr = getattr(context, name)
            if isinstance(expr, str):
                matches = xpath_all(root, expr, root=root)
                setattr(context, name, matches[0] if matches else None)

    return _described(handler, f"resolve_xpath_to_element({','.join(names)})")


# ---------------------------------------------------------------------------
# per-element boolean tests usable as conditions (B21)
# ---------------------------------------------------------------------------

def has_attributes(element):
    return bool(element.attrib)


def has_children(element):
    return bool(element.children)


def has_tail(element):
    return bool(element.tail)


def has_matching_text(pattern: str):
    compiled = _re.compile(pattern)

    def condition(element):
        return bool(element.text) and bool(compiled.search(element.text))

    return _described(condition, f"has_matching_text({pattern!r})")


def text_equals(text: str):
    def condition(element):
        return (element.text or "") == text

    return _described(condition, f"text_equals({text!r})")


# ---------------------------------------------------------------------------
# debugging (B22) and generic wrapping (B23)
# ---------------------------------------------------------------------------

def debug_message(msg: str):
    def handler(previous_result):
        logger.debug(msg)
        return previous_result

    return _described(handler, f"debug_message({msg!r})")


def debug_symbols(*names: str):
    def handler(previous_result, _symbols):
        from .transformation import Ref

        for name in names:
            try:
                logger.debug("symbol %s = %r", name, _symbols(Ref(name)))
            except KeyError:
                logger.debug("symbol %s unresolved", name)
        return previous_result

    return _described(handler, f"debug_symbols({','.join(names)})")


def debug_dump_document(root, previous_result):
    from .parse import serialize

    logger.debug("document: %s", serialize(root))
    return previous_result


def f(fn: Callable, *args, **kwargs):
    """Wrap a plain function; Ref arguments resolve at call time (B23)."""
    from .transformation import Ref

    def handler(_symbols, previous_result):
        rargs = [(_symbols(a) if isinstance(a, Ref) else a) for a in args]
        rkw = {
            k: (_symbols(v) if isinstance(v, Ref) else v) for k, v in kwargs.items()
        }
        return fn(*rargs, **rkw)

    return _described(
        handler, f"f({getattr(fn, '__qualname__', repr(fn))},{args!r},{sorted(kwargs)})"
    )
