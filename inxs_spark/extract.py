"""Main-content extraction: payload → (extracted_text, spans, failure).

This is the north-rule workload (BASELINE.json:14): strip boilerplate
and extract main-content text plus character spans from the HTML/XML
payload of each transcript turn. The rule-set is declared with the
kernel's inxs-style API (SetLocalVariables ≙ put_variable, iterate-
subtree ≙ traversal, drop/unwrap/extract handlers — BASELINE.json:6)
and compiled once; the per-turn executor is pure Python and runs
identically inside Spark Arrow batches and serially in tests (parity
oracle, SURVEY.md §0).

Span semantics: after the transformation mutates the DOM, ONE document-
order walk concatenates text/tail segments into ``extracted_text`` and
records for each non-empty segment its [start, end) offsets plus the
path of the owning element (the element whose ``.text`` it is, or whose
``.tail`` it is). Spans are computed on the FINAL DOM, never
incrementally (SURVEY.md §8 hard-part 5).
"""

from __future__ import annotations

import re
from typing import Optional

from .kernel import lib
from .kernel.conditions import Any
from .kernel.nodes import COMMENT_TAG, PI_TAG, Node
from .kernel.parse import ParseError, parse_payload
from .kernel.transformation import Ref, Rule, Transformation

# payloads beyond this many characters fail fast with
# failure='payload_too_large' instead of risking executor OOM on
# pathological rows (SURVEY.md §5.2 spill row)
MAX_PAYLOAD_CHARS = 4_000_000

#: structural boilerplate containers dropped wholesale — the text
#: AFTER them (their tails) is layout junk too
BOILERPLATE_TAGS = (
    "header", "footer", "nav", "aside", "form", "stderr", "meta",
)

#: invisible/executable elements that sit MID-FLOW: the element's
#: content is junk but its tail is body text and must survive
#: ("<script>…</script>keep" keeps "keep" — readability semantics)
INLINE_JUNK_TAGS = ("script", "style", "noscript", "iframe")

#: class-attribute patterns that mark ad/navigation containers
_JUNK_CLASS = re.compile(r"(?:^|\s|-)(ads?|advert\w*|sidebar|banner|promo|cookie)(?:$|\s|-)")


def _ensure_tail(tail: str):
    """Set element.tail only when absent — table-cell/row separators
    must not clobber author text."""

    def handler(element):
        if element.tail is None:
            element.tail = tail
        return element

    handler._describe = f"ensure_tail({tail!r})"
    return handler


def main_content_transformation() -> Transformation:
    """The flagship rule-set, equivalent in shape to the reference's
    wikipedia-dumps + table-extraction examples (BASELINE.json:6):

    1. grouped classification traversal: collect boilerplate containers
       and ad-classed elements → ``trash``; ``ref`` citation markers →
       ``cites`` (tails are body text and must survive,
       FIXTURES.md §2); ``stdout`` wrappers → ``unwraps``
    2. tab/newline-format table cells/rows so the text walk yields
       readable records (table-extraction shape)
    3. removal steps: drop trash outright, drop cites preserving tails,
       unwrap stdout keeping content
    """
    el = Ref("element")
    classify = [
        Rule(Any(*BOILERPLATE_TAGS), (lib.append("trash", el),), name="collect-boilerplate"),
        Rule(Any(*INLINE_JUNK_TAGS), (lib.append("inline_junk", el),), name="collect-inline-junk"),
        Rule({"class": _JUNK_CLASS}, (lib.append("trash", el),), name="collect-junk-classed"),
        Rule("ref", (lib.append("cites", el),), name="collect-cites"),
        Rule("stdout", (lib.append("unwraps", el),), name="collect-stdout"),
        # formatting rules ride the same traversal (disjoint tags, no
        # interaction with the collectors → one walk instead of four)
        Rule("td", (_ensure_tail("\t"),), name="format-td"),
        Rule("th", (_ensure_tail("\t"),), name="format-th"),
        Rule("tr", (_ensure_tail("\n"),), name="format-tr"),
    ]
    return Transformation(
        classify,  # grouped step: ONE traversal, eight rules (A4)
        lib.remove_elements("trash"),
        lib.remove_elements("inline_junk", preserve_tail=True),
        lib.remove_elements("cites", preserve_tail=True),
        lib.remove_elements(
            "unwraps", keep_children=True, preserve_text=True, preserve_tail=True
        ),
        name="main-content-v1",
        copy=False,  # we own the freshly parsed tree
        result_object="tree",
    )


# compiled once at import; broadcast to executors by reference.
# fingerprint() of this object is the lineage rule_set_hash.
MAIN_CONTENT = main_content_transformation()


def fused_main_content(root: Node) -> Node:
    """Hand-fused physical operator for the MAIN_CONTENT logical plan —
    the kernel's analogue of a database shipping a specialized operator
    for a hot plan shape. ONE iterative walk replaces the generic
    condition/DI machinery; the removal steps reuse the exact lib
    internals, in the same bucket order, so semantics are identical BY
    CONSTRUCTION where possible and BY TEST everywhere (the equivalence
    suite runs every corpus payload plus hypothesis-random DOMs through
    both paths). The declarative ``MAIN_CONTENT`` object remains the
    source of truth and the lineage ``rule_set_hash``.

    Faithfulness notes mirroring the interpreter's rule order
    (collect-boilerplate, collect-inline-junk, collect-junk-classed,
    collect-cites/stdout, format-td/th/tr; then the four removal
    steps):
    - a node can enter ``trash`` twice (boilerplate AND junk-classed) —
      harmless, the second removal is a no-op, same as the interpreter
    - an inline-junk node with a junk class lands in BOTH lists; trash
      removes first (tail dropped), the inline pass no-ops — exactly
      the interpreter's outcome
    """
    from .kernel.lib import _remove_one

    trash: list[Node] = []
    inline: list[Node] = []
    cites: list[Node] = []
    unwraps: list[Node] = []
    bo = _BOILERPLATE_SET
    ij = _INLINE_JUNK_SET
    junk_search = _JUNK_CLASS.search
    stack = [root]
    while stack:
        node = stack.pop()
        tag = node.tag
        # tag conditions match qualified OR local name (MatchesTag
        # semantics); rules use plain names, so match on the localname
        if tag[0] == "{":
            tag = tag[tag.index("}") + 1:]
        if tag in bo:
            trash.append(node)
        if tag in ij:
            inline.append(node)
        attrib = node.attrib
        if attrib:
            cls = attrib.get("class")
            if cls is not None and junk_search(cls):
                trash.append(node)
        if tag == "ref":
            cites.append(node)
        elif tag == "stdout":
            unwraps.append(node)
        elif tag == "td" or tag == "th":
            if node.tail is None:
                node.tail = "\t"
        elif tag == "tr":
            if node.tail is None:
                node.tail = "\n"
        children = node.children
        if children:
            stack.extend(reversed(children))
    for e in trash:
        _remove_one(e)
    for e in inline:
        _remove_one(e, preserve_tail=True)
    for e in cites:
        _remove_one(e, preserve_tail=True)
    for e in unwraps:
        _remove_one(e, keep_children=True, preserve_text=True, preserve_tail=True)
    return root


_BOILERPLATE_SET = frozenset(BOILERPLATE_TAGS)
_INLINE_JUNK_SET = frozenset(INLINE_JUNK_TAGS)

def text_with_spans(root: Node) -> tuple[str, list[tuple[int, int, str]]]:
    """Document-order text walk over the FINAL DOM. Returns the
    concatenated text and per-segment (start, end, path) spans.

    Iterative (explicit event stack) — document depth never recurses,
    so arbitrarily deep payloads extract instead of failing. Paths are
    built incrementally during the walk (equivalent to Node.path_from
    but O(1) per node instead of an upward walk per text segment)."""
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    offset = 0

    def child_paths(node: Node, path: str) -> list:
        children = node.children
        if len(children) == 1:
            child = children[0]
            return [(child, f"{path}/{child.localname}")]
        counts: dict[str, int] = {}
        for child in children:
            counts[child.tag] = counts.get(child.tag, 0) + 1
        seen: dict[str, int] = {}
        out = []
        for child in children:
            if counts[child.tag] > 1:
                nth = seen.get(child.tag, 0) + 1
                seen[child.tag] = nth
                out.append((child, f"{path}/{child.localname}[{nth}]"))
            else:
                out.append((child, f"{path}/{child.localname}"))
        return out

    # event stack: (is_tail, node, path). A child pushes its tail
    # event BELOW its node event so the tail emits after the subtree.
    stack: list[tuple[bool, Node, str]] = [(False, root, "/" + root.localname)]
    while stack:
        is_tail, node, path = stack.pop()
        if is_tail:
            tail = node.tail
            if tail:
                start = offset
                offset += len(tail)
                parts.append(tail)
                spans.append((start, offset, path))
            continue
        text = node.text
        # comment/PI content is not body text; their TAILS are (the
        # is_tail branch above handles those like any other node)
        if text and node.tag not in (COMMENT_TAG, PI_TAG):
            start = offset
            offset += len(text)
            parts.append(text)
            spans.append((start, offset, path))
        if node.children:
            for child, cpath in reversed(child_paths(node, path)):
                stack.append((True, child, cpath))
                stack.append((False, child, cpath))
    return "".join(parts), spans


def extract_turn(
    payload: Optional[str],
    transformation: Transformation = MAIN_CONTENT,
) -> tuple[Optional[str], list[tuple[int, int, str]], Optional[str]]:
    """Per-turn extraction — the function the Arrow UDF applies row-
    wise inside each batch, and the serial oracle in tests.

    Returns (extracted_text, spans, failure):
    - empty/whitespace payload → ('', [], None) — empty, never null
    - plain text (no markup)   → passthrough with one '/' span
    - XML/HTML                 → parse, transform, walk
    - parse failure            → (None, [], 'parse_error')
    - oversized payload        → (None, [], 'payload_too_large')
    """
    if payload is None:
        return "", [], None
    if len(payload) > MAX_PAYLOAD_CHARS:
        # size gate BEFORE the strip: .strip() on a pathological row
        # would allocate another multi-MB string first
        return None, [], "payload_too_large"
    if payload.strip() == "":
        return "", [], None
    # every pathological payload must degrade to a `failure` value —
    # an escaping exception would kill the whole Arrow batch / Spark
    # task (observed: RecursionError on ~2000-deep nesting)
    try:
        root, kind = parse_payload(payload)
        if root is None:  # plain text passthrough
            return payload, [(0, len(payload), "/")], None
        if transformation is MAIN_CONTENT:
            transformed = fused_main_content(root)
        else:
            transformed = transformation(root)
        text, spans = text_with_spans(transformed)
        return text, spans, None
    except ParseError:
        return None, [], "parse_error"
    except RecursionError:
        return None, [], "payload_too_deep"
    except Exception:
        return None, [], "transform_error"
