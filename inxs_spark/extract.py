"""Main-content extraction: payload → (extracted_text, spans, failure).

This is the north-rule workload (BASELINE.json:14): strip boilerplate
and extract main-content text plus character spans from the HTML/XML
payload of each transcript turn. The rule-set is declared with the
kernel's inxs-style API (SetLocalVariables ≙ put_variable, iterate-
subtree ≙ traversal, drop/unwrap/extract handlers — BASELINE.json:6)
and compiled once; the per-turn executor is pure Python and runs
identically inside Spark Arrow batches and serially in tests (parity
oracle, SURVEY.md §0).

Span semantics: ``extracted_text`` concatenates the text/tail segments
of the FINAL DOM in document order, and each non-empty segment gets its
[start, end) offsets plus the path of the owning element (the element
whose ``.text`` it is, or whose ``.tail`` it is), never computed
incrementally (SURVEY.md §8 hard-part 5). For a generic rule set the
payload is copied into a ``Node`` tree, the transformation mutates it,
and ONE document-order walk (:func:`text_with_spans`) reads the result.
For the ``MAIN_CONTENT`` object the same walk reads the parser's
ElementTree (``main_content=True``) and emits the segments of the same
final DOM without building or mutating it.
"""

from __future__ import annotations

import functools
import re
import xml.etree.ElementTree as ET
from typing import Optional

from .kernel import lib
from .kernel.conditions import Any
from .kernel.nodes import COMMENT_TAG, PI_TAG, Node
from .kernel.parse import ParseError, parse_payload, parse_payload_etree, sniff
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


#: what the MAIN_CONTENT walk does with an element, by local name (a
#: junk class drops any element, as boilerplate does)
_DROP, _KEEP_TAIL, _UNWRAP = 1, 2, 3
_ACTION = {
    **dict.fromkeys(BOILERPLATE_TAGS, _DROP),
    **dict.fromkeys(INLINE_JUNK_TAGS, _KEEP_TAIL),
    "ref": _KEEP_TAIL,
    "stdout": _UNWRAP,
}
#: tail a table cell/row gets when it has none (format-td/th/tr)
_CELL_TAIL = {"td": "\t", "th": "\t", "tr": "\n"}
#: comment/PI content is not body text (their tails are), in the Node
#: and in the ElementTree spelling
_NO_TEXT = frozenset((COMMENT_TAG, PI_TAG, ET.Comment, ET.ProcessingInstruction))


def _junk_classed(attrib: dict, lower: bool) -> bool:
    if lower:  # as the lowercased attribute dict of the Node copy reads
        attrib = {k.lower(): v for k, v in attrib.items()}
    cls = attrib.get("class")
    return cls is not None and _JUNK_CLASS.search(cls) is not None


def text_with_spans(
    root, main_content: bool = False, lower: bool = False
) -> tuple[str, list[tuple[int, int, str]]]:
    """Document-order text of the FINAL DOM under ``root`` and one
    (start, end, path) span per non-empty slot: an element's text or
    its tail, owned by that element (``[n]`` counts same-tag siblings).

    Without ``main_content`` the final DOM is ``root`` itself, the Node
    tree a transformation left. With it, ``root`` is the parser's
    ElementTree, read in one pass (no Node, no mutation) as the DOM the
    ``MAIN_CONTENT`` rules leave of it; PLANS.md §9 lists the rules and
    how kept text of dropped or unwrapped elements joins the slot before
    them. ``lower`` reads names lowercased, as the HTML parse does.
    Iterative: document depth never recurses."""
    actions = _ACTION if main_content else {}
    cell_tail = _CELL_TAIL if main_content else {}
    no_text = _NO_TEXT
    comment = ET.Comment

    tag = root.tag
    if type(tag) is not str:
        tag = COMMENT_TAG if tag is comment else PI_TAG
    elif lower:
        tag = tag.lower()
    local = tag[tag.index("}") + 1:] if tag[:1] == "{" else tag
    if main_content and (actions.get(local) in (_DROP, _KEEP_TAIL)
                         or (root.attrib and _junk_classed(root.attrib, lower))):
        return "", []
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    offset = slot_start = 0
    slot_path = ""
    # events: (element, path, tail) opens the element's text slot, walks
    # its children, then opens its tail slot; (None, path, tail) opens a
    # tail slot; (None, None, text) adds to the open slot
    stack: list[tuple] = [(root, "/" + local, None)]
    while stack:
        el, path, tail = stack.pop()
        if path is not None:
            if offset > slot_start:
                spans.append((slot_start, offset, slot_path))
                slot_start = offset
            slot_path = path
        if el is None:
            if tail:
                parts.append(tail)
                offset += len(tail)
            continue
        text = el.text
        if text and el.tag not in no_text:
            parts.append(text)
            offset += len(text)
        if len(el):
            # the children of the final DOM: a kept child as (child, tag,
            # local), kept text of the others as (None, text, None)
            kids: list[tuple] = []
            n_kept = 0
            it = iter(el)
            unwrapped: list[tuple] = []  # (outer iterator, tail) per open stdout
            while True:
                for child in it:
                    tag = child.tag
                    if type(tag) is not str:
                        tag = local = COMMENT_TAG if tag is comment else PI_TAG
                    else:
                        if lower:
                            tag = tag.lower()
                        local = tag[tag.index("}") + 1:] if tag[:1] == "{" else tag
                        action = actions.get(local)
                        if action == _DROP or (main_content and child.attrib
                                               and _junk_classed(child.attrib, lower)):
                            continue
                        if action == _KEEP_TAIL:
                            if child.tail:
                                kids.append((None, child.tail, None))
                            continue
                        if action == _UNWRAP:
                            if child.text:
                                kids.append((None, child.text, None))
                            unwrapped.append((it, child.tail))
                            it = iter(child)
                            break
                    kids.append((child, tag, local))
                    n_kept += 1
                else:
                    if not unwrapped:
                        break
                    it, text = unwrapped.pop()
                    if text:
                        kids.append((None, text, None))
            if n_kept > 1:
                counts: dict[str, int] = {}
                for child, tag, _ in kids:
                    if child is not None:
                        counts[tag] = counts.get(tag, 0) + 1
                seen: dict[str, int] = {}
            events: list[tuple] = []
            for child, tag, local in kids:
                if child is None:
                    # text ahead of the first kept child joins this
                    # element's own text slot, which is open right now
                    if events:
                        events.append((None, None, tag))
                    else:
                        parts.append(tag)
                        offset += len(tag)
                    continue
                if n_kept > 1 and counts[tag] > 1:
                    nth = seen[tag] = seen.get(tag, 0) + 1
                    cpath = f"{path}/{local}[{nth}]"
                else:
                    cpath = f"{path}/{local}"
                text = child.tail
                events.append((child, cpath, cell_tail.get(local) if text is None else text))
            if events:
                events.append((None, path, tail))
                stack.extend(reversed(events))
                continue
        # no kept child: the tail slot follows at once
        if offset > slot_start:
            spans.append((slot_start, offset, path))
            slot_start = offset
        if tail:
            parts.append(tail)
            offset += len(tail)
    if offset > slot_start:
        spans.append((slot_start, offset, slot_path))
    return "".join(parts), spans


def turn_extractor(transformation: Transformation):
    """``payload → extract_turn(payload, transformation)``, picked before
    pickling: a worker unpickles a COPY of ``MAIN_CONTENT``, which would
    take the generic interpreter instead of the one-pass walk."""
    if transformation is MAIN_CONTENT:
        return extract_turn
    return functools.partial(extract_turn, transformation=transformation)


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
        kind = sniff(payload)
        if kind == "text":  # plain text passthrough
            return payload, [(0, len(payload), "/")], None
        if transformation is MAIN_CONTENT:
            root, kind = parse_payload_etree(payload, kind)
            text, spans = text_with_spans(root, main_content=True, lower=kind == "html")
        else:
            root, _ = parse_payload(payload, kind)
            text, spans = text_with_spans(transformation(root))
        return text, spans, None
    except ParseError:
        return None, [], "parse_error"
    except RecursionError:
        return None, [], "payload_too_deep"
    except Exception:
        return None, [], "transform_error"
