"""Payload parsing: XML (ElementTree-backed) and tag-soup HTML.

The reference library parses documents with ``lxml.etree`` / an HTML
parser (SURVEY.md §2.1; lxml is unavailable in this environment —
SURVEY.md §0). This module provides the same capability on the stdlib.
Every payload becomes an ``xml.etree`` tree: well-formed markup through
one C-accelerated expat parse, tag soup through ``html.parser`` driving
the same ``ET.TreeBuilder`` with void-element and implied-end-tag
handling (``<p>``, ``<li>``, ``<td>`` …), since tag-soup HTML is a
first-class payload kind (FIXTURES.md §2).

- ``parse_payload_etree`` — that tree (the MAIN_CONTENT walk reads it).
- ``parse_xml`` / ``parse_html`` / ``parse_payload`` — copied into kernel
  :class:`~inxs_spark.kernel.nodes.Node` trees for the rule interpreter.
- ``sniff``      — classify a payload as xml / html / text / empty.
- ``serialize``  — Node tree → markup string (round-trip for goldens).

Pure Python + stdlib only; no Spark imports.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from html import escape
from html.parser import HTMLParser
from typing import Optional

from .nodes import COMMENT_TAG, FRAGMENT_TAG, PI_TAG, Node


class ParseError(Exception):
    """Raised when a payload cannot be parsed as its sniffed kind."""


# ---------------------------------------------------------------------------
# XML
# ---------------------------------------------------------------------------

def _from_etree(el: ET.Element, lower: bool = False) -> Node:
    # iterative (deep documents must not recurse). The child loop is
    # INLINED rather than calling a per-node helper — one Python call
    # frame per element was ~23% of conversion time (profiled); this
    # runs once per DOM node on every turn of a generic rule set. The
    # root is built as the one child of a throwaway holder.
    comment_t = ET.Comment
    holder = Node(FRAGMENT_TAG)
    stack: list[tuple] = [((el,), holder)]
    while stack:
        src, dst = stack.pop()
        children = dst.children
        for child in src:
            tag = child.tag
            if type(tag) is str:
                attrib = child.attrib
                if lower:
                    c = Node(
                        tag.lower(),
                        {k.lower(): v for k, v in attrib.items()} if attrib else {},
                        child.text, child.tail,
                    )
                else:
                    c = Node(tag, dict(attrib) if attrib else {},
                             child.text, child.tail)
            # TreeBuilder(insert_comments/pis) emits nodes whose tag is
            # the ET.Comment / ET.ProcessingInstruction function
            elif tag is comment_t:
                c = Node(COMMENT_TAG, {}, child.text, child.tail)
            else:
                # ET folds a PI into text='target data'; split back so
                # the node mirrors lxml's .target/.text model
                target, _, data = (child.text or "").partition(" ")
                c = Node(PI_TAG, {"target": target}, data, child.tail)
            c.parent = dst
            children.append(c)
            if len(child):
                stack.append((child, c))
    root = holder.children[0]
    root.parent = None
    return root


def _parse_et(payload: str) -> tuple[Optional[ET.Element], str]:
    """(root, "") from expat, or (None, message). Callers raise once
    this frame is gone: raising in the handler would leave a reference
    cycle (frame → caught error → traceback → frame) per failure."""
    # comment/PI nodes kept in the tree (lxml tree-shape parity);
    # parsers are single-use, so build one per parse (cheap C object)
    parser = ET.XMLParser(
        target=ET.TreeBuilder(insert_comments=True, insert_pis=True))
    try:
        parser.feed(payload)
        return parser.close(), ""
    except ET.ParseError as exc:
        return None, f"xml parse error: {exc}"


def parse_xml(payload: str) -> Node:
    root, error = _parse_et(payload)
    if root is None:
        raise ParseError(error)
    return _from_etree(root)


# ---------------------------------------------------------------------------
# HTML (tag soup)
# ---------------------------------------------------------------------------

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Opening tag X implies closing any open tag in IMPLIED_END[X] first
# (subset of the HTML5 tree-construction rules sufficient for
# boilerplate-strip workloads; the supported-HTML contract is tested).
_IMPLIED_END: dict[str, frozenset] = {
    "p": frozenset({"p"}),
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "tr": frozenset({"tr", "td", "th"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "thead": frozenset({"tr", "td", "th"}),
    "tbody": frozenset({"thead", "tr", "td", "th"}),
    "option": frozenset({"option"}),
    # block elements close an open <p>
    "div": frozenset({"p"}),
    "ul": frozenset({"p"}),
    "ol": frozenset({"p"}),
    "table": frozenset({"p"}),
    "section": frozenset({"p"}),
    "article": frozenset({"p"}),
    "header": frozenset({"p"}),
    "footer": frozenset({"p"}),
    "nav": frozenset({"p"}),
    "main": frozenset({"p"}),
    "aside": frozenset({"p"}),
    "h1": frozenset({"p"}),
    "h2": frozenset({"p"}),
    "h3": frozenset({"p"}),
    "h4": frozenset({"p"}),
    "h5": frozenset({"p"}),
    "h6": frozenset({"p"}),
    "pre": frozenset({"p"}),
    "blockquote": frozenset({"p"}),
}


class _SoupParser(HTMLParser):
    """Tag-soup HTML → ElementTree: the ``HTMLParser`` callbacks (tag and
    attribute names already lowercased) drive the ``ET.TreeBuilder``
    expat feeds, which puts text on the open element's text until a
    child closes, then on that child's tail — the ElementTree model."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.target = ET.TreeBuilder(insert_comments=True, insert_pis=True)
        self.target.start(FRAGMENT_TAG, {})
        self.open: list[str] = [FRAGMENT_TAG]  # tags of the open elements

    def handle_data(self, data: str) -> None:
        if data:
            self.target.data(data)

    def handle_starttag(self, tag: str, attrs: list, closed: bool = False) -> None:
        closers = _IMPLIED_END.get(tag)
        while closers and len(self.open) > 1 and self.open[-1] in closers:
            self.target.end(self.open.pop())
        self.target.start(tag, {k: (v if v is not None else "") for k, v in attrs})
        if closed or tag in VOID_ELEMENTS:
            self.target.end(tag)
        else:
            self.open.append(tag)

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self.handle_starttag(tag, attrs, closed=True)

    def handle_comment(self, data: str) -> None:
        # text after a comment lands on its tail, as in lxml
        self.target.comment(data)

    def handle_pi(self, data: str) -> None:
        target, _, rest = data.partition(" ")
        self.target.pi(target.rstrip("?"), rest.rstrip("?") or None)

    def handle_endtag(self, tag: str) -> None:
        # close up to the innermost open element of this name; a stray
        # end tag (void elements are never open) closes nothing
        if tag in self.open:
            while self.open[-1] != tag:
                self.target.end(self.open.pop())
            self.target.end(self.open.pop())

    def root(self) -> ET.Element:
        for tag in reversed(self.open):
            self.target.end(tag)
        return self.target.close()


def _parse_soup(payload: str) -> ET.Element:
    parser = _SoupParser()
    try:
        parser.feed(payload)
        parser.close()
    except Exception as exc:  # HTMLParser rarely raises, but be safe
        raise ParseError(f"html parse error: {exc}") from exc
    root = parser.root()
    # unwrap the synthetic fragment root when there is exactly one
    # child and no stray top-level text
    if len(root) == 1 and not (root.text and root.text.strip()):
        only = root[0]
        if not (only.tail and only.tail.strip()):
            only.tail = None
            return only
    return root


def parse_html(payload: str) -> Node:
    return parse_payload(payload, "html")[0]


# ---------------------------------------------------------------------------
# Sniffing
# ---------------------------------------------------------------------------

_HTML_HINT = re.compile(
    r"<(?:!doctype\s+html|html|body|div|p|span|table|ul|ol|li|nav|main|header"
    r"|footer|article|section|br|h[1-6]"
    r"|a|b|i|em|strong|td|th|tr|blockquote|pre|img|form|iframe|script|style)"
    r"[\s/>]",
    re.IGNORECASE,
)
_XML_DECL = re.compile(r"^\s*<\?xml", re.IGNORECASE)
_TAG = re.compile(r"<[A-Za-z!?/]")


def sniff(payload: Optional[str]) -> str:
    """Classify payload → 'empty' | 'text' | 'html' | 'xml'."""
    if payload is None or payload.strip() == "":
        return "empty"
    if not _TAG.search(payload):
        return "text"
    if _XML_DECL.match(payload):
        return "xml"
    if _HTML_HINT.search(payload):
        return "html"
    return "xml"


def parse_payload_etree(
    payload: str, kind: Optional[str] = None
) -> tuple[Optional[ET.Element], str]:
    """Parse by sniffed kind into an ElementTree. Returns (root_or_None,
    kind); for kind 'html' tag and attribute names are to be read
    lowercased (the soup parser already lowercases them).

    'empty' and 'text' return (None, kind) — callers handle them
    without a DOM. A payload sniffed as XML that fails to parse falls
    back to the tag-soup HTML parser UNLESS it carries an explicit
    ``<?xml`` declaration (those are real XML and must fail loudly):
    web-scale soup using tags outside the sniffer's hint list (e.g.
    ``<select><option>a<option>b``) must still extract. Either way
    expat runs once per payload.
    """
    k = kind or sniff(payload)
    if k in ("empty", "text"):
        return None, k
    # fast path: much real-world (and most synthetic) HTML is well-
    # formed XML — the C-accelerated expat parse is ~3x faster than the
    # pure-Python tag-soup parser. Any soup (void elements, implied
    # end tags, unquoted attrs, bare entities) fails it and falls back.
    root, error = _parse_et(payload)
    if root is not None:
        return root, k
    if k == "xml" and _XML_DECL.match(payload):
        raise ParseError(error)
    return _parse_soup(payload), "html"


def parse_payload(payload: str, kind: Optional[str] = None) -> tuple[Optional[Node], str]:
    """:func:`parse_payload_etree` copied into kernel :class:`Node`
    trees for the rule interpreter."""
    root, k = parse_payload_etree(payload, kind)
    if root is None:
        return None, k
    return _from_etree(root, lower=k == "html"), k


# ---------------------------------------------------------------------------
# Serialization (tests / goldens / CLI)
# ---------------------------------------------------------------------------

def serialize(node: Node, html_mode: bool = False) -> str:
    out: list[str] = []
    _write(node, out, html_mode)
    return "".join(out)


def _write(node: Node, out: list[str], html_mode: bool) -> None:
    if node.tag == COMMENT_TAG:
        out.append(f"<!--{node.text or ''}-->")
        return
    if node.tag == PI_TAG:
        target = node.attrib.get("target", "")
        data = node.text or ""
        out.append(f"<?{target}{' ' + data if data else ''}?>")
        return
    if node.tag == "#fragment":
        if node.text:
            out.append(escape(node.text, quote=False))
        for child in node.children:
            _write(child, out, html_mode)
            if child.tail:
                out.append(escape(child.tail, quote=False))
        return
    tag = node.tag
    ns_attr = ""
    if tag.startswith("{"):
        uri, local = tag[1:].split("}", 1)
        tag = local
        ns_attr = f' xmlns="{escape(uri)}"'
    out.append(f"<{tag}{ns_attr}")
    for k, v in node.attrib.items():
        if k.startswith("{"):
            k = k[k.index("}") + 1 :]
        out.append(f' {k}="{escape(str(v))}"')
    if not node.children and not node.text:
        if html_mode and tag in VOID_ELEMENTS:
            out.append(">")
        else:
            out.append("/>")
    else:
        out.append(">")
        if node.text:
            out.append(escape(node.text, quote=False))
        for child in node.children:
            _write(child, out, html_mode)
            if child.tail:
                out.append(escape(child.tail, quote=False))
        out.append(f"</{tag}>")
