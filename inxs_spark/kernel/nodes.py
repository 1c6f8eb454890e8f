"""DOM node model for the rules kernel.

Mirrors the element model of the reference library (funkyfuture/inxs,
which operates on lxml ``_Element`` trees: tag / attrib / text / tail /
children — see SURVEY.md §2.1; reference cite upstream:inxs uses lxml,
unverifiable this session because /root/reference is an empty mount).

The subtle part reproduced here is the lxml/ElementTree *tail* model:
text that follows an element's closing tag belongs to that element's
``tail``, not to the parent. Document-order text extraction and the
drop/unwrap handlers must honor it (SURVEY.md §3.B B1/B2).

Pure Python, zero Spark imports — this module runs inside Arrow UDF
batches on executors and serially in tests (it IS the parity oracle
while the reference mount is empty, SURVEY.md §0).
"""

from __future__ import annotations

from typing import Iterator, Optional

#: Non-element node tags (lxml keeps comment/PI nodes in the tree with
#: full text/tail semantics; round 1 dropped them at parse time, so a
#: comment's own content vanished and the tree shape diverged).
#: Contract: these nodes ARE part of the tree (serialized, tails are
#: body text), are VISITED by traversals (lxml .iter() parity), but
#: never match the '*' condition or XPath name tests (lxml name-test
#: parity — '*' selects elements only). A rule can still target them
#: explicitly via the literal tag string ('#comment' / '#pi').
COMMENT_TAG = "#comment"
PI_TAG = "#pi"
FRAGMENT_TAG = "#fragment"
_NON_TEXT_TAGS = (COMMENT_TAG, PI_TAG)


#: Global structural-mutation version, bumped whenever an element is
#: DETACHED from a tree (Node.remove, lib._remove_one). The executor
#: snapshots it at walk start: while unchanged, every materialized node
#: is still attached and the per-node reachability walk can be skipped
#: entirely (the common case — classification walks never detach).
#: False positives (bumps from other documents in the same process)
#: only cost extra checks, never correctness.
STRUCTURE_VERSION = 0


def mark_detached() -> None:
    global STRUCTURE_VERSION
    STRUCTURE_VERSION += 1


class Node:
    """A mutable DOM element: tag, attributes, text, tail, children."""

    __slots__ = ("tag", "attrib", "text", "tail", "children", "parent")

    def __init__(
        self,
        tag: str,
        attrib: Optional[dict] = None,
        text: Optional[str] = None,
        tail: Optional[str] = None,
    ) -> None:
        self.tag = tag
        self.attrib: dict = attrib if attrib is not None else {}
        self.text = text
        self.tail = tail
        self.children: list[Node] = []
        self.parent: Optional[Node] = None

    # -- structure ---------------------------------------------------

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def insert(self, index: int, child: "Node") -> None:
        child.parent = self
        self.children.insert(index, child)

    def remove(self, child: "Node") -> None:
        self.children.remove(child)
        child.parent = None
        mark_detached()

    def index(self, child: "Node") -> int:
        return self.children.index(child)

    def __iter__(self) -> Iterator["Node"]:
        return iter(self.children)

    def __len__(self) -> int:
        return len(self.children)

    # -- naming ------------------------------------------------------

    @property
    def namespace(self) -> Optional[str]:
        """Clark-notation namespace URI, or None ('{uri}local')."""
        if self.tag.startswith("{"):
            return self.tag[1 : self.tag.index("}")]
        return None

    @property
    def localname(self) -> str:
        if self.tag.startswith("{"):
            return self.tag[self.tag.index("}") + 1 :]
        return self.tag

    # -- text --------------------------------------------------------

    def itertext(self) -> Iterator[str]:
        """Document-order text: self.text, then each child's subtree
        text followed by that child's tail (ElementTree semantics).
        Comment/PI CONTENT is not document text, but their tails are
        (readability semantics — '<!-- c -->tail' keeps 'tail').
        Iterative — deep documents must not recurse."""
        stack: list[tuple[bool, "Node"]] = [(False, self)]
        while stack:
            is_tail, node = stack.pop()
            if is_tail:
                if node.tail:
                    yield node.tail
                continue
            if node.text and node.tag not in _NON_TEXT_TAGS:
                yield node.text
            for child in reversed(node.children):
                stack.append((True, child))
                stack.append((False, child))

    def full_text(self) -> str:
        return "".join(self.itertext())

    # -- copies ------------------------------------------------------

    def deepcopy(self) -> "Node":
        clone = Node(self.tag, dict(self.attrib), self.text, self.tail)
        stack = [(self, clone)]
        while stack:
            src, dst = stack.pop()
            dst_children = dst.children
            for child in src.children:
                c = Node(child.tag, dict(child.attrib), child.text, child.tail)
                c.parent = dst
                dst_children.append(c)
                if child.children:
                    stack.append((child, c))
        return clone

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Node {self.tag} attrib={self.attrib} children={len(self.children)}>"


def iter_subtree(node: Node) -> Iterator[Node]:
    """Preorder, left-to-right (the default traversal). Iterative —
    deep documents must not recurse."""
    stack = [node]
    while stack:
        current = stack.pop()
        yield current
        if current.children:
            stack.extend(reversed(current.children))
