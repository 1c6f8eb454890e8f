"""DOM-heuristic main-content extraction (north_rule clause "DOM
heuristics", BASELINE.json:14): readability-style text-density scoring
that finds the main content container WITHOUT site-specific rules —
the complement to the declarative rule-set in :mod:`.extract`.

Score(node) = subtree_text_len × (1 − link_density) × depth_bonus,
maximized over container elements. The extractor is a kernel rule set,
``DENSITY``: it drops script/style/nav noise, and its last step picks
the winning container, which ``extract_turn`` reads into the same
(text, spans, failure) contract under the same failure guards — the
Spark plane is identical, only the rule set changes.
"""

from __future__ import annotations

from typing import Optional

from .extract import INLINE_JUNK_TAGS, extract_turn
from .kernel import lib
from .kernel.conditions import Any
from .kernel.nodes import Node
from .kernel.transformation import Ref, Rule, Transformation

CONTAINER_TAGS = frozenset(
    "div main article section body td li blockquote doc".split()
)
LINK_TAGS = frozenset({"a"})
# semantic boilerplate elements dropped before scoring — standard
# readability practice (header/footer/aside are layout, not content).
# Inline junk (script/style/...) preserves its TAIL: that text is body
# content (same split as extract.BOILERPLATE_TAGS vs INLINE_JUNK_TAGS)
NOISE_TAGS = ("nav", "form", "header", "footer", "aside")


def _subtree_stats(root: Node) -> dict[int, tuple[int, int]]:
    """id(node) → (total_text_len, link_text_len) for EVERY node, in
    one iterative postorder pass (O(n) — the naive per-candidate walk
    is O(n^2..n^3) and hangs on deep chains).

    own(n) = stripped len(n.text) + stripped len(children tails)
    total(n) = own(n) + Σ total(child)
    linked(n) = total(n) if n is a link else Σ linked(child)
    (a link ancestor claims its whole subtree — same set of segments
    the per-candidate ancestor walk counted)."""
    stats: dict[int, tuple[int, int]] = {}
    # iterative postorder: push (node, visited)
    stack: list[tuple[Node, bool]] = [(root, False)]
    while stack:
        node, visited = stack.pop()
        if not visited:
            stack.append((node, True))
            for child in node.children:
                stack.append((child, False))
            continue
        own = len((node.text or "").strip()) + sum(
            len((c.tail or "").strip()) for c in node.children
        )
        total = own
        linked = 0
        for c in node.children:
            ct, cl = stats[id(c)]
            total += ct
            linked += cl
        if node.tag in LINK_TAGS:
            linked = total
        stats[id(node)] = (total, linked)
    return stats


def _text_lengths(node: Node) -> tuple[int, int]:
    """(total_text_len, link_text_len) for the subtree."""
    return _subtree_stats(node)[id(node)]


def score(node: Node) -> float:
    total, linked = _text_lengths(node)
    if total == 0:
        return 0.0
    link_density = linked / total
    return total * (1.0 - link_density)


def pick_main_node(root: Node, tie_band: float = 0.75) -> Node:
    """Highest-scoring container; among nodes within ``tie_band`` of
    the best score, prefer the DEEPEST (an ancestor always scores at
    least as high as the child that holds the content — the band lets
    the tighter container win over <body>)."""
    # ONE O(n) stats pass scores every candidate; depths ride the same
    # walk (per-candidate subtree scoring is quadratic on deep trees)
    stats = _subtree_stats(root)
    depths: dict[int, int] = {id(root): 0}
    candidates: list[tuple[int, Node]] = []
    stack = [root]
    while stack:
        n = stack.pop()
        d = depths[id(n)]
        if n.tag in CONTAINER_TAGS or n is root:
            candidates.append((d, n))
        for child in reversed(n.children):
            depths[id(child)] = d + 1
            stack.append(child)
    if not candidates:
        return root

    def node_score(n: Node) -> float:
        total, linked = stats[id(n)]
        return total * (1.0 - linked / total) if total else 0.0

    scored = [(node_score(n), d, n) for d, n in candidates]
    best_score = max(s for s, _, _ in scored)
    if best_score <= 0:
        return root
    near_best = [(d, s, i, n) for i, (s, d, n) in enumerate(scored)
                 if s >= tie_band * best_score]
    near_best.sort(key=lambda t: (-t[0], -t[1], t[2]))
    return near_best[0][3]


#: the density extractor as a kernel rule set: drop the noise, then
#: the winning container is the result, which ``extract_turn`` walks
#: under the same guard chain as every other rule set
DENSITY = Transformation(
    [
        Rule(Any(*NOISE_TAGS), (lib.append("trash", Ref("element")),)),
        Rule(Any(*INLINE_JUNK_TAGS), (lib.append("inline_junk", Ref("element")),)),
    ],
    lib.remove_elements("trash"),
    lib.remove_elements("inline_junk", preserve_tail=True),
    pick_main_node,
    name="density-v1",
    copy=False,
    result_object="previous_result",
)


def density_extract_turn(
    payload: Optional[str],
) -> tuple[Optional[str], list[tuple[int, int, str]], Optional[str]]:
    """Per-turn heuristic extraction: ``extract_turn(payload, DENSITY)``,
    pluggable into the mapInArrow pipeline via
    ``extract_df(..., row_fn=density_extract_turn)``."""
    return extract_turn(payload, DENSITY)
