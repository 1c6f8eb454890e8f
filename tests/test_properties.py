"""Property-based kernel tests (SURVEY.md §6.2 item 5): random small
DOMs → structural invariants of extraction, drop/unwrap, and parsing."""

import string

from hypothesis import given, settings, strategies as st

from inxs_spark.extract import text_with_spans
from inxs_spark.kernel import Node, Ref, Rule, Transformation, parse_xml, serialize
from inxs_spark.kernel import lib

TAGS = ("a", "b", "c", "keep", "x")
TEXT_ALPHABET = string.ascii_lowercase + " .,"

texts = st.one_of(st.none(), st.text(TEXT_ALPHABET, min_size=1, max_size=8))


@st.composite
def random_node(draw, depth=0):
    node = Node(
        draw(st.sampled_from(TAGS)),
        {k: draw(st.text(string.ascii_lowercase, min_size=1, max_size=4))
         for k in draw(st.lists(st.sampled_from(("id", "cls")), unique=True, max_size=2))},
        draw(texts),
    )
    if depth < 3:
        for child in draw(st.lists(random_node(depth=depth + 1), max_size=3)):
            child.tail = draw(texts)
            node.append(child)
    return node


@settings(max_examples=120, deadline=None)
@given(random_node())
def test_spans_tile_extracted_text_exactly(root):
    text, spans = text_with_spans(root)
    assert text == root.full_text()  # itertext semantics
    rebuilt = "".join(text[s:e] for s, e, _ in spans)
    assert rebuilt == text
    prev_end = 0
    for s, e, path in spans:
        assert s == prev_end and e > s  # contiguous tiling, nonempty
        assert path.startswith("/")
        prev_end = e
    assert prev_end == len(text)


@settings(max_examples=120, deadline=None)
@given(random_node())
def test_serialize_parse_roundtrip(root):
    # serialized XML re-parses to an identical tree (modulo nothing)
    payload = serialize(root)
    reparsed = parse_xml(payload)
    assert serialize(reparsed) == payload
    assert reparsed.full_text() == root.full_text()


@settings(max_examples=100, deadline=None)
@given(random_node())
def test_unwrap_preserves_full_text(root):
    """Unwrapping any tag never changes document-order text — the
    core text/tail-folding invariant of remove_elements(keep_children=
    True, preserve_text=True, preserve_tail=True)."""
    before = root.full_text()
    t = Transformation(
        Rule("x", (lib.append("v", Ref("element")),)),
        lib.remove_elements("v", keep_children=True, preserve_text=True,
                            preserve_tail=True),
        copy=True,
    )
    result = t(root)
    assert result.full_text() == before


@settings(max_examples=100, deadline=None)
@given(random_node())
def test_drop_removes_all_matching_subtree_text(root):
    """After dropping tag 'x' (no preserves), no x-subtree text segment
    survives unless it also appears elsewhere; and the result contains
    no 'x' elements at all."""
    t = Transformation(
        Rule("x", (lib.append("v", Ref("element")),)),
        lib.remove_elements("v"),
        copy=True,
    )
    result = t(root)
    from inxs_spark.kernel.nodes import iter_subtree

    if root.tag != "x":  # root drop clears in place, tag remains
        assert all(n.tag != "x" for n in iter_subtree(result))


@settings(max_examples=100, deadline=None)
@given(random_node())
def test_transformation_with_copy_never_mutates_input(root):
    before = serialize(root)
    t = Transformation(
        Rule("a", (lib.set_attribute("seen", "1"),)),
        Rule("b", (lib.append("v", Ref("element")),)),
        lib.remove_elements("v"),
    )
    t(root)
    assert serialize(root) == before


@settings(max_examples=100, deadline=None)
@given(random_node())
def test_traversal_orders_visit_same_node_set(root):
    from inxs_spark.kernel.traverse import (
        TRAVERSE_BOTTOM_TO_TOP,
        TRAVERSE_RIGHT_TO_LEFT,
        TRAVERSE_WIDTH_FIRST,
        DEFAULT_TRAVERSAL,
        traversal_nodes,
    )

    base = traversal_nodes(root, DEFAULT_TRAVERSAL)
    for order in (TRAVERSE_BOTTOM_TO_TOP, TRAVERSE_RIGHT_TO_LEFT,
                  TRAVERSE_WIDTH_FIRST):
        nodes = traversal_nodes(root, order)
        assert len(nodes) == len(base)
        assert {id(n) for n in nodes} == {id(n) for n in base}
    # preorder parent-before-child; postorder child-before-parent
    pos = {id(n): i for i, n in enumerate(base)}
    for n in base:
        for c in n.children:
            assert pos[id(n)] < pos[id(c)]
    post = traversal_nodes(root, TRAVERSE_BOTTOM_TO_TOP)
    pos_post = {id(n): i for i, n in enumerate(post)}
    for n in post:
        for c in n.children:
            assert pos_post[id(n)] > pos_post[id(c)]


# ---------------------------------------------------------------------------
# fuzz: the production invariant — extract_turn NEVER raises
# ---------------------------------------------------------------------------

_markup_chars = st.sampled_from(list("<>/=&;'\"abpt ![]-\n\té\U0001f389"))


@settings(max_examples=300, deadline=None)
@given(st.lists(_markup_chars, max_size=120).map("".join))
def test_extract_turn_never_raises_on_garbage(payload):
    from inxs_spark.extract import extract_turn

    text, spans, failure = extract_turn(payload)
    assert failure in (None, "parse_error", "payload_too_deep",
                       "payload_too_large", "transform_error")
    if failure is None and text:
        # spans index into the text and are monotonically increasing
        last = 0
        for s, e, _path in spans:
            assert 0 <= s <= e <= len(text)
            assert s >= last
            last = e


@settings(max_examples=150, deadline=None)
@given(st.lists(_markup_chars, max_size=120).map("".join))
def test_density_extract_never_raises_on_garbage(payload):
    from inxs_spark.heuristics import density_extract_turn

    _text, _spans, failure = density_extract_turn(payload)
    assert failure in (None, "parse_error", "payload_too_deep",
                       "payload_too_large", "transform_error")


# ---------------------------------------------------------------------------
# MAIN_CONTENT walk over the ElementTree ≡ declarative interpreter (extract.py)
# ---------------------------------------------------------------------------

_FLAGSHIP_TAGS = (
    "div", "p", "nav", "header", "footer", "aside", "script", "style",
    "iframe", "ref", "stdout", "td", "th", "tr", "table", "span", "meta",
    "{urn:x}meta", "{urn:x}keep",
)
_CLASSES = ("main", "ads", "x promo", "sidebar-wide", "content box")


@st.composite
def flagship_node(draw, depth=0):
    """Random DOMs over the tags/classes the flagship rules actually
    dispatch on — including namespaced tags and junk classes."""
    attrib = {}
    if draw(st.booleans()):
        attrib["class"] = draw(st.sampled_from(_CLASSES))
    if draw(st.booleans()):
        attrib["id"] = draw(st.text(string.ascii_lowercase, min_size=1, max_size=4))
    node = Node(draw(st.sampled_from(_FLAGSHIP_TAGS)), attrib, draw(texts))
    if depth < 4:
        for child in draw(st.lists(flagship_node(depth=depth + 1), max_size=3)):
            child.tail = draw(texts)
            node.append(child)
    return node


def _assert_walk_equals_interpreter(payloads):
    """The one-pass walk runs only for the ``MAIN_CONTENT`` object
    itself, so a fresh copy of the preset takes the generic path:
    Node copy, interpreter, ``text_with_spans``."""
    from inxs_spark.extract import extract_turn, main_content_transformation

    interpreter = main_content_transformation()
    for payload in payloads:
        assert extract_turn(payload) == extract_turn(payload, interpreter), payload


@settings(max_examples=250, deadline=None)
@given(flagship_node())
def test_main_content_walk_equals_interpreter_on_random_doms(root):
    _assert_walk_equals_interpreter([serialize(root)])


def test_main_content_walk_equals_interpreter_on_corpus():
    """Every synthetic payload kind through both paths, byte-equal."""
    from inxs_spark.sources import synth

    payloads = [synth.payload(o, t) for o in range(300)
                for t in range(min(synth.conv_length(o), 6))]
    assert len(payloads) > 1000
    _assert_walk_equals_interpreter(payloads)


_SOUP = (
    "<main><p>one.<p>two.<span>w</span></main>",
    "<ul><li>a<li>b<ref>[1]</ref>c<li>d</ul>tail",
    "<table><tr><td>a<td>b<tr><td>c<th>d</table>",
    "<div><p>a<!-- c -->b<br>c<?php echo 1 ?>d</div>",
    "<div class=ads>x</div><p>kept<script>s</script>after",
    "<div><stdout>o<td>t</stdout>u<nav>n</nav>v<p>w</div>",
    "<body><stdout><stdout>in<p>p</stdout>mid</stdout>end<footer>f",
    "<!-- lead --><section><h1>T</h1><p>a &amp b<iframe>i</iframe>c",
    "<DIV CLASS='Promo'>x</DIV><P>kept<STYLE>s</STYLE>t",
    "<doc><para>truncated <ref>r</ref>tail",
)


def test_main_content_walk_equals_interpreter_on_soup():
    """Tag soup (unclosed ``<p>``/``<li>``/``<td>``, comments, a PI)
    takes the ``HTMLParser``-driven ``TreeBuilder`` on both paths."""
    import xml.etree.ElementTree as ET

    import pytest

    for payload in _SOUP:
        with pytest.raises(ET.ParseError):
            ET.fromstring(payload)
    _assert_walk_equals_interpreter(_SOUP)


# ---------------------------------------------------------------------------
# trained-BPE tokenizer properties (round 5)
# ---------------------------------------------------------------------------

_words = st.text(alphabet="abcdef", min_size=1, max_size=8)


@settings(max_examples=60, deadline=None)
@given(
    st.dictionaries(_words, st.integers(1, 9), min_size=1, max_size=30),
    st.lists(_words, min_size=0, max_size=12),
)
def test_bpe_roundtrip_and_apply_equivalence(word_freqs, sample_words):
    """For ANY corpus: (a) decode(encode(text)) == text for any text
    over any words (trained or not); (b) the guarded apply equals the
    plain one-pass-per-merge-in-rank-order convention the SQL oracle
    replays; (c) token concatenation reconstructs word + EOW exactly
    (no token is ever lost or invented)."""
    from inxs_spark.operators.tokenizer import (
        EOW, BpeTokenizer, apply_merges, bpe_train_serial,
    )

    merges = bpe_train_serial(word_freqs, num_merges=24, min_pair_freq=2)
    tok = BpeTokenizer(merges, {c for w in word_freqs for c in w})
    text = " ".join(sample_words)
    assert tok.decode(tok.encode(text)) == " ".join(w for w in sample_words if w)

    def naive(word):
        syms = list(word) + [EOW]
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for w in list(word_freqs) + sample_words:
        got = apply_merges(w, merges)
        assert got == naive(w), (w, got)
        assert "".join(got) == w + EOW
