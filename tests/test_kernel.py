"""Kernel parity corpus — FIXTURES.md §3 (ten required cases) plus
parser and handler-library units. No Spark imports: this suite IS the
reconstructed reference pytest corpus (SURVEY.md §6.2 item 1); swap in
the real corpus when /root/reference is mounted (SURVEY.md §0, M7)."""

import operator

import pytest

from inxs_spark.kernel import (
    Any, HasLocalname, HasNamespace, If, MatchesXPath, Not, OneOf,
    AbortRule, AbortTransformation, SkipToNextElement,
    Node, Ref, Rule, Transformation,
    TRAVERSE_BOTTOM_TO_TOP, TRAVERSE_RIGHT_TO_LEFT, TRAVERSE_ROOT_ONLY,
    parse_html, parse_payload, parse_xml, serialize, sniff,
)
from inxs_spark.kernel import lib
from inxs_spark.extract import extract_turn, text_with_spans, MAIN_CONTENT


def X(payload):
    return parse_xml(payload)


# ---------------------------------------------------------------------------
# parsers
# ---------------------------------------------------------------------------

class TestParsers:
    def test_xml_text_tail_model(self):
        root = X("<a>t1<b>t2</b>tail1<c/>tail2</a>")
        assert root.text == "t1"
        b, c = root.children
        assert b.text == "t2" and b.tail == "tail1"
        assert c.text is None and c.tail == "tail2"
        assert root.full_text() == "t1t2tail1tail2"

    def test_html_implied_end_tags(self):
        root = parse_html("<ul><li>one<li>two<li>three</ul>")
        assert [c.text for c in root.children] == ["one", "two", "three"]

    def test_html_p_closed_by_block(self):
        # tag soup (unclosed <p>) takes the HTML5-ish builder: the
        # block element implies closing the open <p>
        root = parse_html("<div><p>para<div>inner</div></div>")
        p, inner = root.children
        assert p.tag == "p" and p.text == "para"
        assert inner.tag == "div" and inner.text == "inner"

    def test_wellformed_html_parses_as_written(self):
        # the parse contract: WELL-FORMED markup keeps its structure
        # verbatim (C-accelerated fast path); only soup gets HTML5
        # implied-end-tag repair
        root = parse_html("<div><p>para<div>inner</div></p></div>")
        (p,) = root.children
        assert p.tag == "p" and p.children[0].tag == "div"

    def test_html_void_elements(self):
        root = parse_html("<p>a<br>b<img src='x'>c</p>")
        assert root.full_text() == "abc"
        assert [c.tag for c in root.children] == ["br", "img"]

    def test_html_table_soup(self):
        root = parse_html("<table><tr><td>a<td>b<tr><td>c</table>")
        rows = root.children
        assert [r.tag for r in rows] == ["tr", "tr"]
        assert [c.text for c in rows[0].children] == ["a", "b"]
        assert rows[1].children[0].text == "c"

    def test_comment_and_pi_nodes(self):
        """Comment/PI nodes stay in the tree with lxml tail semantics:
        content is NOT body text, the tail IS; serialization round-trips;
        '*' never matches them; the literal tag ('#comment') does."""
        from inxs_spark.extract import extract_turn
        from inxs_spark.kernel import Ref, Rule, Transformation, lib
        from inxs_spark.kernel.nodes import COMMENT_TAG, PI_TAG
        from inxs_spark.kernel.parse import serialize
        from inxs_spark.kernel.xpath import xpath_all

        # XML path
        root = X("<a>x<!-- c -->tail<?tgt data?>after</a>")
        kinds = [c.tag for c in root.children]
        assert kinds == [COMMENT_TAG, PI_TAG]
        assert root.children[0].text == " c " and root.children[0].tail == "tail"
        assert root.children[1].attrib["target"] == "tgt"
        assert root.full_text() == "xtailafter"
        assert serialize(root) == "<a>x<!-- c -->tail<?tgt data?>after</a>"
        # HTML soup path
        soup = parse_html("<div><p>a<!-- c -->b<br></div>")
        p = soup.children[0]
        assert p.children[0].tag == COMMENT_TAG and p.children[0].tail == "b"
        # extraction: comment content never leaks; tails survive
        t, s, f = extract_turn("<article><p>a<!-- secret -->tail</p>b</article>")
        assert f is None and t == "atailb" and "secret" not in t
        # '*' and xpath name tests skip non-elements
        root = X("<a><!-- c --><b/></a>")
        assert [n.tag for n in xpath_all(root, ".//*")] == ["b"]
        # explicit '#comment' rule strips comments
        strip = Transformation(
            Rule(COMMENT_TAG, (lib.append("trash", Ref("element")),)),
            lib.remove_elements("trash", preserve_tail=True),
            name="strip-comments", copy=False, result_object="tree",
        )
        root = X("<div>x<!-- c -->tail</div>")
        assert serialize(strip(root)) == "<div>xtail</div>"

    def test_adversarial_tag_soup(self):
        """Web-soup contract pins (round-2 fixture pass). The engine's
        guarantee is TEXT-PRESERVATION, not HTML5 tree-identity: every
        character of author text must survive into full_text()/
        extraction, while tree shape may diverge from a browser in the
        documented ways below."""
        from inxs_spark.extract import extract_turn

        # (payload, required extracted text)
        cases = [
            # misnested formatting: stdlib keeps nesting (no HTML5
            # adoption agency), text intact
            ("<b><i>bi</b>it</i>pl", "biitpl"),
            # unclosed table: closed at </table>, tail survives
            ("<table><tr><td>cell</table>after", "cell\t\nafter"),
            # foster parenting NOT implemented: loose table text stays
            # inside the table (a browser would hoist it before) — text
            # survives either way, which is the extraction contract
            ("<table>loose<tr><td>c</td></tr></table>", "loosec\t\n"),
            # stray / unmatched end tags are ignored
            ("<li>item</li></li><li>two", "itemtwo"),
            ("<div>x</span>y</div>", "xy"),
            # nested anchors: stdlib nests (browser would sibling) —
            # text intact
            ("<a href=x>l1<a href=y>l2</a>", "l1l2"),
            # tags outside the sniffer hint list still soup-parse
            ("<select><option>a<option>b</select>", "ab"),
            # malformed close tag: '</p three' read as data (stdlib
            # tokenizer) — no text loss, junk visible
            ("<p>one<p>two</p three", "onetwo</p three"),
            # <td> without <tr>
            ("<table><td>x</table>", "x\t"),
        ]
        for payload, want in cases:
            text, _spans, fail = extract_turn(payload)
            assert fail is None, (payload, fail)
            assert text == want, (payload, text, want)

    def test_sniff(self):
        assert sniff(None) == "empty"
        assert sniff("   \n") == "empty"
        assert sniff("plain words") == "text"
        assert sniff("<html><body>x</body></html>") == "html"
        assert sniff("<doc><x/></doc>") == "xml"
        assert sniff("<?xml version='1.0'?><a/>") == "xml"

    def test_serialize_roundtrip(self):
        payload = '<a k="v">t<b>x</b>tail</a>'
        assert serialize(X(payload)) == payload


# ---------------------------------------------------------------------------
# FIXTURES.md §3 case 1: tag-name rule + previous_result threading
# ---------------------------------------------------------------------------

def test_case1_handler_chain_previous_result():
    seen = []

    def shout(previous_result):
        return previous_result.upper()

    def record(previous_result):
        seen.append(previous_result)
        return previous_result

    t = Transformation(Rule("p", (lib.get_text, shout, record)))
    t(X("<d><p>one</p><q>skip</q><p>two</p></d>"))
    assert seen == ["ONE", "TWO"]


# ---------------------------------------------------------------------------
# case 2: '*' and '/' conditions; traversal orders incl. drop-safe
# ---------------------------------------------------------------------------

def test_case2_star_and_root_conditions():
    tags = []
    t = Transformation(
        Rule("/", (lambda element: tags.append("ROOT:" + element.tag),)),
        Rule("*", (lambda element: tags.append(element.tag),)),
    )
    t(X("<a><b/><c><d/></c></a>"))
    assert tags == ["ROOT:a", "a", "b", "c", "d"]


def test_case2_traversal_orders():
    doc = "<a><b><x/></b><c/></a>"
    order = []
    Transformation(
        Rule("*", (lambda element: order.append(element.tag),),
             traversal_order=TRAVERSE_BOTTOM_TO_TOP)
    )(X(doc))
    assert order == ["x", "b", "c", "a"]

    order = []
    Transformation(
        Rule("*", (lambda element: order.append(element.tag),),
             traversal_order=TRAVERSE_RIGHT_TO_LEFT)
    )(X(doc))
    assert order == ["a", "c", "b", "x"]

    order = []
    Transformation(
        Rule("*", (lambda element: order.append(element.tag),),
             traversal_order=TRAVERSE_ROOT_ONLY)
    )(X(doc))
    assert order == ["a"]


def test_case2_bottom_up_drop_is_safe():
    t = Transformation(
        Rule("junk", (lib.drop_element(),), traversal_order=TRAVERSE_BOTTOM_TO_TOP),
        copy=False,
    )
    root = X("<a><junk><junk/></junk><p>keep</p></a>")
    result = t(root)
    assert serialize(result) == "<a><p>keep</p></a>"


# ---------------------------------------------------------------------------
# case 3: XPath-subset condition
# ---------------------------------------------------------------------------

def test_case3_xpath_condition():
    hit = []
    t = Transformation(
        Rule(MatchesXPath(".//p[@class='x']"),
             (lambda element: hit.append(element.text),))
    )
    t(X("<d><p class='x'>yes</p><p class='y'>no</p><s><p class='x'>deep</p></s></d>"))
    assert hit == ["yes", "deep"]


def test_case3_xpath_string_shorthand():
    hit = []
    t = Transformation(
        Rule(".//b/c", (lambda element: hit.append(element.text),))
    )
    t(X("<a><b><c>in</c></b><c>out</c></a>"))
    assert hit == ["in"]


# ---------------------------------------------------------------------------
# case 4: attribute-dict condition; Any/Not/OneOf combinators
# ---------------------------------------------------------------------------

def test_case4_attribute_dict_condition():
    import re
    hit = []
    t = Transformation(
        Rule({"class": re.compile(r"\bads\b")},
             (lambda element: hit.append(element.tag),))
    )
    t(X("<d><div class='ads banner'/><div class='content'/><span class='ads'/></d>"))
    assert hit == ["div", "span"]


def test_case4_combinators():
    doc = X("<d><a/><b/><c/><ab/></d>")

    def collect(cond):
        out = []
        Transformation(Rule(cond, (lambda element: out.append(element.tag),)))(doc)
        return out

    assert collect(Any("a", "b")) == ["a", "b"]
    assert collect(Not("a", "b", "d")) == ["c", "ab"]
    # OneOf: exactly one sub-condition matches
    assert collect(OneOf("a", Any("a", "b"))) == ["b"]


def test_case4_namespace_conditions():
    doc = X('<d:doc xmlns:d="urn:x"><d:keep>k</d:keep><plain>p</plain></d:doc>')
    out = []
    Transformation(
        Rule(HasNamespace("urn:x"), (lambda element: out.append(element.localname),))
    )(doc)
    assert out == ["doc", "keep"]
    out = []
    Transformation(
        Rule(HasLocalname("keep"), (lambda element: out.append(element.tag),))
    )(doc)
    assert out == ["{urn:x}keep"]


def test_case4_if_condition():
    out = []
    t = Transformation(
        Rule(("p", If(Ref("mode"), operator.eq, "strict")),
             (lambda element: out.append(element.text),)),
        context={"mode": "strict"},
    )
    t(X("<d><p>yes</p></d>"))
    assert out == ["yes"]
    out = []
    t(X("<d><p>no</p></d>"), mode="lax")
    assert out == []


# ---------------------------------------------------------------------------
# case 5: drop vs unwrap with text/tail folding — hardest parity surface
# ---------------------------------------------------------------------------

class TestCase5DropUnwrap:
    def _run(self, payload, **kw):
        el = Ref("element")
        t = Transformation(
            Rule("x", (lib.append("victims", el),)),
            lib.remove_elements("victims", **kw),
            copy=False,
        )
        return serialize(t(parse_xml(payload)))

    def test_plain_drop_loses_tail(self):
        assert self._run("<a>t1<x>xx</x>tail</a>") == "<a>t1</a>"

    def test_drop_preserve_tail_first_child(self):
        assert self._run("<a>t1<x>xx</x>tail</a>", preserve_tail=True) == "<a>t1tail</a>"

    def test_drop_preserve_tail_folds_to_prev_sibling_tail(self):
        # lxml convention (cf. drop_tag): preserved tail is appended to
        # the PRECEDING SIBLING's tail, not its text
        assert (
            self._run("<a><b>b</b><x/>tail</a>", preserve_tail=True)
            == "<a><b>b</b>tail</a>"
        )

    def test_drop_preserve_text(self):
        assert (
            self._run("<a><x>xx<c/></x>end</a>", preserve_text=True)
            == "<a>xx</a>"
        )

    def test_unwrap_splices_children_and_folds_text(self):
        assert (
            self._run("<a>A<x>xt<b>bb</b>bt</x>xtail<c/></a>", keep_children=True)
            == "<a>Axt<b>bb</b>btxtail<c/></a>"
        )

    def test_unwrap_childless_folds_text_and_tail(self):
        assert (
            self._run("<a>A<x>xt</x>xtail</a>", keep_children=True)
            == "<a>Axtxtail</a>"
        )

    def test_drop_root_clears_document(self):
        el = Ref("element")
        t = Transformation(
            Rule("a", (lib.append("victims", el),)),
            lib.remove_elements("victims"),
            copy=False,
        )
        assert serialize(t(parse_xml("<a>t<b/></a>"))) == "<a/>"


# ---------------------------------------------------------------------------
# case 6: put_variable / get_variable + Ref late binding
# ---------------------------------------------------------------------------

def test_case6_variables_and_ref():
    t = Transformation(
        lib.put_variable("title", value="fallback"),
        Rule("h1", (lib.get_text, lib.put_variable("title"))),
        lib.get_variable("title"),
        lib.put_variable("result", value=Ref("title")),
        result_object="context.result",
    )
    assert t(X("<d><h1>Heading</h1></d>")) == "Heading"
    assert t(X("<d><p>no heading</p></d>")) == "fallback"


def test_case6_context_kwargs_override():
    t = Transformation(
        lib.get_variable("greeting"),
        result_object="previous_result",
        context={"greeting": "hello"},
    )
    assert t(X("<a/>")) == "hello"
    assert t(X("<a/>"), greeting="hi") == "hi"


# ---------------------------------------------------------------------------
# case 7: grouped rules in one traversal; DI handler dispatch
# ---------------------------------------------------------------------------

def test_case7_grouped_rules_single_traversal():
    events = []
    group = [
        Rule("a", (lambda element: events.append(("r1", element.tag)),)),
        Rule("*", (lambda element: events.append(("r2", element.tag)),)),
    ]
    Transformation(group)(X("<d><a/><b/></d>"))
    # one traversal: each element sees every rule before the next element
    assert events == [("r2", "d"), ("r1", "a"), ("r2", "a"), ("r2", "b")]


def test_case7_di_dispatch_by_param_name():
    captured = {}

    def handler(element, root, context, config, transformation, previous_result):
        captured.update(
            element=element.tag, root=root.tag,
            has_ctx=hasattr(context, "k"), cfg=config.name,
            tname=transformation.name, prev=previous_result,
        )

    t = Transformation(Rule("b", (lib.get_text, handler)),
                       name="tname", context={"k": 1})
    t(X("<a><b>btext</b></a>"))
    assert captured == dict(
        element="b", root="a", has_ctx=True, cfg="tname",
        tname="tname", prev="btext",
    )


def test_case7_di_unresolvable_symbol_raises():
    def bad(nonexistent_symbol):
        pass

    t = Transformation(Rule("a", (bad,)))
    with pytest.raises(KeyError):
        t(X("<a/>"))


def test_case7_di_default_used_when_unresolvable():
    out = []

    def h(element, missing="dflt"):
        out.append(missing)

    Transformation(Rule("a", (h,)))(X("<a/>"))
    assert out == ["dflt"]


# ---------------------------------------------------------------------------
# case 8: flow control
# ---------------------------------------------------------------------------

def test_case8_skip_to_next_element():
    out = []

    def guard(element):
        if element.text == "skip":
            raise SkipToNextElement

    t = Transformation(Rule("p", (guard, lambda element: out.append(element.text))))
    t(X("<d><p>a</p><p>skip</p><p>b</p></d>"))
    assert out == ["a", "b"]


def test_case8_abort_rule():
    out = []

    def stop_at_b(element):
        if element.text == "b":
            raise AbortRule

    t = Transformation(
        Rule("p", (stop_at_b, lambda element: out.append(element.text))),
        Rule("q", (lambda element: out.append("q:" + element.text),)),
    )
    t(X("<d><p>a</p><p>b</p><p>c</p><q>next</q></d>"))
    # rule aborted at 'b' (handler chain cut, rule retired); next step runs
    assert out == ["a", "q:next"]


def test_case8_abort_transformation():
    out = []

    def stop(element):
        raise AbortTransformation

    t = Transformation(
        Rule("stop", (stop,)),
        Rule("p", (lambda element: out.append(element.text),)),
        lib.put_variable("done", value=True),
        result_object="context",
    )
    ctx = t(X("<d><stop/><p>never</p></d>"))
    assert out == []
    assert not hasattr(ctx, "done")  # later steps skipped
    # ... but a result IS produced (the context namespace)


# ---------------------------------------------------------------------------
# case 9: extract text + spans — document-order itertext semantics
# ---------------------------------------------------------------------------

def test_case9_spans_index_into_text():
    root = X("<a>t1<b>t2<c>t3</c>c-tail</b>b-tail</a>")
    text, spans = text_with_spans(root)
    assert text == "t1t2t3c-tailb-tail"
    for start, end, path in spans:
        assert 0 <= start < end <= len(text)
    # spans tile the text exactly, in order
    assert spans[0] == (0, 2, "/a")
    assert [text[s:e] for s, e, _ in spans] == ["t1", "t2", "t3", "c-tail", "b-tail"]
    assert [p for _, _, p in spans] == ["/a", "/a/b", "/a/b/c", "/a/b/c", "/a/b"]


def test_case9_extract_turn_contract():
    assert extract_turn(None) == ("", [], None)
    assert extract_turn("  \n") == ("", [], None)
    text, spans, fail = extract_turn("plain")
    assert (text, fail) == ("plain", None) and spans == [(0, 5, "/")]
    # truncated markup RECOVERS via the tag-soup fallback (round 2:
    # web-scale soup without html-hint tags must still extract) …
    text, spans, fail = extract_turn("<doc><para>oops")
    assert (text, fail) == ("oops", None)
    # … but an explicit <?xml?> declaration opts out of soup recovery:
    # real XML fails loudly
    text, spans, fail = extract_turn('<?xml version="1.0"?><doc>&#xZZ;x</doc>')
    assert text is None and fail == "parse_error"


# ---------------------------------------------------------------------------
# case 10: wikipedia-article and table-extraction end-to-end shapes
# ---------------------------------------------------------------------------

def test_case10_wikipedia_shape():
    payload = (
        "<article><header>SiteNav | Login</header>"
        "<p>Alpha is a letter.<ref>[1]</ref> It is first.</p>"
        "<p>Beta follows<ref>[2]</ref>.</p>"
        "<footer>Categories: letters</footer></article>"
    )
    text, spans, fail = extract_turn(payload)
    assert fail is None
    assert text == "Alpha is a letter. It is first.Beta follows."
    assert all(text[s:e] for s, e, _ in spans)


def test_case10_table_extraction_shape():
    payload = (
        "<table><tr><th>name</th><th>qty</th></tr>"
        "<tr><td>bolt</td><td>7</td></tr>"
        "<tr><td>nut</td><td>3</td></tr></table>"
    )
    text, _, fail = extract_turn(payload)
    assert fail is None
    assert text == "name\tqty\t\nbolt\t7\t\nnut\t3\t\n"


def test_case10_table_records_via_context_append():
    """table → records accumulated on context (append-to-context
    accumulation, the reference's table-extraction example shape)."""
    el = Ref("element")

    def cells(element):
        return tuple(c.full_text() for c in element.children)

    t = Transformation(
        Rule("tr", (cells, lib.append("records"))),
        lib.put_variable("records", value=Ref("records")),
        result_object="context.records",
    )
    records = t(X("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"))
    assert records == [("a", "b"), ("c", "d")]


# ---------------------------------------------------------------------------
# lib extras
# ---------------------------------------------------------------------------

class TestLibExtras:
    def test_attributes_handlers(self):
        root = X('<a k="1" drop="x" old="o"/>')
        t = Transformation(
            Rule("a", (
                lib.set_attribute("n", "new"),
                lib.strip_attributes("drop"),
                lib.rename_attributes({"old": "new_name"}),
            )),
            copy=False,
        )
        t(root)
        assert root.attrib == {"k": "1", "n": "new", "new_name": "o"}

    def test_pop_attribute_returns_value(self):
        out = []
        t = Transformation(
            Rule("a", (lib.pop_attribute("k"), lambda previous_result: out.append(previous_result)))
        )
        t(X('<a k="7"/>'))
        assert out == ["7"]

    def test_set_localname(self):
        root = parse_xml('<d:doc xmlns:d="urn:x"><d:x/></d:doc>')
        t = Transformation(Rule(HasLocalname("x"), (lib.set_localname("y"),)), copy=False)
        t(root)
        assert root.children[0].tag == "{urn:x}y"

    def test_drop_siblings(self):
        root = X("<a>pre<b/><main>m</main><c/>post</a>")
        t = Transformation(
            Rule("main", (lib.drop_siblings("left"), lib.drop_siblings("right"))),
            copy=False,
        )
        t(root)
        assert serialize(root) == "<a><main>m</main></a>"

    def test_html_classes(self):
        root = X('<a class="x y"/>')
        Transformation(Rule("a", (lib.add_html_classes("z", "x"),)), copy=False)(root)
        assert root.attrib["class"] == "x y z"
        Transformation(Rule("a", (lib.remove_html_classes("x", "z"),)), copy=False)(root)
        assert root.attrib["class"] == "y"

    def test_concatenate_and_f(self):
        t = Transformation(
            lib.put_variable("who", value="world"),
            lib.concatenate("hello ", Ref("who")),
            lib.put_variable("greeting"),
            lib.f(str.upper, Ref("greeting")),
            result_object="previous_result",
        )
        assert t(X("<a/>")) == "HELLO WORLD"

    def test_sorter(self):
        t = Transformation(
            Rule("i", (lib.get_text, lib.append("vals"))),
            lib.sorter("vals"),
            result_object="context.vals",
        )
        assert t(X("<d><i>b</i><i>a</i><i>c</i></d>")) == ["a", "b", "c"]

    def test_text_predicates(self):
        doc = X("<d><p>alpha</p><p>beta</p></d>")
        out = []
        Transformation(
            Rule(("p", lib.has_matching_text(r"^al")), (lib.get_text, lib.append("m"))),
            result_object="context.m",
        )(doc)

    def test_copy_semantics(self):
        root = X("<a><b>x</b></a>")
        el = Ref("element")
        t = Transformation(
            Rule("b", (lib.append("v", el),)), lib.remove_elements("v")
        )  # copy=True default
        result = t(root)
        assert serialize(root) == "<a><b>x</b></a>"  # input untouched
        assert serialize(result) == "<a/>"

    def test_fingerprint_stable_and_sensitive(self):
        a = MAIN_CONTENT.fingerprint()
        from inxs_spark.extract import main_content_transformation
        assert a == main_content_transformation().fingerprint()
        other = Transformation(Rule("p", (lib.get_text,)))
        assert a != other.fingerprint()


def test_inline_junk_tail_survives():
    """script/style/noscript/iframe sit mid-flow: their CONTENT is
    junk, their TAIL is body text (readability semantics)."""
    from inxs_spark.extract import extract_turn

    t, _, f = extract_turn("<div><script>if (a<b) {x}</script>keep</div>")
    assert (t, f) == ("keep", None)
    t, _, f = extract_turn("<div>pre <style>p {}</style>post</div>")
    assert (t, f) == ("pre post", None)


def test_structural_boilerplate_tail_dropped():
    """nav/header/footer are layout containers: the stray text after
    them is layout junk and goes with them."""
    from inxs_spark.extract import extract_turn

    t, _, f = extract_turn("<body><nav>m</nav>layout-junk<p>body</p></body>")
    assert (t, f) == ("body", None)


def test_inline_tag_soup_sniffs_as_html():
    """b/i/a/em soup must route to the tag-soup parser, not fail as
    XML (common in real-world fragments)."""
    from inxs_spark.extract import extract_turn

    t, _, f = extract_turn("<b><i>x</b></i>done")
    assert f is None and t == "xdone"
    t, _, f = extract_turn('<a href="/y">link</a> trail')
    assert f is None and t == "link trail"


def test_deep_payloads_extract():
    """3,000 levels parse and extract on every path: a well-formed
    ``<div>`` chain, a ``<stdout>`` chain that unwraps into its root and
    an unclosed chain that takes the tag-soup parser. Every walk is
    iterative."""
    deep = 3000
    assert extract_turn("<div>" * deep + "x" + "</div>" * deep) == (
        "x", [(0, 1, "/div" * deep)], None)
    assert extract_turn("<stdout>" * deep + "x" + "</stdout>" * deep) == (
        "x", [(0, 1, "/stdout")], None)
    assert extract_turn("<div>" * deep + "x") == ("x", [(0, 1, "/div" * deep)], None)


def test_extract_turn_leaves_no_cyclic_garbage():
    """A turn's trees are freed by reference counting alone: no
    ``Node`` parent/child cycles on the MAIN_CONTENT path, for
    well-formed payloads, tag soup and parse failures alike."""
    import gc

    from inxs_spark.kernel.parse import sniff
    from inxs_spark.sources import synth

    payloads = [synth.payload(o, t) for o in range(300)
                for t in range(min(synth.conv_length(o), 6))]
    failures = [extract_turn(p)[2] for p in payloads]  # warm-up
    assert "parse_error" in failures
    assert any(sniff(p) == "xml" and p.startswith("<doc><para>") for p in payloads)
    assert any("<p>" in p and "</p>" not in p for p in payloads)
    gc.collect()
    gc.disable()
    try:
        for p in payloads:
            extract_turn(p)
        assert gc.collect() == 0
    finally:
        gc.enable()


def test_turn_extractor_keeps_the_walk_through_pickling():
    """Spark ships the row function to its workers with cloudpickle. An
    unpickled copy of MAIN_CONTENT is not MAIN_CONTENT and would take
    the generic interpreter, so the preset ships as ``extract_turn``
    itself, pickled by reference."""
    from pyspark import cloudpickle

    from inxs_spark.extract import main_content_transformation, turn_extractor

    def shipped(obj):
        return cloudpickle.loads(cloudpickle.dumps(obj))

    assert shipped(MAIN_CONTENT) is not MAIN_CONTENT
    assert shipped(turn_extractor(MAIN_CONTENT)) is extract_turn
    payload = "<p>a<nav>n</nav>b<stdout>c</stdout></p>"
    other = main_content_transformation()
    assert shipped(turn_extractor(other))(payload) == extract_turn(payload, other) == (
        "ac", [(0, 2, "/p")], None)
