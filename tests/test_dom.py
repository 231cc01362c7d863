"""DOM adjacency-array construction, text extraction, and serialization.

The DOM contract mirrors domhandler's tree semantics
(/root/reference/src/index.ts:32-36; snapshot shapes in
src/__snapshots__/index.spec.ts.snap) re-expressed as flat adjacency
arrays (SURVEY.md §1.3) for Spark explodability.
"""

from __future__ import annotations

from htmlparser2_spark.engine.dom import (
    clean_text,
    parse_document,
    serialize,
    text_content,
)


def by_name(nodes, name):
    return [n for n in nodes if n["name"] == name]


def test_basic_tree_shape():
    nodes = parse_document(
        "<!DOCTYPE html><html><title>The Title</title><body>Hello world</body></html>"
    )
    assert nodes[0]["type"] == "directive"
    assert nodes[0]["name"] == "!doctype"
    html = by_name(nodes, "html")[0]
    assert html["parent_id"] == -1
    title = by_name(nodes, "title")[0]
    body = by_name(nodes, "body")[0]
    assert title["parent_id"] == html["node_id"]
    assert body["parent_id"] == html["node_id"]
    assert title["idx_in_parent"] == 0 and body["idx_in_parent"] == 1
    texts = [n for n in nodes if n["type"] == "text"]
    assert [t["data"] for t in texts] == ["The Title", "Hello world"]
    assert text_content(nodes) == "The TitleHello world"


def test_attributes_and_quotes():
    nodes = parse_document('<a href="x" id=\'y\' name=z disabled>t</a>')
    a = by_name(nodes, "a")[0]
    assert a["attrs"] == {"href": "x", "id": "y", "name": "z", "disabled": ""}
    assert a["attr_quotes"] == {
        "href": '"',
        "id": "'",
        "name": "unquoted",
        "disabled": "none",
    }


def test_script_style_types_and_text_content():
    nodes = parse_document("<script>var a=1;</script><style>p{}</style><p>x</p>")
    assert by_name(nodes, "script")[0]["type"] == "script"
    assert by_name(nodes, "style")[0]["type"] == "style"
    # textContent includes raw-text bodies (DomUtils semantics).
    assert text_content(nodes) == "var a=1;p{}x"
    # clean_text drops script/style subtrees and squeezes whitespace.
    assert clean_text(nodes) == "x"


def test_clean_text_whitespace_and_nesting():
    nodes = parse_document(
        "<div>\n  <p>Hello   <b>world</b></p>\n <script>skip()</script> <p>again</p></div>"
    )
    assert clean_text(nodes) == "Hello world again"


def test_cdata_nodes():
    nodes = parse_document("<x><![CDATA[a<b]]></x>", xml_mode=True)
    cdata = [n for n in nodes if n["type"] == "cdata"][0]
    inner = [n for n in nodes if n["parent_id"] == cdata["node_id"]]
    assert inner[0]["type"] == "text" and inner[0]["data"] == "a<b"
    assert text_content(nodes) == "a<b"


def test_adjacent_text_merged():
    # Entities split text at the tokenizer level; the DOM merges them.
    nodes = parse_document("<p>a&amp;b</p>")
    texts = [n for n in nodes if n["type"] == "text"]
    assert len(texts) == 1
    assert texts[0]["data"] == "a&b"


def test_directive_ends_text_run():
    """A directive ends the open text run, like every other node (each
    new node ends a domhandler text run): the text after it is a new
    node, so the DOM keeps document order."""
    doc = "a<!DOCTYPE html>b"
    nodes = parse_document(doc)
    assert [
        (n["type"], n["data"], n["start_index"], n["end_index"],
         n["idx_in_parent"])
        for n in nodes
    ] == [
        ("text", "a", 0, 0, 0),
        ("directive", "!DOCTYPE html", 1, 15, 1),
        ("text", "b", 16, 16, 2),
    ]
    assert serialize(nodes) == doc
    xml = parse_document("a<?x y?>b", xml_mode=True)
    assert [(n["type"], n["data"]) for n in xml] == [
        ("text", "a"), ("directive", "?x y"), ("text", "b"),
    ]


def test_start_end_indices():
    doc = "<p>hi</p>"
    nodes = parse_document(doc)
    p = by_name(nodes, "p")[0]
    assert p["start_index"] == 0
    assert p["end_index"] == 8
    text = [n for n in nodes if n["type"] == "text"][0]
    assert doc[text["start_index"] : text["end_index"] + 1] == "hi"


def test_implied_structure():
    nodes = parse_document("<ul><li>a<li>b</ul>")
    lis = by_name(nodes, "li")
    assert len(lis) == 2
    ul = by_name(nodes, "ul")[0]
    assert all(li["parent_id"] == ul["node_id"] for li in lis)


def test_serialize_roundtrip_shapes():
    nodes = parse_document('<div class="a"><p>x &amp; y</p><br><!--c--></div>')
    out = serialize(nodes)
    assert out == '<div class="a"><p>x &amp; y</p><br><!--c--></div>'
    # Round-trip: reparsing the serialization yields the same text content.
    assert text_content(parse_document(out)) == text_content(nodes)


def test_serialize_xml_self_closing():
    nodes = parse_document("<a><b/></a>", xml_mode=True)
    assert serialize(nodes, xml_mode=True) == "<a><b/></a>"


def test_serialize_preserves_raw_script():
    nodes = parse_document("<script>if (a<b) x();</script>")
    assert serialize(nodes) == "<script>if (a<b) x();</script>"


# --- ported from /root/reference/src/index.spec.ts (+ .snap:19-55) ---

def test_parse_document_nested_unclosed():
    # "<a foo><b><c><?foo>Yay!" -> a > b > c > [comment "?foo", text]
    nodes = parse_document("<a foo><b><c><?foo>Yay!")
    a = by_name(nodes, "a")[0]
    b = by_name(nodes, "b")[0]
    c = by_name(nodes, "c")[0]
    assert a["attrs"] == {"foo": ""}
    assert a["parent_id"] == -1
    assert b["parent_id"] == a["node_id"]
    assert c["parent_id"] == b["node_id"]
    kids = [n for n in nodes if n["parent_id"] == c["node_id"]]
    assert [k["type"] for k in kids] == ["comment", "text"]
    assert kids[0]["data"] == "?foo"
    assert kids[1]["data"] == "Yay!"


def test_parse_document_foreign_cdata():
    # "<svg><![CDATA[a<b]]></svg>" -> svg > text "a<b" (foreign context)
    nodes = parse_document("<svg><![CDATA[a<b]]></svg>")
    svg = by_name(nodes, "svg")[0]
    kids = [n for n in nodes if n["parent_id"] == svg["node_id"]]
    assert len(kids) == 1
    assert kids[0]["type"] == "text" and kids[0]["data"] == "a<b"


def test_document_stream_equivalent():
    # "&amp;This is text<!-- and comments --><tags>" -> text, comment, tag
    nodes = parse_document("&amp;This is text<!-- and comments --><tags>")
    roots = [n for n in nodes if n["parent_id"] == -1]
    assert [n["type"] for n in roots] == ["text", "comment", "tag"]
    assert roots[0]["data"] == "&This is text"
    assert roots[1]["data"] == " and comments "
    assert roots[2]["name"] == "tags"


def test_inner_text_semantics():
    """innerText: script/style subtrees skipped, <br> -> newline,
    RCDATA (textarea) text kept; contrast textContent which includes
    rawtext bodies."""
    from htmlparser2_spark.engine.dom import inner_text, parse_document, text_content

    doc = ("<div>Hello<br>world<script>var x;</script>"
           "<style>p{}</style><textarea>T</textarea> tail</div>")
    nodes = parse_document(doc)
    assert inner_text(nodes) == "Hello\nworldT tail"
    assert text_content(nodes) == "Helloworldvar x;p{}T tail"


def test_inner_html_of():
    """getInnerHTML: children serialized without the element's own tag
    (reference surface: /root/reference/README.md:166-218)."""
    from htmlparser2_spark.engine.dom import inner_html_of, parse_document

    nodes = parse_document('<div id="x"><p>a &amp; b</p><br>tail</div>')
    div = next(n for n in nodes if n["name"] == "div")
    assert inner_html_of(nodes, div["node_id"]) == "<p>a &amp; b</p><br>tail"
    p = next(n for n in nodes if n["name"] == "p")
    assert inner_html_of(nodes, p["node_id"]) == "a &amp; b"
    # Whole document via the root sentinel keeps getOuterHTML semantics.
    assert inner_html_of(nodes, -1) == '<div id="x"><p>a &amp; b</p><br>tail</div>'


def test_ancestors_option():
    """with_ancestors records the open-element id stack, root-first."""
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.parser import Parser

    h = DomArrayHandler(with_indices=False, with_ancestors=True)
    p = Parser(h)
    p.parse("<div><ul><li>a</li><li>b</li></ul></div><p>c</p>")
    by_id = {n["node_id"]: n for n in h.nodes}
    names = {n["node_id"]: n["name"] for n in h.nodes}
    li_ids = [i for i, n in names.items() if n == "li"]
    div_id = next(i for i, n in names.items() if n == "div")
    ul_id = next(i for i, n in names.items() if n == "ul")
    for li in li_ids:
        assert by_id[li]["ancestors"] == [div_id, ul_id]
    p_id = next(i for i, n in names.items() if n == "p")
    assert by_id[p_id]["ancestors"] == []
    # text node under li inherits the li in its stack
    text_a = next(n for n in h.nodes if n["data"] == "a")
    assert text_a["ancestors"] == [div_id, ul_id, li_ids[0]]
    # default handler emits no ancestors key at all
    h2 = DomArrayHandler(with_indices=False)
    Parser(h2).parse("<p>x</p>")
    assert "ancestors" not in h2.nodes[0]
