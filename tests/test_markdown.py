"""HTML -> Markdown rendering (engine/markdown.py) rule-set pins, and
parity of its two entry points, MarkdownExtractor (the Parser's events)
and to_markdown (an adjacency array from DomArrayHandler), with each
other and with the recursive renderer kept in
tests/markdown_reference.py."""

from __future__ import annotations

import random
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from htmlparser2_spark.engine import markdown
from htmlparser2_spark.engine.dom import DomArrayHandler
from htmlparser2_spark.engine.markdown import MarkdownExtractor, to_markdown
from htmlparser2_spark.engine.parser import Parser, ParserOptions

from .adversaries import BOUND_S
from .fixture_docs import golden_inputs
from .markdown_reference import ReferenceExtractor, reference_to_markdown

_ELEMENT_TYPES = ("tag", "script", "style")


def dom(html: str, **options) -> list[dict]:
    """The adjacency DOM of the exact (per-event) parse."""
    handler = DomArrayHandler(with_indices=False)
    Parser(handler, ParserOptions(**options)).parse(html)
    return handler.nodes


def md(html: str, **options) -> str:
    """Markdown through both entry points, which must agree with each
    other and with the recursive reference."""
    expected = ReferenceExtractor(**options).extract(html)[0]
    assert to_markdown(dom(html, **options)) == expected
    assert MarkdownExtractor(**options).extract(html)[0] == expected
    return expected


def test_headings_paragraphs_links():
    html = (
        "<html><head><title>T</title><script>skip()</script>"
        "<style>p{}</style></head><body><h1>Top</h1><h3>Sub</h3>"
        '<p>Hello <strong>bold</strong> and <em>it</em> and '
        '<code>x=1</code>.</p><a href="/u">go</a> now</body></html>'
    )
    assert md(html) == (
        "# Top\n\n### Sub\n\nHello **bold** and *it* and `x=1`.\n\n"
        "[go](/u) now"
    )


def test_whitespace_collapse_and_br():
    html = "<body><p>a\n   b<br>c   d</p></body>"
    assert md(html) == "a b\nc d"


def test_lists_nested_and_ordered():
    html = (
        "<body><ul><li>one<li>two<ul><li>two.a</ul><li>three</ul>"
        "<ol><li>first<li>second</ol></body>"
    )
    assert md(html) == (
        "- one\n- two\n  - two.a\n- three\n\n1. first\n2. second"
    )


def test_table_header_and_pipe_escape():
    html = (
        "<body><table><thead><tr><th>K</th><th>V</th></tr></thead>"
        "<tbody><tr><td>a|b</td><td>1</td></tr></tbody></table></body>"
    )
    assert md(html) == (
        "| K | V |\n| --- | --- |\n| a\\|b | 1 |"
    )


def test_pre_blockquote_hr_textarea():
    html = (
        "<body><pre>x =  1\ny = 2</pre><blockquote><p>quoted</p>"
        "</blockquote><hr><textarea>T &amp; A</textarea></body>"
    )
    assert md(html) == (
        "```\nx =  1\ny = 2\n```\n\n> quoted\n\n---\n\nT & A"
    )


def test_images_and_missing_attrs():
    assert md('<body><img src="i.png" alt="pic"><img src="j.png">'
              "<a>nohref</a></body>") == "![pic](i.png)![](j.png)nohref"


def test_transparent_containers_and_comments():
    html = (
        "<body><div><section><p>inner</p></section></div>"
        "<!-- c --><?pi x><div>tail</div></body>"
    )
    assert md(html) == "inner\n\ntail"


def test_no_body_renders_whole_document():
    assert md("<h2>frag</h2><p>text</p>") == "## frag\n\ntext"


def test_empty_and_garbage():
    assert md("") == ""
    assert md("<body><script>only()</script></body>") == ""


def test_inline_edge_whitespace_reemitted():
    # whitespace just inside a wrapper separates words OUTSIDE the
    # markers; markdown emphasis forbids spaces inside them
    assert md("<body><p>foo<strong> bar </strong>baz</p></body>") == (
        "foo **bar** baz"
    )
    assert md("<body><p>x<em>y</em>z</p></body>") == "x*y*z"
    assert md('<body><p>go<a href="/u"> here </a>now</p></body>') == (
        "go [here](/u) now"
    )
    assert md("<body><p>a<code> c </code>b</p></body>") == "a `c` b"
    # empty wrappers vanish entirely
    assert md("<body><p>a<strong>  </strong>b</p></body>") == "a b"


def test_nul_in_text_is_not_a_break():
    # NUL is valid parsed text; it must not alias the <br> sentinel
    assert md("<body><p>a\x00b</p></body>") == "ab"
    assert md("<body><p>a\x00b<br>c</p></body>") == "ab\nc"
    assert md("<body><textarea>a\x00b</textarea></body>") == "ab"


def test_page_variant_shapes():
    # the exact shapes q_markdown's oracle predicts (sources/pages.py)
    v0 = (
        '<!DOCTYPE html><html lang="en"><head><title>Doc 3</title>'
        "<script>var x = 1 < 2;</script><style>p { color: red }</style>"
        '</head><body><h1>Doc 3</h1><!-- src:web --><p class="c3">tx</p>'
        '<a href="https://example.com/doc/3">more</a></body></html>'
    )
    assert md(v0) == "# Doc 3\n\ntx\n\n[more](https://example.com/doc/3)"
    v1 = (
        "<html><body><ul><li>Doc 1<li>tx</ul>"
        '<p>A &amp; B &lt;tag&gt; &#33;<br><img src="i1.png"></body></html>'
    )
    assert md(v1) == "- Doc 1\n- tx\n\nA & B <tag> !\n![](i1.png)"
    v2 = (
        "<html><body><table><tr><td>Doc 2<tr><td>tx</table>"
        "<textarea>T &amp; A</textarea><?bogus 2><div>tail</div></body></html>"
    )
    assert md(v2) == "| Doc 2 |\n| --- |\n| tx |\n\nT & A\n\ntail"


# ---------------- entry-point parity ----------------


def assert_paths_agree(extractor: MarkdownExtractor, doc: str, **options):
    nodes = dom(doc, **options)
    n_elements = sum(1 for n in nodes if n["type"] in _ELEMENT_TYPES)
    expected = ReferenceExtractor(**options).extract(doc)
    assert expected[1] == n_elements
    assert extractor.extract(doc) == expected
    assert to_markdown(nodes) == expected[0] == reference_to_markdown(nodes)


@pytest.mark.parametrize("doc, options", golden_inputs())
def test_extractor_matches_adjacency_on_goldens(doc, options):
    assert_paths_agree(MarkdownExtractor(**options), doc, **options)


_OPTION_SETS = [
    {},
    {"xml_mode": True},
    {"recognize_cdata": True},
    {"decode_entities": False},
    {"lower_case_tags": False, "recognize_self_closing": True},
    {"xml_mode": True, "decode_entities": False, "recognize_cdata": False},
]
# One reused extractor per option set: each parse must also reset it.
_EXTRACTORS = [MarkdownExtractor(**o) for o in _OPTION_SETS]

_PIECES = st.sampled_from([
    "<body>", "</body>", "<Body>", "<html>", "<head>", "<title>",
    "</title>", "<p>", "</p>", "<P>", "<div>", "</div>", "<span>",
    "<h1>", "</h1>", "<h3>", "<ul>", "</ul>", "<ol>", "<li>", "</li>",
    "<table>", "</table>", "<thead>", "<tr>", "<td>", "<th>", "</td>",
    "<pre>", "</pre>", "<blockquote>", "</blockquote>", "<hr>", "<hr/>",
    "<textarea>", "</textarea>", "<b>", "</b>", "<strong>", "<i>",
    "<em>", "</em>", "<code>", "</code>", '<a href="/u">', "<a>", "</a>",
    '<img src="s.png" alt="t">', "<img>", "<br>", "</br>", "<br/>",
    "<script>", "</script>", "<style>", "<!-- c -->", "<!--",
    "<![CDATA[cd]]>", "<?pi x>", "<!doctype html>", "<svg>", "</svg>",
    "<math>", "&amp;", "&lt;", "&#0;", "&#x41;", "\x00", "|", " ", "  ",
    "\n", "\t", "word", "two words", "é",
])


@given(
    st.lists(st.one_of(_PIECES, st.text(max_size=6)), max_size=40),
    st.integers(0, len(_OPTION_SETS) - 1),
)
@settings(max_examples=400, deadline=None)
def test_extractor_matches_adjacency_fuzz(pieces, which):
    assert_paths_agree(
        _EXTRACTORS[which], "".join(pieces), **_OPTION_SETS[which]
    )


@given(
    st.lists(st.one_of(_PIECES, st.text(max_size=6)), max_size=40),
    st.integers(0, len(_OPTION_SETS) - 1),
)
@settings(max_examples=400, deadline=None)
def test_rope_collapse_matches_reference_fuzz(pieces, which):
    """With every wrapped text a rope (threshold 0), the collapse that
    re-spaces only a rope's top level renders what the reference's
    whole-string re-collapse renders."""
    flat = markdown._FLAT
    markdown._FLAT = 0
    try:
        assert_paths_agree(
            _EXTRACTORS[which], "".join(pieces), **_OPTION_SETS[which]
        )
    finally:
        markdown._FLAT = flat


def test_n_tags_counts_dom_elements():
    # implied opens (</p>, </br>), voids and EOF-closed elements count
    # once each; comments, text, directives and a truncated tag do not
    doc = "<!doctype html><p>a</p></p></br><img><ul><li>x<li>y<!--c--><b"
    nodes = dom(doc)
    assert MarkdownExtractor().extract(doc)[1] == 7 == sum(
        1 for n in nodes if n["type"] in _ELEMENT_TYPES
    )


def test_adjacency_honours_permuted_idx_in_parent():
    nodes = [dict(n) for n in dom(
        "<body><p>one</p><p>two</p><ul><li>a<li>b</ul></body>"
    )]
    body_id = next(n["node_id"] for n in nodes if n["name"] == "body")
    kids = [n for n in nodes if n["parent_id"] == body_id]
    for n in kids:  # reverse the body's children
        n["idx_in_parent"] = len(kids) - 1 - n["idx_in_parent"]
    ul_id = next(n["node_id"] for n in nodes if n["name"] == "ul")
    for n in nodes:  # swap the two list items
        if n["parent_id"] == ul_id:
            n["idx_in_parent"] = 1 - n["idx_in_parent"]
    expected = "- b\n- a\n\ntwo\n\none"
    assert to_markdown(nodes) == expected == reference_to_markdown(nodes)
    # list order does not matter once idx_in_parent orders siblings
    random.Random(3).shuffle(nodes)
    assert to_markdown(nodes) == expected == reference_to_markdown(nodes)


def test_comment_between_text():
    assert md("<body><p>a<!-- c -->b</p></body>") == "ab"
    assert md("<body>x <!-- c --> y<b>z</b><!--d-->!</body>") == "x y**z**!"
    assert md("<body><pre>a<!--c-->b</pre></body>") == "```\nab\n```"
    assert md("<ul><li>a<!--c-->b<li>c</ul>") == "- ab\n- c"


def test_cdata_dropped_unless_foreign_text():
    # a CDATA section is a node the rules never emit, in xml_mode and
    # with recognize_cdata; in HTML it is a comment; inside <svg> its
    # content is plain text
    assert md("<body><p>a<![CDATA[hid]]>b</p></body>", xml_mode=True) == "ab"
    assert md("<p>a<![CDATA[hid]]>b</p>", recognize_cdata=True) == "ab"
    assert md("<p>a<![CDATA[hid]]>b</p>") == "ab"
    assert md("<body><svg><![CDATA[k]]></svg></body>") == "k"


def test_xml_mode_keeps_case():
    # xml_mode keeps tag case: <Body> is not body, so the whole
    # document renders, and as an unknown (inline) element it renders
    # everything inside it inline, <p> included
    assert md("<Body><P>a</P><p>b</p><br/>c</Body>", xml_mode=True) == "ab\nc"
    assert md("<body><h2>t</h2><x>y</x></body>", xml_mode=True) == "## t\n\ny"


@pytest.mark.parametrize("tag", ["b", "div"])
def test_deep_nesting_renders_through_both_entry_points(tag):
    # 300 levels of inline and of block nesting render as the recursive
    # reference does
    doc = f"<body>{f'<{tag}>' * 300}x"
    out = md(doc)
    assert out == ("**" * 300 + "x" + "**" * 300 if tag == "b" else "x")


@pytest.mark.parametrize("tag", ["b", "div"])
def test_nesting_past_recursion_limit_renders_in_bounded_time(tag):
    # 10^5 levels, past any recursion limit: both entry points render
    # the page, equally, each within the adversary bound
    depth = 100_000
    doc = f"<body>{f'<{tag}>' * depth}x"
    t0 = time.process_time()
    got = MarkdownExtractor().extract(doc)[0]
    t1 = time.process_time()
    assert to_markdown(dom(doc)) == got
    t2 = time.process_time()
    assert t1 - t0 < BOUND_S and t2 - t1 < BOUND_S, (t1 - t0, t2 - t1)
    assert got == ("**" * depth + "x" + "**" * depth if tag == "b" else "x")


def test_wrapped_line_breaks_stay_linear():
    # a <br> inside nested wrappers: each wrapper's collapse re-spaces
    # only the pieces it added (rope), yet the text equals the
    # reference's, which re-collapses the whole run at every level
    doc = "<p>" + "<b> a<br>b " * 200 + "x"
    assert md(doc).startswith("**a b **a b")
    depth = 50_000
    t0 = time.process_time()
    out = MarkdownExtractor().extract("<p>" + "<i>a<br>" * depth + "x")[0]
    assert time.process_time() - t0 < BOUND_S
    assert out == "*a " * depth + "x" + "*" * depth
