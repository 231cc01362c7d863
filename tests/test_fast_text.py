"""Fast-path text extraction must be indistinguishable from the full
parser on every golden input, the fixture documents, and fuzz corpora."""

from __future__ import annotations

import json
import pathlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from htmlparser2_spark.engine.fast_text import FastTextExtractor, fast_text_content
from htmlparser2_spark.engine.parser import Parser

from .fixture_docs import DOCS, requires_docs

GOLD = pathlib.Path(__file__).parent / "goldens"


def full_text(doc: str) -> str:
    parts = []

    class H:
        @staticmethod
        def on_text(data):
            parts.append(data)

    Parser(H()).parse(doc)
    return "".join(parts)


def _default_html_cases():
    cases = []
    for name in ("parser_events.json", "tokenizer.json"):
        for case in json.loads((GOLD / name).read_text()):
            if not case["options"]:  # default HTML options only
                cases.append(case["input"])
    return cases


@pytest.mark.parametrize("doc", _default_html_cases(), ids=range(len(_default_html_cases())))
def test_fast_matches_full_on_goldens(doc):
    assert fast_text_content(doc) == full_text(doc)


@requires_docs
@pytest.mark.parametrize("name", ["Basic.html", "Attributes.html", "Svg.html"])
def test_fast_matches_full_on_fixture_documents(name):
    doc = (DOCS / name).read_text()
    assert fast_text_content(doc) == full_text(doc)


def test_bail_on_foreign_content():
    ex = FastTextExtractor()
    text, n_tags = ex.extract("<p>a</p><svg><title><b>x</b></title></svg><p>b</p>")
    assert ex.n_fallbacks == 1
    assert text == full_text("<p>a</p><svg><title><b>x</b></title></svg><p>b</p>")
    # Inside svg, <title> is NOT RCDATA: <b> is a real tag, so text is "x".
    assert "x" in text and "<b>" not in text


def test_extractor_reuse():
    ex = FastTextExtractor()
    assert ex.extract("<p>one</p>")[0] == "one"
    assert ex.extract("<p>two</p>")[0] == "two"
    assert ex.extract("<svg><desc>d</desc></svg>")[0] == full_text(
        "<svg><desc>d</desc></svg>"
    )
    assert ex.extract("<p>three</p>") == ("three", 1)


_MARKUP = st.text(
    alphabet=st.sampled_from(
        list("<>/=&;!?-[]'\" abcdefghsvgmathDATAscriptyle#x012&amp;lt")
    ),
    max_size=150,
)


@given(st.one_of(_MARKUP, st.text(max_size=100)))
@settings(max_examples=500, deadline=None)
def test_fast_matches_full_fuzz(doc):
    assert fast_text_content(doc) == full_text(doc)


@pytest.mark.parametrize(
    "doc",
    [
        '<a href=">">after</a>',            # '>' inside quoted value
        "<a href='>x' y>t</a>",             # single-quoted '>'
        '<a x=y">z</a>tail',                # quote inside unquoted value
        '<a fo"o=1>t</a>',                  # quote inside attribute name
        "<a x = '  spaced  ' disabled>t",   # ws around '=', valueless, EOF
        '<img src=x.png data-a="1" />txt',  # quoted + self-closing slash
        "<p a=1 b=2 c=3>deep</p>",          # plain unquoted run
        '<a href="unterminated>t',          # unterminated quote -> dropped
        '<a href="?a=1&amp;b=2">t</a>',     # '&' in a quoted value
        "<a title='x &lt; y'>t</a>",        # '&' in a single-quoted value
        "<a href=x&amp;y>t</a>&amp;",       # '&' in an unquoted value
        '<a href="&notit;" x=&#65>t</a>',   # legacy refs in both kinds
        '<p a="1"/>t</p>',                  # quoted, ends in '/>'
        "<p a=1/>t",                        # '/' inside an unquoted value
        "<p a / >t",                        # '/' then ws before '>'
        '<script src="a&amp;b"/>x</script>t',  # special tag, '&', '/>'
    ],
)
def test_fast_matches_full_attr_soup(doc):
    assert fast_text_content(doc) == full_text(doc)
