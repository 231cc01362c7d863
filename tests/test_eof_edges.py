"""EOF / XML edge paths not covered by the ported golden corpus.

Each expectation is derived from the reference's trailing-data rules
(/root/reference/src/Tokenizer.ts:1013-1126: tags at EOF are dropped,
comment-like constructs flush, XML flushes markup declarations as text)
and the state handlers cited inline.
"""

from __future__ import annotations

import pytest

from htmlparser2_spark.engine.parser import Parser, ParserOptions
from htmlparser2_spark.engine.stream import StreamingParser

from .collector import EventCollector


def events(doc: str, **options):
    collector = EventCollector()
    parser = Parser(collector, ParserOptions(**options))
    collector.attach(parser)
    parser.parse(doc)
    return [(e["$event"], e["data"]) for e in collector.events]


def texts(doc: str, **options):
    return [d[0] for ev, d in events(doc, **options) if ev == "text"]


# ---- text / tag-start EOF ----

def test_plain_text_no_markup_decode_off():
    assert events("just words", decode_entities=False) == [("text", ["just words"])]


def test_trailing_lt_at_eof():
    assert texts("abc<") == ["abc<"]


def test_special_start_prefix_at_eof_is_text():
    # SpecialStartSequence at EOF flushes the partial name as text
    # (Tokenizer.ts trailing default branch).
    assert texts("<scri") == ["scri"]
    assert texts("<script") == ["script"]
    assert texts("<tex") == ["tex"]
    # A non-special prefix is InTagName at EOF -> dropped.
    assert texts("<div") == []


# Every prefix of every text-only tag name (Tokenizer.ts:138-176), in
# both letter cases.
_SPECIAL_PREFIXES = sorted({
    case(name[:k])
    for name in (
        "iframe", "noembed", "noframes", "plaintext", "script", "style",
        "title", "textarea", "xmp",
    )
    for k in range(1, len(name) + 1)
    for case in (str.lower, str.upper)
})


def _collected(doc: str, chunked: bool) -> list[dict]:
    """EventCollector events of ``doc``, parsed whole or written in
    1-char chunks."""
    collector = EventCollector()
    if chunked:
        sp = StreamingParser(collector)
        collector.attach(sp._parser)
        for ch in doc:
            sp.write(ch)
        sp.end()
    else:
        parser = Parser(collector)
        collector.attach(parser)
        parser.parse(doc)
    return collector.events


@pytest.mark.parametrize("chunked", [False, True], ids=["whole", "chunked"])
def test_special_name_prefix_at_eof(chunked):
    """A tag name running to EOF is trailing text while it is a prefix
    of a special name in HTML; inside <svg>, or once it is no prefix,
    the tag is dropped."""
    svg = _collected("<svg>", False)
    for prefix in _SPECIAL_PREFIXES:
        assert _collected("<" + prefix, chunked) == [{
            "$event": "text", "startIndex": 0, "endIndex": len(prefix),
            "data": [prefix],
        }], prefix
        assert _collected("<svg><" + prefix, chunked) == svg, prefix
    for doc in ("<scriptx", "<PLAINTEXTX", "<scr\u0130", "<s\u017f"):
        assert _collected(doc, chunked) == [], doc
        assert _collected("<svg>" + doc, chunked) == svg, doc
    # The name ends at the space: the tag opens, then EOF drops it.
    assert _collected("<s ", chunked) == [
        {"$event": "opentagname", "startIndex": 0, "endIndex": 2, "data": ["s"]},
        {"$event": "closetag", "startIndex": 0, "endIndex": 0, "data": ["s", True]},
    ]


def test_open_tag_name_incomplete_at_eof_dropped():
    # EOF while still reading the tag name: nothing fires at all.
    assert events("<a") == []


@pytest.mark.parametrize(
    "doc",
    ["<a ", "<a x", "<a x ", "<a x=", '<a x="y', "<a x='y", "<a x=y", "<a /"],
)
def test_open_tag_unterminated_at_eof(doc):
    # The tag NAME completed, so onopentagname fired and the element is
    # on the stack; the tag construct itself is dropped (no opentag/
    # attribute events — Tokenizer.ts:1106-1121) and EOF closes the
    # stack entry implied (Parser.ts:699-708).
    assert events(doc) == [
        ("opentagname", ["a"]),
        ("closetag", ["a", True]),
    ]


def test_close_tag_junk_then_eof():
    # onclosetag fires at the name end; the junk-skip to '>' hits EOF.
    assert events("<div></div x") == [
        ("opentagname", ["div"]),
        ("opentag", ["div", {}, False]),
        ("closetag", ["div", False]),
    ]


def test_closing_tag_name_at_eof_dropped():
    evs = events("<p>x</p")
    # '</p' at EOF: closing tag dropped, p closed implied at end.
    assert ("closetag", ["p", True]) in evs


def test_lone_closing_slash_at_eof():
    assert texts("</") == ["</"]


# ---- XML-mode EOF flushes ----

def test_xml_closing_ws_eof_is_text():
    assert texts("</  ", xml_mode=True) == ["</  "]


def test_xml_bogus_closing_comment():
    assert events("<//x>", xml_mode=True) == [("comment", ["/x"]), ("commentend", [])]


def test_xml_bogus_closing_eof_is_text():
    assert texts("<//x", xml_mode=True) == ["/x"]


def test_xml_partial_cdata_eof_is_text():
    assert texts("<![CD", xml_mode=True) == ["[CD"]


def test_xml_unclosed_cdata_eof():
    evs = events("<![CDATA[abc", xml_mode=True)
    assert ("cdatastart", []) in evs
    assert ("text", ["abc"]) in evs
    assert ("cdataend", []) in evs


def test_xml_unclosed_comment_eof():
    assert events("<!--abc", xml_mode=True) == [
        ("comment", ["abc"]),
        ("commentend", []),
    ]


def test_xml_declaration_after_bang_dash():
    # '<!-' + non-dash in XML enters InDeclaration (Tokenizer.ts:801-816).
    assert events("<!-x foo>", xml_mode=True) == [
        ("processinginstruction", ["!-x", "!-x foo"])
    ]


def test_xml_unclosed_declaration_eof_is_text():
    assert texts("<!DOCTYPE foo", xml_mode=True) == ["DOCTYPE foo"]


def test_xml_unclosed_pi_eof_is_text():
    assert texts("<?foo bar", xml_mode=True) == ["foo bar"]


def test_xml_empty_bang_eof():
    assert events("<!", xml_mode=True) == []


# ---- HTML doctype-sequence mismatches ----

def test_html_doctype_mismatch_gt():
    assert events("<!do>") == [("comment", ["do"]), ("commentend", [])]


def test_html_doctype_mismatch_bogus():
    assert events("<!dox rest>") == [("comment", ["dox rest"]), ("commentend", [])]


def test_html_special_close_missing_gt_eof():
    # '</script ' then EOF: text + closetag fire, junk-skip hits EOF.
    evs = events("<script>x</script ")
    assert ("text", ["x"]) in evs
    assert ("closetag", ["script", False]) in evs


def test_eof_implied_close_index_is_len_plus_one():
    """Implied EOF close-tags after trailing comment-like data carry
    start == end == len(doc) + 1, matching the reference: the trailing
    comment gets endIndex = buffer.length (Tokenizer.ts:1092,
    handleTrailingCommentLikeData), oncomment advances startIndex to
    endIndex + 1 (Parser.ts:670), and onend copies startIndex into
    endIndex for the close-all loop (Parser.ts:699-708)."""
    from .collector import EventCollector
    from htmlparser2_spark.engine.parser import Parser, ParserOptions

    for doc, xml in (("<x><!--", True), ("<div><!--x", False)):
        col = EventCollector()
        p = Parser(col, ParserOptions(xml_mode=xml))
        col.attach(p)
        p.parse(doc)
        comment = [e for e in col.events if e["$event"] == "comment"][0]
        close = [e for e in col.events if e["$event"] == "closetag"][0]
        assert comment["endIndex"] == len(doc)
        assert close["startIndex"] == close["endIndex"] == len(doc) + 1
        assert close["data"][1] is True  # implied
