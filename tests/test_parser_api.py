"""Parser API behaviors ported from /root/reference/src/Parser.spec.ts
(the chunked/pause/resume cases map to whole-document mode; see
SURVEY.md §2.3 for why incremental write() is out of scope)."""

from __future__ import annotations

from htmlparser2_spark.engine.parser import Parser, ParserOptions


class Recorder:
    def __init__(self) -> None:
        self.calls: list[tuple] = []
        self.parser: Parser | None = None

    def on_open_tag_name(self, name):
        self.calls.append(("opentagname", name))

    def on_open_tag(self, name, attrs, implied):
        self.calls.append(
            ("opentag", name, self.parser.start_index, self.parser.end_index)
        )

    def on_close_tag(self, name, implied):
        self.calls.append(("closetag", name, implied, self.parser.end_index))

    def on_text(self, data):
        self.calls.append(("text", data))

    def on_processing_instruction(self, name, data):
        self.calls.append(("pi", name, data))


def run(text: str, **options) -> Recorder:
    rec = Recorder()
    p = Parser(rec, ParserOptions(**options))
    rec.parser = p
    p.parse(text)
    return rec


def test_numeric_entity_backout_125():
    assert ("text", "id=770&#anchor") in run("id=770&#anchor").calls
    assert ("text", "0&#xn") in run("0&#xn").calls


def test_positions_p_hr():
    calls = run("<p>Foo<hr>").calls
    assert ("opentag", "p", 0, 2) in calls
    assert ("opentag", "hr", 6, 9) in calls
    assert ("closetag", "p", True, 9) in calls
    assert ("closetag", "hr", True, 9) in calls


def test_xml_declaration_name_preserved():
    calls = run("<!DOCTYPEhtml>", xml_mode=True).calls
    assert ("pi", "!DOCTYPEhtml", "!DOCTYPEhtml") in calls


def test_html_declaration_casing_without_lowercase():
    calls = run("<!DOCTYPEhtml>", lower_case_tags=False).calls
    assert ("pi", "!DOCTYPE", "!DOCTYPEhtml") in calls


def test_implied_p_open_position():
    calls = run("</p>").calls
    assert ("opentag", "p", 0, 3) in calls


def test_proto_tag_does_not_throw():
    run("<__proto__>x</__proto__>")


def _order(calls, kind_name):
    return next(
        i for i, c in enumerate(calls) if c[0] == kind_name[0] and c[1] == kind_name[1]
    )


def test_tbody_closes_tfoot():
    calls = run("<table><tfoot><tr><td>F<tbody><tr><td>B</table>").calls
    assert ("closetag", "tfoot", True, 29) in [c for c in calls if c[0] == "closetag"]
    assert _order(calls, ("closetag", "tfoot")) < _order(calls, ("opentagname", "tbody"))


def test_thead_closes_tbody():
    calls = run("<table><tbody><tr><td>B<thead><tr><th>H</table>").calls
    assert _order(calls, ("closetag", "tbody")) < _order(calls, ("opentagname", "thead"))


def test_th_closes_td():
    calls = run("<table><tr><td>A<th>B</tr></table>").calls
    assert _order(calls, ("closetag", "td")) < _order(calls, ("opentagname", "th"))


def test_start_index_never_exceeds_end_index():
    class Invariant:
        def __init__(self):
            self.parser = None

        def _check(self, *a):
            assert self.parser.start_index <= self.parser.end_index

        on_open_tag = _check
        on_close_tag = _check
        on_text = _check
        on_comment = _check

    for doc in (
        "<p>Foo<hr>",
        "<div>Hallo</p>World</br></ignore></div></p></br>",
        "<!-- x --><a href='y'>z</a><![CDATA[q]]>",
    ):
        inv = Invariant()
        p = Parser(inv)
        inv.parser = p
        p.parse(doc)


def test_custom_tokenizer_injection():
    """ParserOptions accepts a Tokenizer subclass (Parser.ts:210;
    Parser.spec.ts:238-251)."""
    from .collector import EventCollector
    from htmlparser2_spark.engine.parser import Parser, ParserOptions
    from htmlparser2_spark.engine.tokenizer import Tokenizer

    seen = []

    class CustomTokenizer(Tokenizer):
        def run(self, buf):
            seen.append(buf)
            super().run(buf)

    col = EventCollector()
    p = Parser(col, ParserOptions(tokenizer_class=CustomTokenizer))
    col.attach(p)
    assert isinstance(p.tokenizer, CustomTokenizer)
    p.parse("<p>hi</p>")
    assert seen == ["<p>hi</p>"]
    assert [e["data"] for e in col.events if e["$event"] == "text"] == [["hi"]]


def test_lifecycle_callbacks():
    """onparserinit at construction + after reset; onreset on reset
    (Parser.ts:308, 713-723)."""
    from htmlparser2_spark.engine.parser import Parser

    calls = []

    class H:
        def on_parser_init(self, parser):
            calls.append(("init", isinstance(parser, Parser)))

        def on_reset(self):
            calls.append(("reset", True))

    p = H()
    parser = Parser(p)
    assert calls == [("init", True)]
    parser.parse("<p>x</p>")  # parse = reset + run
    assert calls == [("init", True), ("reset", True), ("init", True)]
    parser.reset()
    assert calls[-2:] == [("reset", True), ("init", True)]


def test_batch_text_parity():
    """batch_text=True (the Arrow-UDF opt-in) must produce an
    identical DOM (index-free) and identical concatenated text to the
    exact per-event stream, across entity-dense, rawtext, RCDATA,
    CDATA-ish, and xml shapes — only event granularity may differ."""
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.parser import Parser, ParserOptions

    docs = [
        "<p>fish &amp; chips &lt;3 &#8212; &copy;2026</p>",
        "<p>&notareal; &times &amp;lt; &#x2F;&#47;</p><p>b&b</p>",
        "<title>a &amp; b</title><script>x = '&amp;';</script>"
        "<textarea>1 &lt; 2</textarea>",
        "<ul><li>&hellip;<b>x &ndash; y</b></li><li>plain</li></ul>",
        "&#38;&#38;#49;; leading text <div>&rsquo;</div> trailing &",
        "",
        "no markup at all &amp; some entities &unknown; &#x110000;",
    ]
    for xml in (False, True):
        opts = ParserOptions(xml_mode=xml)
        for doc in docs:
            h1 = DomArrayHandler(with_indices=False)
            Parser(h1, opts).parse(doc)
            h2 = DomArrayHandler(with_indices=False)
            Parser(h2, ParserOptions(xml_mode=xml), batch_text=True).parse(doc)
            assert h1.nodes == h2.nodes, (xml, doc)


def test_batch_text_positions_advance():
    """The batched text callback must advance start/end indices to the
    run's end exactly like the last event of the per-event stream, so
    a FOLLOWING tag's startIndex is unaffected by the opt-in."""
    from htmlparser2_spark.engine.parser import Parser, ParserOptions

    seen = {}

    class _Probe:
        def on_open_tag(self, name, attrs, implied):
            seen.setdefault("starts", []).append(
                (name, self.parser.start_index)
            )

        def on_parser_init(self, parser):
            self.parser = parser

    doc = "<body>a &amp; b<div>x</div></body>"
    for batch in (False, True):
        seen.clear()
        Parser(_Probe(), ParserOptions(), batch_text=batch).parse(doc)
        assert seen["starts"] == [("body", 0), ("div", 15)], (batch, seen)
