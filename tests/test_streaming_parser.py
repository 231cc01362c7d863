"""Streaming write()/end() lifecycle: chunk-invariance + byte safety.

Ports the reference's chunked-parse contract: every Parser.events golden
is replayed char-by-char through StreamingParser and must produce the
identical event stream as the whole-document parse
(/root/reference/src/Parser.events.spec.ts:13-40), plus the
write-after-end errors (Parser.ts:776-779) and the split-multi-byte
UTF-8 byte-stream test (WritableStream.spec.ts:10-20).
"""

from __future__ import annotations

import json
import pathlib

import pytest

from htmlparser2_spark.engine.dom import DomArrayHandler, parse_document
from htmlparser2_spark.engine.parser import Parser, ParserOptions
from htmlparser2_spark.engine.stream import StreamingParser, WritableStreamParser
from htmlparser2_spark.engine.tokenizer import Tokenizer

from .collector import EventCollector

GOLDENS = json.loads(
    (pathlib.Path(__file__).parent / "goldens" / "parser_events.json").read_text()
)

_OPTION_MAP = {
    "xmlMode": "xml_mode",
    "decodeEntities": "decode_entities",
    "lowerCaseTags": "lower_case_tags",
    "lowerCaseAttributeNames": "lower_case_attribute_names",
    "recognizeCDATA": "recognize_cdata",
    "recognizeSelfClosing": "recognize_self_closing",
}


def _opts(options: dict) -> ParserOptions:
    return ParserOptions(**{_OPTION_MAP[k]: v for k, v in options.items()})


@pytest.mark.parametrize("case", GOLDENS, ids=[c["name"] for c in GOLDENS])
def test_char_by_char_equals_whole(case):
    opts = _opts(case["options"])

    whole = EventCollector()
    p = Parser(whole, opts)
    whole.attach(p)
    p.parse(case["input"])

    chunked = EventCollector()
    sp = StreamingParser(chunked, opts)
    chunked.attach(sp._parser)
    for ch in case["input"]:
        sp.write(ch)
    sp.end()

    assert chunked.events == whole.events


def test_write_after_end_silently_ignored_without_handler():
    # The reference routes use-after-end through `this.cbs.onerror?.()`
    # (optional chaining, Parser.ts:776-779, 790-793): with no onerror
    # handler the misuse is silently ignored, never thrown.
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.end("<p>x</p>")
    before = list(col.events)
    sp.write("more")  # no error, no new events
    sp.end()
    assert col.events == before


def test_reset_reuses_instance():
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write("<h1>a")
    sp.end("</h1>")
    first = [e for e in col.events if e["$event"] == "text"]
    assert first and first[0]["data"] == ["a"]

    col.events.clear()
    sp.reset()
    sp.parse_complete("<p>b</p>")
    second = [e for e in col.events if e["$event"] == "text"]
    assert second and second[0]["data"] == ["b"]


@pytest.mark.parametrize("split_at", [1, 2, 3])
def test_utf8_split_across_chunks(split_at):
    # "Ü" is 2 bytes, "€" is 3, "😀" is 4 — byte splits land mid-sequence
    # for every split_at in 1..3.
    doc = "<p>café € \U0001f600</p>".encode()
    expected = "café € \U0001f600"

    col = EventCollector()
    ws = WritableStreamParser(col)
    col.attach(ws._parser)
    for i in range(0, len(doc), split_at):
        ws.write(doc[i : i + split_at])
    ws.end()
    texts = [e for e in col.events if e["$event"] == "text"]
    assert texts[0]["data"] == [expected]


def test_truncated_utf8_tail_replaced():
    # Document ends mid-sequence: the decoder flush yields U+FFFD, like
    # bytes.decode(..., errors="replace") in the Spark ingest path.
    col = EventCollector()
    ws = WritableStreamParser(col)
    col.attach(ws._parser)
    ws.write(b"<p>ok ")
    ws.end("€".encode()[:2])
    texts = [e for e in col.events if e["$event"] == "text"]
    assert texts[0]["data"] == ["ok �"]


def test_create_document_stream():
    """createDocumentStream parity (/root/reference/src/index.ts:44-55):
    per-element callbacks fire as elements complete; the final callback
    receives the whole document."""
    from htmlparser2_spark.engine.stream import create_document_stream

    elements = []
    finished = []
    sp = create_document_stream(
        lambda err, nodes: finished.append((err, nodes)),
        element_callback=lambda node: elements.append(node["name"]),
    )
    sp.write("<div><p>a</p>")
    sp.write("<p>b</p></div><hr>x&lt;")
    sp.write("y&amp;z")
    sp.end()

    # close order: p, p, div; hr (void) closes implied; html-level EOF.
    assert elements == ["p", "p", "div", "hr"]
    assert len(finished) == 1 and finished[0][0] is None
    nodes = finished[0][1]
    texts = [n["data"] for n in nodes if n["type"] == "text"]
    # the last run is several text events, joined by on_end
    assert texts == ["a", "b", "x<y&z"]


def test_element_callback_sees_joined_text():
    """A text run of several events is one node whose data is whole by
    the time its parent element's callback fires."""
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.parser import Parser

    seen = []

    def on_element(node):
        seen.append([n["data"] for n in handler.nodes
                     if n["parent_id"] == node["node_id"]])

    handler = DomArrayHandler(element_callback=on_element)
    parser = Parser(handler)
    handler.attach(parser)
    parser.parse("<p>a&amp;b&lt;c<!--x-->d&gt;</p><b>&amp;&amp;</b>")
    assert seen == [["a&b<c", "x", "d>"], ["&&"]]


def test_element_type_constants():
    from htmlparser2_spark import ElementType, parse_document

    nodes = parse_document("<p>x</p><!--c--><script>s</script>")
    types = {n["type"] for n in nodes}
    assert types == {ElementType.TAG, ElementType.TEXT, ElementType.COMMENT,
                     ElementType.SCRIPT}


def test_write_after_end_routed_to_onerror():
    """With an on_error handler, use-after-end reports instead of
    raising (Parser.ts:776-779)."""
    errors = []

    class H(EventCollector):
        def on_error(self, exc):
            errors.append(str(exc))

    col = H()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.end("<p>x</p>")
    sp.write("more")   # no raise
    sp.end()           # no raise
    assert errors == [".write() after done!", ".end() after done!"]


def test_byte_stream_end_after_done_single_error():
    """WritableStreamParser.end(chunk) after done emits exactly one
    '.end() after done!' error (reference behavior) — not a
    '.write() after done!' first."""
    errors = []

    class H(EventCollector):
        def on_error(self, exc):
            errors.append(str(exc))

    col = H()
    ws = WritableStreamParser(col)
    col.attach(ws._parser)
    ws.end(b"<p>x</p>")
    ws.end(b"more")
    assert errors == [".end() after done!"]


def test_document_stream_reuse_does_not_leak_nodes():
    """Reference DomHandler re-inits in onparserinit, so a reused
    parser starts each document with a clean tree; a second parse must
    not return the previous document's nodes prepended."""
    from htmlparser2_spark.engine.stream import create_document_stream

    results = []
    sp = create_document_stream(lambda err, nodes: results.append(nodes))
    sp.parse_complete("<p>a</p>")
    sp.parse_complete("<b>x</b>")
    assert [n["name"] for n in results[0] if n["type"] == "tag"] == ["p"]
    assert [n["name"] for n in results[1] if n["type"] == "tag"] == ["b"]
    texts = [n["data"] for n in results[1] if n["type"] == "text"]
    assert texts == ["x"]


def test_dom_handler_reuse_across_parser_reset():
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.parser import Parser

    handler = DomArrayHandler()
    parser = Parser(handler)
    handler.attach(parser)
    parser.parse("<div><p>one</p></div>")
    first = [n["name"] for n in handler.nodes if n["type"] == "tag"]
    parser.parse("<span>two</span>")
    second = [n["name"] for n in handler.nodes if n["type"] == "tag"]
    assert first == ["div", "p"]
    assert second == ["span"]


# ---------------- incremental (write-time) delivery ----------------

def test_events_delivered_during_write():
    """Complete constructs are delivered at write() time, like the
    reference's per-chunk tokenization — not deferred to end()."""
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write("<div><p>hello</p>")
    # div open, p open, text, p close are all complete already.
    assert [e["$event"] for e in col.events] == [
        "opentagname", "opentag", "opentagname", "opentag", "text", "closetag",
    ]
    n_before = len(col.events)
    sp.write("<p>wo")
    # "<p>" is complete; "wo" is pending trailing text.
    assert [e["$event"] for e in col.events][n_before:] == [
        "opentagname", "opentag",
    ]
    sp.end("rld</p></div>")
    texts = [e for e in col.events if e["$event"] == "text"]
    assert texts[-1]["data"] == ["world"]


def test_element_callback_fires_during_write():
    from htmlparser2_spark.engine.stream import create_document_stream

    seen = []
    sp = create_document_stream(
        lambda err, nodes: None, element_callback=lambda n: seen.append(n["name"])
    )
    sp.write("<ul><li>a</li>")
    assert seen == ["li"]  # delivered before end()
    sp.write("<li>b</li></ul>")
    assert seen == ["li", "li", "ul"]
    sp.end()
    assert seen == ["li", "li", "ul"]


def test_incomplete_constructs_are_withheld():
    """Nothing is delivered for a construct that may still change:
    unterminated script body, comment, tag, or boundary entity."""
    for prefix in ("<script>alert('</scr", "<!-- unterminated", "<div cls",
                   "text &am"):
        col = EventCollector()
        sp = StreamingParser(col)
        col.attach(sp._parser)
        sp.write(prefix)
        held = [e for e in col.events
                if not (e["$event"] == "text" and prefix.startswith(e["data"][0]))]
        assert held == [], (prefix, col.events)


def test_boundary_entity_resolves_across_chunks():
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write("x &am")
    sp.write("p; y")
    sp.end()
    assert [e["data"] for e in col.events if e["$event"] == "text"] == [["x & y"]]


def test_legacy_entity_upgrade_across_chunks():
    # "&times" (legacy, no ;) must not decode early when "bar;" follows
    # in a later chunk and upgrades the match to "&timesbar;".
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write("&timesbar")
    sp.write(";")
    sp.end()
    assert col.events[0]["data"] == ["⨱"]


@pytest.mark.parametrize(
    "doc, at_write",
    [
        # Text followed by a buffered '<' is final: its entities decode
        # at write() time, wherever they sit in the buffer.
        ("x &amp;<", ["x &"]),
        ("&timesbar<", ["×bar"]),
        # Trailing text is not final, so an entity in it waits for a
        # '<' or end(), however far it lies from the buffer end.
        ("a &amp; " + "b" * 60, []),
    ],
)
def test_text_delivered_once_a_tag_start_follows(doc, at_write):
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write(doc)
    assert [e["data"][0] for e in col.events if e["$event"] == "text"] == at_write
    sp.end()

    whole = EventCollector()
    p = Parser(whole)
    whole.attach(p)
    p.parse(doc)
    assert col.events == whole.events


def _whole_events(doc: str) -> list[dict]:
    whole = EventCollector()
    p = Parser(whole)
    whole.attach(p)
    p.parse(doc)
    return whole.events


def test_construct_delivered_when_its_helper_ends_it():
    """A '<' construct is complete when its own helper ends it inside
    the buffer. The quote in `b"c` is part of an attribute name, not a
    value delimiter, so the tag is final at write() time."""
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write('<a b"c>x<')
    assert [(e["$event"], e["data"]) for e in col.events] == [
        ("opentagname", ["a"]),
        ("attribute", ['b"c', ""]),
        ("opentag", ["a", {'b"c': ""}, False]),
        ("text", ["x"]),
    ]
    sp.end()
    assert col.events == _whole_events('<a b"c>x<')


@pytest.mark.parametrize(
    "doc",
    ["<!DOCTYPE html>", '<a href="x">', "<!-- c -->", "<script>x</script>"],
)
@pytest.mark.parametrize("then", ["write", "end"])
def test_construct_ending_at_buffer_end_waits_one_pass(doc, then):
    """A construct whose last char is the last buffered char is held
    back by that write() and delivered once by the next pass."""
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write(doc)
    assert col.events == []
    if then == "write":
        sp.write("z")
        assert col.events == _whole_events(doc + "z")[: len(col.events)]
        assert col.events
        sp.end()
        assert col.events == _whole_events(doc + "z")
    else:
        sp.end()
        assert col.events == _whole_events(doc)


def test_write_without_tag_delimiters_runs_no_pass(monkeypatch):
    """A write() whose input since the last pass holds no '<' or '>'
    runs no tokenizer pass (that pass's buffer did not end in '>'), so
    a long tag streamed in small chunks is not re-tokenized per chunk."""
    doc = "<div " + " ".join(f'a{k}="v{k}"' for k in range(2000)) + ">x</div>"
    whole = parse_document(doc)
    calls = []
    run = Tokenizer.run

    def counted_run(self, *args, **kwargs):
        calls.append(1)
        return run(self, *args, **kwargs)

    monkeypatch.setattr(Tokenizer, "run", counted_run)
    handler = DomArrayHandler()
    sp = StreamingParser(handler)
    handler.attach(sp._parser)
    for k in range(0, len(doc), 64):
        sp.write(doc[k : k + 64])
    sp.end()
    # The first chunk ('<div'), the last one ('>x</div>') and end().
    assert len(calls) == 3
    assert handler.nodes == whole


# ASCII-only case folding: a special tag's start and end tags and
# 'doctype' match case-insensitively in ASCII letters only, so 'İ'
# (U+0130), 'ı' (U+0131) and 'ſ' (U+017F) never match 'i' or 's'.
_DOTTED = "scr" + "i\u0307" + "pt"  # "SCRİPT".lower()


@pytest.mark.parametrize(
    "doc, expected",
    [
        ("<script>a</scr\u0130pt>b</script>", [
            ("opentagname", ["script"]),
            ("opentag", ["script", {}, False]),
            ("text", ["a</scr\u0130pt>b"]),
            ("closetag", ["script", False]),
        ]),
        ("<script>a</\u017fcript>b</script>", [
            ("opentagname", ["script"]),
            ("opentag", ["script", {}, False]),
            ("text", ["a</\u017fcript>b"]),
            ("closetag", ["script", False]),
        ]),
        ("<title>a</t\u0130tle>b</title>", [
            ("opentagname", ["title"]),
            ("opentag", ["title", {}, False]),
            ("text", ["a</t\u0130tle>b"]),
            ("closetag", ["title", False]),
        ]),
        ("<SCR\u0130PT><b>x</b>", [
            ("opentagname", [_DOTTED]),
            ("opentag", [_DOTTED, {}, False]),
            ("opentagname", ["b"]),
            ("opentag", ["b", {}, False]),
            ("text", ["x"]),
            ("closetag", ["b", False]),
            ("closetag", [_DOTTED, True]),
        ]),
        ("<!doct\u0131pe y>", [
            ("comment", ["doct\u0131pe y"]),
            ("commentend", []),
        ]),
        ("<SCRIPT>a</ScRiPt>b", [
            ("opentagname", ["script"]),
            ("opentag", ["script", {}, False]),
            ("text", ["a"]),
            ("closetag", ["script", False]),
            ("text", ["b"]),
        ]),
    ],
)
@pytest.mark.parametrize("chunked", [False, True], ids=["whole", "1-char"])
def test_case_folding_is_ascii_only(doc, expected, chunked):
    col = EventCollector()
    if chunked:
        sp = StreamingParser(col)
        col.attach(sp._parser)
        for ch in doc:
            sp.write(ch)
        sp.end()
    else:
        p = Parser(col)
        col.attach(p)
        p.parse(doc)
    assert [(e["$event"], e["data"]) for e in col.events] == expected


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_chunk_splits_equal_whole(seed):
    """Arbitrary (not just per-char) chunkings across all goldens."""
    import random

    rng = random.Random(seed)
    for case in GOLDENS:
        opts = _opts(case["options"])
        whole = EventCollector()
        p = Parser(whole, opts)
        whole.attach(p)
        p.parse(case["input"])

        chunked = EventCollector()
        sp = StreamingParser(chunked, opts)
        chunked.attach(sp._parser)
        s = case["input"]
        i = 0
        while i < len(s):
            step = rng.randint(1, 7)
            sp.write(s[i : i + step])
            i += step
        sp.end()
        assert chunked.events == whole.events, case["name"]


# ---------------- pause() / resume() backpressure ----------------

def test_pause_buffers_writes_until_resume():
    """Parser.ts:805-823: paused writes buffer; resume replays them."""
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write("<p>a</p>")
    n_before = len(col.events)
    sp.pause()
    sp.write("<b>x</b>")
    assert len(col.events) == n_before  # nothing delivered while paused
    sp.resume()
    opens = [e["data"][0] for e in col.events if e["$event"] == "opentag"]
    assert opens == ["p", "b"]
    sp.end()
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert texts == ["a", "x"]


def test_pause_from_callback_stops_mid_buffer():
    """A handler can pause from inside a callback and the in-flight
    pass stops at the construct boundary (reference tokenizer pause)."""
    holder = {}

    class H(EventCollector):
        def on_open_tag(self, name, attrs, implied):
            super().on_open_tag(name, attrs, implied)
            holder["sp"].pause()

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.write("<p>a</p><b>x</b>")
    opens = [e["data"][0] for e in col.events if e["$event"] == "opentag"]
    assert opens == ["p"]  # stopped right after the pausing callback
    sp.resume()  # runs until <b> pauses again
    opens = [e["data"][0] for e in col.events if e["$event"] == "opentag"]
    assert opens == ["p", "b"]
    sp.resume()
    sp.end()
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert texts == ["a", "x"]


def test_end_while_paused_deferred_to_resume():
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write("<p>a")
    sp.pause()
    sp.end("</p>")
    assert not any(e["$event"] == "closetag" for e in col.events)
    sp.resume()
    assert [e["$event"] for e in col.events][-1] == "closetag"
    # The stream equals an unchunked parse.
    whole = EventCollector()
    p = Parser(whole)
    whole.attach(p)
    p.parse("<p>a</p>")
    assert col.events == whole.events


def test_resume_without_pause_is_noop():
    col = EventCollector()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.resume()
    sp.end("<p>x</p>")
    assert any(e["$event"] == "text" for e in col.events)


def test_pause_in_one_callback_resume_in_another():
    """Reference-legal pattern: pause in onopentagname, resume in
    onopentag — must not recurse or duplicate events."""
    holder = {}

    class H(EventCollector):
        def on_open_tag_name(self, name):
            super().on_open_tag_name(name)
            holder["sp"].pause()

        def on_open_tag(self, name, attrs, implied):
            super().on_open_tag(name, attrs, implied)
            holder["sp"].resume()

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.write("<p>a</p><b>x</b>")
    sp.end()

    whole = EventCollector()
    p = Parser(whole)
    whole.attach(p)
    p.parse("<p>a</p><b>x</b>")
    assert col.events == whole.events  # no duplicates, no recursion


def test_write_from_callback_buffers_without_replay():
    """A write() from inside a handler callback only buffers; the
    injected data parses after the outer pass, never replaying
    already-delivered constructs."""
    holder = {"injected": False}

    class H(EventCollector):
        def on_open_tag(self, name, attrs, implied):
            super().on_open_tag(name, attrs, implied)
            if not holder["injected"]:
                holder["injected"] = True
                holder["sp"].write("<i>inj</i>")

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.write("<p>a</p>")
    sp.end()
    opens = [e["data"][0] for e in col.events if e["$event"] == "opentag"]
    assert opens == ["p", "i"]  # each tag delivered exactly once
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert texts == ["a", "inj"]


def test_end_while_paused_latches_done_state():
    """Reference Parser.end sets ended even while paused: later
    write()/end() calls are misuse (onerror), and their data must NOT
    splice into the document."""
    errors = []

    class H(EventCollector):
        def on_error(self, exc):
            errors.append(str(exc))

    col = H()
    sp = StreamingParser(col)
    col.attach(sp._parser)
    sp.write("<p>a")
    sp.pause()
    sp.end("</p>")
    sp.write("LATE")
    sp.end("AGAIN")
    assert errors == [".write() after done!", ".end() after done!"]
    sp.resume()
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert texts == ["a"]  # no LATE/AGAIN in the document


def test_pause_during_end_flush_suspends_and_resumes():
    """pause() raised from a callback during the end() EOF flush stops
    delivery at the construct boundary; resume() completes the parse."""
    holder = {}

    class H(EventCollector):
        def on_open_tag(self, name, attrs, implied):
            super().on_open_tag(name, attrs, implied)
            if name == "b":
                holder["sp"].pause()

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.pause()
    sp.write("<p>a</p><b>x</b><i>t</i>")
    sp.resume()  # everything parses in resume's pump... until <b> pauses
    # the <i> element must not have been delivered yet
    opens = [e["data"][0] for e in col.events if e["$event"] == "opentag"]
    assert opens == ["p", "b"]
    sp.end()  # deferred: still paused
    sp.resume()
    opens = [e["data"][0] for e in col.events if e["$event"] == "opentag"]
    assert opens == ["p", "b", "i"]

    whole = EventCollector()
    p = Parser(whole)
    whole.attach(p)
    p.parse("<p>a</p><b>x</b><i>t</i>")
    assert col.events == whole.events


def test_pause_does_not_lose_data_reference_parity():
    """Ported from the reference 'should not lose data when pausing'
    (Tokenizer.spec.ts:271-304): pause on the first text delivery,
    write more while paused, resume twice (idempotent), then end —
    the full decoded text survives."""
    holder = {}
    first = {"done": False}

    class H(EventCollector):
        def on_text(self, data):
            super().on_text(data)
            if not first["done"]:
                first["done"] = True
                holder["sp"].pause()

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.write("&am")
    sp.write("p; it up!")
    sp.resume()
    sp.resume()  # double-resume must be a no-op, like the reference
    assert not sp._paused
    sp.end()
    # Deviation from the reference's timing: trailing text is final
    # only once a '<' follows it, so this '<'-free buffer is delivered
    # by the end() flush; the handler's pause lands there and one more
    # resume completes the flush. The contract under test — no data is
    # lost across pause — holds.
    sp.resume()
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert "".join(texts) == "& it up!"


def test_end_from_callback_during_resume_pump_completes():
    """An end() issued from a handler callback while resume()'s pump is
    in flight must still flush the document — trailing text and on_end
    included (regression: the deferred end was dropped on this path)."""
    holder = {}
    ends = []

    class H(EventCollector):
        def on_open_tag(self, name, attrs, implied):
            super().on_open_tag(name, attrs, implied)
            if name == "b":
                holder["sp"].end()

        def on_end(self):
            ends.append(True)

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.pause()
    sp.write("<p>a</p><b>x</b>trailing text")
    sp.resume()
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert texts == ["a", "x", "trailing text"]
    assert ends == [True]


def test_resume_after_mid_pass_pause_delivers_rest():
    """pause() from a callback partway through a write(), then resume()
    with no further input on a buffer ending in text: resume() always
    runs its pass, so the constructs after the pause are delivered."""
    holder = {}
    doc = "<a>x</a><b>y</b>tail"

    class H(EventCollector):
        def on_close_tag(self, name, implied):
            super().on_close_tag(name, implied)
            if name == "a":
                holder["sp"].pause()

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.write(doc)
    closes = [e["data"][0] for e in col.events if e["$event"] == "closetag"]
    assert closes == ["a"]
    sp.resume()
    closes = [e["data"][0] for e in col.events if e["$event"] == "closetag"]
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert (closes, texts) == (["a", "b"], ["x", "y"])
    sp.end()
    assert col.events == _whole_events(doc)


def test_pause_in_final_callback_defers_epilogue():
    """pause() from the last construct's callback during the end()
    flush defers trailing text and on_end until resume() (reference
    finish() is gated by the running flag)."""
    holder = {}
    ends = []

    class H(EventCollector):
        def on_close_tag(self, name, implied):
            super().on_close_tag(name, implied)
            if name == "b":
                holder["sp"].pause()

        def on_end(self):
            ends.append(True)

    col = H()
    sp = StreamingParser(col)
    holder["sp"] = sp
    col.attach(sp._parser)
    sp.pause()
    sp.write("<b>x</b>tail")
    sp.resume()  # pump pauses again inside </b>'s callback
    sp.end()     # deferred: paused
    assert ends == []
    assert all(e["data"] != ["tail"] for e in col.events)
    sp.resume()
    texts = [e["data"][0] for e in col.events if e["$event"] == "text"]
    assert texts == ["x", "tail"]
    assert ends == [True]
