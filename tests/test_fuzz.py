"""Property-based fuzzing of the engine (hypothesis).

Invariants (mirroring the reference's own guarantees):
* never raises on any input, in any option combination
* event indices satisfy start <= end and are in-bounds
* DOM adjacency is well-formed (parents precede children, idx_in_parent
  consecutive per parent)
* text extraction is identical between the event stream, the DOM fold,
  and the relational rebuild
* serialize -> reparse preserves textContent for HTML-safe trees
* streaming the document in arbitrary chunks yields the whole-document
  event stream
* the one-event light open tag gives the same handler events as the
  split open-tag path (tests/split_parser.py)
* the scan loop's tag probes agree with the tokenizer helpers: the name
  end and special class it hands on, and each tag it emits itself
  (tests/split_parser.py ProbeCheckingParser)
* MarkdownExtractor and to_markdown give the recursive reference's
  Markdown (tests/markdown_reference.py), and the same element count
* randomized structural adversaries (tests/adversaries.py): every
  extractor and per-document UDF body returns within the bound, and the
  two markdown entry points agree

Both path comparisons run an EventCollector (attribute events) and an
index-carrying DomArrayHandler (attribute quotes read in
``on_open_tag``), comparing events or nodes, attributes in order with
their quotes, and ``start_index``/``end_index``, under option sets that
include ``lower_case_attribute_names`` (names lowercased or kept).
"""

from __future__ import annotations

import random
import time

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from htmlparser2_spark.engine.dom import DomArrayHandler, parse_document, text_content
from htmlparser2_spark.engine.markdown import MarkdownExtractor, to_markdown
from htmlparser2_spark.engine.parser import Parser, ParserOptions
from htmlparser2_spark.engine.stream import StreamingParser

from .adversaries import BOUND_S, CASES, document_bodies, structural_adversary
from .collector import EventCollector
from .fuzz_tokens import TOKENS
from .markdown_reference import ReferenceExtractor, reference_to_markdown
from .split_parser import ProbeCheckingParser, SplitParser, ordered_nodes, parsed

# Markup-ish alphabet biased toward structure characters.
_MARKUP_CHARS = st.sampled_from(
    list("<>/=&;!?-[]'\" \n\tabcdDATAscriptyleXMP#x0123&amp;lt<!--]]>")
)
_MARKUP = st.text(alphabet=_MARKUP_CHARS, max_size=200)
_FREE = st.text(max_size=120)
# Whole constructs (tests/fuzz_tokens.py) between short _MARKUP runs.
_TOKENS = st.lists(
    st.one_of(
        st.sampled_from(TOKENS),
        st.text(alphabet=_MARKUP_CHARS, max_size=12),
    ),
    max_size=20,
).map("".join)

# Tree-construction soup: the tags whose open/close rules (implied
# closes, void elements, <form> suppression, the image alias, foreign
# content and its integration points) a tag path must reproduce.
_TREE_TAGS = [
    "<form>", "</form>", "<image>", "</image>", "<math>", "</math>",
    "<svg>", "</svg>", "<foreignObject>", "</foreignObject>", "<desc>",
    "</desc>", "<li>", "</li>", "<td>", "<tr>", "<h1>", "</h1>", "<p>",
    "</p>", "<P>", "<IMG>", "<input>", "</br>", "<title>", "</title>",
    "<b x=1>", "x", '<p a="1" A=\'2\' b>', '<form x="1">', '<image src="s">',
    '<svg viewBox="0 0">', '<td class="c">', '<li a = "1">', '<input a="">',
]
_TREE_SOUP = st.lists(st.sampled_from(_TREE_TAGS), max_size=30).map("".join)

_OPTIONS = st.fixed_dictionaries(
    {
        "xml_mode": st.booleans(),
        "decode_entities": st.booleans(),
        "recognize_cdata": st.booleans(),
        "recognize_self_closing": st.booleans(),
        "lower_case_attribute_names": st.one_of(st.none(), st.booleans()),
    }
)


@given(st.one_of(_MARKUP, _FREE), _OPTIONS)
@settings(max_examples=400, deadline=None)
def test_never_raises_and_indices_valid(doc, options):
    collector = EventCollector()
    parser = Parser(collector, ParserOptions(**options))
    collector.attach(parser)
    parser.parse(doc)  # EventCollector validates start<=end on every event
    for ev in collector.events:
        # len(doc)+1 is reachable: after trailing comment-like data the
        # reference sets startIndex = endIndex + 1 with endIndex ==
        # buffer.length (Parser.ts:663-671), and onend copies that into
        # the implied EOF close-tags (Parser.ts:699-708).
        assert 0 <= ev["startIndex"] <= len(doc) + 1
        assert 0 <= ev["endIndex"] <= len(doc) + 1


@st.composite
def _chunked_doc(draw):
    """A document split into the 1-9 chunks it is written in (cut
    points drawn inside it; repeated cuts give empty writes)."""
    doc = draw(st.one_of(_MARKUP, _FREE, _TOKENS))
    cuts = sorted(draw(st.lists(st.integers(0, len(doc)), max_size=8)))
    return [doc[a:b] for a, b in zip([0, *cuts], [*cuts, len(doc)])]


def _chunked(handler, chunks: list[str], options: ParserOptions):
    sp = StreamingParser(handler, options)
    handler.attach(sp._parser)
    for chunk in chunks:
        sp.write(chunk)
    sp.end()
    return handler


@given(_chunked_doc(), _OPTIONS)
@settings(max_examples=400, deadline=None)
def test_chunked_equals_whole(chunks, options):
    doc = "".join(chunks)
    options = ParserOptions(**options)
    assert (
        _chunked(EventCollector(), chunks, options).events
        == parsed(Parser, EventCollector(), doc, options).events
    )
    assert ordered_nodes(
        _chunked(DomArrayHandler(), chunks, options).nodes
    ) == ordered_nodes(parsed(Parser, DomArrayHandler(), doc, options).nodes)


def _assert_split_path_events(doc: str, options: ParserOptions) -> None:
    def events(parser_class):
        return parsed(parser_class, EventCollector(), doc, options).events

    def nodes(parser_class):
        return ordered_nodes(
            parsed(parser_class, DomArrayHandler(), doc, options).nodes
        )

    assert events(Parser) == events(SplitParser)
    assert nodes(Parser) == nodes(SplitParser)


@given(
    st.one_of(_MARKUP, _FREE, _TOKENS),
    _OPTIONS,
    st.one_of(st.none(), st.booleans()),
)
@settings(max_examples=400, deadline=None)
def test_fused_tag_events_equal_split_path(doc, options, lower_case_tags):
    _assert_split_path_events(
        doc, ParserOptions(lower_case_tags=lower_case_tags, **options)
    )


@given(
    st.one_of(_MARKUP, _FREE, _TOKENS),
    _OPTIONS,
    st.one_of(st.none(), st.booleans()),
)
@example(
    "<p>a</p junk><SCRIPT>x</p></script><svg><title>t</title><STYLE>s"
    "</svg><svg><xmp a='1'>x</xmp></svg><TiTle>&amp;</TITLE >",
    {"xml_mode": False, "decode_entities": True, "recognize_cdata": False,
     "recognize_self_closing": False, "lower_case_attribute_names": None},
    None,
)
@settings(max_examples=400, deadline=None)
def test_run_loop_tag_probes_equal_helpers(doc, options, lower_case_tags):
    """Wherever Tokenizer.run classifies an open tag or emits a tag
    itself, the helpers, rerun on the same buffer and position, agree
    (tests/split_parser.py ProbeCheckingParser)."""
    options = ParserOptions(lower_case_tags=lower_case_tags, **options)
    parsed(ProbeCheckingParser, EventCollector(), doc, options)
    parsed(ProbeCheckingParser, DomArrayHandler(), doc, options)


@given(_TREE_SOUP)
@settings(max_examples=400, deadline=None)
def test_fused_tree_rules_equal_split_path(doc):
    """Default HTML options, where rule-free light tags open inline."""
    _assert_split_path_events(doc, ParserOptions())


@given(st.one_of(_MARKUP, _FREE))
@settings(max_examples=300, deadline=None)
def test_dom_well_formed_and_text_consistent(doc):
    nodes = parse_document(doc)
    seen_children: dict[int, int] = {}
    for n in nodes:
        assert n["parent_id"] < n["node_id"]
        expected_idx = seen_children.get(n["parent_id"], 0)
        assert n["idx_in_parent"] == expected_idx
        seen_children[n["parent_id"]] = expected_idx + 1

    # Event-stream text == DOM text fold.
    parts: list[str] = []

    class TextOnly:
        @staticmethod
        def on_text(data: str) -> None:
            parts.append(data)

    Parser(TextOnly()).parse(doc)
    assert "".join(parts) == text_content(nodes)


@given(st.lists(st.sampled_from(["p", "div", "span", "li", "em"]), max_size=6),
       st.text(alphabet=st.characters(blacklist_characters="<&\x00", blacklist_categories=("Cs",)), max_size=40))
@settings(max_examples=200, deadline=None)
def test_serialize_roundtrip_preserves_text(tags, inner):
    doc = "".join(f"<{t}>" for t in tags) + inner + "".join(
        f"</{t}>" for t in reversed(tags)
    )
    from htmlparser2_spark.engine.dom import serialize

    nodes = parse_document(doc)
    rendered = serialize(nodes)
    assert text_content(parse_document(rendered)) == text_content(nodes)


@given(st.one_of(_MARKUP, _FREE))
@settings(max_examples=200, deadline=None)
def test_xml_mode_never_raises(doc):
    handler = DomArrayHandler()
    parser = Parser(handler, ParserOptions(xml_mode=True))
    handler.attach(parser)
    parser.parse(doc)


@given(
    st.one_of(_MARKUP, _FREE, _TOKENS),
    _OPTIONS,
    st.one_of(st.none(), st.booleans()),
)
@settings(max_examples=400, deadline=None)
def test_markdown_equals_recursive_reference(doc, options, lower_case_tags):
    """Both markdown entry points render what the recursive renderer
    (tests/markdown_reference.py) renders; the extractor also counts
    the same elements."""
    options = {"lower_case_tags": lower_case_tags, **options}
    expected = ReferenceExtractor(**options).extract(doc)
    assert MarkdownExtractor(**options).extract(doc) == expected
    nodes = parsed(Parser, DomArrayHandler(), doc, ParserOptions(**options)).nodes
    assert to_markdown(nodes) == expected[0] == reference_to_markdown(nodes)


@pytest.mark.parametrize("case", CASES)
@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=1, deadline=None)
def test_structural_adversaries_return_in_bounded_time(case, seed):
    doc = structural_adversary(random.Random(seed), case)
    for name, body in document_bodies().items():
        t0 = time.process_time()
        body(doc)
        elapsed = time.process_time() - t0
        assert elapsed < BOUND_S, (case, seed, name, elapsed)
    assert MarkdownExtractor().extract(doc)[0] == to_markdown(parse_document(doc))


def test_pathological_deep_nesting_is_iterative():
    """100k-deep nesting must not hit Python's recursion limit anywhere
    in parse -> extract -> clean -> serialize -> readability."""
    from htmlparser2_spark.engine.dom import (
        clean_text,
        parse_document,
        serialize,
        text_content,
    )
    from htmlparser2_spark.engine.fast_text import fast_text_content
    from htmlparser2_spark.engine.readability import main_content

    depth = 100_000
    deep = "<div>" * depth + "core" + "</div>" * depth
    nodes = parse_document(deep)
    assert len(nodes) == depth + 1
    assert text_content(nodes) == "core"
    assert clean_text(nodes) == "core"
    assert serialize(nodes) == deep
    assert fast_text_content(deep) == "core"
    assert main_content(deep) == "core"


def test_pathological_wide_document():
    from htmlparser2_spark.engine.dom import parse_document, text_content

    wide = "<p>x</p>" * 200_000
    nodes = parse_document(wide)
    assert len(nodes) == 400_000
    assert text_content(nodes) == "x" * 200_000
