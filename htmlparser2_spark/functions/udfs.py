"""Vectorized (Arrow-batched) Spark UDFs wrapping the parse engine.

All heavy work happens inside Arrow UDFs (``F.arrow_udf``) over Arrow
record batches — no per-row Python dispatch from Spark's side and no
pandas layer (BASELINE.json input_hint).
Equivalents of the reference's API surface (/root/reference/src/index.ts):

* ``extract_text_udf``  — parseDocument + DomUtils textContent, fused into
  a text-only handler (no DOM materialization) for the hot path
* ``inner_text_udf``    — DomUtils innerText (block-aware text)
* ``clean_text_udf``    — boilerplate-stripping variant
* ``main_content_udf``  — readability-lite main-content block selection
* ``markdown_udf``      — structure-keeping HTML -> Markdown
* ``dom_nodes_udf``     — parseDocument as an adjacency node array
* ``node_counts_udf``   — per-document (name, cnt) node-name histogram
* ``parser_events_udf`` — the Handler event stream (testHelper shape)
* ``feed_udf``          — parseFeed
* ``sitemap_udf``       — sitemap / sitemap-index parse
* ``doc_stats_udf``     — per-document node/text/event counters
* ``sniff_decode_udf``  — charset sniff + decode of raw bytes

Every factory but ``sniff_decode_udf`` is one :func:`_doc_udf`, which
builds a per-document function once per Arrow batch, runs it over the
batch with :func:`_each_doc`, the one per-document loop (each cell
decoded by :func:`_to_str`, the one decoder), and returns one
``pa.array`` of the UDF's Spark type (``sniff_decode_udf`` is a
:func:`_cell_udf`, the plain per-value form). A timestamp value
must be UTC-aware or naive UTC (see :func:`_doc_udf`). Decode
policy: NULL is the empty document, a STRING cell is used as is, a
BINARY cell decodes as UTF-8 with U+FFFD replacement (``parse_pages``'s
``sniff_charset`` sniffs BINARY cells instead). Text extractors
(``text``, ``main``, ``markdown``) come from :func:`_make_extract`,
shared with ``plans/extract_job.parse_pages``, whose ``mapInArrow``
pass runs the same loop.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..engine.dom import DomArrayHandler, clean_text, inner_text
from ..engine.encoding import decode_html
from ..engine.fast_text import FastTextExtractor, TextHandler
from ..engine.feed import get_feed
from ..engine.parser import Parser, ParserOptions
from ..engine.sitemap import get_sitemap

__all__ = [
    "extract_text_udf",
    "clean_text_udf",
    "main_content_udf",
    "inner_text_udf",
    "dom_nodes_udf",
    "node_counts_udf",
    "parser_events_udf",
    "feed_udf",
    "sitemap_udf",
    "markdown_udf",
    "sniff_decode_udf",
    "doc_stats_udf",
    "NODE_SCHEMA",
    "NODE_COUNT_SCHEMA",
    "EVENT_SCHEMA",
    "FEED_SCHEMA",
    "SITEMAP_SCHEMA",
    "STATS_SCHEMA",
]


def _to_str(value, sniff: bool = False) -> str:
    """The one payload decoder: an html cell (NULL, STRING or BINARY)
    -> document string. NULL is the empty document, a STRING is used as
    is, BINARY decodes as UTF-8 with U+FFFD replacement, or with
    ``sniff`` through the BOM + meta-prescan decoder
    (engine/encoding.py ``decode_html``)."""
    if isinstance(value, str):
        return value
    if value is None:
        return ""
    if sniff:
        return decode_html(value)[1]
    return bytes(value).decode("utf-8", "replace")


class _CountingHandler:
    """Counts events / nodes / text chars in one pass."""

    __slots__ = ("n_events", "n_tags", "n_text_chars", "max_depth", "_depth")

    def __init__(self) -> None:
        self.on_parser_init(None)

    def on_parser_init(self, parser) -> None:
        self.n_events = 0
        self.n_tags = 0
        self.n_text_chars = 0
        self.max_depth = 0
        self._depth = 0

    def on_open_tag(self, name, attrs, implied) -> None:
        self.n_events += 1
        self.n_tags += 1
        self._depth += 1
        if self._depth > self.max_depth:
            self.max_depth = self._depth

    def on_close_tag(self, name, implied) -> None:
        self.n_events += 1
        if self._depth > 0:
            self._depth -= 1

    def on_text(self, data: str) -> None:
        self.n_events += 1
        self.n_text_chars += len(data)

    def on_comment(self, data: str) -> None:
        self.n_events += 1

    def on_processing_instruction(self, name, data) -> None:
        self.n_events += 1


class _NodeCountHandler:
    """Per-document histogram of DOM node names without building the DOM.

    Counts exactly the nodes :class:`DomArrayHandler` would emit —
    including the merged-text-run rule (adjacent text events form ONE
    text node) and null names for text/comment/cdata — so
    ``explode(node_counts) -> groupBy(name) -> sum(cnt)`` equals
    ``explode(dom_nodes) -> groupBy(node.name) -> count()`` while
    transferring ~tens of (name, cnt) pairs per doc instead of every
    node struct. The scale path for tag histograms.
    """

    __slots__ = ("counts", "_text_open")

    def __init__(self) -> None:
        self.on_parser_init(None)

    def on_parser_init(self, parser) -> None:
        self.counts: dict = {}
        self._text_open = False

    def _inc(self, name) -> None:
        c = self.counts
        c[name] = c.get(name, 0) + 1

    def on_open_tag(self, name, attrs, implied) -> None:
        self._inc(name)
        self._text_open = False

    def on_close_tag(self, name, implied) -> None:
        self._text_open = False

    def on_text(self, data: str) -> None:
        if not self._text_open:
            self._inc(None)
            self._text_open = True

    def on_comment(self, data: str) -> None:
        self._inc(None)

    def on_comment_end(self) -> None:
        self._text_open = False

    def on_cdata_start(self) -> None:
        self._inc(None)
        self._text_open = False

    def on_cdata_end(self) -> None:
        self._text_open = False

    def on_processing_instruction(self, name, data) -> None:
        self._inc(name)
        self._text_open = False


def _make_parser(handler, options: dict, *, batch_text: bool = False) -> Parser:
    # batch_text=True opts in to the tokenizer's pre-decoded text-run
    # batching (engine/parser.py __init__): only for handlers that
    # consume neither per-event granularity nor per-entity positions —
    # text/DOM-content extraction, feeds, node-name histograms.
    # Event-stream and positional UDFs (parser_events_udf,
    # doc_stats_udf, dom_nodes_udf) MUST keep the exact stream.
    return Parser(handler, ParserOptions(**options), batch_text=batch_text)


def _make_extract(mode: str, **options):
    """Reusable extractor: doc string -> (extracted_text, n_tags), reset
    per document. ``options`` are ParserOptions keywords; every parser
    here batches text (no mode reads per-event text or positions).

    * ``text``: full textContent. Default options take the
      tokenizer-only FastTextExtractor (the hot path), any other the
      full Parser with one :class:`TextHandler`; ``n_tags`` counts
      opened tags.
    * ``main``: the readability-lite main-content block of the
      adjacency DOM (``DomArrayHandler``); ``n_tags`` counts its
      element nodes.
    * ``markdown``: engine/markdown.py's MarkdownExtractor, which
      renders each element as the Parser closes it; ``n_tags`` counts
      opened elements.
    """
    if mode == "text":
        if not options:
            return FastTextExtractor().extract
        text = TextHandler()
        parser = _make_parser(text, options, batch_text=True)

        def extract_text(doc: str) -> tuple[str, int]:
            parser.parse(doc)
            return "".join(text.parts), text.n_tags

        return extract_text
    if mode == "main":
        from ..engine.readability import main_content_text

        dom = DomArrayHandler(with_indices=False)
        parser = _make_parser(dom, options, batch_text=True)

        def extract_main(doc: str) -> tuple[str, int]:
            parser.parse(doc)
            nodes = dom.nodes
            n_tags = sum(1 for n in nodes if n["type"] in ("tag", "script", "style"))
            return main_content_text(nodes), n_tags

        return extract_main
    if mode == "markdown":
        from ..engine.markdown import MarkdownExtractor

        return MarkdownExtractor(**options).extract
    raise ValueError(f"unknown extract mode: {mode!r}")


def _each_doc(html: pa.Array, one, sniff: bool = False):
    """The one per-document loop: ``one(doc)`` for every cell of the
    Arrow html column, decoded by :func:`_to_str`. Yields
    ``(value, None)``, or ``(None, error class name)`` for a document
    whose call raises, so one bad document never fails the batch."""
    for v in html.to_pylist():
        try:
            yield one(_to_str(v, sniff)), None
        except Exception as exc:
            yield None, type(exc).__name__


def _cell_udf(fn, return_type):
    """A per-value Arrow UDF: ``fn`` of every cell of its one column
    (NULL arrives as None), the values leaving as one ``pa.array`` of
    ``return_type``'s Arrow type (a struct is a dict, an array a
    list)."""
    arrow_type = to_arrow_type(return_type)

    def run(cells: pa.Array) -> pa.Array:
        return pa.array([fn(v) for v in cells.to_pylist()], type=arrow_type)

    return F.arrow_udf(run, return_type)


def _doc_udf(return_type, make):
    """The one Arrow UDF body over an html column. ``make()`` runs once
    per Arrow batch and returns the per-document function, typically
    closing over one Parser that ``parse()`` resets per document, which
    :func:`_each_doc` runs over the batch. Its values become one
    ``pa.array`` of ``return_type``'s Arrow type: a struct or a map is
    a dict (a struct's missing keys are NULL fields, extra keys are
    ignored), an array a list. A timestamp value must be UTC-aware or
    naive UTC: pyarrow reads an aware datetime's wall clock as UTC and
    drops its offset. A document whose function raises or returns None
    gets NULL (a struct of NULLs), so one bad document never fails the
    batch."""
    arrow_type = to_arrow_type(return_type)
    failed = {} if isinstance(return_type, StructType) else None

    def run(html: pa.Array) -> pa.Array:
        return pa.array(
            [failed if value is None else value
             for value, _ in _each_doc(html, make())],
            type=arrow_type,
        )

    return F.arrow_udf(run, return_type)


def _parsed(new_handler, result, options: dict, *, batch_text: bool = False):
    """``make`` for a UDF whose value is ``result(handler)`` after one
    parse of the document."""

    def make():
        handler = new_handler()
        parser = _make_parser(handler, options, batch_text=batch_text)

        def one(doc: str):
            parser.parse(doc)
            return result(handler)

        return one

    return make


def _on_dom(fn, options: dict):
    """``make`` for a UDF whose value is ``fn(nodes)`` of the parsed
    adjacency DOM (no source indices, batched text)."""
    return _parsed(
        lambda: DomArrayHandler(with_indices=False),
        lambda dom: fn(dom.nodes),
        options,
        batch_text=True,
    )


def _extracted(mode: str, options: dict):
    """``make`` for a UDF whose value is the text of ``_make_extract``."""

    def make():
        extract = _make_extract(mode, **options)
        return lambda doc: extract(doc)[0]

    return make


# ------------------------------------------------------------------
# The UDF factories take engine options and return a column fn.


def extract_text_udf(**options):
    return _doc_udf(StringType(), _extracted("text", options))


def inner_text_udf(**options):
    return _doc_udf(StringType(), _on_dom(inner_text, options))


def clean_text_udf(**options):
    return _doc_udf(StringType(), _on_dom(clean_text, options))


def main_content_udf(**options):
    """Readability-lite main-content selection (north rule's "HTML
    boilerplate strip ... DOM heuristics"): parse, score block
    candidates by link-penalized subtree text mass, return the winning
    block's normalized text (engine/readability.py) — the same path as
    ``parse_pages(mode="main")``."""
    return _doc_udf(StringType(), _extracted("main", options))


NODE_SCHEMA = ArrayType(
    StructType(
        [
            StructField("node_id", IntegerType()),
            StructField("parent_id", IntegerType()),
            StructField("idx_in_parent", IntegerType()),
            StructField("type", StringType()),
            StructField("name", StringType()),
            StructField("attrs", MapType(StringType(), StringType())),
            StructField("attr_quotes", MapType(StringType(), StringType())),
            StructField("data", StringType()),
            StructField("start_index", IntegerType()),
            StructField("end_index", IntegerType()),
        ]
    )
)


NODE_ANC_SCHEMA = ArrayType(
    StructType(
        list(NODE_SCHEMA.elementType.fields)
        + [StructField("ancestors", ArrayType(IntegerType()))]
    )
)


def dom_nodes_udf(with_ancestors: bool = False, **options):
    """``with_ancestors=True`` adds an ``ancestors array<int>`` field
    (open-element node ids, root-first) — the descendant axis for
    relational DOM queries (operators/domquery.py elements_inside)."""
    # Returning handler.nodes is safe: on_parser_init binds a *fresh*
    # list per document, so a returned list is never mutated by the
    # next parse.
    return _doc_udf(
        NODE_ANC_SCHEMA if with_ancestors else NODE_SCHEMA,
        _parsed(
            lambda: DomArrayHandler(with_ancestors=with_ancestors),
            lambda dom: dom.nodes,
            options,
        ),
    )


NODE_COUNT_SCHEMA = ArrayType(
    StructType(
        [
            StructField("name", StringType()),
            StructField("cnt", IntegerType()),
        ]
    )
)


def node_counts_udf(**options):
    """(name, cnt) histogram of DOM node names per document.

    Same node universe as :func:`dom_nodes_udf` (see
    :class:`_NodeCountHandler`) at a fraction of the transfer/explode
    cost: output size is bounded by distinct names per doc, not node
    count, so the downstream ``explode -> groupBy -> sum`` shuffles
    kilobytes per partition at any corpus scale.
    """
    return _doc_udf(
        NODE_COUNT_SCHEMA,
        _parsed(
            _NodeCountHandler,
            lambda h: [{"name": k, "cnt": v} for k, v in h.counts.items()],
            options,
            batch_text=True,
        ),
    )


EVENT_SCHEMA = ArrayType(
    StructType(
        [
            StructField("seq", IntegerType()),
            StructField("event", StringType()),
            StructField("name", StringType()),
            StructField("data", StringType()),
            StructField("attrs", MapType(StringType(), StringType())),
            StructField("is_implied", BooleanType()),
            StructField("start_index", IntegerType()),
            StructField("end_index", IntegerType()),
        ]
    )
)


class _EventArrayHandler:
    """Parser events as flat records (testHelper-equivalent shape)."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.parser: Parser | None = None

    def on_parser_init(self, parser) -> None:
        self.parser = parser
        self.events = []

    def _push(self, event, name=None, data=None, attrs=None, implied=None):
        p = self.parser
        self.events.append(
            {
                "seq": len(self.events),
                "event": event,
                "name": name,
                "data": data,
                "attrs": attrs,
                "is_implied": implied,
                "start_index": p.start_index,
                "end_index": p.end_index,
            }
        )

    def on_open_tag(self, name, attrs, implied):
        self._push("opentag", name=name, attrs=dict(attrs), implied=implied)

    def on_close_tag(self, name, implied):
        self._push("closetag", name=name, implied=implied)

    def on_text(self, data):
        self._push("text", data=data)

    def on_comment(self, data):
        self._push("comment", data=data)

    def on_cdata_start(self):
        self._push("cdatastart")

    def on_cdata_end(self):
        self._push("cdataend")

    def on_processing_instruction(self, name, data):
        self._push("processinginstruction", name=name, data=data)


def parser_events_udf(**options):
    return _doc_udf(
        EVENT_SCHEMA, _parsed(_EventArrayHandler, lambda h: h.events, options)
    )


_MEDIA_SCHEMA = StructType(
    [
        StructField("medium", StringType()),
        StructField("isDefault", BooleanType()),
        StructField("url", StringType()),
        StructField("type", StringType()),
        StructField("expression", StringType()),
        StructField("lang", StringType()),
        StructField("fileSize", LongType()),
        StructField("bitrate", LongType()),
        StructField("framerate", LongType()),
        StructField("samplingrate", LongType()),
        StructField("channels", LongType()),
        StructField("duration", LongType()),
        StructField("height", LongType()),
        StructField("width", LongType()),
    ]
)

FEED_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("id", StringType()),
        StructField("title", StringType()),
        StructField("link", StringType()),
        StructField("description", StringType()),
        StructField("updated", TimestampType()),
        StructField("author", StringType()),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("id", StringType()),
                        StructField("title", StringType()),
                        StructField("link", StringType()),
                        StructField("description", StringType()),
                        StructField("pubDate", TimestampType()),
                        StructField("media", ArrayType(_MEDIA_SCHEMA)),
                    ]
                )
            ),
        ),
    ]
)


def feed_udf():
    """parseFeed (engine xmlMode): a struct of NULLs for non-feed
    documents. ``updated`` and ``pubDate`` are UTC (``feed.parse_date``
    converts every offset)."""
    return _doc_udf(FEED_SCHEMA, _on_dom(get_feed, {"xml_mode": True}))


SITEMAP_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField(
            "entries",
            ArrayType(
                StructType(
                    [
                        StructField("loc", StringType()),
                        StructField("lastmod", TimestampType()),
                        StructField("changefreq", StringType()),
                        StructField("priority", DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def markdown_udf(**options):
    """HTML -> Markdown (engine/markdown.py): the structured-text
    shaping step of a training pipeline — headings/lists/links/tables
    kept, boilerplate head/script/style dropped. The same path as
    ``parse_pages(mode="markdown")``: one reused MarkdownExtractor per
    Arrow batch."""
    return _doc_udf(StringType(), _extracted("markdown", options))


def sniff_decode_udf(default: str = "utf-8"):
    """Per-document charset sniff + decode (engine/encoding.py: BOM,
    then WHATWG-style meta prescan of the first 1024 bytes) ->
    ``struct<charset string, decoded string>``. The ingestion step the
    reference's byte-stream adapter skips by assuming UTF-8
    (src/WritableStream.ts:20-41); NULL bytes decode as ('<default>',
    '')."""
    schema = StructType(
        [
            StructField("charset", StringType()),
            StructField("decoded", StringType()),
        ]
    )
    return _cell_udf(lambda v: decode_html(v if v is not None else b"", default), schema)


def sitemap_udf():
    """Sitemap/sitemap-index parse (engine xmlMode, same batch shape
    as ``feed_udf``, ``lastmod`` in UTC): a struct of NULLs for
    non-sitemap documents."""
    return _doc_udf(SITEMAP_SCHEMA, _on_dom(get_sitemap, {"xml_mode": True}))


STATS_SCHEMA = StructType(
    [
        StructField("n_events", IntegerType()),
        StructField("n_tags", IntegerType()),
        StructField("n_text_chars", IntegerType()),
        StructField("max_depth", IntegerType()),
    ]
)


def doc_stats_udf(**options):
    return _doc_udf(
        STATS_SCHEMA,
        _parsed(
            _CountingHandler,
            lambda h: {name: getattr(h, name) for name in STATS_SCHEMA.names},
            options,
        ),
    )
