"""Vectorized (Arrow-batched) Spark UDFs wrapping the parse engine.

All heavy work happens inside pandas UDFs over Arrow record batches — no
per-row Python dispatch from Spark's side (BASELINE.json input_hint).
Equivalents of the reference's API surface (/root/reference/src/index.ts):

* ``extract_text_udf``  — parseDocument + DomUtils textContent, fused into
  a text-only handler (no DOM materialization) for the hot path
* ``clean_text_udf``    — boilerplate-stripping variant
* ``main_content_udf``  — readability-lite main-content block selection
* ``dom_nodes_udf``     — parseDocument as an adjacency node array
* ``parser_events_udf`` — the Handler event stream (testHelper shape)
* ``feed_udf``          — parseFeed
* ``doc_stats_udf``     — per-document node/text/event counters
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
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


def _to_str(value) -> str:
    if isinstance(value, (bytes, bytearray, memoryview)):
        return bytes(value).decode("utf-8", "replace")
    return value or ""


class _TextHandler:
    """Text-only handler: textContent without building a DOM."""

    __slots__ = ("parts",)

    def __init__(self) -> None:
        self.parts: list[str] = []

    def on_text(self, data: str) -> None:
        self.parts.append(data)


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


def _make_parser(handler, options: dict, *, batch_text: bool = False) -> Parser:
    # batch_text=True opts in to the tokenizer's pre-decoded text-run
    # batching (engine/parser.py __init__): only for handlers that
    # consume neither per-event granularity nor per-entity positions —
    # text/DOM-content extraction, feeds, node-name histograms.
    # Event-stream and positional UDFs (parser_events_udf,
    # doc_stats_udf, dom_nodes_udf) MUST keep the exact stream.
    return Parser(handler, ParserOptions(**options), batch_text=batch_text)


# ------------------------------------------------------------------
# The pandas UDF factories take engine options and return a column fn.
# A fresh Parser is reused across the batch (reset per document), so
# per-row setup cost is one object reset, not object construction.


def extract_text_udf(**options):
    @F.pandas_udf(StringType())
    def _extract(html: pd.Series) -> pd.Series:
        if not options:
            # Default HTML options: tokenizer-only fast path (~2x),
            # bails to the full parser on foreign content.
            from ..engine.fast_text import FastTextExtractor

            extractor = FastTextExtractor()

            def one(value) -> str:
                return extractor.extract(_to_str(value))[0]

        else:
            handler = _TextHandler()
            parser = _make_parser(handler, options, batch_text=True)

            def one(value) -> str:
                handler.parts.clear()
                parser.parse(_to_str(value))
                return "".join(handler.parts)

        return html.map(one)

    return _extract


def inner_text_udf(**options):
    @F.pandas_udf(StringType())
    def _inner(html: pd.Series) -> pd.Series:
        # One handler+parser per batch; parse() resets them per document
        # (on_parser_init re-inits the tree, like the reference
        # DomHandler), so per-row cost is a state reset, never object
        # construction.
        handler = DomArrayHandler(with_indices=False)
        parser = _make_parser(handler, options, batch_text=True)

        def one(value) -> str:
            parser.parse(_to_str(value))
            return inner_text(handler.nodes)

        return html.map(one)

    return _inner


def clean_text_udf(**options):
    @F.pandas_udf(StringType())
    def _clean(html: pd.Series) -> pd.Series:
        handler = DomArrayHandler(with_indices=False)
        parser = _make_parser(handler, options, batch_text=True)

        def one(value) -> str:
            parser.parse(_to_str(value))
            return clean_text(handler.nodes)

        return html.map(one)

    return _clean


def main_content_udf(**options):
    """Readability-lite main-content selection (north rule's "HTML
    boilerplate strip ... DOM heuristics"): parse, score block
    candidates by link-penalized subtree text mass, return the winning
    block's normalized text (engine/readability.py). Same batch shape
    as clean_text_udf: one reused parser per Arrow batch."""

    @F.pandas_udf(StringType())
    def _main(html: pd.Series) -> pd.Series:
        from ..engine.readability import main_content_text

        handler = DomArrayHandler(with_indices=False)
        parser = _make_parser(handler, options, batch_text=True)

        def one(value) -> str:
            parser.parse(_to_str(value))
            return main_content_text(handler.nodes)

        return html.map(one)

    return _main


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
    schema = NODE_ANC_SCHEMA if with_ancestors else NODE_SCHEMA

    @F.pandas_udf(schema)
    def _nodes(html: pd.Series) -> pd.Series:
        # Batch-level reuse is safe for the returned node lists:
        # on_parser_init binds a *fresh* list per document, so a
        # previously returned list is never mutated by the next parse.
        handler = DomArrayHandler(with_ancestors=with_ancestors)
        parser = _make_parser(handler, options)

        def one(value):
            parser.parse(_to_str(value))
            return handler.nodes

        return html.map(one)

    return _nodes


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

    @F.pandas_udf(NODE_COUNT_SCHEMA)
    def _counts(html: pd.Series) -> pd.Series:
        handler = _NodeCountHandler()
        parser = _make_parser(handler, options, batch_text=True)

        def one(value):
            parser.parse(_to_str(value))
            return [
                {"name": k, "cnt": v} for k, v in handler.counts.items()
            ]

        return html.map(one)

    return _counts


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
    @F.pandas_udf(EVENT_SCHEMA)
    def _events(html: pd.Series) -> pd.Series:
        handler = _EventArrayHandler()
        parser = _make_parser(handler, options)

        def one(value):
            parser.parse(_to_str(value))
            return handler.events

        return html.map(one)

    return _events


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
    @F.pandas_udf(FEED_SCHEMA)
    def _feed(xml: pd.Series) -> pd.DataFrame:
        handler = DomArrayHandler(with_indices=False)
        parser = _make_parser(handler, {"xml_mode": True}, batch_text=True)
        rows = []
        for value in xml:
            parser.parse(_to_str(value))
            feed = get_feed(handler.nodes)
            if feed is None:
                rows.append({f.name: None for f in FEED_SCHEMA.fields})
                continue
            items = [
                {
                    "id": it.get("id"),
                    "title": it.get("title"),
                    "link": it.get("link"),
                    "description": it.get("description"),
                    "pubDate": it.get("pubDate"),
                    "media": it.get("media") or [],
                }
                for it in feed.get("items", [])
            ]
            rows.append(
                {
                    "type": feed.get("type"),
                    "id": feed.get("id"),
                    "title": feed.get("title"),
                    "link": feed.get("link"),
                    "description": feed.get("description"),
                    "updated": feed.get("updated"),
                    "author": feed.get("author"),
                    "items": items,
                }
            )
        return pd.DataFrame(rows)

    return _feed


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
    kept, boilerplate head/script/style dropped. Same batch shape as
    extract_text_udf: one reused MarkdownExtractor per Arrow batch, the
    same path as ``parse_pages(mode="markdown")``."""

    @F.pandas_udf(StringType())
    def _md(html: pd.Series) -> pd.Series:
        from ..engine.markdown import MarkdownExtractor

        extract = MarkdownExtractor(**options).extract

        def one(value) -> str:
            return extract(_to_str(value))[0]

        return html.map(one)

    return _md


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

    @F.pandas_udf(schema)
    def _sniff(data: pd.Series) -> pd.DataFrame:
        from ..engine.encoding import decode_html

        rows = [
            decode_html(v if v is not None else b"", default) for v in data
        ]
        return pd.DataFrame(rows, columns=["charset", "decoded"])

    return _sniff


def sitemap_udf():
    """Sitemap/sitemap-index parse (engine xmlMode, same batch shape
    as ``feed_udf``): NULL struct for non-sitemap documents."""

    @F.pandas_udf(SITEMAP_SCHEMA)
    def _sitemap(xml: pd.Series) -> pd.DataFrame:
        handler = DomArrayHandler(with_indices=False)
        parser = _make_parser(handler, {"xml_mode": True}, batch_text=True)
        rows = []
        for value in xml:
            parser.parse(_to_str(value))
            sm = get_sitemap(handler.nodes)
            if sm is None:
                rows.append({"kind": None, "entries": None})
            else:
                rows.append(sm)
        return pd.DataFrame(rows)

    return _sitemap


STATS_SCHEMA = StructType(
    [
        StructField("n_events", IntegerType()),
        StructField("n_tags", IntegerType()),
        StructField("n_text_chars", IntegerType()),
        StructField("max_depth", IntegerType()),
    ]
)


def doc_stats_udf(**options):
    @F.pandas_udf(STATS_SCHEMA)
    def _stats(html: pd.Series) -> pd.DataFrame:
        handler = _CountingHandler()
        parser = _make_parser(handler, options)
        rows = []
        for value in html:
            parser.parse(_to_str(value))
            rows.append(
                {
                    "n_events": handler.n_events,
                    "n_tags": handler.n_tags,
                    "n_text_chars": handler.n_text_chars,
                    "max_depth": handler.max_depth,
                }
            )
        return pd.DataFrame(rows)

    return _stats
