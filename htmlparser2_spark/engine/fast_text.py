"""Fast text extraction: tokenizer-only path with foreign-content bail.

DomUtils ``textContent`` depends on the Parser layer for exactly two
things: CDATA routing (text in foreign context / with recognizeCDATA,
comment otherwise) and the foreign-context feedback that disables
special-tag detection inside ``<svg>``/``<math>``. For the vast majority
of real pages — no foreign content, default HTML options — text can be
collected straight from the (golden-verified) tokenizer callbacks,
skipping the whole tag-stack/attribute machinery. Documents that open an
``svg``/``math`` element raise an internal bail and fall back to the
full parser, so results are always identical to the slow path (pinned by
tests/test_fast_text.py over every golden input plus fuzz).
"""

from __future__ import annotations

from .parser import Parser, ParserOptions
from .tokenizer import Tokenizer

__all__ = ["fast_text_content", "FastTextExtractor", "TextHandler"]


class _Bail(Exception):
    """Document needs the full parser (foreign content seen)."""


class _FastHandler:
    """Minimal tokenizer callback set: collect text, count tags."""

    __slots__ = ("buf", "parts", "n_tags")

    def __init__(self) -> None:
        self.buf = ""
        self.parts: list[str] = []
        self.n_tags = 0

    def reset(self, buf: str) -> None:
        self.buf = buf
        self.parts.clear()
        self.n_tags = 0

    def is_in_foreign_context(self) -> bool:
        return False

    def on_text(self, start: int, end: int) -> None:
        self.parts.append(self.buf[start:end])

    def on_text_decoded(self, s: str, end: int) -> None:
        # Batched contract (tokenizer run loop): one pre-decoded string
        # per entity-carrying text run — replaces the alternating
        # on_text/on_text_entity stream on the hot path; ``end`` is the
        # run's exclusive buffer offset (positional consumers like the
        # Parser's opt-in need it; this handler doesn't). RCDATA content
        # (<title>/<textarea>) still arrives via the per-event methods.
        self.parts.append(s)

    def on_text_entity(self, cp: int, end: int) -> None:
        self.parts.append(chr(cp))

    def on_open_tag_name(self, start: int, end: int, attrs=(), gt=0) -> None:
        self.n_tags += 1
        length = end - start
        if (length == 3 or length == 4) and self.buf[start:end].lower() in (
            "svg",
            "math",
        ):
            raise _Bail

    # A light open tag (Tokenizer class docstring) arrives as the one
    # event on_light_open_tag(start, end, attrs, gt) that every Parser
    # handler gets; its attribute and on_open_tag_end events are no-ops
    # here, so the one event is the name event. Other tags take the
    # exact machine, whose attribute events are ignored below.
    on_light_open_tag = on_open_tag_name

    # CDATA only tokenizes from literal "<![CDATA[", which in default
    # HTML mode (non-foreign, recognizeCDATA off) the parser reports as a
    # comment — i.e. no text. Foreign context would bail before this.
    def on_cdata(self, start: int, end: int, offset: int) -> None:
        pass

    def on_open_tag_end(self, end: int) -> None:
        pass

    def on_self_closing_tag(self, end: int) -> None:
        pass

    def on_close_tag(self, start: int, end: int) -> None:
        pass

    def on_attrib_name(self, start: int, end: int) -> None:
        pass

    def on_attrib_data(self, start: int, end: int) -> None:
        pass

    def on_attrib_entity(self, cp: int) -> None:
        pass

    def on_attrib_end(self, quote: int, end: int) -> None:
        pass

    def on_comment(self, start: int, end: int, offset: int) -> None:
        pass

    def on_declaration(self, start: int, end: int) -> None:
        pass

    def on_processing_instruction(self, start: int, end: int) -> None:
        pass

    def on_end(self) -> None:
        pass


class TextHandler:
    """Parser-level textContent collector: text parts plus opened-tag
    count, reset by every ``Parser.parse`` (``on_parser_init``). The
    fallback of :class:`FastTextExtractor` and the text extractor for
    non-default parser options (functions/udfs.py ``_make_extract``)."""

    __slots__ = ("parts", "n_tags")

    def __init__(self) -> None:
        self.on_parser_init(None)

    def on_parser_init(self, parser) -> None:
        self.parts: list[str] = []
        self.n_tags = 0

    def on_text(self, data: str) -> None:
        self.parts.append(data)

    def on_open_tag_name(self, name: str) -> None:
        self.n_tags += 1


class FastTextExtractor:
    """Reusable extractor: tokenizer-only fast path + full fallback.

    Only valid for default HTML options (decode_entities on, no
    xml_mode/recognize_* overrides); construct the full Parser directly
    for anything else.
    """

    def __init__(self) -> None:
        self._fast = _FastHandler()
        self._tokenizer = Tokenizer(self._fast)
        self._full = TextHandler()
        self._parser = Parser(self._full, ParserOptions())
        self.n_fallbacks = 0

    def extract(self, doc: str) -> tuple[str, int]:
        """Returns (text_content, n_open_tags)."""
        fast = self._fast
        fast.reset(doc)
        try:
            self._tokenizer.run(doc)
            return "".join(fast.parts), fast.n_tags
        except _Bail:
            self.n_fallbacks += 1
            full = self._full
            self._parser.parse(doc)
            return "".join(full.parts), full.n_tags


def fast_text_content(doc: str) -> str:
    """One-shot helper (tests/small jobs)."""
    return FastTextExtractor().extract(doc)[0]
