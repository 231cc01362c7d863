"""The Parser's split tag path, kept as a differential reference.

:class:`SplitParser` opts out of the tokenizer's one-event
``on_light_open_tag``, so every open tag arrives as
``on_open_tag_name``, one event per attribute and ``on_open_tag_end``,
and carries the tag-name, open-tag and close-tag bodies from before the
one-event tag: no common-case open or close branch and no helper shared
with it. ``Parser`` must give every handler, under every option set,
the same events, with the same ``start_index``/``end_index``, as this
class does (tests/test_fuzz.py::test_fused_tag_events_equal_split_path,
tests/test_tree_rules.py and tools/fuzz_campaign.py). Those compare an
EventCollector, which has ``on_attribute`` and so gets attribute events
from the one-event tag, and an index-carrying DomArrayHandler, which
reads ``_attrib_quotes`` in ``on_open_tag``.

Parser and SplitParser run the same ``Tokenizer.run`` loop, so they
cannot disagree about its tag probes. :class:`ProbeCheckingParser`
checks those against the helpers instead: every open tag's name end and
special class that the loop hands on must be the reference's
(:func:`reference_open_tag`), and wherever the loop emits a tag itself
(a bare ``<name>``, an alphanumeric ``</name>``), rerunning
``_open_tag`` or ``_closing_tag`` at the same position must give the
same events and resume position.
"""

from __future__ import annotations

import re
import string

from htmlparser2_spark.engine.parser import (
    _CTX_MATHML,
    _CTX_NONE,
    _CTX_SVG,
    _HTML_INTEGRATION_ELEMENTS,
    OPEN_IMPLIES_CLOSE,
    SVG_CASE_ADJUSTMENTS,
    Parser,
    ParserOptions,
)
from htmlparser2_spark.engine.tokenizer import Tokenizer

__all__ = [
    "ProbeCheckingParser",
    "SplitParser",
    "ordered_nodes",
    "parsed",
    "reference_open_tag",
]


def parsed(parser_class, handler, doc: str, options=None):
    """``handler`` once a ``parser_class`` attached to it has parsed
    ``doc``."""
    parser = parser_class(handler, options)
    handler.attach(parser)
    parser.parse(doc)
    return handler


def ordered_nodes(nodes: list[dict]) -> list[dict]:
    """DomArrayHandler nodes with ``attrs`` and ``attr_quotes`` as item
    lists, so that comparing them also compares attribute order."""
    return [
        {
            **n,
            "attrs": n["attrs"] and list(n["attrs"].items()),
            "attr_quotes": n["attr_quotes"] and list(n["attr_quotes"].items()),
        }
        for n in nodes
    ]


class SplitParser(Parser):
    on_light_open_tag = None

    def _read_tag_name(self, start: int, end: int) -> str:
        name = self.buffer[start:end]
        if self.options.lower_case_tags:
            name = name.lower()
        else:
            return name
        if not self.html_mode:
            return name
        if self._foreign[-1] == _CTX_SVG:
            return SVG_CASE_ADJUSTMENTS.get(name, name)
        if len(self._foreign) > 1:
            adjusted = SVG_CASE_ADJUSTMENTS.get(name)
            if adjusted is not None and adjusted in self._stack:
                return adjusted
        if self._foreign[-1] == _CTX_NONE:
            return "img" if name == "image" else name
        return name

    def _emit_open_tag(self, name: str) -> None:
        self._open_tag_start = self.start_index
        self._tagname = name
        if self.html_mode and name == "form" and "form" in self._stack:
            self._tagname = ""
            return
        implies_close = self.html_mode and OPEN_IMPLIES_CLOSE.get(name)
        if implies_close:
            stack = self._stack
            while stack and stack[-1] in implies_close:
                self._pop_element(True)
        if not self._is_void(name):
            self._stack.append(name)
            if self.html_mode:
                if name == "svg":
                    self._foreign.append(_CTX_SVG)
                elif name == "math":
                    self._foreign.append(_CTX_MATHML)
                elif name in _HTML_INTEGRATION_ELEMENTS:
                    self._foreign.append(_CTX_NONE)
        cb = self._cb_open_tag_name
        if cb:
            cb(name)
        self._attribs = {}
        self._attrib_quotes = {}

    def _end_open_tag(self, is_implied: bool) -> None:
        self.start_index = self._open_tag_start
        if self._attribs is not None:
            cb = self._cb_open_tag
            if cb:
                cb(self._tagname, self._attribs, is_implied)
            self._attribs = None
            self._attrib_quotes = None
        if self._is_void(self._tagname):
            cb = self._cb_close_tag
            if cb:
                cb(self._tagname, True)
        self._tagname = ""

    def on_close_tag(self, start: int, end: int) -> None:
        self.end_index = end
        name = self._read_tag_name(start, end)
        if not self._is_void(name):
            stack = self._stack
            if stack and stack[-1] == name:
                self._pop_element(False)
                self.start_index = end + 1
                return
            try:
                pos = len(stack) - 1 - stack[::-1].index(name)
            except ValueError:
                pos = -1
            if pos != -1:
                while len(stack) > pos + 1:
                    self._pop_element(True)
                self._pop_element(False)
            elif self.html_mode and name == "p":
                self._emit_open_tag("p")
                self._close_current_tag(True)
        elif self.html_mode and name == "br":
            if self._cb_open_tag_name:
                self._cb_open_tag_name("br")
            if self._cb_open_tag:
                self._cb_open_tag("br", {}, True)
            if self._cb_close_tag:
                self._cb_close_tag("br", False)
        self.start_index = end + 1


# The reference's text-only tags (Tokenizer.ts:138-176), compared after
# ASCII-only case folding.
_SPECIAL_NAMES = frozenset((
    "iframe", "noembed", "noframes", "plaintext", "script", "style",
    "title", "textarea", "xmp",
))
_ASCII_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)
_NAME_END = re.compile(r"[ \t\n\f\r/>]")


def reference_open_tag(buf: str, i: int, xml: bool, foreign: bool):
    """``(j, special)`` for an open tag whose name starts at ``i``:
    the name end (-1 when the name runs to EOF) and the special name
    the tag opens, else None."""
    m = _NAME_END.search(buf, i)
    if m is None:
        return -1, None
    name = buf[i:m.start()].translate(_ASCII_LOWER)
    special = not xml and not foreign and name in _SPECIAL_NAMES
    return m.start(), name if special else None


class _Recorder:
    """A callback set that records every ``on_*`` event."""

    def __init__(self) -> None:
        self.events: list[tuple] = []

    def is_in_foreign_context(self) -> bool:
        raise AssertionError("a helper given its name end needs no context")

    def __getattr__(self, name: str):
        if not name.startswith("on_"):
            raise AttributeError(name)
        return lambda *args: self.events.append((name, args))


def _rerun(helper: str, buf: str, *args):
    """(events, return value) of one tokenizer helper run alone."""
    recorder = _Recorder()
    result = getattr(Tokenizer(recorder), helper)(buf, *args)
    return recorder.events, result


class _ProbeCheckingTokenizer(Tokenizer):
    """Checks the arguments the scan loop passes the open-tag helpers,
    and tracks whether a helper is running, so that an ``on_close_tag``
    or ``on_light_open_tag`` outside one is known to come from the loop
    itself."""

    in_helper = 0

    def _checked(self, helper, buf, i, j, special):
        foreign = self.cbs.is_in_foreign_context()
        assert (j, special) == reference_open_tag(buf, i, self.xml_mode, foreign), (
            buf, i, j, special,
        )
        self.in_helper += 1
        try:
            return helper(buf, i, j, special)
        finally:
            self.in_helper -= 1

    def _open_tag(self, buf, i, j, special):
        return self._checked(super()._open_tag, buf, i, j, special)

    def _light_open_tag(self, buf, i, j, special):
        return self._checked(super()._light_open_tag, buf, i, j, special)

    def _closing_tag(self, buf, i):
        self.in_helper += 1
        try:
            return super()._closing_tag(buf, i)
        finally:
            self.in_helper -= 1


class ProbeCheckingParser(Parser):
    """A Parser whose tokenizer's tag probes are checked against the
    helpers (module docstring). Whole documents only: streaming keeps
    an injected tokenizer class off its incremental path."""

    def __init__(self, handler, options: ParserOptions | None = None) -> None:
        o = options or ParserOptions()
        super().__init__(handler, ParserOptions(**{
            **{k: getattr(o, k) for k in ParserOptions.__slots__},
            "tokenizer_class": _ProbeCheckingTokenizer,
        }))

    def on_light_open_tag(self, start: int, end: int, attrs, gt: int) -> None:
        if not self.tokenizer.in_helper:
            buf = self.buffer
            assert attrs == () and gt == end, (buf, start, end)
            assert reference_open_tag(
                buf, start, False, self.is_in_foreign_context()
            ) == (end, None) and buf[end] == ">", (buf, start, end)
            assert _rerun("_open_tag", buf, start, end, None) == (
                [("on_open_tag_name", (start, end)), ("on_open_tag_end", (end,))],
                (end + 1, end + 1),
            ), (buf, start, end)
        super().on_light_open_tag(start, end, attrs, gt)

    def on_close_tag(self, start: int, end: int) -> None:
        if not self.tokenizer.in_helper:
            assert _rerun("_closing_tag", self.buffer, start) == (
                [("on_close_tag", (start, end))], (end + 1, end + 1),
            ), (self.buffer, start, end)
        super().on_close_tag(start, end)
