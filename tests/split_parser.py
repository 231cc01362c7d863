"""The Parser's tag path before plain tags were fused, kept as a
differential reference.

:class:`SplitParser` opts out of the tokenizer's ``on_plain_open_tag``
and ``on_attr_open_tag`` events, so every open tag arrives as
``on_open_tag_name``, one event per attribute and ``on_open_tag_end``,
and carries the earlier tag-name, open-tag and close-tag bodies: no
common-case open or close branch and no helper shared with the fused
events. ``Parser`` must give every handler the same events,
with the same ``start_index``/``end_index``, as this class does
(tests/test_fuzz.py::test_fused_tag_events_equal_split_path,
tests/test_tree_rules.py and tools/fuzz_campaign.py). Those compare an
EventCollector, whose ``on_attribute`` keeps the per-attribute events,
and a DomArrayHandler, which has none and so gets the one-event
attribute tags.
"""

from __future__ import annotations

from htmlparser2_spark.engine.parser import (
    _CTX_MATHML,
    _CTX_NONE,
    _CTX_SVG,
    _HTML_INTEGRATION_ELEMENTS,
    OPEN_IMPLIES_CLOSE,
    SVG_CASE_ADJUSTMENTS,
    Parser,
)

__all__ = ["SplitParser", "ordered_nodes", "parsed"]


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
    on_plain_open_tag = None
    on_attr_open_tag = None

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
