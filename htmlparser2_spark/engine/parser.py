"""Forgiving HTML/XML parser: token events -> tree-construction events.

Re-expresses the reference parser's recovery semantics
(/root/reference/src/Parser.ts) over the scan-based tokenizer:

* ``openImpliesClose`` implicit-close table (Parser.ts:20-70)
* void elements emit open+implied-close (Parser.ts:74-94, 449-451)
* duplicate ``<form>`` suppression (Parser.ts:403-417)
* foreign-context stack for svg/math + HTML integration points
  (Parser.ts:96-114, 428-436, 522-533), SVG camelCase adjustment and the
  ``image`` -> ``img`` alias (Parser.ts:116-154, 359-391)
* close-tag matching with implied closes above the match, implicit
  ``<p>``/``<br>`` synthesis (Parser.ts:473-498)
* attribute assembly with first-occurrence-wins (Parser.ts:596-598)
* doctype/PI normalization (Parser.ts:602-655), CDATA routing
  (Parser.ts:679-696), EOF close-all (Parser.ts:699-708)
* ``startIndex``/``endIndex`` bookkeeping per event (Parser.ts:261-269)

Handlers receive materialized strings. A handler is any object with the
(optional) methods: ``on_open_tag_name(name)``, ``on_open_tag(name,
attrs, is_implied)``, ``on_close_tag(name, is_implied)``,
``on_attribute(name, value, quote)``, ``on_text(data)``,
``on_comment(data)``, ``on_comment_end()``, ``on_cdata_start()``,
``on_cdata_end()``, ``on_processing_instruction(name, data)``,
``on_end()``. Missing methods are skipped. ``quote`` is '"' / "'" /
``None`` (unquoted) / ``NO_VALUE`` (attribute without a value), mirroring
Parser.ts:581-594 where it is null / undefined.
"""

from __future__ import annotations

import re

from .tokenizer import (
    QUOTE_DOUBLE,
    QUOTE_NONE,
    QUOTE_SINGLE,
    Tokenizer,
)

__all__ = ["Parser", "ParserOptions", "NO_VALUE", "parse"]

# Sentinel distinguishing "attribute without a value" from "unquoted
# value" (the reference uses undefined vs null).
NO_VALUE = "__no_value__"

_FORM_TAGS = frozenset(
    ("input", "option", "optgroup", "select", "button", "datalist", "textarea")
)
_P_TAG = frozenset(("p",))
_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6", "p"))
_TABLE_SECTION_TAGS = frozenset(("thead", "tbody", "tfoot", "tr", "td", "th"))
_DDT_TAGS = frozenset(("dd", "dt"))
_RTP_TAGS = frozenset(("rt", "rp"))

OPEN_IMPLIES_CLOSE: dict[str, frozenset[str]] = {
    "tr": frozenset(("tr", "th", "td")),
    "th": frozenset(("th", "td")),
    "td": frozenset(("thead", "th", "td")),
    "body": frozenset(("head", "link", "script")),
    "a": frozenset(("a",)),
    "li": frozenset(("li",)),
    "p": _P_TAG,
    "h1": _HEADING_TAGS,
    "h2": _HEADING_TAGS,
    "h3": _HEADING_TAGS,
    "h4": _HEADING_TAGS,
    "h5": _HEADING_TAGS,
    "h6": _HEADING_TAGS,
    "select": _FORM_TAGS,
    "input": _FORM_TAGS,
    "output": _FORM_TAGS,
    "button": _FORM_TAGS,
    "datalist": _FORM_TAGS,
    "textarea": _FORM_TAGS,
    "option": frozenset(("option",)),
    "optgroup": frozenset(("optgroup", "option")),
    "dd": _DDT_TAGS,
    "dt": _DDT_TAGS,
    "address": _P_TAG,
    "article": _P_TAG,
    "aside": _P_TAG,
    "blockquote": _P_TAG,
    "details": _P_TAG,
    "div": _P_TAG,
    "dl": _P_TAG,
    "fieldset": _P_TAG,
    "figcaption": _P_TAG,
    "figure": _P_TAG,
    "footer": _P_TAG,
    "form": _P_TAG,
    "header": _P_TAG,
    "hr": _P_TAG,
    "main": _P_TAG,
    "nav": _P_TAG,
    "ol": _P_TAG,
    "pre": _P_TAG,
    "section": _P_TAG,
    "table": _P_TAG,
    "ul": _P_TAG,
    "rt": _RTP_TAGS,
    "rp": _RTP_TAGS,
    "thead": _TABLE_SECTION_TAGS,
    "tbody": _TABLE_SECTION_TAGS,
    "tfoot": _TABLE_SECTION_TAGS,
}

VOID_ELEMENTS = frozenset(
    (
        "area",
        "base",
        "basefont",
        "br",
        "col",
        "command",
        "embed",
        "frame",
        "hr",
        "img",
        "input",
        "isindex",
        "keygen",
        "link",
        "meta",
        "param",
        "source",
        "track",
        "wbr",
    )
)

_FOREIGN_CONTEXT_ELEMENTS = frozenset(("math", "svg"))

# HTML integration points; SVG-adjusted casing (e.g. "foreignObject").
_HTML_INTEGRATION_ELEMENTS = frozenset(
    ("mi", "mo", "mn", "ms", "mtext", "annotation-xml", "foreignObject", "desc", "title")
)

SVG_CASE_ADJUSTMENTS = {
    "altglyph": "altGlyph",
    "altglyphdef": "altGlyphDef",
    "altglyphitem": "altGlyphItem",
    "animatecolor": "animateColor",
    "animatemotion": "animateMotion",
    "animatetransform": "animateTransform",
    "clippath": "clipPath",
    "feblend": "feBlend",
    "fecolormatrix": "feColorMatrix",
    "fecomponenttransfer": "feComponentTransfer",
    "fecomposite": "feComposite",
    "feconvolvematrix": "feConvolveMatrix",
    "fediffuselighting": "feDiffuseLighting",
    "fedisplacementmap": "feDisplacementMap",
    "fedistantlight": "feDistantLight",
    "fedropshadow": "feDropShadow",
    "feflood": "feFlood",
    "fefunca": "feFuncA",
    "fefuncb": "feFuncB",
    "fefuncg": "feFuncG",
    "fefuncr": "feFuncR",
    "fegaussianblur": "feGaussianBlur",
    "feimage": "feImage",
    "femerge": "feMerge",
    "femergenode": "feMergeNode",
    "femorphology": "feMorphology",
    "feoffset": "feOffset",
    "fepointlight": "fePointLight",
    "fespecularlighting": "feSpecularLighting",
    "fespotlight": "feSpotLight",
    "fetile": "feTile",
    "feturbulence": "feTurbulence",
    "foreignobject": "foreignObject",
    "glyphref": "glyphRef",
    "lineargradient": "linearGradient",
    "radialgradient": "radialGradient",
    "textpath": "textPath",
}

# Foreign-context markers.
_CTX_NONE = 0
_CTX_SVG = 1
_CTX_MATHML = 2

# The foreign-context entry an opened element pushes: svg and math
# start foreign content, an HTML integration point returns to HTML.
_FOREIGN_PUSH = {"svg": _CTX_SVG, "math": _CTX_MATHML}
_FOREIGN_PUSH.update(dict.fromkeys(_HTML_INTEGRATION_ELEMENTS, _CTX_NONE))

# The one tag a second copy of which is ignored while it is open
# (Parser.ts:403-417), and the alias of ``img`` outside foreign content
# (Parser.ts:359-391).
_FORM_TAG = "form"
_IMAGE_TAG = "image"

# Lowercased open-tag names that a tree rule may touch even without a
# foreign ancestor: void elements, the ``<form>`` rule, the ``image``
# alias and the foreign-context pushes. Any other name, when no implied
# close fires, is just pushed (Parser.on_light_open_tag's inline branch).
_RULED_OPEN_NAMES = frozenset(
    (*VOID_ELEMENTS, _FORM_TAG, _IMAGE_TAG, *_FOREIGN_PUSH)
)

_RE_NAME_END = re.compile(r"[\s/]")


class ParserOptions:
    """Behavioral switches, mirroring ParserOptions (Parser.ts:165-211)."""

    __slots__ = (
        "xml_mode",
        "decode_entities",
        "lower_case_tags",
        "lower_case_attribute_names",
        "recognize_cdata",
        "recognize_self_closing",
        "tokenizer_class",
    )

    def __init__(
        self,
        *,
        xml_mode: bool = False,
        decode_entities: bool = True,
        lower_case_tags: bool | None = None,
        lower_case_attribute_names: bool | None = None,
        recognize_cdata: bool | None = None,
        recognize_self_closing: bool | None = None,
        tokenizer_class: type | None = None,
    ) -> None:
        self.xml_mode = xml_mode
        self.decode_entities = decode_entities
        self.lower_case_tags = (not xml_mode) if lower_case_tags is None else lower_case_tags
        self.lower_case_attribute_names = (
            (not xml_mode)
            if lower_case_attribute_names is None
            else lower_case_attribute_names
        )
        self.recognize_cdata = xml_mode if recognize_cdata is None else recognize_cdata
        self.recognize_self_closing = (
            xml_mode if recognize_self_closing is None else recognize_self_closing
        )
        # Custom tokenizer injection (reference: `Tokenizer` option,
        # Parser.ts:210, exercised at Parser.spec.ts:238-251). Must be a
        # Tokenizer subclass / drop-in with the same constructor.
        self.tokenizer_class = tokenizer_class


class Parser:
    """One-shot parser for a complete document string.

    The Parser takes the tokenizer's one-event light open tag
    (``on_light_open_tag``, see Tokenizer's class docstring) for every
    handler and option set: an element that no tree rule touches (its
    lowercased name is outside ``_RULED_OPEN_NAMES`` and no implied
    close fires, with no foreign ancestor) is pushed and reported right
    there, any other goes through ``_open_head``/``_open_tail``. Either
    way the handler gets the events and indices of the split name,
    attribute and end events.
    """

    def __init__(
        self,
        handler,
        options: ParserOptions | None = None,
        *,
        batch_text: bool = False,
    ) -> None:
        o = self.options = options or ParserOptions()
        self.cbs = handler
        if batch_text:
            # Batched-text opt-in (an extension beyond the reference's
            # options): entity-carrying text runs arrive as ONE
            # pre-decoded ontext instead of alternating text/entity
            # events — the tokenizer's on_text_decoded contract
            # (engine/tokenizer.py run loop; decode_text_span proves
            # scan equivalence). Concatenated text is byte-identical
            # (DomHandler merges adjacent text nodes anyway), but
            # PER-EVENT granularity and per-entity positions are not
            # reproduced — only enable for handlers that consume
            # neither (e.g. DomArrayHandler(with_indices=False), the
            # Arrow UDF paths). Instance attribute, so the tokenizer's
            # getattr probe stays False for default parsers and the
            # golden event streams are untouched.
            self.on_text_decoded = self._on_text_decoded
        self.html_mode = not o.xml_mode
        # HTML with lower-case tags: outside foreign content a tag name
        # is its lowercased buffer slice (the common-case branches of
        # _read_tag_name and on_close_tag).
        self._plain_names = self.html_mode and o.lower_case_tags
        self.tokenizer = (o.tokenizer_class or Tokenizer)(
            self,
            xml_mode=o.xml_mode,
            decode_entities=o.decode_entities,
            recognize_self_closing=o.recognize_self_closing,
        )
        # Handler callbacks are static per parse; resolve them once
        # instead of getattr-per-event (hot path).
        g = lambda name: getattr(handler, name, None)  # noqa: E731
        self._cb_text = g("on_text")
        self._cb_open_tag_name = g("on_open_tag_name")
        self._cb_open_tag = g("on_open_tag")
        self._cb_close_tag = g("on_close_tag")
        self._cb_attribute = g("on_attribute")
        self._cb_comment = g("on_comment")
        self._cb_comment_end = g("on_comment_end")
        self._cb_cdata_start = g("on_cdata_start")
        self._cb_cdata_end = g("on_cdata_end")
        self._cb_pi = g("on_processing_instruction")
        self._cb_end = g("on_end")
        self._cb_parser_init = g("on_parser_init")
        self._cb_reset = g("on_reset")
        self._reset_state()
        # Lifecycle: onparserinit fires at construction (Parser.ts:308)
        # and again after every reset (Parser.ts:713-723).
        if self._cb_parser_init:
            self._cb_parser_init(self)

    def reset(self) -> None:
        """Reset to a blank state for a new document (Parser.ts:713-726)."""
        if self._cb_reset:
            self._cb_reset()
        self._reset_state()
        if self._cb_parser_init:
            self._cb_parser_init(self)

    def _reset_state(self) -> None:
        self.buffer = ""
        self.start_index = 0
        self.end_index = 0
        self._open_tag_start = 0
        self._tagname = ""
        self._attribname = ""
        self._attribvalue: list[str] = []
        self._attribs: dict[str, str] | None = None
        self._attrib_quotes: dict[str, str] | None = None
        self._stack: list[str] = []
        self._foreign: list[int] = [_CTX_NONE]

    # ------------------------------------------------------------------
    def parse(self, data: str) -> None:
        """Parse a complete document, firing handler events.

        Equivalent to the reference's ``parseComplete``
        (Parser.ts:731-740): reset (with lifecycle callbacks), then run.
        """
        self.reset()
        self.buffer = data
        self.tokenizer.run(data)

    # -------------------- tokenizer callbacks --------------------
    def is_in_foreign_context(self) -> bool:
        return self._foreign[-1] != _CTX_NONE

    def on_text(self, start: int, end: int) -> None:
        self.end_index = end - 1
        cb = self._cb_text
        if cb:
            cb(self.buffer[start:end])
        self.start_index = end

    def on_text_entity(self, cp: int, end: int) -> None:
        self.end_index = end - 1
        cb = self._cb_text
        if cb:
            cb(chr(cp))
        self.start_index = end

    def _on_text_decoded(self, s: str, end: int) -> None:
        # Batched text run (see __init__'s batch_text): one pre-decoded
        # string, positions advanced to the run's end exactly like the
        # last event of the equivalent text/entity stream would.
        self.end_index = end - 1
        cb = self._cb_text
        if cb:
            cb(s)
        self.start_index = end

    def _is_void(self, name: str) -> bool:
        return self.html_mode and name in VOID_ELEMENTS

    def _read_tag_name(self, start: int, end: int) -> str:
        foreign = self._foreign
        if self._plain_names and len(foreign) == 1:
            # HTML, lowercased, no foreign ancestor: the common case.
            name = self.buffer[start:end].lower()
            return "img" if name == _IMAGE_TAG else name
        name = self.buffer[start:end]
        if not self.options.lower_case_tags:
            return name
        name = name.lower()
        if not self.html_mode:
            return name
        if foreign[-1] == _CTX_SVG:
            return SVG_CASE_ADJUSTMENTS.get(name, name)
        # A foreign ancestor exists: closing tags for SVG elements at
        # HTML integration points need case adjustment to match the
        # stack (Parser.ts:372-384).
        adjusted = SVG_CASE_ADJUSTMENTS.get(name)
        if adjusted is not None and adjusted in self._stack:
            return adjusted
        if foreign[-1] == _CTX_NONE:
            return "img" if name == _IMAGE_TAG else name
        return name

    def on_open_tag_name(self, start: int, end: int) -> None:
        self.end_index = end
        self._emit_open_tag(self._read_tag_name(start, end))

    def on_light_open_tag(self, start: int, end: int, attrs, gt: int) -> None:
        """The tokenizer's one-event light open tag: ``start``/``end``
        bound the name, ``attrs`` holds one ``_RE_ATTR_LIGHT`` match per
        attribute (none for a bare ``<name>``), ``gt`` is the ``>``.
        Exactly the handler events and indices of the split
        ``on_open_tag_name(start, end)``, attribute events and
        ``on_open_tag_end(gt)``."""
        self.end_index = end
        if self._plain_names and len(self._foreign) == 1:
            name = self.buffer[start:end].lower()
            if name not in _RULED_OPEN_NAMES:
                stack = self._stack
                implies_close = OPEN_IMPLIES_CLOSE.get(name)
                if not (implies_close and stack and stack[-1] in implies_close):
                    # No tree rule applies: push, and the handler events
                    # of _open_head, the attributes and _open_tail.
                    stack.append(name)
                    cb = self._cb_open_tag_name
                    if cb:
                        cb(name)
                    attribs = self._light_attribs(attrs, True) if attrs else {}
                    self.end_index = gt
                    cb = self._cb_open_tag
                    if cb:
                        cb(name, attribs, False)
                    self._attrib_quotes = None
                    self.start_index = gt + 1
                    return
        name = self._read_tag_name(start, end)
        opened = self._open_head(name)
        attribs = self._light_attribs(attrs, opened) if attrs else {}
        self.end_index = gt
        if opened:
            self._open_tail(name, attribs, False)
            self._attrib_quotes = None
        self.start_index = gt + 1

    def _light_attribs(self, attrs, keep: bool) -> dict:
        """The attribute events of a one-event tag's matches, with the
        split path's indices (``start_index`` at the attribute name,
        ``end_index`` at the match end: past the closing quote, or the
        name end of a valueless attribute), and the attribute dict, in
        which the first occurrence wins (Parser.ts:596-598). ``keep``
        (the tag opened) sets ``_attrib_quotes``, which handlers may
        read in ``on_open_tag`` (DomArrayHandler) and the caller resets
        after it; an ignored second ``<form>`` still reports its
        attributes, as the split events do."""
        cb = self._cb_attribute
        lower = self.options.lower_case_attribute_names
        attribs: dict[str, str] = {}
        quotes: dict[str, str] = {}
        if keep:
            self._attrib_quotes = quotes
        tag_start = self.start_index
        for m in attrs:
            key, double, single = m.groups()
            if lower:
                key = key.lower()
            if double is not None:
                value, quote = double, '"'
            elif single is not None:
                value, quote = single, "'"
            else:
                value, quote = "", NO_VALUE
            if cb:
                self.start_index = m.start(1)
                self.end_index = m.end()
                cb(key, value, quote)
            if key not in attribs:
                attribs[key] = value
                quotes[key] = quote
        self.start_index = tag_start
        return attribs

    def _emit_open_tag(self, name: str) -> None:
        self._open_tag_start = self.start_index
        if self._open_head(name):
            self._tagname = name
            self._attribs = {}
            self._attrib_quotes = {}
        else:
            self._tagname = ""

    # Tree construction for an open tag (Parser.ts:393-451) lives in
    # the next two helpers, the one copy of its rules for the split
    # events, the one-event tag and the ``</p>`` synthesis.
    def _open_head(self, name: str) -> bool:
        """At the tag name: the implied closes, the stack and
        foreign-context pushes, then the handler's ``on_open_tag_name``.
        False when the tag is ignored (a second ``<form>`` while one is
        open, Parser.ts:403-417)."""
        stack = self._stack
        if self.html_mode:
            if name == _FORM_TAG and _FORM_TAG in stack:
                return False
            implies_close = OPEN_IMPLIES_CLOSE.get(name)
            if implies_close:
                while stack and stack[-1] in implies_close:
                    self._pop_element(True)
            if name not in VOID_ELEMENTS:
                stack.append(name)
                ctx = _FOREIGN_PUSH.get(name)
                if ctx is not None:
                    self._foreign.append(ctx)
        else:
            stack.append(name)
        cb = self._cb_open_tag_name
        if cb:
            cb(name)
        return True

    def _open_tail(self, name: str, attribs: dict, is_implied: bool) -> None:
        """At the tag end: the handler's ``on_open_tag``, then a void
        element's implied close."""
        cb = self._cb_open_tag
        if cb:
            cb(name, attribs, is_implied)
        if self.html_mode and name in VOID_ELEMENTS:
            cb = self._cb_close_tag
            if cb:
                cb(name, True)

    def _end_open_tag(self, is_implied: bool) -> None:
        self.start_index = self._open_tag_start
        attribs = self._attribs
        if attribs is not None:
            # Handlers may read _attrib_quotes in on_open_tag
            # (DomArrayHandler): reset after the events.
            self._open_tail(self._tagname, attribs, is_implied)
            self._attribs = None
            self._attrib_quotes = None
        self._tagname = ""

    def on_open_tag_end(self, end: int) -> None:
        self.end_index = end
        self._end_open_tag(False)
        self.start_index = end + 1

    def on_close_tag(self, start: int, end: int) -> None:
        self.end_index = end
        stack = self._stack
        if (
            self._plain_names
            and len(self._foreign) == 1
            and stack
            and stack[-1] == self.buffer[start:end].lower()
        ):
            # Common case: closing the innermost element with no
            # foreign ancestor, so no alias or case adjustment applies
            # ("image" is pushed only in foreign content), and the
            # element is none of _pop_element's foreign-context ones
            # (each of those holds a _foreign entry while open).
            name = stack.pop()
            cb = self._cb_close_tag
            if cb:
                cb(name, False)
            self.start_index = end + 1
            return
        name = self._read_tag_name(start, end)

        if not self._is_void(name):
            try:
                pos = len(stack) - 1 - stack[::-1].index(name)
            except ValueError:
                pos = -1
            if pos != -1:
                while len(stack) > pos + 1:
                    self._pop_element(True)
                self._pop_element(False)
            elif self.html_mode and name == "p":
                # Unmatched </p>: synthesize an implicit open+close.
                self._emit_open_tag("p")
                self._close_current_tag(True)
        elif self.html_mode and name == "br":
            # Unmatched </br>: synthesize a <br/> (can't use
            # _emit_open_tag — br is void and would self-close twice).
            if self._cb_open_tag_name:
                self._cb_open_tag_name("br")
            if self._cb_open_tag:
                self._cb_open_tag("br", {}, True)
            if self._cb_close_tag:
                self._cb_close_tag("br", False)
        self.start_index = end + 1

    def on_self_closing_tag(self, end: int) -> None:
        self.end_index = end
        if self.options.recognize_self_closing or self.is_in_foreign_context():
            self._close_current_tag(False)
            self.start_index = end + 1
        else:
            # Self-closing slash ignored: treat as a plain open tag.
            self.on_open_tag_end(end)

    def _pop_element(self, implied: bool) -> None:
        element = self._stack.pop()
        if self.html_mode and (
            element in _FOREIGN_CONTEXT_ELEMENTS
            or element in _HTML_INTEGRATION_ELEMENTS
        ):
            self._foreign.pop()
        cb = self._cb_close_tag
        if cb:
            cb(element, implied)

    def _close_current_tag(self, is_open_implied: bool) -> None:
        name = self._tagname
        self._end_open_tag(is_open_implied)
        if self._stack and self._stack[-1] == name:
            self._pop_element(not is_open_implied)

    # -------------------- attributes --------------------
    def on_attrib_name(self, start: int, end: int) -> None:
        self.start_index = start
        name = self.buffer[start:end]
        self._attribname = (
            name.lower() if self.options.lower_case_attribute_names else name
        )

    def on_attrib_data(self, start: int, end: int) -> None:
        self._attribvalue.append(self.buffer[start:end])

    def on_attrib_entity(self, cp: int) -> None:
        self._attribvalue.append(chr(cp))

    def on_attrib_end(self, quote: int, end: int) -> None:
        self.end_index = end
        value = "".join(self._attribvalue)
        quote_str = (
            '"'
            if quote == QUOTE_DOUBLE
            else "'"
            if quote == QUOTE_SINGLE
            else NO_VALUE
            if quote == QUOTE_NONE
            else None
        )
        cb = self._cb_attribute
        if cb:
            cb(self._attribname, value, quote_str)
        if self._attribs is not None and self._attribname not in self._attribs:
            # First occurrence wins (Parser.ts:596-598).
            self._attribs[self._attribname] = value
            self._attrib_quotes[self._attribname] = quote_str
        self._attribvalue = []

    # -------------------- declarations / comments --------------------
    def _instruction_name(self, value: str) -> str:
        m = _RE_NAME_END.search(value)
        name = value[: m.start()] if m else value
        if self.options.lower_case_tags:
            name = name.lower()
        return name

    def on_declaration(self, start: int, end: int) -> None:
        self.end_index = end
        value = self.buffer[start:end]
        cb = self._cb_pi
        if cb:
            if self.html_mode:
                # Only DOCTYPE reaches here in HTML mode.
                name = "doctype" if self.options.lower_case_tags else value[:7]
            else:
                name = self._instruction_name(value)
            cb(f"!{name}", f"!{value}")
        self.start_index = end + 1

    def on_processing_instruction(self, start: int, end: int) -> None:
        self.end_index = end
        value = self.buffer[start:end]
        cb = self._cb_pi
        if cb:
            cb(f"?{self._instruction_name(value)}", f"?{value}")
        self.start_index = end + 1

    def on_comment(self, start: int, end: int, offset: int) -> None:
        self.end_index = end
        if self._cb_comment:
            self._cb_comment(self.buffer[start : end - offset])
        if self._cb_comment_end:
            self._cb_comment_end()
        self.start_index = end + 1

    def on_cdata(self, start: int, end: int, offset: int) -> None:
        self.end_index = end
        value = self.buffer[start : end - offset]
        if not self.html_mode or self.options.recognize_cdata:
            if self._cb_cdata_start:
                self._cb_cdata_start()
            if self._cb_text:
                self._cb_text(value)
            if self._cb_cdata_end:
                self._cb_cdata_end()
        elif self.is_in_foreign_context():
            if self._cb_text:
                self._cb_text(value)
        else:
            if self._cb_comment:
                self._cb_comment(f"[CDATA[{value}]]")
            if self._cb_comment_end:
                self._cb_comment_end()
        self.start_index = end + 1

    def on_end(self) -> None:
        cb = self._cb_close_tag
        if cb:
            self.end_index = self.start_index
            for name in reversed(self._stack):
                cb(name, True)
        if self._cb_end:
            self._cb_end()


def parse(data: str, handler, **options) -> None:
    """Convenience one-shot parse."""
    Parser(handler, ParserOptions(**options)).parse(data)
