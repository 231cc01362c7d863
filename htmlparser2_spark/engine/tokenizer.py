"""Scan-based HTML/XML tokenizer, semantically equivalent to the reference.

Reproduces the observable callback stream of the reference tokenizer
(/root/reference/src/Tokenizer.ts — a 27-state per-character machine) with
a different execution strategy designed for CPython inside Arrow-batched
Spark UDFs: each state consumes the longest possible run using
``str.find`` / precompiled regex scans (C speed), so the Python-level loop
iterates per *token*, not per character. Positions are Unicode code-point
offsets into the document string (the reference uses UTF-16 code units;
identical for BMP input — see SURVEY.md §7 "hard parts").

Callback surface mirrors Tokenizer.ts:113-130 (positional events carrying
index pairs, entity events carrying code points). One scan loop,
:meth:`Tokenizer.run`, serves whole documents and chunked input alike, as
the reference's does (Tokenizer.ts:898-1011): a whole-document call treats
the buffer end as EOF, while a streaming ``write()`` pass
(``final=False``, engine/stream.py) stops at the first construct more
input could still change and returns the position to resume from.

Every helper consumes input from a given position and returns
``(cursor, section_start)``; the main loop ends when ``cursor >= len`` and
the epilogue emits ``buf[section_start:]`` as trailing text when non-empty
(helpers that drop their pending construct — e.g. a tag open at EOF,
Tokenizer.ts:1106-1121 — return ``section_start == len`` to suppress it).
"""

from __future__ import annotations

import re

from .entities import (
    ATTRIBUTE,
    LEGACY,
    STRICT,
    decode_at,
    decode_text_span,
)

__all__ = ["Tokenizer", "QUOTE_NONE", "QUOTE_UNQUOTED", "QUOTE_SINGLE", "QUOTE_DOUBLE"]

# Quote types for on_attrib_end (reference: Tokenizer.ts:103-108).
QUOTE_NONE = 0
QUOTE_UNQUOTED = 1
QUOTE_SINGLE = 2
QUOTE_DOUBLE = 3

_WS = " \t\n\f\r"

# Text-only ("special") HTML tags (reference: Tokenizer.ts:138-176).
# `plaintext` switches the rest of the document to text; `title`/
# `textarea` are RCDATA (entities decode inside); the rest are raw text.
_SPECIAL = frozenset((
    "iframe", "noembed", "noframes", "plaintext", "script", "style",
    "title", "textarea", "xmp",
))
# First characters of the special names, both cases: a tag name that
# starts with none of them is not special without being lowercased.
_SPECIAL_FIRST = "".join(sorted({name[0] for name in _SPECIAL}))
_SPECIAL_FIRST += _SPECIAL_FIRST.upper()
_SPECIAL_MAX = max(map(len, _SPECIAL))  # 9, 'plaintext'
_RCDATA = frozenset(("title", "textarea"))
# Case is folded on the slice being tested, ASCII only, as the reference
# compares (Tokenizer.ts:138-176). A lowered name slice is exact: no
# special name or 'doctype' holds 'k', the one ASCII letter a non-ASCII
# code point (U+212A) lowers to. The end-tag searches need re.A, without
# which re.I also matches 'ſ' to 's' and 'İ' to 'i'.
_END_TAG_SEARCH = {
    name: re.compile("</" + name, re.I | re.A).search for name in _SPECIAL
}
_DOCTYPE = ("dD", "oO", "cC", "tT", "yY", "pP", "eE")

_RE_NON_WS = re.compile(r"[^ \t\n\f\r]")
_RE_TAG_SECTION_END = re.compile(r"[ \t\n\f\r/>]")
_RE_ATTR_NAME_END = re.compile(r"[ \t\n\f\r/>=]")
_RE_NQ_VALUE_END = re.compile(r"[ \t\n\f\r>&]")
_RE_NQ_VALUE_END_NODECODE = re.compile(r"[ \t\n\f\r>]")
# Closing-tag scan (entered at the first name char, see _closing_tag):
# name section (anything that isn't a section-end char), after which
# AfterClosingTagName skips EVERYTHING up to the terminating '>' — so
# one linear match reproduces the exact machine's positions (group-1
# end = name end, match end = '>' + 1). The junk+'>' suffix is
# optional because the exact machine still EMITS on_close_tag when EOF
# arrives during the junk skip (only EOF inside the name drops the
# event) — the caller distinguishes the three EOF shapes by where the
# match ends.
_RE_LIGHT_CLOSE = re.compile(r"([^ \t\n\f\r/>]+)(?:[^>]*>)?")
# Per-attribute light path for the exact machine (attribute events
# wanted — the full parser): ONE linear match replaces the non-ws /
# name-end / non-ws / value scans for the dominant shapes — quoted
# entity-free value, or a valueless attribute. The terminator
# lookahead after the name group blocks backtracking from re-matching
# a shortened name as valueless when the value branch fails (e.g. a
# '&' inside the quotes); any failure — EOF anywhere, unquoted or
# entity-carrying value, empty name — falls through to the exact
# machine, which re-scans from the same position.
_RE_ATTR_LIGHT = re.compile(
    r"[ \t\n\f\r]*"
    r"([^ \t\n\f\r/>=]+)(?=[ \t\n\f\r/>=])"
    r"(?:"
    r"""[ \t\n\f\r]*=[ \t\n\f\r]*(?:"([^"&]*)"|'([^'&]*)')"""
    r"|(?=[ \t\n\f\r]*[^ \t\n\f\r=])"
    r")"
)
# The end of an attribute section after its last _RE_ATTR_LIGHT match.
_RE_TAG_GT = re.compile(r"[ \t\n\f\r]*>")
_RE_COMMENT_END = re.compile(r"--!?>")
_RE_TRAILING_BANG_DASHES = re.compile(r"--+!$")
_RE_TRAILING_DASHES = re.compile(r"--+$")


def _is_end_of_tag_section(c: str) -> bool:
    return c == "/" or c == ">" or c in _WS


class _Incomplete(Exception):
    """A streaming dry run reached the buffer end (see _DryRun)."""


class _DryRun:
    """A ``<``-construct helper as a streaming (``final=False``) pass runs it.

    A call runs the helper with this object as the tokenizer's callback
    set, which queues ``on_*`` events and forwards
    ``is_in_foreign_context`` (the one query helpers make, before they
    emit). Every EOF shape of every helper returns the buffer end as its
    cursor, so a cursor short of it means the construct ended inside
    ``buf`` for good: the queue is replayed to the real callbacks.
    Otherwise it is dropped and :class:`_Incomplete` stops the pass.
    """

    def __init__(self, tokenizer: Tokenizer, helper) -> None:
        self.tokenizer, self.helper = tokenizer, helper
        self.cbs = cbs = tokenizer.cbs
        self.is_in_foreign_context = cbs.is_in_foreign_context
        self.events = []

    def __getattr__(self, name: str):
        # First use of an on_* event: bind (and keep) its queueing callback.
        f = getattr(self.cbs, name)
        push = self.events.append
        record = lambda *args: push((f, args))  # noqa: E731
        setattr(self, name, record)
        return record

    def __call__(self, buf: str, *args):
        self.tokenizer.cbs = self
        try:
            cursor, sec = self.helper(buf, *args)
        finally:
            self.tokenizer.cbs = self.cbs
            events = self.events[:]
            self.events.clear()
        if cursor >= len(buf):
            raise _Incomplete
        for f, args in events:
            f(*args)
        return cursor, sec


class Tokenizer:
    """Tokenizer over a document string, whole or streamed in chunks.

    ``cbs`` is any object providing the callback methods mirroring the
    reference ``Callbacks`` interface: ``on_text(start, end)``,
    ``on_text_entity(cp, end)``, ``on_open_tag_name(start, end)``,
    ``on_open_tag_end(end)``, ``on_self_closing_tag(end)``,
    ``on_close_tag(start, end)``, ``on_attrib_name(start, end)``,
    ``on_attrib_data(start, end)``, ``on_attrib_entity(cp)``,
    ``on_attrib_end(quote, end)``, ``on_comment(start, end, offset)``,
    ``on_cdata(start, end, offset)``, ``on_declaration(start, end)``,
    ``on_processing_instruction(start, end)``, ``on_end()`` and
    ``is_in_foreign_context()``.

    The scan loop reads each open tag's name once, for every callback
    set: it finds where the name ends and whether the tag is special
    (raw text, RCDATA or plaintext: the lowered name is one of
    ``_SPECIAL`` and ``is_in_foreign_context()`` is false), and hands
    both, ``(j, special)``, to the open-tag helper, which classifies
    nothing again.

    One method is optional: ``on_light_open_tag(name_start, name_end,
    attrs, gt)``. A callback set that has it receives every light HTML
    open tag as that ONE event: a non-special tag whose attribute
    section is a run of ``_RE_ATTR_LIGHT`` matches (quoted ``&``-free
    values and valueless attributes, possibly none) followed by optional
    whitespace and ``>``. ``attrs`` holds the matches and ``gt`` is the
    ``>``; a bare ``<name>`` comes straight from the scan loop with
    ``attrs == ()`` and ``gt == name_end``. The event means exactly
    ``on_open_tag_name(name_start, name_end)``, the attribute events the
    exact machine derives from each match, then ``on_open_tag_end(gt)``.
    Sets without it, and XML mode, get the split events.

    Every character reference, in text, RCDATA or an attribute value,
    takes one step, :meth:`_entity` (``decode_at``, then the data event
    for what precedes it and one entity event per code point), except
    that a callback set with ``on_text_decoded`` gets each
    entity-carrying text run decoded as one string.
    """

    __slots__ = (
        "xml_mode",
        "decode_entities",
        "recognize_self_closing",
        "cbs",
        "_dry_runs",
    )

    def __init__(
        self,
        cbs,
        *,
        xml_mode: bool = False,
        decode_entities: bool = True,
        recognize_self_closing: bool | None = None,
    ) -> None:
        self.cbs = cbs
        self.xml_mode = xml_mode
        self.decode_entities = decode_entities
        self.recognize_self_closing = (
            xml_mode if recognize_self_closing is None else recognize_self_closing
        )
        self._dry_runs = None  # streaming helper wrappers, built on first use

    # ------------------------------------------------------------------
    def run(self, buf: str, start: int = 0, should_pause=None,
            final: bool = True) -> int | None:
        """Tokenize ``buf`` from ``start``; positions are absolute
        document offsets.

        ``final=True`` treats the end of ``buf`` as EOF: trailing text
        and EOF shapes are emitted, then ``on_end``, and None is
        returned. ``final=False`` (streaming ``write()``) delivers only
        what more input cannot change and returns the position to
        resume from. Trailing text is held back; text is decoded once a
        buffered ``<`` follows it (no character reference crosses
        ``<``). Every ``<`` construct but a bare ``<name>`` and an
        alphanumeric ``</name>`` is a dry run of its own helper
        (:class:`_DryRun`): one that is unfinished or ends on the last
        buffered char stops the pass at its ``<``.
        ``should_pause`` (streaming only) is checked between constructs;
        when it fires, the pass stops WITHOUT the EOF epilogue and
        returns the position to resume from.
        """
        cbs = self.cbs
        xml = self.xml_mode
        decode = self.decode_entities
        n = len(buf)
        text_mode = STRICT if xml else LEGACY

        # Hot-path locals: attribute/method lookups hoisted out of the
        # per-token loop (same technique as the reference's hot-state
        # dispatch ordering, Tokenizer.ts:893-897).
        on_text = cbs.on_text
        # Tag dispatch (class docstring): each open tag's name is
        # classified once, here; a bare `<name>` (HTML, opt-in) and an
        # alphanumeric `</name>` are one event each. Other light open
        # tags are one event from _light_open_tag.
        on_light_open_tag = (
            None if xml else getattr(cbs, "on_light_open_tag", None)
        )
        special_first = "" if xml else _SPECIAL_FIRST
        open_tag = self._open_tag
        if on_light_open_tag is not None:
            open_tag = self._light_open_tag
        helpers = (open_tag, self._closing_tag, self._markup_declaration,
                   self._bogus_comment, self._processing_instruction)
        if not final:
            helpers = self._dry_runs = self._dry_runs or tuple(
                _DryRun(self, h) for h in helpers)
        (open_tag, closing_tag, markup_declaration, bogus_comment,
         processing_instruction) = helpers
        find = buf.find

        i = start  # cursor
        sec = start  # section start of the current text run
        # Text-stop scanning: the next '<' and next '&' are tracked as
        # lazily-refreshed str.find positions instead of a per-text-run
        # `[<&]` regex search — C-level find beats the regex machinery,
        # and an entity-free document (the common web shape) pays ONE
        # failed '&' probe total instead of one regex scan per text run.
        # A cached position is stale once the cursor passes it (< i);
        # -1 ("none ahead") is final, find from a later start can only
        # re-confirm it.
        lt = find("<", i)
        amp = find("&", i) if decode else -1
        # Batched-text opt-in: a handler exposing ``on_text_decoded``
        # (the fast text path, a batch_text Parser) receives each
        # entity-carrying text run as ONE pre-decoded string —
        # decode_text_span reproduces the sequential per-'&' scan
        # exactly (see its docstring for why the '<' boundary is
        # semantics-preserving). Other handlers keep the exact event
        # stream: one _entity step per '&'.
        on_text_decoded = getattr(cbs, "on_text_decoded", None)
        on_close_tag = cbs.on_close_tag
        tag_section_end = _RE_TAG_SECTION_END.search
        try:
            while i < n:
                if should_pause is not None and should_pause():
                    return sec
                # ---------------- Text ----------------
                if lt != -1 and lt < i:
                    lt = find("<", i)
                if amp != -1:
                    if amp < i:
                        amp = find("&", i)
                    if amp != -1 and (lt == -1 or amp < lt):
                        if lt == -1 and not final:
                            break  # trailing text: not final yet
                        if on_text_decoded is not None:
                            seg_end = lt if lt != -1 else n
                            on_text_decoded(
                                decode_text_span(buf, sec, seg_end, text_mode),
                                seg_end,
                            )
                            i = sec = seg_end
                            continue
                        i, sec = self._entity(buf, amp, text_mode, sec, False)
                        continue
                j = lt
                if j == -1:
                    i = n
                    break
                # '<' found at j.
                if j > sec:
                    on_text(sec, j)
                sec = j
                i = j + 1
                if i >= n:
                    break  # trailing '<': EOF epilogue, or resume at it

                c = buf[i]
                # ------------- BeforeTagName dispatch -------------
                # The loop's own open and close events fire only on a '>' in
                # ``buf``, so they are final in both modes; streaming
                # dry-runs the helpers.
                if ("a" <= c <= "z" or "A" <= c <= "Z") if not xml else (
                    not _is_end_of_tag_section(c) and c not in "!?/"
                ):
                    # Name end (-1: the name runs to EOF) and special
                    # class, once; the foreign query waits for a
                    # special-name match, which is rare.
                    m = tag_section_end(buf, i)
                    e = -1 if m is None else m.start()
                    special = None
                    if e != -1 and c in special_first:
                        name = buf[i:e].lower()
                        if name in _SPECIAL and not cbs.is_in_foreign_context():
                            special = name
                    if (special is None and on_light_open_tag is not None
                            and e != -1 and buf[e] == ">"):
                        on_light_open_tag(i, e, (), e)
                        i = sec = e + 1
                        continue
                    i, sec = open_tag(buf, i, e, special)
                elif c == "!":
                    i, sec = markup_declaration(buf, i + 1)
                elif c == "?":
                    if xml:
                        i, sec = processing_instruction(buf, i + 1)
                    else:
                        i, sec = bogus_comment(buf, i, i)
                elif c == "/":
                    k = i + 1
                    if not xml and k < n and (
                        "a" <= buf[k] <= "z" or "A" <= buf[k] <= "Z"
                    ):
                        # An alphanumeric `</name>`: the '>' is where
                        # _closing_tag's name ends. Every other close
                        # takes the helper.
                        e = find(">", k)
                        if e != -1 and buf[k:e].isalnum():
                            on_close_tag(k, e)
                            i = sec = e + 1
                            continue
                    i, sec = closing_tag(buf, k)
                # else: '<' stays literal text (sec still at '<'); rescan from i.
        except _Incomplete:
            return sec  # the unfinished construct's '<': resume there

        if not final:
            return sec
        # ------------- EOF epilogue (plain trailing text) -------------
        # A pause() raised from the final construct's callback (or from
        # the trailing-text callback itself) defers the rest of the
        # epilogue — including on_end — until resume, like the
        # reference's running flag gates finish().
        if should_pause is not None and should_pause():
            return sec
        if sec < n:
            cbs.on_text(sec, n)
            if should_pause is not None and should_pause():
                return n  # text delivered; on_end deferred to resume
        cbs.on_end()
        return None

    def _entity(self, buf: str, amp: int, mode: int, sec: int, in_attr: bool):
        """Handle '&' at ``amp``; returns (cursor, section_start)."""
        res = decode_at(buf, amp, mode)
        if res is None:
            # No reference: '&' stays literal, rescan after it.
            return amp + 1, sec
        rep, consumed = res
        cbs = self.cbs
        end = amp + consumed
        if in_attr:
            if sec < amp:
                cbs.on_attrib_data(sec, amp)
            for ch in rep:
                cbs.on_attrib_entity(ord(ch))
        else:
            if sec < amp:
                cbs.on_text(sec, amp)
            for ch in rep:
                cbs.on_text_entity(ord(ch), end)
        return end, end

    # ------------------------------------------------------------------
    # Open tag + attributes. Entered with ``i`` at the first tag-name char.
    def _open_tag(self, buf: str, i: int, j: int, special):
        """``j`` is the name end (the _RE_TAG_SECTION_END hit), or -1
        when the name runs to EOF; ``special`` is the lowered special
        name the tag opens (see :meth:`run`), else None."""
        cbs = self.cbs
        n = len(buf)
        if j == -1:
            # EOF inside the name. While the name is a (possibly whole)
            # prefix of a special name it is emitted as trailing text
            # (SpecialStartSequence's trailing-data rule); otherwise the
            # tag is dropped.
            if not self.xml_mode and n - i <= _SPECIAL_MAX:
                tail = buf[i:n].lower()
                if (any(name.startswith(tail) for name in _SPECIAL)
                        and not cbs.is_in_foreign_context()):
                    return n, i
            return n, n
        cbs.on_open_tag_name(i, j)

        # Fast path: attribute-less tag (`<p>` — the dominant shape).
        if buf[j] == ">":
            cbs.on_open_tag_end(j)
            return self._enter_tag_body(buf, j + 1, special)

        # --------- attribute loop (BeforeAttributeName etc.) ---------
        i = j
        attr_light_match = _RE_ATTR_LIGHT.match
        on_attrib_name = cbs.on_attrib_name
        on_attrib_data = cbs.on_attrib_data
        on_attrib_end = cbs.on_attrib_end
        while True:
            # Light per-attribute path (see _RE_ATTR_LIGHT): quoted
            # entity-free values and valueless attributes in one match,
            # with event positions identical to the exact machine below.
            m = attr_light_match(buf, i)
            if m is not None:
                on_attrib_name(m.start(1), m.end(1))
                v = m.start(2)
                if v != -1:
                    on_attrib_data(v, m.end(2))
                    on_attrib_end(QUOTE_DOUBLE, m.end())
                else:
                    v = m.start(3)
                    if v != -1:
                        on_attrib_data(v, m.end(3))
                        on_attrib_end(QUOTE_SINGLE, m.end())
                    else:
                        on_attrib_end(QUOTE_NONE, m.end(1))
                i = m.end()
                continue
            m = _RE_NON_WS.search(buf, i)
            if m is None:
                return n, n  # EOF between attributes: tag dropped
            i = m.start()
            c = buf[i]
            if c == ">":
                cbs.on_open_tag_end(i)
                return self._enter_tag_body(buf, i + 1, special)
            if c == "/":
                # InSelfClosingTag: whitespace may separate '/' and '>'.
                m2 = _RE_NON_WS.search(buf, i + 1)
                if m2 is None:
                    return n, n  # EOF: tag dropped
                k = m2.start()
                if buf[k] == ">":
                    cbs.on_self_closing_tag(k)
                    if self.recognize_self_closing:
                        return k + 1, k + 1
                    return self._enter_tag_body(buf, k + 1, special)
                i = k  # anything else: treat as a new attribute
                continue
            # --- attribute name ---
            m = _RE_ATTR_NAME_END.search(buf, i)
            if m is None:
                return n, n  # EOF in attribute name: tag dropped
            j = m.start()
            cbs.on_attrib_name(i, j)
            name_end = j
            m = _RE_NON_WS.search(buf, j)
            if m is None:
                return n, n  # EOF after attribute name: tag dropped
            i = m.start()
            if buf[i] != "=":
                # Valueless attribute; current char starts the next one.
                cbs.on_attrib_end(QUOTE_NONE, name_end)
                continue
            m = _RE_NON_WS.search(buf, i + 1)
            if m is None:
                return n, n  # EOF before attribute value: tag dropped
            i = m.start()
            c = buf[i]
            if c == '"' or c == "'":
                qtype = QUOTE_DOUBLE if c == '"' else QUOTE_SINGLE
                sec = pos = i + 1
                while True:
                    j = buf.find(c, pos)
                    if self.decode_entities:
                        a = buf.find("&", pos, j if j != -1 else n)
                        if a != -1:
                            pos, sec = self._entity(buf, a, ATTRIBUTE, sec, True)
                            continue
                    if j == -1:
                        return n, n  # EOF in quoted value: tag dropped
                    cbs.on_attrib_data(sec, j)
                    cbs.on_attrib_end(qtype, j + 1)
                    i = j + 1
                    break
                continue
            # Unquoted value (possibly empty, e.g. `x=>`).
            sec = pos = i
            stop = (
                _RE_NQ_VALUE_END
                if self.decode_entities
                else _RE_NQ_VALUE_END_NODECODE
            )
            while True:
                m = stop.search(buf, pos)
                if m is None:
                    return n, n  # EOF in unquoted value: tag dropped
                j = m.start()
                if buf[j] == "&":
                    pos, sec = self._entity(buf, j, ATTRIBUTE, sec, True)
                    continue
                cbs.on_attrib_data(sec, j)
                cbs.on_attrib_end(QUOTE_UNQUOTED, j)
                i = j
                break
            continue

    def _light_open_tag(self, buf: str, i: int, j: int, special):
        """``_open_tag`` for callback sets with ``on_light_open_tag``. A
        non-special tag whose attribute section is a run of
        ``_RE_ATTR_LIGHT`` matches, optional whitespace and ``>`` is ONE
        event; any other tag takes ``_open_tag``."""
        if j == -1 or special is not None:
            return self._open_tag(buf, i, j, special)
        attr_light_match = _RE_ATTR_LIGHT.match
        attrs = []
        k = j
        while (m := attr_light_match(buf, k)) is not None:
            attrs.append(m)
            k = m.end()
        m = _RE_TAG_GT.match(buf, k)
        if m is None:
            return self._open_tag(buf, i, j, None)
        gt = m.end() - 1
        self.cbs.on_light_open_tag(i, j, attrs, gt)
        return gt + 1, gt + 1

    # ------------------------------------------------------------------
    def _enter_tag_body(self, buf: str, i: int, special):
        """After '>' of an open tag: normal text, raw text, or plaintext."""
        if special is None:
            return i, i
        if special == "plaintext":
            n = len(buf)
            if i < n:
                self.cbs.on_text(i, n)
            return n, n
        return self._special_tag(buf, i, special)

    def _special_tag(self, buf: str, i: int, name: str):
        """Scan raw-text/RCDATA content for the case-insensitive end tag."""
        cbs = self.cbs
        n = len(buf)
        search = _END_TAG_SEARCH[name]
        ln = len(name) + 2  # "</name"
        rcdata = name in _RCDATA and self.decode_entities
        sec = pos = i
        j = -2  # not searched yet
        while True:
            if j == -2 or -1 < j < pos:
                # The first end tag at or after pos stays j while the
                # entity steps below advance pos up to it, and there is
                # none after a search from an earlier pos found none:
                # one search per end-tag candidate, not per entity.
                m = search(buf, pos)
                j = -1 if m is None else m.start()
            if rcdata:
                a = buf.find("&", pos, j if j != -1 else n)
                if a != -1:
                    pos, sec = self._entity(buf, a, LEGACY, sec, False)
                    continue
            if j == -1 or j + ln >= n:
                # EOF: all remaining content — including a trailing
                # partial/unterminated end tag — is text.
                if sec < n:
                    cbs.on_text(sec, n)
                return n, n
            k = j + ln  # just past the matched "</name"
            if not _is_end_of_tag_section(buf[k]):
                pos = k
                continue
            # Matched closing tag: flush text, then InClosingTagName with
            # the section starting just past "</".
            if sec < j:
                cbs.on_text(sec, j)
            cbs.on_close_tag(j + 2, k)
            if buf[k] == ">":
                return k + 1, k + 1
            g = buf.find(">", k)  # AfterClosingTagName: skip junk to '>'
            if g == -1:
                return n, n
            return g + 1, g + 1

    # ------------------------------------------------------------------
    def _closing_tag(self, buf: str, i: int):
        """Entered just past '</'."""
        cbs = self.cbs
        n = len(buf)
        if i >= n:
            return n, i - 2  # '</' at EOF: trailing text from '<'
        c = buf[i]
        if c in _WS:
            if self.xml_mode:
                m = _RE_NON_WS.search(buf, i)
                if m is None:
                    return n, i - 2  # trailing text from '<'
                i = m.start()
                c = buf[i]
            else:
                # '</ ' in HTML: bogus comment from the whitespace char.
                return self._bogus_comment(buf, i, i)
        if c == ">":
            if self.xml_mode:
                # '</>' ignored; the section (from '<') stays in the text.
                return i + 1, i - 2
            return i + 1, i + 1
        # A name starts here (XML: any char but '/', since whitespace
        # and '>' are handled above).
        if (c != "/") if self.xml_mode else (
            "a" <= c <= "z" or "A" <= c <= "Z"
        ):
            # One linear match replaces the section-end search +
            # junk-skip find (see _RE_LIGHT_CLOSE). Three EOF shapes:
            # name ran to EOF -> event dropped; name ended but no '>'
            # -> event emitted, rest dropped; '>' found -> resume past it.
            m = _RE_LIGHT_CLOSE.match(buf, i)
            j = m.end(1)
            if j >= n:
                return n, n  # EOF in closing tag name: dropped
            cbs.on_close_tag(i, j)
            e = m.end()
            if e > j:
                return e, e
            return n, n  # junk-skip hit EOF: no '>' anywhere ahead
        return self._bogus_comment(buf, i, i)

    # ------------------------------------------------------------------
    def _bogus_comment(self, buf: str, i: int, sec: int):
        """InSpecialComment: everything up to '>' is a comment."""
        n = len(buf)
        j = buf.find(">", i)
        if j == -1:
            if self.xml_mode:
                if sec < n:
                    self.cbs.on_text(sec, n)
            else:
                self.cbs.on_comment(sec, n, 0)
            return n, n
        self.cbs.on_comment(sec, j, 0)
        return j + 1, j + 1

    # ------------------------------------------------------------------
    def _markup_declaration(self, buf: str, i: int):
        """Entered just past '<!'; the section starts at ``i``."""
        cbs = self.cbs
        n = len(buf)
        xml = self.xml_mode
        sec = i
        if i >= n:
            # '<!' at EOF: empty bogus comment (HTML) / nothing (XML).
            if not xml:
                cbs.on_comment(sec, n, 0)
            return n, n
        c = buf[i]
        if c == "[":
            # CDATA sequence must match 'CDATA[' exactly (case-sensitive,
            # Tokenizer.ts:354-372).
            rest = buf[i + 1 : i + 7]
            if rest == "CDATA[":
                return self._comment_like(buf, i + 7, is_cdata=True)
            if len(rest) < 6 and "CDATA[".startswith(rest):
                # EOF inside the sequence.
                if xml:
                    cbs.on_text(sec, n)
                else:
                    cbs.on_comment(sec, n, 0)
                return n, n
            # Mismatch: reconsume at the first offending character.
            k = i + 1
            t = 0
            while t < 6 and buf[k] == "CDATA["[t]:
                k += 1
                t += 1
            if xml:
                return self._declaration(buf, k, sec)
            return self._bogus_comment(buf, k, sec)
        if xml:
            if c == "-":
                return self._before_comment(buf, i + 1, sec)
            # Anything else: declaration; this char is consumed unchecked.
            return self._declaration(buf, i + 1, sec)
        # ---- HTML mode ----
        if c in _DOCTYPE[0]:
            # DeclarationSequence: case-insensitive 'doctype'.
            k = i + 1
            t = 1
            while k < n and t < 7 and buf[k] in _DOCTYPE[t]:
                k += 1
                t += 1
            if t == 7:
                return self._declaration(buf, k, sec)
            if k >= n:
                cbs.on_comment(sec, n, 0)  # partial 'doctype' at EOF
                return n, n
            if buf[k] == ">":
                cbs.on_comment(sec, k, 0)
                return k + 1, k + 1
            return self._bogus_comment(buf, k + 1, sec)
        if c == ">":
            cbs.on_comment(sec, i, 0)
            return i + 1, i + 1
        if c == "-":
            return self._before_comment(buf, i + 1, sec)
        return self._bogus_comment(buf, i + 1, sec)

    def _before_comment(self, buf: str, i: int, sec: int):
        """After '<!-': a second '-' opens a real comment."""
        cbs = self.cbs
        n = len(buf)
        if i >= n:
            if not self.xml_mode:
                cbs.on_comment(sec, n, 0)
            elif sec < n:
                cbs.on_text(sec, n)
            return n, n
        c = buf[i]
        if c == "-":
            return self._comment_like(buf, i + 1, is_cdata=False)
        if self.xml_mode:
            return self._declaration(buf, i + 1, sec)
        if c == ">":
            cbs.on_comment(sec, i, 0)
            return i + 1, i + 1
        return self._bogus_comment(buf, i + 1, sec)

    def _declaration(self, buf: str, i: int, sec: int):
        """InDeclaration: scan to '>'."""
        n = len(buf)
        j = buf.find(">", i)
        if j == -1:
            if self.xml_mode and sec < n:
                self.cbs.on_text(sec, n)
            # HTML: a complete doctype left open at EOF emits nothing.
            return n, n
        self.cbs.on_declaration(sec, j)
        return j + 1, j + 1

    # ------------------------------------------------------------------
    def _comment_like(self, buf: str, sec: int, *, is_cdata: bool):
        """InCommentLike: comments ('-->' with quirks) and CDATA (']]>')."""
        cbs = self.cbs
        n = len(buf)
        xml = self.xml_mode
        if is_cdata:
            j = buf.find("]]>", sec)
            if j != -1:
                end = j + 2
                cbs.on_cdata(sec, end, 2)
                return end + 1, end + 1
            if xml:
                if sec < n:
                    cbs.on_cdata(sec, n, 0)
            else:
                # Unclosed CDATA in HTML is a bogus comment from the '['.
                cbs.on_comment(sec - 7, n, 0)
            return n, n
        # ---- comment ----
        if not xml and sec < n:
            # Abruptly closed empty HTML comments: <!--> and <!--->.
            if buf[sec] == ">":
                cbs.on_comment(sec, sec, 0)
                return sec + 1, sec + 1
            if buf.startswith("->", sec):
                cbs.on_comment(sec, sec + 1, 1)
                return sec + 2, sec + 2
        m = _RE_COMMENT_END.search(buf, sec)
        if m is not None:
            end = m.end() - 1  # index of '>'
            cbs.on_comment(sec, end, end - m.start())  # 2 for -->, 3 for --!>
            return end + 1, end + 1
        # EOF: trim a partially-matched end sequence (HTML only).
        if xml:
            cbs.on_comment(sec, n, 0)
        else:
            tail = buf[sec:]
            if _RE_TRAILING_BANG_DASHES.search(tail):
                k = 3
            elif _RE_TRAILING_DASHES.search(tail):
                k = 2
            elif tail.endswith("-"):
                k = 1
            else:
                k = 0
            cbs.on_comment(sec, n, k)
        return n, n

    # ------------------------------------------------------------------
    def _processing_instruction(self, buf: str, i: int):
        """XML '<?...?>'; requires '?' immediately before '>'."""
        n = len(buf)
        j = buf.find("?>", i)
        if j == -1:
            if i < n:
                self.cbs.on_text(i, n)
            return n, n
        self.cbs.on_processing_instruction(i, j)
        return j + 2, j + 2
