"""WHATWG character-reference decoding for the HTML/XML tokenizer.

Reimplements, from the public WHATWG HTML spec and Python's stdlib
``html.entities.html5`` table, the decoding semantics that the reference
engine (fb55/htmlparser2) gets from its external ``entities`` dependency.
Three decoding modes (see /root/reference/src/Tokenizer.ts:825-863):

* ``STRICT``    — XML: named refs limited to the five predefined XML
  entities, and every reference (named or numeric) must end with ``;``.
* ``LEGACY``    — HTML text content: named refs without ``;`` decode iff
  they are in the spec's legacy set (the 106 semicolon-less table keys),
  using longest-prefix matching (``&timesbar`` -> ``×bar``).
* ``ATTRIBUTE`` — like LEGACY, but a semicolon-less named match is NOT
  decoded when the next character is ``=`` or alphanumeric
  (``&image=3`` stays literal; behavior pinned by
  /root/reference/src/Parser.events.spec.ts:264-267).

Numeric references: decimal/hex, ``;`` optional outside STRICT; zero
digits back out entirely (``&#x;`` stays literal); code points are
remapped per the spec (NUL, surrogates and anything past U+10FFFF ->
U+FFFD, however many digits; C1 range via the windows-1252 table).

One resolver, like the reference's single ``EntityDecoder``: a named
reference resolves against one per-mode table of every ``;``-terminated
name (or, semicolon-less, the legacy set), and a numeric one through
one parser, :func:`_codepoint`. :func:`decode_at` is that resolver for
one ``&`` (the tokenizer's per-reference step). A text span
(:func:`decode_text_span`) either takes the replace-chain, where every
reference is ``;``-terminated and resolved whole by those same two
steps, or runs the sequential ``decode_at`` scan (:func:`decode_text`).

This module is pure Python (no Spark imports) so it can run inside
Arrow-batched UDF workers with zero per-row setup cost.
"""

from __future__ import annotations

import re

from html.entities import html5 as _HTML5

__all__ = ["STRICT", "LEGACY", "ATTRIBUTE", "decode_at", "decode_text", "decode_text_span"]

STRICT = 0
LEGACY = 1
ATTRIBUTE = 2

# The five predefined XML entities: STRICT mode's whole named table.
_XML_ENTITIES = {
    "amp;": "&",
    "apos;": "'",
    "gt;": ">",
    "lt;": "<",
    "quot;": '"',
}

# windows-1252 remapping of the C1 control range, per the WHATWG
# "numeric character reference end state" table. Code points absent from
# this map (0x81, 0x8D, 0x8F, 0x90, 0x9D) pass through unchanged.
_C1_REMAP = {
    0x00: 0xFFFD,
    0x80: 0x20AC,
    0x82: 0x201A,
    0x83: 0x0192,
    0x84: 0x201E,
    0x85: 0x2026,
    0x86: 0x2020,
    0x87: 0x2021,
    0x88: 0x02C6,
    0x89: 0x2030,
    0x8A: 0x0160,
    0x8B: 0x2039,
    0x8C: 0x0152,
    0x8E: 0x017D,
    0x91: 0x2018,
    0x92: 0x2019,
    0x93: 0x201C,
    0x94: 0x201D,
    0x95: 0x2022,
    0x96: 0x2013,
    0x97: 0x2014,
    0x98: 0x02DC,
    0x99: 0x2122,
    0x9A: 0x0161,
    0x9B: 0x203A,
    0x9C: 0x0153,
    0x9E: 0x017E,
    0x9F: 0x0178,
}


# Every ';'-terminated name a mode decodes, indexed by mode. Entity
# names are [a-zA-Z][a-zA-Z0-9]* (html.entities.html5's keys, with an
# optional trailing ';'), so a ';'-terminated match always ends at the
# first ';' after the '&', and a probe there is the longest match.
_HTML_TERMINATED = {k: v for k, v in _HTML5.items() if k[-1] == ";"}
_TERMINATED = (_XML_ENTITIES, _HTML_TERMINATED, _HTML_TERMINATED)
_NAME_MAX = max(map(len, _HTML_TERMINATED))
# The semicolon-less (legacy) names, each a prefix of its own
# ';'-terminated name: matched longest-first when no terminated name
# does (LEGACY and ATTRIBUTE only).
_LEGACY = {k: v for k, v in _HTML5.items() if k[-1] != ";"}
_LEGACY_MAX = max(map(len, _LEGACY))

_RE_NUMERIC = re.compile(r"#(?:([0-9]+)|[xX]([0-9a-fA-F]+))(;?)")


def _codepoint(digits: str, base: int) -> str:
    """The character a numeric reference's digit run names: the one
    numeric parser. NUL, surrogates and anything past U+10FFFF give
    U+FFFD, the C1 range remaps via windows-1252.

    A run with more significant digits than U+10FFFF has (7 decimal, 6
    hex) is past it, however long: ``int()`` never sees it (its string
    limit would raise past 4300 digits)."""
    if len(digits) > 6:
        digits = digits.lstrip("0") or "0"
        if len(digits) > (7 if base == 10 else 6):
            return "\ufffd"
    cp = int(digits, base)
    if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        return "\ufffd"
    return chr(_C1_REMAP.get(cp, cp))


def decode_at(s: str, amp: int, mode: int):
    """Try to decode a character reference starting at ``s[amp] == '&'``.

    Returns ``(replacement, consumed)`` where ``consumed`` counts from
    the ``&`` inclusive, or ``None`` when no reference matches (the
    ``&`` and everything after it remain literal text; the caller
    rescans from ``amp + 1``).
    """
    i = amp + 1
    if s.startswith("#", i):
        # Numeric: zero digits back out ("&#x;", "&#anchor").
        m = _RE_NUMERIC.match(s, i)
        if m is None:
            return None
        dec, hexa, semi = m.groups()
        if not semi and mode == STRICT:
            return None
        char = _codepoint(dec, 10) if dec is not None else _codepoint(hexa, 16)
        return char, m.end() - amp
    semi = s.find(";", i, i + _NAME_MAX)
    if semi != -1:
        value = _TERMINATED[mode].get(s[i : semi + 1])
        if value is not None:
            return value, semi + 1 - amp
    if mode == STRICT:
        return None
    n = len(s)
    for end in range(min(i + _LEGACY_MAX, n), i + 1, -1):
        value = _LEGACY.get(s[i:end])
        if value is not None:
            break
    else:
        return None
    if mode == ATTRIBUTE and end < n:
        # A semicolon-less named match followed by '=' or an ASCII
        # alphanumeric character stays literal (legacy URL params).
        nxt = s[end]
        if nxt == "=" or (nxt.isascii() and nxt.isalnum()):
            return None
    return value, end - amp


# Every syntactic shape a character reference can take: numeric
# (dec/hex, optional ';') or a named candidate (alnum run, optional
# ';'). A match never contains another '&', and two ';'-terminated
# matches can never overlap or nest.
_RE_ANY_REF = re.compile(
    r"&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[a-zA-Z][a-zA-Z0-9]*;?)"
)


def decode_text_span(s: str, start: int, end: int, mode: int) -> str:
    """Decode every reference in ``s[start:end]`` exactly as the
    tokenizer's sequential per-'&' scan would (failed references stay
    literal, rescan past the '&').

    A span with no reference-shaped '&' is returned as is. When every
    '&' starts a ';'-terminated reference that ``decode_at`` consumes
    whole, each distinct reference is resolved once and spliced in
    with ``str.replace``, at C speed; any other span runs the
    sequential scan, :func:`decode_text`.

    The span boundary is semantics-preserving: ``end`` is either
    ``len(s)`` or the position of a ``<`` (the tokenizer's text-run
    terminator), and no reference can extend across ``<`` — names are
    alphanumeric plus ';' and numeric bodies are digits. The ATTRIBUTE
    lookahead at the span edge is likewise exact: the character after
    the span is '<' when ``end < len(s)``, which never blocks a legacy
    match, same as end-of-string.
    """
    span = s[start:end] if start or end != len(s) else s
    names = _RE_ANY_REF.findall(span)
    if not names:
        return span
    # Guards that make the replace-chain provably equal to the
    # sequential scan:
    #   * no stray '&' (count == matches) — a literal '&' directly
    #     before a reference could otherwise combine with a
    #     replacement to fabricate a new reference ('&&#108;t;' must
    #     stay '&lt;'-literal, not decode);
    #   * every distinct reference ends in ';' and decode_at consumes
    #     all of it (a table hit or a numeric) — exact-consumption,
    #     mode-pure (the ATTRIBUTE lookahead only applies to
    #     semicolon-less names);
    #   * reference texts can never overlap or nest ('&'+alnum+';'
    #     admits no substring relation), so replace order is free —
    #     EXCEPT a replacement containing '&' (the amp family) could
    #     seed a false match for a later pass, so at most one such
    #     reference is allowed and it runs last;
    #   * distinct count bounded so adversarial all-distinct streams
    #     can't turn this into O(distinct * len) scanning.
    distinct = set(names)
    if len(distinct) <= 32 and span.count("&") == len(names):
        table = _TERMINATED[mode]
        repls: list[tuple[str, str]] = []
        amp_ref = None
        for name in distinct:
            if name[-1] != ";":
                break
            # decode_at's own steps for a ';'-terminated candidate: its
            # probe (a hit is consumed whole; a miss could only prefix
            # match) or the numeric parser (consumes the whole match).
            if name[0] != "#":
                rep = table.get(name)
                if rep is None:
                    break
            elif name[1] in "xX":
                rep = _codepoint(name[2:-1], 16)
            else:
                rep = _codepoint(name[1:-1], 10)
            ref = "&" + name
            if "&" in rep:
                if amp_ref is not None:
                    break
                amp_ref = (ref, rep)
            else:
                repls.append((ref, rep))
        else:
            for ref, rep in repls:
                span = span.replace(ref, rep)
            if amp_ref is not None:
                span = span.replace(amp_ref[0], amp_ref[1])
            return span
    return decode_text(span, mode)


def decode_text(s: str, mode: int = LEGACY) -> str:
    """Decode all character references in ``s``: the sequential
    ``decode_at`` scan, the definition of a span's decode."""
    out = []
    pos = 0
    while True:
        amp = s.find("&", pos)
        if amp == -1:
            out.append(s[pos:])
            break
        res = decode_at(s, amp, mode)
        if res is None:
            out.append(s[pos : amp + 1])
            pos = amp + 1
        else:
            rep, consumed = res
            out.append(s[pos:amp])
            out.append(rep)
            pos = amp + consumed
    return "".join(out)
