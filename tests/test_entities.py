"""Entity-decoder micro-fixtures (FIXTURES.md §6, pinned by reference
snapshots — see SURVEY.md §2.4 for the file:line evidence)."""

from __future__ import annotations

import pytest

from htmlparser2_spark.engine.entities import (
    ATTRIBUTE,
    LEGACY,
    STRICT,
    decode_at,
    decode_text,
    decode_text_span,
)

LONG_ZEROS_A = "&#" + "0" * 5000 + "65;"  # 'A' behind 5000 leading zeros
LONG_PAST_MAX = "&#" + "9" * 5000 + ";"  # far past U+10FFFF


@pytest.mark.parametrize(
    ("text", "mode", "expected"),
    [
        # Legacy longest-prefix matching (Parser.events.spec.ts:128,283).
        ("&timesbar;", LEGACY, "⨱"),
        ("&timesbar", LEGACY, "\xd7bar"),
        ("&AMPel", LEGACY, "&el"),
        ("&ampeer;s", LEGACY, "&eer;s"),
        ("&lter", LEGACY, "<er"),
        ("&sum", LEGACY, "&sum"),  # 'sum' has no legacy (semicolon-less) form
        ("M&M", LEGACY, "M&M"),
        # Attribute lookahead (Parser.events.spec.ts:264-267).
        ("?&image_uri=1&&image;=2&image=3", ATTRIBUTE, "?&image_uri=1&ℑ=2&image=3"),
        ("&lt;val", ATTRIBUTE, "<val"),
        ("&para2", ATTRIBUTE, "&para2"),  # alnum after semicolon-less match
        ("&para.", ATTRIBUTE, "\xb6."),
        # Strict / XML (Tokenizer.spec.ts:174-179).
        ("&amp;&gt;&amp&lt;&uuml;", STRICT, "&>&amp<&uuml;"),
        ("&#x61;&#x62", STRICT, "a&#x62"),
        # Numerics (Parser.events.spec.ts:125-126; Parser.spec.ts #125).
        ("&#x61;&#x62&#99;&#100&#x66g&#x;&#x68", LEGACY, "abcdfg&#x;h"),
        ("id=770&#anchor", LEGACY, "id=770&#anchor"),
        ("&#53&#53", LEGACY, "55"),
        # Multi-code-point + C1/invalid remapping.
        ("&NotGreaterFullEqual;", LEGACY, "≧̸"),
        ("&#x80;", LEGACY, "€"),
        ("&#0;", LEGACY, "�"),
        ("&#xD800;", LEGACY, "�"),
        ("&#x110000;", LEGACY, "�"),
        ("&#x81;", LEGACY, "\x81"),  # passthrough, not remapped
        # Digit runs past int()'s 4300-digit limit: leading zeros do not
        # count, and past U+10FFFF is U+FFFD with the whole run consumed.
        pytest.param(f"a{LONG_ZEROS_A}b", STRICT, "aAb", id="long-zeros-65"),
        pytest.param(f"a{LONG_PAST_MAX}b", LEGACY, "a�b", id="long-past-max"),
        pytest.param("&#x" + "f" * 5000, ATTRIBUTE, "�", id="long-past-max-hex"),
        pytest.param(
            "&#x" + "0" * 5000 + "10FFFF;", LEGACY, "\U0010ffff", id="long-zeros-max"
        ),
        ("&#00000001114111;&#00000001114112;", LEGACY, "\U0010ffff�"),
    ],
)
def test_decode_text(text, mode, expected):
    assert decode_text(text, mode) == expected


def test_decode_at_consumed_counts():
    assert decode_at("&amp;x", 0, LEGACY) == ("&", 5)
    assert decode_at("&amp x", 0, LEGACY) == ("&", 4)
    assert decode_at("&#x41;", 0, LEGACY) == ("A", 6)
    assert decode_at("&#x41", 0, LEGACY) == ("A", 5)
    assert decode_at("&bogus;", 0, LEGACY) is None
    assert decode_at("&", 0, LEGACY) is None
    assert decode_at("&NotGreaterFullEqual;", 0, LEGACY) == ("\u2267\u0338", 21)
    assert decode_at(LONG_PAST_MAX + "x", 0, LEGACY) == ("�", 5003)


def test_differential_vs_cpython_unescape():
    """Text-mode entity decoding cross-checked against CPython's
    html.unescape — an independent WHATWG implementation. Differences
    are normalized for CPython's one deliberate deviation: it REMOVES
    C0/invalid code points (html._invalid_codepoints) where the
    reference's `entities` package emits them verbatim; its
    _invalid_charrefs short-circuit (which keeps the undefined C1
    slots 0x81/0x8D/0x8F/0x90/0x9D, as we do) is applied first.
    A 30k-sample offline run of this generator passes with 0 diffs.
    """
    import html as html_mod
    import random

    from htmlparser2_spark.engine.dom import parse_document, text_content

    strip = {
        chr(cp)
        for cp in html_mod._invalid_codepoints
        if cp not in html_mod._invalid_charrefs
    }
    rng = random.Random(42)
    names = [
        "amp", "lt", "gt", "times", "timesb", "nbsp", "copy", "AMP",
        "ampeer", "NotGreaterFullEqual", "image", "notareal", "uuml", "Ouml",
    ]

    def rand_s() -> str:
        parts = []
        for _ in range(rng.randrange(1, 10)):
            r = rng.random()
            if r < 0.4:
                parts.append(
                    "&" + rng.choice(names) + (";" if rng.random() < 0.5 else "")
                )
            elif r < 0.6:
                parts.append(
                    "&#" + ("x" if rng.random() < 0.5 else "")
                    + str(rng.randrange(0, 150))
                    + (";" if rng.random() < 0.5 else "")
                )
            else:
                parts.append(rng.choice(["a", " b ", "=", "1", ";", "Z&", "c"]))
        return "".join(parts)

    for _ in range(3000):
        s = rand_s().replace("<", "")
        ours = "".join(
            c for c in text_content(parse_document(s)) if c not in strip
        )
        assert ours == html_mod.unescape(s), repr(s)


def test_long_numeric_reference_in_documents():
    """Text (the exact per-'&' step), attribute values and batched text
    runs (FastTextExtractor, MarkdownExtractor) all decode a long
    numeric reference instead of failing the document."""
    from htmlparser2_spark.engine.dom import parse_document, text_content
    from htmlparser2_spark.engine.fast_text import FastTextExtractor
    from htmlparser2_spark.engine.markdown import MarkdownExtractor

    html = (
        f'<p title="x{LONG_ZEROS_A}y{LONG_PAST_MAX}">'
        f"a {LONG_ZEROS_A} b {LONG_PAST_MAX} c</p>"
    )
    nodes = parse_document(html)
    assert nodes[0]["attrs"] == {"title": "xAy�"}
    assert text_content(nodes) == "a A b � c"
    assert FastTextExtractor().extract(html)[0] == "a A b � c"
    assert MarkdownExtractor().extract(html)[0] == "a A b � c"


def _scan(s: str, mode: int) -> str:
    """The sequential per-'&' decode_at scan: the tokenizer's semantics
    for a text run, written out independently of decode_text."""
    out, pos = [], 0
    while (amp := s.find("&", pos)) != -1:
        res = decode_at(s, amp, mode)
        if res is None:
            out.append(s[pos : amp + 1])
            pos = amp + 1
        else:
            out.append(s[pos:amp] + res[0])
            pos = amp + res[1]
    return "".join(out) + s[pos:]


# Reference-shaped pieces for the span differential: ';'-terminated
# table names and numerics (replace-chain material), and pieces that
# must send a span to the sequential scan or decode differently there.
_TERMINATED_REFS = [
    "&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&nbsp;", "&copy;",
    "&mdash;", "&hellip;", "&NotGreaterFullEqual;", "&timesbar;", "&AMP;",
    "&#39;", "&#034;", "&#038;", "&#x26;", "&#8212;", "&#x1F600;", "&#x80;",
    "&#150;", "&#0;", "&#xD800;", "&#xDFFF;", "&#x110000;", "&#1114112;",
    "&#" + "0" * 40 + "65;", "&#x" + "F" * 12 + ";",
]
_OTHER_PIECES = [
    "&", "&&", " & ", "&amp", "&timesbar", "&lt", "&AMPel", "&ampeer;",
    "&notit;", "&notareal;", "&bogus;", "&sum", "&image", "&image=",
    "&para2", "&#", "&#;", "&#x;", "&#xg", "&#anchor", "&#65", "&#x41",
    "&#xD800", "&#1114112", "&&#108;t;", "&amp;lt;", "&amp;amp;", "&#38;lt;",
    "&#x26;#60;",
]
_FILLER = ["a", " ", "x;", "=", "1", ";", "lt;", "#", "é", "Z"]


def _span_text(rng, clean: bool) -> str:
    parts = []
    for _ in range(rng.randrange(1, 12)):
        r = rng.random()
        if r < 0.45:
            parts.append(rng.choice(_TERMINATED_REFS))
        elif r < 0.6 and not clean:
            parts.append(rng.choice(_OTHER_PIECES))
        elif r < 0.65 and not clean:
            parts.append("<")
        else:
            parts.append(rng.choice(_FILLER))
    return "".join(parts)


@pytest.mark.parametrize("mode", [STRICT, LEGACY, ATTRIBUTE])
def test_span_decode_equals_sequential_scan(mode):
    """decode_text_span(s, start, end) equals the sequential decode_at
    scan of s[start:end], with end at len(s) or at a '<' (the text-run
    terminator, possibly mid-run). Clean spans (only ';'-terminated
    references, no stray '&') take the replace-chain; the rest pin its
    guards: stray '&', semicolon-less and unknown names, numerics with
    no digits, surrogates, past U+10FFFF, the C1 remap, amp-family
    adjacency and spans with more than 32 distinct references."""
    import random

    rng = random.Random(1000 + mode)
    cases = []
    for k in range(4000):
        s = _span_text(rng, clean=k % 2 == 0)
        lts = [i for i, c in enumerate(s) if c == "<"]
        end = rng.choice(lts + [len(s)])
        cases.append((s, rng.randrange(0, end + 1), end))
    # More than 32 distinct references, clean and with a stray '&'.
    many = "".join(f"&#{60 + k};x" for k in range(40)) + "&amp;&lt;"
    cases += [(many, 0, len(many)), (many + " & ", 0, len(many) + 3)]
    cases.append(("&lt;&gt;<b>&amp;", 0, 8))  # ends at '<' mid-document
    # A stray '&' before a replacement fabricates the other reference,
    # whichever of '&#35;' and '&#x23;' (both '#') is replaced first.
    fabricate = "&&#35;x23; &#x23; &&#x23;35; &#35;"
    cases.append((fabricate, 0, len(fabricate)))
    for s, start, end in cases:
        assert decode_text_span(s, start, end, mode) == _scan(s[start:end], mode), (
            s, start, end,
        )
