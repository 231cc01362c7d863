"""Whole markup constructs for the fuzzers to splice between random runs.

Single random characters rarely spell a complete tag, comment or entity
for a chunk cut to split, so tests/test_fuzz.py and
tools/fuzz_campaign.py both draw documents that mix :data:`TOKENS` with
short random runs. One list serves both: a shape added here reaches the
CI-sized property tests and the offline campaign alike.
"""

from __future__ import annotations

__all__ = ["TOKENS"]

TOKENS = [
    # tags, raw text, comments, CDATA, declarations
    "<p>", "</p>", "<p ", "<b x=1>", "<br/>", "</ div>", "<script>",
    "</script>", "<style>", "<title>", "</title>", "<svg>", "</svg>",
    "<plaintext>", "<!--", "-->", "--!>", "<![CDATA[", "]]>",
    "<!doctype html>", "<?php ?>", "<iframe>", "<noembed>", "<xmp>",
    "</xmp>",
    # character references
    "&amp;", "&amp", "&lt;", "&times", "&timesbar;", "&notin;", "&#x41;",
    "&#65;", "&#", "&NotGreaterFullEqual;",
    # bare attribute pieces
    "a='b'", 'c="d"', "x=y",
    # tree-construction rules
    "<form>", "<image>", "</image>", "<math>", "<foreignObject>",
    "<desc>", "<li>", "<td>", "<tr>", "<h1>", "<P>", "<IMG>", "<input>",
    "</br>",
    # case folding of special names and doctype (ASCII only)
    "<SCRIPT>", "</ScRiPt>", "<TiTle>", "</TITLE >", "<!DocType x>",
    "</scr\u0130pt>", "</\u017ftyle>", "<XMP>", "<STYLE>", "<PlainText>",
    # light open tags and close-tag shapes
    '<a href="x" b>', "<li A='1' a=\"2\" >", '<svg viewBox="0 0">',
    '<form x="1">', '<image src="s">', '<td class="c">', '<input a="">',
    "</p junk>", "</a b=1>", "</li/>",
    # attribute sections the exact machine takes: `&`-carrying quoted
    # and unquoted values, `/>`, a quote inside a name
    '<a href="?a=1&amp;b=2">', "<a href=x&amp;y>", '<p a="1"/>',
    '<a b"c=1>',
    # special names inside foreign content
    "<svg><title>", "<svg><script>", "<math><style>", "<svg><xmp a='1'>",
    "<svg><TEXTAREA>",
    # the markdown rules' elements
    "<ul>", "</ul>", "<ol>", "</li>", "<blockquote>", "</blockquote>",
    "<pre>", "</pre>", "<table>", "</table>", "<thead>", "<tbody>",
    "<th>", "</tr>", "<code>", "</code>", "<b>", "</b>", "<strong>",
    "<i>", "</i>", "<em>", "<hr>", "<h2>", "</h2>",
    '<img alt="t" src="s">', "<br>", "<div>", "</div>", "<span>",
    "<body>", "</body>", "<textarea>",
]
