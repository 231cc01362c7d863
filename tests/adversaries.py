"""Randomized structural adversaries and the per-document bodies they
must not stall.

:func:`structural_adversary` draws one document that stresses a
dimension a template page never does: nesting 10^4-10^5 deep over a
random mix of block, inline, list, table and ``pre`` tags; one tag with
10^5 attributes; 1 MB of unterminated comment, CDATA or raw text; or
entity soup. :func:`document_bodies` are the in-process functions
behind the Arrow UDFs: ``_make_extract`` for every mode, and the body
of every ``_doc_udf`` factory in functions/udfs.py. tests/test_fuzz.py
and tools/fuzz_campaign.py run every body on such documents under
:data:`BOUND_S` and check that the two markdown entry points agree.
"""

from __future__ import annotations

import random

import pyarrow as pa

from htmlparser2_spark.functions import udfs

__all__ = ["BOUND_S", "CASES", "document_bodies", "structural_adversary"]

# CPU seconds one body may spend on one document.
BOUND_S = 10.0

_NEST_TAGS = [
    "div", "p", "section", "blockquote", "h2", "hr", "b", "strong", "i",
    "em", "code", "span", 'a href="/u"', "a", "br", 'img src="s" alt="t"',
    "ul", "ol", "li", "table", "thead", "tbody", "tr", "td", "th", "pre",
]
_ENTITIES = [
    "&amp;", "&amp", "&lt", "&#x41;", "&#65;", "&#;", "&#x;", "&notit;",
    "&notin;", "&timesbar;", "&NotGreaterFullEqual;", "&#1114112;", "& ",
    "&", "x",
]
_RAW_OPENERS = ["<script>", "<style>", "<textarea>", "<title>", "<xmp>"]
CASES = ("nested", "attrs", "comment", "cdata", "raw_text", "entities")


def structural_adversary(rng: random.Random, case: str | None = None) -> str:
    """One random structural adversary of ``case`` (one of
    :data:`CASES`, random when None)."""
    case = case or rng.choice(CASES)
    if case == "nested":
        depth = rng.randint(10_000, 100_000)
        pieces = []
        for _ in range(depth):
            pieces.append(f"<{rng.choice(_NEST_TAGS)}>")
            r = rng.random()
            if r < 0.1:
                pieces.append("w ")
            elif r < 0.12:
                pieces.append(f"</{rng.choice(_NEST_TAGS).split()[0]}>")
        return "".join(pieces) + "x"
    if case == "attrs":
        n = 100_000
        name = rng.choice(_NEST_TAGS).split()[0]
        attrs = " ".join(f'a{i}="v{i % 7}"' for i in range(n))
        return f"<{name} {attrs}>x</{name}>"
    filler = "x <y> & " * 125_000  # 1 MB
    if case == "comment":
        return "<p>a</p><!--" + filler
    if case == "cdata":
        return "<svg><![CDATA[" + filler
    if case == "raw_text":
        return rng.choice(_RAW_OPENERS) + filler
    return "".join(rng.choice(_ENTITIES) for _ in range(200_000))


def document_bodies() -> dict:
    """Body name -> per-document function: each ``_make_extract`` mode,
    and each ``_doc_udf`` factory's Arrow body on a one-row batch."""
    bodies = {
        f"extract_{mode}": udfs._make_extract(mode)
        for mode in ("text", "main", "markdown")
    }
    for name in (
        "extract_text_udf", "inner_text_udf", "clean_text_udf",
        "main_content_udf", "markdown_udf", "dom_nodes_udf",
        "node_counts_udf", "parser_events_udf", "feed_udf", "sitemap_udf",
        "doc_stats_udf",
    ):
        run = getattr(udfs, name)().func
        bodies[name] = lambda doc, run=run: run(pa.array([doc])).to_pylist()
    return bodies
