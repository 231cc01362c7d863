"""One payload decoder for every document path.

``functions/udfs.py``'s ``_to_str`` turns each html cell into the
document string for ``parse_pages`` and every per-document HTML UDF:
NULL is the empty document, STRING is used as is, BINARY decodes as
UTF-8 with U+FFFD replacement (or, in ``parse_pages`` with
``sniff_charset``, through the BOM + meta-prescan decoder). These tests
feed the same documents as a STRING and as a BINARY column and require
identical results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlparser2_spark.functions import udfs
from htmlparser2_spark.operators.domquery import inner_html, outer_html

pytestmark = pytest.mark.spark


# ----------------------------------------------------------------------
# parse_pages: BINARY and STRING html columns extract identically.

_PAGES = [
    ("https://a/0", "<p>plain ascii</p>", "plain ascii"),
    (
        "https://a/1",
        '<html><head><meta charset="utf-8"><title>Café</title></head>'
        "<body><h1>héllo wörld — 中文 \U0001F600</h1><ul><li>naïve</li></ul>"
        "</body></html>",
        "Caféhéllo wörld — 中文 \U0001F600naïve",
    ),
    ("https://a/2", None, ""),
]


def _pages(spark, html_type):
    rows = [
        (url, None if html is None else html.encode() if html_type == "binary" else html,
         text, "en")
        for url, html, text in _PAGES
    ]
    return spark.createDataFrame(
        rows, f"url string, html {html_type}, text string, lang string"
    )


@pytest.mark.parametrize("sniff", [False, True])
@pytest.mark.parametrize("mode", ["text", "markdown"])
def test_parse_pages_string_and_binary_html_agree(spark, mode, sniff):
    from htmlparser2_spark.plans.extract_job import parse_pages

    out = {}
    for html_type in ("binary", "string"):
        pages = _pages(spark, html_type)
        octets = {
            r["url"]: r["n"]
            for r in pages.select(
                "url", F.coalesce(F.octet_length("html"), F.lit(0)).alias("n")
            ).collect()
        }
        rows = parse_pages(pages, mode=mode, sniff_charset=sniff).collect()
        assert {r["url"]: r["html_bytes"] for r in rows} == octets
        out[html_type] = {
            r["url"]: (r["extracted"], r["golden_match"], r["n_tags"]) for r in rows
        }
    assert out["string"] == out["binary"]
    assert len(out["string"]) == len(_PAGES)
    if mode == "text":
        assert all(m == 1 for _, m, _ in out["string"].values())
    # The multi-byte page is really multi-byte: bytes exceed characters.
    assert len(_PAGES[1][1].encode()) > len(_PAGES[1][1])


# ----------------------------------------------------------------------
# Every per-document UDF: STRING == BINARY, NULL == "", bad bytes -> U+FFFD.

_DOCS = [
    ("multibyte", "<html><body><p>héllo 中文 \U0001F600</p><a href='/x'>l</a></body></html>"),
    ("feed", '<rss version="2.0"><channel><title>T é</title>'
             "<item><title>i</title><link>https://h/i</link></item></channel></rss>"),
    ("sitemap", "<urlset><url><loc>https://h/ü</loc><priority>0.5</priority></url></urlset>"),
    ("null", None),
    ("empty", ""),
]
# Invalid UTF-8 bytes next to the string they must decode to.
_BAD = [
    ("bad_html", b"<body><p>ok \xff\xfe bad</p></body>", "<body><p>ok �� bad</p></body>"),
    ("bad_feed", b'<rss version="2.0"><channel><title>ok \xff</title></channel></rss>',
     '<rss version="2.0"><channel><title>ok �</title></channel></rss>'),
    ("bad_sitemap", b"<urlset><url><loc>https://h/\xc3</loc></url></urlset>",
     "<urlset><url><loc>https://h/�</loc></url></urlset>"),
]


def _udf(factory, **kw):
    return lambda df, c: df.withColumn("r_" + c, factory(**kw)(F.col(c)))


_FACTORIES = {
    "extract_text": _udf(udfs.extract_text_udf),
    "extract_text_opts": _udf(udfs.extract_text_udf, decode_entities=False),
    "inner_text": _udf(udfs.inner_text_udf),
    "clean_text": _udf(udfs.clean_text_udf),
    "main_content": _udf(udfs.main_content_udf),
    "dom_nodes": _udf(udfs.dom_nodes_udf),
    "node_counts": _udf(udfs.node_counts_udf),
    "parser_events": _udf(udfs.parser_events_udf),
    "feed": _udf(udfs.feed_udf),
    "markdown": _udf(udfs.markdown_udf),
    "sitemap": _udf(udfs.sitemap_udf),
    "doc_stats": _udf(udfs.doc_stats_udf),
    "outer_html": lambda df, c: outer_html(df, html_col=c).withColumnRenamed(
        "outer_html", "r_" + c
    ),
    "inner_html": lambda df, c: inner_html(df, html_col=c).withColumnRenamed(
        "inner_html", "r_" + c
    ),
}


@pytest.mark.parametrize("name", sorted(_FACTORIES))
def test_doc_udf_decodes_string_and_binary_alike(spark, name):
    rows = [
        (key, doc, None if doc is None else doc.encode()) for key, doc in _DOCS
    ] + [(key, as_str, raw) for key, raw, as_str in _BAD]
    df = spark.createDataFrame(rows, "id string, s string, b binary")
    apply = _FACTORIES[name]
    out = {
        r["id"]: (r["r_s"], r["r_b"])
        for r in apply(apply(df, "s"), "b").select("id", "r_s", "r_b").collect()
    }
    for key, (from_str, from_bin) in out.items():
        assert from_str == from_bin, key
    assert out["null"] == out["empty"]
    # Not vacuous: the documents do not all give the empty result.
    assert any(out[k] != out["empty"] for k in ("multibyte", "feed", "sitemap"))
