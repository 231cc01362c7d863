"""UTF-8 byte-stream ingestion semantics (WritableStream equivalent).

The reference's stream adapters keep split multi-byte UTF-8 sequences
intact (WritableStream.ts:18-42, spec:10-20); per-row whole-document
decoding makes that automatic here — these tests pin decoding of
multi-byte content, invalid bytes (errors='replace'), and astral-plane
position conversion.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlparser2_spark.engine.dom import parse_document, text_content
from htmlparser2_spark.engine.positions import cp_to_utf16, utf16_offsets, utf16_to_cp


def test_multibyte_utf8_through_udf(spark):
    from htmlparser2_spark.functions.udfs import extract_text_udf

    html = "<p>héllo wörld — café \U0001F600 中文</p>".encode()
    df = spark.createDataFrame([(html,)], "html binary")
    out = df.select(extract_text_udf()(F.col("html")).alias("t")).collect()[0]["t"]
    assert out == "héllo wörld — café \U0001F600 中文"


def test_invalid_utf8_replaced(spark):
    from htmlparser2_spark.functions.udfs import extract_text_udf

    html = b"<p>ok \xff\xfe bad</p>"
    df = spark.createDataFrame([(html,)], "html binary")
    out = df.select(extract_text_udf()(F.col("html")).alias("t")).collect()[0]["t"]
    assert out == "ok �� bad"


pytestmark_engine = []  # engine-level tests below need no spark


def test_astral_positions_engine():
    doc = "<p>a\U0001F600b</p>"
    nodes = parse_document(doc)
    text = [n for n in nodes if n["type"] == "text"][0]
    # Code-point positions (engine contract).
    assert doc[text["start_index"] : text["end_index"] + 1] == "a\U0001F600b"
    # UTF-16 conversion matches what the reference would report.
    offs = utf16_offsets(doc)
    assert cp_to_utf16(offs, text["start_index"]) == 3
    assert cp_to_utf16(offs, text["end_index"]) == 6  # 'b' at u16 index 6
    assert utf16_to_cp(offs, 6) == text["end_index"]


@pytest.mark.parametrize("u16", range(12))
def test_utf16_roundtrip(u16):
    doc = "x\U0001F600y\U0001F601z abc"
    offs = utf16_offsets(doc)
    cp = utf16_to_cp(offs, u16)
    # Round trip holds for positions that aren't inside a surrogate pair.
    if cp_to_utf16(offs, cp) == u16:
        assert 0 <= cp <= len(doc)


def test_text_content_multibyte():
    nodes = parse_document("<div>&#x1F600;&amp;中</div>")
    assert text_content(nodes) == "\U0001F600&中"


test_multibyte_utf8_through_udf = pytest.mark.spark(test_multibyte_utf8_through_udf)
test_invalid_utf8_replaced = pytest.mark.spark(test_invalid_utf8_replaced)


# ----------------------------------------------------------------------
# End-to-end astral-plane position parity.
#
# The reference reports positions in UTF-16 code units (JS string
# indices, /root/reference/src/Parser.ts:261-264); this engine reports
# code points and converts via engine/positions.py. To pin parity
# without a JS runtime: replace every astral char with TWO BMP chars —
# the resulting document has exactly the UTF-16 code-unit geometry the
# reference sees for the astral document (each astral char = 2 units =
# 2 placeholder chars), and for pure-BMP input our code-point indices
# ARE UTF-16 indices. So expanded-doc indices = the reference's indices
# for the astral doc, derived independently of cp_to_utf16.

_ASTRAL_DOC = (
    '<h1 id="a\U0001F600b">Hi \U0001F30D x</h1>'
    "<!-- c\U0001F4AFd --><script>s\U0001F600t</script><p>tail</p>"
)
_EXPANDED_DOC = (
    _ASTRAL_DOC.replace("\U0001F600", "Q1")
    .replace("\U0001F30D", "W2")
    .replace("\U0001F4AF", "E3")
)


def _engine_events(doc):
    from .collector import EventCollector
    from htmlparser2_spark.engine.parser import Parser

    col = EventCollector()
    p = Parser(col)
    col.attach(p)
    p.parse(doc)
    return col.events


def test_astral_event_positions_match_utf16_reference_engine():
    astral = _engine_events(_ASTRAL_DOC)
    ref_u16 = _engine_events(_EXPANDED_DOC)  # = reference's UTF-16 indices
    offs = utf16_offsets(_ASTRAL_DOC)
    assert offs, "fixture must contain astral characters"
    assert [e["$event"] for e in astral] == [e["$event"] for e in ref_u16]
    for ea, eb in zip(astral, ref_u16):
        assert cp_to_utf16(offs, ea["startIndex"]) == eb["startIndex"], ea
        assert cp_to_utf16(offs, ea["endIndex"]) == eb["endIndex"], ea
        # And back: the reference's UTF-16 indices map onto our code
        # points (testHelper.ts:62-66 validates index invariants).
        assert utf16_to_cp(offs, eb["startIndex"]) == ea["startIndex"]
        assert utf16_to_cp(offs, eb["endIndex"]) == ea["endIndex"]


def test_astral_positions_through_spark_udf(spark):
    """The same parity end-to-end through parser_events_udf: converted
    indices from the astral document equal the reference-equivalent
    UTF-16 indices of its BMP-expanded twin."""
    from htmlparser2_spark.functions.udfs import parser_events_udf

    df = spark.createDataFrame(
        [(0, _ASTRAL_DOC.encode()), (1, _EXPANDED_DOC.encode())],
        "doc_kind int, html binary",
    )
    rows = (
        df.select("doc_kind", F.explode(parser_events_udf()(F.col("html"))).alias("e"))
        .select("doc_kind", "e.*")
        .collect()
    )
    by_kind = {0: [], 1: []}
    for r in rows:
        by_kind[r["doc_kind"]].append(r)
    astral = sorted(by_kind[0], key=lambda r: r["seq"])
    ref_u16 = sorted(by_kind[1], key=lambda r: r["seq"])
    offs = utf16_offsets(_ASTRAL_DOC)
    assert len(astral) == len(ref_u16) and len(astral) > 5
    for ea, eb in zip(astral, ref_u16):
        assert ea["event"] == eb["event"]
        assert cp_to_utf16(offs, ea["start_index"]) == eb["start_index"]
        assert cp_to_utf16(offs, ea["end_index"]) == eb["end_index"]


test_astral_positions_through_spark_udf = pytest.mark.spark(
    test_astral_positions_through_spark_udf
)
