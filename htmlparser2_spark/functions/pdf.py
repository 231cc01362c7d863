"""PDF / layout-parse plumbing over binary payload columns.

The north rule lists "PDF/layout parse" alongside HTML extraction. No
PDF library is a dependency, so the decode step is a minimal
content-stream parser (FlateDecode streams inflated with stdlib zlib)
with a clearly marked deterministic stub fallback, behind the same
``mapInArrow`` contract the HTML path uses — swap
``_extract_pdf_text_stub`` for pdfminer/pypdf and every schema, batch
shape, and downstream operator stays unchanged.

The layout model is the real contract: a PDF parses into *spans*
``(page_no, span_idx, kind, text, x0, y0, x1, y1)``; document text is
the reading-order concatenation of text spans — the analogue of the
DOM adjacency array for paged media.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["SPAN_SCHEMA", "pdf_spans", "pdf_text"]

SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page_no", IntegerType()),
        StructField("span_idx", IntegerType()),
        StructField("kind", StringType()),  # text | image | rule
        StructField("text", StringType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
    ]
)


_RE_STREAM = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
# The stream dictionary's filter: one /FlateDecode (bare or as a
# one-element array) is inflated; any other filter is not decoded.
_RE_FILTER = re.compile(rb"/Filter\s*(\[\s*/FlateDecode\s*\]|/FlateDecode\b)?")
# All FlateDecode streams of one document inflate to at most this many
# bytes together. Deflate reaches ~1000:1, so without a bound one
# crafted row of a few MB could inflate to GBs inside the worker; the
# bound keeps a row's content on the scale of an uncompressed payload.
_MAX_INFLATED_BYTES = 8 << 20
_RE_BT = re.compile(rb"BT(.*?)ET", re.DOTALL)
# Text-object operators we understand: positioning (Td/TD/Tm/T*) and
# show-text (Tj, ', TJ with an array of strings/kerns).
_RE_OP = re.compile(
    rb"(?:(-?[\d.]+)\s+(-?[\d.]+)\s+(Td|TD)\b)"
    rb"|(?:(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+"
    rb"(-?[\d.]+)\s+(-?[\d.]+)\s+Tm\b)"
    rb"|(T\*)"
    rb"|(?:(\((?:[^()\\]|\\.)*\))\s*(Tj|'))"
    rb"|(?:(\[(?:[^\]\\()]|\((?:[^()\\]|\\.)*\))*\])\s*TJ)"
)
_RE_LITERAL = re.compile(rb"\((?:[^()\\]|\\.)*\)")
_PDF_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_literal(raw: bytes) -> str:
    """Decode a PDF literal string ``(...)`` with escapes and octal."""
    out = bytearray()
    i, n = 1, len(raw) - 1  # strip parens
    while i < n:
        c = raw[i : i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt.isdigit():
            j = i + 1
            while j < min(i + 4, n) and raw[j : j + 1].isdigit():
                j += 1
            out.append(int(raw[i + 1 : j], 8) & 0xFF)
            i = j
        else:
            out += _PDF_ESCAPES.get(nxt, nxt)
            i += 2
    return out.decode("latin-1")


def _stream_content(
    payload: bytes, m: re.Match, dict_start: int, budget: int
) -> tuple[bytes, int]:
    """A content stream's bytes and how many of them were inflated.

    The stream is inflated with zlib when its dictionary (from the
    enclosing ``obj``, or ``dict_start``) says ``/Filter /FlateDecode``,
    to at most ``budget`` bytes. A stream that fails to inflate, that
    would inflate past ``budget``, or whose filter is not FlateDecode,
    gives ``b""``."""
    s = m.start()
    head = payload[max(dict_start, payload.rfind(b"obj", 0, s)) : s]
    f = _RE_FILTER.search(head)
    if f is None:
        return m.group(1), 0
    if f.group(1) is None or budget <= 0:  # max_length 0 means no limit
        return b"", 0
    inflater = zlib.decompressobj()
    try:
        content = inflater.decompress(m.group(1), budget)
    except zlib.error:
        return b"", 0
    # Short of the deflate end: corrupt, truncated, or stopped at the
    # budget with input left in unconsumed_tail.
    if not inflater.eof:
        return b"", 0
    return content, len(content)


def _extract_pdf_text_real(payload: bytes) -> list[dict]:
    """Minimal REAL layout parser for PDF content streams.

    Walks ``stream…endstream`` content streams (one page per stream),
    inflating ``/Filter /FlateDecode`` ones with zlib, and interprets
    ``BT…ET`` text objects — ``Td``/``TD``/``Tm``/``T*``
    positioning, ``Tj``/``'``/``TJ`` show-text with escape and octal
    decoding — and emits one span per show-text operator positioned at
    the current text point (width estimated at 6pt/char, 12pt line
    height: header-level layout, not glyph metrics). A stream that
    fails to inflate, that would take the document's inflated bytes
    past ``_MAX_INFLATED_BYTES``, or that carries another filter,
    yields nothing — a full pdfminer/pypdf replaces this in production
    behind the same span schema.
    """
    spans: list[dict] = []
    prev_end = 0
    budget = _MAX_INFLATED_BYTES
    for page_no, m in enumerate(_RE_STREAM.finditer(payload)):
        body, inflated = _stream_content(payload, m, prev_end, budget)
        budget -= inflated
        prev_end = m.end()
        span_idx = 0
        for bt in _RE_BT.finditer(body):
            x, y = 0.0, 0.0
            line_x = 0.0
            for op in _RE_OP.finditer(bt.group(1)):
                if op.group(3):  # Td / TD
                    line_x += float(op.group(1))
                    x = line_x
                    y += float(op.group(2))
                elif op.group(9):  # Tm
                    line_x = x = float(op.group(8))
                    y = float(op.group(9))
                elif op.group(10):  # T*
                    x = line_x
                    y -= 12.0
                elif op.group(11):  # (…) Tj or '
                    if op.group(12) == b"'":
                        x = line_x
                        y -= 12.0
                    text = _pdf_literal(op.group(11))
                    spans.append(
                        {
                            "page_no": page_no,
                            "span_idx": span_idx,
                            "kind": "text",
                            "text": text,
                            "x0": x,
                            "y0": y,
                            "x1": x + 6.0 * len(text),
                            "y1": y + 12.0,
                        }
                    )
                    span_idx += 1
                elif op.group(13):  # [ … ] TJ
                    text = "".join(
                        _pdf_literal(lit.group(0))
                        for lit in _RE_LITERAL.finditer(op.group(13))
                    )
                    spans.append(
                        {
                            "page_no": page_no,
                            "span_idx": span_idx,
                            "kind": "text",
                            "text": text,
                            "x0": x,
                            "y0": y,
                            "x1": x + 6.0 * len(text),
                            "y1": y + 12.0,
                        }
                    )
                    span_idx += 1
    return spans


def _extract_pdf_text_stub(payload: bytes) -> list[dict]:
    """PDF layout parse: REAL for uncompressed text operators
    (:func:`_extract_pdf_text_real`, FlateDecode streams inflated),
    deterministic STUB fallback when the document yields no parseable
    text objects (no content stream, only image/font data, or streams
    that fail to inflate or exceed the inflate bound).

    Raises ValueError on an invalid header exactly like a real parser.
    """
    if not payload.startswith(b"%PDF"):
        raise ValueError("not a PDF payload")
    real = _extract_pdf_text_real(payload)
    if real:
        return real
    digest = hashlib.sha256(payload).hexdigest()
    n_pages = 1 + payload[-1] % 3
    spans = []
    for page in range(n_pages):
        for idx in range(2):
            spans.append(
                {
                    "page_no": page,
                    "span_idx": idx,
                    "kind": "text",
                    "text": f"p{page}s{idx}:{digest[:8]}",
                    "x0": 72.0,
                    "y0": 700.0 - 14 * idx,
                    "x1": 540.0,
                    "y1": 714.0 - 14 * idx,
                }
            )
    return spans


def pdf_spans(df: DataFrame, *, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Explode PDF payloads into layout spans (mapInArrow, Arrow batches).

    Invalid payloads yield zero spans (observable as missing doc_ids)
    rather than failing the task.
    """

    schema = to_arrow_schema(SPAN_SCHEMA)

    def worker(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = {name: [] for name in schema.names}
            for doc_id, payload in zip(
                batch.column(id_col).to_pylist(),
                batch.column(payload_col).to_pylist(),
            ):
                try:
                    spans = _extract_pdf_text_stub(bytes(payload or b""))
                except ValueError:
                    continue
                for span in spans:
                    rows["doc_id"].append(doc_id)
                    for k, v in span.items():
                        rows[k].append(v)
            yield pa.RecordBatch.from_pydict(rows, schema=schema)

    return df.select(id_col, payload_col).mapInArrow(worker, SPAN_SCHEMA)


def pdf_text(spans: DataFrame) -> DataFrame:
    """Reading-order text per document: page ascending, then top-down
    (descending y), then span order — pure DataFrame ops."""
    from pyspark.sql import functions as F

    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                "page_no",
                (-F.col("y0")).alias("neg_y"),
                "span_idx",
                "text",
            )
        )
    )
    return (
        spans.filter(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n", F.transform(ordered, lambda s: s["text"])
            ).alias("text")
        )
    )
