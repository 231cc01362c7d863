"""WARC (Web ARChive) record parsing — the raw Common-Crawl ingest step.

A crawl delivers WARC records: a ``WARC/1.0`` version line, CRLF
header block, blank line, then the content block (for ``response``
records, an HTTP response envelope whose body is the page payload).
:func:`warc_record_udf` parses one record per row into typed columns +
the raw payload bytes, Arrow-batched, with the same NULL-on-failure
contract as the media codecs (a malformed record yields NULL fields,
never a task failure — at crawl scale some records are always
corrupt).

No external warc library: the format is a few dozen lines of byte
splitting, and staying dependency-free keeps the UDF shippable via
``--py-files``. Synthesis (:func:`warc_pages_expr`) builds
byte-identical records from the pages table in BOTH SQL dialects, so
the parse is oracle-checked end-to-end (q_warc_roundtrip).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.udfs import _cell_udf

__all__ = [
    "WARC_RECORD_SCHEMA",
    "warc_record_udf",
    "warc_file_records_udf",
    "warc_pages_expr",
    "wet_record_expr",
]

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)

_EMPTY = {f.name: None for f in WARC_RECORD_SCHEMA.fields}


def _parse_headers(block: bytes) -> dict[bytes, bytes]:
    headers: dict[bytes, bytes] = {}
    for line in block.split(b"\r\n"):
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower()] = v.strip()
    return headers


def _parse_record(rec) -> dict:
    if rec is None:
        return dict(_EMPTY)
    try:
        data = bytes(rec)
        if data[:2] == b"\x1f\x8b":
            # Common Crawl ships one gzip member per record.
            import gzip

            data = gzip.decompress(data)
        head, sep, rest = data.partition(b"\r\n\r\n")
        if not sep or not head.startswith(b"WARC/"):
            return dict(_EMPTY)
        version, _, header_block = head.partition(b"\r\n")
        h = _parse_headers(header_block)
        out = dict(_EMPTY)
        out["warc_type"] = (h.get(b"warc-type") or b"").decode("ascii", "replace") or None
        out["target_uri"] = (h.get(b"warc-target-uri") or b"").decode("utf-8", "replace") or None
        out["warc_date"] = (h.get(b"warc-date") or b"").decode("ascii", "replace") or None
        out["content_type"] = (h.get(b"content-type") or b"").decode("ascii", "replace") or None
        # Content-Length bounds the block (records are concatenated in
        # real WARC files; a single-record row may also carry trailing
        # CRLFCRLF separators).
        try:
            clen = int(h.get(b"content-length", b""))
            if clen < 0:
                return dict(_EMPTY)  # corrupt framing, not a record
            block = rest[:clen]
        except ValueError:
            block = rest
        if out["warc_type"] == "response" and block.startswith(b"HTTP/"):
            http_head, sep2, body = block.partition(b"\r\n\r\n")
            if sep2:
                status_line, _, http_headers = http_head.partition(b"\r\n")
                parts = status_line.split(None, 2)
                try:
                    out["http_status"] = int(parts[1])
                except (IndexError, ValueError):
                    out["http_status"] = None
                hh = _parse_headers(http_headers)
                out["http_content_type"] = (
                    (hh.get(b"content-type") or b"").decode("ascii", "replace")
                    or None
                )
                out["payload"] = body
            else:
                out["payload"] = None
        else:
            out["payload"] = block
        return out
    except Exception:
        return dict(_EMPTY)


def warc_record_udf():
    """binary WARC record (plain or a gzip member) -> struct (see
    WARC_RECORD_SCHEMA)."""

    return _cell_udf(_parse_record, WARC_RECORD_SCHEMA)


def _split_warc_file(data: bytes) -> list[bytes]:
    """Split a concatenated WARC file into records by walking
    Content-Length (the format's framing — no scanning for magic
    strings, which may legally occur inside payloads). Stops at the
    first frame whose header block does not parse; a gzipped file
    (one member per record, as Common Crawl ships) is decompressed
    whole first."""
    if data[:2] == b"\x1f\x8b":
        import gzip

        data = gzip.decompress(data)
    records: list[bytes] = []
    pos = 0
    n = len(data)
    while pos < n:
        if data.startswith(b"\r\n", pos):  # inter-record separators
            pos += 2
            continue
        if not data.startswith(b"WARC/", pos):
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        h = _parse_headers(data[pos:head_end])
        try:
            clen = int(h.get(b"content-length", b""))
        except ValueError:
            break
        if clen < 0:
            # A negative length would make rec_end == pos and loop
            # forever emitting empty records — corrupt tail, stop.
            break
        rec_end = min(head_end + 4 + clen, n)
        records.append(data[pos:rec_end])
        pos = rec_end
    return records


def warc_file_records_udf():
    """binary WARC *file* (many records, optionally gzipped) ->
    array<binary> of individual records, ready for ``explode`` +
    :func:`warc_record_udf`. Pairs with ``spark.read.format
    ("binaryFile")`` for raw-crawl ingestion; a corrupt tail yields
    the records before it rather than failing the task."""

    return _cell_udf(
        lambda d: [] if d is None else _split_warc_file(d), ArrayType(BinaryType())
    )


def warc_pages_expr(dialect: str) -> str:
    """SQL expression building a WARC response record from the pages
    columns (url, warc_ts, html/page_str) — identical bytes in both
    dialects, so DuckDB can replay the synthesis and the roundtrip
    oracle pins byte identity via md5.

    'spark' yields BINARY (headers encoded + the html bytes); 'duckdb'
    yields VARCHAR (the page content is valid UTF-8, so the string's
    UTF-8 bytes ARE the record bytes — and DuckDB's md5 hashes
    exactly those)."""
    crlf = "chr(13) || chr(10)"
    if dialect == "spark":
        date = "date_format(warc_ts, \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
        olen = "octet_length({s})"
        payload_len = "octet_length(html)"
    elif dialect == "duckdb":
        date = "strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ')"
        olen = "octet_length(encode({s}))"
        payload_len = "octet_length(encode(page_str))"
    else:
        raise ValueError(dialect)
    http_head = (
        f"'HTTP/1.1 200 OK' || {crlf} || "
        f"'Content-Type: text/html; charset=utf-8' || {crlf} || {crlf}"
    )
    # Content-Length covers the HTTP block: head + body bytes.
    block_len = f"({olen.format(s=http_head)} + {payload_len})"
    warc_head = (
        f"'WARC/1.0' || {crlf} || "
        f"'WARC-Type: response' || {crlf} || "
        f"'WARC-Target-URI: ' || url || {crlf} || "
        f"'WARC-Date: ' || {date} || {crlf} || "
        f"'Content-Type: application/http; msgtype=response' || {crlf} || "
        f"'Content-Length: ' || CAST({block_len} AS STRING) || "
        f"{crlf} || {crlf}"
    )
    if dialect == "spark":
        return f"encode({warc_head} || {http_head}, 'utf-8') || html"
    return f"{warc_head} || {http_head} || page_str"


def wet_record_expr(dialect: str) -> str:
    """SQL expression building a WET ``conversion`` record — the
    Common-Crawl extracted-text output shape — from (url, warc_ts,
    text). Identical bytes in both dialects (same contract as
    :func:`warc_pages_expr`), so the synthesis->parse roundtrip is
    oracle-checked end-to-end (q_wet_roundtrip).

    The record id derives deterministically from ``md5(url)`` (real
    WET writers use random uuids; determinism is exactly what lets an
    oracle replay the bytes — swap in a uuid generator for production
    archives if global uniqueness across crawls matters)."""
    crlf = "chr(13) || chr(10)"
    if dialect == "spark":
        date = "date_format(warc_ts, \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
        text_len = "octet_length(text)"
    elif dialect == "duckdb":
        date = "strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ')"
        text_len = "octet_length(encode(text))"
    else:
        raise ValueError(dialect)
    head = (
        f"'WARC/1.0' || {crlf} || "
        f"'WARC-Type: conversion' || {crlf} || "
        f"'WARC-Target-URI: ' || url || {crlf} || "
        f"'WARC-Date: ' || {date} || {crlf} || "
        f"'WARC-Record-ID: <urn:uuid:' || md5(url) || '>' || {crlf} || "
        f"'Content-Type: text/plain' || {crlf} || "
        f"'Content-Length: ' || CAST({text_len} AS STRING) || "
        f"{crlf} || {crlf}"
    )
    if dialect == "spark":
        return f"encode({head} || text, 'utf-8')"
    return f"{head} || text"
