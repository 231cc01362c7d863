"""CDX capture index over WARC records — the lookup artifact every
web archive ships next to its WARCs (Common Crawl's cc-index, the
OpenWayback/pywb CDX(J) convention): one row per capture keyed by
(SURT urlkey, 14-digit timestamp) carrying the payload digest and the
record's (filename, offset, length) so a reader can range-request one
capture out of a petabyte of archive without scanning.

Relational construction, no I/O: captures are assigned to output
files by a deterministic hash group, and each file's byte offsets are
a prefix sum over its records in (urlkey, ts, url) order — the same
grouped-window shape as the token-budget shard packer, ONE shuffle on
the file group, no global sort (a 100 TB crawl indexes as n_files
independent window scans; size ``n_files`` so a group fits an
executor's spill budget). Digest defaults to SHA-256 hex (the modern
archive profile; DuckDB has no SHA-1, and hex keeps the oracle
byte-exact where base32 would need a custom transcode);
``digest_format="sha1-b32"`` emits the classic CDX convention
(uppercase unpadded base32 of SHA-1 — what pywb/OpenWayback readers
expect) via an Arrow-batched UDF, for interop with existing archive
tooling. The driver oracle stays on the hex default.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import surt_key

__all__ = ["cdx_index", "DIGEST_FORMATS"]

DIGEST_FORMATS = ("sha256-hex", "sha1-b32")


def _sha1_b32_udf():
    """base32(SHA-1(payload)), uppercase, no padding (20 bytes -> 32
    chars exactly) — the CDX digest field as pywb computes it. JVM-side
    sha2 covers the default format; SHA-1 only exists Python-side, so
    this is the one Arrow hop in the operator."""
    import base64
    import hashlib

    @F.pandas_udf("string")
    def _digest(payload: pd.Series) -> pd.Series:
        return payload.map(
            lambda b: None
            if b is None
            else base64.b32encode(hashlib.sha1(b).digest()).decode("ascii")
        )

    return _digest


def cdx_index(
    records: DataFrame,
    *,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    record_col: str = "record",
    payload_col: str | None = None,
    n_files: int = 64,
    file_prefix: str = "crawl",
    group_expr: Column | None = None,
    digest_format: str = "sha256-hex",
) -> DataFrame:
    """(urlkey, ts14, url, digest, filename, offset, length) per
    record. ``digest`` hashes ``payload_col`` when given (the CDX
    payload-digest convention) else the whole record, formatted per
    ``digest_format`` (``DIGEST_FORMATS``; 'sha1-b32' for pywb-reader
    interop). ``group_expr`` overrides the xxhash64 file-group hash
    (the oracle queries pass the md5-prefix portable hash, as the
    sampling operators do). Offsets assume the writer lays records
    back-to-back in the same (urlkey, ts14, url) order — the
    deterministic contract a re-crawler needs for byte-identical
    archives. (Same-second same-url captures tiebreak on the digest
    STRING, so the two formats can order such pairs differently —
    offsets stay a valid packing either way.)"""
    if n_files <= 0:
        raise ValueError(f"n_files must be positive: {n_files}")
    if digest_format not in DIGEST_FORMATS:
        raise ValueError(
            f"unknown digest_format {digest_format!r} ({DIGEST_FORMATS})"
        )
    url = F.col(url_col)
    grp_hash = F.xxhash64(url) if group_expr is None else group_expr
    grp = F.pmod(grp_hash, F.lit(n_files))
    digest_src = F.col(payload_col if payload_col else record_col)
    # sha2 takes STRING or BINARY; the Python UDF hashes bytes, so a
    # STRING column goes in as its UTF-8 bytes (what sha2 hashes too).
    digest = (
        F.sha2(digest_src, 256)
        if digest_format == "sha256-hex"
        else _sha1_b32_udf()(digest_src.cast("binary"))
    )
    base = records.select(
        surt_key(url).alias("urlkey"),
        F.date_format(F.col(ts_col), "yyyyMMddHHmmss").alias("ts14"),
        url.alias("url"),
        digest.alias("digest"),
        F.concat(
            F.lit(file_prefix),
            F.lit("-"),
            F.lpad(grp.cast("string"), 5, "0"),
            F.lit(".warc"),
        ).alias("filename"),
        F.octet_length(F.col(record_col)).cast("long").alias("length"),
    )
    # digest + length complete the total order: ts14 is second-
    # granularity, so two captures of one url inside a second would
    # otherwise tie and the running sum would assign their offsets by
    # arbitrary shuffle order (breaking re-run determinism and oracle
    # parity). Fully identical records can still swap rows, but their
    # lengths are equal so the emitted offset multiset is identical.
    w = (
        Window.partitionBy("filename")
        .orderBy("urlkey", "ts14", "url", "digest", "length")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum("length").over(w) - F.col("length")
    return base.select(
        "urlkey",
        "ts14",
        "url",
        "digest",
        "filename",
        offset.alias("offset"),
        "length",
    )
