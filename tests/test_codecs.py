"""Real header/codec parsers over genuinely encoded bytes: PNG IHDR,
GIF screen descriptor, JPEG SOF frame, WAV RIFF chunks, and the minimal
PDF text-operator extractor (plain and FlateDecode streams). Unknown
formats still fall back to the documented deterministic stubs."""

from __future__ import annotations

import struct
import zlib

import pytest

from htmlparser2_spark.functions import pdf
from htmlparser2_spark.functions.multimodal import _decode_audio, _decode_image
from htmlparser2_spark.functions.pdf import (
    _extract_pdf_text_real,
    _extract_pdf_text_stub,
)


def make_png(width: int, height: int, color_type: int = 6) -> bytes:
    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = b"".join(b"\x00" + b"\x00" * width * bpp for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_jpeg(width: int, height: int, channels: int = 3) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 8 + 3 * channels)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + bytes([channels])
        + b"\x00" * (3 * channels)
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def make_wav(rate: int, n_frames: int, channels: int = 2, bits: int = 16) -> bytes:
    block = channels * bits // 8
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, bits
    )
    body = b"\x00" * (n_frames * block)
    data = b"data" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE" + fmt + data


def test_png_ihdr_real_decode():
    assert _decode_image(make_png(2, 3)) == (2, 3, 4)
    assert _decode_image(make_png(640, 480, color_type=2)) == (640, 480, 3)
    assert _decode_image(make_png(7, 1, color_type=0)) == (7, 1, 1)


def test_png_corrupt_raises():
    # Zero width in an otherwise well-formed IHDR: a real decoder
    # rejects it, and so must we (NULL row downstream, not stub dims).
    with pytest.raises(ValueError):
        _decode_image(make_png(2, 2).replace(struct.pack(">II", 2, 2),
                                             struct.pack(">II", 0, 2)))
    # Unknown color type is equally corrupt.
    with pytest.raises(ValueError):
        _decode_image(make_png(2, 2).replace(
            struct.pack(">IIBB", 2, 2, 8, 6), struct.pack(">IIBB", 2, 2, 8, 9)
        ))


def test_gif_real_decode():
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    assert _decode_image(gif) == (320, 200, 3)
    gif87 = b"GIF87a" + struct.pack("<HH", 1, 1)
    assert _decode_image(gif87) == (1, 1, 3)


def test_jpeg_sof_real_decode():
    assert _decode_image(make_jpeg(360, 240)) == (360, 240, 3)
    assert _decode_image(make_jpeg(16, 16, channels=1)) == (16, 16, 1)


def test_wav_real_decode():
    assert _decode_audio(make_wav(44100, 1000)) == (44100, 1000)
    assert _decode_audio(make_wav(16000, 5, channels=1, bits=8)) == (16000, 5)


def test_unknown_formats_fall_back_to_stub_deterministically():
    a = _decode_image(b"\x00some-unknown-format")
    b = _decode_image(b"\x00some-unknown-format")
    assert a == b and all(v > 0 for v in a)
    x = _decode_audio(b"\x00opus-or-something")
    assert x == _decode_audio(b"\x00opus-or-something")


def _pdf(content: bytes) -> bytes:
    stream = (
        b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream"
    )
    return b"%PDF-1.4\n1 0 obj\n" + stream + b"\nendobj\ntrailer"


def test_pdf_real_text_operators():
    content = (
        b"BT /F1 12 Tf 72 700 Td (Hello \\(PDF\\)) Tj "
        b"0 -14 TD (line two) Tj ET"
    )
    spans = _extract_pdf_text_stub(_pdf(content))
    assert [(s["text"], s["x0"], s["y0"]) for s in spans] == [
        ("Hello (PDF)", 72.0, 700.0),
        ("line two", 72.0, 686.0),
    ]
    assert all(s["kind"] == "text" and s["page_no"] == 0 for s in spans)


def test_pdf_tj_array_and_octal_and_tm():
    content = b"BT 1 0 0 1 100 50 Tm [(A) -120 (B\\101)] TJ ET"
    spans = _extract_pdf_text_stub(_pdf(content))
    assert len(spans) == 1
    assert spans[0]["text"] == "ABA"
    assert (spans[0]["x0"], spans[0]["y0"]) == (100.0, 50.0)


def test_pdf_multi_stream_pages():
    p = (
        b"%PDF-1.4\nstream\nBT 0 10 Td (pg0) Tj ET\nendstream\n"
        b"stream\nBT 0 20 Td (pg1) Tj ET\nendstream"
    )
    spans = _extract_pdf_text_stub(p)
    assert [(s["page_no"], s["text"]) for s in spans] == [(0, "pg0"), (1, "pg1")]


def test_pdf_flate_stream_gives_uncompressed_twin_spans():
    content = (
        b"BT /F1 12 Tf 72 700 Td (Hello \\(PDF\\)) Tj "
        b"0 -14 TD [(li) -20 (ne two)] TJ ET"
    )
    plain = _extract_pdf_text_stub(_pdf(content))
    assert [s["text"] for s in plain] == ["Hello (PDF)", "line two"]
    packed = zlib.compress(content)
    for filt in (b"/FlateDecode", b"[ /FlateDecode ]"):
        pdf = (
            b"%PDF-1.4\n1 0 obj\n"
            + b"<< /Length %d /Filter %s >>\nstream\n" % (len(packed), filt)
            + packed
            + b"\nendstream\nendobj\ntrailer"
        )
        assert _extract_pdf_text_stub(pdf) == plain


def test_pdf_stream_that_fails_to_inflate_yields_no_spans():
    good = b"BT 0 10 Td (kept) Tj ET"
    bad = (
        b"<< /Length 9 /Filter /FlateDecode >>\nstream\nnot zlib!\n"
        b"endstream"
    )
    truncated = (
        b"<< /Filter /FlateDecode >>\nstream\n"
        + zlib.compress(b"BT (cut) Tj ET")[:-4]
        + b"\nendstream"
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj\n" + bad + b"\nendobj\n2 0 obj\n" + truncated
        + b"\nendobj\n3 0 obj\n<< >>\nstream\n" + good
        + b"\nendstream\nendobj"
    )
    spans = _extract_pdf_text_real(pdf)
    assert [(s["page_no"], s["text"]) for s in spans] == [(2, "kept")]
    only_bad = b"%PDF-1.4\n1 0 obj\n" + bad + b"\nendobj"
    assert _extract_pdf_text_real(only_bad) == []


def test_pdf_inflate_is_bounded_per_document():
    limit = pdf._MAX_INFLATED_BYTES
    op = b"BT (x) Tj ET "
    bomb = zlib.compress(op * (limit // len(op) + 1), 9)
    half = zlib.compress(op * (limit // len(op) // 2 + 1), 9)
    assert len(bomb) < limit // 100

    def stream(packed: bytes) -> bytes:
        return (
            b"<< /Filter /FlateDecode >>\nstream\n" + packed + b"\nendstream"
        )

    over = b"%PDF-1.4\n1 0 obj\n" + stream(bomb) + b"\nendobj"
    assert _extract_pdf_text_real(over) == []
    spans = _extract_pdf_text_stub(over)
    assert spans and all(s["text"].startswith("p") for s in spans)
    # Two streams each under the bound but over it together: the first
    # is read, the second yields nothing, and the plain third is kept.
    doc = (
        b"%PDF-1.4\n1 0 obj\n" + stream(half) + b"\nendobj\n2 0 obj\n"
        + stream(half) + b"\nendobj\n3 0 obj\n<< >>\nstream\n"
        + b"BT (plain) Tj ET\nendstream\nendobj"
    )
    pages = {}
    for s in _extract_pdf_text_real(doc):
        pages.setdefault(s["page_no"], set()).add(s["text"])
    assert pages == {0: {"x"}, 2: {"plain"}}


def test_pdf_without_text_objects_falls_back_to_stub():
    spans = _extract_pdf_text_stub(b"%PDF-1.4\nnothing parseable")
    assert spans and all(s["kind"] == "text" for s in spans)


def test_non_pdf_raises():
    with pytest.raises(ValueError):
        _extract_pdf_text_stub(b"not a pdf")
