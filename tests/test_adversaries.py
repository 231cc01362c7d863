"""Structural adversaries: every extraction body returns in bounded time.

Each document stresses one dimension a template page never does: deep
nesting, nested tables, one tag with very many attributes, an
unterminated comment or textarea the size of a page, and dense entity
soup. The
bodies are the in-process functions behind the Arrow UDFs:
``_make_extract(mode)`` for ``text``, ``main`` and ``markdown``, and the
``_on_dom`` bodies of ``inner_text_udf`` and ``clean_text_udf``. A
linear body handles any of these documents in well under a second (a
4-core host reads at most ~0.6 s of CPU per pair), so the bound below
only trips on super-linear work. The markdown renderer keeps an
explicit stack, so the nesting cases render like any other page.
``parse_document``, which takes the exact event stream, gets a larger
entity soup of its own.
tests/adversaries.py draws randomized documents of the same kinds.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pytest

from htmlparser2_spark.engine.dom import (
    clean_text,
    inner_text,
    parse_document,
    text_content,
)
from htmlparser2_spark.engine.fast_text import fast_text_content
from htmlparser2_spark.functions import udfs
from htmlparser2_spark.functions.udfs import _make_extract, _on_dom
from htmlparser2_spark.plans import extract_job

from .adversaries import BOUND_S

ENTITY_SOUP = "&amp;&lt&#x41;&#65;&notit;&timesbar;&#;& "
NESTED = {
    "div_1e3": "<div>" * 1_000 + "x",
    "div_1e4": "<div>" * 10_000 + "x",
    "b_5e4": "<b>" * 50_000 + "x",
    "table_400": "<table><tr><td>" * 400 + "x",
}
FLAT = {
    "attrs_1e5": "<p " + " ".join(f'a{i}="v"' for i in range(100_000)) + ">x</p>",
    "comment_1mb": "<!--" + "x" * 1_000_000,
    # RCDATA with no end tag: an end-tag search per entity was quadratic
    "textarea_1mb": "<textarea>" + "x <y> & " * 125_000,
    "entities_5e4": ENTITY_SOUP * 50_000,
}


def _bodies():
    def on_dom(fn):
        return _on_dom(fn, {})()

    return {
        "text": lambda: _make_extract("text"),
        "main": lambda: _make_extract("main"),
        "markdown": lambda: _make_extract("markdown"),
        "inner_text": lambda: on_dom(inner_text),
        "clean_text": lambda: on_dom(clean_text),
    }


def _cases():
    for body in _bodies():
        for name in {**NESTED, **FLAT}:
            yield pytest.param(body, name, id=f"{body}-{name}")


@pytest.mark.parametrize("body, name", _cases())
def test_adversarial_document_returns_in_bounded_time(body, name):
    run = _bodies()[body]()
    doc = {**NESTED, **FLAT}[name]
    t0 = time.process_time()
    result = run(doc)
    elapsed = time.process_time() - t0
    assert elapsed < BOUND_S, (body, name, elapsed)
    text = result[0] if isinstance(result, tuple) else result
    assert isinstance(text, str)


def test_exact_event_parse_of_entity_soup_is_linear():
    """``parse_document`` takes the exact event stream (no batched
    text), so each reference of one text run is its own text event: a
    handler that copied the run's node per event was quadratic."""
    doc = ENTITY_SOUP * 75_000  # 3.2 MB, ~500k text events in one run
    t0 = time.process_time()
    nodes = parse_document(doc)
    elapsed = time.process_time() - t0
    assert elapsed < BOUND_S, elapsed
    assert len(nodes) == 1
    assert text_content(nodes) == fast_text_content(doc)


def _raising_on_bad(mode: str, **options):
    """``_make_extract`` whose extractor raises on the document "bad"."""
    extract = _make_extract(mode, **options)

    def one(doc: str):
        if doc == "bad":
            raise ValueError(doc)
        return extract(doc)

    return one


def test_batch_loops_turn_a_raising_document_into_a_null_row(monkeypatch):
    """The per-document guard of both batch loops, in-process: the
    document whose extractor raises is one NULL row (with its error
    class in parse_pages), and its neighbours in the batch are intact."""
    monkeypatch.setattr(extract_job, "_make_extract", _raising_on_bad)
    monkeypatch.setattr(udfs, "_make_extract", _raising_on_bad)
    htmls = ["<p>a <b>x</b></p>", "bad", None]
    batch = pa.RecordBatch.from_pydict(
        {"url": ["u0", "u1", "u2"], "html": htmls, "lang": ["en"] * 3}
    )
    parse = extract_job._parse_batches_fn("markdown")
    out = pa.Table.from_batches(list(parse(iter([batch]))))
    assert out["extracted"].to_pylist() == ["a **x**", None, ""]
    assert out["error"].to_pylist() == [None, "ValueError", None]
    assert out["n_tags"].to_pylist() == [2, 0, 0]
    run = udfs.markdown_udf().func
    assert run(pa.array(htmls)).to_pylist() == ["a **x**", None, ""]

    def make():
        def one(doc):
            if doc == "bad":
                raise ValueError(doc)
            return {"n": len(doc)}

        return one

    struct = udfs.StructType([udfs.StructField("n", udfs.IntegerType())])
    rows = udfs._doc_udf(struct, make).func(pa.array(htmls))
    assert rows.null_count == 0
    assert rows.field("n").to_pylist() == [len(htmls[0]), None, 0]
