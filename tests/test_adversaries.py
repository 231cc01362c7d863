"""Structural adversaries: every extraction body returns in bounded time.

Each document stresses one dimension a template page never does: deep
nesting, nested tables, one tag with very many attributes, an
unterminated comment the size of a page, and dense entity soup. The
bodies are the in-process functions behind the Arrow UDFs:
``_make_extract(mode)`` for ``text``, ``main`` and ``markdown``, and the
``_on_dom`` bodies of ``inner_text_udf`` and ``clean_text_udf``. A
linear body handles any of these documents in well under a second (a
4-core host reads at most ~0.6 s of CPU per pair), so the bound below
only trips on super-linear work. The markdown renderer recurses once
per nesting level, so its four nesting cases raise ``RecursionError``;
they are strict xfails, which its iterative rewrite has to flip.
"""

from __future__ import annotations

import time

import pytest

from htmlparser2_spark.engine.dom import clean_text, inner_text
from htmlparser2_spark.functions.udfs import _make_extract, _on_dom

# CPU seconds one body may spend on one document.
BOUND_S = 10.0

NESTED = {
    "div_1e3": "<div>" * 1_000 + "x",
    "div_1e4": "<div>" * 10_000 + "x",
    "b_5e4": "<b>" * 50_000 + "x",
    "table_400": "<table><tr><td>" * 400 + "x",
}
FLAT = {
    "attrs_1e5": "<p " + " ".join(f'a{i}="v"' for i in range(100_000)) + ">x</p>",
    "comment_1mb": "<!--" + "x" * 1_000_000,
    "entities_5e4": "&amp;&lt&#x41;&#65;&notit;&timesbar;&#;& " * 50_000,
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


_RECURSES = pytest.mark.xfail(raises=RecursionError, strict=True)


def _cases():
    for body in _bodies():
        for name in NESTED:
            marks = [_RECURSES] if body == "markdown" else []
            yield pytest.param(body, name, marks=marks, id=f"{body}-{name}")
        for name in FLAT:
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
