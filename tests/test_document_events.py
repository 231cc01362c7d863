"""End-to-end document goldens: the six reference fixture documents
(Basic/Attributes/Svg html + RSS/Atom/RDF xml) parsed whole, compared
against the WritableStream snapshot event streams (643 events;
/root/reference/src/WritableStream.spec.ts + .snap)."""

from __future__ import annotations

import json
import pathlib

import pytest

from htmlparser2_spark.engine.collector import EventCollector
from htmlparser2_spark.engine.parser import Parser, ParserOptions

from .fixture_docs import DOCS, requires_docs

GOLDENS = json.loads(
    (pathlib.Path(__file__).parent / "goldens" / "document_events.json").read_text()
)


@requires_docs
@pytest.mark.parametrize("case", GOLDENS, ids=[c["name"] for c in GOLDENS])
def test_document_events(case):
    body = (DOCS / case["file"]).read_bytes().decode("utf-8")
    opts = ParserOptions(xml_mode=case["options"].get("xmlMode", False))
    collector = EventCollector()
    parser = Parser(collector, opts)
    collector.attach(parser)
    parser.parse(body)
    assert collector.events == case["events"]
