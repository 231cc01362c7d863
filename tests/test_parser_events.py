"""Golden tests: parser event streams vs the reference snapshot corpus.

The 92 cases in goldens/parser_events.json are ported 1:1 from
/root/reference/src/Parser.events.spec.ts + its vitest snapshot (see
tools/port_goldens.py). Passing this corpus pins the full recovery
semantics: implied open/close, void elements, foreign context, entities
in all three modes, comment/CDATA quirks, and start/end indices.
"""

from __future__ import annotations

import json
import pathlib

import pytest

from htmlparser2_spark.engine.parser import Parser, ParserOptions

from .collector import EventCollector

GOLDENS = json.loads(
    (pathlib.Path(__file__).parent / "goldens" / "parser_events.json").read_text()
)

_OPTION_MAP = {
    "xmlMode": "xml_mode",
    "decodeEntities": "decode_entities",
    "lowerCaseTags": "lower_case_tags",
    "lowerCaseAttributeNames": "lower_case_attribute_names",
    "recognizeCDATA": "recognize_cdata",
    "recognizeSelfClosing": "recognize_self_closing",
}


def run_case(input_text: str, options: dict) -> list[dict]:
    opts = ParserOptions(**{_OPTION_MAP[k]: v for k, v in options.items()})
    collector = EventCollector()
    parser = Parser(collector, opts)
    collector.attach(parser)
    parser.parse(input_text)
    return collector.events


@pytest.mark.parametrize("case", GOLDENS, ids=[c["name"] for c in GOLDENS])
def test_parser_events_golden(case):
    events = run_case(case["input"], case["options"])
    assert events == case["events"]
