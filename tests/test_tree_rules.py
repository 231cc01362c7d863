"""Every open-tag tree rule, table-driven, against the split tag path.

For each name a tree rule touches (the ``OPEN_IMPLIES_CLOSE`` keys,
``VOID_ELEMENTS``, the ``_FOREIGN_PUSH`` keys, ``form`` and ``image``),
the name is opened bare and with attributes under stack tops that fire
its rule and ones that do not. ``Parser`` must give the same events,
``start_index``/``end_index`` included, as tests/split_parser.py's
``SplitParser`` to three handlers: an EventCollector (per-attribute
events), the same collector without ``on_attribute`` (the one-event
attribute tag) and a DomArrayHandler (attribute order and quotes).
"""

from __future__ import annotations

import pytest

from htmlparser2_spark.engine.collector import EventCollector
from htmlparser2_spark.engine.dom import DomArrayHandler
from htmlparser2_spark.engine.parser import (
    _FOREIGN_PUSH,
    _FORM_TAG,
    _IMAGE_TAG,
    OPEN_IMPLIES_CLOSE,
    VOID_ELEMENTS,
    Parser,
    ParserOptions,
)

from .split_parser import SplitParser, ordered_nodes, parsed

RULED_NAMES = sorted(
    {*OPEN_IMPLIES_CLOSE, *VOID_ELEMENTS, *_FOREIGN_PUSH, _FORM_TAG, _IMAGE_TAG}
)


class TagCollector(EventCollector):
    """An EventCollector without ``on_attribute``."""

    on_attribute = None


def stack_tops(name: str) -> list[str]:
    """Stack tops under which ``name`` opens: every element its implied
    close pops, ``form`` (a second one is ignored), ``svg`` (foreign
    content: no ``image`` alias, no inline open) and ``span``, which
    fires only the rules that do not look at the stack."""
    return sorted({"span", "svg", _FORM_TAG, *OPEN_IMPLIES_CLOSE.get(name, ())})


def documents(name: str) -> list[str]:
    docs = []
    for top in stack_tops(name):
        docs += [
            f"<{top}><{name}>",
            f"<{top}><{name.upper()}>",
            f'<{top}><{name} a="1" b>',
            f"<{top}><{name} A='1' b a=\"2\" >x</{name}>y</{top}>z",
        ]
    return docs


@pytest.mark.parametrize("name", RULED_NAMES)
def test_ruled_open_tags_equal_split_path(name):
    for doc in documents(name):
        for handler_class in (EventCollector, TagCollector):
            assert (
                parsed(Parser, handler_class(), doc).events
                == parsed(SplitParser, handler_class(), doc).events
            ), (doc, handler_class.__name__)
        assert ordered_nodes(parsed(Parser, DomArrayHandler(), doc).nodes) == (
            ordered_nodes(parsed(SplitParser, DomArrayHandler(), doc).nodes)
        ), doc


def test_attribute_event_opt_in():
    """The Parser takes one-event attribute tags only for a handler with
    no ``on_attribute``, and only when attribute names are lowercased."""
    assert Parser(DomArrayHandler()).on_attr_open_tag is not None
    assert Parser(TagCollector()).on_attr_open_tag is not None
    assert Parser(EventCollector()).on_attr_open_tag is None
    assert Parser(
        DomArrayHandler(), ParserOptions(lower_case_attribute_names=False)
    ).on_attr_open_tag is None
