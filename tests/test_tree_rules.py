"""Every open-tag tree rule, table-driven, against the split tag path.

For each name a tree rule touches (the ``OPEN_IMPLIES_CLOSE`` keys,
``VOID_ELEMENTS``, the ``_FOREIGN_PUSH`` keys, ``form`` and ``image``),
the name is opened bare and with attributes under stack tops that fire
its rule and ones that do not. ``Parser`` must give the same events,
``start_index``/``end_index`` included, as tests/split_parser.py's
``SplitParser`` to three handlers: an EventCollector (attribute
events), the same collector without ``on_attribute`` and a
DomArrayHandler (attribute order and quotes). A second table pins each
shape of the tokenizer's one-event light open tag the same way, with
attribute names lowercased and kept as written.
"""

from __future__ import annotations

import pytest

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

from .collector import EventCollector
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


class LightTagCounter(Parser):
    """A Parser that counts the one-event light open tags it gets."""

    n_light = 0

    def on_light_open_tag(self, start, end, attrs, gt):
        self.n_light += 1
        super().on_light_open_tag(start, end, attrs, gt)


# (document, the one-event light open tags in it): bare names (``>``
# at, or after whitespace past, the name end), attributes (valueless,
# quoted, duplicate in mixed case), an ignored second ``<form>`` with
# attributes, the ``image`` alias and an implied close.
LIGHT_SHAPES = [
    pytest.param("<p>t", 1, id="bare"),
    pytest.param("<p >t", 1, id="bare_space"),
    pytest.param("<p\n>t", 1, id="bare_newline"),
    pytest.param("<p a>t", 1, id="valueless"),
    pytest.param("<P A='1' a=\"2\" b>t</p>", 1, id="duplicate_mixed_case"),
    pytest.param('<form><form x="1">t</form>', 2, id="second_form"),
    pytest.param('<image src="s">t', 1, id="image_alias"),
    pytest.param('<td><td class="c">t', 2, id="implied_close"),
]


@pytest.mark.parametrize("doc, n_light", LIGHT_SHAPES)
@pytest.mark.parametrize(
    "lower_case_attribute_names", [True, False], ids=["lowercased", "as_written"]
)
def test_light_open_tag_shapes_equal_split_path(
    doc, n_light, lower_case_attribute_names
):
    options = ParserOptions(lower_case_attribute_names=lower_case_attribute_names)
    collector = parsed(LightTagCounter, EventCollector(), doc, options)
    assert collector.parser.n_light == n_light
    assert collector.events == (
        parsed(SplitParser, EventCollector(), doc, options).events
    )
    assert ordered_nodes(parsed(Parser, DomArrayHandler(), doc, options).nodes) == (
        ordered_nodes(parsed(SplitParser, DomArrayHandler(), doc, options).nodes)
    )
