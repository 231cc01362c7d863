"""The reference fixture documents (Basic/Attributes/Svg html and the
RSS/Atom/RDF feeds) that several goldens take as input, and
:func:`golden_inputs`, every golden's input document.

They live in the htmlparser2 reference checkout, ``reference/`` next to
this repository, and cannot be rebuilt from this repository, so tests
that read them are skipped, with the reason below, wherever that
checkout is absent. The golden outputs themselves are in
``tests/goldens``."""

from __future__ import annotations

import json
import pathlib

import pytest

DOCS = (
    pathlib.Path(__file__).resolve().parents[2]
    / "reference" / "src" / "__fixtures__" / "Documents"
)

requires_docs = pytest.mark.skipif(
    not DOCS.is_dir(),
    reason=f"reference fixture documents not present at {DOCS}",
)


GOLDENS = pathlib.Path(__file__).parent / "goldens"

# Golden option names (the reference's camelCase) -> ParserOptions.
OPTION_NAMES = {
    "xmlMode": "xml_mode",
    "decodeEntities": "decode_entities",
    "lowerCaseTags": "lower_case_tags",
    "lowerCaseAttributeNames": "lower_case_attribute_names",
    "recognizeCDATA": "recognize_cdata",
    "recognizeSelfClosing": "recognize_self_closing",
}


def golden_inputs() -> list:
    """pytest params ``(doc, options)`` for the 150 golden inputs: the
    parser and tokenizer cases, then the document cases, which read a
    fixture document and are skipped while it is absent. ``options``
    are ParserOptions keywords."""
    params = []
    for name in ("parser_events.json", "tokenizer.json", "document_events.json"):
        for i, case in enumerate(json.loads((GOLDENS / name).read_text())):
            options = {OPTION_NAMES[k]: v for k, v in case["options"].items()}
            case_id = f"{name.split('.')[0]}-{i}"
            if "file" not in case:
                params.append(pytest.param(case["input"], options, id=case_id))
                continue
            path = DOCS / case["file"]
            doc = path.read_text() if path.is_file() else ""
            params.append(
                pytest.param(doc, options, id=case_id, marks=requires_docs)
            )
    return params
