"""The reference fixture documents (Basic/Attributes/Svg html and the
RSS/Atom/RDF feeds) that several goldens take as input.

They live in the htmlparser2 reference checkout, ``reference/`` next to
this repository, and cannot be rebuilt from this repository, so tests
that read them are skipped, with the reason below, wherever that
checkout is absent. The golden outputs themselves are in
``tests/goldens``."""

from __future__ import annotations

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
