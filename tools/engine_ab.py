"""In-process A/B of two engine trees (no Spark).

Loads ``htmlparser2_spark/engine`` from each of two source trees as its
own package (the engine imports only relative modules), checks that both
give equal outputs on every corpus, then times each case in both trees
with the order alternating per rep, one thread. Cases:

* ``markdown_structured`` / ``markdown_realistic`` - MarkdownExtractor
  on perfbench's structured pages (``structured_pages(521, 200)``, the
  ``structured_pages_markdown`` workload's pages) and on engine_bench's
  realistic pages;
* ``parse_structured`` - ``Parser(batch_text=True)`` with a handler
  that takes the markdown line's events (open, close, text, CDATA)
  and does nothing, on the structured pages: the parse layer of the
  markdown line, whose handler renders as it goes;
* ``dom_nodes_structured`` - ``parse_document`` on the structured
  pages: Parser and an index-carrying DomArrayHandler, the handler of
  ``dom_nodes_udf``;
* ``dom_nodes_entity`` - ``parse_document`` on engine_bench's
  entity-heavy pages (~480 character references each): the exact
  event stream's text-entity step (``Tokenizer._entity``) and the
  DomArrayHandler's text runs;
* ``fast_text_synthetic`` / ``fast_text_realistic`` - FastTextExtractor
  on engine_bench's synthetic and realistic pages;
* ``fast_text_entity`` - FastTextExtractor on the entity-heavy pages:
  the batched span decoder (``decode_text_span``) on every text run;
* ``fast_text_pages`` - FastTextExtractor on ``sources.pages`` documents
  of all three template variants, the pages the ``small_pages_text``
  workload parses, built by DuckDB from ``oracle_pages_cte()`` over
  perfbench's ``small_docs(SMALL_SEED, N_PAGES)`` (engine_bench's
  synthetic page covers variant 0 only).

A rep's ratio is parent time / change time, so above 1.0 means the
change is faster. Each case prints the median ratio, its quartiles
and the reps the change won.

Usage: ``python tools/engine_ab.py <parent_tree> <change_tree> [reps]``
(default 30 reps).
"""

from __future__ import annotations

import importlib
import importlib.util
import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from perfbench.inputs import small_docs, structured_pages  # noqa: E402
from tools.engine_bench import (  # noqa: E402
    STRUCTURED_SEED,
    entity_heavy_page,
    realistic_page,
    synthetic_page,
)

# Documents per corpus, and the sources.pages corpus's size and seed.
N_DOCS = 200
N_PAGES = 3000
SMALL_SEED = 501


def sources_pages(seed: int, n_docs: int) -> list[str]:
    """The ``sources.pages`` documents of ``small_docs(seed, n_docs)``,
    in doc_id order, from the DuckDB dialect of the page templates."""
    import duckdb
    import pandas as pd

    from htmlparser2_spark.sources.pages import oracle_pages_cte

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(small_docs(seed, n_docs)))
    query = f"WITH {oracle_pages_cte()} SELECT page_str FROM pages ORDER BY doc_id"
    return [page for (page,) in con.sql(query).fetchall()]


def load_engine(tree: str, alias: str):
    """``tree``'s engine package, imported under the name ``alias``."""
    path = pathlib.Path(tree).resolve() / "htmlparser2_spark" / "engine"
    spec = importlib.util.spec_from_file_location(
        alias, path / "__init__.py", submodule_search_locations=[str(path)]
    )
    package = importlib.util.module_from_spec(spec)
    sys.modules[alias] = package
    spec.loader.exec_module(package)
    return package


class NullHandler:
    """The Parser events MarkdownHandler consumes, each a no-op."""

    def on_open_tag(self, name, attrs, is_implied):
        pass

    def on_close_tag(self, name, is_implied):
        pass

    def on_text(self, data):
        pass

    def on_cdata_start(self):
        pass

    def on_cdata_end(self):
        pass


def cases(engine) -> dict:
    """Case name -> (corpus name, per-document function) for a loaded
    engine package."""
    alias = engine.__name__
    markdown = importlib.import_module(f"{alias}.markdown")
    fast_text = importlib.import_module(f"{alias}.fast_text")
    parser = importlib.import_module(f"{alias}.parser")
    dom = importlib.import_module(f"{alias}.dom")
    md = markdown.MarkdownExtractor()
    fast = fast_text.FastTextExtractor()
    null_parser = parser.Parser(NullHandler(), batch_text=True)
    return {
        "markdown_structured": ("structured", md.extract),
        "markdown_realistic": ("realistic", md.extract),
        "parse_structured": ("structured", null_parser.parse),
        "dom_nodes_structured": ("structured", dom.parse_document),
        "dom_nodes_entity": ("entity_heavy", dom.parse_document),
        "fast_text_synthetic": ("synthetic", fast.extract),
        "fast_text_realistic": ("realistic", fast.extract),
        "fast_text_entity": ("entity_heavy", fast.extract),
        "fast_text_pages": ("pages", fast.extract),
    }


def run_once(one, docs: list[str]) -> float:
    t0 = time.perf_counter()
    for d in docs:
        one(d)
    return time.perf_counter() - t0


def main(parent: str, change: str, reps: int = 30) -> int:
    corpora = {
        "structured": [
            h.decode() for h in structured_pages(STRUCTURED_SEED, N_DOCS)["html"]
        ],
        "realistic": [realistic_page(i) for i in range(N_DOCS)],
        "synthetic": [synthetic_page(i) for i in range(N_DOCS)],
        "entity_heavy": [entity_heavy_page(i) for i in range(N_DOCS)],
        "pages": sources_pages(SMALL_SEED, N_PAGES),
    }
    trees = (cases(load_engine(parent, "_ab_parent")),
             cases(load_engine(change, "_ab_change")))
    for name, (corpus, one_parent) in trees[0].items():
        one_change = trees[1][name][1]
        if name.startswith("parse"):
            continue  # returns nothing to compare
        for d in corpora[corpus]:
            if one_parent(d) != one_change(d):
                print(f"{name}: outputs differ on {d[:80]!r}")
                return 1
    for name, (corpus, _) in trees[0].items():
        docs = corpora[corpus]
        fns = (trees[0][name][1], trees[1][name][1])
        for fn in fns:
            run_once(fn, docs)  # warm-up
        times: tuple[list, list] = ([], [])
        for rep in range(reps):
            order = (0, 1) if rep % 2 == 0 else (1, 0)
            for side in order:
                times[side].append(run_once(fns[side], docs))
        ratios = [p / c for p, c in zip(*times)]
        q1, median, q3 = statistics.quantiles(ratios, n=4)
        wins = sum(r > 1.0 for r in ratios)
        us = [statistics.median(t) / len(docs) * 1e6 for t in times]
        print(
            f"{name:22s} {median:.3f}x [{q1:.3f}, {q3:.3f}] "
            f"wins {wins}/{reps}  parent {us[0]:.1f} us/doc, "
            f"change {us[1]:.1f} us/doc"
        )
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(
        sys.argv[1], sys.argv[2],
        int(sys.argv[3]) if len(sys.argv) > 3 else 30,
    ))
