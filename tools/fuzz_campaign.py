"""Heavy offline fuzz campaign (beyond the CI-sized tests/test_fuzz.py).

Generates markup-biased random documents and checks, for every one of
the 48 ParserOptions combinations (four switches and
``lower_case_attribute_names`` None/True/False):

* the parser never raises and indices satisfy
  ``0 <= start <= end <= len(doc) + 1`` (the +1 is reachable — see
  tests/test_eof_edges.py::test_eof_implied_close_index_is_len_plus_one)
* chunked parse (1-8 random chunks) == whole-document parse, same options
* default options: fast_text == DOM textContent
* default and swept options: ``MarkdownExtractor`` (markdown rendered
  from the Parser's events, with its open-element count) and adjacency
  ``to_markdown`` on the exact-event DOM == the recursive renderer kept
  in tests/markdown_reference.py, and the extractor's element count ==
  the DOM's
* the Parser's events, indices included, == those of the split
  open-tag path kept in tests/split_parser.py (the one-event light open
  tag), for an EventCollector (attribute events) and for an
  index-carrying DomArrayHandler, whose nodes, attributes in order with
  their quotes, and indices must also be equal between the chunked and
  the whole-document parse
* the scan loop's tag probes agree with the tokenizer helpers
  (tests/split_parser.py ProbeCheckingParser), for both handlers
* every ``ADVERSARY_EVERY``-th document, one randomized structural
  adversary (tests/adversaries.py): every ``_make_extract`` mode and
  every ``_doc_udf`` body returns within ``BOUND_S`` CPU-s, and the two
  markdown entry points agree

Usage: ``python tools/fuzz_campaign.py [N] [seed]`` (default 60000).
A 60k-document run passes clean.
"""

from __future__ import annotations

import itertools
import pathlib
import random
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from htmlparser2_spark.engine.dom import (  # noqa: E402
    DomArrayHandler,
    parse_document,
    text_content,
)
from htmlparser2_spark.engine.fast_text import FastTextExtractor  # noqa: E402
from htmlparser2_spark.engine.markdown import MarkdownExtractor, to_markdown  # noqa: E402
from htmlparser2_spark.engine.parser import Parser, ParserOptions  # noqa: E402
from htmlparser2_spark.engine.stream import StreamingParser  # noqa: E402
from tests.adversaries import (  # noqa: E402
    BOUND_S,
    document_bodies,
    structural_adversary,
)
from tests.collector import EventCollector  # noqa: E402
from tests.fuzz_tokens import TOKENS  # noqa: E402
from tests.markdown_reference import (  # noqa: E402
    ReferenceExtractor,
    reference_to_markdown,
)
from tests.split_parser import (  # noqa: E402
    ProbeCheckingParser,
    SplitParser,
    ordered_nodes,
    parsed,
)

ALPH = "<>/=&;!?-[]'\" \n\tabcdDATAscriptyleXMP#x0123&amp;lt<!--]]>" + "é€\U0001f600̸"
# One structural adversary per this many documents.
ADVERSARY_EVERY = 5000

OPTION_SPACE = [
    dict(
        zip(
            (
                "xml_mode",
                "decode_entities",
                "recognize_cdata",
                "recognize_self_closing",
                "lower_case_attribute_names",
            ),
            values,
        )
    )
    for values in itertools.product(
        (False, True), (False, True), (False, True), (False, True),
        (None, True, False),
    )
]


def rand_doc(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randrange(0, 30)):
        if rng.random() < 0.5:
            parts.append(rng.choice(TOKENS))
        else:
            parts.append("".join(rng.choice(ALPH) for _ in range(rng.randrange(0, 12))))
    return "".join(parts)


def chunked(handler, doc: str, cuts: list[int], options: ParserOptions):
    sp = StreamingParser(handler, options)
    handler.attach(sp._parser)
    for a, b in zip([0, *cuts], cuts):
        sp.write(doc[a:b])
    sp.end(doc[cuts[-1] if cuts else 0:])
    return handler


def main(n_docs: int = 60000, seed: int = 20260816) -> int:
    rng = random.Random(seed)
    extractor = FastTextExtractor()
    md_extractors = [MarkdownExtractor(**opts) for opts in OPTION_SPACE]
    md_references = [ReferenceExtractor(**opts) for opts in OPTION_SPACE]
    bodies = document_bodies()
    failures = 0
    for i in range(n_docs):
        doc = rand_doc(rng)
        opts = OPTION_SPACE[i % len(OPTION_SPACE)]
        try:
            options = ParserOptions(**opts)
            events = parsed(Parser, EventCollector(), doc, options).events
            for ev in events:
                assert 0 <= ev["startIndex"] <= ev["endIndex"] <= len(doc) + 1, (
                    doc, opts, ev,
                )
            assert parsed(SplitParser, EventCollector(), doc, options).events == events, (
                f"fused!=split: {doc!r} {opts}"
            )
            dom = ordered_nodes(parsed(Parser, DomArrayHandler(), doc, options).nodes)
            parsed(ProbeCheckingParser, EventCollector(), doc, options)
            parsed(ProbeCheckingParser, DomArrayHandler(), doc, options)
            assert ordered_nodes(
                parsed(SplitParser, DomArrayHandler(), doc, options).nodes
            ) == dom, f"fused!=split DOM: {doc!r} {opts}"
            # 1-8 chunks (0-7 cuts): one document crosses several
            # write() suspensions, not just one.
            cuts = sorted(
                rng.randrange(0, len(doc) + 1) for _ in range(rng.randrange(0, 8))
            )
            assert chunked(EventCollector(), doc, cuts, options).events == events, (
                f"chunk!=whole cuts={cuts}: {doc!r} {opts}"
            )
            assert ordered_nodes(
                chunked(DomArrayHandler(), doc, cuts, options).nodes
            ) == dom, f"chunk!=whole DOM cuts={cuts}: {doc!r} {opts}"
            nodes = parse_document(doc, **opts)
            n_elements = sum(
                1 for n in nodes if n["type"] in ("tag", "script", "style")
            )
            expected = md_references[i % len(OPTION_SPACE)].extract(doc)
            got = md_extractors[i % len(OPTION_SPACE)].extract(doc)
            assert got == expected and got[1] == n_elements, (
                f"markdown extractor!=reference: {doc!r} {opts}"
            )
            assert to_markdown(nodes) == got[0] == reference_to_markdown(nodes), (
                f"markdown adjacency!=reference: {doc!r} {opts}"
            )
            if i % ADVERSARY_EVERY == 0:
                # Its own generator: the document stream of a seed stays
                # the same whatever the adversaries draw.
                adversary = structural_adversary(random.Random(f"{seed}/{i}"))
                for name, body in bodies.items():
                    t0 = time.process_time()
                    body(adversary)
                    elapsed = time.process_time() - t0
                    assert elapsed < BOUND_S, (
                        f"adversary over bound: {name} {elapsed:.1f} s "
                        f"{adversary[:80]!r}"
                    )
                assert MarkdownExtractor().extract(adversary)[0] == to_markdown(
                    parse_document(adversary)
                ), f"adversary markdown tree!=adjacency: {adversary[:80]!r}"
            if i % 16 == 0:
                # Default options on both sides, whatever opts is.
                dom_text = text_content(parse_document(doc))
                fast, _ = extractor.extract(doc)
                assert fast == dom_text, f"fast!=dom: {doc!r}"
            if i % 4 == 0:
                # batch_text opt-in parity: index-free DOM
                # must match the exact per-event stream's DOM.
                h1 = DomArrayHandler(with_indices=False)
                Parser(h1, options).parse(doc)
                h2 = DomArrayHandler(with_indices=False)
                Parser(h2, ParserOptions(**opts), batch_text=True).parse(doc)
                assert h1.nodes == h2.nodes, f"batch!=exact: {doc!r} {opts}"
        except Exception as exc:  # noqa: BLE001 - report and count everything
            failures += 1
            print(f"FAIL[{i}] {type(exc).__name__}: {str(exc)[:300]}")
            if failures > 5:
                return 1
    print(f"campaign done: {n_docs} docs x {len(OPTION_SPACE)} option combos, "
          f"{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 60000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 20260816,
    ))
