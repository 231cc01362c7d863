"""Single-thread engine-only throughput (no Spark).

Reproducible harness behind the per-core envelope quoted in
BENCH/BASELINE.md: the reference publishes ~2.17 ms/file on real-web
pages (~460 docs/s/core, ~28 MB/s/core; /root/reference/README.md:239)
— this measures our pure-Python tokenizer+parser on the same two
deterministic corpora bench.py uses, one thread, best-of-N:

* ``realistic`` — ~4 KB pages, 12 text paragraphs (the shape of
  bench.py's pages_heavy corpus and the closest analogue of the
  reference benchmark's real-web mix);
* ``synthetic`` — the ~0.5 KB template pages (per-doc fixed costs
  dominate, the docs/sec ceiling).

Both paths are measured: the tokenizer-only fast path that
extract_text_udf uses for default options, and the full parser with
the text-only handler. Markdown rendering is measured through
MarkdownExtractor (the Parser feeding MarkdownHandler, which renders
as elements close: the per-row work of markdown_udf and
parse_pages(mode="markdown")) on the realistic corpus
plus perfbench's structured pages (``perfbench.inputs.structured_pages``,
the pages the ``structured_pages_markdown`` workload times:
headings/lists/links/table, the shapes the renderer transforms). Each
markdown line also gives its opened tags per document, µs per tag, and
its two layers: ``parse_us_per_doc`` (the Parser feeding a handler
that records the events MarkdownHandler takes) and ``render_us_per_doc``
(MarkdownHandler replaying those events), each best-of-N and timed per
document in the same loop.
The ``realistic_streamed`` line feeds the realistic corpus through
StreamingParser + DomArrayHandler in 64-char ``write()`` chunks, after
checking 200 documents' final nodes against the whole-document parse;
``long_tag_streamed`` streams one ~30 KB open tag of 2000 attributes
the same way (checked first), the shape a ``write()`` pass would
re-tokenize from its ``<`` on every chunk. Prints one JSON line.

Usage: python tools/engine_bench.py [n_docs] [repeats]
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from htmlparser2_spark.engine.dom import DomArrayHandler, parse_document  # noqa: E402
from htmlparser2_spark.engine.fast_text import FastTextExtractor, TextHandler  # noqa: E402
from htmlparser2_spark.engine.parser import Parser  # noqa: E402
from htmlparser2_spark.engine.stream import StreamingParser  # noqa: E402
from perfbench.inputs import structured_pages  # noqa: E402

# Seed of the structured-pages corpus.
STRUCTURED_SEED = 521
# write() chunk size of the streamed lines.
STREAM_CHUNK = 64
# Documents in the long_tag_streamed line.
LONG_TAG_DOCS = 10

WORDS = (
    "spark group query row data slow small filter customer line merge "
    "vector stream batch the column token parse shuffle join scan"
).split()


def _text(i: int, n_words: int) -> str:
    return " ".join(WORDS[(i * 7 + k) % len(WORDS)] for k in range(n_words))


def realistic_page(i: int) -> str:
    # ~4 KB pages with ~420-char paragraph runs — the pages_heavy shape
    # bench.py measures (12 x the sf0.1 document text, ~460 chars each).
    paras = "".join(
        f'<p class="para">{_text(i + p, 70)}</p>' for p in range(12)
    )
    return (
        f"<html><head><title>Doc {i}</title></head><body>{paras}"
        "</body></html>"
    )


def text_heavy_page(i: int) -> str:
    # Long uninterrupted text runs (~12 KB in two paragraphs): the
    # upper end of the markup-density curve, where the skip-scan
    # dominates and per-construct Python dispatch amortizes away.
    paras = "".join(f"<p>{_text(i + p, 2000)}</p>" for p in range(2))
    return f"<html><body><h1>Doc {i}</h1>{paras}</body></html>"


def entity_heavy_page(i: int) -> str:
    # Escaped-web density: an entity every few words (named + numeric,
    # ~5 KB/page). Exercises the '&' cursor of the text scanner and the
    # decoder hot path — the round-3 cached-find rewrite made '<' and
    # '&' separate find() cursors, so this corpus pins the
    # entity-dense end of that tradeoff.
    words = " ".join(
        f"{WORDS[(i * 5 + k) % len(WORDS)]} &amp; x &lt; {k} &#8212;"
        for k in range(80)
    )
    return (
        f"<html><head><title>Doc {i} &copy;</title></head>"
        f'<body><p class="q">{words}</p><p>{words}</p></body></html>'
    )


def synthetic_page(i: int) -> str:
    t = _text(i, 18).replace("the", "a & b")
    return (
        f'<!DOCTYPE html><html lang="en"><head><title>Doc {i}</title>'
        "<script>var x = 1 < 2;</script><style>p { color: red }</style>"
        f'</head><body><h1>Doc {i}</h1><!-- c --><p class="c3">{t}</p>'
        f'<a href="https://example.com/doc/{i}">more</a></body></html>'
    )


def long_tag_page(i: int) -> str:
    # One ~30 KB open tag: 2000 quoted attributes, no '<' or '>' inside.
    attrs = " ".join(f'a{k}="v{i}-{k}"' for k in range(2000))
    return f"<html><body><div {attrs}>Doc {i}</div></body></html>"


def measure(docs: list[str], one, repeats: int) -> dict:
    total_chars = sum(len(d) for d in docs)
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        for d in docs:
            one(d)
        elapsed = time.perf_counter() - t0
        best = elapsed if best is None else min(best, elapsed)
    return {
        "wall_sec": round(best, 3),
        "docs_per_sec": round(len(docs) / best, 1),
        "mb_per_sec": round(total_chars / 1e6 / best, 2),
        "ms_per_doc": round(best / len(docs) * 1e3, 4),
    }


class _EventLog:
    """Records the Parser events of one document as (method, args)
    calls of ``handler``."""

    def __init__(self, handler) -> None:
        self.handler = handler
        self.events: list = []

    def on_parser_init(self, parser) -> None:
        self.events = []

    def on_open_tag(self, name, attrs, is_implied) -> None:
        self.events.append((self.handler.on_open_tag, (name, attrs, is_implied)))

    def on_close_tag(self, name, is_implied) -> None:
        self.events.append((self.handler.on_close_tag, (name, is_implied)))

    def on_text(self, data) -> None:
        self.events.append((self.handler.on_text, (data,)))

    def on_cdata_start(self) -> None:
        self.events.append((self.handler.on_cdata_start, ()))

    def on_cdata_end(self) -> None:
        self.events.append((self.handler.on_cdata_end, ()))


def markdown_layers(docs: list[str], repeats: int) -> dict:
    """Best-of-``repeats`` µs per document of the markdown line's two
    layers: the parse, and the render from the parse's events."""
    from htmlparser2_spark.engine.markdown import MarkdownHandler

    handler = MarkdownHandler()
    log = _EventLog(handler)
    parser = Parser(log, batch_text=True)  # as MarkdownExtractor builds it
    best_parse = best_render = None
    for _ in range(repeats):
        parse_s = render_s = 0.0
        for d in docs:
            t0 = time.perf_counter()
            parser.parse(d)
            t1 = time.perf_counter()
            handler.on_parser_init(None)
            for method, args in log.events:
                method(*args)
            handler.markdown()
            t2 = time.perf_counter()
            parse_s += t1 - t0
            render_s += t2 - t1
        best_parse = parse_s if best_parse is None else min(best_parse, parse_s)
        best_render = render_s if best_render is None else min(best_render, render_s)
    return {
        "parse_us_per_doc": round(best_parse / len(docs) * 1e6, 1),
        "render_us_per_doc": round(best_render / len(docs) * 1e6, 1),
    }


def main(n_docs: int = 20000, repeats: int = 3) -> None:
    fast = FastTextExtractor()
    handler = TextHandler()
    # batch_text mirrors the production UDF construction
    # (functions/udfs.py _make_parser): text/DOM-content extraction
    # opts in to pre-decoded text-run batching.
    parser = Parser(handler, batch_text=True)

    def full(d: str) -> str:
        parser.parse(d)
        return "".join(handler.parts)

    out = {"n_docs": n_docs, "repeats": repeats}
    for name, gen in (("realistic", realistic_page),
                      ("text_heavy", text_heavy_page),
                      ("entity_heavy", entity_heavy_page),
                      ("synthetic", synthetic_page)):
        docs = [gen(i) for i in range(n_docs)]
        out[f"{name}_bytes"] = sum(len(d) for d in docs)
        out[f"{name}_fast_path"] = measure(
            docs, lambda d: fast.extract(d)[0], repeats
        )
        out[f"{name}_full_parser"] = measure(docs, full, repeats)
        # Consistency: both paths must extract identical text.
        for d in docs[:200]:
            assert fast.extract(d)[0] == full(d), "fast != full"

    # Markdown rendering: the production extractor of markdown_udf
    # (functions/udfs.py) and parse_pages(mode="markdown").
    from htmlparser2_spark.engine.markdown import MarkdownExtractor

    md_extractor = MarkdownExtractor()

    def render(d: str) -> str:
        return md_extractor.extract(d)[0]

    structured = structured_pages(STRUCTURED_SEED, n_docs)
    structured_docs = [h.decode() for h in structured["html"]]
    # The structured pages carry their expected Markdown.
    for d, expected in zip(structured_docs[:200], structured["text"]):
        assert render(d) == expected, "structured markdown != expected"
    for name, docs in (
        ("realistic", [realistic_page(i) for i in range(n_docs)]),
        ("structured", structured_docs),
    ):
        line = measure(docs, render, repeats)
        tags_per_doc = sum(md_extractor.extract(d)[1] for d in docs) / n_docs
        line["tags_per_doc"] = round(tags_per_doc, 1)
        line["us_per_tag"] = round(line["ms_per_doc"] * 1e3 / tags_per_doc, 3)
        line.update(markdown_layers(docs, repeats))
        out[f"{name}_markdown"] = line

    # Streaming: the same DOM contract as parse_document, built from
    # STREAM_CHUNK-char write() calls.
    handler = DomArrayHandler()
    streaming = StreamingParser(handler)
    handler.attach(streaming._parser)

    def stream(d: str) -> list[dict]:
        streaming.reset()
        for k in range(0, len(d), STREAM_CHUNK):
            streaming.write(d[k : k + STREAM_CHUNK])
        streaming.end()
        return handler.nodes

    docs = [realistic_page(i) for i in range(n_docs)]
    for d in docs[:200]:
        assert stream(d) == parse_document(d), "streamed != whole"
    line = measure(docs, stream, repeats)
    line["chunk_chars"] = STREAM_CHUNK
    out["realistic_streamed"] = line

    docs = [long_tag_page(i) for i in range(LONG_TAG_DOCS)]
    assert stream(docs[0]) == parse_document(docs[0]), "streamed != whole"
    line = measure(docs, stream, repeats)
    line["chunk_chars"] = STREAM_CHUNK
    out["long_tag_streamed"] = line
    print(json.dumps(out))


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 20000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 3,
    )
