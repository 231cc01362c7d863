"""htmlparser2_spark — PySpark-native forgiving HTML/XML parsing engine.

Public API mirroring the reference surface (/root/reference/src/index.ts):

Engine level (pure Python, runs anywhere):
  parse_document(html, **options)  -> adjacency node list  (parseDocument)
  parse_feed(xml)                  -> feed record           (parseFeed)
  text_content(nodes) / clean_text(nodes) / serialize(nodes)
  Parser, ParserOptions, Tokenizer (streaming callback interface)
  StreamingParser / WritableStreamParser (write/end lifecycle, byte chunks)
  fast_text_content(html)          -> textContent, fast path

Spark level (Arrow-batched, cluster scale):
  functions.udfs:       extract_text_udf, dom_nodes_udf, parser_events_udf,
                        feed_udf, doc_stats_udf, clean_text_udf
  operators.domquery:   DomUtils over the exploded nodes table
  operators.dedup:      exact/Jaccard/MinHash-LSH/SimHash/embedding dedup
  operators.similarity: brute-force + LSH/IVF/PQ ANN
  operators.quality:    Gopher + C4 gates, repetition signals
  operators.lm_score:   bigram-LM scoring + stupid backoff + CCNet buckets
  operators.blocklist:  UT1-style domain/keyword admission
  operators.robots:     robots.txt + meta-robots page admission
  operators.bpe:        BPE merge training + Arrow-batched encoding
  operators.ranking:    BM25 top-k retrieval
  operators.sampling:   hash/stratified/quota/temperature sampling, shards
  plans.extract_job:    repartition -> parse -> lineage -> resumable writes
  plans.curate_job:     quality -> dedup -> decontaminate -> sample/rebalance
  streaming:            stateful first-seen dedup + per-host budgets
  sources:              pages synthesis, snapshot tables, WARC/WET, CDX

Importing the package installs ``_zipcache`` first (CPython < 3.13): a
Python worker then re-reads a zip archive on ``sys.path`` only when it
changed, not in every task.
"""

from . import _zipcache  # noqa: F401  (first: patches zipimport)
from .engine.dom import (
    DefaultHandler,
    DomArrayHandler,
    ElementType,
    clean_text,
    inner_text,
    parse_document,
    serialize,
    text_content,
)
from .engine.fast_text import FastTextExtractor, fast_text_content
from .engine.feed import get_feed, parse_feed
from .engine.parser import NO_VALUE, Parser, ParserOptions
from .engine.stream import (
    StreamingParser,
    WritableStreamParser,
    create_document_stream,
)
from .engine.tokenizer import (
    QUOTE_DOUBLE,
    QUOTE_NONE,
    QUOTE_SINGLE,
    QUOTE_UNQUOTED,
    Tokenizer,
)

__version__ = "0.1.0"

__all__ = [
    "parse_document",
    "parse_feed",
    "get_feed",
    "text_content",
    "inner_text",
    "clean_text",
    "serialize",
    "fast_text_content",
    "FastTextExtractor",
    "Parser",
    "ParserOptions",
    "StreamingParser",
    "WritableStreamParser",
    "create_document_stream",
    "DomArrayHandler",
    "DefaultHandler",
    "ElementType",
    "Tokenizer",
    "NO_VALUE",
    "QUOTE_NONE",
    "QUOTE_UNQUOTED",
    "QUOTE_SINGLE",
    "QUOTE_DOUBLE",
    "__version__",
]
