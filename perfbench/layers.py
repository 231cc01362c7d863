"""Which workload measures each per-layer metric, and which end-to-end
metric it should move.

``BENCHMARK.json`` holds every metric's name, unit and direction; its
per-layer entries may carry no other keys, so the layer map lives here.
``run.py`` refuses to run when the two disagree on the names. A metric
is reported as 0 on a workload it is not measured on.

Layers are the program's modules: ``sources`` (input scan),
``engine`` (tokenizer, parser, fast_text, dom, markdown), the Arrow
boundary that ``plans.extract_job``'s ``mapInPandas`` crosses
(``arrow``, ``python``), ``operators`` (quality, dedup,
contamination, chunking), ``plans`` (extract, curate, dedup, prep and
their funnels) and Spark's own JVM and shuffle (``jvm``, ``shuffle``,
``extract`` stage metrics).
"""

from __future__ import annotations

TEXT = ("small_pages_text",)
MARKDOWN = ("structured_pages_markdown",)
ALL = TEXT + MARKDOWN
# No timed workload runs run_curation (see run.py): the traced run of
# small_pages_text replays it and times each of its operators.
CURATE = TEXT
UNTIMED = "none timed: a run_curation + run_prep job"

# name -> (workloads it is measured on, what it should move)
LAYER_MAP = {
    # engine: single-thread driver-side replays on the workload's pages
    "engine.fast_text.us_per_doc": (TEXT, "docs_per_s, cpu_s on small_pages_text"),
    "engine.fast_text.fallback_ratio": (TEXT, "docs_per_s, cpu_s on small_pages_text"),
    "engine.tags_per_doc": (TEXT, "none: input shape, the divisor of us_per_tag"),
    "engine.us_per_tag": (TEXT, "docs_per_s, cpu_s on small_pages_text"),
    "engine.parser.us_per_doc": (MARKDOWN, "docs_per_s, cpu_s on structured_pages_markdown"),
    "engine.markdown.us_per_doc": (MARKDOWN, "docs_per_s, cpu_s on structured_pages_markdown"),
    # sources and the Arrow boundary
    "sources.scan_s": (ALL, "docs_per_s on both workloads"),
    "arrow.passthrough_s": (ALL, "docs_per_s on both, structured_pages_markdown most"),
    "arrow.passthrough_python_cpu_s": (ALL, "cpu_s on both workloads"),
    "arrow.bytes_in_mb": (ALL, "none: input size crossing the boundary"),
    "python.cpu_s": (ALL, "cpu_s on both workloads"),
    "python.busy_frac": (ALL, "docs_per_s on both workloads"),
    "jvm.cpu_s": (ALL, "cpu_s on both workloads"),
    "jvm.gc_s": (ALL, "docs_per_s on both workloads"),
    # the extract stage (the stage running mapInPandas), from Spark's REST API
    "extract.tasks": (ALL, "docs_per_s on both workloads"),
    "extract.task_skew": (ALL, "docs_per_s on both workloads"),
    "extract.shuffle_write_mb": (ALL, "docs_per_s on both workloads"),
    # curation replay: each operator timed alone on materialized inputs
    # after one checked run_curation + run_prep
    "quality.s": (CURATE, UNTIMED),
    "quality.keep_ratio": (CURATE, "none: input shape"),
    "dedup.exact_s": (CURATE, UNTIMED),
    "dedup.lsh_s": (CURATE, UNTIMED),
    "dedup.verify_s": (CURATE, UNTIMED),
    "dedup.cluster_s": (CURATE, UNTIMED),
    "dedup.candidate_pairs": (CURATE, "dedup.verify_s"),
    "dedup.verify_yield": (CURATE, "dedup.verify_s"),
    "decontam.s": (CURATE, UNTIMED),
    "prep.s": (CURATE, UNTIMED),
    "prep.chunks": (CURATE, "none: output size"),
    # shuffle over the traced iteration of the workload
    "shuffle.read_mb": (ALL, "docs_per_s on both workloads"),
    "shuffle.write_mb": (ALL, "docs_per_s on both workloads"),
    # benchmark health
    "trace.overhead_s": (ALL, "none: span cost x spans in the traced iteration"),
    "selfcheck.python_gain": (ALL, "none: measured python.cpu_s rise / injected spin, ~1"),
    "selfcheck.jvm_delta_s": (ALL, "none: jvm.cpu_s change under the injected spin, ~0"),
    "host.steal_frac": (ALL, "none: weather, not code"),
    "host.loadavg_1m": (ALL, "none: weather, not code"),
}
