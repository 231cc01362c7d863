"""Production extraction pipeline: pages -> parsed/text tables + metrics.

The cluster-scale shape of the reference's streaming parse (SURVEY.md §3
"Spark lifecycle"): explicit repartitioning by url hash, oversized-document
isolation, one ``mapInPandas`` pass that parses each document and carries
per-partition lineage, and checkpoint-resumable bucketed writes.

Scale design notes
------------------
* One Python task per core. Spark's worker calls
  ``importlib.invalidate_caches()`` in every task, which on CPython
  < 3.13 made every ``zipimporter`` re-read ``pyspark.zip``'s
  directory: ~0.2 Python CPU-s per task whatever its data.
  ``htmlparser2_spark._zipcache`` (installed by importing the package)
  skips those re-reads from a worker's second task on. An identity
  ``mapInArrow`` over 20k small pages on a 4-core host, in workers
  that imported the package, costs 0.07-0.09 Python CPU-s in 4 tasks
  and 0.52-0.58 s in 32 (0.8 and 5.8-6.4 s without the cache), and
  0.33 vs 0.81 JVM CPU-s. A task beyond the cores still costs ~0.03
  CPU-s and no measurement shows tail hiding that repays it, so the
  parse runs ``defaultParallelism`` tasks.
* Repartition key is ``xxhash64(url)`` — unique keys, so hash partitioning
  balances row *counts*. A file scan is already spread over its files
  and is not shuffled unless it has fewer files than cores (one small
  parquet file can put all its rows into one split). Size skew is
  handled separately by routing oversized documents (> ``jumbo_bytes``)
  into their own url-hash-partitioned branch so one 100MB page cannot
  stall a 2048-row Arrow batch.
* The parse is a single ``mapInPandas`` over Arrow batches: one
  JVM->Python transfer per batch, no per-row dispatch, no collect().
* Output is written bucketed by ``pmod(xxhash64(url), n_buckets)``; a
  JSON manifest records completed buckets, and :func:`run_extract` with
  ``resume=True`` filters them out of the input scan (partition pruning
  keeps the re-scan cheap), giving checkpoint resume at bucket
  granularity — the batch analogue of the reference's incremental
  ``write()`` chunks (Parser.ts:774-800).
* Lineage: every output row carries its partition id; per-partition
  metrics (docs, bytes, events, wall_ms) aggregate from the same pass.
  ``n_events`` (and so ``events``) is not counted: it is the estimate
  2 x ``n_tags``, kept in ``PARSED_SCHEMA`` for existing readers;
  ``doc_stats_udf`` counts events exactly.
* Documents are decoded and extracted by functions/udfs.py's
  ``_to_str`` and ``_make_extract``, the same decoder and extractors
  as the HTML UDFs.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.udfs import _make_extract, _to_str

__all__ = ["parse_pages", "run_extract", "partition_metrics"]

PARSED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("lang", StringType()),
        StructField("extracted", StringType()),
        StructField("golden_match", IntegerType()),
        StructField("n_tags", IntegerType()),
        StructField("n_events", IntegerType()),
        StructField("html_bytes", LongType()),
        StructField("pid", IntegerType()),
        StructField("wall_ms", LongType()),
    ]
)


# The input columns _parse_batches reads; ``text`` (the expected
# extraction) may be absent.
_UDF_INPUTS = ("url", "html", "text", "lang")


def _parse_batches_fn(mode: str, sniff_charset: bool = False):
    def _parse_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        """mapInPandas worker: parse every document in every Arrow batch."""
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        t0 = time.perf_counter()

        extract = _make_extract(mode)
        for batch in batches:
            # Series.__iter__ is slow; pull plain python lists once per
            # batch.
            htmls = batch["html"].tolist()
            # Real crawls carry no expected-extraction column;
            # golden_match is then reported as 0 matches over 0 checks
            # (sum stays usable). In mode="main"/"markdown" the golden
            # column is the FULL-extraction text, so matches stay 0 by
            # design.
            goldens = (
                batch["text"].tolist()
                if "text" in batch.columns
                else [None] * len(htmls)
            )
            extracted_col = []
            match_col = []
            tags_col = []
            events_col = []
            bytes_col = []
            for html, golden in zip(htmls, goldens):
                # NULL payloads (fetch failures in real crawls) parse as
                # empty documents instead of failing the task. With
                # sniff_charset, BINARY payloads go through the BOM +
                # meta prescan decoder (engine/encoding.py) instead of
                # assumed-UTF-8.
                extracted, n_tags = extract(_to_str(html, sniff_charset))
                extracted_col.append(extracted)
                match_col.append(
                    1 if golden is not None and extracted == golden else 0
                )
                tags_col.append(n_tags)
                # Not a count: opens+closes pair up, so event volume is
                # estimated as 2 x tags (exact counting lives in
                # doc_stats_udf).
                events_col.append(2 * n_tags)
                # UTF-8 bytes for STRING payloads: octet_length(html),
                # the measure jumbo_bytes routes on.
                bytes_col.append(
                    0 if html is None
                    else len(html.encode()) if isinstance(html, str)
                    else len(html)
                )
            yield pd.DataFrame(
                {
                    "url": batch["url"],
                    "lang": batch["lang"],
                    "extracted": extracted_col,
                    "golden_match": match_col,
                    "n_tags": tags_col,
                    "n_events": events_col,
                    "html_bytes": bytes_col,
                    "pid": pid,
                    "wall_ms": int((time.perf_counter() - t0) * 1000),
                }
            )

    return _parse_batches


def parse_pages(
    pages: DataFrame,
    *,
    n_partitions: int | None = None,
    repartition: bool | None = None,
    jumbo_bytes: int | None = None,
    mode: str = "text",
    sniff_charset: bool = False,
) -> DataFrame:
    """Parse a pages DataFrame with one ``mapInPandas`` pass.

    ``html`` may be a BINARY or a STRING column. NULL parses as the
    empty document; BINARY decodes as UTF-8 with U+FFFD replacement, or
    with ``sniff_charset=True`` through the BOM + meta-prescan decoder;
    STRING is used as is. ``html_bytes`` is ``octet_length(html)``:
    bytes for BINARY, UTF-8 bytes for STRING. ``mode`` is ``text``
    (full textContent), ``main`` (readability-lite main content) or
    ``markdown``.

    ``n_partitions`` (``n``) defaults to ``defaultParallelism``: one
    Python task per core. Each task beyond that costs ~0.03 CPU-s of
    Python worker and JVM time (see the module notes) for no measured
    gain.

    Only ``url``, ``html``, ``text`` and ``lang`` (those present) are
    selected into the UDF: other input columns (a sources.pages table's
    ``warc_ts``, run_extract's ``bucket``) are pruned from the scan
    instead of crossing the Arrow boundary unread.

    ``repartition=None`` (auto) shuffles by ``xxhash64(url)`` into ``n``
    partitions only when the input reads fewer files than ``n``: a scan
    over at least ``n`` files already spreads the rows, and a shuffle
    of the html payload would be pure overhead, while one small file
    can plan all its rows into one split. A plan that reads no files
    counts as ``defaultParallelism`` partitions, so it keeps its own
    partitioning unless ``n_partitions`` asks for more. Explicit
    ``repartition=True`` forces the url-hash shuffle (use when the
    input layout is host-clustered and skewed); ``repartition=False``
    never shuffles.

    ``jumbo_bytes`` (size-skew isolation): rows with ``octet_length(html)
    > jumbo_bytes`` (bytes for BINARY, UTF-8 bytes for STRING columns)
    are routed into their own url-hash-partitioned branch of ``n``
    partitions and parsed separately, so one 100MB page never queues
    behind — or holds up — a partition of ordinary documents. Costs a
    second pass over the scan (the predicate is not pushable), so it is
    opt-in; without it, oversized rows are still bounded per-batch by
    Arrow's maxRecordsPerBatch. A row is atomic either way — documents
    are never split.
    """
    pages = pages.select(*[c for c in _UDF_INPUTS if c in pages.columns])
    spark = pages.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    if jumbo_bytes is not None:
        # octet_length measures bytes for BINARY and UTF-8 bytes for
        # STRING columns; length() would count characters for strings,
        # under-measuring multi-byte UTF-8 documents by up to 4x.
        is_jumbo = F.coalesce(F.octet_length("html"), F.lit(0)) > F.lit(jumbo_bytes)
        normal = parse_pages(
            pages.filter(~is_jumbo),
            n_partitions=n_partitions,
            repartition=repartition,
            mode=mode,
            sniff_charset=sniff_charset,
        )
        jumbo = pages.filter(is_jumbo).repartition(n, F.xxhash64("url"))
        return normal.unionByName(
            jumbo.mapInPandas(
                _parse_batches_fn(mode, sniff_charset), PARSED_SCHEMA
            )
        )
    if repartition is None:
        # Read the file count from the plan rather than df.rdd (which
        # converts the whole logical plan to an RDD on every call just
        # to read a number). Misestimates only affect the shuffle-or-not
        # heuristic — callers at scale should pass `repartition`
        # explicitly (unsplittable .gz inputs especially).
        par = spark.sparkContext.defaultParallelism
        n_in = len(pages.inputFiles()) or par
        repartition = n_in < n
    if repartition:
        pages = pages.repartition(n, F.xxhash64("url"))
    return pages.mapInPandas(
        _parse_batches_fn(mode, sniff_charset), PARSED_SCHEMA
    )


def partition_metrics(parsed: DataFrame) -> DataFrame:
    """Per-partition lineage: docs, bytes, events, wall_ms.

    ``events`` sums ``n_events``, the 2 x ``n_tags`` estimate, not a
    count of parser events."""
    return parsed.groupBy("pid").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("html_bytes").alias("bytes"),
        F.sum("n_events").alias("events"),
        F.max("wall_ms").alias("wall_ms"),
        F.sum("golden_match").alias("golden_matches"),
    )


def run_extract(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    n_buckets: int = 16,
    resume: bool = True,
    n_partitions: int | None = None,
    jumbo_bytes: int | None = None,
    mode: str = "text",
    sniff_charset: bool = False,
) -> dict:
    """Bucketed, checkpoint-resumable extraction run.

    ``mode="main"`` runs the readability-lite main-content selection,
    ``mode="markdown"`` the structure-keeping Markdown rendering,
    instead of full textContent (golden matches stay 0 in both — the
    pages golden is the full extraction). ``sniff_charset=True`` routes
    input bytes through the BOM + meta-prescan decoder instead of
    assumed-UTF-8 (mixed-encoding crawls). Returns a summary dict
    (docs, matches, buckets written/skipped).
    """
    manifest_path = os.path.join(out_dir, "manifest.json")
    done: list[int] = []
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        done = manifest["completed_buckets"]
        # A manifest written by an older run may predate the mode
        # field; treat it as the then-only "text" mode.
        prev_mode = manifest.get("mode", "text")
        prev_sniff = manifest.get("sniff_charset", False)
        if prev_mode != mode or prev_sniff != sniff_charset:
            raise ValueError(
                f"out_dir {out_dir!r} holds mode={prev_mode!r} "
                f"sniff_charset={prev_sniff!r} buckets; resuming it "
                f"with mode={mode!r} sniff_charset={sniff_charset!r} "
                "would mix extraction semantics in one dataset — use "
                "a fresh out_dir or resume=False to overwrite"
            )

    bucket = F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    todo_pages = pages.withColumn("bucket", bucket)
    if done:
        todo_pages = todo_pages.filter(~F.col("bucket").isin(done))

    parsed = parse_pages(
        todo_pages,
        n_partitions=n_partitions,
        jumbo_bytes=jumbo_bytes,
        mode=mode,
        sniff_charset=sniff_charset,
    )
    # Re-derive the bucket from the url (cheap Catalyst expression,
    # avoids threading it through the UDF schema).
    parsed = parsed.withColumn("bucket", bucket)
    parsed_path = os.path.join(out_dir, "parsed")
    # Dynamic partition overwrite makes resume idempotent: if a prior
    # run died after some bucket directories landed but before the
    # manifest was written, re-parsing a todo bucket *replaces* its
    # directory instead of appending duplicate rows (the append-mode
    # hazard). Only the buckets present in this write are touched;
    # already-completed (manifest-skipped) buckets are untouched.
    (
        parsed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(parsed_path)
    )

    # Spark's commit protocol makes output files visible only at job
    # commit, so the write returning means every todo bucket is durable.
    # Cross-check against the bucket directories actually on disk rather
    # than assuming: a todo bucket with zero rows creates no directory
    # (still complete — there was nothing to write), but a manifest
    # claiming buckets that are neither on disk nor in this run's todo
    # set would be wrong, so completed = previously-done U this run's
    # todo, and on-disk state is the tiebreaker for diagnostics.
    todo = sorted(set(range(n_buckets)) - set(done))
    on_disk = {
        int(name.split("=", 1)[1])
        for name in (os.listdir(parsed_path) if os.path.isdir(parsed_path) else [])
        if name.startswith("bucket=")
    }
    completed = sorted(set(done) | set(todo))
    with open(manifest_path, "w") as fh:
        json.dump(
            {
                "completed_buckets": completed,
                "buckets_on_disk": sorted(on_disk),
                "mode": mode,
                "sniff_charset": sniff_charset,
            },
            fh,
        )

    result = spark.read.parquet(parsed_path)
    summary = result.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("golden_match").alias("matches"),
        F.sum("html_bytes").alias("bytes"),
    ).collect()[0]
    return {
        "docs": summary["docs"],
        "matches": summary["matches"],
        "bytes": summary["bytes"],
        "buckets_skipped": done,
        "buckets_total": n_buckets,
    }
