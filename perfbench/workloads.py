"""The workloads: inputs, one closed-loop iteration with its output
check, and the per-layer measurements of a traced run, including the
curation replay.

Every iteration forces full evaluation with one aggregate over every
output column (a ``count()`` would let Catalyst prune the columns of
Catalyst-only operators). The same aggregate fingerprints the output
(``bit_xor`` of ``xxhash64`` per row), and the fingerprint must equal
the one of the reference output written with the inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import inputs

NPROC = len(os.sched_getaffinity(0))
# Documents per single-thread engine replay.
N_REPLAY = 500


def write_parquet(columns: dict[str, list], path: str, n_files: int) -> None:
    """One table as ``n_files`` parquet files of equal row counts."""
    table = pa.table(columns)
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet")
        )


def fingerprint(*cols) -> F.Column:
    return F.bit_xor(F.xxhash64(*cols))


def materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def gc_seconds(spark: SparkSession) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _spin(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def passthrough(spin_s: float):
    """Identity ``mapInPandas`` body that first burns ``spin_s`` CPU
    seconds in the Python worker."""

    def fn(batches):
        if spin_s:
            _spin(spin_s)
        yield from batches

    return fn


class Check:
    """Outcome of one iteration: output rows equal to a reference row,
    and whether the whole output matched the reference."""

    def __init__(self, matched: int, ok: bool) -> None:
        self.matched, self.ok = matched, ok


# ----------------------------------------------------------------- extract


class Workload:
    """``parse_pages`` in one mode over a pages table whose ``text``
    column holds the expected extraction."""

    name = ""
    mode = ""

    def __init__(self, root: str) -> None:
        self.root = root

    def write_pages(self, spark: SparkSession, seed: int) -> None:
        """Write the seeded pages table to ``self.pages_path``."""
        raise NotImplementedError

    def generate(self, spark: SparkSession, seed: int) -> None:
        self.pages_path = os.path.join(self.root, "data", "pages")
        self.write_pages(spark, seed)
        row = spark.read.parquet(self.pages_path).agg(
            F.count(F.lit(1)).alias("n"), fingerprint("url", "text").alias("fp")
        ).first()
        self.n, self.expected_fp = row["n"], row["fp"]

    def n_docs(self) -> int:
        """Input documents of one iteration, each with a reference row."""
        return self.n

    def iteration(self, spark: SparkSession, span) -> Check:
        """Run the job once and check its output; ``span`` is a context
        manager factory wrapped around each program call."""
        from htmlparser2_spark.plans.extract_job import parse_pages

        with span("plans.extract_job.parse_pages"):
            parsed = parse_pages(spark.read.parquet(self.pages_path), mode=self.mode)
        with span("action"):
            row = parsed.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("golden_match").alias("m"),
                fingerprint("url", "extracted").alias("fp"),
                F.sum(F.length("lang")),
                F.sum("n_tags"),
                F.sum("n_events"),
                F.sum("html_bytes"),
                F.max("pid"),
                F.max("wall_ms"),
            ).first()
        ok = row["n"] == self.n and row["m"] == self.n and row["fp"] == self.expected_fp
        if ok:
            return Check(self.n, True)
        # Count matches independently of the program's golden_match.
        out = parse_pages(spark.read.parquet(self.pages_path), mode=self.mode)
        matched = (
            out.join(spark.read.parquet(self.pages_path), "url")
            .filter(F.col("extracted") == F.col("text"))
            .count()
        )
        return Check(matched, False)

    def scan(self, spark: SparkSession) -> DataFrame:
        """The input scan as the extract UDF sees it: parse_pages'
        default layout for NPROC input files, a url-hash repartition
        into 2 x shuffle partitions."""
        return spark.read.parquet(self.pages_path).repartition(
            2 * NPROC, F.xxhash64("url")
        )

    def sample(self, seed: int) -> list[dict]:
        """A seeded sample of the pages, html decoded, for the replays."""
        rows = pq.read_table(self.pages_path, columns=["html", "text"]).to_pylist()
        rows = random.Random(seed).sample(rows, min(N_REPLAY, len(rows)))
        return [{"html": r["html"].decode("utf-8"), "text": r["text"]} for r in rows]


def _replay(tracer, name: str, fn, items) -> float:
    """Median over three passes of ``fn`` on every item, in us per item."""
    passes = []
    for _ in range(3):
        with tracer.span(name):
            t0 = time.perf_counter()
            for d in items:
                fn(d)
            passes.append(time.perf_counter() - t0)
    return statistics.median(passes) / len(items) * 1e6


class SmallPagesText(Workload):
    name = "small_pages_text"
    mode = "text"
    N_DOCS = 20_000

    def write_pages(self, spark: SparkSession, seed: int) -> None:
        from htmlparser2_spark.sources.pages import build_pages

        data = os.path.join(self.root, "data")
        write_parquet(
            inputs.small_docs(seed, self.N_DOCS),
            os.path.join(data, "documents.parquet"),
            NPROC,
        )
        build_pages(spark, data).repartition(NPROC).write.parquet(self.pages_path)

    def layers(self, spark: SparkSession, tracer, seed: int) -> dict[str, float]:
        """``fast_text`` replayed single-thread on the workload's pages,
        each output checked against the ``text`` column; then the
        curation replay."""
        from htmlparser2_spark.engine.fast_text import FastTextExtractor

        sample = self.sample(seed)
        docs = [r["html"] for r in sample]
        fast = FastTextExtractor()
        outs = [fast.extract(d) for d in docs]
        if [t for t, _ in outs] != [r["text"] for r in sample]:
            raise RuntimeError("fast_text replay: output differs from the text column")
        tags = sum(n for _, n in outs)
        fast.n_fallbacks = 0
        fast_us = _replay(tracer, "engine.fast_text.extract", fast.extract, docs)
        out = {
            "engine.fast_text.us_per_doc": fast_us,
            "engine.fast_text.fallback_ratio": fast.n_fallbacks / (3 * len(docs)),
            "engine.tags_per_doc": tags / len(docs),
            "engine.us_per_tag": fast_us * len(docs) / tags,
        }
        with tracer.span("curation"):
            out.update(CurationReplay(self.root).run(spark, tracer, seed))
        return out


class StructuredPagesMarkdown(Workload):
    name = "structured_pages_markdown"
    mode = "markdown"
    N_DOCS = 4_000

    def write_pages(self, spark: SparkSession, seed: int) -> None:
        write_parquet(inputs.structured_pages(seed, self.N_DOCS), self.pages_path, NPROC)

    def layers(self, spark: SparkSession, tracer, seed: int) -> dict[str, float]:
        """The parser, then the Markdown renderer on the parsed nodes,
        replayed single-thread on the workload's pages with every output
        checked."""
        from htmlparser2_spark.engine.dom import DomArrayHandler
        from htmlparser2_spark.engine.markdown import to_markdown
        from htmlparser2_spark.engine.parser import Parser

        sample = self.sample(seed)
        handler = DomArrayHandler(with_indices=False)
        parser = Parser(handler)
        out = {
            "engine.parser.us_per_doc": _replay(
                tracer, "engine.parser.parse", parser.parse, [r["html"] for r in sample]
            )
        }
        trees = []
        for r in sample:
            parser.parse(r["html"])
            trees.append(handler.nodes)
        out["engine.markdown.us_per_doc"] = _replay(
            tracer, "engine.markdown.to_markdown", to_markdown, trees
        )
        if [to_markdown(t) for t in trees] != [r["text"] for r in sample]:
            raise RuntimeError("markdown replay: output differs from the expected Markdown")
        return out


# ---------------------------------------------------------------- curation


class CurationReplay:
    """``run_curation`` then ``run_prep`` on a seeded near-duplicate
    corpus, checked against the reference funnel and chunks; then each
    curation operator timed alone on materialized inputs and checked
    against the reference stage counts."""

    N_ORIGINALS = 1000

    def __init__(self, root: str) -> None:
        data = os.path.join(root, "data", "curation")
        self.docs_path = os.path.join(data, "docs")
        self.bench_path = os.path.join(data, "bench")
        self.chunks_path = os.path.join(data, "expected_chunks")

    @staticmethod
    def _chunk_fp() -> F.Column:
        return fingerprint(
            F.col("id").cast("long"),
            F.col("chunk_idx").cast("int"),
            F.col("n_chunk_tokens").cast("int"),
            F.col("chunk_text"),
        )

    def run(self, spark: SparkSession, tracer, seed: int) -> dict[str, float]:
        self.ref = inputs.curation_corpus(seed, self.N_ORIGINALS)
        write_parquet(self.ref.docs, self.docs_path, NPROC)
        write_parquet(self.ref.bench, self.bench_path, 1)
        write_parquet(self.ref.chunks, self.chunks_path, 1)
        self.expected_fp = spark.read.parquet(self.chunks_path).agg(
            self._chunk_fp()
        ).first()[0]
        self.curate(spark, tracer.span)
        return self.operators(spark, tracer)

    def curate(self, spark: SparkSession, span) -> None:
        from htmlparser2_spark.plans.curate_job import run_curation
        from htmlparser2_spark.plans.prep_job import run_prep

        with span("plans.curate_job.run_curation"):
            corpus, funnel = run_curation(
                spark.read.parquet(self.docs_path),
                bench=spark.read.parquet(self.bench_path),
            )
        with span("plans.prep_job.run_prep"):
            chunks, prep_funnel = run_prep(
                corpus, chunk_tokens=inputs.CHUNK_TOKENS, overlap=inputs.CHUNK_OVERLAP
            )
        with span("action"):
            row = chunks.agg(
                F.count(F.lit(1)).alias("n"),
                self._chunk_fp().alias("fp"),
                fingerprint("grp", "shard"),
            ).first()
        with span("plans.funnel"):
            stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
            prep_stages = {r["stage"]: r["n_rows"] for r in prep_funnel.collect()}
        if (
            row["fp"] != self.expected_fp
            or row["n"] != len(self.ref.chunks["id"])
            or stages != self.ref.funnel
            or prep_stages != self.ref.prep_funnel
        ):
            raise RuntimeError(
                f"run_curation + run_prep: funnel {stages} / {prep_stages}, "
                f"{row['n']} chunks; expected {self.ref.funnel} / "
                f"{self.ref.prep_funnel}, {len(self.ref.chunks['id'])} chunks"
            )

    def operators(self, spark: SparkSession, tracer) -> dict[str, float]:
        from htmlparser2_spark.operators.contamination import decontaminate
        from htmlparser2_spark.operators.dedup import (
            duplicate_clusters,
            exact_dedup,
            jaccard_verify_pairs,
            minhash_lsh_pairs,
        )
        from htmlparser2_spark.operators.quality import gopher_filter
        from htmlparser2_spark.plans.prep_job import run_prep

        out: dict[str, float] = {}

        def timed(name: str, action):
            with tracer.span(name):
                t0 = time.perf_counter()
                result = action()
                out[name] = time.perf_counter() - t0
            return result

        docs = materialize(spark.read.parquet(self.docs_path))
        bench = materialize(spark.read.parquet(self.bench_path))
        n_docs = docs.count()

        verdicts = gopher_filter(docs)
        q = timed("quality.s", lambda: verdicts.agg(
            F.sum(F.col("keep").cast("int")).alias("kept"),
            fingerprint("doc_id", "keep", "reject_reason"),
        ).first())
        out["quality.keep_ratio"] = q["kept"] / n_docs
        passed = materialize(docs.join(
            verdicts.filter("keep").select("doc_id"), "doc_id", "left_semi"
        ))

        groups = exact_dedup(passed)
        timed("dedup.exact_s", lambda: groups.agg(
            F.count(F.lit(1)), fingerprint("text_hash", "n_copies", "keep_id")
        ).first())
        copies = (
            passed.select("doc_id", F.md5("text").alias("text_hash"))
            .join(groups, "text_hash")
            .filter(F.col("doc_id") != F.col("keep_id"))
        )
        unique = materialize(passed.join(copies, "doc_id", "left_anti"))

        cands = timed("dedup.lsh_s", lambda: materialize(minhash_lsh_pairs(unique)))
        n_cands = cands.count()
        verified = timed(
            "dedup.verify_s", lambda: materialize(jaccard_verify_pairs(unique, cands))
        )
        n_verified = verified.count()
        clusters = timed(
            "dedup.cluster_s", lambda: materialize(duplicate_clusters(verified))
        )
        out["dedup.candidate_pairs"] = n_cands
        out["dedup.verify_yield"] = n_verified / n_cands if n_cands else 0.0
        kept = materialize(unique.join(
            clusters.filter(F.col("id") != F.col("cluster_id")).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        ))

        clean = decontaminate(kept, bench)
        timed("decontam.s", lambda: clean.agg(
            F.count(F.lit(1)), fingerprint("doc_id", "text", "lang")
        ).first())
        clean = materialize(clean)

        def prep():
            chunks, funnel = run_prep(
                clean, chunk_tokens=inputs.CHUNK_TOKENS, overlap=inputs.CHUNK_OVERLAP
            )
            n = chunks.agg(
                F.count(F.lit(1)), self._chunk_fp(), fingerprint("grp", "shard")
            ).first()[0]
            funnel.collect()
            return n

        out["prep.chunks"] = timed("prep.s", prep)

        counts = {
            "quality": q["kept"],
            "dedup": kept.count(),
            "decontaminated": clean.count(),
        }
        expected = {k: self.ref.funnel[k] for k in counts}
        if counts != expected or out["prep.chunks"] != len(self.ref.chunks["id"]):
            raise RuntimeError(
                f"operator replay mismatch: {counts} != {expected} "
                f"or chunks {out['prep.chunks']}"
            )
        return out


WORKLOADS = {w.name: w for w in (SmallPagesText, StructuredPagesMarkdown)}


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
