"""Physical-plan regression tests: the scale properties claimed in
BENCH/BASELINE.md must survive future changes (no accidental shuffles,
lost pushdowns, or broadcast regressions)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def url_hash_exchanges(df) -> list[int]:
    """Partition counts of the plan's url-hash repartitions."""
    return [
        int(n)
        for n in re.findall(
            r"Exchange hashpartitioning\(xxhash64\(url#\d+, 42\), (\d+)\)",
            plan(df, "simple"),
        )
    ]


@pytest.fixture(scope="module")
def page_scans(spark, tmp_path_factory):
    """The same 64 pages written as defaultParallelism parquet files
    (``spread``) and as one file (``single``)."""
    par = spark.sparkContext.defaultParallelism
    pages = spark.range(64).select(
        F.format_string("https://h%d.example/%d", F.col("id") % 3, "id").alias("url"),
        F.lit("en").alias("lang"),
        F.encode(F.format_string("<p>page %d</p>", "id"), "utf-8").alias("html"),
    )
    root = tmp_path_factory.mktemp("page_scans")
    spread, single = str(root / "spread"), str(root / "single")
    pages.repartition(par).write.parquet(spread)
    pages.coalesce(1).write.parquet(single)
    assert len(spark.read.parquet(spread).inputFiles()) == par
    assert len(spark.read.parquet(single).inputFiles()) == 1
    return spread, single


def test_parse_pipeline_has_no_shuffle_when_scan_partitioned(spark, page_scans):
    """One Python task per core by default, and no html shuffle for a
    scan that is already spread over at least that many files."""
    from htmlparser2_spark.plans.extract_job import parse_pages
    from htmlparser2_spark.sources.pages import build_pages

    parsed = parse_pages(build_pages(spark, SF), repartition=False)
    p = plan(parsed)
    assert "Exchange" not in p  # scan partitioning carries through
    assert "mapInPandas" in p or "MapInPandas" in p

    par = spark.sparkContext.defaultParallelism
    parsed = parse_pages(spark.read.parquet(page_scans[0]))
    assert "Exchange" not in plan(parsed)
    assert parsed.rdd.getNumPartitions() == par


def test_parse_pipeline_shuffles_single_file_scan(spark, page_scans):
    """A scan with fewer files than cores gets exactly one url-hash
    repartition into defaultParallelism partitions; repartition=False
    keeps the scan as it is."""
    from htmlparser2_spark.plans.extract_job import parse_pages

    par = spark.sparkContext.defaultParallelism
    single = spark.read.parquet(page_scans[1])
    parsed = parse_pages(single)
    assert url_hash_exchanges(parsed) == [par]
    assert plan(parsed).count(") Exchange") == 1
    assert parsed.rdd.getNumPartitions() == par
    assert "Exchange" not in plan(parse_pages(single, repartition=False))


def test_explicit_repartition_is_single_hash_exchange(spark, page_scans):
    """repartition=True shuffles even a scan spread over enough files,
    into defaultParallelism partitions unless n_partitions says more."""
    from htmlparser2_spark.plans.extract_job import parse_pages

    par = spark.sparkContext.defaultParallelism
    spread = spark.read.parquet(page_scans[0])
    assert url_hash_exchanges(parse_pages(spread, repartition=True)) == [par]

    from htmlparser2_spark.sources.pages import build_pages

    parsed = parse_pages(build_pages(spark, SF), n_partitions=16, repartition=True)
    p = plan(parsed)
    # Formatted mode lists each node once in the tree and once in the
    # detail section: exactly one Exchange node -> one "(n) Exchange".
    assert p.count(") Exchange") == 1
    assert url_hash_exchanges(parsed) == [16]


def test_ann_broadcasts_query_side_with_topk_pushdown(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q_ann_topk"](spark, SF)
    p = plan(df)
    assert "Broadcast" in p  # small query side broadcast, corpus stays put
    assert "WindowGroupLimit" in p  # partial top-k before the exchange
    assert "PushedFilters" in p and "vec_id" in p


def test_extract_scan_prunes_columns(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q_extract_text"](spark, SF)
    p = plan(df)
    assert "n_chars" not in p  # unused column pruned from the parquet scan


def test_minhash_signatures_map_only(spark):
    """The signature stage is a per-row reduction: its plan must be a
    pure narrow Project over the scan — no shuffle, no aggregate."""
    from htmlparser2_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for engine in ("jvm", "arrow"):
        p = plan(minhash_signatures(docs, n_perm=8, engine=engine))
        assert "Exchange" not in p
        assert "Aggregate" not in p


def test_simhash_map_only(spark):
    """SimHash is likewise one higher-order expression per row."""
    from htmlparser2_spark.operators.dedup import simhash64

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(simhash64(docs))
    assert "Exchange" not in p
    assert "Aggregate" not in p


def test_sampling_is_map_only(spark):
    """Deterministic sampling is a pure filter over the scan — no
    shuffle at any corpus size."""
    from htmlparser2_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in plan(hash_sample(docs, 0.5))
    assert "Exchange" not in plan(
        stratified_sample(docs, {"en": 0.5}, strata_col="lang")
    )


def test_ivf_broadcasts_probe_side_with_pushdown(spark):
    """IVF cell join must broadcast the (small) probe side and keep the
    corpus scan's vec_id predicate pushed into parquet."""
    from htmlparser2_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = ivf_topk(
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") >= 5),
        k=3,
        centroids=[[0.1] * 64, [0.2] * 64],
    )
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "GreaterThanOrEqual(vec_id,5)" in p  # corpus-side pushdown
    assert "LessThan(vec_id,5)" in p  # probe-side pushdown


def test_jumbo_branch_is_union_of_two_parse_passes(spark):
    """Size-skew routing: one Union of two MapInPandas branches; no
    extra shuffle beyond the two explicit url-hash repartitions."""
    from htmlparser2_spark.plans.extract_job import parse_pages
    from htmlparser2_spark.sources.pages import build_pages

    parsed = parse_pages(
        build_pages(spark, SF), n_partitions=4, jumbo_bytes=100_000
    )
    p = plan(parsed)
    assert "Union" in p
    assert p.count("MapInPandas") >= 2


def test_ivf_seed_selection_has_no_global_sort(spark):
    """Centroid seeding must hash-sample before ordering: the physical
    plan contains no Sort node and no sort Exchange — only the top-k
    TakeOrderedAndProject over the sampled slice — and the sampling
    filter runs before it."""
    from htmlparser2_spark.operators.similarity import seed_candidates

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan(seed_candidates(emb, n_centroids=8))
    assert ") Sort" not in p
    assert "Exchange rangepartitioning" not in p
    assert "TakeOrderedAndProject" in p
    assert "xxhash64" in p  # the sampling filter made it into the plan


def test_url_canon_is_pure_projection(spark):
    """URL canonicalization must stay a single codegen'd projection over
    the scan — no Exchange, no UDF (BatchEvalPython) nodes."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q_url_canon"](spark, SF)
    p = plan(df)
    assert "Exchange" not in p
    assert "Python" not in p  # no row-at-a-time UDF snuck in
    assert ") Project" in p and ") Scan parquet" in p  # scan -> project only


def test_contamination_broadcasts_benchmark_side(spark):
    """The tiny benchmark shingle table must broadcast; the corpus is
    scanned once and never self-joined."""
    from htmlparser2_spark.operators.contamination import contamination_hits

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).selectExpr(
        "doc_id div 50 AS bench_id", "text"
    )
    p = plan(contamination_hits(docs, bench, n=8))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bloom_screen_corpus_side_map_only(spark):
    """With a pre-built (checkpointed) filter, the Bloom screen's plan
    over the corpus is Scan -> broadcast-cross-join of ONE tiny row ->
    Project: the only Exchange is that broadcast — no corpus shuffle,
    no corpus join key, no Python."""
    from htmlparser2_spark.operators.contamination import (
        bloom_build,
        bloom_contamination_hits,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    bl = bloom_build(bench, m_bits=4096).localCheckpoint()
    p = plan(bloom_contamination_hits(docs, bloom=bl, m_bits=4096))
    assert ") BroadcastNestedLoopJoin" in p  # 1-row build side
    assert ") BroadcastExchange" in p
    assert ") Exchange" not in p  # zero shuffles anywhere
    assert "Python" not in p


def test_lm_score_no_python_no_cartesian(spark):
    """LM training + scoring must stay JVM-side (pure Catalyst — no
    Arrow/Python eval nodes) and never degrade to a nested-loop join
    (the model join is keyed on the bigram string)."""
    import __spark_entry__ as entry_mod

    p = plan(entry_mod.queries()["q_lm_score"](spark, SF))
    assert "Python" not in p and "ArrowEval" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_frontier_joins_are_keyed(spark):
    """Frontier composition: robots admission + rank join must be
    equi-joins (host / url keys), never a cross product."""
    import __spark_entry__ as entry_mod

    p = plan(entry_mod.queries()["q_frontier"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_host_edges_single_shuffle(spark):
    """host_edges is one map-side-combined aggregation: exactly one
    Exchange over the (src, dst) key, partial_count before it."""
    from htmlparser2_spark.operators.linkgraph import host_edges

    links = spark.createDataFrame(
        [("https://a.ex/p", "https://b.ex/x")], "url string, href string"
    )
    p = plan(host_edges(links))
    assert p.count(") Exchange") == 1
    assert "partial_count" in p


def test_chunking_is_map_only(spark):
    """chunk_documents must stay a single Project+Generate: no
    Exchange, no Python — chunking 10^12 docs is a map pass."""
    from htmlparser2_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    p = plan(chunk_documents(df, chunk_tokens=2, overlap=0))
    assert "Exchange" not in p
    # the createDataFrame fixture scan mentions Python; operator
    # dispatch nodes are what must be absent
    assert "BatchEvalPython" not in p and "ArrowEval" not in p


def test_logreg_score_is_pure_project(spark):
    """Corpus scoring with closed weights: no shuffle, no Python."""
    from htmlparser2_spark.operators.classifier import logreg_score

    df = spark.createDataFrame(
        [(1, [0.5, 0.5])], "doc_id long, features array<double>"
    )
    p = plan(logreg_score(df, [0.1, -0.2, 0.0]))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEval" not in p


def test_sentences_is_map_only(spark):
    """Sentence segmentation + posexplode must stay Project+Generate:
    no Exchange, no Python dispatch — it is a map pass at 10^12 docs."""
    from htmlparser2_spark.functions.textstats import sentences

    df = spark.createDataFrame([(1, "a. b")], "doc_id long, text string")
    out = df.select(
        "doc_id", F.posexplode(sentences("text")).alias("i", "s")
    )
    p = plan(out)
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEval" not in p


def test_markdown_and_charset_are_single_udf_passes(spark):
    """markdown_udf / sniff_decode_udf ride the scan partitioning:
    exactly one Arrow UDF eval each, no shuffle."""
    import __spark_entry__ as entry_mod

    for name in ("q_markdown", "q_charset"):
        df = entry_mod.queries()[name](spark, SF)
        p = plan(df)
        assert "Exchange" not in p, name


def test_table_cells_shuffles_stay_document_keyed(spark):
    """Every exchange in the table-extraction plan hash-partitions on
    (url, ...) first — no cross-document shuffle key."""
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q_table_cells"](spark, SF)
    p = plan(df, "simple")
    keys = re.findall(r"hashpartitioning\((\w+)", p)
    assert keys and all(k == "url" for k in keys), keys


def _optimized(df) -> str:
    full = plan(df, "extended")
    return full.split("== Optimized Logical Plan ==")[1].split(
        "== Physical Plan =="
    )[0]


def test_tokenization_bound_once_per_row(spark):
    """Regression pin for the round-5 HOF binding fix: interpreted
    higher-order lambdas get no subexpression elimination, so any
    plan whose per-element lambda embeds the unbound split() pays
    O(tokens^2) per document. The optimized plan must contain the
    tokenizing split exactly once per bound array (the unbound forms
    showed 2-3 copies and re-evaluated them per element)."""
    from htmlparser2_spark.operators.dedup import minhash_signatures
    from htmlparser2_spark.operators.lm_score import _bigram_array
    from htmlparser2_spark.operators.quality import gopher_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for engine in ("jvm", "arrow"):
        p = _optimized(minhash_signatures(docs, n_perm=8, engine=engine))
        assert p.count("split(") == 1, (engine, p)
    p = _optimized(docs.select(_bigram_array(F.col("text")).alias("bg")))
    assert p.count("split(") == 1, p
    # gopher binds two token arrays (whitespace words + newline lines)
    # and keeps two row-level symbol-counting splits ('#', '...') in
    # the signal stage — four total, none inside a per-element lambda.
    p = _optimized(gopher_filter(docs))
    assert p.count("split(") == 4, p
