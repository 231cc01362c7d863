"""Spark-level tests: UDFs, dedup/similarity operators, extraction
pipeline (lineage + checkpoint resume), streaming, multimodal, textstats."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from .fixture_docs import DOCS, requires_docs

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


# ---------------------------- UDFs ----------------------------

def test_extract_text_udf_matches_engine(spark):
    from htmlparser2_spark.functions.udfs import extract_text_udf

    df = spark.createDataFrame(
        [("u1", b"<p>Hello <b>world</b> &amp; more</p>")], "url string, html binary"
    )
    out = df.select(extract_text_udf()(F.col("html")).alias("t")).collect()
    assert out[0]["t"] == "Hello world & more"


def test_node_counts_matches_dom_nodes_histogram(spark):
    """The tokenizer-only counting handler must reproduce the exploded
    dom_nodes histogram exactly — including merged text runs (one node
    per run), comments/cdata as null-name nodes, and PI names."""
    from htmlparser2_spark.functions.udfs import dom_nodes_udf, node_counts_udf

    docs = [
        ("<!-- c --><p>a<b>x</b>tail</p><![CDATA[in]]><?xml pi?>text",),
        ("a<!--x-->b<!--y-->c",),
        ("<script>var x='<p>'</script><style>p{}</style>",),
        ("",),
        ("plain text only",),
        ("<!DOCTYPE html><html><body><p>one</p><p>two</p></body></html>",),
    ]
    df = spark.createDataFrame(docs, "html string")
    dom = (
        df.select(F.explode(dom_nodes_udf()(F.col("html"))).alias("n"))
        .groupBy(F.col("n.name").alias("name"))
        .count()
        .collect()
    )
    light = (
        df.select(F.explode(node_counts_udf()(F.col("html"))).alias("nc"))
        .groupBy(F.col("nc.name").alias("name"))
        .agg(F.sum("nc.cnt").alias("cnt"))
        .collect()
    )
    assert {r["name"]: r["count"] for r in dom} == {
        r["name"]: r["cnt"] for r in light
    }


def test_dom_nodes_udf_schema(spark):
    from htmlparser2_spark.functions.udfs import dom_nodes_udf

    df = spark.createDataFrame(
        [(b'<div id="a"><p>x</p><!--c--></div>',)], "html binary"
    )
    nodes = df.select(F.explode(dom_nodes_udf()(F.col("html"))).alias("n")).select("n.*")
    rows = {r["node_id"]: r for r in nodes.collect()}
    assert rows[0]["name"] == "div" and rows[0]["attrs"] == {"id": "a"}
    assert rows[1]["name"] == "p" and rows[1]["parent_id"] == 0
    assert rows[2]["data"] == "x" and rows[2]["type"] == "text"
    assert rows[3]["type"] == "comment" and rows[3]["data"] == "c"


def test_parser_events_udf(spark):
    from htmlparser2_spark.functions.udfs import parser_events_udf

    df = spark.createDataFrame([(b"<ul><li>a<li>b</ul>",)], "html binary")
    evs = df.select(F.explode(parser_events_udf()(F.col("html"))).alias("e")).select(
        "e.*"
    )
    names = [(r["event"], r["name"], r["is_implied"]) for r in evs.collect()]
    assert ("closetag", "li", True) in names  # implied close of first <li>


@requires_docs
def test_feed_udf(spark):
    from htmlparser2_spark.functions.udfs import feed_udf

    xml = (DOCS / "Atom_Example.xml").read_bytes()
    df = spark.createDataFrame([(xml,)], "xml binary")
    row = df.select(feed_udf()(F.col("xml")).alias("f")).collect()[0]["f"]
    assert row["type"] == "atom"
    assert row["title"] == "Example Feed"
    assert row["items"][0]["title"] == "Atom-Powered Robots Run Amok"
    assert row["updated"].year == 2003


# ---------------------------- dedup ----------------------------

@pytest.fixture(scope="module")
def dup_docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    near = (
        docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
        .withColumn("doc_id", F.col("doc_id") + 20_000)
        .withColumn("text", F.concat(F.lit("extra prefix words here "), F.col("text")))
    )
    return docs.unionByName(clones).unionByName(near).cache()


def test_exact_dedup(spark, dup_docs):
    from htmlparser2_spark.operators.dedup import exact_dedup

    groups = exact_dedup(dup_docs).collect()
    assert len(groups) == 20
    assert all(g["n_copies"] == 2 and g["keep_id"] < 20 for g in groups)


def test_minhash_lsh_finds_exact_and_near_dups(spark, dup_docs):
    from htmlparser2_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(dup_docs).collect()
    }
    exact_found = sum((i, i + 10_000) in pairs for i in range(20))
    near_found = sum((i, i + 20_000) in pairs for i in range(20, 30))
    assert exact_found == 20  # identical docs always share all bands
    assert near_found >= 7  # prefix-noised docs: high jaccard, most found


def test_minhash_engines_bit_identical(spark, dup_docs):
    """The Arrow/numpy permutation+min fold must reproduce the pure-
    Catalyst HOF fold exactly — including the all-null signature for
    shingle-less documents."""
    from htmlparser2_spark.operators.dedup import minhash_signatures

    docs = dup_docs.unionByName(
        spark.createDataFrame([(999_999, "one two")], "doc_id long, text string")
    )
    jvm = {
        r["id"]: r["sig"]
        for r in minhash_signatures(docs, engine="jvm").collect()
    }
    arrow = {
        r["id"]: r["sig"]
        for r in minhash_signatures(docs, engine="arrow").collect()
    }
    assert jvm == arrow
    assert arrow[999_999] == [None] * 32  # too short for 3-shingles


def test_ngram_jaccard_pairs(spark, dup_docs):
    from htmlparser2_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(dup_docs, threshold=0.5).collect()
    }
    assert all(pairs[(i, i + 10_000)] == 1.0 for i in range(20))
    for i in range(20, 30):
        assert 0.5 <= pairs[(i, i + 20_000)] < 1.0


def test_jaccard_verify_matches_full_jaccard_on_pairs(spark, dup_docs):
    """The candidate-only verify stage must produce the same jaccard
    values as the full self-join operator on every shared pair."""
    from htmlparser2_spark.operators.dedup import (
        jaccard_verify_pairs,
        ngram_jaccard_pairs,
    )

    full = ngram_jaccard_pairs(dup_docs, n=3, threshold=0.3)
    verified = jaccard_verify_pairs(
        dup_docs, full.select("id_a", "id_b"), n=3, threshold=0.3
    )
    f = {(r["id_a"], r["id_b"]): r["jaccard"] for r in full.collect()}
    v = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert f == v and len(f) > 0


def test_run_dedup_statuses(spark):
    """exact copies -> exact_dup of the min id; near dups -> near_dup
    of the cluster representative; uniques -> kept."""
    from htmlparser2_spark.plans.dedup_job import run_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),                      # exact copy of 1
        (3, "prefix words " + base),    # near dup of 1
        (4, "totally different content with nothing shared at all here ok"),
        (5, base),                      # second exact copy of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: (r["status"], r["dup_of"]) for r in
           run_dedup(df, threshold=0.5).collect()}
    assert out[1] == ("kept", 1)
    assert out[2] == ("exact_dup", 1)
    assert out[5] == ("exact_dup", 1)
    assert out[3] == ("near_dup", 1)
    assert out[4] == ("kept", 4)
    assert len(out) == 5


def test_simhash_close_for_near_dups(spark, dup_docs):
    from htmlparser2_spark.operators.dedup import simhash64

    sh = {r["id"]: r["simhash"] for r in simhash64(dup_docs).collect()}
    for i in range(20):
        assert sh[i] == sh[i + 10_000]  # identical text -> identical simhash
    # Near-dups (4-token prefix noise): small hamming distance for most
    # pairs. Unweighted simhash on short docs has occasional outliers
    # where many per-bit sums sit near zero, so assert on the population.
    hammings = sorted(
        bin(sh[i] ^ sh[i + 20_000]).count("1") for i in range(20, 30)
    )
    assert hammings[7] <= 16  # at least 8 of 10 within radius 16
    assert hammings[0] <= 8


def test_embedding_dup_pairs_selfdup(spark):
    from htmlparser2_spark.operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    dup = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    pairs = embedding_dup_pairs(
        emb.unionByName(dup), threshold=0.999, n_bits=6
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert sum((i, i + 1000) in found for i in range(50)) == 50


# ---------------------------- similarity ----------------------------

def test_lsh_topk_recall_vs_brute_force(spark):
    from htmlparser2_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, c, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(q, c, dim=64, k=3, n_bits=2).collect()
    }
    # With 2 bits (4 buckets), recall should be substantial but the
    # result must be a subset of per-bucket candidates.
    assert len(approx & exact) >= len(exact) // 3
    assert all(rank for rank in range(1, 4))


def test_candidate_scorer_engines_agree(spark):
    """ivf_topk and lsh_topk produce identical rankings under the
    einsum scorer and the Catalyst fold on real embeddings."""
    from htmlparser2_spark.operators.similarity import ivf_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    for op, kw in ((ivf_topk, {}), (lsh_topk, {"dim": 64, "n_bits": 2})):
        jvm = {key(r): (r["neighbor_id"], r["sim"])
               for r in op(q, c, k=3, engine="jvm", **kw).collect()}
        arrow = {key(r): (r["neighbor_id"], r["sim"])
                 for r in op(q, c, k=3, engine="arrow", **kw).collect()}
        assert jvm == arrow and jvm


def test_brute_force_engines_agree(spark):
    """The Arrow partial-top-k engine must produce the same ranking as
    the pure-Catalyst fold on real embeddings (neighbors there are not
    ulp-degenerate), including sims at the 4dp rounding, and must
    handle a zero-norm query like _cosine (everything at sim 0.0)."""
    from htmlparser2_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    c = emb.filter(F.col("vec_id") >= 8)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    jvm = {key(r): (r["neighbor_id"], r["sim"])
           for r in brute_force_topk(q, c, k=5).collect()}
    arrow = {key(r): (r["neighbor_id"], r["sim"])
             for r in brute_force_topk(q, c, k=5, engine="arrow").collect()}
    assert jvm == arrow

    dim = len(emb.first()["embedding"])
    zq = spark.createDataFrame(
        [(999, [0.0] * dim)], "vec_id long, embedding array<double>"
    )
    z = brute_force_topk(zq, c, k=3, engine="arrow").collect()
    assert [r["sim"] for r in z] == [0.0, 0.0, 0.0]
    # every sim ties at 0.0, so the (sim desc, id asc) order must pick
    # exactly the 3 globally lowest corpus ids — this is the case an
    # argpartition-on-sim-alone per-batch selection gets wrong
    lowest = [r["vec_id"] for r in
              c.orderBy("vec_id").select("vec_id").limit(3).collect()]
    assert [r["neighbor_id"] for r in z] == lowest

    # non-integral ids are an explicit error on the arrow engine
    sq = spark.createDataFrame(
        [("a", [1.0] * dim)], "vec_id string, embedding array<double>"
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="integral"):
        brute_force_topk(sq, c, k=1, engine="arrow")


# ---------------------------- pipeline ----------------------------

def test_run_extract_checkpoint_resume(spark, tmp_path):
    from htmlparser2_spark.plans.extract_job import run_extract
    from htmlparser2_spark.sources.pages import build_pages

    out = str(tmp_path / "extract")
    pages = build_pages(spark, SF)
    summary = run_extract(spark, pages, out, n_buckets=8, resume=True)
    assert summary["docs"] == 500 and summary["matches"] == 500
    assert summary["buckets_skipped"] == []
    # Second run resumes: all buckets done -> input fully filtered out.
    summary2 = run_extract(spark, pages, out, n_buckets=8, resume=True)
    assert summary2["buckets_skipped"] == list(range(8))
    assert summary2["docs"] == 500  # no duplicated output rows
    # Resuming with a different extraction mode would mix text-mode and
    # main-mode buckets in one dataset — refuse loudly.
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        run_extract(spark, pages, out, n_buckets=8, resume=True, mode="main")


def test_run_extract_main_content_mode(spark, tmp_path):
    """mode='main' swaps the full-textContent extractor for the
    readability-lite block selection end-to-end through the bucketed
    resumable job; per-row output must equal the engine run on the
    same html, and golden matches stay 0 (the pages golden is the full
    extraction)."""
    from htmlparser2_spark.engine.readability import main_content
    from htmlparser2_spark.plans.extract_job import run_extract
    from htmlparser2_spark.sources.pages import build_pages

    out = str(tmp_path / "extract_main")
    pages = build_pages(spark, SF).limit(30).cache()
    summary = run_extract(
        spark, pages, out, n_buckets=4, resume=True, mode="main"
    )
    assert summary["docs"] == 30 and summary["matches"] == 0
    got = {
        r["url"]: r["extracted"]
        for r in spark.read.parquet(out + "/parsed").collect()
    }
    for row in pages.collect():
        html = bytes(row["html"]).decode("utf-8")
        assert got[row["url"]] == main_content(html)
    pages.unpersist()


def test_run_extract_markdown_mode(spark, tmp_path):
    """mode='markdown' ships the structure-keeping renderer through the
    bucketed resumable job; per-row output must equal to_markdown on
    the same html, and golden matches stay 0."""
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.markdown import to_markdown
    from htmlparser2_spark.engine.parser import Parser
    from htmlparser2_spark.plans.extract_job import run_extract
    from htmlparser2_spark.sources.pages import build_pages

    out = str(tmp_path / "extract_md")
    pages = build_pages(spark, SF).limit(30).cache()
    summary = run_extract(
        spark, pages, out, n_buckets=4, resume=True, mode="markdown"
    )
    assert summary["docs"] == 30 and summary["matches"] == 0
    got = {
        r["url"]: r["extracted"]
        for r in spark.read.parquet(out + "/parsed").collect()
    }
    handler = DomArrayHandler(with_indices=False)
    parser = Parser(handler)
    for row in pages.collect():
        parser.parse(bytes(row["html"]).decode("utf-8"))
        expected = to_markdown(handler.nodes)
        assert got[row["url"]] == expected
        assert expected.startswith(("# Doc", "- Doc", "| Doc"))
    pages.unpersist()


def test_run_extract_sniff_charset(spark, tmp_path):
    """sniff_charset=True decodes mixed-encoding crawls: a latin-1 page
    declaring <meta charset=iso-8859-1>, a UTF-16LE BOM'd page, and a
    plain UTF-8 page all extract correctly through the bucketed job;
    resuming with a different sniff setting is refused."""
    import pytest as _pytest

    from htmlparser2_spark.plans.extract_job import run_extract

    latin = "<meta charset=iso-8859-1><body><p>café crème</p></body>"
    utf16 = "<body><p>naïve résumé</p></body>"
    plain = "<body><p>plain utf-8 ✓</p></body>"
    rows = [
        ("u-latin", bytearray(latin.encode("latin1")), "café crème", "fr"),
        (
            "u-16",
            bytearray(b"\xff\xfe" + utf16.encode("utf-16le")),
            "naïve résumé",
            "fr",
        ),
        ("u-plain", bytearray(plain.encode()), "plain utf-8 ✓", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    )
    out = str(tmp_path / "extract_sniff")
    summary = run_extract(
        spark, pages, out, n_buckets=2, resume=True, sniff_charset=True
    )
    # golden matches prove the decode end-to-end (text column carries
    # the expected extraction per page)
    assert summary["docs"] == 3 and summary["matches"] == 3
    with _pytest.raises(ValueError, match="sniff_charset"):
        run_extract(spark, pages, out, n_buckets=2, resume=True)


def test_run_extract_resume_idempotent_after_crash(spark, tmp_path):
    """Crash-before-manifest simulation: bucket data landed on disk but
    the manifest was never written. A resume must re-parse the todo
    buckets with dynamic partition *overwrite* (not append), so the
    doubled run yields exactly the single-run rows — zero duplicate urls."""
    import os

    from htmlparser2_spark.plans.extract_job import run_extract
    from htmlparser2_spark.sources.pages import build_pages

    out = str(tmp_path / "extract")
    pages = build_pages(spark, SF)
    run_extract(spark, pages, out, n_buckets=8, resume=True)
    # Simulate dying after the data write but before the manifest write.
    os.remove(os.path.join(out, "manifest.json"))

    summary = run_extract(spark, pages, out, n_buckets=8, resume=True)
    assert summary["buckets_skipped"] == []  # manifest was gone: full redo
    assert summary["docs"] == 500  # overwrite, not append: no duplicates

    parsed = spark.read.parquet(os.path.join(out, "parsed"))
    dup = parsed.groupBy("url").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_run_extract_partial_manifest_resume(spark, tmp_path):
    """Mid-run resume: with only half the buckets recorded complete, a
    resume re-parses exactly the missing buckets (overwriting any
    partial leftovers) and totals remain exact with zero duplicates."""
    import json
    import os

    from htmlparser2_spark.plans.extract_job import run_extract
    from htmlparser2_spark.sources.pages import build_pages

    out = str(tmp_path / "extract")
    pages = build_pages(spark, SF)
    run_extract(spark, pages, out, n_buckets=8, resume=True)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump({"completed_buckets": [0, 1, 2, 3]}, fh)

    summary = run_extract(spark, pages, out, n_buckets=8, resume=True)
    assert summary["buckets_skipped"] == [0, 1, 2, 3]
    assert summary["docs"] == 500
    parsed = spark.read.parquet(os.path.join(out, "parsed"))
    assert parsed.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    with open(os.path.join(out, "manifest.json")) as fh:
        assert fh.read().find("[0, 1, 2, 3, 4, 5, 6, 7]") != -1


def test_partition_metrics(spark):
    from htmlparser2_spark.plans.extract_job import parse_pages, partition_metrics
    from htmlparser2_spark.sources.pages import build_pages

    parsed = parse_pages(build_pages(spark, SF), n_partitions=8)
    metrics = partition_metrics(parsed).collect()
    assert sum(m["docs"] for m in metrics) == 500
    assert all(m["wall_ms"] >= 0 and m["events"] > 0 for m in metrics)
    assert sum(m["golden_matches"] for m in metrics) == 500


# ---------------------------- textstats ----------------------------

def test_textstats_columns(spark):
    from htmlparser2_spark.functions import textstats as T

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat of the mat in a box"),
            (2, "der hund und die katze nicht hier und der ball"),
            (3, "xyz qqq zzz"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.langid_guess("text").alias("lang"),
            T.n_tokens("text").alias("nt"),
            T.stopword_ratio("text").alias("sw"),
            T.fingerprint("text").alias("fp"),
        ).collect()
    }
    assert rows[1]["lang"] == "en" and rows[2]["lang"] == "de"
    assert rows[3]["lang"] == "und"
    assert rows[1]["nt"] == 12
    assert rows[1]["sw"] > 0.3
    assert len(rows[1]["fp"]) == 32


def test_sentences(spark):
    from htmlparser2_spark.functions import textstats as T

    df = spark.createDataFrame(
        [
            (1, "One. Two!  Three?! Four"),  # multi-ws, runs, no-dot tail
            (2, "no terminator at all"),
            (3, "Trailing. "),
            (4, None),
            (5, "Dr. Strange: no abbreviation logic, by design."),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", T.sentences("text").alias("s")).collect()
    }
    assert got[1] == ["One.", "Two!", "Three?!", "Four"]
    assert got[2] == ["no terminator at all"]
    assert got[3] == ["Trailing."]
    assert got[4] == []
    assert got[5] == ["Dr.", "Strange: no abbreviation logic, by design."]
    # Vertical tab: Java \s matches it, RE2 (the DuckDB oracle) does
    # not — the pinned explicit class makes both engines split on it.
    vt = spark.createDataFrame([("One.\x0bTwo",)], "text string")
    assert vt.select(T.sentences("text").alias("s")).collect()[0]["s"] == [
        "One.",
        "Two",
    ]
    import duckdb

    frag = T.SENTENCES_SQL.format(col="'One.' || chr(11) || 'Two'")
    assert duckdb.sql(f"SELECT {frag} AS s").fetchone()[0] == ["One.", "Two"]


def test_bpe_ish_tokens(spark):
    from htmlparser2_spark.functions import textstats as T

    df = spark.createDataFrame([("hello, world42!",)], "text string")
    toks = df.select(T.bpe_ish_tokens("text").alias("t")).collect()[0]["t"]
    assert toks == ["hello", ",", "world", "4", "2", "!"]


# ---------------------------- multimodal ----------------------------

def test_image_features_plumbing(spark):
    from htmlparser2_spark.functions.multimodal import (
        attach_media_metadata,
        image_features,
    )

    media = spark.range(10).select(
        F.col("id").alias("media_id"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
    )
    with_md = attach_media_metadata(media)
    assert with_md.filter(F.col("byte_len") > 0).count() == 10
    feats = image_features(with_md).collect()
    assert all(1 <= r["width"] <= 4096 and len(r["embedding"]) == 16 for r in feats)
    # Determinism: same payload -> same features.
    again = image_features(with_md).collect()
    assert sorted(r["embedding"][0] for r in feats) == sorted(
        r["embedding"][0] for r in again
    )


def test_image_audio_features_real_bytes(spark):
    """Real encoded payloads (PNG/GIF/JPEG/WAV built byte-by-byte) must
    decode to their true dimensions through the Arrow batch path, not
    stub values."""
    from tests.test_codecs import make_jpeg, make_png, make_wav

    import struct

    from htmlparser2_spark.functions.multimodal import audio_features, image_features

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    media = spark.createDataFrame(
        [(1, make_png(12, 34)), (2, gif), (3, make_jpeg(360, 240))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in image_features(media).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (12, 34, 4)
    assert (rows[2]["width"], rows[2]["height"], rows[2]["channels"]) == (320, 200, 3)
    assert (rows[3]["width"], rows[3]["height"], rows[3]["channels"]) == (360, 240, 3)

    wavs = spark.createDataFrame(
        [(1, make_wav(44100, 999))], "media_id long, payload binary"
    )
    row = audio_features(wavs).collect()[0]
    assert (row["sample_rate"], row["n_samples"]) == (44100, 999)


# ---------------------------- pdf plumbing ----------------------------


def test_pdf_real_text_through_spark(spark):
    """An uncompressed PDF with genuine text operators extracts its real
    text (reading order preserved) through the mapInPandas path."""
    from htmlparser2_spark.functions.pdf import pdf_spans, pdf_text

    content = b"BT 72 700 Td (First line) Tj 0 -14 TD (Second line) Tj ET"
    payload = (
        b"%PDF-1.4\n1 0 obj\n<< >>\nstream\n" + content + b"\nendstream\nendobj"
    )
    pdfs = spark.createDataFrame([(7, payload)], "doc_id long, payload binary")
    text = pdf_text(pdf_spans(pdfs)).collect()[0]["text"]
    assert text == "First line\nSecond line"

def test_pdf_spans_and_text(spark):
    from htmlparser2_spark.functions.pdf import pdf_spans, pdf_text

    pdfs = spark.createDataFrame(
        [
            (1, b"%PDF-1.4 fake content one"),
            (2, b"%PDF-1.4 other fake content"),
            (3, b"not a pdf at all"),
        ],
        "doc_id long, payload binary",
    )
    spans = pdf_spans(pdfs)
    rows = spans.collect()
    assert all(r["kind"] == "text" and r["x0"] == 72.0 for r in rows)
    assert {r["doc_id"] for r in rows} == {1, 2}  # invalid payload skipped
    text = {r["doc_id"]: r["text"] for r in pdf_text(spans).collect()}
    assert text[1].startswith("p0s0:")
    assert "\n" in text[1]
    # Determinism across runs.
    again = {r["doc_id"]: r["text"] for r in pdf_text(pdf_spans(pdfs)).collect()}
    assert text == again


def test_main_content_udf_shape(spark):
    from htmlparser2_spark.functions.udfs import main_content_udf

    main_udf = main_content_udf()

    page = (
        b'<body><div id=n><a href=/>Home</a><a href=/a>About</a></div>'
        b"<div id=c><p>the long main article body with plenty of words here</p></div></body>"
    )
    df = spark.createDataFrame([(page,)], "html binary")
    out = df.select(main_udf(F.col("html")).alias("t")).collect()[0]["t"]
    assert "main article body" in out and "Home" not in out


# ---------------------------- skew salting ----------------------------

def test_salted_agg_matches_plain_groupby(spark):
    from htmlparser2_spark.operators.skew import salted_agg, salted_count
    from htmlparser2_spark.sources.pages import build_pages

    pages = build_pages(spark, SF)
    host = F.regexp_extract("url", r"https://([^.]+)\.", 1)
    hosts = pages.select(host.alias("host"), F.length("html").alias("hb"))
    plain = {
        r["host"]: (r["n"], r["b"])
        for r in hosts.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("hb").alias("b"))
        .collect()
    }
    salted = {
        r["host"]: (r["n"], r["b"])
        for r in salted_agg(
            hosts, "host", {"n": ("count", None), "b": ("sum", "hb")}, n_salts=8
        ).collect()
    }
    assert salted == plain
    counts = {r["host"]: r["n"] for r in salted_count(hosts, "host").collect()}
    assert counts["host0"] > 150  # the designed hot key survives salting


def test_parse_pages_null_payloads(spark):
    from htmlparser2_spark.plans.extract_job import parse_pages

    df = spark.createDataFrame(
        [
            ("u1", b"<p>ok</p>", "ok", "en"),
            ("u2", None, None, "en"),  # fetch failure: null payload
        ],
        "url string, html binary, text string, lang string",
    )
    rows = {r["url"]: r for r in parse_pages(df, repartition=False).collect()}
    assert rows["u1"]["extracted"] == "ok" and rows["u1"]["golden_match"] == 1
    assert rows["u2"]["extracted"] == "" and rows["u2"]["html_bytes"] == 0
    assert rows["u2"]["golden_match"] == 0


def test_ivf_topk_recall_vs_brute_force(spark):
    from htmlparser2_spark.operators.similarity import (
        brute_force_topk,
        ivf_fit_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, c, k=3).collect()
    }
    centroids = ivf_fit_centroids(c, n_centroids=4, iters=2)
    assert len(centroids) == 4 and all(len(ctr) == 64 for ctr in centroids)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, c, k=3, n_probe=2, centroids=centroids).collect()
    }
    # Probing 2/4 cells must recover most exact neighbors (labels make
    # the synthetic embeddings genuinely clustered).
    assert len(approx & exact) >= len(exact) // 2
    # Determinism: refit + requery reproduces exactly.
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, c, k=3, n_centroids=4, n_probe=2, iters=2).collect()
    }
    assert approx == again


def test_audio_features_plumbing(spark):
    from htmlparser2_spark.functions.multimodal import audio_features

    media = spark.range(8).select(
        F.col("id").alias("media_id"),
        F.when(
            F.col("id") < 7,
            F.sha2(F.col("id").cast("string"), 256).cast("binary"),
        ).alias("payload"),  # id=7: NULL payload -> decode failure path
    )
    rows = {r["media_id"]: r for r in audio_features(media).collect()}
    assert len(rows) == 8
    ok = [rows[i] for i in range(7)]
    assert all(r["sample_rate"] in (8000, 16000, 22050, 44100, 48000) for r in ok)
    assert all(abs(r["duration_s"] - r["n_samples"] / r["sample_rate"]) < 1e-4 for r in ok)
    assert all(len(r["embedding"]) == 16 for r in ok)
    failed = rows[7]
    assert failed["sample_rate"] is None and failed["embedding"] is None


def test_domquery_traversal_helpers(spark):
    from htmlparser2_spark.operators.domquery import (
        children_of,
        element_siblings,
        exists_one,
        find_one,
        get_attribute_value,
        siblings_of,
        explode_nodes,
    )

    pages = spark.createDataFrame(
        [
            (
                "u1",
                b'<div id="main"><h1>T</h1><p class="a">one</p>'
                b'<p>two</p><span>x</span></div>',
            ),
            ("u2", b"<ul><li>a</li><li>b</li></ul>"),
        ],
        "url string, html binary",
    )
    nodes = explode_nodes(pages).cache()

    first_p = {r["url"]: r for r in find_one(nodes, lambda n: n["name"] == "p").collect()}
    assert set(first_p) == {"u1"} and first_p["u1"]["attrs"]["class"] == "a"

    ex = {r["url"]: r["exists"] for r in exists_one(nodes, lambda n: n["name"] == "li").collect()}
    assert ex == {"u1": False, "u2": True}

    kids = children_of(nodes, lambda n: n["attrs"]["id"] == "main")
    assert [r["name"] for r in kids.orderBy("idx_in_parent").collect()] == [
        "h1", "p", "p", "span",
    ]

    sibs = siblings_of(nodes, lambda n: (n["name"] == "p") & (n["attrs"]["class"] == "a"))
    assert {r["name"] for r in sibs.filter("type = 'tag'").collect()} == {
        "h1", "p", "span",
    }

    es = {
        (r["url"], r["name"], r["idx_in_parent"]): (r["prev_element"], r["next_element"])
        for r in element_siblings(nodes).collect()
    }
    assert es[("u1", "h1", 0)] == (None, "p")
    assert es[("u1", "span", 3)] == ("p", None)
    assert es[("u2", "li", 0)] == (None, "li")

    vals = get_attribute_value(nodes, "class").collect()
    assert [(r["name"], r["value"]) for r in vals] == [("p", "a")]
    nodes.unpersist()


def test_parse_pages_jumbo_isolation(spark):
    """Size-skew routing: oversized documents parse in their own
    partition branch, normal docs are unaffected, results identical."""
    from htmlparser2_spark.plans.extract_job import parse_pages

    rows = [(f"https://h{i}.example/{i}", b"<p>doc %d</p>" % i, f"doc {i}", "en")
            for i in range(20)]
    rows.append(("https://big.example/1",
                 b"<pre>" + b"x" * 200_000 + b"</pre>", "x" * 200_000, "en"))
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    )
    parsed = parse_pages(df, n_partitions=4, jumbo_bytes=100_000)
    out = {r["url"]: r for r in parsed.collect()}
    assert len(out) == 21
    assert sum(r["golden_match"] for r in out.values()) == 21
    big = out["https://big.example/1"]
    # the jumbo doc sits alone in its partition (pid not shared)
    jumbo_pid = big["pid"]
    assert all(r["pid"] != jumbo_pid for u, r in out.items()
               if u != "https://big.example/1")


def test_duplicate_clusters_components(spark):
    """Label propagation finds exact connected components: a chain, a
    triangle, and a 2-cycle; singletons (no pairs) are absent."""
    from htmlparser2_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain: component min=1
         (10, 11), (11, 12), (10, 12),  # triangle: min=10
         (20, 21)],                      # pair: min=20
        "id_a long, id_b long",
    )
    rows = {r["id"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert rows == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20}
    # Deterministic across re-evaluation.
    again = {r["id"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert rows == again


def test_url_functions_edge_cases(spark):
    from htmlparser2_spark.functions.urls import canonicalize_url, url_host

    cases = [
        ("https://user:pw@Host.EX:8443/a?x=1#f", "https://host.ex:8443/a?x=1"),
        ("http://h.example:80/", "http://h.example/"),
        ("HTTP://H.example", "http://h.example/"),
        ("https://h.example/p?c=3&b=2&a=1", "https://h.example/p?a=1&b=2&c=3"),
        ("ftp://Files.Example:21/pub", "ftp://files.example:21/pub"),
        ("https://h.example/#only-frag", "https://h.example/"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r[0] for r in df.select(canonicalize_url("u")).collect()]
    assert got == [want for _, want in cases]
    hosts = [r[0] for r in df.select(url_host("u")).collect()]
    assert hosts[0] == "host.ex" and hosts[4] == "files.example"


def test_url_fragment_and_ipv6_edge_cases(spark):
    from htmlparser2_spark.functions.urls import canonicalize_url, url_host

    cases = [
        # '?' inside the fragment must NOT resurrect as a query string
        ("https://h.example/p#sec?x=1", "https://h.example/p"),
        ("https://h.example/p?a=1#sec?x=9", "https://h.example/p?a=1"),
        # IPv6 literals keep their brackets; ports still strip/keep
        ("https://[2001:db8::1]:8443/a", "https://[2001:db8::1]:8443/a"),
        ("https://[2001:DB8::1]:443/a", "https://[2001:db8::1]/a"),
        ("http://[::1]/x", "http://[::1]/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r[0] for r in df.select(canonicalize_url("u")).collect()]
    assert got == [want for _, want in cases]
    hosts = [r[0] for r in df.select(url_host("u")).collect()]
    assert hosts[2] == "[2001:db8::1]" and hosts[4] == "[::1]"


def test_domutils_helper_completions(spark):
    """findOneChild / hasAttrib / getElements / uniqueSort /
    removeSubsets over the relational nodes table."""
    from htmlparser2_spark.operators.domquery import (
        explode_nodes,
        find_one_child,
        get_elements,
        has_attrib,
        remove_subsets,
        unique_sort,
    )

    pages = spark.createDataFrame(
        [
            ("u1", '<html><body><ul id="u"><li class="a">one'
                   '<li class="b">two</ul><p data-x="">p1</p>'
                   "<p>p2</p></body></html>"),
            ("u2", "<div><span>s</span></div>"),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True).cache()

    # findOneChild: first matching DIRECT child per parent.
    first_li = find_one_child(nodes, lambda n: F.col("name") == "li").collect()
    assert len(first_li) == 1 and first_li[0]["attrs"]["class"] == "a"

    # hasAttrib: key presence, empty-string value still counts.
    ha = {
        (r["url"], r["name"], r["node_id"]): r["has_attrib"]
        for r in has_attrib(nodes, "data-x").collect()
    }
    p_flags = sorted(v for (u, n, _), v in ha.items() if n == "p")
    assert p_flags == [False, True]
    assert all(not v for (u, n, _), v in ha.items() if n != "p")

    # getElements: legacy options object (tag_name + attribute value).
    li_b = get_elements({"tag_name": "li", "class": "b"}, nodes).collect()
    assert len(li_b) == 1 and li_b[0]["attrs"]["class"] == "b"
    # callable matcher + tag_type
    txt = get_elements(
        {"tag_type": "text", "tag_contains": lambda c: c.startswith("p")},
        nodes,
    ).collect()
    assert sorted(r["data"] for r in txt) == ["p1", "p2"]

    # uniqueSort: dedupe + document order.
    lis = nodes.filter(F.col("name") == "li")
    us = unique_sort(lis.unionByName(lis)).collect()
    assert [r["attrs"]["class"] for r in us] == ["a", "b"]
    assert us[0]["node_id"] < us[1]["node_id"]

    # removeSubsets: rows with an ancestor in the set are dropped.
    subset = nodes.filter(F.col("name").isin("ul", "li", "p", "div", "span"))
    kept = remove_subsets(subset).collect()
    got = sorted((r["url"], r["name"]) for r in kept)
    assert got == [("u1", "p"), ("u1", "p"), ("u1", "ul"), ("u2", "div")]


def test_compare_document_position(spark):
    from htmlparser2_spark.operators.domquery import (
        DocumentPosition as DP,
        compare_document_position,
        explode_nodes,
    )

    pages = spark.createDataFrame(
        [
            ("u1", "<body><ul><li>one</li></ul><p>x</p></body>"),
            ("u2", "<i>other</i>"),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True).cache()
    ul = nodes.filter(F.col("name") == "ul")
    li = nodes.filter(F.col("name") == "li")
    p = nodes.filter(F.col("name") == "p")
    i = nodes.filter(F.col("name") == "i")

    def mask(a, b):
        rows = compare_document_position(a, b).collect()
        return [r["position"] for r in rows]

    assert mask(ul, li) == [DP.PRECEDING | DP.CONTAINS]
    assert mask(li, ul) == [DP.FOLLOWING | DP.CONTAINED_BY]
    assert mask(ul, p) == [DP.PRECEDING]
    assert mask(p, li) == [DP.FOLLOWING]
    assert mask(ul, ul) == [0]
    # cross-document pairs never join (relational DISCONNECTED)
    assert mask(ul, i) == []


def test_resolve_url_differential_vs_urljoin(spark):
    """resolve_url must agree with urllib.parse.urljoin (modulo the
    documented fragment drop) across the href branch space."""
    from urllib.parse import urldefrag, urljoin

    from htmlparser2_spark.functions.urls import resolve_url

    bases = [
        "https://host.example/a/b/page.html?q=1#frag",
        "https://host.example/a/b/",
        "https://host.example",
        "http://h2.example/one",
    ]
    hrefs = [
        "",
        "#section",
        "?x=2",
        "?x=2#f",
        "/rooted/path",
        "/rooted/../up",
        "//other.example/p/q",
        "//other.example/p/../q",
        "https://abs.example/x",
        "mailto:someone@example.com",
        # same-scheme references WITHOUT authority: urljoin strips the
        # scheme and resolves relatively (review finding — these were
        # passed through verbatim as non-fetchable "https:x")
        "https:same-scheme.html",
        "HTTPS:case-fold.html",
        "https:/rooted-samescheme",
        "https:?q=3",
        "https:",
        "https:a/../b",
        "http:other-scheme.html",  # differs from the https bases
        "rel.html",
        "rel.html?k=v",
        "./same-dir",
        "../up-one",
        "../../up-two",
        "../../../../beyond-root",
        "a/b/../c",
        "dir/",
        ".",
        "..",
        "  spaced.html  ",
    ]
    cases = [(b, h) for b in bases for h in hrefs]
    df = spark.createDataFrame(cases, "base string, href string")
    got = [
        r["out"]
        for r in df.select(
            resolve_url("base", "href").alias("out")
        ).collect()
    ]
    for (b, h), out in zip(cases, got):
        want = urldefrag(urljoin(b, h.strip()))[0]
        assert out == want, f"urljoin({b!r}, {h!r}) = {want!r}, got {out!r}"


def test_duplicate_clusters_raises_when_not_converged(spark):
    from htmlparser2_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iter=3)
    # With enough rounds the same chain converges to one component.
    rows = {r["id"]: r["cluster_id"]
            for r in duplicate_clusters(chain, max_iter=31).collect()}
    assert set(rows.values()) == {0}


def test_repetition_stats(spark):
    from htmlparser2_spark.operators.quality import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "x y x y x y unique tail"),      # 'x y' dominates
            (2, "all words differ here fine"),    # no repeated bigram
            (3, "l1\nl2\nl2\nl2"),               # 2 duplicate lines of 4
            (4, "solo"),                          # no bigrams at all
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # doc1: top bigram 'x y' occurs 3x, 3 chars each, len(text)=23
    assert rows[1]["top_bigram_frac"] == round(9 / 23, 4)
    assert rows[1]["dup_line_frac"] == 0.0
    # doc2: every bigram unique -> coverage = 1 occurrence of some bigram
    assert rows[2]["dup_line_frac"] == 0.0
    assert 0 < rows[2]["top_bigram_frac"] < 0.5
    # doc3: 4 lines, 2 distinct -> 0.5
    assert rows[3]["dup_line_frac"] == 0.5
    # doc4: no bigrams -> 0.0
    assert rows[4]["top_bigram_frac"] == 0.0


def test_gopher_filter_rules(spark):
    from htmlparser2_spark.operators.quality import gopher_filter

    prose = (
        "the deal be great to see of and that have with us all year "
        + "sample words here again " * 15
    )
    df = spark.createDataFrame(
        [
            (1, prose),                                     # keep
            (2, "the of tiny"),                             # too_few_words
            (3, "the be to of and that have with " + "### " * 60),
            (4, "word " * 60),                              # too_few_stopwords
            (5, prose.replace("words", "w" * 600)),         # long words
            # Each line carries enough words that the '...' markers stay
            # under the 0.1 symbol ratio; the line-level ellipsis rule
            # is what fires.
            (6, "more of the filling words come and go just fine zz...\n" * 10),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert rows[1]["keep"] and rows[1]["reject_reason"] is None
    assert rows[2]["reject_reason"] == "too_few_words"
    assert rows[3]["reject_reason"] == "symbol_heavy"
    assert rows[4]["reject_reason"] == "too_few_stopwords"
    assert rows[5]["reject_reason"] == "word_length_out_of_range"
    assert rows[6]["reject_reason"] == "ellipsis_heavy"
    assert all(not rows[i]["keep"] for i in range(2, 7))


def test_c4_line_filter_rules(spark):
    from htmlparser2_spark.operators.quality import c4_line_filter

    good = "This complete sentence carries five words."
    df = spark.createDataFrame(
        [
            # Every line rule, one per line; trailing spaces before the
            # terminal mark must not defeat the punctuation check.
            (1, "\n".join([
                good,
                "Another proper sentence ends with a question?  ",
                'He said the quoted words matter most."',
                "Too short.",                       # < 5 words
                "five full words but no terminal mark",
                "Please enable JavaScript to view this page.",
            ])),
            (2, good + "\nOnly two good lines survive here!\n" + good),
            (3, "Lorem ipsum appears in this proper sentence.\n"
                + good + "\n" + good),
            (4, good + "\nif (x) { return; }\n" + good + "\n" + good),
            (5, ""),                                 # empty text
            (6, None),                               # NULL text
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in c4_line_filter(df).collect()}
    assert rows[1]["n_lines_kept"] == 3 and rows[1]["keep_page"]
    assert rows[1]["clean_text"].count("\n") == 2
    assert "JavaScript" not in rows[1]["clean_text"]
    # 3 kept lines required by default: doc 2 has 3 (page keeps).
    assert rows[2]["n_lines_kept"] == 3 and rows[2]["keep_page"]
    # lorem ipsum / '{' kill the page even when enough lines survive.
    assert rows[3]["n_lines_kept"] == 3 and not rows[3]["keep_page"]
    assert rows[4]["n_lines_kept"] == 3 and not rows[4]["keep_page"]
    assert rows[5]["n_lines_kept"] == 0 and not rows[5]["keep_page"]
    assert rows[5]["clean_text"] == ""
    # NULL text gets a real decision (keep_page False, not NULL) so a
    # keep/reject funnel never loses the row.
    assert rows[6]["keep_page"] is False and rows[6]["n_lines_kept"] == 0
    assert rows[6]["clean_text"] == ""
    # min_words / min_lines knobs.
    loose = {
        r["id"]: r
        for r in c4_line_filter(df, min_words=2, min_lines=2).collect()
    }
    assert loose[1]["n_lines_kept"] == 4  # "Too short." now passes
    assert loose[2]["keep_page"]


def test_blocklist_admission(spark):
    from htmlparser2_spark.operators.blocklist import (
        blocklist_admission,
        domain_suffixes,
    )
    from pyspark.sql import functions as F

    sfx = (
        spark.range(1)
        .select(domain_suffixes(F.lit("a.b.example.com")).alias("s"))
        .collect()[0]["s"]
    )
    assert sfx == ["a.b.example.com", "b.example.com", "example.com", "com"]
    # Past the 127-label DNS ceiling the longest suffixes are truncated
    # to their first 127 labels (documented in domain_suffixes).
    deep = ".".join(f"l{i}" for i in range(130))
    long_sfx = (
        spark.range(1)
        .select(domain_suffixes(F.lit(deep)).alias("s"))
        .collect()[0]["s"]
    )
    assert len(long_sfx) == 130
    assert long_sfx[0] == ".".join(f"l{i}" for i in range(127))
    assert long_sfx[3] == ".".join(f"l{i}" for i in range(3, 130))

    pages = spark.createDataFrame(
        [
            ("https://ok.site/page",),
            ("https://bad.example/x",),            # exact domain entry
            ("https://deep.cdn.bad.example/y",),   # subdomain of entry
            ("https://ok.site/p?utm_tracker=1",),  # keyword
            ("https://bad.example/t?tracker=1",),  # both -> domain wins
            ("https://bad.example./z",),           # trailing-dot FQDN
        ],
        "url string",
    )
    blocked = spark.createDataFrame([("bad.example",)], "dom string")
    rows = {
        r["url"]: r
        for r in blocklist_admission(
            pages, blocked, keywords=["tracker"]
        ).collect()
    }
    assert rows["https://ok.site/page"]["admitted"]
    assert rows["https://bad.example/x"]["blocked_reason"] == "domain"
    assert (
        rows["https://deep.cdn.bad.example/y"]["blocked_reason"] == "domain"
    )
    assert rows["https://ok.site/p?utm_tracker=1"]["blocked_reason"] == "keyword"
    assert rows["https://bad.example/t?tracker=1"]["blocked_reason"] == "domain"
    # A trailing-dot FQDN is the same host to DNS/browsers — it must
    # not walk past the blocklist via dot-suffixed chain labels.
    assert rows["https://bad.example./z"]["blocked_reason"] == "domain"

    # Empty blocklist + no keywords admits everything; row count is
    # preserved (the blocked-set join must never fan out).
    none = blocklist_admission(
        pages, spark.createDataFrame([], "dom string")
    )
    assert none.count() == 6 and none.filter("admitted").count() == 6


def test_redact_pii(spark):
    from htmlparser2_spark.functions.redact import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+spam@example.co.uk today"),
            (2, "call +44 20 7946 0958 or 555-123-4567 now"),
            (3, "server at 192.168.0.1 responded"),
            (4, "version 1.2.3.4.5 and id 20240101 stay intact"),
            (5, "range 10-20 and date 2024-01 stay intact"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["s"] for r in
            df.select("doc_id", redact_pii("text").alias("s")).collect()}
    assert rows[1] == "mail me at [EMAIL] today"
    assert rows[2] == "call [PHONE] or [PHONE] now"
    assert rows[3] == "server at [IP] responded"
    # Conservative patterns: versions/ids/dates survive untouched.
    assert rows[4] == "version 1.2.3.4.5 and id 20240101 stay intact"
    assert rows[5] == "range 10-20 and date 2024-01 stay intact"


# ---------------------------- sampling ----------------------------

def test_hash_sample_deterministic_and_stable(spark):
    """Membership is a pure function of the key: same rows across
    repeated runs and across repartitionings, fraction approximately
    honored."""
    from htmlparser2_spark.operators.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in hash_sample(df, 0.3).collect()}
    b = {r["doc_id"] for r in hash_sample(df.repartition(7), 0.3).collect()}
    assert a == b
    assert 0.2 < len(a) / 2000 < 0.4
    # Growing the corpus never flips earlier decisions.
    grown = {r["doc_id"] for r in
             hash_sample(spark.range(0, 4000).withColumnRenamed("id", "doc_id"), 0.3).collect()}
    assert a == {x for x in grown if x < 2000}


def test_stratified_sample_fractions_and_default_drop(spark):
    from htmlparser2_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, ["en", "de", "yo"][i % 3]) for i in range(3000)],
        "doc_id long, lang string",
    )
    out = stratified_sample(df, {"en": 1.0, "de": 0.5}, strata_col="lang")
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts["en"] == 1000            # fraction 1.0 keeps all
    assert 350 < counts["de"] < 650        # ~0.5
    assert "yo" not in counts              # unlisted stratum dropped


def test_quota_sample_exact_counts(spark):
    from htmlparser2_spark.operators.sampling import quota_sample

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(910)],
        "doc_id long, lang string",
    )
    out = quota_sample(df, 50, strata_col="lang")
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts == {"big": 50, "small": 10}  # min(n, stratum size)
    # Deterministic: a second run picks the identical ids.
    again = quota_sample(df, 50, strata_col="lang")
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in again.collect()
    }


def test_temperature_sample_upsamples_rare_strata(spark):
    """alpha=0 is the uniform target: the rare stratum's rate exceeds
    1 and its rows appear with copy > 1 (expected copies ~ rate); the
    dominant stratum downsamples. Budget roughly honored overall."""
    from htmlparser2_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame(
        [(i, "en" if i < 900 else "xx") for i in range(940)],
        "doc_id long, lang string",
    )
    out = temperature_sample(df, alpha=0.0, target_frac=1.0).select(
        "doc_id", "lang", "copy"
    )
    rows = out.collect()
    by_lang: dict[str, int] = {}
    for r in rows:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    # Uniform target: ~470 expected per stratum.
    assert 380 < by_lang["en"] < 560
    assert 380 < by_lang["xx"] < 560
    # rate_xx = 940*0.5/40 = 11.75 -> every xx doc has >= 11 copies.
    xx_copies = [r["copy"] for r in rows if r["lang"] == "xx"]
    assert max(xx_copies) in (11, 12)
    # copy indices are 1..n_copies per doc (a dense sequence).
    per_doc: dict[int, list[int]] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["copy"])
    for _id, cs in per_doc.items():
        assert sorted(cs) == list(range(1, len(cs) + 1))
    # Deterministic across runs.
    again = temperature_sample(df, alpha=0.0, target_frac=1.0)
    assert sorted(map(tuple, rows)) == sorted(
        (r["doc_id"], r["lang"], r["copy"])
        for r in again.select("doc_id", "lang", "copy").collect()
    )


def test_temperature_sample_alpha1_is_plain_fraction_decorrelated(spark):
    """alpha=1 is the natural distribution: every stratum's rate is
    exactly target_frac, so ~target_frac of rows survive with no
    copy > 1 — but membership must NOT equal hash_sample's at the
    same fraction: the copy Bernoulli deliberately hashes
    (key, 'copy') so composing the two samplers never correlates
    (same-hash reuse skewed post-hash_sample upsampling; review
    finding, regression-pinned here)."""
    from htmlparser2_spark.operators.sampling import (
        hash_sample,
        temperature_sample,
    )

    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2]) for i in range(1000)],
        "doc_id long, lang string",
    )
    ts = temperature_sample(df, alpha=1.0, target_frac=0.4)
    got = {(r["doc_id"], r["copy"]) for r in ts.collect()}
    assert all(c == 1 for _, c in got)
    assert 300 < len(got) < 500  # ~0.4 of 1000
    plain = {r["doc_id"] for r in hash_sample(df, 0.4).collect()}
    kept = {i for i, _ in got}
    # Independent draws: overlap ~ 0.16 of rows, far from identity.
    assert kept != plain
    assert len(kept & plain) < 0.3 * 1000


def test_temperature_sample_null_stratum_and_validation(spark):
    from htmlparser2_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame(
        [(0, "en"), (1, None), (2, None), (3, "en")],
        "doc_id long, lang string",
    )
    # NULL is a stratum (null-safe join), never silently dropped:
    # alpha=0/frac=1 gives rate 1.0 for both strata -> all 4 rows.
    out = temperature_sample(df, alpha=0.0, target_frac=1.0).collect()
    assert sorted(r["doc_id"] for r in out) == [0, 1, 2, 3]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_sample(df, alpha=-0.1, target_frac=1.0)
    with _pytest.raises(ValueError):
        temperature_sample(df, alpha=1.0, target_frac=0.0)


def test_token_budget_shards_invariants(spark):
    """Start-offset packing invariants: a shard never exceeds
    budget + one max-size doc (the straddler), every non-final shard's
    cumulative token total crosses its budget boundary, shard ids are
    contiguous from 0 (doc sizes < budget here), and assignment is
    deterministic."""
    import pyspark.sql.functions as SF
    from htmlparser2_spark.operators.sampling import token_budget_shards

    df = spark.createDataFrame(
        [(i, 10 + (i * 37) % 90) for i in range(2000)],
        "doc_id long, n_tokens int",
    )
    out = token_budget_shards(
        df, tokens_col="n_tokens", shard_tokens=1000, n_groups=4
    )
    per_shard = (
        out.groupBy("grp", "shard")
        .agg(SF.sum("n_tokens").alias("total"))
        .collect()
    )
    by_group: dict[int, dict[int, int]] = {}
    for r in per_shard:
        by_group.setdefault(r["grp"], {})[r["shard"]] = r["total"]
    max_doc = 99
    for g, shards in by_group.items():
        mx = max(shards)
        assert sorted(shards) == list(range(mx + 1))  # contiguous from 0
        cum = 0
        for k in range(mx + 1):
            assert shards[k] <= 1000 + max_doc
            cum += shards[k]
            if k < mx:
                # the shard's last doc crosses the (k+1)*budget line
                assert cum >= (k + 1) * 1000
    again = token_budget_shards(
        df, tokens_col="n_tokens", shard_tokens=1000, n_groups=4
    )
    assert {(r["doc_id"], r["grp"], r["shard"]) for r in out.collect()} == {
        (r["doc_id"], r["grp"], r["shard"]) for r in again.collect()
    }


# ---------------------------- contamination ----------------------------

def test_contamination_hits_and_decontaminate(spark):
    from htmlparser2_spark.operators.contamination import (
        contamination_hits,
        decontaminate,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, "clean words nothing shared with any benchmark at all here"),
            (2, "prefix stuff " + leak + " suffix stuff"),  # contains the 8-grams
            (3, leak),                                       # verbatim leak
            (4, "alpha beta gamma delta only four shared words not eight"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, leak)], "bench_id long, text string")
    hits = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in contamination_hits(docs, bench, n=8).collect()
    }
    assert set(hits) == {(2, 100), (3, 100)}
    assert hits[(3, 100)] == 3  # 10 tokens -> 3 distinct 8-grams
    kept = {r["doc_id"] for r in decontaminate(docs, bench, n=8).collect()}
    assert kept == {1, 4}  # short overlap (< 8-gram) survives


def test_bloom_decontaminate_superset_and_fp_behavior(spark):
    """The Bloom screen must never miss an exact hit (one-sided error)
    at ANY filter size; a saturated tiny filter produces false
    positives but still only over-drops. Both hash engines agree on
    the well-sized filter."""
    from pyspark.sql import functions as SF
    from htmlparser2_spark.operators.contamination import (
        bloom_build,
        bloom_contamination_hits,
        contamination_hits,
        decontaminate_bloom,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bench = docs.filter(SF.col("doc_id") % 50 == 0).selectExpr(
        "doc_id div 50 AS bench_id", "text"
    )
    exact = {
        r["doc_id"]
        for r in contamination_hits(docs, bench, n=8)
        .select("doc_id").distinct().collect()
    }
    assert exact  # benchmark docs flag at least themselves

    for m_bits, k in ((1 << 18, 4), (16384, 3), (4096, 3)):
        flagged = {
            r["doc_id"]
            for r in bloom_contamination_hits(
                docs, bench, m_bits=m_bits, k=k, hash_fn="portable"
            ).filter("contaminated").collect()
        }
        assert exact <= flagged  # no false negatives, ever
    # the saturated 4096-bit filter must actually show false positives
    # (otherwise the FP branch is untested)
    small = bloom_contamination_hits(
        docs, bench, m_bits=4096, k=3, hash_fn="portable"
    ).filter("contaminated").count()
    assert small > len(exact)

    # well-sized filter: xxhash64 and portable agree doc-for-doc here
    # (different bit patterns, same decisions at ~0 FP rate)
    xx = {
        r["doc_id"]
        for r in bloom_contamination_hits(docs, bench)
        .filter("contaminated").collect()
    }
    assert xx == exact

    kept = decontaminate_bloom(docs, bench)
    assert set(kept.columns) == {"doc_id", "text"}  # bloom col dropped
    assert kept.count() == docs.count() - len(exact)


def test_bloom_build_empty_benchmark_all_zero(spark):
    """An empty benchmark yields a full-width all-zero filter (the
    densify step), and nothing is ever flagged against it."""
    from htmlparser2_spark.operators.contamination import (
        bloom_build,
        bloom_contamination_hits,
    )

    empty = spark.createDataFrame([], "bench_id long, text string")
    row = bloom_build(empty, m_bits=4096).collect()[0]
    assert len(row["bloom"]) == 64 and not any(row["bloom"])
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20)))], "doc_id long, text string"
    )
    out = bloom_contamination_hits(docs, bloom=bloom_build(empty), n=8).collect()
    assert out[0]["n_shingles"] == 13 and out[0]["n_flagged"] == 0


def test_run_curation_funnel_monotone_and_consistent(spark):
    """Stage counts decrease monotonically, the final corpus count
    equals the last funnel row, and stages compose in order."""
    import pyspark.sql.functions as SF
    from htmlparser2_spark.operators.sampling import portable_hash
    from htmlparser2_spark.plans.curate_job import run_curation

    docs = spark.read.parquet(f"{SF}/documents.parquet" if False else
                              "/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    bench = docs.filter(SF.col("doc_id") % 50 == 0).selectExpr(
        "doc_id div 50 AS bench_id", "text"
    )
    corpus, funnel = run_curation(
        docs,
        bench=bench,
        quality_pred=SF.size(SF.split("text", " ")) >= 40,
        fractions={"en": 0.5, "de": 1.0, "es": 0.25},
        hash_expr=portable_hash(SF.col("doc_id")),
    )
    rows = sorted(funnel.collect(), key=lambda r: r["stage_idx"])
    names = [r["stage"] for r in rows]
    counts = [r["n_docs"] for r in rows]
    assert names == ["ingest", "quality", "dedup", "decontaminated", "sampled"]
    assert all(a >= b for a, b in zip(counts, counts[1:]))  # monotone funnel
    assert counts[0] > counts[-1] > 0
    assert corpus.count() == counts[-1]


def test_run_curation_bloom_decontam_mode(spark):
    """contam_mode="bloom" with a well-sized filter reproduces the
    exact funnel on this corpus (FP ~ 0 at 2^18 bits); a saturated
    filter only over-drops (never under-drops)."""
    import pyspark.sql.functions as SF
    from htmlparser2_spark.plans.curate_job import run_curation

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    bench = docs.filter(SF.col("doc_id") % 50 == 0).selectExpr(
        "doc_id div 50 AS bench_id", "text"
    )
    pred = SF.size(SF.split("text", " ")) >= 40

    def decon_count(**kw):
        _, funnel = run_curation(docs, bench=bench, quality_pred=pred, **kw)
        return {r["stage"]: r["n_docs"] for r in funnel.collect()}[
            "decontaminated"
        ]

    exact = decon_count(contam_mode="exact")
    bloom = decon_count(contam_mode="bloom")
    assert bloom == exact
    saturated = decon_count(contam_mode="bloom", contam_m_bits=4096,
                            contam_k=3)
    assert saturated <= exact


def test_run_curation_default_gopher_gate(spark):
    """With no quality_pred the Gopher rules gate stage 1."""
    from htmlparser2_spark.plans.curate_job import run_curation

    docs = spark.createDataFrame(
        [
            (1, " ".join(["the quick brown fox and some words here ok"] * 10), "en"),
            (2, "short", "en"),  # too_few_words -> dropped at quality
        ],
        "doc_id long, text string, lang string",
    )
    corpus, funnel = run_curation(docs)
    counts = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert counts["ingest"] == 2 and counts["quality"] == 1
    assert {r["doc_id"] for r in corpus.collect()} == {1}


def test_run_curation_c4_gate(spark):
    """quality_pred=c4_page_pred() swaps the Gopher rules for the C4
    line/page gate at stage 1 — the jobs/run_curate.py --quality c4
    wiring."""
    from htmlparser2_spark.operators.quality import c4_page_pred
    from htmlparser2_spark.plans.curate_job import run_curation

    good = "\n".join(
        [f"This full sentence number {i} stands alone and complete."
         for i in range(3)]
    )
    docs = spark.createDataFrame(
        [
            (1, good, "en"),
            (2, good + "\nif (x) { bad }", "en"),   # '{' kills the page
            (3, "no terminal marks here at all", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    corpus, funnel = run_curation(docs, quality_pred=c4_page_pred())
    counts = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert counts["ingest"] == 3 and counts["quality"] == 1
    assert {r["doc_id"] for r in corpus.collect()} == {1}


def test_elements_inside_descendant_axis(spark):
    """li inside ul counts at any depth; a stray li outside any ul
    does not; matches are per matching ancestor."""
    from htmlparser2_spark.operators.domquery import (
        elements_inside,
        explode_nodes,
    )

    pages = spark.createDataFrame(
        [
            ("u1", "<div><ul><li>a</li><div><li>deep</li></div></ul></div>"),
            ("u2", "<li>stray</li><table><tr><td>x</td></tr></table>"),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)
    li = elements_inside(nodes, "ul", "li")
    per_url = {r["url"]: r["n"] for r in
               li.groupBy("url").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_url == {"u1": 2}  # both li (one nested deeper), no stray
    td = elements_inside(nodes, "table", "td")
    assert {r["url"] for r in td.collect()} == {"u2"}


def test_run_dedup_remaps_exact_rep_dropped_as_near_dup(spark):
    """If an exact group's representative itself drops as a near_dup,
    exact_dup rows must point at the final retained representative."""
    from htmlparser2_spark.plans.dedup_job import run_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),                    # near-dup cluster representative
        (5, "prefix words " + base),  # near dup of 1 AND exact rep of 6
        (6, "prefix words " + base),  # exact copy of 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: (r["status"], r["dup_of"]) for r in
           run_dedup(df, threshold=0.5).collect()}
    assert out[1] == ("kept", 1)
    assert out[5] == ("near_dup", 1)
    assert out[6] == ("exact_dup", 1)  # remapped through 5's cluster


def test_run_dedup_null_text_joins_empty_group(spark):
    """NULL-text rows dedup against each other and empty docs instead
    of silently surviving as distinct kept rows."""
    from htmlparser2_spark.plans.dedup_job import run_dedup

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, None),
         (4, "real content words here about nothing shared elsewhere ok")],
        "doc_id long, text string",
    )
    out = {r["id"]: (r["status"], r["dup_of"]) for r in
           run_dedup(df).collect()}
    assert out[1] == ("kept", 1)          # min id of the empty group
    assert out[2] == ("exact_dup", 1)
    assert out[3] == ("exact_dup", 1)
    assert out[4] == ("kept", 4)


# ---------------------------- WARC ingest ----------------------------

def test_warc_record_udf_parses_and_rejects(spark):
    from htmlparser2_spark.sources.warc import warc_record_udf

    body = b"<html><body>hi</body></html>"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
            b"\r\n\r\n" + body)
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://x.example/a\r\n"
           b"WARC-Date: 2024-01-01T00:00:07Z\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
           + http + b"\r\n\r\n")  # trailing record separator
    rows = spark.createDataFrame(
        [(1, rec), (2, b"not a warc record"), (3, None),
         (4, b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 3\r\n\r\nabc")],
        "i long, rec binary",
    )
    out = {r["i"]: r["w"] for r in rows.select(
        "i", warc_record_udf()(F.col("rec")).alias("w")).collect()}
    good = out[1]
    assert good["warc_type"] == "response"
    assert good["target_uri"] == "https://x.example/a"
    assert good["warc_date"] == "2024-01-01T00:00:07Z"
    assert good["http_status"] == 200
    assert good["http_content_type"] == "text/html; charset=utf-8"
    assert bytes(good["payload"]) == body  # separator trimmed by length
    assert out[2]["warc_type"] is None and out[2]["payload"] is None
    assert out[3]["warc_type"] is None
    assert out[4]["warc_type"] == "warcinfo"
    assert bytes(out[4]["payload"]) == b"abc"


def test_warc_file_split_and_gzip_members(spark):
    """A concatenated (and a gzipped) WARC file splits into records by
    Content-Length framing; gzip members parse transparently."""
    import gzip
    from htmlparser2_spark.sources.warc import (
        warc_file_records_udf,
        warc_record_udf,
    )

    def rec(uri, body):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + uri + b"\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
                + http)
    f = rec(b"https://a.example/", b"<p>WARC/1.0 inside payload</p>") + b"\r\n\r\n" \
        + rec(b"https://b.example/", b"<p>two</p>") + b"\r\n\r\n"
    df = spark.createDataFrame(
        [(1, f), (2, gzip.compress(f)), (3, b"garbage")], "i long, data binary"
    )
    recs = df.select(
        "i", F.explode(warc_file_records_udf()(F.col("data"))).alias("rec")
    )
    parsed = recs.select("i", warc_record_udf()(F.col("rec")).alias("w"))
    uris = sorted((r["i"], r["w"]["target_uri"]) for r in parsed.collect())
    assert uris == [(1, "https://a.example/"), (1, "https://b.example/"),
                    (2, "https://a.example/"), (2, "https://b.example/")]
    # gzipped single record parses directly too
    single = spark.createDataFrame(
        [(gzip.compress(rec(b"https://c.example/", b"x")),)], "rec binary"
    )
    got = single.select(warc_record_udf()(F.col("rec")).alias("w")).collect()[0]["w"]
    assert got["target_uri"] == "https://c.example/"


def test_warc_negative_content_length_rejected(spark):
    """Corrupt negative framing must not hang the splitter or yield a
    truncated payload — both paths treat it as unparseable."""
    from htmlparser2_spark.sources.warc import (
        _split_warc_file,
        warc_record_udf,
    )

    bad = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
           b"Content-Length: -54\r\n\r\nABCDEFGH")
    assert _split_warc_file(bad) == []
    df = spark.createDataFrame([(bad,)], "rec binary")
    row = df.select(warc_record_udf()(F.col("rec")).alias("w")).collect()[0]["w"]
    assert row["warc_type"] is None and row["payload"] is None


def test_get_elements_by_tag_name_limit_per_document(spark):
    from htmlparser2_spark.operators.domquery import (
        explode_nodes,
        get_elements_by_tag_name,
    )

    pages = spark.createDataFrame(
        [("u1", "<p>a</p><p>b</p>"), ("u2", "<p>c</p>")],
        "url string, html string",
    )
    nodes = explode_nodes(pages)
    one_each = get_elements_by_tag_name(nodes, "p", limit=1)
    assert sorted((r["url"]) for r in one_each.collect()) == ["u1", "u2"]
    assert get_elements_by_tag_name(nodes, "p", limit=0).count() == 0
    assert get_elements_by_tag_name(nodes, "p").count() == 3


# ---------------------------- CSS selectors ----------------------------

def test_css_select_compounds_and_combinators(spark):
    import pytest as _pytest
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = spark.createDataFrame(
        [
            ("u1", '<div id="main" class="wrap outer">'
                   '<ul><li class="item">a</li><li>b</li></ul>'
                   '<p><span data-x="1">deep</span></p></div>'
                   '<span>shallow</span>'),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def names(sel):
        return sorted(
            (r["name"], r["node_id"]) for r in css_select(nodes, sel).collect()
        )

    assert len(names("li")) == 2
    assert len(names("ul > li")) == 2
    assert len(names("#main li.item")) == 1
    assert len(names("div.wrap span")) == 1          # deep only
    assert len(names("div > span")) == 0             # span is not a direct child
    assert len(names("[data-x=1]")) == 1
    assert len(names("*")) == 7                      # all elements
    assert len(names(".outer .item")) == 1
    for bad in ("p:hover", ">p", "p >", "p,, q", "+ p", "p ~",
                "p:nth-child(2n+x)", "li:not()"):
        with _pytest.raises(ValueError):
            css_select(nodes, bad).collect()


def test_css_select_pseudo_classes(spark):
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    # ul children: 4 li (with text children between ranks irrelevant);
    # div children: h1, p, p, span; body children: ul, div, p.
    pages = spark.createDataFrame(
        [
            ("u1",
             "<ul><li>1</li>x<li>2</li><li>3</li><li>4</li></ul>"
             '<div><h1>t</h1><p class="intro">a</p><p>b</p>'
             "<span>s</span></div><p>solo</p>"),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def got(sel):
        return sorted(
            (r["name"], r["node_id"])
            for r in css_select(nodes, sel).collect()
        )

    assert len(got("li:first-child")) == 1
    assert len(got("li:last-child")) == 1
    assert len(got("li:nth-child(2)")) == 1          # text child skipped
    assert len(got("li:nth-child(odd)")) == 2        # ranks 1,3
    assert len(got("li:nth-child(2n)")) == 2         # ranks 2,4
    assert len(got("li:nth-child(n+3)")) == 2        # ranks 3,4
    assert len(got("li:nth-child(-n+2)")) == 2       # ranks 1,2
    assert len(got("li:nth-last-child(1)")) == 1     # rank 4
    assert len(got("p:first-of-type")) == 2          # div's first p + root's p
    assert len(got("div p:first-of-type")) == 1
    assert len(got("p:only-of-type")) == 1           # body's solo p
    assert len(got("span:only-child")) == 0
    assert len(got("p:not(.intro)")) == 2
    assert len(got("div :not(p)")) == 2              # h1 + span
    assert len(got("ul > li:nth-child(2)")) == 1
    assert len(got("li:first-child + li")) == 1      # pseudo then sibling
    # :scope with no context = the root (css-select's fallback): the
    # three top-level elements here, and as a combinator anchor.
    assert len(got(":scope")) == 3                   # ul, div, p
    assert got(":scope") == got(":root")
    assert len(got(":scope > li")) == 4              # ul is a root
    assert len(got("div:scope")) == 1
    assert len(got(":scope p")) == 2                 # div's two p's;
    # the solo top-level p IS a root, not a descendant of one


def test_css_select_not_over_missing_attrs(spark):
    """:not() wrapping #id / attribute-value tests must MATCH elements
    lacking the attribute — SQL three-valued logic made ~NULL stay
    NULL, silently excluding them (review finding; attribute predicates
    are now built NULL-free)."""
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = spark.createDataFrame(
        [("u1", '<div id="x">a</div><div>b</div><div data-k="v">c</div>'
                '<div data-k="v-sub">d</div>')],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def n(sel):
        return css_select(nodes, sel).count()

    assert n("div:not(#x)") == 3
    assert n("div:not([data-k=v])") == 3
    assert n("div:not([data-k^=v])") == 2
    assert n("div:not([data-k$=sub])") == 3
    assert n("div:not([data-k*=-])") == 3
    assert n("div:not([data-k|=v])") == 2
    assert n("div:not([data-k])") == 2
    # positive direction unchanged: missing attr never matches
    assert n("div[data-k=v]") == 1 and n("div#x") == 1


def test_css_select_attr_case_flag(spark):
    """CSS4 [attr=v i] case-insensitive value flag; default and an
    explicit 's' stay case-sensitive; works across operators and under
    :not (still NULL-free for missing attrs)."""
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = spark.createDataFrame(
        [("u1", '<a data-v="Hello">1</a><a data-v="HELLO">2</a>'
                '<a data-v="other">3</a><a>4</a>')],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def n(sel):
        return css_select(nodes, sel).count()

    assert n("a[data-v=hello]") == 0          # sensitive default
    assert n('a[data-v="hello" i]') == 2
    assert n("a[data-v=hello i]") == 2        # unquoted + flag
    assert n('a[data-v="Hello" s]') == 1      # explicit sensitive
    assert n("a[data-v^=HE i]") == 2
    assert n("a[data-v$=LLO i]") == 2
    assert n("a[data-v*=ell i]") == 2
    assert n("a:not([data-v=hello i])") == 2  # 'other' + no-attr


def test_css_select_empty_and_root(spark):
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = spark.createDataFrame(
        [
            ("u1", "<div><span></span><p><!-- c --></p><b> </b>"
                   "<i>x</i></div>"),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def names(sel):
        return sorted(r["name"] for r in css_select(nodes, sel).collect())

    # span has no children; p has only a comment (comments do not
    # affect emptiness); b has a whitespace text child (non-zero-length
    # text DOES count as content); i has text.
    assert names(":empty") == ["p", "span"]
    assert names(":root") == ["div"]
    assert names("div > :not(:empty)") == ["b", "i"]


def test_css_select_sibling_combinators(spark):
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    # text and comment nodes between elements must NOT break sibling
    # adjacency (CSS sibling relations are between *element* siblings).
    pages = spark.createDataFrame(
        [
            ("u1", "<div><h1>t</h1>stray<!-- c --><p>a</p><p>b</p>"
                   "<span>s</span></div><p>outside</p>"),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def names(sel):
        return sorted(r["name"] for r in css_select(nodes, sel).collect())

    assert names("h1 + p") == ["p"]          # comment+text skipped
    assert names("h1 ~ p") == ["p", "p"]     # both following p's, not outside
    assert names("p + p") == ["p"]           # second p only
    assert names("p ~ span") == ["span"]
    assert names("span ~ p") == []           # ~ looks forward only
    assert names("h1 + span") == []          # p sits between
    assert names("div + p") == ["p"]         # top-level siblings
    # chain after a sibling step: 'h1 ~ p + span'
    assert names("h1 ~ p + span") == ["span"]


def test_css_select_attr_operators_and_groups(spark):
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = spark.createDataFrame(
        [
            ("u1", '<a href="https://x.example/a">s</a>'
                   '<a href="http://y.example/b.png">t</a>'
                   '<img src="pic.png"><img src="pic.jpg">'
                   '<div class="outer wrap">d</div>'),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def n(sel):
        return css_select(nodes, sel).count()

    assert n("[href^=https]") == 1
    assert n("[src$=.png]") == 1
    assert n("[class*=ou]") == 1
    assert n("[class~=wrap]") == 1       # token-list contains
    assert n("[class~=ou]") == 0         # substring is not a token
    assert n("a, img") == 4
    assert n("a[href^=http], [src]") == 4  # union dedups per element


def test_css_select_attr_dashmatch(spark):
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = spark.createDataFrame(
        [
            ("u1", '<p lang="en">a</p><p lang="en-US">b</p>'
                   '<p lang="enx">c</p><p>d</p>'),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)
    assert css_select(nodes, "[lang|=en]").count() == 2  # en, en-US
    assert css_select(nodes, "[lang~=en-US]").count() == 1


def test_css_select_contains_is_has(spark):
    import pytest as _pytest
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = spark.createDataFrame(
        [
            (
                "u1",
                '<div id="a"><p>Hello <b>World</b></p></div>'
                '<div id="b"><p>line one<br>line two</p></div>'
                '<div id="c"><span>hello world</span>'
                "<script>var Hello = 1;</script></div>"
                '<ul><li><a href="/x">link</a></li><li>plain</li></ul>',
            ),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)

    def ids(sel):
        return sorted(
            r["attrs"].get("id", r["name"])
            for r in css_select(nodes, sel).collect()
        )

    # :contains is case-sensitive subtree text (getText semantics):
    # div#a via <p><b>, div#c via its <script> text (getText includes
    # script text), but NOT the lowercase 'hello world' span.
    assert ids("div:contains(Hello)") == ["a", "c"]
    assert ids("div:icontains(HELLO)") == ["a", "c"]
    # quoted argument + text crossing an element boundary: getText of
    # div#a is 'Hello World' (b's text concatenated in document order).
    assert ids('div:contains("Hello World")') == ["a"]
    # <br> renders as newline in getText, so 'one\nline' matches b.
    assert ids("p:contains(one\nline)") == ["p"]
    # :is unions compounds (and composes with other tests).
    assert ids(":is(#a, #b)") == ["a", "b"]
    assert ids("div:is(#a, #c):contains(Hello)") == ["a", "c"]
    # :has descendant and child modes.
    assert ids("li:has(a)") == ["li"]
    assert ids("div:has(b)") == ["a"]
    assert ids("div:has(> span)") == ["c"]
    assert ids("div:has(> b)") == []  # b is under p, not a direct child
    assert ids("div:has(b, span)") == ["a", "c"]  # comma = union
    # :not composes with the new column pseudos.
    assert ids("div:not(:contains(Hello))") == ["b"]
    for bad in (
        "div:has(p:has(b))",
        "div:not(:has(b))",
        ":is(p:has(b))",
        "p:contains",
        ":has()",
    ):
        with _pytest.raises(ValueError):
            css_select(nodes, bad).collect()


def test_frequent_line_removal(spark):
    from htmlparser2_spark.operators.dedup import frequent_line_removal

    docs = spark.createDataFrame(
        [
            (1, "unique line one\nshared footer\nmore unique"),
            (2, "different body\nshared footer"),
            (3, "shared footer"),
            (4, "only unique content here"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r["clean_text"] for r in
           frequent_line_removal(docs, min_docs=2).collect()}
    assert out[1] == "unique line one\nmore unique"
    assert out[2] == "different body"
    assert out[3] == ""          # every line was frequent
    assert out[4] == "only unique content here"
    assert len(out) == 4


def test_frequent_paragraph_removal(spark):
    """unit='paragraph' removes only whole repeated blocks: a shared
    LINE inside an otherwise-unique paragraph survives, CRLF blank
    lines split, a tab-only paragraph is structure (never counted
    frequent — the explicit-class guard, not Spark's spaces-only
    trim), reassembly is a canonical single blank line."""
    from htmlparser2_spark.operators.dedup import frequent_line_removal

    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (1, "unique one\nshared footer\n\nshared para"),
            (2, "unique two\r\n\r\nshared para\n\n\t\n\nunique tail"),
            (3, "shared para"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r["clean_text"] for r in
           frequent_line_removal(
               docs, min_docs=2, unit="paragraph").collect()}
    # Doc 1's first paragraph contains 'shared footer' as a line but
    # is unique as a UNIT -> kept whole; 'shared para' (2 docs) drops.
    assert out[1] == "unique one\nshared footer"
    # CRLF split; the tab-only paragraph is kept as structure.
    assert out[2] == "unique two\n\n\t\n\nunique tail"
    assert out[3] == ""
    with _pytest.raises(ValueError, match="unit"):
        frequent_line_removal(docs, unit="sentence")
    # min_docs < 2 would blank the whole corpus (df >= 1 always).
    with _pytest.raises(ValueError, match="min_docs"):
        frequent_line_removal(docs, min_docs=1)


def test_warc_framing_fuzz_roundtrip(spark):
    """200 records with adversarial binary payloads (embedded
    CRLFCRLF, 'WARC/' magic, gzip magic, NULs) must split and parse
    back byte-identically — framing is length-based, never content
    scanning."""
    import random
    from htmlparser2_spark.sources.warc import (
        _split_warc_file,
        warc_record_udf,
    )

    rng = random.Random(7)
    evil = [b"\r\n\r\n", b"WARC/1.0\r\n", b"\x1f\x8b", b"\x00", b"HTTP/1.1 "]
    bodies = []
    for i in range(200):
        parts = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 40)))]
        for _ in range(rng.randrange(0, 4)):
            parts.append(rng.choice(evil))
            parts.append(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 20))))
        bodies.append(b"".join(parts))

    def rec(i, body):
        http = b"HTTP/1.1 200 OK\r\nContent-Type: x\r\n\r\n" + body
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: https://f.example/" + str(i).encode() + b"\r\n"
                b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http)

    f = b"\r\n\r\n".join(rec(i, b) for i, b in enumerate(bodies)) + b"\r\n\r\n"
    recs = _split_warc_file(f)
    assert len(recs) == 200
    df = spark.createDataFrame([(r,) for r in recs], "rec binary")
    parsed = df.select(warc_record_udf()(F.col("rec")).alias("w")).collect()
    got = {int(r["w"]["target_uri"].rsplit("/", 1)[1]): bytes(r["w"]["payload"])
           for r in parsed}
    assert got == {i: b for i, b in enumerate(bodies)}


def test_run_curation_optional_line_dedup_stage(spark):
    from pyspark.sql import functions as SF
    from htmlparser2_spark.plans.curate_job import run_curation

    docs = spark.createDataFrame(
        [
            (1, "unique body one\nshared footer line", "en"),
            (2, "unique body two\nshared footer line", "en"),
            (3, "another distinct body here\nshared footer line", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    corpus, funnel = run_curation(
        docs, quality_pred=SF.lit(True), line_dedup_min_docs=2
    )
    names = [r["stage"] for r in sorted(funnel.collect(),
                                        key=lambda r: r["stage_idx"])]
    assert names == ["ingest", "quality", "line_dedup", "dedup"]
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    assert len(texts) == 3
    assert all("footer" not in t for t in texts.values())


def test_frequent_line_removal_preserves_blank_lines(spark):
    from htmlparser2_spark.operators.dedup import frequent_line_removal

    docs = spark.createDataFrame(
        [(1, "para one\n\npara two\nshared"), (2, "intro\n\nbody\nshared")],
        "doc_id long, text string",
    )
    out = {r["id"]: r["clean_text"] for r in
           frequent_line_removal(docs, min_docs=2).collect()}
    assert out[1] == "para one\n\npara two"  # break kept, footer gone
    assert out[2] == "intro\n\nbody"


def test_css_select_rejects_unsupported_attr_ops(spark):
    import pytest as _pytest
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    nodes = explode_nodes(
        spark.createDataFrame([("u1", "<a rel='noopener x'>t</a>")],
                              "url string, html string"),
        with_ancestors=True,
    )
    for bad in ("a[rel?=y]", "a[rel%=y]", "*p"):
        with _pytest.raises(ValueError):
            css_select(nodes, bad).collect()
    # ~=, |= and != are supported since round 3.
    assert css_select(nodes, "a[rel~=noopener]").count() == 1
    assert css_select(nodes, "a[rel|=x]").count() == 0
    assert css_select(nodes, "a[rel!=y]").count() == 1


def test_css_select_attr_inequality(spark):
    """css-select's jQuery-style [attr!=v] (attributes.ts "not"
    action): missing attribute MATCHES a non-empty value; [attr!=""]
    requires an existing non-empty value; composes with the i-flag
    and inverts cleanly (NULL-free) under :not()."""
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    nodes = explode_nodes(
        spark.createDataFrame(
            [("u1",
              "<div id=a rel='X'></div><div id=b rel='y'></div>"
              "<div id=c></div><div id=d rel=''></div>")],
            "url string, html string",
        ),
        with_ancestors=True,
    )

    def ids(sel):
        return sorted(
            r["node_id"]
            for r in css_select(nodes, sel).select("node_id").collect()
        )

    def names(sel):
        rows = css_select(nodes, sel).collect()
        attrs = {r["attrs"]["id"] for r in rows}
        return sorted(a for a in attrs if a)

    # Non-empty value: everything except the exact match, INCLUDING
    # the attribute-less element (c) and the empty-valued one (d).
    assert names("div[rel!=y]") == ["a", "c", "d"]
    # Case-sensitive by default; the CSS4 i-flag folds both sides.
    assert names("div[rel!=x]") == ["a", "b", "c", "d"]
    assert names("div[rel!=x i]") == ["b", "c", "d"]
    # Empty value: existing, non-empty attribute required.
    assert names('div[rel!=""]') == ["a", "b"]
    # :not() inversion stays NULL-free: complement within div set.
    assert names("div:not([rel!=y])") == ["b"]


def test_minhash_lsh_rejects_non_divisible_bands(spark, dup_docs):
    import pytest as _pytest
    from htmlparser2_spark.operators.dedup import minhash_lsh_pairs

    with _pytest.raises(ValueError):
        minhash_lsh_pairs(dup_docs, n_perm=32, bands=5)
    with _pytest.raises(ValueError):
        minhash_lsh_pairs(dup_docs, n_perm=32, bands=33)


# ---------------------------- product quantization ----------------------------

def test_pq_lossless_roundtrip_matches_exact_ranking(spark):
    """Codebooks containing every corpus sub-vector make PQ exact:
    ADC top-k equals brute-force euclidean top-k."""
    import math
    import random
    from htmlparser2_spark.operators.similarity import pq_encode, pq_topk

    rng = random.Random(3)
    dim, m = 16, 4
    sub = dim // m
    corpus = [(100 + i, [rng.uniform(-1, 1) for _ in range(dim)])
              for i in range(20)]
    queries = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(3)]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
    codebooks = [
        [v[s * sub:(s + 1) * sub] for _, v in corpus] for s in range(m)
    ]
    out = pq_topk(qdf, pq_encode(cdf, codebooks), codebooks, k=4).collect()
    got = {(r["query_id"], r["rank"]): (r["corpus_id"], r["dist"])
           for r in out}
    for qid, qv in queries:
        exact = sorted(
            (math.dist(qv, cv), cid) for cid, cv in corpus
        )[:4]
        for rank, (d, cid) in enumerate(exact, 1):
            gcid, gdist = got[(qid, rank)]
            assert gcid == cid
            assert abs(gdist - round(d, 4)) < 1e-9


def test_pq_trained_cluster_retrieval(spark):
    """Trained (compressed) codebooks: PQ's guarantee is cluster-level
    retrieval — every top-5 neighbor must come from the query's own
    cluster. (Intra-cluster fine ranking is below the quantization
    resolution by design; the lossless test covers exact ranking.)"""
    import random
    from htmlparser2_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = random.Random(11)
    dim, m = 16, 4
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(5)]
    corpus = []
    for i in range(200):
        c = centers[i % 5]
        corpus.append((100 + i, [x + rng.gauss(0, 0.05) for x in c]))
    queries = [(i, [x + rng.gauss(0, 0.05) for x in centers[i]])
               for i in range(3)]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
    codebooks = pq_train(cdf, m=m, k=8, iters=2, dim=dim)
    out = pq_topk(qdf, pq_encode(cdf, codebooks), codebooks, k=5).collect()
    assert len(out) == 15
    for r in out:
        assert (r["corpus_id"] - 100) % 5 == r["query_id"]


def test_ivfpq_lossless_full_probe_matches_exact_ranking(spark):
    """Full probing with lossless residual codebooks must reproduce
    the exact euclidean ranking (l2(q-cent, v-cent) == l2(q, v))."""
    import math
    import random
    from htmlparser2_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
    )

    rng = random.Random(5)
    dim, m, n_cells = 16, 4, 3
    sub = dim // m
    coarse = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_cells)]
    corpus = [(100 + i, [rng.uniform(-1, 1) for _ in range(dim)])
              for i in range(30)]
    queries = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(3)]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<double>")

    # lossless codebooks: every possible residual sub-vector (per cell)
    def residual(v, c):
        return [x - y for x, y in zip(v, c)]
    residuals = [residual(v, c) for _, v in corpus for c in coarse]
    codebooks = [
        [r[s * sub:(s + 1) * sub] for r in residuals] for s in range(m)
    ]
    coded = ivfpq_encode(cdf, coarse, codebooks)
    out = ivfpq_topk(qdf, coded, coarse, codebooks, n_probe=n_cells, k=4)
    got = {(r["query_id"], r["rank"]): r["corpus_id"] for r in out.collect()}
    for qid, qv in queries:
        exact = sorted((math.dist(qv, cv), cid) for cid, cv in corpus)[:4]
        for rank, (_, cid) in enumerate(exact, 1):
            assert got[(qid, rank)] == cid


def test_ivfpq_probe_pruning(spark):
    """n_probe=1 scores only the query's own cell: every returned
    neighbor shares the query's nearest coarse cell, and the scored
    candidate set is smaller than the corpus."""
    import random
    from htmlparser2_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
    )

    rng = random.Random(9)
    dim, m = 16, 4
    sub = dim // m
    coarse = [[4.0 * (c == j) for j in range(dim)] for c in range(4)]
    corpus = []
    for i in range(80):
        c = coarse[i % 4]
        corpus.append((100 + i, [x + rng.gauss(0, 0.1) for x in c]))
    queries = [(i, [x + rng.gauss(0, 0.1) for x in coarse[i]])
               for i in range(2)]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
    residuals = [[x - y for x, y in zip(v, coarse[(cid - 100) % 4])]
                 for cid, v in corpus]
    codebooks = [
        [r[s * sub:(s + 1) * sub] for r in residuals] for s in range(m)
    ]
    coded = ivfpq_encode(cdf, coarse, codebooks)
    out = ivfpq_topk(qdf, coded, coarse, codebooks, n_probe=1, k=5).collect()
    assert len(out) == 10
    for r in out:
        assert (r["corpus_id"] - 100) % 4 == r["query_id"]  # own cell only


def test_pq_encode_numpy_engine_matches_expression_engine(spark):
    """Above the expression-size cap pq_encode switches to the Arrow/
    numpy argmin path; codes must be identical to the JVM path."""
    import random
    from htmlparser2_spark.operators.similarity import pq_encode

    rng = random.Random(21)
    dim, m, k = 16, 4, 6
    sub = dim // m
    codebooks = [
        [[rng.uniform(-1, 1) for _ in range(sub)] for _ in range(k)]
        for _ in range(m)
    ]
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    expr_codes = {r["vec_id"]: list(r["pq_code"]) for r in
                  pq_encode(df, codebooks).collect()}
    np_codes = {r["vec_id"]: list(r["pq_code"]) for r in
                pq_encode(df, codebooks, max_expr_codewords=1).collect()}
    assert expr_codes == np_codes and len(expr_codes) == 50


def test_anchor_texts_nested_and_empty(spark):
    """Anchor text gathers nested formatting in document order; an
    href-less <a> contributes nothing; an empty anchor yields ''."""
    from htmlparser2_spark.operators.domquery import anchor_texts, explode_nodes

    pages = spark.createDataFrame(
        [
            ("u1", '<a href="/x"><b>bold</b> tail</a><a name="anch">skip</a>'),
            ("u2", '<p><a href="/y"></a><a href="/z">plain <i>mix</i>!</a></p>'),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)
    got = {(r["url"], r["href"]): r["anchor_text"]
           for r in anchor_texts(nodes).collect()}
    assert got == {
        ("u1", "/x"): "bold tail",
        ("u2", "/y"): "",
        ("u2", "/z"): "plain mix!",
    }


def test_surt_key(spark):
    from htmlparser2_spark.functions.urls import surt_key

    cases = [
        ("https://www.Example.com/A/b?b=2&a=1", "com,example)/a/b?a=1&b=2"),
        ("http://sub.host.org:8080/", "org,host,sub)/"),
        ("https://example.com", "com,example)/"),
        ("https://user@example.com/p#frag", "com,example)/p"),
        ("https://wwwx.example.com/", "com,example,wwwx)/"),  # not 'www.'
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(surt_key("url")).collect()]
    assert got == [want for _, want in cases]


def test_cdx_index_offsets_and_digest(spark):
    """Offsets are a dense back-to-back layout per file in
    (urlkey, ts14, url) order; digest prefers the payload column."""
    import hashlib

    from pyspark.sql import functions as F

    from htmlparser2_spark.sources.cdx import cdx_index

    rows = [
        (f"https://h{i % 2}.example/doc/{i}", f"2024-01-0{i + 1} 00:00:00",
         f"payload-{i}", f"REC{i:02d}" * (i + 1))
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "url string, ts string, payload string, record string"
    ).select(
        "url", F.to_timestamp("ts").alias("warc_ts"),
        F.encode("payload", "utf-8").alias("payload"),
        F.encode("record", "utf-8").alias("record"),
    )
    out = cdx_index(
        df, payload_col="payload", n_files=2, record_col="record"
    ).collect()
    assert len(out) == 6
    by_file: dict[str, list] = {}
    for r in out:
        by_file.setdefault(r["filename"], []).append(r)
    for fname, rs in by_file.items():
        rs.sort(key=lambda r: (r["urlkey"], r["ts14"], r["url"]))
        pos = 0
        for r in rs:
            assert r["offset"] == pos
            pos += r["length"]
    # digest is sha256 of the PAYLOAD, not the record.
    i0 = next(r for r in out if r["url"].endswith("/0"))
    assert i0["digest"] == hashlib.sha256(b"payload-0").hexdigest()
    assert i0["length"] == len(b"REC00")
    assert i0["ts14"] == "20240101000000"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cdx_index(df, n_files=0)

    # sha1-b32: the classic pywb digest — uppercase unpadded base32 of
    # SHA-1, 32 chars; offsets remain a valid per-file packing.
    import base64

    b32 = cdx_index(
        df,
        payload_col="payload",
        n_files=2,
        record_col="record",
        digest_format="sha1-b32",
    ).collect()
    want0 = base64.b32encode(hashlib.sha1(b"payload-0").digest()).decode()
    got0 = next(r for r in b32 if r["url"].endswith("/0"))
    assert got0["digest"] == want0 and len(want0) == 32
    assert "=" not in want0 and want0 == want0.upper()
    assert {r["length"] for r in b32} == {r["length"] for r in out}
    with _pytest.raises(ValueError, match="digest_format"):
        cdx_index(df, digest_format="md5")


def test_cdx_sha1_b32_digest_of_string_payload(spark):
    """A STRING payload column hashes as its UTF-8 bytes under
    sha1-b32, as sha2 does under the default format."""
    import base64
    import hashlib

    from pyspark.sql import functions as F

    from htmlparser2_spark.sources.cdx import cdx_index

    payload = "caf\u00e9 \u65e5\u672c"
    df = spark.createDataFrame(
        [("https://h.example/a", "2024-01-01 00:00:00", payload, "REC")],
        "url string, ts string, payload string, record string",
    ).withColumn("warc_ts", F.to_timestamp("ts"))
    row = cdx_index(
        df, payload_col="payload", n_files=1, digest_format="sha1-b32"
    ).collect()[0]
    raw = payload.encode("utf-8")
    assert row["digest"] == base64.b32encode(hashlib.sha1(raw).digest()).decode()
    hexrow = cdx_index(df, payload_col="payload", n_files=1).collect()[0]
    assert hexrow["digest"] == hashlib.sha256(raw).hexdigest()


def test_script_profile_functions(spark):
    from pyspark.sql import functions as F

    from htmlparser2_spark.functions.textstats import (
        dominant_script,
        script_count,
    )

    rows = [
        ("hello world",),        # latin
        ("你好 world 世界 中文",),  # cjk wins 6 > 5
        ("Привет! хорошо",),     # cyrillic
        ("مرحبا",),              # arabic
        ("12345 !!!",),          # no scripted chars
        (None,),
        ("καλημέρα देवनागरी 한글 かな",),  # greek 8 > deva 8? tie -> order
    ]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        dominant_script("text").alias("d"),
        script_count("text", "cjk").alias("c"),
        script_count("text", "cyrillic").alias("y"),
    ).collect()
    assert [r["d"] for r in got] == [
        "latin", "cjk", "cyrillic", "arabic", "none", "none", "greek",
    ]
    assert got[1]["c"] == 6
    assert got[2]["y"] == 12  # 'Привет' 6 + 'хорошо' 6


def test_script_profile_astral(spark):
    """Supplementary-plane ranges (cjk_ext B-F, egyptian, cuneiform):
    Java regex and RE2 must both count astral class members per code
    point — the Spark counts and a DuckDB replay of the exact class
    strings the oracle interpolates must agree. Astral chars NOT in
    any range still fold to 'none'."""
    import duckdb

    from htmlparser2_spark.functions.textstats import (
        SCRIPT_RANGES,
        dominant_script,
        script_count,
    )

    rows = [
        ("\U00020021\U00020022\U0002A700 x",),  # 3 ext-B/C ideographs
        ("\U00013000 \U00013001",),             # egyptian
        ("\U00012000\U00012399",),              # cuneiform
        ("\U0001F600 \U0001D11E",),             # emoji+music: no script
        ("你好 \U00020021",),                    # BMP cjk 2 > ext 1
    ]
    df = spark.createDataFrame(rows, "text string")
    astral = ("cjk_ext", "egyptian", "cuneiform")
    got = df.select(
        dominant_script("text").alias("d"),
        *[script_count("text", n).alias(n) for n in astral],
    ).collect()
    assert [r["d"] for r in got] == [
        "cjk_ext", "egyptian", "cuneiform", "none", "cjk",
    ]
    assert [r["cjk_ext"] for r in got] == [3, 0, 0, 0, 1]
    assert got[1]["egyptian"] == 2 and got[2]["cuneiform"] == 2
    con = duckdb.connect()
    for name in astral:
        cls = SCRIPT_RANGES[name]
        for (text,), row in zip(rows, got):
            ddb = con.sql(
                f"SELECT len(regexp_extract_all(?, '[{cls}]'))",
                params=[text],
            ).fetchone()[0]
            assert ddb == row[name], (name, text)


def test_run_curation_temperature_stage(spark):
    """temperature=(alpha, frac) replaces the fixed-fraction sampler:
    the funnel gains a 'rebalanced' stage whose row count equals the
    returned corpus (copies included), the output carries the copy
    column, and composing it with fractions raises."""
    import pytest as _pytest

    import pyspark.sql.functions as SF
    from htmlparser2_spark.operators.sampling import portable_hash
    from htmlparser2_spark.plans.curate_job import run_curation

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    corpus, funnel = run_curation(
        docs,
        quality_pred=SF.size(SF.split("text", " ")) >= 40,
        temperature=(0.3, 0.8),
        hash_expr=portable_hash(SF.col("doc_id")),
    )
    rows = sorted(funnel.collect(), key=lambda r: r["stage_idx"])
    assert [r["stage"] for r in rows] == [
        "ingest", "quality", "dedup", "rebalanced",
    ]
    assert "copy" in corpus.columns
    n = corpus.count()
    assert n == rows[-1]["n_docs"] > 0
    # Budget roughly honored: 0.8 of the dedup survivors.
    assert abs(n - 0.8 * rows[-2]["n_docs"]) < 0.25 * rows[-2]["n_docs"]
    with _pytest.raises(ValueError):
        run_curation(docs, fractions={"en": 1.0}, temperature=(0.3, 0.8))


def test_surt_key_differential_random_urls(spark):
    """surt_key (Catalyst) vs an independent pure-Python reference
    over seeded random urls covering ports, userinfo, fragments,
    queries, www-variants, and empty paths — one Spark batch."""
    import random

    def surt_py(url):
        rest = url.split("://", 1)[1]
        # authority ends at the first of /?# (RFC 3986) — a query or
        # fragment can follow the host with no path at all.
        cut = len(rest)
        for ch in "/?#":
            if ch in rest:
                cut = min(cut, rest.index(ch))
        auth, tail = rest[:cut], rest[cut:]
        host = auth.rsplit("@", 1)[-1].split(":", 1)[0].lower()
        if host.startswith("www."):
            host = host[4:]
        tail = tail.split("#", 1)[0].lower()
        path, _, query = tail.partition("?")
        out = ",".join(reversed(host.split("."))) + ")"
        out += path if path else "/"
        if query:
            out += "?" + "&".join(sorted(query.split("&")))
        return out

    rng = random.Random(77)
    urls = []
    for _ in range(200):
        scheme = rng.choice(["http", "https"])
        user = rng.choice(["", "bob@", "a:b@"])
        host = ".".join(
            rng.choice(["www", "Sub", "example", "HOST", "org", "x9"])
            for _ in range(rng.randint(1, 4))
        )
        port = rng.choice(["", ":80", ":8080"])
        path = rng.choice(["", "/", "/A/b", "/p%20q", "/x/y/z.html"])
        q = rng.choice(["", "?b=2&a=1", "?Z=9", "?k"])
        frag = rng.choice(["", "#Frag", "#a?b=1"])
        urls.append(f"{scheme}://{user}{host}{port}{path}{q}{frag}")

    from htmlparser2_spark.functions.urls import surt_key

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(surt_key("url")).collect()]
    want = [surt_py(u) for u in urls]
    assert got == want


def test_shard_manifest_invariants(spark):
    """Manifest totals reconcile with the packing, the digest is
    row-order independent, and any membership change moves it."""
    from pyspark.sql import functions as F

    from htmlparser2_spark.operators.sampling import (
        shard_manifest,
        token_budget_shards,
    )

    docs = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(300)], "doc_id long, n_tokens long"
    )
    shards = token_budget_shards(
        docs, tokens_col="n_tokens", shard_tokens=200, n_groups=4
    )
    m = {
        (r["grp"], r["shard"]): r
        for r in shard_manifest(shards).collect()
    }
    assert sum(r["n_docs"] for r in m.values()) == 300
    assert sum(r["n_tokens"] for r in m.values()) == sum(
        10 + i % 7 for i in range(300)
    )
    for r in m.values():
        assert r["first_id"] <= r["last_id"]
    # Order independence: shuffled input, identical manifests.
    m2 = {
        (r["grp"], r["shard"]): r
        for r in shard_manifest(
            shards.orderBy(F.desc("doc_id")).repartition(7)
        ).collect()
    }
    assert set(m) == set(m2)
    assert all(m[k]["digest"] == m2[k]["digest"] for k in m)
    # Sensitivity: dropping one doc changes exactly its shard's digest.
    m3 = {
        (r["grp"], r["shard"]): r
        for r in shard_manifest(
            shards.filter(F.col("doc_id") != 0)
        ).collect()
    }
    changed = [k for k in m3 if m3[k]["digest"] != m[k]["digest"]]
    assert len(changed) == 1
