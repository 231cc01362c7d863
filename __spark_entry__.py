"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the flagship end-to-end extraction over sf0.001;
``queries()``/``oracle_sql()`` expose one entry per implemented operator
(SURVEY.md §2) with DuckDB-checkable oracles. The pages input table is
synthesized deterministically from ``documents.parquet`` with SQL shared
between Spark and DuckDB (htmlparser2_spark/sources/pages.py), so the
oracle can reproduce both the input and the expected parse output.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htmlparser2_spark.functions.udfs import (
    doc_stats_udf,
    dom_nodes_udf,
    node_counts_udf,
    extract_text_udf,
)
from htmlparser2_spark.functions.normalize import normalize_sql
from htmlparser2_spark.functions.textstats import (
    ORACLE_TOKENS_SQL,
    SENTENCES_SQL,
)
from htmlparser2_spark.sources.pages import build_pages, oracle_pages_cte

_PAGES_CTE = oracle_pages_cte()
_TOKS = ORACLE_TOKENS_SQL.format(col="text")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full HTML parse + byte-identical text check + per-lang
    rollup over the sf0.001 pages table."""
    pages = build_pages(spark, "/root/testdata/sf0.001")
    extracted = pages.withColumn("extracted", extract_text_udf()(F.col("html")))
    return (
        extracted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("extracted") == F.col("text")).cast("long")).alias("n_match"),
            F.sum(F.length("extracted")).alias("total_chars"),
        )
        .orderBy("lang")
    )


# ----------------------------------------------------------------------
# queries: name -> (spark, sf_dir) -> DataFrame
# ----------------------------------------------------------------------

def _q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = build_pages(spark, sf_dir)
    return pages.select(
        "url", extract_text_udf()(F.col("html")).alias("text_out")
    )


def _q_extract_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = build_pages(spark, sf_dir)
    ext = extract_text_udf()(F.col("html"))
    return pages.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((ext == F.col("text")).cast("long")).alias("n_match"),
    )


def _nodes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = build_pages(spark, sf_dir)
    return pages.select(
        "url", F.explode(dom_nodes_udf()(F.col("html"))).alias("node")
    ).select("url", "node.*")


def _q_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes_df(spark, sf_dir)
    titles = nodes.filter(F.col("name") == "title").select(
        "url", F.col("node_id").alias("title_id")
    )
    texts = nodes.filter(F.col("type") == "text").select(
        "url", "parent_id", F.col("data").alias("title")
    )
    return titles.join(
        texts,
        (titles.url == texts.url) & (titles.title_id == texts.parent_id),
    ).select(titles.url.alias("url"), "title")


def _q_tag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag histogram via node_counts_udf (the full Parser feeding a
    node-name counting handler, no DOM built): per-doc
    (name, cnt) pairs instead of exploded node structs, so shuffle
    volume is bounded by distinct tag names per doc. Tag nodes are
    exactly the non-null names without the parser's '!'/'?' PI
    prefixes (types tag/script/style all arrive as open-tag events)."""
    pages = build_pages(spark, sf_dir)
    counts = pages.select(
        F.explode(node_counts_udf()(F.col("html"))).alias("nc")
    )
    return (
        counts.filter(
            F.col("nc.name").isNotNull()
            & ~F.substring("nc.name", 1, 1).isin("!", "?")
        )
        .groupBy(F.col("nc.name").alias("name"))
        .agg(F.sum("nc.cnt").alias("cnt"))
    )


def _q_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes_df(spark, sf_dir)
    return nodes.filter(F.col("name") == "a").select(
        "url", F.col("attrs")["href"].alias("href")
    )


def _q_p_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes_df(spark, sf_dir)
    return nodes.filter(F.col("name") == "p").select(
        "url", F.col("attrs")["class"].alias("p_class")
    )


def _q_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _nodes_df(spark, sf_dir)
    return nodes.filter(F.col("type") == "comment").select(
        "url", F.col("data").alias("comment_data")
    )


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = build_pages(spark, sf_dir)
    stats = pages.select("url", "text", doc_stats_udf()(F.col("html")).alias("s"))
    return stats.select(
        "url",
        F.col("s.n_tags").alias("n_tags"),
        F.col("s.n_text_chars").alias("text_len"),
    )


def _q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = build_pages(spark, sf_dir)
    ext = extract_text_udf()(F.col("html")).alias("extracted")
    return (
        pages.select("lang", ext)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("extracted")), 4).alias("avg_len"),
        )
    )


def _q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = build_pages(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^.]+)\.", 1)
    return (
        pages.groupBy(host.alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("html")).alias("html_bytes"),
        )
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Deterministic duplicate injection: every 10th doc reappears with a
    # shifted id, so exact dedup has real work to do.
    dupes = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    union = docs.unionByName(dupes)
    return (
        union.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def _q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style paragraph-granularity corpus dedup (operators/
    dedup.py frequent_line_removal(unit="paragraph")): every document
    gains a shared boilerplate paragraph (removed: frequent across
    docs) and a per-doc-unique tail paragraph whose SECOND LINE is a
    corpus-wide footer — the coarser unit must keep that line (it
    lives inside a unique paragraph), which line mode would strip.
    The oracle replays split/guard/frequency/anti-join/reassembly."""
    from htmlparser2_spark.operators.dedup import frequent_line_removal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inp = F.concat(
        F.col("text"),
        F.lit("\n\nshared boilerplate paragraph\n\ntail "),
        F.col("doc_id").cast("string"),
        F.lit("\n(c) example footer"),
    )
    out = frequent_line_removal(
        docs.select("doc_id", inp.alias("text")),
        min_docs=2,
        unit="paragraph",
    )
    return out.select(F.col("id").alias("doc_id"), "clean_text")


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k (operators/vocab.py): the 100 most
    frequent tokens with term and document frequency, rank 1-based
    by (tf desc, token asc) — the deterministic tiebreak makes the
    cut reproducible across engines. The oracle replays the two-level
    aggregation and the ordered limit verbatim."""
    from htmlparser2_spark.operators.vocab import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, k=100)


def _q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (operators/vocab.py
    doc_keywords): top-3 distinctive tokens per document after the
    df-threshold stopword screen (df >= ceil(0.3 * n_docs), removed
    via broadcast anti-join). All-integer scoring with the (c desc,
    token asc) tiebreak keeps ranks exact across engines; the oracle
    replays the screen and the ranking verbatim."""
    from htmlparser2_spark.operators.vocab import doc_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_keywords(docs, n=3, max_df_ratio=0.3).select(
        F.col("id").alias("doc_id"), "rank", "token", "c"
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x == F.lit("the"))).alias("n_the"),
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "in"))
    )
    avg_tok_len = (F.length("text") - (n_tokens - 1)) / n_tokens
    return docs.select(
        "doc_id",
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.round(avg_tok_len, 4).alias("avg_token_len"),
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("fingerprint")
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (hash-threshold decision
    function, map-only). Uses the md5-prefix portable hash so DuckDB
    reproduces the decision arithmetic bit-for-bit."""
    from htmlparser2_spark.operators.sampling import (
        portable_hash,
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs,
        {"en": 0.5, "de": 1.0, "es": 0.25},
        strata_col="lang",
        key_col="doc_id",
        hash_expr=portable_hash(F.col("doc_id")),
    ).select("doc_id", "lang")


def _q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(20, stratum size) docs per language, chosen by
    deterministic hash order."""
    from htmlparser2_spark.operators.sampling import (
        portable_hash,
        quota_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quota_sample(
        docs,
        20,
        strata_col="lang",
        key_col="doc_id",
        hash_expr=portable_hash(F.col("doc_id")),
    ).select("doc_id", "lang")


def _q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: hashed groups, running-total shard
    index inside each group (no global sort)."""
    from htmlparser2_spark.operators.sampling import (
        portable_hash,
        token_budget_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return token_budget_shards(
        docs,
        tokens_col="n_tokens",
        shard_tokens=500,
        n_groups=8,
        key_col="doc_id",
        hash_expr=portable_hash(F.col("doc_id")),
    ).select("doc_id", "grp", "shard")


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination hits: every training doc sharing an
    8-gram with a (simulated leaked) benchmark item. The benchmark is
    every 50th document verbatim, so each flags at least itself; the
    oracle recomputes the shared-shingle counts exactly."""
    from htmlparser2_spark.operators.contamination import contamination_hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.expr("doc_id div 50").alias("bench_id"), "text"
    )
    return contamination_hits(docs, bench, n=8)


def _q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen: the benchmark's 8-gram set
    compressed to an 8192-bit / 3-probe filter (deliberately small so
    the false-positive branch is live), every document scored by how
    many of its distinct shingles the filter flags. The oracle rebuilds
    the identical filter from the same portable md5 probes — a bit is
    set iff the position is in the benchmark's probe set, so every
    per-document decision INCLUDING each false positive is replayed
    exactly, not just bounded."""
    from htmlparser2_spark.operators.contamination import (
        bloom_contamination_hits,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    out = bloom_contamination_hits(
        docs, bench, n=8, m_bits=8192, k=3, hash_fn="portable"
    )
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_flagged").cast("long").alias("n_flagged"),
        "contaminated",
    )


def _q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline's stage funnel: quality gate ->
    dedup -> benchmark decontamination -> stratified sampling, with
    per-stage survivor counts. Uses the SQL-portable quality predicate
    and hash so DuckDB replays every stage decision exactly (the
    Gopher-gate default is exercised by q_gopher separately)."""
    from htmlparser2_spark.operators.sampling import portable_hash
    from htmlparser2_spark.plans.curate_job import run_curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.expr("doc_id div 50").alias("bench_id"), "text"
    )
    _, funnel = run_curation(
        docs,
        bench=bench,
        quality_pred=F.size(F.split("text", " ")) >= 40,
        dedup_threshold=0.7,
        contam_n=8,
        fractions={"en": 0.5, "de": 1.0, "es": 0.25},
        strata_col="lang",
        hash_expr=portable_hash(F.col("doc_id")),
    )
    return funnel


def _near_dup_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    near = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.lit("extra prefix words here "), F.col("text")))
    )
    return docs.unionByName(near)


def _q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from htmlparser2_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_near_dup_input(spark, sf_dir), n=3, threshold=0.5)


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with a superset-property oracle: every exact-Jaccard
    >= 0.7 pair (independently computable in DuckDB — the same SQL shape
    as the hash-checked q_near_dup_jaccard) must appear in the LSH
    candidate set. The permuted-hash signatures themselves are not
    SQL-expressible, but the recall contract of the banding IS, and it
    is what a dedup pipeline actually relies on."""
    from htmlparser2_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    inp = _near_dup_input(spark, sf_dir)
    cands = minhash_lsh_pairs(inp, n_perm=32, bands=8).withColumn(
        "recovered", F.lit(True)
    )
    truth = ngram_jaccard_pairs(inp, n=3, threshold=0.7).select("id_a", "id_b")
    return truth.join(cands, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        F.coalesce("recovered", F.lit(False)).alias("recovered"),
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with a distance-property oracle over the injected
    near-dup pairs: for every original document d (d % 10 = 0, control
    partner d+10 present), hamming(simhash(d), simhash(near-dup of d))
    must be (a) within 16 bits and (b) no larger than the distance to
    the unrelated control document d+10. The xxhash64 bit arithmetic is
    not DuckDB-expressible; the locality contract is."""
    from htmlparser2_spark.operators.dedup import simhash64

    sims = simhash64(_near_dup_input(spark, sf_dir))
    base = sims.filter(
        (F.col("id") % 10 == 0) & (F.col("id") < 1_000_000)
    ).withColumnsRenamed({"id": "orig_id", "simhash": "h_orig"})
    near = (
        sims.filter(F.col("id") >= 1_000_000)
        .withColumn("orig_id", F.col("id") - 1_000_000)
        .select("orig_id", F.col("simhash").alias("h_near"))
    )
    ctrl = (
        sims.filter(F.col("id") < 1_000_000)
        .withColumn("orig_id", F.col("id") - 10)
        .select("orig_id", F.col("simhash").alias("h_ctrl"))
    )
    j = base.join(near, "orig_id").join(ctrl, "orig_id")
    ham_near = F.bit_count(F.col("h_orig").bitwiseXOR(F.col("h_near")))
    ham_ctrl = F.bit_count(F.col("h_orig").bitwiseXOR(F.col("h_ctrl")))
    return j.select(
        "orig_id",
        (ham_near <= 16).alias("within_bound"),
        (ham_near <= ham_ctrl).alias("no_farther_than_control"),
    )


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component clustering over the oracle-checked exact
    Jaccard >= 0.5 pairs (alternating large-star/small-star rounds, the
    keep-one-per-cluster step of a dedup pipeline); the oracle computes
    the same components with a recursive CTE."""
    from htmlparser2_spark.operators.dedup import (
        duplicate_clusters,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(_near_dup_input(spark, sf_dir), n=3, threshold=0.5)
    return duplicate_clusters(pairs).select("id", "cluster_id")


def _q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline decision table over a corpus with injected
    exact copies (+2M ids, doc_id % 7) and near-duplicates (+1M ids,
    doc_id % 10): exact md5 dedup -> MinHash+LSH candidates over
    survivors -> candidate-only Jaccard verify (>= 0.7) -> connected
    components -> one (id, status, dup_of) row per input document.
    The oracle recomputes exact groups, the full-corpus Jaccard truth
    set, and components via a recursive CTE — so it also re-proves
    LSH candidate recall end-to-end."""
    from htmlparser2_spark.plans.dedup_job import run_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    copies = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    inp = _near_dup_input(spark, sf_dir).unionByName(copies)
    return run_dedup(inp, threshold=0.7)


def _q_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descendant-axis DOM queries over the ancestors column: per url,
    how many li sit inside a ul and how many td inside a table — both
    exactly predictable from the page template variant."""
    from htmlparser2_spark.operators.domquery import (
        elements_inside,
        explode_nodes,
    )

    pages = build_pages(spark, sf_dir)
    nodes = explode_nodes(pages, with_ancestors=True)
    li = (
        elements_inside(nodes, "ul", "li")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_li_in_ul"))
    )
    td = (
        elements_inside(nodes, "table", "td")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_td_in_table"))
    )
    return (
        pages.select("url")
        .join(li, "url", "left")
        .join(td, "url", "left")
        .select(
            "url",
            F.coalesce("n_li_in_ul", F.lit(0)).alias("n_li_in_ul"),
            F.coalesce("n_td_in_table", F.lit(0)).alias("n_td_in_table"),
        )
    )


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with a LOSSLESS configuration: the
    codebooks contain every corpus sub-vector verbatim, so encoding
    reconstructs each vector exactly and the ADC ranking must equal
    the exact euclidean ranking — which the oracle computes with
    DuckDB's list_distance. (Trained/compressed codebooks are covered
    by the recall tests; this query pins the encode/ADC arithmetic.)"""
    from htmlparser2_spark.operators.similarity import pq_encode, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    m, dim = 8, 64
    subdim = dim // m
    vecs = [list(r["embedding"]) for r in corpus.orderBy("vec_id").collect()]
    codebooks = [
        [v[sub * subdim:(sub + 1) * subdim] for v in vecs] for sub in range(m)
    ]
    coded = pq_encode(corpus, codebooks)
    return pq_topk(queries, coded, codebooks, k=5)


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with full probing and lossless residual codebooks: since
    l2(q - cent, v - cent) == l2(q, v), the ADC ranking must equal the
    exact euclidean ranking (same oracle as q_pq_topk). Probe pruning
    and trained codebooks are covered by unit tests."""
    from htmlparser2_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 40))
    # Lossless codebooks hold every (vector, cell) residual, so the
    # expression count is |corpus| * n_cells * m literal L2 terms —
    # sized here (30 * 2 * 4 = 240) to keep the driver-side plan small;
    # production codebooks are k=256 trained codewords, not lossless.
    m, dim, n_cells = 4, 64, 2
    subdim = dim // m
    vecs = [list(r["embedding"]) for r in corpus.orderBy("vec_id").collect()]
    # Deterministic coarse grid (training isn't SQL-replicable; the
    # lossless property holds for ANY coarse centroids).
    coarse = [[0.5 * c] * dim for c in range(n_cells)]
    residuals = [
        [x - y for x, y in zip(v, c)] for v in vecs for c in coarse
    ]
    codebooks = [
        [r[sub * subdim:(sub + 1) * subdim] for r in residuals]
        for sub in range(m)
    ]
    coded = ivfpq_encode(corpus, coarse, codebooks)
    return ivfpq_topk(
        queries, coded, coarse, codebooks, n_probe=n_cells, k=5
    )


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup: every doc gets two shared
    footer lines appended; lines recurring in >= 2 docs are stripped
    (including any organically duplicated body text). The oracle
    recomputes frequencies and reassembly in SQL."""
    from htmlparser2_spark.operators.dedup import frequent_line_removal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("(c) example footer"),
            F.lit("all rights reserved"),
        ).alias("text"),
    )
    return frequent_line_removal(docs, min_docs=2)


def _q_css_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSS selectors compiled to relational plans: per url, match
    counts for a descendant selector with a class filter
    ('html p.c3'), a child selector ('ul > li'), an attribute
    selector ('a[href]'), sibling combinators, and the jQuery-style
    inequality ('p[class!=c3]', 'p[class!=""]') — all
    template-predictable."""
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = build_pages(spark, sf_dir)
    nodes = explode_nodes(pages, with_ancestors=True)

    def count_of(sel: str, alias: str) -> DataFrame:
        return (
            css_select(nodes, sel)
            .groupBy("url")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    return (
        pages.select("url")
        .join(count_of("html p.c3", "n_p_c3"), "url", "left")
        .join(count_of("ul > li", "n_ul_li"), "url", "left")
        .join(count_of("a[href]", "n_href"), "url", "left")
        # Sibling combinators: 'h1 + p' crosses a comment node in
        # variant 0 (adjacency is element-rank, not idx_in_parent);
        # 'table ~ div' skips the textarea and bogus comment in
        # variant 2.
        .join(count_of("h1 + p", "n_h1_p"), "url", "left")
        .join(count_of("li + li", "n_li_li"), "url", "left")
        .join(count_of("table ~ div", "n_tbl_div"), "url", "left")
        # jQuery-style inequality: variant 0's p carries class
        # "c{doc_id%7}" (matches iff the token isn't exactly c3),
        # variant 1's p has NO class attribute (missing attr MATCHES
        # a non-empty value), variant 2 has no p at all; [class!=""]
        # instead demands an existing non-empty class (variant 0 only).
        .join(count_of("p[class!=c3]", "n_p_notc3"), "url", "left")
        .join(count_of('p[class!=""]', "n_p_anyclass"), "url", "left")
        .select(
            "url",
            F.coalesce("n_p_c3", F.lit(0)).alias("n_p_c3"),
            F.coalesce("n_ul_li", F.lit(0)).alias("n_ul_li"),
            F.coalesce("n_href", F.lit(0)).alias("n_href"),
            F.coalesce("n_h1_p", F.lit(0)).alias("n_h1_p"),
            F.coalesce("n_li_li", F.lit(0)).alias("n_li_li"),
            F.coalesce("n_tbl_div", F.lit(0)).alias("n_tbl_div"),
            F.coalesce("n_p_notc3", F.lit(0)).alias("n_p_notc3"),
            F.coalesce("n_p_anyclass", F.lit(0)).alias("n_p_anyclass"),
        )
    )


def _q_css_pseudo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural pseudo-classes compiled to window-ranked relational
    plans: per url, match counts for a child+nth selector
    ('ul > li:nth-child(2)'), a universal last-child ('head >
    *:last-child'), a first-child ('tr:first-child'), a negation
    under the descendant axis ('body :not(p)'), a :has semi-join
    ('body:has(a)'), a subtree-text match ('*:contains(Doc)'), and
    their composition ('ul:has(li:contains(Doc))') — all template-
    predictable per page variant."""
    from htmlparser2_spark.operators.cssselect import css_select
    from htmlparser2_spark.operators.domquery import explode_nodes

    pages = build_pages(spark, sf_dir)
    nodes = explode_nodes(pages, with_ancestors=True)

    def count_of(sel: str, alias: str) -> DataFrame:
        return (
            css_select(nodes, sel)
            .groupBy("url")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    return (
        pages.select("url")
        .join(count_of("ul > li:nth-child(2)", "n_li2"), "url", "left")
        .join(count_of("head > *:last-child", "n_head_last"), "url", "left")
        .join(count_of("tr:first-child", "n_tr_first"), "url", "left")
        .join(count_of("body :not(p)", "n_not_p"), "url", "left")
        .join(count_of("body:has(a)", "n_has_a"), "url", "left")
        .join(count_of("*:contains(Doc)", "n_contains_doc"), "url", "left")
        .join(
            count_of("ul:has(li:contains(Doc))", "n_has_li_doc"),
            "url",
            "left",
        )
        .select(
            "url",
            F.coalesce("n_li2", F.lit(0)).alias("n_li2"),
            F.coalesce("n_head_last", F.lit(0)).alias("n_head_last"),
            F.coalesce("n_tr_first", F.lit(0)).alias("n_tr_first"),
            F.coalesce("n_not_p", F.lit(0)).alias("n_not_p"),
            F.coalesce("n_has_a", F.lit(0)).alias("n_has_a"),
            F.coalesce("n_contains_doc", F.lit(0)).alias("n_contains_doc"),
            F.coalesce("n_has_li_doc", F.lit(0)).alias("n_has_li_doc"),
        )
    )


def _q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET output roundtrip (the Common-Crawl extracted-text archive
    shape): synthesize a conversion record per page via the
    dual-dialect expr, parse it back with warc_record_udf, and emit
    the parsed header fields + payload byte-length + payload md5 —
    all of which the oracle computes ANALYTICALLY from the pages
    table without parsing, pinning the full write->read loop."""
    from htmlparser2_spark.sources.warc import (
        warc_record_udf,
        wet_record_expr,
    )

    pages = build_pages(spark, sf_dir)
    recs = pages.selectExpr("url", f"{wet_record_expr('spark')} AS wet")
    w = recs.select("url", warc_record_udf()(F.col("wet")).alias("r"))
    return w.select(
        "url",
        F.col("r.warc_type").alias("rec_type"),
        F.col("r.target_uri").alias("target_uri"),
        F.col("r.content_type").alias("content_type"),
        F.col("r.warc_date").alias("warc_date"),
        F.length("r.payload").cast("long").alias("n_bytes"),
        F.md5("r.payload").alias("text_md5"),
    )


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest roundtrip: synthesize a response record per page,
    parse it back with warc_record_udf, and emit (a) the parsed fields
    against their predicted values and (b) md5 of the record bytes —
    which the oracle recomputes from its OWN dual-dialect synthesis,
    pinning both the parser and byte-identical record construction."""
    from htmlparser2_spark.sources.warc import (
        warc_pages_expr,
        warc_record_udf,
    )

    pages = build_pages(spark, sf_dir)
    recs = pages.selectExpr(
        "url", "warc_ts", "html", f"{warc_pages_expr('spark')} AS rec"
    )
    w = recs.select(
        "url", "warc_ts", "html",
        F.md5("rec").alias("rec_md5"),
        warc_record_udf()(F.col("rec")).alias("w"),
    )
    return w.select(
        F.col("w.target_uri").alias("url_out"),
        F.col("w.warc_type").alias("warc_type"),
        F.col("w.http_status").alias("http_status"),
        F.col("w.http_content_type").alias("http_content_type"),
        "rec_md5",
        (F.col("w.target_uri") == F.col("url")).alias("uri_ok"),
        F.col("w.payload").eqNullSafe(F.col("html")).alias("payload_ok"),
        (
            F.col("w.warc_date")
            == F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        ).alias("date_ok"),
    )


def _q_dom_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational textContent over the exploded nodes table must equal
    the golden text column (DomUtils surface, SURVEY.md §2.6)."""
    from htmlparser2_spark.operators.domquery import (
        explode_nodes,
        text_content_per_doc,
    )

    pages = build_pages(spark, sf_dir)
    nodes = explode_nodes(pages)
    rebuilt = text_content_per_doc(nodes).withColumnRenamed("text", "rebuilt")
    joined = pages.select("url", F.col("text").alias("golden")).join(rebuilt, "url")
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("golden") == F.col("rebuilt")).cast("long")).alias("n_match"),
    )


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution. Oracle-checked: the
    marker-vote cascade (count marker tokens per language, highest
    score wins, ties broken by language order, zero hits -> 'und') is
    ported to DuckDB SQL as a greatest/CASE cascade."""
    from htmlparser2_spark.functions.textstats import langid_guess

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy(langid_guess("text").alias("guess")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from htmlparser2_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return brute_force_topk(queries_df, corpus, k=5)


def _q_ann_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow brute-force engine (BLAS batch scoring + per-batch
    partial top-k inside mapInArrow) against the SAME oracle as
    q_ann_topk: the partial/global top-k decomposition is exact, and
    on this data the einsum sims round identically at 4dp to the
    sequential fold (parity margin ~1e-7 vs the 5e-5 boundary)."""
    from htmlparser2_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return brute_force_topk(queries_df, corpus, k=5, engine="arrow")


def _q_embedding_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, LSH-bucketed. Oracle-exact
    by construction: at threshold ~1.0 only identical vectors qualify,
    and identical vectors always share their hyperplane bucket, so the
    sub-quadratic LSH join finds exactly the full cross-join answer."""
    from htmlparser2_spark.operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    uni = emb.unionByName(dup).select("vec_id", "embedding")
    return embedding_dup_pairs(uni, threshold=0.9999)


def _q_element_siblings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DomUtils nextElementSibling as a relational window op: histogram
    of adjacent element pairs across the corpus (oracle derives the
    per-variant pair inventory from the fixed page templates)."""
    from htmlparser2_spark.operators.domquery import element_siblings

    nodes = _nodes_df(spark, sf_dir)
    return (
        element_siblings(nodes)
        .filter(F.col("next_element").isNotNull())
        .groupBy("name", "next_element")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN at full probe (n_probe = n_centroids):
    the index must be *lossless* when every cell is probed, so the
    result is hash-checkable against the same DuckDB cross-join oracle
    as q_ann_topk. This pins the whole assign/probe/rank machinery
    (cell partitioning must neither drop nor duplicate candidates); the
    approximate n_probe < n_centroids path's recall is pinned by
    tests/test_spark_ops.py."""
    from htmlparser2_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return ivf_topk(queries_df, corpus, k=5, n_centroids=8, n_probe=8, iters=2)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals over structurally
    synthesized documents: 'a b ' repeated m times + a unique tail +
    k duplicated END lines, so the duplicate-line fraction and the
    top-bigram coverage are exactly predictable from doc_id."""
    from htmlparser2_spark.operators.quality import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ids = F.col("doc_id").cast("string")
    text = F.concat(
        F.expr("repeat('a b ', 2 + doc_id % 5)"),
        F.lit("u"), ids, F.lit(" v"), ids,
        F.expr("repeat('\\nEND', doc_id % 3)"),
    )
    return repetition_stats(docs.select("doc_id", text.alias("text")))


def _q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: synthesized emails/phones/IPs (doc_id-derived)
    must redact to exactly the placeholder string the oracle predicts;
    odd documents carry no PII and must pass through byte-identical."""
    from htmlparser2_spark.functions.redact import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ids = F.col("doc_id").cast("string")
    pii = F.concat(
        F.lit("contact u"), ids, F.lit("@site"), ids,
        F.lit(".com or call 555-01"), (F.col("doc_id") % 10).cast("string"),
        F.lit("-43"), (F.col("doc_id") % 10).cast("string"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ok"),
    )
    clean = F.concat(F.lit("no pii in doc "), ids)
    text = F.when(F.col("doc_id") % 2 == 0, pii).otherwise(clean)
    return docs.select("doc_id", redact_pii(text).alias("scrubbed"))


def _q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate over four synthesized document shapes
    (clean prose / too short / symbol-spam / bullet-list boilerplate);
    the first-failing-rule reject reason is exactly predictable per
    doc_id variant."""
    from htmlparser2_spark.operators.quality import gopher_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    good = F.expr(
        "concat('the deal be great to see of and that have with us all year ',"
        " repeat('sample words here again ', 15))"
    )
    short = F.lit("the of tiny")
    symbols = F.expr(
        "concat('the be to of and that have with ', repeat('### ', 60))"
    )
    bullets = F.expr(
        "concat('the be of and that have with good words stay fine here',"
        " repeat('\\n-itemword here', 60))"
    )
    text = (
        F.when(F.col("doc_id") % 4 == 0, good)
        .when(F.col("doc_id") % 4 == 1, short)
        .when(F.col("doc_id") % 4 == 2, symbols)
        .otherwise(bullets)
    )
    return gopher_filter(docs.select("doc_id", text.alias("text")))


def _q_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling window fingerprints (content-defined-chunking building
    block): the xxhash64 values aren't SQL-expressible, but the window
    arithmetic and dedup behavior are — window count = max(n_tokens-7,1)
    and identical docs must produce identical fingerprint arrays, so
    every injected exact duplicate pair shares its full array."""
    from htmlparser2_spark.functions.textstats import rolling_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    fp = docs.unionByName(dup).select(
        "doc_id", rolling_fingerprints("text").alias("fps")
    )
    a = fp.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1_000_000))
    b = fp.filter(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("doc_id"), F.col("fps").alias("fps_b")
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            F.size("fps").alias("n_windows"),
            (F.col("fps") == F.col("fps_b")).alias("dup_matches"),
        )
    )


def _q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (JVM Catalyst expressions): messy URLs are
    synthesized per doc_id (mixed-case scheme/host, default ports,
    unsorted query params, fragments) and must normalize to exactly the
    canonical string the oracle predicts from doc_id."""
    from htmlparser2_spark.functions.urls import canonicalize_url

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    messy = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("HTTP://WWW.Host"), k, F.lit(".example:80?b=2&a=1")),
    ).otherwise(
        F.concat(
            F.lit("HTTPS://Host"), k, F.lit(".Example:443/p/"), ids,
            F.lit("?z="), ids, F.lit("&a=1#frag"),
        )
    )
    return docs.select("doc_id", canonicalize_url(messy).alias("canonical_url"))


def _q_resolve_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink resolution (RFC 3986 merge in pure Catalyst): an href
    grid covering every resolve_url branch — empty, relative,
    dot-segment, root-relative, query-only, scheme-relative, absolute,
    fragment-bearing — is synthesized per doc_id and resolved against
    the page URL; the oracle predicts each resolution analytically
    from the same doc_id arithmetic."""
    from htmlparser2_spark.functions.urls import resolve_url

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = F.col("doc_id").cast("string")
    host = F.when(F.col("doc_id") % 5 < 2, F.lit("0")).otherwise(
        (F.col("doc_id") % 41).cast("string")
    )
    base = F.concat(F.lit("https://host"), host, F.lit(".example/doc/"), ids)
    m = F.col("doc_id") % 8
    href = (
        F.when(m == 0, F.lit(""))
        .when(m == 1, F.concat(F.lit("page"), ids))
        .when(m == 2, F.concat(F.lit("../up/"), ids))
        .when(m == 3, F.concat(F.lit("/rooted/"), ids))
        .when(m == 4, F.concat(F.lit("?q="), ids))
        .when(m == 5, F.concat(F.lit("//cdn.example/x/"), ids))
        .when(m == 6, F.concat(F.lit("https://abs.example/"), ids))
        .otherwise(F.concat(F.lit("./same/"), ids, F.lit("#frag")))
    )
    return docs.select(
        "doc_id", resolve_url(base, href).alias("resolved_url")
    )


def _q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode over REAL encoded bytes: a valid GIF header is
    synthesized per document (SQL shared with the oracle — only byte
    values < 128, so UTF-8 encoding is the identity), and the real
    header parser in functions/multimodal.py must recover the exact
    width/height the oracle predicts from doc_id."""
    from htmlparser2_spark.functions.multimodal import image_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.encode(
        F.concat(
            F.lit("GIF89a"),
            F.expr("char(1 + doc_id % 96)"),
            F.expr("char(1)"),  # width  = (1 + doc_id % 96) + 256
            F.expr("char(1 + (doc_id * 7) % 96)"),
            F.expr("char(2)"),  # height = (1 + (doc_id * 7) % 96) + 512
        ),
        "utf-8",
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    return image_features(media).select("media_id", "width", "height", "channels")


def _q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout parse over REAL text operators (north rule names
    "PDF/layout parse" beside HTML extraction): a two-page uncompressed
    PDF is synthesized per document — page 1 shows a title line via Td
    then the first half of the text via T* + the ' (line-feed
    show-text) operator, page 2 the second half positioned by Tm — and
    parsed back to layout spans by the text-operator interpreter in
    functions/pdf.py (Td/TD/Tm/T*/Tj/'/TJ + escape/octal literal
    decoding). pdf_text reassembles reading order (page asc, y desc,
    span order); the oracle predicts the exact concatenation from the
    same halves arithmetic, so positioning, line-feed semantics, and
    literal decoding are all hash-checked per document. The corpus
    text is ASCII without ()/backslash (PDF literal metachars are
    escaped on synthesis anyway; the oracle predicts the unescaped
    halves because the parser unescapes)."""
    from htmlparser2_spark.functions.pdf import pdf_spans, pdf_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    esc1 = F.expr(
        r"replace(replace(replace(substring(text, 1, cast(length(text)/2 as int)),"
        r" '\\', '\\\\'), '(', '\\('), ')', '\\)')"
    )
    esc2 = F.expr(
        r"replace(replace(replace(substring(text, cast(length(text)/2 as int) + 1),"
        r" '\\', '\\\\'), '(', '\\('), ')', '\\)')"
    )
    payload = F.encode(
        F.concat(
            F.lit("%PDF-1.4\n1 0 obj\nstream\nBT\n72 720 Td\n(Doc "),
            F.col("doc_id").cast("string"),
            F.lit(") Tj\nT*\n("),
            esc1,
            F.lit(") '\nET\nendstream\nstream\nBT\n1 0 0 1 72 700 Tm\n("),
            esc2,
            F.lit(") Tj\nET\nendstream\n%%EOF"),
        ),
        "utf-8",
    )
    pdfs = docs.select("doc_id", payload.alias("payload"))
    return pdf_text(pdf_spans(pdfs)).select(
        "doc_id", F.col("text").alias("pdf_text")
    )


def _q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-stripped main-content extraction (script/style removed,
    whitespace normalized) — the north rule's 'HTML boilerplate strip'."""
    from htmlparser2_spark.functions.udfs import clean_text_udf

    pages = build_pages(spark, sf_dir)
    return pages.select(
        "url", clean_text_udf()(F.col("html")).alias("main_text")
    )


def _q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability-lite main-content block selection (the north rule's
    'DOM heuristics' half of boilerplate stripping; engine/readability.py
    scores block candidates by link-penalized subtree text mass and
    returns the winner's normalized text).

    Oracle derivation per page variant (whitespace-stripped char counts;
    Dlen = digits of doc_id, Tlen = stripped text length):

    * v0: candidates are <body> and <p>. body = (3+Dlen) h1 + Tlen p +
      4 link chars, link-penalized and child-penalized (4 children):
      score = Dlen+Tlen-5; p score = Tlen-2. body wins iff Dlen > 3
      (score ties break toward the deeper node), so doc_id >= 1000 ->
      'Doc N ... more', else the bare text.
    * v1/v2: no links; <body> always out-scores ul/table/td/li/div.
    """
    from htmlparser2_spark.functions.udfs import main_content_udf

    pages = build_pages(spark, sf_dir)
    return pages.select(
        "url", main_content_udf()(F.col("html")).alias("content")
    )


def _q_inner_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """domutils innerText: rendered text (script/style subtrees skipped,
    <br> -> newline) — oracle derives it per page variant."""
    from htmlparser2_spark.functions.udfs import inner_text_udf

    pages = build_pages(spark, sf_dir)
    return pages.select(
        "url", inner_text_udf()(F.col("html")).alias("rendered")
    )


def _q_inner_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """domutils getInnerHTML: serialize the first <body>'s children
    without the body tag itself; the oracle rebuilds the exact expected
    markup per page variant (serializer re-escapes &/</> in text)."""
    from htmlparser2_spark.operators.domquery import inner_html

    pages = build_pages(spark, sf_dir)
    return inner_html(pages, tag="body").select(
        "url", F.col("inner_html").alias("body_html")
    )


def _q_prev_siblings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DomUtils prevElementSibling: histogram of (element, previous
    element) pairs — the mirror of q_element_siblings' next_element
    check, sharing its per-variant pair inventory."""
    from htmlparser2_spark.operators.domquery import element_siblings

    nodes = _nodes_df(spark, sf_dir)
    return (
        element_siblings(nodes)
        .filter(F.col("prev_element").isNotNull())
        .groupBy("name", "prev_element")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_node_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getElementsByTagType over the nodes table: per-type counts for
    the domelementtype kinds with known per-variant cardinalities."""
    from htmlparser2_spark.operators.domquery import get_elements_by_tag_type

    nodes = _nodes_df(spark, sf_dir)
    out = None
    for t in ("directive", "comment", "script", "style"):
        part = (
            get_elements_by_tag_type(nodes, t)
            .groupBy(F.lit(t).alias("node_type"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        out = part if out is None else out.unionByName(part)
    return out


def _q_dom_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DomUtils compareDocumentPosition over the relational nodes
    table: for a per-variant spec of (a_name, b_name) first-occurrence
    element pairs, the domutils bitmask (PRECEDING=2 / FOLLOWING=4 |
    CONTAINS=8 / CONTAINED_BY=16) computed from pre-order node ids +
    ancestors arrays; the oracle predicts every mask from the page
    templates' known structure."""
    from pyspark.sql import Window

    from htmlparser2_spark.operators.domquery import position_mask

    pages = build_pages(spark, sf_dir, with_doc_id=True)
    nodes = pages.select(
        "doc_id",
        "url",
        F.explode(dom_nodes_udf(with_ancestors=True)(F.col("html"))).alias("n"),
    ).select("doc_id", "url", "n.*")
    names = [
        "html", "head", "body", "p", "a", "h1",
        "ul", "li", "img", "table", "td", "div", "textarea",
    ]
    w = Window.partitionBy("url", "name").orderBy("node_id")
    first = (
        nodes.filter(F.col("name").isin(*names))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            (F.col("doc_id") % 3).alias("variant"),
            "url", "name", "node_id", "ancestors",
        )
    )
    spec = spark.createDataFrame(
        [
            (0, "head", "body"), (0, "html", "p"),
            (0, "a", "h1"), (0, "p", "body"),
            (1, "ul", "li"), (1, "img", "ul"),
            (1, "li", "body"), (1, "ul", "p"),
            (2, "table", "td"), (2, "div", "table"),
            (2, "td", "body"), (2, "textarea", "div"),
        ],
        "sv int, sa string, sb string",
    )
    f_a = first.select(
        "variant", "url",
        F.col("name").alias("a_name"),
        F.col("node_id").alias("a_id"),
        F.col("ancestors").alias("a_anc"),
    )
    f_b = first.select(
        F.col("url").alias("url_b"),
        F.col("name").alias("b_name"),
        F.col("node_id").alias("b_id"),
        F.col("ancestors").alias("b_anc"),
    )
    paired = (
        f_a.join(
            F.broadcast(spec),
            (f_a.variant == spec.sv) & (f_a.a_name == spec.sa),
        )
        .join(f_b, (F.col("url_b") == f_a.url) & (f_b.b_name == spec.sb))
    )
    return paired.select(
        "url", "a_name", "b_name",
        position_mask(
            F.col("a_id"), F.col("a_anc"), F.col("b_id"), F.col("b_anc")
        ).alias("position"),
    )


def _q_remove_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DomUtils removeSubsets + uniqueSort: from the name-filtered
    selection, rows whose ancestor is also selected must drop (li under
    ul, td under table), document-order dedup via uniqueSort; the
    oracle lists the surviving element names per variant."""
    from htmlparser2_spark.operators.domquery import (
        remove_subsets,
        unique_sort,
    )

    pages = build_pages(spark, sf_dir)
    nodes = pages.select(
        "url",
        F.explode(dom_nodes_udf(with_ancestors=True)(F.col("html"))).alias("n"),
    ).select("url", "n.*")
    picked = nodes.filter(
        F.col("name").isin("ul", "li", "p", "table", "td", "div", "h1", "a")
    )
    kept = remove_subsets(unique_sort(picked))
    return kept.groupBy("url", "name").agg(F.count(F.lit(1)).alias("cnt"))


def _q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML <table> structure lifted to relational cells
    (operators/tables.py — the DomUtils composition the reference's
    users hand-roll, README.md:166-218, as one plan). Only variant-2
    pages carry a table: two single-cell rows whose second cell is the
    document text, both reconstructed by the oracle from the synthesis
    arithmetic (implied tr/td closes included)."""
    from htmlparser2_spark.operators.tables import table_cells

    pages = build_pages(spark, sf_dir)
    nodes = pages.select(
        "url",
        F.explode(dom_nodes_udf(with_ancestors=True)(F.col("html"))).alias("n"),
    ).select("url", "n.*")
    return table_cells(nodes)


def _q_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniff + decode + extract over a mixed-encoding corpus
    (engine/encoding.py; the ingestion step the reference's
    WritableStream skips by assuming UTF-8). Four byte shapes by
    doc_id%4: UTF-8 BOM'd page, UTF-16LE BOM'd page, a latin-1 page
    declaring <meta charset=ISO-8859-1> (with a real 0xE9 high byte;
    label folds to windows-1252 per WHATWG), and a bare page hitting
    the utf-8 default. The oracle predicts (charset, extracted text)
    analytically — the BOM/meta/decode work happens only Spark-side."""
    from htmlparser2_spark.functions.udfs import sniff_decode_udf

    pages = build_pages(spark, sf_dir, with_doc_id=True)
    variant = F.col("doc_id") % 4
    page_s = F.decode(F.col("html"), "UTF-8")
    mini = F.concat(
        F.lit('<meta charset="ISO-8859-1"><p>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(" café</p>"),
    )
    data = (
        F.when(variant == 0, F.concat(F.lit(b"\xef\xbb\xbf"), F.col("html")))
        .when(
            variant == 1,
            F.concat(F.lit(b"\xff\xfe"), F.encode(page_s, "UTF-16LE")),
        )
        .when(variant == 2, F.encode(mini, "ISO-8859-1"))
        .otherwise(F.col("html"))
    )
    sniffed = pages.select(
        "url", "text", sniff_decode_udf()(data).alias("s")
    )
    return sniffed.select(
        "url",
        F.col("s.charset").alias("charset"),
        extract_text_udf()(F.col("s.decoded")).alias("text_out"),
    )


def _q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (textstats.sentences — the pinned
    dual-dialect rule: break at [.!?]+ runs followed by consumed
    whitespace, no abbreviation logic by design, so 'Dr.' splits).
    Punctuation is synthesized around the corpus text — every document
    yields exactly five indexed sentences, value-checked."""
    from htmlparser2_spark.functions.textstats import sentences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    punct = F.concat(
        F.lit("Dr. Strange arrived... "),
        F.col("text"),
        F.lit("! Really?! Yes. "),
    )
    return docs.select(
        "doc_id", F.posexplode(sentences(punct)).alias("sent_idx", "sentence")
    ).select(
        "doc_id",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        "sentence",
    )


def _q_meta_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-metadata extraction (OpenGraph + canonical — the head
    fields a crawl pipeline indexes): a head with og:title /
    description / link rel=canonical / og:locale is synthesized per
    document, parsed back through the DOM, and the attrs maps are
    queried relationally (conditional-max pivot, one url-keyed
    shuffle); the oracle is the synthesis arithmetic itself."""
    pages = build_pages(spark, sf_dir, with_doc_id=True)
    ids = F.col("doc_id").cast("string")
    head = F.concat(
        F.lit('<html><head><meta property="og:title" content="Doc '),
        ids,
        F.lit('"><meta name="description" content="'),
        F.col("lang"),
        F.lit(" page "),
        ids,
        F.lit('"><link rel="canonical" href="https://example.com/canon/'),
        ids,
        F.lit('"><meta property="og:locale" content="'),
        F.col("lang"),
        F.lit('"></head><body></body></html>'),
    )
    nodes = pages.select(
        "url",
        F.explode(dom_nodes_udf()(F.encode(head, "utf-8"))).alias("n"),
    ).select("url", "n.*")
    a = F.col("attrs")
    return (
        nodes.filter(F.col("name").isin("meta", "link"))
        .groupBy("url")
        .agg(
            F.max(
                F.when(a["property"] == "og:title", a["content"])
            ).alias("og_title"),
            F.max(
                F.when(a["name"] == "description", a["content"])
            ).alias("description"),
            F.max(
                F.when(a["rel"] == "canonical", a["href"])
            ).alias("canonical"),
            F.max(
                F.when(a["property"] == "og:locale", a["content"])
            ).alias("og_locale"),
        )
    )


def _q_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> Markdown conversion over every page
    (engine/markdown.py; the structure-keeping alternative to
    textContent a training pipeline ships). The oracle rebuilds the
    exact markdown per template variant — heading, list, link, image,
    pipe-table (first row as header), textarea text, transparent div —
    including the renderer's whitespace collapse and cell pipe
    escaping applied to the document text."""
    from htmlparser2_spark.functions.udfs import markdown_udf

    pages = build_pages(spark, sf_dir)
    return pages.select("url", markdown_udf()(F.col("html")).alias("md"))


def _page_host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host->host edges extracted from the pages' DOM: anchors
    plus embedded resources, so relative ``img src`` references become
    host self-loops and per-host transition probabilities vary with
    the corpus mix."""
    from htmlparser2_spark.operators.linkgraph import host_edges

    nodes = _nodes_df(spark, sf_dir)
    links = nodes.filter(F.col("name").isin("a", "img")).select(
        "url",
        F.coalesce(F.col("attrs")["href"], F.col("attrs")["src"]).alias("href"),
    )
    return host_edges(links, drop_self_loops=False)


def _q_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank over the extracted link graph. Fixed
    3-iteration power method with dangling-mass redistribution; the
    oracle unrolls the identical iterations as DuckDB CTEs from the
    synthesis arithmetic."""
    from htmlparser2_spark.operators.linkgraph import pagerank

    ranks = pagerank(_page_host_edges(spark, sf_dir), iters=3)
    return ranks.select("host", F.round("rank", 6).alias("rank"))


def _q_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap roundtrip: per-host <urlset> documents synthesized from
    the pages table (doc_id-ordered entries, ISO lastmod from warc_ts),
    parsed back through the xmlMode sitemap UDF; every (host, loc,
    lastmod, priority) must reconstruct exactly — the oracle is the
    pages table itself."""
    from htmlparser2_spark.functions.udfs import sitemap_udf

    pages = build_pages(spark, sf_dir, with_doc_id=True)
    host = F.regexp_extract("url", r"https://([^/]+)", 1)
    entry = F.concat(
        F.lit("<url><loc>"), F.col("url"),
        F.lit("</loc><lastmod>"),
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("</lastmod><priority>0.5</priority></url>"),
    )
    per_host = (
        pages.select(
            host.alias("host"),
            F.struct("doc_id").alias("k"),
            entry.alias("e"),
        )
        .groupBy("host")
        .agg(
            F.concat(
                F.lit(
                    '<?xml version="1.0" encoding="UTF-8"?>'
                    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                ),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("k", "e"))),
                        lambda s: s["e"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = per_host.select(
        "host", sitemap_udf()(F.col("xml")).alias("sm")
    )
    ent = parsed.select(
        "host", F.col("sm.kind").alias("kind"),
        F.explode("sm.entries").alias("e"),
    )
    return ent.select(
        "host",
        "kind",
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod").alias("lastmod"),
        F.col("e.priority").alias("priority"),
    )


def _robots_bodies(spark: SparkSession) -> DataFrame:
    """Deterministic per-host robots.txt bodies: 4 policy shapes
    (prefix+allow-override, exact-agent full block, allow-all via
    empty Disallow, comment+prefix+longer-allow) keyed by host number
    mod 4 — shared by q_robots and q_frontier."""
    m = F.col("id") % 4
    body = (
        # Crawl-delay lines are invisible to parse_robots/sitemap_urls
        # (unsupported-field filter), so adding them leaves the
        # q_robots / q_robots_sitemaps / q_frontier oracles untouched;
        # q_crawl_delay reads them via crawl_delays. Shapes: invalid
        # value (m==0), delay on a specific agent (m==1), none (m==2),
        # fractional + a larger second line that min() must lose (m==3).
        F.when(m == 0, F.concat(
            F.lit("User-agent: *\nCrawl-delay: fast\n"
                  "Disallow: /private/\nAllow: /private/ok"
                  "\nSitemap: https://host"),
            F.col("id").cast("string"),
            F.lit(".example/sitemap.xml"),
        ))
        .when(m == 1, F.lit(
            "User-agent: trainbot\nCrawl-delay: 2\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /tmp/"))
        .when(m == 2, F.lit("User-agent: *\nDisallow:"))
        .otherwise(F.lit(
            "# policy\nUser-agent: *\nDisallow: /doc/1\nAllow: /doc/12"
            "\nCrawl-delay: 1.5\nCrawl-delay: 30"))
    )
    return spark.range(41).select(
        F.concat(
            F.lit("host"), F.col("id").cast("string"), F.lit(".example")
        ).alias("host"),
        body.alias("body"),
    )


def _q_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-side URL admission: the _robots_bodies policies parsed
    relationally and evaluated for agent TrainBot over every page URL.
    The oracle predicts admission from the same host/path arithmetic."""
    from htmlparser2_spark.operators.robots import (
        evaluate_robots,
        parse_robots,
    )

    pages = build_pages(spark, sf_dir)
    return evaluate_robots(
        pages.select("url"), parse_robots(_robots_bodies(spark)), "TrainBot"
    )


def _q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt: the group-independent
    ``Sitemap:`` directive (carried by the m==0 policy bodies) — the
    link that closes the robots -> sitemap -> frontier loop."""
    from htmlparser2_spark.operators.robots import sitemap_urls

    return sitemap_urls(_robots_bodies(spark))


def _q_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl-frontier plan: page URLs plus #fragment
    duplicates -> canonicalize+dedup -> robots admission (TrainBot) ->
    PageRank-prioritized frontier with a 5-URL-per-host budget. The
    oracle chains the robots CASE, the unrolled rank CTEs, and the
    budget window over the pages table."""
    from htmlparser2_spark.operators.robots import parse_robots
    from htmlparser2_spark.plans.crawl_job import run_frontier

    pages = build_pages(spark, sf_dir)
    cands = pages.select("url").unionAll(
        pages.select(F.concat(F.col("url"), F.lit("#frag")).alias("url"))
    )
    frontier, _funnel = run_frontier(
        cands,
        parse_robots(_robots_bodies(spark)),
        _page_host_edges(spark, sf_dir),
        agent="TrainBot",
        per_host_budget=5,
    )
    return frontier.select(
        "url", "host", "host_rank",
        F.col("host_pos").cast("int").alias("host_pos"),
    )


def _q_frontier_polite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_frontier with Crawl-delay politeness: a 6-second batch window
    tightens m==3 hosts (1.5s star delay) to floor(6/1.5)=4 URLs while
    everything else keeps the 5-URL budget (m==0's directive is
    unparseable -> budget only; m==1's trainbot delay never reaches
    the frontier — those hosts are robots-blocked for TrainBot)."""
    from htmlparser2_spark.operators.robots import crawl_delays, parse_robots
    from htmlparser2_spark.plans.crawl_job import run_frontier

    pages = build_pages(spark, sf_dir)
    bodies = _robots_bodies(spark)
    frontier, _funnel = run_frontier(
        pages.select("url"),
        parse_robots(bodies),
        _page_host_edges(spark, sf_dir),
        agent="TrainBot",
        per_host_budget=5,
        delays=crawl_delays(bodies),
        window_sec=6.0,
    )
    return frontier.select(
        "url", "host", "host_rank",
        F.col("host_pos").cast("int").alias("host_pos"),
    )


def _q_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay politeness directives parsed per robots stanza:
    invalid value -> NULL (m==0), agent-specific delay (m==1),
    absent (m==2 emits nothing), fractional with a larger duplicate
    the min() must lose (m==3). Oracle predicts all rows from the
    host-number arithmetic."""
    from htmlparser2_spark.operators.robots import crawl_delays

    return crawl_delays(_robots_bodies(spark))


def _q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (link-text training signal): text under
    every <a href> gathered via the descendant axis, aggregated per
    distinct anchor string. Nested-markup gathering is pinned by unit
    tests; here the corpus-wide totals are oracle-pinned from the
    template inventory (every V0 page contributes one 'more' anchor
    with a unique target)."""
    from htmlparser2_spark.operators.domquery import anchor_texts, explode_nodes

    pages = build_pages(spark, sf_dir)
    at = anchor_texts(explode_nodes(pages, with_ancestors=True))
    return at.groupBy("anchor_text").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("href").alias("n_targets"),
    )


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health dashboard: per-language doc counts and exact
    token-count distribution (mean + interpolated p50/p90/p99 — Spark
    `percentile` and DuckDB `quantile_cont` share the p*(n-1) linear
    interpolation definition). Token counts use the pinned
    dual-dialect convention (textstats.oracle_tokens) so the
    dashboard reports the same quantity shard packing and chunking
    budget with."""
    from htmlparser2_spark.functions.textstats import oracle_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nt = F.size(oracle_tokens(F.col("text"))).cast("double")
    pct = F.percentile(nt, F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(nt), 4).alias("avg_tokens"),
        F.round(pct[0], 4).alias("p50_tokens"),
        F.round(pct[1], 4).alias("p90_tokens"),
        F.round(pct[2], 4).alias("p99_tokens"),
    )


def _q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: logistic regression fit with 3
    full-batch gradient rounds on the deterministic hashed-embedding
    features (label: lang == 'en'), then every document scored. The
    oracle unrolls the identical gradient rounds as CTEs over the
    identical features — the whole fit is replayed in SQL."""
    from htmlparser2_spark.functions.embeddings import embed_docs
    from htmlparser2_spark.operators.classifier import (
        logreg_score,
        logreg_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = embed_docs(docs, dim=8, out_col="features").join(
        docs.select(
            "doc_id",
            # NULL-safe: a NULL lang is a labeled negative, exactly
            # like the oracle's CASE (== would yield NULL and trip
            # train-side validation).
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        ),
        "doc_id",
    )
    w = logreg_train(feats, dim=8, iters=3)
    return logreg_score(feats, w).select(
        "doc_id", F.round("score", 4).alias("en_score")
    )


def _q_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-prep tail (normalize -> chunk -> token-budget
    shard; span surgery has its own oracle and is skipped here so the
    chained CTE stays tractable). The oracle replays the entire chain
    per chunk: normalized tokens, window slicing, md5 of the exact
    chunk text, portable-hash shard group, running-total shard index."""
    from htmlparser2_spark.operators.sampling import portable_hash
    from htmlparser2_spark.plans.prep_job import run_prep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    chunks, _funnel = run_prep(
        docs,
        chunk_tokens=64,
        overlap=16,
        shard_tokens=1000,
        n_groups=8,
        shard_hash=portable_hash,
    )
    return chunks.select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
        "grp",
        "shard",
    )


def _q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup marking over the near-dup-style corpus (every
    10th doc re-injected with a 3-token prefix): shared 8-token spans
    recur across the pair, the lower id keeps, the injected copy's
    occurrences are marked. The oracle regroups on the actual span
    text, verifying the algorithm hash-independently."""
    from htmlparser2_spark.operators.spandedup import repeated_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extra = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("prefix words here "), F.col("text")).alias("text"),
    )
    uni = docs.select("doc_id", "text").unionByName(extra)
    return repeated_spans(uni, window=8, min_docs=2).select(
        F.col("id").alias("doc_id"), "pos", "n_docs"
    )


def _q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codepoint normalization over every document wrapped in a messy
    envelope (NBSP, curly quotes, ellipsis, control chars, tab runs) —
    the DuckDB oracle replays the identical translate/regexp chain on
    the identically-composed input."""
    from htmlparser2_spark.functions.normalize import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    messy = F.concat(
        F.lit(" “Q‘x’…\x01\t "),
        F.col("text"),
        F.lit(" \t—– \x02z "),
    )
    return docs.select("doc_id", normalize_text(messy).alias("norm_text"))


def _q_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, 16-token overlap)
    over every document; chunk text is md5'd so the oracle pins exact
    reassembly without bulk strings."""
    from htmlparser2_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ch = chunk_documents(docs, chunk_tokens=64, overlap=16)
    return ch.select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def _q_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-respecting paragraph chunk packing (operators/
    chunking.py pack_paragraph_chunks): each document becomes four
    paragraphs (text twice plus two fixed tails, blank-line joined),
    packed to a 24-token budget via the prefix-sum bucketing rule.
    The oracle replays the full algorithm — split, blank filter,
    token counts, exclusive prefix window, floor-bucket, ordered
    reassembly — as one DuckDB CTE chain; chunk text is md5'd so
    exact reassembly is pinned without bulk strings."""
    from htmlparser2_spark.operators.chunking import pack_paragraph_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inp = F.concat_ws(
        "\n\n",
        F.col("text"),
        F.lit("alpha beta gamma"),
        F.col("text"),
        F.lit("omega tail"),
    )
    out = pack_paragraph_chunks(
        docs.select("doc_id", inp.alias("text")), chunk_tokens=24
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def _q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embeddings (dim 8) for every document — the
    md5-based integer arithmetic is reproduced verbatim by the DuckDB
    oracle, so every component (rounded 6dp post-normalization) is
    value-checked per (doc_id, dim_idx). Exploded to scalar columns:
    the driver's pandas canonicalizer cannot sort array cells (the
    round-2 gate aborted here on ``unhashable type: 'list'``)."""
    from htmlparser2_spark.functions.embeddings import embed_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = embed_docs(docs, dim=8)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "val")
    ).select(
        "doc_id",
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.round("val", 6).alias("val"),
    )


def _q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: word-bigram model trained on the
    even-doc_id half of the corpus, every document scored by average
    ln-likelihood (odd docs hit the out-of-vocabulary floor, so both
    scoring branches are oracle-checked). ppl is deliberately excluded
    here: exp() magnifies cross-engine ULP noise past the rounding
    guard, while avg_logp compares exactly at 4dp."""
    from htmlparser2_spark.operators.lm_score import (
        lm_doc_scores,
        train_bigram_lm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return lm_doc_scores(docs, lm).select(
        F.col("id").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("avg_logp", 4).alias("avg_logp"),
    )


def _q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line + page filtering (operators/quality.py
    c4_line_filter — the published Raffel et al. rule list). Line
    structure is synthesized around the corpus text: per document,
    three lines that pass every rule, one too short, one without a
    terminal mark, one mentioning JavaScript; doc_id%3 adds a
    'lorem ipsum' line (kept per line rules, but kills the page) or a
    '{' code line (dropped AND kills the page). The oracle replays
    every rule over the same synthesized lines in DuckDB — decisions
    AND the surviving text (md5) are value-checked."""
    from htmlparser2_spark.operators.quality import c4_line_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    syn = F.concat(
        F.lit("Intro sentence number "), ids, F.lit(" stands complete."),
        nl, F.lit("Too short."),
        nl, F.lit("this line number "), ids, F.lit(" has no terminal mark"),
        nl, F.lit("Please enable JavaScript to view document "), ids,
        F.lit("."),
        nl, F.lit("Does document "), ids, F.lit(" close with a question?"),
        nl, F.lit("Closing remark for document "), ids, F.lit(" indeed!"),
        F.when(F.col("doc_id") % 3 == 1,
               F.concat(nl, F.lit("We need lorem ipsum filler here.")))
        .when(F.col("doc_id") % 3 == 2,
              F.concat(nl, F.lit("function f() { return 1; }")))
        .otherwise(F.lit("")),
    )
    filtered = c4_line_filter(docs.select("doc_id", syn.alias("text")))
    return filtered.select(
        F.col("id").alias("doc_id"),
        F.col("n_lines_kept").cast("int").alias("n_lines_kept"),
        "keep_page",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


def _q_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing, SCALE-SAFE shape
    (operators/lm_score.py perplexity_buckets_by_cutoff): the
    q_lm_score model (trained on even doc_ids) scores every document;
    per-language tercile cutoffs come from one exact-percentile hash
    aggregate (a tiny broadcast table — no Window, no per-language
    sort task, so the dominant language can never serialize onto one
    executor at 100 TB); bucket assignment is map-only. The oracle
    replays the training arithmetic, quantile_cont cutoffs, and the
    same rounded-boundary comparison in DuckDB. The ntile-based
    perplexity_buckets stays available as the exact equal-count
    calibration path (tests/test_lm_score.py covers both)."""
    from htmlparser2_spark.operators.lm_score import (
        lm_doc_scores,
        perplexity_buckets_by_cutoff,
        train_bigram_lm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    scored = lm_doc_scores(docs, lm).join(
        docs.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    b = perplexity_buckets_by_cutoff(scored, part_col="lang")
    return b.select(
        F.col("id").alias("doc_id"),
        "lang",
        F.col("bucket").cast("int").alias("bucket"),
        "bucket_label",
    )


def _q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style mojibake repair (functions/normalize.py
    fix_mojibake): odd doc_ids get their text double-encoded
    (UTF-8 bytes decoded as latin-1 — Spark-side, with 2/3/4-byte
    sequences via the appended suffix) and must repair to the clean
    original; even doc_ids stay clean and must pass through the
    operator untouched. The oracle is the clean text itself — a
    roundtrip identity that never computes the corruption."""
    from htmlparser2_spark.functions.normalize import fix_mojibake

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clean = F.concat(F.col("text"), F.lit(" café — 中文 №42 🚀"))
    moji = F.decode(F.encode(clean, "UTF-8"), "ISO-8859-1")
    inp = F.when(F.col("doc_id") % 2 == 0, clean).otherwise(moji)
    return docs.select("doc_id", fix_mojibake(inp).alias("fixed"))


def _q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain/keyword blocklist admission (operators/
    blocklist.py): doc_id%4==1 pages move to a cdn. subdomain (must
    still be caught by the parent-domain entry via the suffix chain),
    doc_id%4==2 pages gain a ?utm_tracker query (keyword rule). The
    oracle predicts every decision from the url-synthesis arithmetic —
    domain wins over keyword."""
    from htmlparser2_spark.operators.blocklist import blocklist_admission

    pages = build_pages(spark, sf_dir, with_doc_id=True)
    variant = F.col("doc_id") % 4
    url2 = (
        F.when(
            variant == 1,
            F.regexp_replace(F.col("url"), "^https://", "https://cdn."),
        )
        .when(variant == 2, F.concat(F.col("url"), F.lit("?utm_tracker=1")))
        .otherwise(F.col("url"))
    )
    blocked = spark.createDataFrame(
        [("host7.example",), ("host13.example",)], "dom string"
    )
    out = blocklist_admission(
        pages.select("doc_id", url2.alias("url")),
        blocked,
        keywords=["tracker"],
    )
    return out.select("doc_id", "blocked_reason", "admitted")


def _q_serialize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getOuterHTML coverage: parse -> serialize -> reparse -> extract
    must still be byte-identical to the golden text."""
    from htmlparser2_spark.operators.domquery import outer_html

    pages = build_pages(spark, sf_dir)
    rendered = outer_html(pages)
    reparsed = extract_text_udf()(F.encode(F.col("outer_html"), "utf-8"))
    return rendered.select("url", reparsed.alias("text_out"))


def _q_dom_manip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DomUtils manipulation roundtrip over every page (reference
    "Modifying the DOM" surface, README.md:218): replaceElement
    (style -> nostyle, subtree dropped), prependChild + appendChild on
    body, append after h1/ul/table, prepend before a/img/textarea —
    then serialize the mutated adjacency table. The oracle rebuilds
    the predicted post-mutation markup per template variant, so fresh-
    id allocation, sibling renumbering, subtree removal, and the
    serializer contract are all hash-checked per document."""
    from htmlparser2_spark.operators.dommanip import (
        append,
        append_child,
        prepend,
        prepend_child,
        replace_element,
        serialize_nodes,
    )
    from htmlparser2_spark.operators.domquery import explode_nodes

    nodes = explode_nodes(build_pages(spark, sf_dir), with_ancestors=True)
    nodes = replace_element(
        nodes, lambda n: F.col("name") == "style",
        {"type": "tag", "name": "nostyle"},
    )
    nodes = prepend_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "text", "data": "HDR|"},
    )
    nodes = append_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "tag", "name": "footer", "attrs": {"role": "end"}},
    )
    nodes = append(
        nodes, lambda n: F.col("name").isin("h1", "ul", "table"),
        {"type": "tag", "name": "hr"},
    )
    nodes = prepend(
        nodes, lambda n: F.col("name").isin("a", "img", "textarea"),
        {"type": "text", "data": "[PRE]"},
    )
    return serialize_nodes(nodes).select("url", "manip_html")


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token counting (JVM regexp both sides)."""
    from htmlparser2_spark.functions.textstats import bpe_ish_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", F.size(bpe_ish_tokens("text")).alias("n_subtokens")
    )


def _q_host_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-host counting via explicit two-stage salted aggregation
    (host0 carries ~40% of rows by design)."""
    from htmlparser2_spark.operators.skew import salted_count

    pages = build_pages(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^.]+)\.", 1)
    out = salted_count(pages.select(host.alias("host")), "host", n_salts=8)
    return out.select("host", F.col("n").cast("long").alias("n"))


def _q_feed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked feed parsing: RSS documents synthesized per source
    (SQL shared with DuckDB), parsed with the feed UDF, fields compared
    against direct construction."""
    from htmlparser2_spark.functions.udfs import feed_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    item = F.concat(
        F.lit("<item><title>T"), F.col("doc_id").cast("string"),
        F.lit("</title><guid>g"), F.col("doc_id").cast("string"),
        F.lit("</guid></item>"),
    )
    per_source = (
        docs.select("source", "doc_id", F.struct("doc_id").alias("k"), item.alias("item"))
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "item"))),
                    lambda s: s["item"],
                ),
                "",
            ).alias("items_xml"),
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
        )
    )
    xml = F.concat(
        F.lit("<rss><channel><title>Channel "), F.col("source"),
        F.lit("</title><link>https://"), F.col("source"),
        F.lit(".example/</link><description>feed</description>"),
        F.col("items_xml"), F.lit("</channel></rss>"),
    )
    feeds = per_source.select("source", feed_udf()(xml).alias("f"))
    return feeds.select(
        "source",
        F.col("f.type").alias("feed_type"),
        F.col("f.title").alias("feed_title"),
        F.col("f.link").alias("feed_link"),
        F.size("f.items").alias("n_items"),
        F.col("f.items")[0]["id"].alias("first_guid"),
    )


def _q_feed_atom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atom-dialect feed parsing (self-closing <link href>, <subtitle>,
    <entry> items), oracle-checked like the RSS variant."""
    from htmlparser2_spark.functions.udfs import feed_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    entry = F.concat(
        F.lit("<entry><id>e"), F.col("doc_id").cast("string"),
        F.lit("</id><title>ET "), F.col("doc_id").cast("string"),
        F.lit('</title><link href="https://'), F.col("source"),
        F.lit(".example/e/"), F.col("doc_id").cast("string"),
        F.lit('"/></entry>'),
    )
    per_source = (
        docs.select(
            "source", "doc_id", F.struct("doc_id").alias("k"), entry.alias("entry")
        )
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "entry"))),
                    lambda s: s["entry"],
                ),
                "",
            ).alias("entries_xml"),
            F.min("doc_id").alias("min_id"),
        )
    )
    xml = F.concat(
        F.lit("<feed><id>urn:"), F.col("source"),
        F.lit("</id><title>Atom "), F.col("source"),
        F.lit('</title><link href="https://'), F.col("source"),
        F.lit('.example/atom"/><subtitle>sub</subtitle>'),
        F.col("entries_xml"), F.lit("</feed>"),
    )
    feeds = per_source.select("source", feed_udf()(xml).alias("f"))
    return feeds.select(
        "source",
        F.col("f.type").alias("feed_type"),
        F.col("f.id").alias("feed_id"),
        F.col("f.title").alias("feed_title"),
        F.col("f.link").alias("feed_link"),
        F.col("f.description").alias("feed_description"),
        F.size("f.items").alias("n_items"),
        F.col("f.items")[0]["link"].alias("first_entry_link"),
    )


def _q_feed_rdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF-dialect feed parsing (rdf:RDF root, items as channel
    siblings), completing RSS/Atom/RDF oracle coverage."""
    from htmlparser2_spark.functions.udfs import feed_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    item = F.concat(
        F.lit("<item><title>RT "), F.col("doc_id").cast("string"),
        F.lit("</title><link>https://"), F.col("source"),
        F.lit(".example/r/"), F.col("doc_id").cast("string"),
        F.lit("</link></item>"),
    )
    per_source = (
        docs.select(
            "source", "doc_id", F.struct("doc_id").alias("k"), item.alias("item")
        )
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "item"))),
                    lambda s: s["item"],
                ),
                "",
            ).alias("items_xml"),
            F.min("doc_id").alias("min_id"),
        )
    )
    xml = F.concat(
        F.lit("<rdf:RDF><channel><title>RDF "), F.col("source"),
        F.lit("</title><link>https://"), F.col("source"),
        F.lit(".example/rdf</link><description>d</description></channel>"),
        F.col("items_xml"), F.lit("</rdf:RDF>"),
    )
    feeds = per_source.select("source", feed_udf()(xml).alias("f"))
    return feeds.select(
        "source",
        F.col("f.type").alias("feed_type"),
        F.col("f.title").alias("feed_title"),
        F.col("f.link").alias("feed_link"),
        F.size("f.items").alias("n_items"),
        F.col("f.items")[0]["link"].alias("first_item_link"),
    )


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _q_user_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_event"))
    )


def _q_top_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = build_pages(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^.]+)\.", 1)
    return (
        pages.groupBy(host.alias("host"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("host"))
        .limit(5)
    )


def _q_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate over the TPC-H-ish tables (broadcast-friendly
    dimension join: orders side is pre-aggregated before joining)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_orderpriority"), 
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(revenue, 2).alias("revenue"),
        )
    )


def _q_extraction_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op regression diffing (exceptAll): rows whose extraction
    changed between two simulated runs."""
    pages = build_pages(spark, sf_dir, with_doc_id=True)
    run_a = pages.select("url", "text")
    run_b = pages.select(
        "url",
        F.when(F.col("doc_id") % 20 == 5, F.upper("text")).otherwise(
            F.col("text")
        ).alias("text"),
    )
    return run_a.exceptAll(run_b).select("url")


# Shared BPE gate parameters: the word-frequency cap bounds driver
# state (and the oracle's LIMIT) and 24 merges never exhausts the
# pair supply of a 200-word vocabulary, so the fixed-depth SQL unroll
# below and the (early-stop-capable) trainer always agree.
_BPE_TOP_WORDS = 200
_BPE_N_MERGES = 24


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (operators/bpe.py): word frequencies
    aggregated in Spark (one shuffle + TakeOrderedAndProject cap),
    merges learned on the driver over the capped table. The oracle
    replays EVERY round as chained CTEs — pair counts, the
    (count desc, lhs, rhs) argmax, and the brace-string replace —
    so the learned table is verified merge-for-merge."""
    from htmlparser2_spark.operators.bpe import (
        merges_to_df,
        train_bpe,
        word_frequencies,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    freqs = word_frequencies(docs, top_words=_BPE_TOP_WORDS)
    merges = train_bpe(freqs, n_merges=_BPE_N_MERGES)
    if len(merges) != _BPE_N_MERGES:
        # The oracle's fixed-depth CTE unroll cross-joins each round's
        # best pair; an exhausted round would silently empty every
        # downstream CTE. Fail HERE, naming the cause, instead.
        raise ValueError(
            f"BPE pair supply exhausted after {len(merges)} of "
            f"{_BPE_N_MERGES} merges — shrink _BPE_N_MERGES or raise "
            "_BPE_TOP_WORDS (the SQL oracle unrolls a fixed depth)"
        )
    return merges_to_df(spark, merges)


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoding with the learned BPE merges: one map-only
    Arrow-UDF projection (the memoized per-word kernel; no shuffle).
    The oracle replays training and then re-encodes every document
    through the ranked replaces as a CTE chain, comparing subword
    counts and the md5 of the full segmentation."""
    from htmlparser2_spark.operators.bpe import (
        encode_bpe,
        train_bpe,
        word_frequencies,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(
        word_frequencies(docs, top_words=_BPE_TOP_WORDS), _BPE_N_MERGES
    )
    if len(merges) != _BPE_N_MERGES:
        raise ValueError(
            f"BPE pair supply exhausted after {len(merges)} of "
            f"{_BPE_N_MERGES} merges — shrink _BPE_N_MERGES or raise "
            "_BPE_TOP_WORDS (the SQL oracle unrolls a fixed depth)"
        )
    enc = encode_bpe(docs, merges)
    return enc.select(
        "doc_id", "n_bpe", F.md5("bpe_seg").alias("seg_md5")
    )


# Deterministic BM25 gate query set over the corpus's SQL-flavored
# vocabulary (one multi-term, one with a term in every doc, one
# single-term, one with an out-of-vocabulary term — OOV terms carry
# no evidence and must simply not contribute).
_BM25_QUERIES = [
    ("q1", "fast table scan"),
    ("q2", "hash join merge"),
    ("q3", "window"),
    ("q4", "spark stream nosuchword"),
]


def _q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling over deterministically multilingual
    text (doc_id%4: untouched ASCII / repeated CJK / Cyrillic tail /
    Arabic-only). Counts are replayed generically by the oracle from
    the same SCRIPT_RANGES classes; the dominant script reconstructs
    from the variant arithmetic."""
    from htmlparser2_spark.functions.textstats import (
        dominant_script,
        script_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = F.col("doc_id") % 4
    synth = (
        F.when(v == 1, F.repeat(F.lit("你好世界 "), (F.col("doc_id") % 3 + 1).cast("int")))
        .when(v == 2, F.concat(F.col("text"), F.lit(" Привет мир")))
        .when(v == 3, F.lit("مرحبا بالعالم"))
        .otherwise(F.col("text"))
    )
    base = docs.select("doc_id", synth.alias("synth"))
    return base.select(
        "doc_id",
        dominant_script("synth").alias("dominant"),
        script_count("synth", "latin").cast("int").alias("n_latin"),
        script_count("synth", "cjk").cast("int").alias("n_cjk"),
        script_count("synth", "cyrillic").cast("int").alias("n_cyrillic"),
        script_count("synth", "arabic").cast("int").alias("n_arabic"),
    )


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard dataset-card manifest over the token-budget packing
    (operators/sampling.py shard_manifest): counts, token sums, id
    range, and an order-independent membership digest (md5 over the
    sorted per-doc md5(id:tokens) entries). The oracle replays the
    packing AND the digest."""
    from htmlparser2_spark.operators.sampling import (
        portable_hash,
        shard_manifest,
        token_budget_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    shards = token_budget_shards(
        docs,
        tokens_col="n_tokens",
        shard_tokens=500,
        n_groups=8,
        hash_expr=portable_hash(F.col("doc_id")),
    )
    m = shard_manifest(shards)
    return m.select(
        F.col("grp").cast("long").alias("grp"),
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "first_id",
        "last_id",
        "digest",
    )


def _q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index over synthesized WARC records (sources/cdx.py):
    SURT urlkeys, SHA-256 payload digests, and per-file byte offsets
    from the grouped prefix-sum window. The oracle re-synthesizes the
    records dual-dialect, replays the SURT reversal generically from
    the url string, and recomputes offsets with the same window."""
    from htmlparser2_spark.operators.sampling import portable_hash
    from htmlparser2_spark.sources.cdx import cdx_index
    from htmlparser2_spark.sources.warc import warc_pages_expr

    pages = build_pages(spark, sf_dir)
    recs = pages.selectExpr(
        "url", "warc_ts", "html", f"{warc_pages_expr('spark')} AS record"
    )
    return cdx_index(
        recs,
        payload_col="html",
        n_files=4,
        group_expr=portable_hash(F.col("url")),
    )


def _q_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-robots noindex/nofollow admission through the REAL parse
    path: per-document heads synthesized by doc_id%5 arithmetic —
    no meta / noindex+googlebot-nofollow (the OR union) / index,nofollow
    / uppercase NONE (implies both) / whitespace-and-comma googlebot
    noindex — parsed by explode_nodes, flagged by meta_robots_flags.
    The oracle reconstructs the flags from the same arithmetic."""
    from htmlparser2_spark.operators.domquery import explode_nodes
    from htmlparser2_spark.operators.robots import meta_robots_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = F.col("doc_id") % 5
    meta = (
        F.when(v == 1, F.lit(
            '<meta name="robots" content="noindex">'
            '<meta name="googlebot" content="nofollow">'
        ))
        .when(v == 2, F.lit('<meta name="robots" content="index, nofollow">'))
        .when(v == 3, F.lit('<meta name="ROBOTS" content="NONE">'))
        .when(v == 4, F.lit(
            '<meta name="googlebot" content=" noindex ,  follow ">'
        ))
        .otherwise(F.lit(""))
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><meta name="description" content="x">'),
            meta,
            F.lit("<title>t</title></head><body><p>hi</p></body></html>"),
        ).alias("html"),
    )
    nodes = explode_nodes(pages, key_col="doc_id")
    flags = meta_robots_flags(nodes, pages, url_col="doc_id")
    return flags.select(
        F.col("url").alias("doc_id"), "noindex", "nofollow", "admitted"
    )


def _q_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff LM scoring (Brants et al. 2007): bigram + unigram
    tiers trained on the even-doc_id half, every document scored. Odd
    docs exercise all three branches — seen bigram, unigram backoff,
    and the true-OOV floor. ppl excluded for the same exp()/ULP reason
    as q_lm_score."""
    from htmlparser2_spark.operators.lm_score import (
        backoff_doc_scores,
        train_bigram_lm,
        train_unigram_lm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    trusted = docs.filter(F.col("doc_id") % 2 == 0)
    scored = backoff_doc_scores(
        docs, train_bigram_lm(trusted), train_unigram_lm(trusted)
    )
    return scored.select(
        F.col("id").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("avg_logp", 4).alias("avg_logp"),
    )


def _q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mC4-style temperature rebalancing at alpha=0.5 (T=2) and a 60%
    token budget: rare languages upsample (copy > 1 rows appear),
    dominant ones downsample. The oracle recomputes the per-language
    rates from the same counts, replays the floor+Bernoulli copy
    arithmetic on the portable hash, and unrolls copies with
    generate_series."""
    from htmlparser2_spark.operators.sampling import (
        portable_hash,
        temperature_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_sample(
        docs,
        alpha=0.5,
        target_frac=0.6,
        strata_col="lang",
        key_col="doc_id",
        # '#copy'-salted: decorrelated from the bare-key draws the
        # other samplers threshold on (see temperature_sample docs).
        hash_expr=portable_hash(
            F.concat(F.col("doc_id").cast("string"), F.lit("#copy"))
        ),
    ).select("doc_id", "lang", "copy")


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (operators/ranking.py): scores rounded to
    4dp BEFORE ranking with doc-id tiebreak, salted partial top-k
    ahead of the exact per-query window. The oracle replays idf/tf
    weighting, rounding, and the rank cut; every float literal is
    CAST to DOUBLE (DuckDB bare decimals are DECIMAL-typed)."""
    from htmlparser2_spark.operators.ranking import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qdf = spark.createDataFrame(
        _BM25_QUERIES, "query_id string, query_text string"
    )
    return bm25_topk(docs, qdf, k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROUND-5 ROTATION (final). The driver gate verifies exactly the
    # FIRST 50 dict entries (every CORRECTNESS_r*.json is precisely
    # the then-first-50 keys). Window composition, 50 total:
    #   * 8 must-gate rows: q_cdx_index (its only driver row, r4, is
    #     RED — the oracle's un-cast HUGEINT offset, fixed this round)
    #     plus the 7 queries whose latest GREEN row is r1/r2
    #     (q_lm_score r2; q_bpe_tokens, q_events_hourly,
    #     q_host_counts_salted, q_priority_revenue, q_top_hosts,
    #     q_user_first_event r1) — the round-4 verdict's rotation ask,
    #   * 2 r3-green anchors the round-4 ledger displaced
    #     (q_extract_match, q_minhash_lsh) + the flagship
    #     q_extract_text (r4-green, continuity across rotations),
    #   * 4 queries whose code changes THIS round and must re-certify
    #     under it: q_bpe_train / q_bpe_encode (BPE encoder),
    #     q_bm25 (persist knob), q_script_profile (astral ranges),
    #   * 35 r3-only rows refreshed to r5 (oldest-green-first fill).
    # Displaced below the cap, every one holding an r4-green row:
    # the 30-strong "no r3 verdict" group gated in r4, the remaining
    # new-r4 queries (q_temperature_sample, q_lm_backoff,
    # q_meta_robots, q_shard_manifest), the 10 r4-re-certified
    # parse-path rows (feed trio, q_clean_text, q_inner_*, ...), and
    # 12 r3-green composites whose building blocks stay in the window
    # (q_ann_arrow, q_ivfpq_topk, q_dedup_pipeline, q_dup_clusters,
    # q_css_pseudo, q_curation_funnel, q_stratified_sample,
    # q_line_dedup, q_simhash, q_wet_roundtrip, q_dom_text_roundtrip,
    # q_rolling_fp). After this round's gate the cross-round union is
    # 106/106 green with every latest-green row r3-or-later.
    # tests/test_entry_oracle.py::test_gate_window_covers_all_queries
    # enforces both invariants mechanically: no query may live below
    # the cap without a GREEN driver row, and no below-cap query may
    # let its latest green row age past 3 rounds.
    return {
        # -- 8 must-gate (never-green / r1 / r2 latest rows) --
        "q_cdx_index": _q_cdx_index,
        "q_lm_score": _q_lm_score,
        "q_bpe_tokens": _q_bpe_tokens,
        "q_events_hourly": _q_events_hourly,
        "q_host_counts_salted": _q_host_counts_salted,
        "q_priority_revenue": _q_priority_revenue,
        "q_top_hosts": _q_top_hosts,
        "q_user_first_event": _q_user_first_event,
        # -- r3-green anchors + flagship --
        "q_extract_match": _q_extract_match,
        "q_minhash_lsh": _q_minhash_lsh,
        "q_extract_text": _q_extract_text,
        # -- code changing this round (re-certify under it) --
        "q_bpe_train": _q_bpe_train,
        "q_bpe_encode": _q_bpe_encode,
        "q_bm25": _q_bm25,
        "q_script_profile": _q_script_profile,
        # -- 35 r3-only rows refreshed to r5 --
        "q_ann_topk": _q_ann_topk,
        "q_bloom_decontam": _q_bloom_decontam,
        "q_comments": _q_comments,
        "q_contamination": _q_contamination,
        "q_css_select": _q_css_select,
        "q_dedup_exact": _q_dedup_exact,
        "q_descendants": _q_descendants,
        "q_doc_stats": _q_doc_stats,
        "q_element_siblings": _q_element_siblings,
        "q_embedding_dup": _q_embedding_dup,
        "q_fingerprint": _q_fingerprint,
        "q_gopher": _q_gopher,
        "q_host_stats": _q_host_stats,
        "q_image_meta": _q_image_meta,
        "q_ivf_topk": _q_ivf_topk,
        "q_keywords": _q_keywords,
        "q_lang_profile": _q_lang_profile,
        "q_langid": _q_langid,
        "q_links": _q_links,
        "q_near_dup_jaccard": _q_near_dup_jaccard,
        "q_p_class": _q_p_class,
        "q_para_dedup": _q_para_dedup,
        "q_pq_topk": _q_pq_topk,
        "q_quality": _q_quality,
        "q_quota_sample": _q_quota_sample,
        "q_redact": _q_redact,
        "q_repetition": _q_repetition,
        "q_resolve_links": _q_resolve_links,
        "q_tag_histogram": _q_tag_histogram,
        "q_title": _q_title,
        "q_token_shards": _q_token_shards,
        "q_token_stats": _q_token_stats,
        "q_url_canon": _q_url_canon,
        "q_vocab_topk": _q_vocab_topk,
        "q_warc_roundtrip": _q_warc_roundtrip,
        # ---- below the 50-row gate cap: every query here holds a
        #      GREEN r3-or-r4 driver row (see the function-top ledger) ----
        "q_hash_embed": _q_hash_embed,
        "q_dom_manip": _q_dom_manip,
        "q_serialize_roundtrip": _q_serialize_roundtrip,
        "q_pdf_text": _q_pdf_text,
        "q_main_content": _q_main_content,
        "q_dom_position": _q_dom_position,
        "q_remove_subsets": _q_remove_subsets,
        "q_table_cells": _q_table_cells,
        "q_charset": _q_charset,
        "q_markdown": _q_markdown,
        "q_sentences": _q_sentences,
        "q_meta_extract": _q_meta_extract,
        "q_c4_filter": _q_c4_filter,
        "q_lm_buckets": _q_lm_buckets,
        "q_blocklist": _q_blocklist,
        "q_mojibake": _q_mojibake,
        "q_chunks": _q_chunks,
        "q_chunk_pack": _q_chunk_pack,
        "q_normalize": _q_normalize,
        "q_repeated_spans": _q_repeated_spans,
        "q_prep": _q_prep,
        "q_quality_model": _q_quality_model,
        "q_corpus_stats": _q_corpus_stats,
        "q_anchor_text": _q_anchor_text,
        "q_robots": _q_robots,
        "q_crawl_delay": _q_crawl_delay,
        "q_frontier_polite": _q_frontier_polite,
        "q_sitemap": _q_sitemap,
        "q_robots_sitemaps": _q_robots_sitemaps,
        "q_frontier": _q_frontier,
        "q_clean_text": _q_clean_text,
        "q_inner_text": _q_inner_text,
        "q_inner_html": _q_inner_html,
        "q_prev_siblings": _q_prev_siblings,
        "q_node_types": _q_node_types,
        "q_host_rank": _q_host_rank,
        "q_feed_extract": _q_feed_extract,
        "q_feed_atom": _q_feed_atom,
        "q_feed_rdf": _q_feed_rdf,
        "q_extraction_diff": _q_extraction_diff,
        "q_temperature_sample": _q_temperature_sample,
        "q_lm_backoff": _q_lm_backoff,
        "q_meta_robots": _q_meta_robots,
        "q_shard_manifest": _q_shard_manifest,
        "q_ann_arrow": _q_ann_arrow,
        "q_simhash": _q_simhash,
        "q_dup_clusters": _q_dup_clusters,
        "q_dedup_pipeline": _q_dedup_pipeline,
        "q_stratified_sample": _q_stratified_sample,
        "q_curation_funnel": _q_curation_funnel,
        "q_wet_roundtrip": _q_wet_roundtrip,
        "q_css_pseudo": _q_css_pseudo,
        "q_line_dedup": _q_line_dedup,
        "q_ivfpq_topk": _q_ivfpq_topk,
        "q_dom_text_roundtrip": _q_dom_text_roundtrip,
        "q_rolling_fp": _q_rolling_fp,
    }


# ----------------------------------------------------------------------
# DuckDB oracles (ANSI SQL over the pre-registered parquet views).
# ----------------------------------------------------------------------

# Adjacent element pairs per page variant (derived from the templates
# in sources/pages.py; verified against the engine DOM per variant).
_SIBLING_PAIRS = [
    # (name, next_element, variant, per-doc count)
    ("head", "body", 0, 1), ("title", "script", 0, 1),
    ("script", "style", 0, 1), ("h1", "p", 0, 1), ("p", "a", 0, 1),
    ("ul", "p", 1, 1), ("li", "li", 1, 1), ("br", "img", 1, 1),
    ("table", "textarea", 2, 1), ("textarea", "div", 2, 1),
    ("tr", "tr", 2, 1),
]

_TAG_COUNTS = [
    # (name, variant, per-doc count)
    ("html", 0, 1), ("head", 0, 1), ("title", 0, 1), ("script", 0, 1),
    ("style", 0, 1), ("body", 0, 1), ("h1", 0, 1), ("p", 0, 1), ("a", 0, 1),
    ("html", 1, 1), ("body", 1, 1), ("ul", 1, 1), ("li", 1, 2), ("p", 1, 1),
    ("br", 1, 1), ("img", 1, 1),
    ("html", 2, 1), ("body", 2, 1), ("table", 2, 1), ("tr", 2, 2),
    ("td", 2, 2), ("textarea", 2, 1), ("div", 2, 1),
]


def _bloom_decontam_sql(*, m_bits: int, k: int) -> str:
    """Oracle for q_bloom_decontam: rebuilds the Bloom filter from the
    same portable md5 probes (operators/contamination.py `_probe_hash`
    — hash of ``shingle || '#i'``, mod ``m_bits``). A filter bit is set
    iff its position is in the benchmark's probe-position set, so
    set-membership on positions replays the Spark side's bitset test
    decision-for-decision — false positives (two different shingles
    colliding on all ``k`` positions) reproduce identically because
    both engines compute the same positions."""

    def probe(i: int) -> str:
        return (
            f"('0x' || substr(md5(shingle || '#{i}'), 1, 15))::BIGINT"
            f" % {m_bits}"
        )

    probes = ", ".join(probe(i) for i in range(k))
    return (
        "WITH dsh AS (SELECT doc_id, unnest(list_distinct("
        "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
        "toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || "
        "toks[i+6] || ' ' || toks[i+7] "
        "for i in generate_series(1, len(toks) - 7)])) AS shingle "
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
        "FROM documents)), "
        f"bpos AS (SELECT DISTINCT unnest([{probes}]) AS pos "
        "FROM (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 50 = 0)), "
        f"prb AS (SELECT doc_id, shingle, unnest([{probes}]) AS pos "
        "FROM dsh), "
        "shhit AS (SELECT p.doc_id, p.shingle, "
        "bool_and(b.pos IS NOT NULL) AS hit "
        "FROM prb p LEFT JOIN bpos b USING (pos) GROUP BY 1, 2), "
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, "
        "CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_flagged "
        "FROM shhit GROUP BY 1) "
        "SELECT d.doc_id, "
        "CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles, "
        "CAST(COALESCE(a.n_flagged, 0) AS BIGINT) AS n_flagged, "
        "COALESCE(a.n_flagged, 0) > 0 AS contaminated "
        "FROM documents d LEFT JOIN agg a USING (doc_id)"
    )


def _hash_embed_ctes(dim: int = 8, carry: str = "") -> str:
    """Shared DuckDB CTE chain mirroring functions/embeddings.py
    (portable md5 hash, h mod 2*dim bucket+sign, L2 norm): ends at
    ``hn`` = (doc_id{carry}, v, nrm). Single source of truth for the
    q_hash_embed and q_quality_model oracles — the sign convention is
    subtle enough (see the embeddings module docstring) that two
    hand-maintained copies would drift."""
    c = f", {carry}" if carry else ""
    return (
        f"ht AS (SELECT doc_id{c}, {_TOKS} AS toks FROM documents), "
        f"hp AS (SELECT doc_id{c}, list_transform(toks, tk -> "
        f"('0x' || substr(md5(tk), 1, 15))::BIGINT % {2 * dim}) AS hs "
        "FROM ht), "
        f"hraw AS (SELECT doc_id{c}, "
        "[COALESCE(list_sum(list_transform(hs, "
        f"h -> CASE WHEN h % {dim} = i THEN "
        f"(CASE WHEN h >= {dim} THEN -1.0 ELSE 1.0 END) ELSE 0.0 END)), 0.0) "
        f"for i in generate_series(0, {dim - 1})] AS v FROM hp), "
        f"hn AS (SELECT doc_id{c}, v, "
        "sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM hraw)"
    )


def _quality_model_sql(iters: int = 3, dim: int = 8, lr: float = 1.0) -> str:
    """Unrolled logistic-regression oracle: hashed-embedding features
    (unrounded — the same exact doubles the Spark side trains on),
    then ``iters`` full-batch gradient CTE rounds mirroring
    operators/classifier.logreg_train, then the final score."""

    def dot(alias: str) -> str:
        # The weight row arrives via a CROSS JOIN (one row), never as
        # per-term scalar subqueries — each scalar subquery re-expands
        # the whole upstream CTE chain in DuckDB, which multiplies to
        # (dim+1)^iters feats scans and never finishes.
        terms = [
            f"f[{i + 1}] * {alias}.c{i}" for i in range(dim)
        ] + [f"{alias}.c{dim}"]
        return " + ".join(terms)

    sql = (
        f"WITH {_hash_embed_ctes(dim, carry='lang')}, "
        "feats AS (SELECT doc_id, "
        "CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS f, "
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM hn), "
        "w0 AS (SELECT "
        + ", ".join(f"0.0 AS c{i}" for i in range(dim + 1))
        + ")"
    )
    for k in range(1, iters + 1):
        prev = f"w{k - 1}"
        sql += (
            f", sc{k} AS (SELECT doc_id, f, y, "
            f"1.0 / (1.0 + exp(-({dot('w')}))) AS p "
            f"FROM feats, {prev} w)"
            f", g{k} AS (SELECT COUNT(*) AS n, "
            + ", ".join(
                f"SUM((y - p) * f[{i + 1}]) AS s{i}" for i in range(dim)
            )
            + f", SUM(y - p) AS s{dim} FROM sc{k})"
            f", w{k} AS (SELECT "
            + ", ".join(
                f"w.c{i} + {lr!r} * g.s{i} / g.n AS c{i}"
                for i in range(dim + 1)
            )
            + f" FROM g{k} g, {prev} w)"
        )
    return (
        sql
        + " SELECT doc_id, round(1.0 / (1.0 + "
        f"exp(-({dot('w')}))), 4) AS en_score "
        f"FROM feats, w{iters} w"
    )


_ROBOTS_ALLOWED_CASE = (
    "CASE (CASE WHEN doc_id % 5 < 2 THEN 0 ELSE doc_id % 41 END) % 4 "
    "WHEN 1 THEN FALSE "
    "WHEN 3 THEN (CAST(doc_id AS STRING) NOT LIKE '1%' "
    "OR CAST(doc_id AS STRING) LIKE '12%') "
    "ELSE TRUE END"
)


def _host_rank_ctes(iters: int = 3, damping: float = 0.85) -> str:
    """Unrolled PageRank CTE chain (appended after the pages CTE):
    edge list from the synthesis arithmetic (V0 anchors ->
    example.com, V1 relative img -> self loop), then ``iters``
    power-method rounds mirroring operators/linkgraph.pagerank exactly
    (same dangling handling). The final rank vector is ``r{iters}``."""
    host = "regexp_extract(url, 'https://([^/]+)', 1)"
    sql = (
        f"links AS (SELECT {host} AS src, "
        f"CASE WHEN doc_id % 3 = 0 THEN 'example.com' ELSE {host} END AS dst "
        "FROM pages WHERE doc_id % 3 IN (0, 1)), "
        "edges AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w "
        "FROM links GROUP BY 1, 2), "
        "nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges), "
        "outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1), "
        "trans AS (SELECT src, dst, w / ow AS p FROM edges JOIN outw USING (src)), "
        "prm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes), "
        "r0 AS (SELECT host, 1.0 / (SELECT n FROM prm) AS r FROM nodes)"
    )
    base = f"{1.0 - damping!r} / (SELECT n FROM prm)"
    for k in range(1, iters + 1):
        p = k - 1
        sql += (
            f", d{p} AS (SELECT COALESCE(SUM(r), 0) AS dm FROM r{p} "
            "WHERE host NOT IN (SELECT src FROM outw))"
            f", c{k} AS (SELECT t.dst AS host, SUM(t.p * r.r) AS c "
            f"FROM trans t JOIN r{p} r ON r.host = t.src GROUP BY 1)"
            f", r{k} AS (SELECT n.host, {base} + {damping!r} * "
            f"(COALESCE(c.c, 0) + (SELECT dm FROM d{p}) / (SELECT n FROM prm)) AS r "
            f"FROM nodes n LEFT JOIN c{k} c ON c.host = n.host)"
        )
    return sql


def _host_rank_sql(iters: int = 3) -> str:
    return (
        f"WITH {_PAGES_CTE}, {_host_rank_ctes(iters)} "
        f"SELECT host, round(r, 6) AS rank FROM r{iters}"
    )


def _frontier_sql(
    iters: int = 3, budget: int = 5, window_sec: float | None = None
) -> str:
    """q_frontier oracle: the canonical stage collapses the injected
    #fragment duplicates back onto the pages urls, so admission,
    rank join, and the per-host budget window chain directly off the
    pages table + the shared rank CTEs. With ``window_sec``, the
    budget tightens per host by the Crawl-delay arithmetic of the
    synthesized bodies: m==3 hosts carry a 1.5s star delay (the m==1
    trainbot delay never reaches the frontier — those hosts are
    robots-blocked; m==0's directive is unparseable -> budget only)."""
    lim: str | int = budget
    if window_sec is not None:
        cap3 = int(window_sec // 1.5)
        lim = (
            f"least({budget}, CASE WHEN "
            "CAST(regexp_extract(host, 'host(\\d+)', 1) AS INTEGER) % 4 = 3 "
            f"THEN {cap3} ELSE {budget} END)"
        )
    return (
        f"WITH {_PAGES_CTE}, {_host_rank_ctes(iters)}, "
        f"adm AS (SELECT url FROM pages WHERE {_ROBOTS_ALLOWED_CASE}), "
        "j AS (SELECT url, regexp_extract(url, 'https://([^/]+)', 1) AS host "
        "FROM adm), "
        "rk AS (SELECT j.url, j.host, "
        f"COALESCE(round(r{iters}.r, 6), 0.0) AS host_rank "
        f"FROM j LEFT JOIN r{iters} ON r{iters}.host = j.host), "
        "pos AS (SELECT url, host, host_rank, "
        "row_number() OVER (PARTITION BY host ORDER BY url) AS host_pos "
        "FROM rk) "
        "SELECT url, host, host_rank, CAST(host_pos AS INTEGER) AS host_pos "
        f"FROM pos WHERE host_pos <= {lim}"
    )


_ANN_TOPK_SQL = (
    "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), "
    "c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10), "
    "sims AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "list_cosine_similarity(q.embedding, c.embedding) AS sim FROM q CROSS JOIN c) "
    "SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, round(sim, 4) AS sim FROM ("
    "SELECT query_id, neighbor_id, sim, "
    "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank "
    "FROM sims) WHERE rank <= 5"
)


def _bpe_training_ctes(*, top_words: int, n_merges: int) -> str:
    """CTE chain replaying BPE merge training (operators/bpe.py
    `train_bpe_on_freqs`) in DuckDB: word frequencies with the same
    (freq desc, word asc) cap, brace-delimited character
    segmentations, then per merge round k — weighted adjacent-pair
    counts (parallel unnest of the two shifted symbol slices), the
    (cnt desc, l, r) argmax, and the single left-to-right `replace`
    that IS canonical merge application under brace delimiters.
    Defines wf, seg0..segN, pairs1..N, best1..N."""
    parts = [
        "wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM ("
        "SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), "
        "'[a-z]+')) AS word FROM documents) GROUP BY word "
        f"ORDER BY freq DESC, word LIMIT {top_words})",
        "seg0 AS MATERIALIZED (SELECT word, freq, "
        r"regexp_replace(word, '(.)', '{\1}', 'g') || '{</w>}' AS seg "
        "FROM wf)",
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"pairs{k} AS MATERIALIZED (SELECT l, r, SUM(freq) AS cnt FROM ("
            "SELECT unnest(syms[1:len(syms)-1]) AS l, "
            "unnest(syms[2:len(syms)]) AS r, freq FROM ("
            r"SELECT regexp_extract_all(seg, '\{([^}]*)\}', 1) AS syms, "
            f"freq FROM seg{k - 1})) GROUP BY l, r)"
        )
        parts.append(
            f"best{k} AS MATERIALIZED (SELECT l, r, cnt FROM pairs{k} "
            "ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"seg{k} AS MATERIALIZED (SELECT word, freq, replace(seg, "
            "'{' || l || '}{' || r || '}', '{' || l || r || '}') AS seg "
            f"FROM seg{k - 1}, best{k})"
        )
    return ", ".join(parts)


def _bpe_train_sql(*, top_words: int, n_merges: int) -> str:
    ctes = _bpe_training_ctes(top_words=top_words, n_merges=n_merges)
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, l AS lhs, "
        f"r AS rhs, CAST(cnt AS BIGINT) AS pair_freq FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return f"WITH {ctes} {union}"


def _bpe_encode_sql(*, top_words: int, n_merges: int) -> str:
    """Training CTEs + a per-document chain applying the learned
    merges in rank order (the original subword-nmt encoder)."""
    parts = [_bpe_training_ctes(top_words=top_words, n_merges=n_merges)]
    parts.append(
        "d0 AS MATERIALIZED (SELECT doc_id, coalesce(list_aggregate(list_transform("
        "regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'), "
        r"w -> regexp_replace(w, '(.)', '{\1}', 'g') || '{</w>}'), "
        "'string_agg', ''), '') AS seg FROM documents)"
    )
    for k in range(1, n_merges + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT doc_id, replace(seg, "
            "'{' || l || '}{' || r || '}', '{' || l || r || '}') AS seg "
            f"FROM d{k - 1}, best{k})"
        )
    return (
        f"WITH {', '.join(parts)} SELECT doc_id, "
        "CAST(length(seg) - length(replace(seg, '{', '')) AS INTEGER) "
        f"AS n_bpe, md5(seg) AS seg_md5 FROM d{n_merges}"
    )


def _bm25_sql(*, k: int, k1: float, b: float) -> str:
    """Full BM25 replay: shared token convention, length carried
    through the explode, Lucene idf, 4dp round BEFORE the rank cut.
    Every float literal CAST to DOUBLE — DuckDB types bare decimal
    literals as DECIMAL and its fixed-point division would diverge
    from Spark's double arithmetic."""
    qvals = ", ".join(f"('{i}', '{t}')" for i, t in _BM25_QUERIES)
    toks = ORACLE_TOKENS_SQL.format(col="text")

    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    return (
        f"WITH q(query_id, query_text) AS (VALUES {qvals}), "
        "qt AS (SELECT DISTINCT query_id, unnest("
        + ORACLE_TOKENS_SQL.format(col="query_text")
        + ") AS token FROM q), "
        f"pd AS (SELECT id, dl, token, CAST(count(*) AS BIGINT) AS tf "
        f"FROM (SELECT doc_id AS id, len({toks}) AS dl, "
        f"unnest({toks}) AS token FROM documents) GROUP BY id, dl, token), "
        f"stats AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus, "
        f"avg(CAST(len({toks}) AS DOUBLE)) AS avgdl FROM documents), "
        "dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM pd "
        "WHERE token IN (SELECT token FROM qt) GROUP BY token), "
        "sc AS (SELECT qt.query_id, pd.id, round(SUM("
        f"ln({d(1.0)} + (stats.n_corpus - dft.df + {d(0.5)}) / "
        f"(dft.df + {d(0.5)})) * (pd.tf * {d(1.0 + k1)} / "
        f"(pd.tf + {d(k1)} * ({d(1.0 - b)} + {d(b)} * pd.dl / stats.avgdl)))"
        "), 4) AS score "
        "FROM pd JOIN qt USING (token) JOIN dft USING (token) "
        "CROSS JOIN stats GROUP BY qt.query_id, pd.id) "
        "SELECT query_id, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY score DESC, id) AS INTEGER) "
        "AS rank, id AS doc_id, score FROM sc "
        f"QUALIFY rank <= {k}"
    )


def _script_profile_sql() -> str:
    """Counts AND the dominant-script argmax replayed generically from
    the shared SCRIPT_RANGES classes (identical under Java regex and
    RE2): the fold over dict order mirrors dominant_script exactly —
    including ties, the 'none' fallback, and scripts outside the four
    reported columns — so the oracle stays correct for ANY future
    corpus content, not just the current synthesis arithmetic."""
    from htmlparser2_spark.functions.textstats import SCRIPT_RANGES

    names = list(SCRIPT_RANGES)
    cnt_cols = ", ".join(
        f"CAST(len(regexp_extract_all(synth, '[{cls}]')) AS INTEGER) "
        f"AS n_{n}"
        for n, cls in SCRIPT_RANGES.items()
    )
    fold = f"SELECT *, '{names[0]}' AS bn, n_{names[0]} AS bc FROM counts"
    for n in names[1:]:
        fold = (
            f"SELECT * REPLACE("
            f"CASE WHEN n_{n} > bc THEN '{n}' ELSE bn END AS bn, "
            f"CASE WHEN n_{n} > bc THEN n_{n} ELSE bc END AS bc) "
            f"FROM ({fold})"
        )
    return (
        "WITH base AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER) "
        "WHEN 1 THEN repeat('\u4f60\u597d\u4e16\u754c ', "
        "CAST(doc_id % 3 + 1 AS INTEGER)) "
        "WHEN 2 THEN text || ' \u041f\u0440\u0438\u0432\u0435\u0442 "
        "\u043c\u0438\u0440' "
        "WHEN 3 THEN '\u0645\u0631\u062d\u0628\u0627 "
        "\u0628\u0627\u0644\u0639\u0627\u0644\u0645' "
        "ELSE text END AS synth FROM documents), "
        f"counts AS (SELECT doc_id, {cnt_cols} FROM base) "
        "SELECT doc_id, CASE WHEN bc > 0 THEN bn ELSE 'none' END "
        "AS dominant, n_latin, n_cjk, n_cyrillic, n_arabic "
        f"FROM ({fold})"
    )


def oracle_sql() -> dict[str, str]:
    from htmlparser2_spark.sources.warc import warc_pages_expr

    warc_rec = warc_pages_expr("duckdb")
    tag_values = ", ".join(f"('{n}', {v}, {k})" for n, v, k in _TAG_COUNTS)
    sib_values = ", ".join(
        f"('{n}', '{nxt}', {v}, {k})" for n, nxt, v, k in _SIBLING_PAIRS
    )
    return {
        "q_bpe_train": _bpe_train_sql(
            top_words=_BPE_TOP_WORDS, n_merges=_BPE_N_MERGES
        ),
        "q_bpe_encode": _bpe_encode_sql(
            top_words=_BPE_TOP_WORDS, n_merges=_BPE_N_MERGES
        ),
        "q_bm25": _bm25_sql(k=10, k1=1.2, b=0.75),
        "q_script_profile": _script_profile_sql(),
        "q_shard_manifest": (
            # Packing replay (the q_token_shards CTE) + the manifest
            # aggregate: DuckDB's list() -> list_sort -> string_agg
            # mirrors sort_array(collect_list) -> array_join exactly.
            "WITH t AS (SELECT doc_id, "
            "len(string_split(text, ' ')) AS n_tokens, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 "
            "AS grp FROM documents), "
            "s AS (SELECT doc_id, n_tokens, grp, "
            "CAST(floor((SUM(n_tokens) OVER (PARTITION BY grp "
            "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW) - n_tokens) / 500.0) AS BIGINT) AS shard FROM t) "
            "SELECT grp, shard, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, "
            "MIN(doc_id) AS first_id, MAX(doc_id) AS last_id, "
            "md5(coalesce(list_aggregate(list_sort(list("
            "md5(CAST(doc_id AS VARCHAR) || ':' || "
            "CAST(n_tokens AS VARCHAR)))), 'string_agg', ''), '')) "
            "AS digest FROM s GROUP BY grp, shard"
        ),
        "q_cdx_index": (
            # SURT reversal replayed generically from the url string
            # (synthesized urls carry no query/port/www, lowercase by
            # construction); offsets via the same grouped prefix-sum
            # window; digest/length over the dual-dialect record bytes.
            f"WITH {_PAGES_CTE}, base AS (SELECT "
            "array_to_string(list_reverse(string_split("
            "regexp_extract(url, '^https://([^/]+)/', 1), '.')), ',') "
            "|| ')' || regexp_extract(url, '^https://[^/]*(/.*)$', 1) "
            "AS urlkey, "
            "strftime(warc_ts, '%Y%m%d%H%M%S') AS ts14, url, "
            "sha256(page_str) AS digest, "
            "'crawl-' || lpad(CAST("
            "('0x' || substr(md5(url), 1, 15))::BIGINT % 4 AS VARCHAR), "
            "5, '0') || '.warc' AS filename, "
            f"CAST(octet_length(encode({warc_rec})) AS BIGINT) AS length "
            "FROM pages) "
            # The window SUM must be cast: DuckDB's SUM(BIGINT) returns
            # HUGEINT, which pandas renders as float64 while Spark emits
            # bigint — the driver's hash is dtype-sensitive and flagged
            # exactly this in round 4 (the replica now asserts dtype-kind
            # parity so the class cannot recur).
            "SELECT urlkey, ts14, url, digest, filename, "
            "CAST(SUM(length) OVER (PARTITION BY filename "
            "ORDER BY urlkey, ts14, url, digest, length "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - length "
            "AS BIGINT) AS offset, length FROM base"
        ),
        "q_meta_robots": (
            # Flags reconstruct from the synthesis arithmetic: variant
            # 1 ORs two metas, 3 is NONE (both), 4 survives the
            # whitespace/comma tokenization; 0 and 2 stay admitted.
            "SELECT doc_id, "
            "(doc_id % 5) IN (1, 3, 4) AS noindex, "
            "(doc_id % 5) IN (1, 2, 3) AS nofollow, "
            "NOT ((doc_id % 5) IN (1, 3, 4)) AS admitted "
            "FROM documents"
        ),
        "q_lm_backoff": (
            # q_lm_score's replay plus the unigram tier: unseen bigram
            # -> ln(0.4) + ln P(w2), true OOV -> the ln(1e-6) floor.
            "WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), "
            "x -> x <> '') AS t FROM documents), "
            "bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] "
            "for i in generate_series(1, len(t) - 1)]) AS bigram FROM toks), "
            "dbg AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2), "
            "c2 AS (SELECT bigram, SUM(cnt) AS c2 FROM dbg "
            "WHERE doc_id % 2 = 0 GROUP BY 1), "
            "ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, bigram, c2 FROM c2), "
            "c1 AS (SELECT w1, SUM(c2) AS c1 FROM ctx GROUP BY 1), "
            "lm AS (SELECT bigram, ln(CAST(c2 AS DOUBLE) / c1) AS logp "
            "FROM ctx JOIN c1 USING (w1)), "
            "uni AS (SELECT token, COUNT(*) AS cu FROM ("
            "SELECT unnest(t) AS token FROM toks WHERE doc_id % 2 = 0) "
            "GROUP BY 1), "
            "tot AS (SELECT SUM(cu) AS t_tokens FROM uni), "
            "ulm AS (SELECT token, ln(CAST(cu AS DOUBLE) / t_tokens) "
            "AS logp_uni FROM uni, tot), "
            "sc AS (SELECT doc_id, SUM(cnt) AS n_bigrams, "
            "SUM(cnt * COALESCE(logp, ln(CAST(0.4 AS DOUBLE)) + logp_uni, "
            "ln(1e-6))) / SUM(cnt) AS avg "
            "FROM dbg LEFT JOIN lm USING (bigram) "
            "LEFT JOIN ulm ON string_split(bigram, ' ')[2] = ulm.token "
            "GROUP BY 1) "
            "SELECT d.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams, "
            "round(avg, 4) AS avg_logp FROM documents d LEFT JOIN sc USING (doc_id)"
        ),
        "q_temperature_sample": (
            # Rate arithmetic mirrored float-op-for-float-op (the N^a
            # factor cancels in q_l, so the normalizer reduces over raw
            # counts); copies unrolled with generate_series (empty when
            # n_copies = 0, exactly like the guarded Spark sequence).
            "WITH cnt AS (SELECT lang AS stratum, "
            "CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY lang), "
            "tot AS (SELECT SUM(n_l) AS n, SUM(pow(CAST(n_l AS DOUBLE), "
            "CAST(0.5 AS DOUBLE))) AS z_num FROM cnt), "
            "rates AS (SELECT stratum, CAST(0.6 AS DOUBLE) * n * "
            "(pow(CAST(n_l AS DOUBLE), CAST(0.5 AS DOUBLE)) / z_num) / n_l "
            "AS rate FROM cnt, tot), "
            "base AS (SELECT d.doc_id, d.lang, "
            "CAST(floor(r.rate) AS BIGINT) + CASE WHEN "
            "('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#copy'), 1, 15))"
            "::BIGINT % 1000000 < round((r.rate - floor(r.rate)) * 1000000) "
            "THEN 1 ELSE 0 END AS n_copies "
            "FROM documents d JOIN rates r "
            "ON d.lang IS NOT DISTINCT FROM r.stratum) "
            "SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) "
            "AS INTEGER) AS copy FROM base"
        ),
        "q_extract_text": f"WITH {_PAGES_CTE} SELECT url, text AS text_out FROM pages",
        "q_extract_match": (
            f"WITH {_PAGES_CTE} SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(count(*) AS BIGINT) AS n_match FROM pages"
        ),
        "q_title": (
            f"WITH {_PAGES_CTE} SELECT url, 'Doc ' || CAST(doc_id AS STRING) AS title "
            "FROM pages WHERE doc_id % 3 = 0"
        ),
        "q_tag_histogram": (
            f"WITH {_PAGES_CTE}, tag_counts(name, variant, k) AS (VALUES {tag_values}) "
            "SELECT c.name AS name, CAST(SUM(c.k) AS BIGINT) AS cnt "
            "FROM pages p JOIN tag_counts c ON p.doc_id % 3 = c.variant "
            "GROUP BY c.name"
        ),
        "q_links": (
            f"WITH {_PAGES_CTE} SELECT url, "
            "'https://example.com/doc/' || CAST(doc_id AS STRING) AS href "
            "FROM pages WHERE doc_id % 3 = 0"
        ),
        "q_p_class": (
            f"WITH {_PAGES_CTE} SELECT url, "
            "CASE WHEN doc_id % 3 = 0 THEN 'c' || CAST(doc_id % 7 AS STRING) END AS p_class "
            "FROM pages WHERE doc_id % 3 IN (0, 1)"
        ),
        "q_comments": (
            f"WITH {_PAGES_CTE} SELECT url, "
            "CASE WHEN doc_id % 3 = 0 THEN ' src:' || "
            "(SELECT source FROM documents d WHERE d.doc_id = pages.doc_id) || ' ' "
            "ELSE '?bogus ' || CAST(doc_id AS STRING) END AS comment_data "
            "FROM pages WHERE doc_id % 3 IN (0, 2)"
        ),
        "q_doc_stats": (
            f"WITH {_PAGES_CTE} SELECT url, "
            "CAST(CASE doc_id % 3 WHEN 0 THEN 9 WHEN 1 THEN 8 ELSE 9 END AS INTEGER) AS n_tags, "
            "CAST(length(text) AS INTEGER) AS text_len FROM pages"
        ),
        "q_lang_profile": (
            f"WITH {_PAGES_CTE} SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "round(avg(length(text)), 4) AS avg_len FROM pages GROUP BY lang"
        ),
        "q_host_stats": (
            f"WITH {_PAGES_CTE} SELECT regexp_extract(url, 'https://([^.]+)\\.', 1) AS host, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(octet_length(encode(page_str))) AS BIGINT) AS html_bytes "
            "FROM pages GROUP BY 1"
        ),
        "q_dedup_exact": (
            "WITH uni AS (SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0) "
            "SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_copies, "
            "CAST(min(doc_id) AS BIGINT) AS keep_id FROM uni "
            "GROUP BY 1 HAVING count(*) > 1"
        ),
        "q_token_stats": (
            "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, "
            "CAST(len(list_filter(string_split(text, ' '), x -> x = 'the')) AS INTEGER) AS n_the "
            "FROM documents"
        ),
        "q_vocab_topk": (
            # Two-level aggregation (df = rows of the per-doc level,
            # no count-distinct), ordered limit with the token
            # tiebreak, rank over the 100 survivors.
            "WITH tk AS (SELECT doc_id, "
            f"unnest({_TOKS}) AS token FROM documents), "
            "pd AS (SELECT doc_id, token, COUNT(*) AS c "
            "FROM tk GROUP BY 1, 2), "
            "v AS (SELECT token, SUM(c) AS tf, COUNT(*) AS df "
            "FROM pd GROUP BY 1), "
            "t AS (SELECT token, tf, df FROM v "
            "ORDER BY tf DESC, token LIMIT 100) "
            "SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) "
            "AS INTEGER) AS rank, token, CAST(tf AS BIGINT) AS tf, "
            "CAST(df AS BIGINT) AS df FROM t"
        ),
        "q_keywords": (
            # df-threshold stopword screen, then the all-integer
            # per-doc (c desc, token asc) ranking. The ratio is CAST
            # to DOUBLE: a bare 0.3 literal is DECIMAL(2,1) in DuckDB
            # (exact arithmetic), while Spark computes math.ceil over
            # an IEEE double — the two ceils agree for every ratio
            # only when both sides use double (e.g. ceil(0.07*100) is
            # 8 in doubles but 7 in exact decimal).
            "WITH tk AS (SELECT doc_id, "
            f"unnest({_TOKS}) AS token FROM documents), "
            "pd AS (SELECT doc_id, token, COUNT(*) AS c "
            "FROM tk GROUP BY 1, 2), "
            "common AS (SELECT token FROM pd GROUP BY token "
            "HAVING COUNT(*) >= "
            "ceil(CAST(0.3 AS DOUBLE) * (SELECT COUNT(*) FROM documents))), "
            "k AS (SELECT doc_id, token, c, ROW_NUMBER() OVER ("
            "PARTITION BY doc_id ORDER BY c DESC, token) AS r "
            "FROM pd WHERE token NOT IN (SELECT token FROM common)) "
            "SELECT doc_id, CAST(r AS INTEGER) AS rank, token, "
            "CAST(c AS BIGINT) AS c FROM k WHERE r <= 3"
        ),
        "q_quality": (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents) "
            "SELECT doc_id, "
            "round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) "
            "/ len(toks), 4) AS stopword_ratio, "
            "round((length(text) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE), 4) "
            "AS avg_token_len FROM t"
        ),
        "q_fingerprint": (
            "SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents"
        ),
        "q_near_dup_jaccard": (
            "WITH uni AS (SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 1000000, 'extra prefix words here ' || text "
            "FROM documents WHERE doc_id % 10 = 0), "
            "sh AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
            "for i in generate_series(1, len(toks) - 2)])) AS shingle "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM uni)), "
            "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i "
            "FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT id_a, id_b, jaccard FROM ("
            "SELECT id_a, id_b, round(CAST(n_i AS DOUBLE) / (sa.n + sb.n - n_i), 4) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b) WHERE jaccard >= 0.5"
        ),
        "q_dom_text_roundtrip": (
            f"WITH {_PAGES_CTE} SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(count(*) AS BIGINT) AS n_match FROM pages"
        ),
        "q_host_rank": _host_rank_sql(),
        "q_sitemap": (
            f"WITH {_PAGES_CTE} "
            "SELECT regexp_extract(url, 'https://([^/]+)', 1) AS host, "
            "'urlset' AS kind, url AS loc, warc_ts AS lastmod, "
            "CAST(0.5 AS DOUBLE) AS priority FROM pages"
        ),
        "q_crawl_delay": (
            # Predicted from host-number arithmetic: m==0 -> ('*',
            # NULL) (invalid value), m==1 -> ('trainbot', 2.0),
            # m==2 -> no row, m==3 -> ('*', 1.5) (min of 1.5 and 30).
            "SELECT 'host' || CAST(id AS VARCHAR) || '.example' AS host, "
            "CASE WHEN id % 4 = 1 THEN 'trainbot' ELSE '*' END AS agent, "
            "CASE WHEN id % 4 = 1 THEN 2.0 WHEN id % 4 = 3 THEN 1.5 "
            "ELSE NULL END AS delay_sec "
            "FROM range(41) t(id) WHERE id % 4 IN (0, 1, 3)"
        ),
        "q_robots": (
            f"WITH {_PAGES_CTE} SELECT url, "
            f"{_ROBOTS_ALLOWED_CASE} AS allowed FROM pages"
        ),
        "q_frontier": _frontier_sql(),
        "q_frontier_polite": _frontier_sql(window_sec=6.0),
        "q_robots_sitemaps": (
            "SELECT 'host' || CAST(i AS STRING) || '.example' AS host, "
            "'https://host' || CAST(i AS STRING) || '.example/sitemap.xml' "
            "AS sitemap_url FROM generate_series(0, 40) t(i) WHERE i % 4 = 0"
        ),
        "q_anchor_text": (
            f"WITH {_PAGES_CTE} SELECT 'more' AS anchor_text, "
            "CAST(COUNT(*) AS BIGINT) AS n_links, "
            "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_targets "
            "FROM pages WHERE doc_id % 3 = 0"
        ),
        "q_quality_model": _quality_model_sql(),
        "q_corpus_stats": (
            "WITH t AS (SELECT lang, "
            f"CAST(len({_TOKS}) AS DOUBLE) AS nt FROM documents) "
            "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "round(avg(nt), 4) AS avg_tokens, "
            "round(quantile_cont(nt, 0.5), 4) AS p50_tokens, "
            "round(quantile_cont(nt, 0.9), 4) AS p90_tokens, "
            "round(quantile_cont(nt, 0.99), 4) AS p99_tokens "
            "FROM t GROUP BY lang"
        ),
        "q_prep": (
            "WITH nd AS (SELECT doc_id, "
            + normalize_sql("text")
            + " AS ntext FROM documents), "
            "t AS (SELECT doc_id, "
            "list_filter(string_split_regex(ntext, '\\s+'), x -> x <> '') AS tk "
            "FROM nd), "
            "s AS (SELECT doc_id, tk, "
            "unnest(generate_series(0, greatest(len(tk) - 17, 0), 48)) AS start "
            "FROM t WHERE len(tk) > 0), "
            "ch AS (SELECT doc_id, start // 48 AS chunk_idx, "
            "least(64, len(tk) - start) AS n_chunk_tokens, "
            "md5(array_to_string(tk[start + 1 : start + 64], ' ')) AS chunk_md5, "
            "CAST(doc_id AS VARCHAR) || '#' || CAST(start // 48 AS VARCHAR) "
            "AS chunk_key FROM s), "
            "g AS (SELECT *, "
            "('0x' || substr(md5(chunk_key), 1, 15))::BIGINT % 8 AS grp FROM ch) "
            "SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, "
            "CAST(n_chunk_tokens AS INTEGER) AS n_chunk_tokens, chunk_md5, "
            "CAST(grp AS BIGINT) AS grp, "
            "CAST(floor((SUM(n_chunk_tokens) OVER (PARTITION BY grp "
            "ORDER BY chunk_key ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW) - n_chunk_tokens) / 1000.0) AS BIGINT) AS shard "
            "FROM g"
        ),
        "q_repeated_spans": (
            "WITH uni AS (SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 1000000, 'prefix words here ' || text "
            "FROM documents WHERE doc_id % 10 = 0), "
            "t AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk "
            "FROM uni), "
            "w AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 7)) AS pos, "
            "tk FROM t WHERE len(tk) >= 8), "
            "sp AS (SELECT doc_id, pos, "
            "array_to_string(tk[pos : pos + 7], ' ') AS span FROM w), "
            "st AS (SELECT span, COUNT(DISTINCT doc_id) AS n_docs, "
            "MIN(doc_id) AS keep_id FROM sp GROUP BY 1) "
            "SELECT sp.doc_id, CAST(sp.pos AS INTEGER) AS pos, "
            "CAST(st.n_docs AS BIGINT) AS n_docs "
            "FROM sp JOIN st USING (span) "
            "WHERE st.n_docs >= 2 AND sp.doc_id <> st.keep_id"
        ),
        "q_normalize": (
            "SELECT doc_id, "
            + normalize_sql(
                "(chr(160) || '“Q‘x’…' || chr(1) || chr(9) || ' ' || text "
                "|| ' ' || chr(9) || '—– ' || chr(2) || 'z ')"
            )
            + " AS norm_text FROM documents"
        ),
        "q_chunks": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk "
            "FROM documents), "
            "s AS (SELECT doc_id, tk, "
            "unnest(generate_series(0, greatest(len(tk) - 17, 0), 48)) AS start "
            "FROM t WHERE len(tk) > 0) "
            "SELECT doc_id, CAST(start // 48 AS INTEGER) AS chunk_idx, "
            "CAST(least(64, len(tk) - start) AS INTEGER) AS n_chunk_tokens, "
            "md5(array_to_string(tk[start + 1 : start + 64], ' ')) AS chunk_md5 "
            "FROM s"
        ),
        "q_chunk_pack": (
            # Full algorithm replay: paragraph split on blank-line
            # runs, blank filter + token counts via the spelled-out
            # whitespace class (the Java-vs-RE2 \s VT divergence),
            # exclusive prefix-sum window, floor(prefix/24) bucket,
            # ordered blank-line reassembly. NULL text converges with
            # Spark's concat_ws NULL-skip because the leading empty
            # paragraph is filtered either way.
            "WITH src AS (SELECT doc_id, coalesce(text, '') || e'\\n\\n' "
            "|| 'alpha beta gamma' || e'\\n\\n' || coalesce(text, '') "
            "|| e'\\n\\n' || 'omega tail' AS t FROM documents), "
            "sp AS (SELECT doc_id, list_filter("
            "string_split_regex(t, '(?:\\r?\\n){2,}'), "
            "p -> regexp_matches(p, '[^ \\t\\n\\r\\f\\x0B]')) AS ps "
            "FROM src), "
            "e AS (SELECT doc_id, ps, "
            "unnest(generate_series(1, len(ps))) AS i FROM sp), "
            "c AS (SELECT doc_id, i, ps[i] AS para, "
            "len(list_filter(string_split_regex(ps[i], "
            "'[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')) AS c FROM e), "
            "a AS (SELECT doc_id, i, para, c, coalesce(SUM(c) OVER ("
            "PARTITION BY doc_id ORDER BY i "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            "AS pre FROM c) "
            "SELECT doc_id, CAST(floor(pre / 24) AS INTEGER) AS chunk_idx, "
            "CAST(SUM(c) AS INTEGER) AS n_chunk_tokens, "
            "md5(string_agg(para, e'\\n\\n' ORDER BY i)) AS chunk_md5 "
            "FROM a GROUP BY doc_id, CAST(floor(pre / 24) AS INTEGER)"
        ),
        "q_hash_embed": (
            f"WITH {_hash_embed_ctes(8)}, "
            "idx AS (SELECT unnest(generate_series(1, 8)) AS i) "
            "SELECT doc_id, CAST(i - 1 AS INTEGER) AS dim_idx, "
            "round(CASE WHEN nrm = 0 THEN v[i] ELSE v[i] / nrm END, 6) AS val "
            "FROM hn, idx"
        ),
        "q_lm_score": (
            "WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), "
            "x -> x <> '') AS t FROM documents), "
            "bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] "
            "for i in generate_series(1, len(t) - 1)]) AS bigram FROM toks), "
            "dbg AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2), "
            "c2 AS (SELECT bigram, SUM(cnt) AS c2 FROM dbg "
            "WHERE doc_id % 2 = 0 GROUP BY 1), "
            "ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, bigram, c2 FROM c2), "
            "c1 AS (SELECT w1, SUM(c2) AS c1 FROM ctx GROUP BY 1), "
            "lm AS (SELECT bigram, ln(CAST(c2 AS DOUBLE) / c1) AS logp "
            "FROM ctx JOIN c1 USING (w1)), "
            "sc AS (SELECT doc_id, SUM(cnt) AS n_bigrams, "
            "SUM(cnt * COALESCE(logp, ln(1e-6))) / SUM(cnt) AS avg "
            "FROM dbg LEFT JOIN lm USING (bigram) GROUP BY 1) "
            "SELECT d.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams, "
            "round(avg, 4) AS avg_logp FROM documents d LEFT JOIN sc USING (doc_id)"
        ),
        "q_c4_filter": (
            # Replays every C4 rule over the same synthesized lines:
            # terminal punctuation after rtrim, >=5 non-empty words,
            # no 'javascript'; page: >=3 kept lines, no 'lorem ipsum',
            # no '{'. md5 of the rejoined survivors pins the text.
            "WITH syn AS (SELECT doc_id, "
            "'Intro sentence number ' || CAST(doc_id AS STRING) || "
            "' stands complete.' || chr(10) || 'Too short.' || chr(10) || "
            "'this line number ' || CAST(doc_id AS STRING) || "
            "' has no terminal mark' || chr(10) || "
            "'Please enable JavaScript to view document ' || "
            "CAST(doc_id AS STRING) || '.' || chr(10) || "
            "'Does document ' || CAST(doc_id AS STRING) || "
            "' close with a question?' || chr(10) || "
            "'Closing remark for document ' || CAST(doc_id AS STRING) || "
            "' indeed!' || "
            "CASE doc_id % 3 "
            "WHEN 1 THEN chr(10) || 'We need lorem ipsum filler here.' "
            "WHEN 2 THEN chr(10) || 'function f() { return 1; }' "
            "ELSE '' END AS t FROM documents), "
            "kept AS (SELECT doc_id, t, "
            "list_filter(string_split(t, chr(10)), l -> "
            "right(rtrim(l), 1) IN ('.', '!', '?', '\"') "
            "AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5 "
            "AND NOT contains(lower(l), 'javascript')) AS k FROM syn) "
            "SELECT doc_id, CAST(len(k) AS INT) AS n_lines_kept, "
            "(len(k) >= 3 AND NOT contains(lower(t), 'lorem ipsum') "
            "AND NOT contains(t, '{')) AS keep_page, "
            "md5(array_to_string(k, chr(10))) AS clean_md5 FROM kept"
        ),
        "q_lm_buckets": (
            # q_lm_score's training arithmetic + the CCNet cutoff cut:
            # per-language tercile cutoffs via quantile_cont (the same
            # rank-p*(n-1) linear interpolation as Spark's exact
            # `percentile`) over the 4dp-rounded scores, then the
            # map-only boundary rule bucket = 1 + #cutoffs the score
            # falls below, both sides rounded to 4dp. NULL scores are
            # forced to the last bucket, exactly like the Spark side.
            "WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), "
            "x -> x <> '') AS t FROM documents), "
            "bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] "
            "for i in generate_series(1, len(t) - 1)]) AS bigram FROM toks), "
            "dbg AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2), "
            "c2 AS (SELECT bigram, SUM(cnt) AS c2 FROM dbg "
            "WHERE doc_id % 2 = 0 GROUP BY 1), "
            "ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, bigram, c2 FROM c2), "
            "c1 AS (SELECT w1, SUM(c2) AS c1 FROM ctx GROUP BY 1), "
            "lm AS (SELECT bigram, ln(CAST(c2 AS DOUBLE) / c1) AS logp "
            "FROM ctx JOIN c1 USING (w1)), "
            "sc AS (SELECT doc_id, SUM(cnt * COALESCE(logp, ln(1e-6))) "
            "/ SUM(cnt) AS avg FROM dbg LEFT JOIN lm USING (bigram) GROUP BY 1), "
            "scored AS (SELECT d.doc_id, d.lang, round(sc.avg, 4) AS r "
            "FROM documents d LEFT JOIN sc USING (doc_id)), "
            "cut AS (SELECT lang, quantile_cont(r, "
            f"[{(3 - 1) / 3!r}, {(3 - 2) / 3!r}]) AS cs "
            "FROM scored WHERE r IS NOT NULL GROUP BY lang), "
            "b AS (SELECT s.doc_id, s.lang, CASE WHEN s.r IS NULL THEN 3 "
            "ELSE 1 + len(list_filter(COALESCE(c.cs, []), "
            "x -> s.r < round(x, 4))) END AS bucket "
            "FROM scored s LEFT JOIN cut c USING (lang)) "
            "SELECT doc_id, lang, CAST(bucket AS INT) AS bucket, "
            "CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' "
            "ELSE 'tail' END AS bucket_label FROM b"
        ),
        "q_mojibake": (
            # Roundtrip identity: repair(corrupt(clean)) == clean for
            # odd ids, repair(clean) == clean for even — the oracle
            # only ever states the clean text.
            "SELECT doc_id, text || ' café — 中文 №42 🚀' AS fixed "
            "FROM documents"
        ),
        "q_blocklist": (
            # Analytic replay of the url synthesis: host number is the
            # pages.py arithmetic; domain entries block host 7/13 at
            # any subdomain depth, the tracker keyword only fires on
            # the %4==2 query-string variant, domain wins ties.
            "WITH h AS (SELECT doc_id, CASE WHEN doc_id % 5 < 2 THEN 0 "
            "ELSE doc_id % 41 END AS hn FROM documents) "
            "SELECT doc_id, "
            "CASE WHEN hn IN (7, 13) THEN 'domain' "
            "WHEN doc_id % 4 = 2 THEN 'keyword' END AS blocked_reason, "
            "(hn NOT IN (7, 13) AND doc_id % 4 <> 2) AS admitted FROM h"
        ),
        "q_serialize_roundtrip": (
            f"WITH {_PAGES_CTE} SELECT url, text AS text_out FROM pages"
        ),
        "q_dom_manip": (
            # Predicted post-mutation serialization per template variant
            # (sources/pages.py): style replaced by <nostyle> (subtree
            # dropped), HDR| text prepended / <footer role="end">
            # appended to body, <hr> after h1/ul/table, [PRE] before
            # a/img/textarea; text nodes re-escape & < > on the way out.
            f"WITH {_PAGES_CTE} SELECT url, CASE d.doc_id % 3 "
            "WHEN 0 THEN '<!DOCTYPE html><html lang=\"' || d.lang || "
            "'\"><head><title>Doc ' || CAST(d.doc_id AS STRING) || "
            "'</title><script>var x = 1 < 2;</script><nostyle></nostyle>"
            "</head><body>HDR|<h1>Doc ' || CAST(d.doc_id AS STRING) || "
            "'</h1><hr><!-- src:' || d.source || ' --><p class=\"c' || "
            "CAST(d.doc_id % 7 AS STRING) || '\">' || "
            "replace(replace(replace(d.text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || "
            "'</p>[PRE]<a href=\"https://example.com/doc/' || "
            "CAST(d.doc_id AS STRING) || '\">more</a>"
            "<footer role=\"end\"></footer></body></html>' "
            "WHEN 1 THEN '<html><body>HDR|<ul><li>Doc ' || "
            "CAST(d.doc_id AS STRING) || '</li><li>' || "
            "replace(replace(replace(d.text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || "
            "'</li></ul><hr><p>A &amp; B &lt;tag&gt; !<br>[PRE]"
            "<img src=\"i' || CAST(d.doc_id AS STRING) || '.png\">"
            "</p><footer role=\"end\"></footer></body></html>' "
            "ELSE '<html><body>HDR|<table><tr><td>Doc ' || "
            "CAST(d.doc_id AS STRING) || '</td></tr><tr><td>' || "
            "replace(replace(replace(d.text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || "
            "'</td></tr></table><hr>[PRE]<textarea>T &amp; A</textarea>"
            "<!--?bogus ' || CAST(d.doc_id AS STRING) || '-->"
            "<div>tail</div><footer role=\"end\"></footer></body></html>' "
            "END AS manip_html "
            "FROM pages p JOIN documents d ON p.doc_id = d.doc_id"
        ),
        "q_bpe_tokens": (
            "SELECT doc_id, CAST(len(list_filter(string_split_regex("
            "regexp_replace(text, '([[:punct:]0-9])', ' \\1', 'g'), '\\s+'), "
            "x -> x <> '')) AS INTEGER) AS n_subtokens FROM documents"
        ),
        "q_host_counts_salted": (
            f"WITH {_PAGES_CTE} SELECT regexp_extract(url, 'https://([^.]+)\\.', 1) AS host, "
            "CAST(count(*) AS BIGINT) AS n FROM pages GROUP BY 1"
        ),
        "q_clean_text": (
            # NB: pages.text is the full-extraction golden; clean_text
            # derives from the raw documents.text instead.
            f"WITH {_PAGES_CTE} SELECT url, "
            "CASE d.doc_id % 3 "
            "WHEN 0 THEN 'Doc ' || CAST(d.doc_id AS STRING) || ' Doc ' || "
            "CAST(d.doc_id AS STRING) || ' ' || d.text || ' more' "
            "WHEN 1 THEN 'Doc ' || CAST(d.doc_id AS STRING) || ' ' || d.text || "
            "' A & B <tag> !' "
            "ELSE 'Doc ' || CAST(d.doc_id AS STRING) || ' ' || d.text || ' T & A tail' "
            "END AS main_text FROM pages p JOIN documents d ON p.doc_id = d.doc_id"
        ),
        "q_main_content": (
            # v0: body beats p only when doc_id has >3 digits (see the
            # score derivation in _q_main_content's docstring); v1/v2
            # body always wins.
            f"WITH {_PAGES_CTE} SELECT url, "
            "CASE d.doc_id % 3 "
            "WHEN 0 THEN CASE WHEN length(CAST(d.doc_id AS STRING)) > 3 "
            "THEN 'Doc ' || CAST(d.doc_id AS STRING) || ' ' || d.text || ' more' "
            "ELSE d.text END "
            "WHEN 1 THEN 'Doc ' || CAST(d.doc_id AS STRING) || ' ' || d.text || "
            "' A & B <tag> !' "
            "ELSE 'Doc ' || CAST(d.doc_id AS STRING) || ' ' || d.text || ' T & A tail' "
            "END AS content FROM pages p JOIN documents d ON p.doc_id = d.doc_id"
        ),
        "q_inner_text": (
            f"WITH {_PAGES_CTE} SELECT url, "
            "CASE d.doc_id % 3 "
            "WHEN 0 THEN 'Doc ' || CAST(d.doc_id AS STRING) || 'Doc ' || "
            "CAST(d.doc_id AS STRING) || d.text || 'more' "
            "WHEN 1 THEN 'Doc ' || CAST(d.doc_id AS STRING) || d.text || "
            "'A & B <tag> !' || chr(10) "
            "ELSE 'Doc ' || CAST(d.doc_id AS STRING) || d.text || 'T & A' || 'tail' "
            "END AS rendered FROM pages p JOIN documents d ON p.doc_id = d.doc_id"
        ),
        "q_feed_extract": (
            "WITH per_source AS (SELECT source, count(*) AS n, min(doc_id) AS min_id "
            "FROM documents GROUP BY source) "
            "SELECT source, 'rss' AS feed_type, 'Channel ' || source AS feed_title, "
            "'https://' || source || '.example/' AS feed_link, "
            "CAST(n AS INTEGER) AS n_items, 'g' || CAST(min_id AS STRING) AS first_guid "
            "FROM per_source"
        ),
        "q_feed_atom": (
            "WITH per_source AS (SELECT source, count(*) AS n, min(doc_id) AS min_id "
            "FROM documents GROUP BY source) "
            "SELECT source, 'atom' AS feed_type, 'urn:' || source AS feed_id, "
            "'Atom ' || source AS feed_title, "
            "'https://' || source || '.example/atom' AS feed_link, "
            "'sub' AS feed_description, CAST(n AS INTEGER) AS n_items, "
            "'https://' || source || '.example/e/' || CAST(min_id AS STRING) "
            "AS first_entry_link FROM per_source"
        ),
        "q_feed_rdf": (
            "WITH per_source AS (SELECT source, count(*) AS n, min(doc_id) AS min_id "
            "FROM documents GROUP BY source) "
            "SELECT source, 'rdf' AS feed_type, 'RDF ' || source AS feed_title, "
            "'https://' || source || '.example/rdf' AS feed_link, "
            "CAST(n AS INTEGER) AS n_items, "
            "'https://' || source || '.example/r/' || CAST(min_id AS STRING) "
            "AS first_item_link FROM per_source"
        ),
        "q_events_hourly": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, "
            "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "q_user_first_event": (
            "SELECT user_id, event_type AS first_event FROM ("
            "SELECT user_id, event_type, row_number() OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) "
            "WHERE rn = 1"
        ),
        "q_top_hosts": (
            f"WITH {_PAGES_CTE} SELECT host, n_docs FROM ("
            "SELECT regexp_extract(url, 'https://([^.]+)\\.', 1) AS host, "
            "CAST(count(*) AS BIGINT) AS n_docs FROM pages GROUP BY 1) "
            "ORDER BY n_docs DESC, host ASC LIMIT 5"
        ),
        "q_priority_revenue": (
            "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderpriority"
        ),
        "q_extraction_diff": (
            f"WITH {_PAGES_CTE}, run_a AS (SELECT url, text FROM pages), "
            "run_b AS (SELECT url, CASE WHEN doc_id % 20 = 5 THEN upper(text) "
            "ELSE text END AS text FROM pages) "
            "SELECT url FROM (SELECT * FROM run_a EXCEPT ALL SELECT * FROM run_b)"
        ),
        "q_embedding_dup": (
            "WITH uni AS (SELECT vec_id, embedding FROM embeddings UNION ALL "
            "SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 10 = 0) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(a.embedding, b.embedding), 4) AS sim "
            "FROM uni a JOIN uni b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9999"
        ),
        "q_inner_html": (
            # Serializer contract per variant; text nodes re-escape
            # & < > on the way out.
            f"WITH {_PAGES_CTE} SELECT url, CASE d.doc_id % 3 "
            "WHEN 0 THEN '<h1>Doc ' || CAST(d.doc_id AS STRING) || "
            "'</h1><!-- src:' || d.source || ' --><p class=\"c' || "
            "CAST(d.doc_id % 7 AS STRING) || '\">' || "
            "replace(replace(replace(d.text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || "
            "'</p><a href=\"https://example.com/doc/' || CAST(d.doc_id AS STRING) || "
            "'\">more</a>' "
            "WHEN 1 THEN '<ul><li>Doc ' || CAST(d.doc_id AS STRING) || '</li><li>' || "
            "replace(replace(replace(d.text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || "
            "'</li></ul><p>A &amp; B &lt;tag&gt; !<br><img src=\"i' || "
            "CAST(d.doc_id AS STRING) || '.png\"></p>' "
            "ELSE '<table><tr><td>Doc ' || CAST(d.doc_id AS STRING) || "
            "'</td></tr><tr><td>' || "
            "replace(replace(replace(d.text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || "
            "'</td></tr></table><textarea>T &amp; A</textarea><!--?bogus ' || "
            "CAST(d.doc_id AS STRING) || '--><div>tail</div>' "
            "END AS body_html FROM pages p JOIN documents d ON p.doc_id = d.doc_id"
        ),
        "q_prev_siblings": (
            # (element, prev) is the mirror of the next-sibling pairs.
            f"WITH {_PAGES_CTE}, sib(name, next_element, variant, k) AS "
            f"(VALUES {sib_values}) "
            "SELECT s.next_element AS name, s.name AS prev_element, "
            "CAST(SUM(s.k) AS BIGINT) AS cnt "
            "FROM pages p JOIN sib s ON p.doc_id % 3 = s.variant "
            "GROUP BY 1, 2"
        ),
        "q_node_types": (
            "WITH v AS (SELECT "
            "count(*) FILTER (WHERE doc_id % 3 = 0) AS n0, "
            "count(*) FILTER (WHERE doc_id % 3 = 2) AS n2 FROM documents) "
            "SELECT 'directive' AS node_type, CAST(n0 AS BIGINT) AS cnt FROM v "
            "UNION ALL SELECT 'comment', CAST(n0 + n2 AS BIGINT) FROM v "
            "UNION ALL SELECT 'script', CAST(n0 AS BIGINT) FROM v "
            "UNION ALL SELECT 'style', CAST(n0 AS BIGINT) FROM v"
        ),
        "q_element_siblings": (
            f"WITH {_PAGES_CTE}, sib(name, next_element, variant, k) AS "
            f"(VALUES {sib_values}) "
            "SELECT s.name AS name, s.next_element AS next_element, "
            "CAST(SUM(s.k) AS BIGINT) AS cnt "
            "FROM pages p JOIN sib s ON p.doc_id % 3 = s.variant "
            "GROUP BY 1, 2"
        ),
        "q_dom_position": (
            # compareDocumentPosition bitmasks predicted from the fixed
            # templates: PRECEDING=2 / FOLLOWING=4, |CONTAINS=8 /
            # |CONTAINED_BY=16 (domutils helpers.ts constants).
            f"WITH {_PAGES_CTE}, "
            "spec(variant, a_name, b_name, mask) AS (VALUES "
            "(0, 'head', 'body', 2), (0, 'html', 'p', 10), "
            "(0, 'a', 'h1', 4), (0, 'p', 'body', 20), "
            "(1, 'ul', 'li', 10), (1, 'img', 'ul', 4), "
            "(1, 'li', 'body', 20), (1, 'ul', 'p', 2), "
            "(2, 'table', 'td', 10), (2, 'div', 'table', 4), "
            "(2, 'td', 'body', 20), (2, 'textarea', 'div', 2)) "
            "SELECT url, a_name, b_name, "
            "CAST(mask AS INTEGER) AS position "
            "FROM pages p JOIN spec s ON p.doc_id % 3 = s.variant"
        ),
        "q_remove_subsets": (
            # Survivors of removeSubsets on {ul,li,p,table,td,div,h1,a}:
            # li drops under ul (v1), td under table (v2); v0's picks
            # are all body children so nothing drops.
            f"WITH {_PAGES_CTE}, "
            "keep(variant, name, k) AS (VALUES "
            "(0, 'h1', 1), (0, 'p', 1), (0, 'a', 1), "
            "(1, 'ul', 1), (1, 'p', 1), "
            "(2, 'table', 1), (2, 'div', 1)) "
            "SELECT url, name, CAST(k AS BIGINT) AS cnt "
            "FROM pages p JOIN keep s ON p.doc_id % 3 = s.variant"
        ),
        "q_table_cells": (
            # v2 is the only templated table: <table><tr><td>Doc N
            # <tr><td>{text}</table> — implied closes make two 1-cell
            # rows; the second cell's subtree text decodes back to the
            # document text.
            f"WITH {_PAGES_CTE}, "
            "cell(row_idx, is_text) AS (VALUES (0, FALSE), (1, TRUE)) "
            "SELECT url, CAST(0 AS INTEGER) AS table_idx, "
            "CAST(row_idx AS INTEGER) AS row_idx, "
            "CAST(0 AS INTEGER) AS col_idx, 'td' AS cell_tag, "
            "CASE WHEN is_text THEN d.text "
            "ELSE 'Doc ' || CAST(d.doc_id AS STRING) END AS cell_text "
            "FROM pages p JOIN documents d ON p.doc_id = d.doc_id "
            "CROSS JOIN cell WHERE d.doc_id % 3 = 2"
        ),
        "q_charset": (
            # Sniff outcomes by byte shape: BOMs name the encoding,
            # the meta variant folds ISO-8859-1 -> windows-1252, bare
            # pages default to utf-8; extraction must survive the
            # decode (variant 2 swaps in the mini latin-1 page).
            f"WITH {_PAGES_CTE} SELECT url, "
            "CASE doc_id % 4 WHEN 1 THEN 'utf-16le' "
            "WHEN 2 THEN 'windows-1252' ELSE 'utf-8' END AS charset, "
            "CASE WHEN doc_id % 4 = 2 "
            "THEN 'Doc ' || CAST(doc_id AS STRING) || ' café' "
            "ELSE text END AS text_out FROM pages"
        ),
        "q_meta_extract": (
            # The synthesized head fields reconstruct analytically.
            f"WITH {_PAGES_CTE} SELECT url, "
            "'Doc ' || CAST(doc_id AS STRING) AS og_title, "
            "lang || ' page ' || CAST(doc_id AS STRING) AS description, "
            "'https://example.com/canon/' || CAST(doc_id AS STRING) "
            "AS canonical, lang AS og_locale FROM pages"
        ),
        "q_sentences": (
            "WITH s AS (SELECT doc_id, "
            + SENTENCES_SQL.format(
                col="'Dr. Strange arrived... ' || text || '! Really?! Yes. '"
            )
            + " AS sents FROM documents), "
            "e AS (SELECT doc_id, sents, "
            "unnest(generate_series(1, len(sents))) AS i FROM s) "
            "SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_idx, "
            "sents[i] AS sentence FROM e"
        ),
        "q_markdown": (
            # Exact per-variant markdown; ctext mirrors the renderer's
            # inline whitespace collapse (identity on this corpus but
            # kept for parity).
            f"WITH {_PAGES_CTE}, m AS (SELECT p.url, d.doc_id, "
            "trim(regexp_replace(d.text, '[ \\t\\r\\n\\f]+', ' ', 'g')) "
            "AS ctext, CAST(d.doc_id AS STRING) AS ids "
            "FROM pages p JOIN documents d ON p.doc_id = d.doc_id) "
            "SELECT url, CASE doc_id % 3 "
            "WHEN 0 THEN '# Doc ' || ids || chr(10) || chr(10) || ctext || "
            "chr(10) || chr(10) || '[more](https://example.com/doc/' || ids || ')' "
            "WHEN 1 THEN '- Doc ' || ids || chr(10) || '- ' || ctext || "
            "chr(10) || chr(10) || 'A & B <tag> !' || chr(10) || "
            "'![](i' || ids || '.png)' "
            "ELSE '| Doc ' || ids || ' |' || chr(10) || '| --- |' || chr(10) || "
            "'| ' || replace(ctext, '|', '\\|') || ' |' || chr(10) || chr(10) || "
            "'T & A' || chr(10) || chr(10) || 'tail' END AS md FROM m"
        ),
        "q_ann_topk": _ANN_TOPK_SQL,
        # The Arrow engine must reproduce the jvm ranking AND the 4dp
        # sims on this data (numpy pairwise summation differs from the
        # sequential fold only at the ulp; the nearest sim sits ~1e-7
        # from a rounding boundary here) — same oracle, so the fast
        # path gets its own driver-verified row.
        "q_ann_arrow": _ANN_TOPK_SQL,
        # Full-probe IVF must be lossless — byte-identical to the exact
        # cross-join ranking.
        "q_ivf_topk": _ANN_TOPK_SQL,
        "q_minhash_lsh": (
            # The exact-Jaccard >= 0.7 truth set (same SQL as
            # q_near_dup_jaccard); every pair must be recovered by LSH.
            "WITH uni AS (SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 1000000, 'extra prefix words here ' || text "
            "FROM documents WHERE doc_id % 10 = 0), "
            "sh AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
            "for i in generate_series(1, len(toks) - 2)])) AS shingle "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM uni)), "
            "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i "
            "FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT id_a, id_b, TRUE AS recovered FROM ("
            "SELECT id_a, id_b, round(CAST(n_i AS DOUBLE) / (sa.n + sb.n - n_i), 4) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b) WHERE jaccard >= 0.7"
        ),
        "q_dup_clusters": (
            # Same jaccard pair derivation as q_near_dup_jaccard, then
            # connected components via recursive CTE: cluster_id = min
            # reachable id.
            "WITH RECURSIVE uni AS (SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 1000000, 'extra prefix words here ' || text "
            "FROM documents WHERE doc_id % 10 = 0), "
            "sh AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
            "for i in generate_series(1, len(toks) - 2)])) AS shingle "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM uni)), "
            "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i "
            "FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id "
            "GROUP BY 1, 2), "
            "pairs AS (SELECT id_a, id_b FROM ("
            "SELECT id_a, id_b, CAST(n_i AS DOUBLE) / (sa.n + sb.n - n_i) AS j "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b) WHERE round(j, 4) >= 0.5), "
            "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(node, lab) AS (SELECT src, src FROM edges "
            "UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node) "
            "SELECT node AS id, CAST(min(lab) AS BIGINT) AS cluster_id "
            "FROM reach GROUP BY node"
        ),
        "q_stratified_sample": (
            # Identical decision arithmetic: 60-bit md5-prefix hash,
            # threshold = fraction * 1e6 per language, unlisted -> 0.
            "SELECT doc_id, lang FROM documents WHERE "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
            "% 1000000 < CASE lang WHEN 'en' THEN 500000 "
            "WHEN 'de' THEN 1000000 WHEN 'es' THEN 250000 ELSE 0 END"
        ),
        "q_quota_sample": (
            "SELECT doc_id, lang FROM ("
            "SELECT doc_id, lang, row_number() OVER (PARTITION BY lang "
            "ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
            "% 1000000 ASC, doc_id ASC) AS rn FROM documents) WHERE rn <= 20"
        ),
        "q_token_shards": (
            "WITH t AS (SELECT doc_id, "
            "len(string_split(text, ' ')) AS n_tokens, "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 "
            "AS grp FROM documents) "
            "SELECT doc_id, grp, CAST(floor((SUM(n_tokens) OVER ("
            "PARTITION BY grp ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
            "/ 500.0) AS BIGINT) AS shard FROM t"
        ),
        "q_ivfpq_topk": (
            # Same exact-ranking contract as q_pq_topk: full probe +
            # lossless residual codebooks == exact euclidean top-k.
            "WITH q AS (SELECT vec_id, embedding FROM embeddings "
            "WHERE vec_id < 5), "
            "c AS (SELECT vec_id, embedding FROM embeddings "
            "WHERE vec_id >= 10 AND vec_id < 40), "
            "d AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, "
            "list_distance(q.embedding, c.embedding) AS dist "
            "FROM q CROSS JOIN c) "
            "SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id, "
            "round(dist, 4) AS dist FROM ("
            "SELECT query_id, corpus_id, dist, row_number() OVER ("
            "PARTITION BY query_id ORDER BY dist ASC, corpus_id) AS rank "
            "FROM d) WHERE rank <= 5"
        ),
        "q_pq_topk": (
            # Lossless-codebook PQ must reproduce the exact euclidean
            # ranking.
            "WITH q AS (SELECT vec_id, embedding FROM embeddings "
            "WHERE vec_id < 10), "
            "c AS (SELECT vec_id, embedding FROM embeddings "
            "WHERE vec_id >= 10), "
            "d AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, "
            "list_distance(q.embedding, c.embedding) AS dist "
            "FROM q CROSS JOIN c) "
            "SELECT query_id, CAST(rank AS INTEGER) AS rank, corpus_id, "
            "round(dist, 4) AS dist FROM ("
            "SELECT query_id, corpus_id, dist, row_number() OVER ("
            "PARTITION BY query_id ORDER BY dist ASC, corpus_id) AS rank "
            "FROM d) WHERE rank <= 5"
        ),
        "q_line_dedup": (
            # Full recomputation: line frequencies across docs, strip
            # lines in >= 2 docs, reassemble in document order.
            "WITH multi AS (SELECT doc_id, text || chr(10) || "
            "'(c) example footer' || chr(10) || 'all rights reserved' "
            "AS text FROM documents), "
            "lines AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM ("
            "SELECT doc_id, unnest([{'pos': i, 'line': parts[i]} "
            "for i in generate_series(1, len(parts))]) AS u "
            "FROM (SELECT doc_id, string_split(text, chr(10)) AS parts "
            "FROM multi))), "
            "freq AS (SELECT line FROM (SELECT line, "
            "count(DISTINCT doc_id) AS n FROM lines "
            "WHERE trim(line) <> '' GROUP BY 1) "
            "WHERE n >= 2), "
            "kept AS (SELECT * FROM lines WHERE line NOT IN "
            "(SELECT line FROM freq)) "
            "SELECT m.doc_id AS id, coalesce(k.t, '') AS clean_text "
            "FROM multi m LEFT JOIN (SELECT doc_id, "
            "string_agg(line, chr(10) ORDER BY pos) AS t "
            "FROM kept GROUP BY doc_id) k ON k.doc_id = m.doc_id"
        ),
        "q_para_dedup": (
            # Paragraph-unit replay: regex split on blank-line runs,
            # non-whitespace guard (explicit class), distinct-doc
            # frequency, anti-join on the paragraph text, ordered
            # blank-line reassembly. The footer LINE inside each
            # unique tail paragraph must survive.
            "WITH multi AS (SELECT doc_id, text || e'\\n\\n' || "
            "'shared boilerplate paragraph' || e'\\n\\n' || 'tail ' || "
            "CAST(doc_id AS STRING) || e'\\n' || '(c) example footer' "
            "AS text FROM documents), "
            "paras AS (SELECT doc_id, u.pos AS pos, u.p AS p FROM ("
            "SELECT doc_id, unnest([{'pos': i, 'p': parts[i]} "
            "for i in generate_series(1, len(parts))]) AS u "
            "FROM (SELECT doc_id, "
            "string_split_regex(text, '(?:\\r?\\n){2,}') AS parts "
            "FROM multi))), "
            "freq AS (SELECT p FROM (SELECT p, "
            "count(DISTINCT doc_id) AS n FROM paras "
            "WHERE regexp_matches(p, '[^ \\t\\n\\r\\f\\x0B]') "
            "GROUP BY 1) WHERE n >= 2), "
            "kept AS (SELECT * FROM paras WHERE p NOT IN "
            "(SELECT p FROM freq)) "
            "SELECT m.doc_id, coalesce(k.t, '') AS clean_text "
            "FROM multi m LEFT JOIN (SELECT doc_id, "
            "string_agg(p, e'\\n\\n' ORDER BY pos) AS t "
            "FROM kept GROUP BY doc_id) k ON k.doc_id = m.doc_id"
        ),
        "q_css_select": (
            # Variant 0 (doc_id%3=0): one p with class c{doc_id%7} and
            # one a[href]; variant 1: two li under ul.
            f"WITH {_PAGES_CTE} SELECT url, "
            "CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 7 = 3 "
            "THEN 1 ELSE 0 END AS BIGINT) AS n_p_c3, "
            "CAST(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 0 END AS BIGINT) "
            "AS n_ul_li, "
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_href, "
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_h1_p, "
            "CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_li_li, "
            "CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_tbl_div, "
            # p[class!=c3]: v0 matches unless class is exactly c3
            # (doc_id%7=3); v1's class-less p matches (jQuery
            # missing-attr semantics); v2 has no p.
            "CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 7 <> 3 THEN 1 "
            "WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_p_notc3, "
            # p[class!=\"\"]: existing non-empty class required — v0 only.
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_p_anyclass FROM pages"
        ),
        "q_css_pseudo": (
            # Variant 1: second li under ul; variant 0: head's last
            # element child (style) and body non-p elements h1+a (2);
            # variant 1 body non-p: ul,li,li,br,img (5); variant 2:
            # first tr, and table,tr,tr,td,td,textarea,div (7).
            f"WITH {_PAGES_CTE} SELECT url, "
            "CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_li2, "
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_head_last, "
            "CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_tr_first, "
            "CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 5 ELSE 7 END "
            "AS BIGINT) AS n_not_p, "
            # body:has(a): only variant 0 carries a link.
            "CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_has_a, "
            # *:contains(Doc): ancestor chains of the 'Doc N' text nodes
            # (corpus text never contains 'Doc'): v0 title+head+html+
            # h1+body (5), v1 li+ul+body+html (4), v2 td+tr+table+body+
            # html (5).
            "CAST(CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 4 ELSE 5 END "
            "AS BIGINT) AS n_contains_doc, "
            # ul:has(li:contains(Doc)): only variant 1 has a ul.
            "CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) "
            "AS n_has_li_doc FROM pages"
        ),
        "q_wet_roundtrip": (
            # Every field computed analytically from the pages table —
            # no oracle-side parsing; the Spark side must recover them
            # through synthesis -> warc_record_udf.
            f"WITH {_PAGES_CTE} SELECT url, "
            "'conversion' AS rec_type, url AS target_uri, "
            "'text/plain' AS content_type, "
            "strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date, "
            "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "md5(text) AS text_md5 FROM pages"
        ),
        "q_warc_roundtrip": (
            # The oracle re-synthesizes the record in DuckDB's dialect
            # and md5s it — byte-identity with Spark's record — while
            # the parsed fields have template-predicted values.
            f"WITH {_PAGES_CTE} SELECT url AS url_out, "
            "'response' AS warc_type, 200 AS http_status, "
            "'text/html; charset=utf-8' AS http_content_type, "
            f"md5({warc_rec}) AS rec_md5, "
            "TRUE AS uri_ok, TRUE AS payload_ok, TRUE AS date_ok "
            "FROM pages"
        ),
        "q_descendants": (
            # Variant 1 pages have exactly 2 li inside the ul; variant 2
            # exactly 2 td inside the table; others none.
            f"WITH {_PAGES_CTE} SELECT url, "
            "CAST(CASE doc_id % 3 WHEN 1 THEN 2 ELSE 0 END AS BIGINT) "
            "AS n_li_in_ul, "
            "CAST(CASE doc_id % 3 WHEN 2 THEN 2 ELSE 0 END AS BIGINT) "
            "AS n_td_in_table FROM pages"
        ),
        "q_contamination": (
            # Shared distinct 8-gram counts between each doc and each
            # benchmark item (benchmark = every 50th doc verbatim).
            "WITH dsh AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
            "toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || "
            "toks[i+6] || ' ' || toks[i+7] "
            "for i in generate_series(1, len(toks) - 7)])) AS shingle "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
            "FROM documents)), "
            "bsh AS (SELECT doc_id // 50 AS bench_id, shingle "
            "FROM dsh WHERE doc_id % 50 = 0) "
            "SELECT d.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared "
            "FROM dsh d JOIN bsh b USING (shingle) GROUP BY 1, 2"
        ),
        "q_bloom_decontam": _bloom_decontam_sql(m_bits=8192, k=3),
        "q_curation_funnel": (
            # Replays every stage decision: token-count quality gate,
            # exact+near dedup (recursive-CTE components over the
            # jaccard >= 0.7 truth set), 8-gram decontamination against
            # every-50th-doc benchmark, md5-hash stratified sampling.
            "WITH RECURSIVE "
            "q AS (SELECT doc_id, text, lang FROM documents "
            "WHERE len(string_split(text, ' ')) >= 40), "
            "reps AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep "
            "FROM q), "
            "surv AS (SELECT u.doc_id, u.text FROM q u "
            "JOIN reps r ON u.doc_id = r.doc_id WHERE r.doc_id = r.rep), "
            "sh AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
            "for i in generate_series(1, len(toks) - 2)])) AS shingle "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM surv)), "
            "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i "
            "FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id "
            "GROUP BY 1, 2), "
            "pairs AS (SELECT id_a, id_b FROM ("
            "SELECT id_a, id_b, round(CAST(n_i AS DOUBLE) / (sa.n + sb.n - n_i), 4) AS j "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b) WHERE j >= 0.7), "
            "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(node, lab) AS (SELECT src, src FROM edges "
            "UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node), "
            "clusters AS (SELECT node AS id, min(lab) AS cluster_id "
            "FROM reach GROUP BY node), "
            "dedup_kept AS (SELECT doc_id FROM surv WHERE doc_id NOT IN "
            "(SELECT id FROM clusters WHERE id != cluster_id)), "
            "dsh8 AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
            "toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || "
            "toks[i+6] || ' ' || toks[i+7] "
            "for i in generate_series(1, len(toks) - 7)])) AS shingle "
            "FROM (SELECT d.doc_id, string_split(d.text, ' ') AS toks "
            "FROM documents d JOIN dedup_kept k USING (doc_id))), "
            "bsh8 AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
            "toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || "
            "toks[i+6] || ' ' || toks[i+7] "
            "for i in generate_series(1, len(toks) - 7)])) AS shingle "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks "
            "FROM documents WHERE doc_id % 50 = 0)), "
            "contaminated AS (SELECT DISTINCT d.doc_id "
            "FROM dsh8 d JOIN bsh8 b USING (shingle)), "
            "decon AS (SELECT doc_id FROM dedup_kept WHERE doc_id NOT IN "
            "(SELECT doc_id FROM contaminated)), "
            "samp AS (SELECT d.doc_id FROM decon dc "
            "JOIN documents d ON d.doc_id = dc.doc_id "
            "WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT "
            "% 1000000 < CASE d.lang WHEN 'en' THEN 500000 "
            "WHEN 'de' THEN 1000000 WHEN 'es' THEN 250000 ELSE 0 END) "
            "SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage, n_docs FROM ("
            "SELECT 0 AS stage_idx, 'ingest' AS stage, "
            "(SELECT count(*) FROM documents) AS n_docs "
            "UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM q) "
            "UNION ALL SELECT 2, 'dedup', (SELECT count(*) FROM dedup_kept) "
            "UNION ALL SELECT 3, 'decontaminated', (SELECT count(*) FROM decon) "
            "UNION ALL SELECT 4, 'sampled', (SELECT count(*) FROM samp))"
        ),
        "q_dedup_pipeline": (
            # Independent recomputation of the whole pipeline: exact
            # groups by md5, full-corpus jaccard >= 0.7 truth pairs
            # over exact survivors, components via recursive CTE, then
            # one (id, status, dup_of) row per input doc.
            "WITH RECURSIVE uni AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 1000000, 'extra prefix words here ' || text "
            "FROM documents WHERE doc_id % 10 = 0 "
            "UNION ALL SELECT doc_id + 2000000, text "
            "FROM documents WHERE doc_id % 7 = 0), "
            "reps AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep "
            "FROM uni), "
            "surv AS (SELECT u.doc_id, u.text FROM uni u "
            "JOIN reps r ON u.doc_id = r.doc_id WHERE r.doc_id = r.rep), "
            "sh AS (SELECT doc_id, unnest(list_distinct("
            "[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
            "for i in generate_series(1, len(toks) - 2)])) AS shingle "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM surv)), "
            "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i "
            "FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id "
            "GROUP BY 1, 2), "
            "pairs AS (SELECT id_a, id_b FROM ("
            "SELECT id_a, id_b, round(CAST(n_i AS DOUBLE) / (sa.n + sb.n - n_i), 4) AS j "
            "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b) WHERE j >= 0.7), "
            "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(node, lab) AS (SELECT src, src FROM edges "
            "UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node), "
            "clusters AS (SELECT node AS id, min(lab) AS cluster_id "
            "FROM reach GROUP BY node), "
            # exact reps that themselves drop as near dups remap to the
            # cluster representative (mirrors run_dedup).
            "dropped AS (SELECT r.doc_id AS id, 'exact_dup' AS status, "
            "coalesce(c.cluster_id, r.rep) AS dup_of "
            "FROM reps r LEFT JOIN clusters c ON c.id = r.rep "
            "WHERE r.doc_id != r.rep "
            "UNION ALL SELECT id, 'near_dup' AS status, cluster_id AS dup_of "
            "FROM clusters WHERE id != cluster_id) "
            "SELECT u.doc_id AS id, coalesce(d.status, 'kept') AS status, "
            "CAST(coalesce(d.dup_of, u.doc_id) AS BIGINT) AS dup_of "
            "FROM uni u LEFT JOIN dropped d ON u.doc_id = d.id"
        ),
        "q_simhash": (
            # Locality contract: every injected near-dup lands within 16
            # bits of its original and no farther than the unrelated
            # control document d+10.
            "SELECT doc_id AS orig_id, TRUE AS within_bound, "
            "TRUE AS no_farther_than_control FROM documents "
            "WHERE doc_id % 10 = 0 "
            "AND doc_id + 10 <= (SELECT max(doc_id) FROM documents)"
        ),
        "q_redact": (
            "SELECT doc_id, CASE WHEN doc_id % 2 = 0 "
            "THEN 'contact [EMAIL] or call [PHONE] from [IP] ok' "
            "ELSE 'no pii in doc ' || CAST(doc_id AS STRING) END "
            "AS scrubbed FROM documents"
        ),
        "q_gopher": (
            # First failing rule per synthesized variant.
            "SELECT doc_id, doc_id % 4 = 0 AS keep, "
            "CASE doc_id % 4 WHEN 0 THEN NULL WHEN 1 THEN 'too_few_words' "
            "WHEN 2 THEN 'symbol_heavy' ELSE 'bullet_heavy' END "
            "AS reject_reason FROM documents"
        ),
        "q_repetition": (
            # m = 2+doc_id%5 'a b' repeats, k = doc_id%3 duplicate END
            # lines, L = digits in doc_id. Lines: 1 text line + k ENDs
            # -> dup fraction (k-1)/(k+1) for k>=1 (0 otherwise); top
            # bigram is 'a b' (m occurrences x 3 chars) over total
            # length 4m + 2L + 3 + 4k.
            "WITH p AS (SELECT doc_id, 2 + doc_id % 5 AS m, doc_id % 3 AS k, "
            "length(CAST(doc_id AS STRING)) AS L FROM documents) "
            "SELECT doc_id, "
            "round(CASE WHEN k = 2 THEN 1.0/3.0 ELSE 0 END, 4) AS dup_line_frac, "
            "round(3.0 * m / (4*m + 2*L + 3 + 4*k), 4) AS top_bigram_frac "
            "FROM p"
        ),
        "q_rolling_fp": (
            # Window count from token count; identical duplicate docs
            # must share identical fingerprint arrays.
            "SELECT doc_id, CAST(greatest("
            "len(string_split_regex(text, '\\s+')) - 7, 1) AS INTEGER) "
            "AS n_windows, TRUE AS dup_matches "
            "FROM documents WHERE doc_id % 10 = 0"
        ),
        "q_url_canon": (
            # Expected canonical form predicted directly from doc_id.
            "SELECT doc_id, CASE WHEN doc_id % 2 = 0 "
            "THEN 'http://www.host' || CAST(doc_id % 7 AS STRING) || "
            "'.example/?a=1&b=2' "
            "ELSE 'https://host' || CAST(doc_id % 7 AS STRING) || "
            "'.example/p/' || CAST(doc_id AS STRING) || '?a=1&z=' || "
            "CAST(doc_id AS STRING) END AS canonical_url FROM documents"
        ),
        "q_resolve_links": (
            # Each href pattern's resolution predicted analytically
            # from the base path '/doc/{id}' (dir '/doc/').
            "WITH b AS (SELECT doc_id, CAST(doc_id AS STRING) AS ids, "
            "'https://host' || CAST(CASE WHEN doc_id % 5 < 2 THEN 0 "
            "ELSE doc_id % 41 END AS STRING) || '.example' AS origin "
            "FROM documents) "
            "SELECT doc_id, CASE doc_id % 8 "
            "WHEN 0 THEN origin || '/doc/' || ids "
            "WHEN 1 THEN origin || '/doc/page' || ids "
            "WHEN 2 THEN origin || '/up/' || ids "
            "WHEN 3 THEN origin || '/rooted/' || ids "
            "WHEN 4 THEN origin || '/doc/' || ids || '?q=' || ids "
            "WHEN 5 THEN 'https://cdn.example/x/' || ids "
            "WHEN 6 THEN 'https://abs.example/' || ids "
            "ELSE origin || '/doc/same/' || ids END AS resolved_url "
            "FROM b"
        ),
        "q_image_meta": (
            # The real GIF header parser must recover the synthesized
            # logical-screen dimensions exactly.
            "SELECT doc_id AS media_id, "
            "CAST(257 + doc_id % 96 AS INTEGER) AS width, "
            "CAST(513 + (doc_id * 7) % 96 AS INTEGER) AS height, "
            "CAST(3 AS INTEGER) AS channels FROM documents"
        ),
        "q_pdf_text": (
            # Reading-order prediction: page 1 title line (y=720), then
            # the first half after T* + ' line feeds (y=696), then page
            # 2's Tm-positioned second half — the parser unescapes, so
            # the oracle concatenates the raw halves.
            "SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || "
            "substring(text, 1, len(text) // 2) || chr(10) || "
            "substring(text, len(text) // 2 + 1) AS pdf_text FROM documents"
        ),
        "q_langid": (
            # The marker-vote cascade ported verbatim: per-language
            # marker-token counts, highest wins, ties broken by language
            # order (en, de, fr, es, zh), zero hits -> 'und'.
            "WITH t AS (SELECT string_split_regex(text, '\\s+') AS toks "
            "FROM documents), s AS (SELECT "
            "len(list_filter(toks, x -> x IN ('the','and','of','with'))) AS s_en, "
            "len(list_filter(toks, x -> x IN ('der','die','und','nicht'))) AS s_de, "
            "len(list_filter(toks, x -> x IN ('le','les','des','est'))) AS s_fr, "
            "len(list_filter(toks, x -> x IN ('el','los','que','por'))) AS s_es, "
            "len(list_filter(toks, x -> x IN ('的','是','了','在'))) AS s_zh "
            "FROM t), g AS (SELECT CASE "
            "WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und' "
            "WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en' "
            "WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de' "
            "WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr' "
            "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS guess FROM s) "
            "SELECT guess, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY guess"
        ),
    }
