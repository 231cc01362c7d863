"""Structured Streaming tests: stateful first-seen dedup and per-host
budgets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def _pages(spark):
    from htmlparser2_spark.sources.pages import build_pages

    return build_pages(spark, SF)


def test_stateful_dedup_first_seen(spark, tmp_path):
    from htmlparser2_spark.streaming.stateful import dedup_first_seen

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    pages = _pages(spark)
    pages.write.parquet(src)
    pages.limit(150).write.mode("append").parquet(src)  # re-deliveries
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    q = (
        dedup_first_seen(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.read.parquet(out)
    assert res.count() == 500  # each url exactly once
    assert res.select("url").distinct().count() == 500


def test_stateful_dedup_content_first_seen(spark, tmp_path):
    """Content-keyed dedup collapses re-delivered urls AND a mirror of
    the same text under a different url; each distinct text emits
    exactly once across micro-batches."""
    from htmlparser2_spark.streaming.stateful import dedup_content_first_seen

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    pages = _pages(spark)
    pages.write.parquet(src)
    pages.limit(100).write.mode("append").parquet(src)  # re-crawls
    # mirrors: same text, different host/url, later timestamp
    mirror = pages.limit(50).withColumn(
        "url", F.concat(F.lit("https://mirror.example/"), F.col("url"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    mirror.write.mode("append").parquet(src)
    n_texts = spark.read.parquet(src).select("text").distinct().count()
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    q = (
        dedup_content_first_seen(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.read.parquet(out)
    assert res.count() == n_texts  # one row per distinct content
    assert res.select("fingerprint").distinct().count() == n_texts
    # no mirror url may win: for every fingerprint the original (earlier
    # warc_ts) observation was delivered in-stream as well
    assert res.filter(F.col("url").startswith("https://mirror.")).count() == 0


def test_stateful_host_budget(spark, tmp_path):
    from htmlparser2_spark.streaming.stateful import host_budget

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    _pages(spark).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    rows = []
    q = (
        host_budget(stream, byte_budget=50_000)
        .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    by_host = {r["host"]: r for r in rows}
    # host0 carries ~40% of docs (deterministic skew) -> over budget.
    assert by_host["host0"]["over_budget"] == 1
    assert by_host["host0"]["docs_total"] > 100
    assert sum(r["docs_total"] for r in by_host.values()) == 500
