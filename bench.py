"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., plus throughput extras}

The pages corpus is synthesized deterministically from documents.parquet
and replicated BENCH_REPLICATE times (distinct doc_ids/urls) so the parse
stage has enough bytes to measure; throughput is reported as docs/sec and
MB/sec of html bytes (comparable to BASELINE.md's reference envelope).

Diagnosability (the r4 verdict's q_minhash_lsh ask — 2x the quiet
floor on the driver, twice): the JSON line always carries per-rep
timings ("reps") and 1-minute loadavg samples taken around every rep
round ("loadavg_1m"), so a recorded BENCH_r*.json distinguishes a
sustained slowdown (all reps slow, loadavg flat) from host-weather
spikes (one rep slow, loadavg elevated) post-hoc. `--profile`
additionally enables the Spark UI, tags every rep with a job group,
and dumps per-stage REST metrics (executorRunTime, shuffle bytes, GC)
to stderr + $BENCH_PROFILE_PATH (default /tmp/bench_profile.json) —
stdout stays exactly one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("BENCH_REPLICATE", "40"))
WORK_DIR = os.environ.get("BENCH_WORK_DIR", "/tmp/htmlparser2_spark_bench")


def build_corpora() -> None:
    """Corpus synthesis in its own JVM (--build child process).

    The x{REPLICATE} union DAG and two full-table writes leave the JVM
    with heap pressure that was measured to inflate the subsequent
    timed queries up to 3x; building in a throwaway process keeps the
    timing JVM clean.
    """
    from pyspark.sql import functions as F

    from htmlparser2_spark.session import get_spark
    from htmlparser2_spark.sources.pages import page_exprs

    spark = get_spark("bench-build", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    pages_path = os.path.join(WORK_DIR, f"pages_x{REPLICATE}")
    if os.path.exists(pages_path):
        shutil.rmtree(pages_path)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs_base = docs.count()
    replicated = None
    for r in range(REPLICATE):
        shifted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * n_docs_base))
        replicated = shifted if replicated is None else replicated.unionByName(shifted)
    replicated.createOrReplaceTempView("documents_repl")
    e = page_exprs("spark")
    spark.sql(
        f"SELECT {e['url']} AS url, {e['warc_ts']} AS warc_ts, "
        f"{e['html']} AS html, {e['text']} AS text, lang FROM documents_repl"
    ).write.mode("overwrite").parquet(pages_path)
    heavy_path = os.path.join(WORK_DIR, "pages_heavy")
    spark.sql(
        "SELECT 'https://h' || CAST(doc_id % 41 AS STRING) || '.example/' || "
        "CAST(doc_id AS STRING) AS url, "
        "encode('<html><head><title>Doc ' || CAST(doc_id AS STRING) || "
        "'</title></head><body>' || repeat('<p class=\"para\">' || text || '</p>', 12) || "
        "'</body></html>', 'utf-8') AS html, "
        "'Doc ' || CAST(doc_id AS STRING) || repeat(text, 12) AS text, lang "
        "FROM documents_repl WHERE doc_id % 2 = 0"
    ).write.mode("overwrite").parquet(heavy_path)
    spark.stop()


def _dump_profile(spark) -> None:
    """Fetch per-stage metrics from the UI REST API and write them to
    stderr + BENCH_PROFILE_PATH. Stage rows carry the job group set
    per (query, rep), so a slow line maps to its stages."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        sys.stderr.write("profile: Spark UI unavailable\n")
        return

    def get(path: str):
        with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=10) as r:
            return json.load(r)

    app_id = get("/applications")[0]["id"]
    jobs = get(f"/applications/{app_id}/jobs?status=succeeded")
    group_by_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
    stage_to_group = {}
    for j in jobs:
        for sid in j.get("stageIds", []):
            stage_to_group[sid] = group_by_job.get(j["jobId"])
    rows = []
    for s in get(f"/applications/{app_id}/stages?status=complete"):
        rows.append(
            {
                "group": stage_to_group.get(s["stageId"]),
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:80],
                "tasks": s["numCompleteTasks"],
                "executor_run_ms": s["executorRunTime"],
                "gc_ms": s.get("jvmGcTime", 0),
                "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "shuffle_read_mb": round(
                    s.get("shuffleReadBytes", 0) / 1e6, 1
                ),
                "shuffle_write_mb": round(
                    s.get("shuffleWriteBytes", 0) / 1e6, 1
                ),
            }
        )
    rows.sort(key=lambda r: -r["executor_run_ms"])
    path = os.environ.get("BENCH_PROFILE_PATH", "/tmp/bench_profile.json")
    with open(path, "w") as fh:
        json.dump(rows, fh, indent=1)
    for r in rows[:40]:
        sys.stderr.write(json.dumps(r) + "\n")
    sys.stderr.write(f"profile: {len(rows)} stages -> {path}\n")


def main(profile: bool = False) -> None:
    from pyspark.sql import functions as F

    from htmlparser2_spark.functions.udfs import doc_stats_udf, node_counts_udf
    from htmlparser2_spark.operators.dedup import minhash_lsh_pairs
    from htmlparser2_spark.operators.similarity import brute_force_topk
    from htmlparser2_spark.plans.extract_job import parse_pages
    from htmlparser2_spark.session import get_spark

    # ---- corpora built in a throwaway JVM (untimed; see build_corpora) ----
    build = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build"],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": os.path.dirname(os.path.abspath(__file__))},
    )
    if build.returncode != 0:
        sys.stderr.write(build.stdout + build.stderr)
        raise SystemExit("corpus build failed")

    spark = get_spark(
        "bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        conf={"spark.ui.enabled": "true"} if profile else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Scan-level parallelism: size parquet splits so the pages scan yields
    # >= 2x CPUS partitions without a repartition shuffle.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 20))

    pages_path = os.path.join(WORK_DIR, f"pages_x{REPLICATE}")
    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()
    total_bytes = pages.agg(F.sum(F.length("html"))).collect()[0][0]

    # Warm the Python workers (imports + Arrow serde) before timing:
    # steady-state throughput is the metric, not interpreter startup.
    # sample() keeps all partitions alive so every worker warms (limit()
    # would collapse to one partition = one warm worker).
    from htmlparser2_spark.plans.extract_job import parse_pages as _pp

    _pp(pages.sample(0.05), repartition=False).count()

    timings: dict[str, float] = {}

    # q1: full extraction pipeline (repartition + mapInArrow parse +
    # byte-identical check + lineage rollup)
    match_rate = {}

    def q_extract() -> None:
        parsed = parse_pages(pages, n_partitions=CPUS)
        row = parsed.agg(
            F.count(F.lit(1)).alias("docs"), F.sum("golden_match").alias("m")
        ).collect()[0]
        match_rate["extract"] = row["m"] / row["docs"]

    # q2: node-name histogram. node_counts_udf runs the full Parser with
    # a node-name counting handler (no DOM built): emits
    # per-doc (name, cnt) pairs — same result as exploding dom_nodes
    # (parity-pinned in tests/test_spark_ops.py), but transfer and
    # shuffle are bounded by distinct names per doc, not node count.
    def q_dom() -> None:
        counts = pages.select(
            F.explode(node_counts_udf()(F.col("html"))).alias("nc")
        )
        counts.groupBy("nc.name").agg(F.sum("nc.cnt")).collect()

    # q3: event counting stats
    def q_stats() -> None:
        pages.select(doc_stats_udf()(F.col("html")).alias("s")).agg(
            F.sum("s.n_events")
        ).collect()

    # q4: minhash LSH dedup candidates over the replicated corpus
    # (replicas are true duplicates -> real candidate pairs)
    def q_minhash() -> None:
        # Deterministic ~10% sample: keeps duplicate clusters (4 copies)
        # without the quadratic pair blowup of the full x40 replication.
        sample = spark.read.parquet(pages_path).filter(
            F.pmod(F.xxhash64("url"), F.lit(10)) < 1
        )
        minhash_lsh_pairs(
            sample.select(F.xxhash64("url").alias("doc_id"), F.col("text")),
            n_perm=32,
            bands=8,
        ).count()

    # q5: brute-force ANN top-k (arrow engine: BLAS scoring + per-batch
    # partial top-k; the jvm engine stays the gate query's exactness
    # oracle — quiet-host A/B 0.6s vs 2.5s warm best-of-3)
    def q_ann() -> None:
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        brute_force_topk(
            emb.filter(F.col("vec_id") < 50), emb.filter(F.col("vec_id") >= 50),
            k=10, engine="arrow",
        ).count()

    # q1b: realistic-page extraction — ~6KB pages (12 paragraphs), the
    # closest shape to the reference benchmark's real-web corpus.
    heavy = spark.read.parquet(os.path.join(WORK_DIR, "pages_heavy"))
    n_heavy = heavy.count()
    heavy_bytes = heavy.agg(F.sum(F.length("html"))).collect()[0][0]

    def q_extract_large() -> None:
        parsed = parse_pages(heavy, n_partitions=CPUS)
        row = parsed.agg(
            F.count(F.lit(1)).alias("docs"), F.sum("golden_match").alias("m")
        ).collect()[0]
        match_rate["extract_large"] = row["m"] / row["docs"]

    # Best-of-N, INTERLEAVED round-robin: rep i of EVERY query runs
    # before rep i+1 of any. This host carries hypervisor-level
    # background load (loadavg >10 with an idle process table) that can
    # inflate a single run 3-8x and a spike can outlast ~60s — with
    # consecutive reps one spike used to own all three reps of one line
    # (round-3 driver bench: q_minhash_lsh 5.93s vs 4.3s quiet).
    # Spreading a line's reps across the whole suite means a spike taxes
    # one rep of several lines instead, and best-of-N recovers each.
    # Best-of-3 minimum on EVERY line (CLAUDE.md perf rule: a single
    # spike can inflate one run 3-8x, and with only 2 reps a spike
    # covering both loses the line).
    suite: list[tuple[str, object, int]] = [
        ("q_extract", q_extract, 3),
        ("q_extract_large_pages", q_extract_large, 3),
        ("q_dom_histogram", q_dom, 3),
        ("q_doc_stats", q_stats, 3),
        ("q_minhash_lsh", q_minhash, 3),
        ("q_ann_topk", q_ann, 3),
    ]
    rep_times: dict[str, list[float]] = {name: [] for name, _, _ in suite}
    load_samples: list[float] = [round(os.getloadavg()[0], 1)]
    for rep in range(max(r for _, _, r in suite)):
        for name, fn, repeats in suite:
            if rep >= repeats:
                continue
            spark.sparkContext.setJobGroup(f"{name}#r{rep}", name)
            t0 = time.perf_counter()
            fn()
            elapsed = time.perf_counter() - t0
            spark.sparkContext.setJobGroup("", "")
            rep_times[name].append(round(elapsed, 3))
            prev = timings.get(name)
            timings[name] = round(
                elapsed if prev is None else min(prev, elapsed), 3
            )
        load_samples.append(round(os.getloadavg()[0], 1))

    extract_sec = timings["q_extract"]
    result = {
        "metric": "html extraction + dedup + ann benchmark suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "docs": n_docs,
        "html_mb": round(total_bytes / 1e6, 1),
        "extract_docs_per_sec": round(n_docs / extract_sec, 1),
        "extract_mb_per_sec": round(total_bytes / 1e6 / extract_sec, 2),
        "extract_golden_match_rate": round(match_rate.get("extract", 0.0), 6),
        "large_page_docs": n_heavy,
        "large_page_mb": round(heavy_bytes / 1e6, 1),
        "large_page_docs_per_sec": round(
            n_heavy / timings["q_extract_large_pages"], 1
        ),
        "large_page_mb_per_sec": round(
            heavy_bytes / 1e6 / timings["q_extract_large_pages"], 2
        ),
        "large_page_match_rate": round(match_rate.get("extract_large", 0.0), 6),
        "cpus": CPUS,
        "reps": rep_times,
        "loadavg_1m": load_samples,
    }
    if profile:
        try:
            _dump_profile(spark)
        except Exception as exc:  # diagnostics must never eat the JSON line
            sys.stderr.write(f"profile failed: {exc}\n")
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--build":
        build_corpora()
    else:
        sys.exit(main(profile="--profile" in sys.argv[1:]))
