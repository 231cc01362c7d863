"""Spark jobs, stages and wall time per step of the curation plans.

Starts one fresh Spark JVM at ``local[nproc]`` with this source tree on
the Python path of this process and of the JVM's Python workers, writes
``perfbench.inputs.curation_corpus(seed, 1000)`` as parquet with
``perfbench.workloads.write_parquet``, and runs, each under a job group
of its own (cold: nothing runs before the first group):

* ``run_curation`` - building the curation plan (its stage
  checkpoints run here, ``duplicate_clusters`` among them);
* ``run_prep`` - building the prep plan;
* ``chunks`` - the one action: chunk count and fingerprint;
* ``funnels`` - both funnels collected;
* ``duplicate_clusters`` - the operator alone on materialized verified
  pairs of the whole corpus (exact-duplicate removal, then
  ``minhash_lsh_pairs`` and ``jaccard_verify_pairs``), ending in one
  fingerprint aggregate of ``(id, cluster_id)``.

Jobs and stages come from ``statusTracker()`` (a job's stages include
skipped ones). The tool fails unless both funnels, the chunk count and
the chunk fingerprint equal the corpus reference. It prints one JSON
line: per group ``jobs``, ``stages`` and ``wall_s``, the sum over the
four curate+prep groups, and the clustering's pair, id and cluster
counts and fingerprint.

Usage: ``python tools/plan_jobs.py [seed]`` (default 101). To count a
parent tree, copy this file into that tree's ``tools/`` and run it
there.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
N_ORIGINALS = 1000
CURATE_PREP = ("run_curation", "run_prep", "chunks", "funnels")


def main(seed: int = 101) -> int:
    os.environ["PYTHONPATH"] = str(ROOT)
    sys.path.insert(0, str(ROOT))
    from htmlparser2_spark.session import get_spark
    from perfbench import inputs
    from perfbench.workloads import write_parquet

    cpus = len(os.sched_getaffinity(0))
    work = pathlib.Path(tempfile.mkdtemp(prefix="plan_jobs_"))
    spark = get_spark(
        "plan_jobs",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        conf={"spark.driver.memory": "2g", "spark.local.dir": str(work / "tmp")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    groups: dict[str, dict] = {}

    def run(group: str, action):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return action()
        finally:
            wall = time.perf_counter() - t0
            sc.setJobGroup("", "")
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            groups[group] = {
                "jobs": len(jobs),
                "stages": sum(
                    len(sc.statusTracker().getJobInfo(j).stageIds) for j in jobs
                ),
                "wall_s": round(wall, 3),
            }

    try:
        ref = inputs.curation_corpus(seed, N_ORIGINALS)
        paths = {name: str(work / name) for name in ("docs", "bench", "chunks")}
        write_parquet(ref.docs, paths["docs"], cpus)
        write_parquet(ref.bench, paths["bench"], 1)
        write_parquet(ref.chunks, paths["chunks"], 1)
        result = curate_prep(spark, run, ref, paths)
        result["duplicate_clusters"] = clusters_alone(spark, run, paths["docs"])
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    result["groups"] = groups
    result["curate_prep"] = {
        key: sum(groups[g][key] for g in CURATE_PREP) for key in ("jobs", "stages")
    }
    result["seed"] = seed
    print(json.dumps(result))
    return 0


def curate_prep(spark, run, ref, paths) -> dict:
    from pyspark.sql import functions as F

    from htmlparser2_spark.plans.curate_job import run_curation
    from htmlparser2_spark.plans.prep_job import run_prep
    from perfbench import inputs
    from perfbench.workloads import fingerprint

    def chunk_fp(df):
        return fingerprint(
            F.col("id").cast("long"),
            F.col("chunk_idx").cast("int"),
            F.col("n_chunk_tokens").cast("int"),
            F.col("chunk_text"),
        )

    corpus, funnel = run("run_curation", lambda: run_curation(
        spark.read.parquet(paths["docs"]),
        bench=spark.read.parquet(paths["bench"]),
    ))
    chunks, prep_funnel = run("run_prep", lambda: run_prep(
        corpus, chunk_tokens=inputs.CHUNK_TOKENS, overlap=inputs.CHUNK_OVERLAP
    ))
    row = run("chunks", lambda: chunks.agg(
        F.count(F.lit(1)).alias("n"), chunk_fp(chunks).alias("fp")
    ).first())
    stages, prep_stages = run("funnels", lambda: (
        {r["stage"]: r["n_docs"] for r in funnel.collect()},
        {r["stage"]: r["n_rows"] for r in prep_funnel.collect()},
    ))
    expected = spark.read.parquet(paths["chunks"])
    expected_fp = expected.agg(chunk_fp(expected)).first()[0]
    if (
        stages != ref.funnel
        or prep_stages != ref.prep_funnel
        or row["n"] != len(ref.chunks["id"])
        or row["fp"] != expected_fp
    ):
        raise SystemExit(
            f"run_curation + run_prep: funnel {stages} / {prep_stages}, "
            f"{row['n']} chunks (fingerprint {row['fp']}); expected "
            f"{ref.funnel} / {ref.prep_funnel}, {len(ref.chunks['id'])} "
            f"chunks (fingerprint {expected_fp})"
        )
    return {"funnel": list(stages.values()), "prep_funnel": list(prep_stages.values()),
            "chunks": row["n"]}


def clusters_alone(spark, run, docs_path) -> dict:
    from pyspark.sql import functions as F

    from htmlparser2_spark.operators.dedup import (
        duplicate_clusters,
        exact_dedup,
        jaccard_verify_pairs,
        minhash_lsh_pairs,
    )
    from perfbench.workloads import fingerprint, materialize

    docs = spark.read.parquet(docs_path)
    copies = (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .join(exact_dedup(docs), "text_hash")
        .filter(F.col("doc_id") != F.col("keep_id"))
    )
    unique = materialize(docs.join(copies, "doc_id", "left_anti"))
    verified = materialize(
        jaccard_verify_pairs(unique, minhash_lsh_pairs(unique))
    )
    row = run("duplicate_clusters", lambda: duplicate_clusters(verified).agg(
        F.count(F.lit(1)).alias("ids"),
        F.count_distinct("cluster_id").alias("clusters"),
        fingerprint("id", "cluster_id").alias("fp"),
    ).first())
    return {"pairs": verified.count(), **row.asDict()}


if __name__ == "__main__":
    sys.exit(main(*(int(a) for a in sys.argv[1:2])))
