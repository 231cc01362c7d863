"""Spark A/B of the document UDFs and ``parse_pages`` of two source trees.

Each rep starts one fresh Spark JVM per tree, in a child process whose
``htmlparser2_spark`` (driver and Python workers) comes from that tree,
and the tree that goes first alternates from rep to rep. A child runs
every case once to warm its Python workers, then once timed, reading
CPU-seconds from ``perfbench.procstat.ProcessTree``: ``python`` (every
Python worker the JVM started) and ``jvm``. Cases, over the pages of
``perfbench.inputs.structured_pages(521, n_docs)`` (the
``structured_pages_markdown`` workload's generator), stored once as
parquet with one file per core:

* ``explode_nodes`` - ``operators.domquery.explode_nodes``: the
  ``dom_nodes_udf`` rows (list<struct<map>>) exploded to one row per
  node;
* ``extract_text_udf`` and ``markdown_udf`` - one string per page;
* ``parse_pages_text`` and ``parse_pages_markdown`` -
  ``plans.extract_job.parse_pages`` in that mode: the batch loop both
  ``perfbench`` workloads run, over every ``PARSED_SCHEMA`` column
  (``wall_ms`` enters the fingerprint only as ``wall_ms >= 0``, since
  its value differs from run to run).

Every run ends in one aggregate over all output columns (row count and
a sum of per-row hashes; maps go through ``to_json``, since Spark does
not hash maps), and the tool fails unless both trees give the same
fingerprint for every case in every rep.

Output: one JSON line. Per case and metric (``python_cpu_s``,
``jvm_cpu_s``, ``wall_s``) the per-rep values of each tree, their
median and quartiles, the per-rep change/parent ratios (below 1.0 means
the change used less) and the reps the change won.

Usage: ``python tools/udf_ab.py <parent_tree> <change_tree> [reps]
[n_docs]`` (defaults 10 and 4000), with the parent tree made by
``git archive``.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

SEED = 521
CASES = (
    "explode_nodes", "extract_text_udf", "markdown_udf",
    "parse_pages_text", "parse_pages_markdown",
)
METRICS = ("python_cpu_s", "jvm_cpu_s", "wall_s")


def write_pages(directory: pathlib.Path, n_docs: int, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    from perfbench.inputs import structured_pages

    table = pa.table(structured_pages(SEED, n_docs))
    directory.mkdir(parents=True)
    step = -(-n_docs // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), directory / f"part-{i}.parquet")


def case_frames(pages) -> dict:
    """Case name -> (DataFrame, fingerprint columns)."""
    from pyspark.sql import functions as F

    from htmlparser2_spark.functions.udfs import extract_text_udf, markdown_udf
    from htmlparser2_spark.operators.domquery import explode_nodes
    from htmlparser2_spark.plans.extract_job import parse_pages

    def parsed(mode: str):
        df = parse_pages(pages, mode=mode)
        cols = [F.col(c) for c in df.columns if c != "wall_ms"]
        return df, cols + [F.col("wall_ms") >= 0]

    nodes = explode_nodes(pages)
    node_cols = [
        F.to_json(c) if c in ("attrs", "attr_quotes") else F.col(c)
        for c in nodes.columns
    ]
    return {
        "explode_nodes": (nodes, node_cols),
        "extract_text_udf": (
            pages.select("url", extract_text_udf()(F.col("html")).alias("t")),
            [F.col("url"), F.col("t")],
        ),
        "markdown_udf": (
            pages.select("url", markdown_udf()(F.col("html")).alias("t")),
            [F.col("url"), F.col("t")],
        ),
        "parse_pages_text": parsed("text"),
        "parse_pages_markdown": parsed("markdown"),
    }


def child(pages_dir: str, work: str) -> None:
    """One fresh JVM: warm every case, then time each once; print one
    JSON line of per-case metrics and fingerprints."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from htmlparser2_spark.session import get_spark
    from perfbench.procstat import ProcessTree

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        "udf_ab",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        conf={"spark.driver.memory": "1g", "spark.local.dir": work},
    )
    spark.sparkContext.setLogLevel("ERROR")
    tree = ProcessTree(SparkContext._gateway.proc.pid)
    frames = case_frames(spark.read.parquet(pages_dir))

    def fingerprint(df, cols) -> list:
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.hash(*cols)).alias("h")
        ).collect()[0]
        return [row["n"], row["h"]]

    for df, cols in frames.values():
        fingerprint(df, cols)
    out = {}
    for name, (df, cols) in frames.items():
        cpu0, t0 = tree.cpu(), time.perf_counter()
        fp = fingerprint(df, cols)
        wall = time.perf_counter() - t0
        cpu = tree.cpu() - cpu0
        out[name] = {
            "python_cpu_s": cpu.python, "jvm_cpu_s": cpu.jvm,
            "wall_s": wall, "fingerprint": fp,
        }
    spark.stop()
    print(json.dumps(out))


def run_child(tree: str, pages_dir: pathlib.Path, work: pathlib.Path) -> dict:
    env = {**os.environ, "PYTHONPATH": tree}
    proc = subprocess.run(
        [sys.executable, __file__, "--child", tree,
         str(pages_dir), str(work)],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout + proc.stderr)
        raise SystemExit(f"child run failed for {tree}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summary(values: list[float]) -> dict:
    median = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else [median] * 3
    return {"values": [round(v, 3) for v in values], "median": round(median, 3),
            "q1": round(q1, 3), "q3": round(q3, 3)}


def main(parent: str, change: str, reps: int = 10, n_docs: int = 4000) -> int:
    trees = (str(pathlib.Path(parent).resolve()), str(pathlib.Path(change).resolve()))
    work = pathlib.Path(tempfile.mkdtemp(prefix="udf_ab_"))
    try:
        pages_dir = work / "pages"
        write_pages(pages_dir, n_docs, len(os.sched_getaffinity(0)))
        runs: tuple[list, list] = ([], [])
        for rep in range(reps):
            for side in ((0, 1) if rep % 2 == 0 else (1, 0)):
                runs[side].append(run_child(trees[side], pages_dir, work / "tmp"))
            for name in CASES:
                fps = [r[-1][name]["fingerprint"] for r in runs]
                if fps[0] != fps[1]:
                    print(json.dumps({"error": "fingerprint", "case": name,
                                      "rep": rep, "fingerprints": fps}))
                    return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {"reps": reps, "n_docs": n_docs, "seed": SEED,
              "fingerprints_match": True, "cases": {}}
    for name in CASES:
        case = {}
        for metric in METRICS:
            p = [r[name][metric] for r in runs[0]]
            c = [r[name][metric] for r in runs[1]]
            ratios = [b / a for a, b in zip(p, c)]
            case[metric] = {
                "parent": summary(p), "change": summary(c),
                "ratios": [round(r, 3) for r in ratios],
                "change_won": sum(r < 1.0 for r in ratios),
            }
        case["fingerprint"] = runs[0][0][name]["fingerprint"]
        result["cases"][name] = case
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        sys.path.insert(0, sys.argv[2])
        child(sys.argv[3], sys.argv[4])
    elif len(sys.argv) < 3:
        sys.exit(__doc__)
    else:
        sys.exit(main(
            sys.argv[1], sys.argv[2],
            *(int(a) for a in sys.argv[3:5]),
        ))
