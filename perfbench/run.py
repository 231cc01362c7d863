"""Repository benchmark: one workload, closed loop, at ``local[nproc]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload small_pages_text --seed 1 \
        --seconds 10 --trace 0

Workloads are the ones ``BENCHMARK.json`` names (``perfbench/
workloads.py``). ``run_curation`` is not timed: on a 4-core VM a warm
iteration costs 20-30 s of Spark planning and JIT whatever the input
size, too long for several iterations in a run or for many runs, and
a timed ``run_prep`` alone, equally job-bound, read up to 57% apart
across seeds. The traced run of ``small_pages_text`` replays
``run_curation`` with ``run_prep`` and times each curation operator
alone. Inputs are made from ``--seed`` under ``.perfbench_work/`` in
the repository root; the program sees only those files.

``--trace 0`` sets up once in a fresh JVM: Spark session start, seeded
inputs and ``WARM_UPS`` checked warm-up iterations (JIT, codegen,
Python worker start). That is ``setup_s``. It then runs checked
iterations back to back for ``--seconds`` (at least one) and reports
the end-to-end metrics of ``BENCHMARK.json``, each the median over the
iterations.
``--trace 1`` sets up the same way with the Spark UI on and reports
the per-layer metrics; the line before the result then holds every
span and each span name's self time.

The last line of stdout is one JSON object: ``correct``,
``attempted`` and ``failed`` (checked iterations, the warm-ups
included) and ``metrics``. The line before it gives each timing's
quartiles and sample count, the set-up's parts and ``failed_frac``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import asdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# CPU seconds the attribution self-check injects. The JVM's CPU moved
# by up to 0.42 s between two identical passthrough scans, so the 25%
# of the spin it may move is kept above that.
SPIN_TOTAL_S = 4.0
# Checked iterations before timing starts. The first pays JIT, codegen
# and Python worker start; the JVM's CPU per iteration keeps falling
# for a few more while the JIT compiles the hot plans.
WARM_UPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4)


class Bench:
    """Owns the Spark session, the JVM it runs in and the counters."""

    def __init__(self, workload, trace: bool) -> None:
        self.wl = workload
        self.trace = trace
        self.spark = None
        self.tree = None
        self.attempted = 0
        self.failed = 0
        self.matched = 0
        self.expected = 0
        self.selfcheck_ok = True  # set by boundary() in a traced run

    # -- session
    def start_session(self) -> None:
        from pyspark import SparkContext

        from htmlparser2_spark.session import get_spark

        from perfbench.procstat import ProcessTree
        from perfbench.workloads import NPROC

        tmp = os.path.join(WORK, "tmp")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{NPROC}]",
            shuffle_partitions=NPROC,
            conf={
                # Every workload and the curation replay fit; a small
                # heap stops growing sooner, which steadies peak_rss_mb.
                "spark.driver.memory": "512m",
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.enabled": "true" if self.trace else "false",
                "spark.ui.port": "0",
                "spark.checkpoint.dir": os.path.join(tmp, "checkpoints"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tree = ProcessTree(SparkContext._gateway.proc.pid)

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- one checked iteration
    def iterate(self, measure_rss: bool = True, span=None) -> dict | None:
        """One checked iteration; ``span`` (a Tracer's) wraps its calls
        into the program."""
        from perfbench.procstat import RssPeak
        from perfbench.trace import no_span

        self.attempted += 1
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        try:
            if measure_rss:
                with RssPeak(self.tree) as rss:
                    check = self.wl.iteration(self.spark, span or no_span)
            else:
                rss = None
                check = self.wl.iteration(self.spark, span or no_span)
        except Exception:  # one failed job must not end the benchmark
            traceback.print_exc()
            self.failed += 1
            self.expected += self.wl.n_docs()
            return None
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu() - cpu0
        self.matched += check.matched
        self.expected += self.wl.n_docs()
        if not check.ok:
            sys.stderr.write(
                f"{self.wl.name}: output check failed ({check.matched}"
                f"/{self.wl.n_docs()} reference rows match)\n"
            )
            self.failed += 1
            return None
        return {
            "wall": wall,
            "cpu": cpu,
            "rss": rss.peak if rss else 0,
            "docs": self.wl.n_docs(),
        }

    def setup(self, seed: int) -> dict[str, float]:
        """Session start in a fresh JVM, input generation (with the
        reference output) and the checked warm-up iterations."""
        from perfbench.workloads import reset_dir

        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        reset_dir(os.path.join(WORK, "data"))
        self.wl.generate(self.spark, seed)
        t2 = time.perf_counter()
        for _ in range(WARM_UPS):
            self.iterate(measure_rss=False)
        t3 = time.perf_counter()
        return {"session_s": t1 - t0, "inputs_s": t2 - t1, "warm_up_s": t3 - t2}

    # -- runs
    def untraced(self, seed: int, seconds: float) -> dict:
        from perfbench.workloads import NPROC

        setup = self.setup(seed)
        runs = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or not runs:
            r = self.iterate()
            if r is not None:
                runs.append(r)
            elif self.failed >= 3 and not runs:
                break
        if not runs:
            raise SystemExit(f"{self.wl.name}: no iteration passed its check")
        series = {
            "docs_per_s": [r["docs"] / r["wall"] for r in runs],
            "cpu_s": [r["cpu"].total for r in runs],
            "peak_rss_mb": [r["rss"] / 1e6 for r in runs],
        }
        print(json.dumps({
            "workload": self.wl.name,
            "nproc": NPROC,
            "wall_s": quartiles([r["wall"] for r in runs]),
            "cpu_jvm_s": statistics.median(r["cpu"].jvm for r in runs),
            "cpu_python_s": statistics.median(r["cpu"].python for r in runs),
            "setup": setup,
            "failed_frac": self.failed / self.attempted,
            "quartiles": {k: quartiles(v) for k, v in series.items()},
            "n": {k: len(v) for k, v in series.items()},
        }))
        metrics = {k: statistics.median(v) for k, v in series.items()}
        metrics["setup_s"] = sum(setup.values())
        metrics["match_rate"] = self.matched / self.expected
        return metrics

    def traced(self, seed: int) -> dict:
        from perfbench.procstat import HostClock, loadavg_1m
        from perfbench.trace import StageMetrics, Tracer, span_cost
        from perfbench.workloads import NPROC, gc_seconds

        host = HostClock()
        tracer = Tracer(f"{self.wl.name}-s{seed}")
        with tracer.span("setup"):
            self.setup(seed)
        stages = StageMetrics(self.spark)
        sc = self.spark.sparkContext
        first = len(tracer.spans)
        with tracer.span(f"{self.wl.name}.iteration"):
            sc.setJobGroup("traced", "traced")
            gc0 = gc_seconds(self.spark)
            r = self.iterate(measure_rss=False, span=tracer.span)
            gc = gc_seconds(self.spark) - gc0
            sc.setJobGroup("", "")
        if r is None:
            raise SystemExit(f"{self.wl.name}: the traced iteration failed")
        out = {
            "trace.overhead_s": span_cost() * (len(tracer.spans) - first),
            "python.cpu_s": r["cpu"].python,
            "jvm.cpu_s": r["cpu"].jvm,
            "jvm.gc_s": gc,
            "python.busy_frac": r["cpu"].python / (r["wall"] * NPROC),
        }
        out.update(self.stage_metrics(stages, "traced"))
        with tracer.span("arrow"):
            out.update(self.boundary(tracer))
        with tracer.span("layers"):
            try:
                out.update(self.wl.layers(self.spark, tracer, seed))
            except Exception:  # report the failure, keep the other layers
                traceback.print_exc()
                self.failed += 1
        out["host.steal_frac"] = host.steal_frac()
        out["host.loadavg_1m"] = loadavg_1m()
        print(json.dumps({
            "workload": self.wl.name,
            "nproc": NPROC,
            "self_s": tracer.self_times(),
            "spans": [asdict(sp) for sp in tracer.spans],
        }))
        return out

    def stage_metrics(self, stages, group: str) -> dict[str, float]:
        rows = stages.stages(group)
        out = {
            "shuffle.read_mb": sum(s["shuffleReadBytes"] for s in rows) / 1e6,
            "shuffle.write_mb": sum(s["shuffleWriteBytes"] for s in rows) / 1e6,
        }
        # The extract stage runs mapInPandas: the longest stage of the
        # iteration; its input was written by the stages before it.
        extract = max(rows, key=lambda s: s["executorRunTime"])
        med, top = stages.task_quantiles(extract)
        out["extract.tasks"] = extract["numTasks"]
        out["extract.task_skew"] = top / med if med else 0.0
        out["extract.shuffle_write_mb"] = sum(
            s["shuffleWriteBytes"] for s in rows if s["stageId"] < extract["stageId"]
        ) / 1e6
        return out

    def boundary(self, tracer) -> dict[str, float]:
        """Scan alone, the scan through an identity mapInPandas, and the
        attribution self-check: the same identity with a known CPU spin
        per partition must raise python CPU by that spin and leave the
        JVM's CPU where it was."""
        from pyspark.sql import functions as F

        from perfbench.workloads import fingerprint, passthrough

        scan = self.wl.scan(self.spark)
        cols = scan.columns
        sizes = scan.agg(*[
            F.sum(F.octet_length(c)) for c, t in scan.dtypes if t in ("string", "binary")
        ]).first()
        n_parts = scan.rdd.getNumPartitions()
        full = [F.count(F.lit(1)), fingerprint(*cols)]

        def run(name: str, df):
            with tracer.span(name):
                cpu0 = self.tree.cpu()
                t0 = time.perf_counter()
                df.agg(*full).first()
                return time.perf_counter() - t0, self.tree.cpu() - cpu0

        scan_s = statistics.median(run("sources.scan", scan)[0] for _ in range(3))
        spin = SPIN_TOTAL_S / n_parts
        plain, spun = [], []
        for _ in range(3):
            plain.append(run("arrow.passthrough", scan.mapInPandas(passthrough(0.0), scan.schema)))
            spun.append(run("arrow.passthrough_spin", scan.mapInPandas(passthrough(spin), scan.schema)))
        walls = sorted(plain, key=lambda r: r[0])
        mid = walls[1]
        d_python = statistics.median(s[1].python - p[1].python for p, s in zip(plain, spun))
        d_jvm = statistics.median(s[1].jvm - p[1].jvm for p, s in zip(plain, spun))
        gain = d_python / (spin * n_parts)
        self.selfcheck_ok = 0.8 <= gain <= 1.25 and abs(d_jvm) <= 0.25 * SPIN_TOTAL_S
        if not self.selfcheck_ok:
            sys.stderr.write(
                f"attribution self-check failed: python gain {gain:.3f}, "
                f"jvm delta {d_jvm:.3f}s\n"
            )
        return {
            "sources.scan_s": scan_s,
            "arrow.passthrough_s": mid[0],
            "arrow.passthrough_python_cpu_s": mid[1].python,
            "arrow.bytes_in_mb": sum(v or 0 for v in sizes) / 1e6,
            "selfcheck.python_gain": gain,
            "selfcheck.jvm_delta_s": d_jvm,
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # The program under test; its absence ends the run here, non-zero.
    import htmlparser2_spark  # noqa: F401

    from perfbench.layers import LAYER_MAP
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if {m["name"] for m in spec["per_layer"]} != set(LAYER_MAP):
        raise SystemExit("perfbench/layers.py and BENCHMARK.json name different per-layer metrics")
    if args.workload not in {w["name"] for w in spec["workloads"]} & set(WORKLOADS):
        raise SystemExit(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}")
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Python workers import the program and the benchmark from here.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    bench = Bench(WORKLOADS[args.workload](WORK), trace=bool(args.trace))
    try:
        if args.trace:
            values = bench.traced(args.seed)
            table = spec["per_layer"]
            correct = bench.failed == 0 and bench.selfcheck_ok
        else:
            values = bench.untraced(args.seed, args.seconds)
            table = spec["end_to_end"]
            correct = bench.failed == 0
    finally:
        bench.shutdown()
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in table
    }
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
