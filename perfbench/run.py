"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_neardup --seed 42 \\
        --seconds 3 --trace 0

Runs one workload (or ``all`` three) on ``local[4,2]`` in one process, as a
closed loop of one batch job at a time: set-up, one warm-up iteration, then
the workload's timed iterations, continued until ``--seconds`` have passed.
With ``--trace 1`` one traced iteration follows. Prints a metric table,
then, as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Exits non-zero when any output check
fails. A JSON trace (spans, per-layer metrics, tracing overhead) is written
under ``.perfbench-work/trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
CORES = 4
DRIVER_MEM = "2g"  # get_spark's 24g default does not fit a 15 GB host


def _environment(proc_dir: str) -> None:
    """Env knobs Spark and its Python workers already read: the workers
    need the repository on their path (the preloaded-fork worker daemon
    imports pysparkdedup), and every scratch file stays in the checkout."""
    tmp = os.path.join(proc_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(proc_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def _start_spark(proc_dir: str):
    from pysparkdedup.session import get_spark

    tmp = os.path.join(proc_dir, "tmp")
    # One task retry, as a cluster would allow: a Python worker lost to a
    # transient fault (a shared host reclaiming memory) then costs one task,
    # not the iteration. A deterministic fault still fails both attempts.
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES},2]",
        shuffle_partitions=CORES,
        extra_conf={
            # Keep every stage of the run in the status store.
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            # A fixed heap and young generation: with adaptive sizing the
            # JVM's VmHWM varied by ~15 % between identical runs. C1 only:
            # a run is too short for C2 to settle, and its background
            # compiles compete with the four task threads, so with C2 the
            # iteration times kept falling and varied from run to run.
            # C1-only JVMs reserve a 48 MB code cache, which fills about
            # 35 s into a run and then disables the compiler for good.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} -Xmn512m -XX:TieredStopAtLevel=1 "
                "-XX:ReservedCodeCacheSize=256m",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive us
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _peak_rss_mb(spark) -> float:
    """The driver JVM's resident-set high-water mark (VmHWM)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Runner:
    """Attempts iterations of one workload and keeps their outcomes."""

    def __init__(self, spark, name: str, ctx):
        from perfbench.workloads import WORKLOADS

        self.spark = spark
        self.name = name
        self.ctx = ctx
        self.iterate = WORKLOADS[name].iterate
        self.attempted = 0
        self.failed = 0
        self.reference = None  # digest every iteration must reproduce

    def attempt(self, traced: bool = False, scored: bool = False):
        from perfbench.status import Tracer

        self.attempted += 1
        tracer = Tracer(self.spark.sparkContext,
                        f"{self.name}#{self.attempted}", record_spans=traced)
        try:
            res = self.iterate(self.ctx, tracer, traced, scored)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        if self.reference is None:
            self.reference = res.digest
        elif res.digest != self.reference:
            res.problems.append(
                f"digest {res.digest} differs from {self.reference}")
        if res.problems:
            print(f"perfbench: {self.name}: {res.problems}", file=sys.stderr)
            self.failed += 1
            return None
        return res


def run_workload(spark, name: str, seed: int, seconds: int, trace: bool,
                 session_s: float, proc_dir: str) -> dict:
    from perfbench.score import RECALL_FLOOR
    from perfbench.workloads import (ALL_LAYERS, LAYER_FIELDS, OUTCOMES,
                                     WORKLOADS, make_ctx)

    wl = WORKLOADS[name]
    phases = {"session_s": session_s}
    t = time.perf_counter()
    ctx = make_ctx(spark, proc_dir, name, seed)
    runner = Runner(spark, name, ctx)
    phases["corpus_s"] = time.perf_counter() - t

    t = time.perf_counter()
    if wl.setup is not None:
        wl.setup(ctx)
    phases["commit_s"] = time.perf_counter() - t
    # Scoring runs on the warm-up and the traced iteration; timed iterations
    # must reproduce the warm-up's output digest instead.
    warm = runner.attempt(scored=True)
    phases["warmup_s"] = time.perf_counter() - t - phases["commit_s"]
    setup_s = session_s + time.perf_counter() - t

    # A fixed number of timed iterations (one unless the workload asks for
    # more), and more only while --seconds have not passed; the benchmark's
    # --seconds is below one iteration's length, so every run samples the
    # same point of the JVM's warm-up curve. The iterations of one run
    # agree within about 8 %; runs spread more with the shared host's load,
    # and a full measurement of about 70 runs must stay under an hour.
    timed = []
    t_loop = time.perf_counter()
    while (len(timed) < wl.timed_iterations
           or time.perf_counter() - t_loop < seconds):
        timed.append(runner.attempt())
    phases["timed_loop_s"] = time.perf_counter() - t_loop
    timed = [r for r in timed if r is not None]
    peak_rss = _peak_rss_mb(spark)
    traced = runner.attempt(traced=True, scored=True) if trace else None
    scored = [r for r in (warm, traced) if r is not None]

    def med(values):  # 0 when every iteration failed: keeps the JSON valid
        return statistics.median(values) if values else 0.0

    walls = [r.wall_s for r in timed]
    e2e = {
        "docs_per_s": (med([ctx.n_docs / w for w in walls]), "1/s"),
        "task_core_s": (med([r.run_ms / 1000.0 for r in timed]), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "setup_s": (setup_s, "s"),
        "dup_pair_recall": (med([r.scores["recall"] for r in scored]),
                            "ratio"),
        "dup_pair_precision": (med([r.scores["precision"] for r in scored]),
                               "ratio"),
    }
    per_layer = {}
    if traced is not None:
        for layer in ALL_LAYERS:
            for fld, unit in LAYER_FIELDS.items():
                per_layer[f"{layer}.{fld}"] = (traced.layers[layer][fld], unit)
        for key, unit in OUTCOMES.items():
            per_layer[key] = (traced.counts.get(key, 0), unit)
    recall = e2e["dup_pair_recall"][0]
    correct = (runner.failed == 0 and bool(timed)
               and (not trace or traced is not None)
               and recall >= RECALL_FLOOR)
    report = {
        "workload": name, "seed": seed, "correct": correct,
        "attempted": runner.attempted, "failed": runner.failed,
        "failed_frac": runner.failed / runner.attempted,
        "iterations": len(timed), "walls_s": walls, "phases": phases,
        "end_to_end": e2e, "per_layer": per_layer,
    }
    if traced is not None:
        report["tracing_overhead_s"] = traced.wall_s - med(walls)
        report["spans"] = traced.spans
        report["scores"] = traced.scores
    return report


def _metrics(report: dict, trace: bool, prefix: str = "") -> dict:
    chosen = report["per_layer"] if trace else report["end_to_end"]
    return {prefix + k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}


def _print_table(report: dict) -> None:
    print(f"== {report['workload']} seed={report['seed']} "
          f"iterations={report['iterations']} attempted={report['attempted']} "
          f"failed={report['failed']} failed_frac={report['failed_frac']}")
    print("  phases: " + " ".join(
        f"{k}={v:.2f}" for k, v in report["phases"].items())
        + " walls_s: " + " ".join(f"{w:.2f}" for w in report["walls_s"]))
    for section in ("end_to_end", "per_layer"):
        for k, (v, u) in report[section].items():
            print(f"  {k:40s} {v:14.6g} {u}")
    if "tracing_overhead_s" in report:
        print(f"  {'tracing_overhead_s':40s} "
              f"{report['tracing_overhead_s']:14.6g} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pysparkdedup")):
        print(f"perfbench: no pysparkdedup package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # A fresh directory per run, never keyed by pid: a run started in a new
    # pid namespace gets the pid of the run before it, and a killed run
    # leaves its scratch outputs behind for the next one to collide with.
    os.makedirs(WORK, exist_ok=True)
    proc_dir = tempfile.mkdtemp(prefix="proc-", dir=WORK)
    _environment(proc_dir)

    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        shutil.rmtree(proc_dir, ignore_errors=True)
        return 2

    spark, reports = None, []
    try:
        t = time.perf_counter()
        spark = _start_spark(proc_dir)
        session_s = time.perf_counter() - t
        for name in names:
            reports.append(run_workload(
                spark, name, args.seed, args.seconds, bool(args.trace),
                session_s, proc_dir))
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        dump = os.path.join(
            WORK, "trace",
            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(dump, "w") as fh:
            json.dump(reports, fh, indent=1, default=str)
        shutil.rmtree(proc_dir, ignore_errors=True)

    for rep in reports:
        _print_table(rep)
    single = len(reports) == 1
    metrics = {}
    for rep in reports:
        metrics.update(_metrics(rep, bool(args.trace),
                                "" if single else rep["workload"] + "."))
    correct = all(r["correct"] for r in reports)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in reports),
        "failed": sum(r["failed"] for r in reports),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
