"""Seeded, layered benchmark of the extraction job.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 \\
        --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``crawl_mix``: a synthesized crawl with a giant tail through
  ``plans.pipeline.run_extraction`` with the production job's settings;
- ``small_pages``: only small pages, many of them, same call;
- ``recrawl``: two snapshots through ``plans.pipeline.incremental_extract``
  with the result written to parquet. It is not in BENCHMARK.json: one
  run takes longer than the benchmark's time budget allows. Run it by
  name; ``--workload all`` runs all three, as the self-test does at a
  tiny size.

``--trace 0`` measures the end-to-end metrics: set-up (``configure()``
plus the cold pass that spawns the Python workers, several times: the
first launches the JVM, the others restart the session in it; the
median reported), warm-up jobs, then timed jobs until ``--seconds``
have passed. Set-up and job times are taken less the host's CPU steal
during them; the raw ones are in the run record. ``--trace 1`` gives
the per-layer numbers: an untraced, a traced (Spark's event log) and
another untraced job, each in its own session, then a single-core pass
of the engine over a seeded sample of the documents the kernel parses,
weighted back to the whole workload.

Every job's output is checked against the golden text. The last line
of standard output is one JSON object ``{correct, attempted, failed,
metrics}``; the line before it records the input, the host and every
run. Spans are written to ``.perfbench/results/``. The command exits 1
when any output row is wrong and 2 when the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_mix", "small_pages", "recrawl")
SETUP_REPS = 3
MIN_JOBS = 3
# full jobs run, checked but not timed, before any timed one. In a fresh
# JVM the first job runs 2-3x slower than later ones: on a 4-CPU host
# the JIT compiler spends 13 s of CPU in it, 4-5 s in the third and
# about 2 s from the fifth on, while the Python workers' CPU stays flat.
# small_pages jobs agree to about 5% from the fifth job on; crawl_mix
# jobs, which move MB-sized cells through the shuffle and Arrow, still
# get a few percent faster each for a few more jobs, so it warms one job
# longer. The run keeps a single JVM so that it can afford this warm-up.
WARM_JOBS = {"crawl_mix": 5, "small_pages": 4, "recrawl": 4}
TRACED_GROUP = "perfbench-traced"

# every metric the benchmark reports, by unit
UNITS = {name: unit for unit, names in {
    "s": [
        "setup_s", "job_s", "engine.charset.sniff_s",
        "engine.charset.decode_s", "engine.tokenizer.tokenize_s",
        "engine.treebuilder.self_s", "engine.extractor.extract_s",
        "engine.parse_s", "operators.extract.python_init_s", "operators.extract.python_run_s",
        "operators.extract.overhead_s", "plans.pipeline.task_s_p50",
        "plans.pipeline.task_s_max", "spark.scan_s", "spark.shuffle_write_s",
        "spark.write_commit_s", "spark.jvm_gc_s",
        "operators.snapshots.diff_s", "trace.job_s", "trace.overhead_s",
        "host.steal_s"],
    "MB/s": ["html_mb_per_s", "engine.mb_per_s"],
    "docs/s": ["docs_per_s", "engine.docs_per_s"],
    "s/MB": ["cpu_s_per_mb"],
    "MB": ["worker_peak_rss_mb"],
    "count": [
        "engine.tokenizer.tokens", "engine.treebuilder.elements",
        "engine.treebuilder.parse_errors", "plans.pipeline.tasks",
        "plans.pipeline.all_tasks"],
    "ratio": [
        "plans.pipeline.parallel_efficiency", "plans.pipeline.task_skew",
        "spark.cpu_util", "operators.snapshots.reparse_ratio",
        "check.doc_fail_ratio"],
    "bytes": [
        "operators.extract.arrow_bytes_in",
        "operators.extract.arrow_bytes_out", "plans.pipeline.shuffle_bytes"],
}.items() for name in names}


class Bench:
    def __init__(self, args) -> None:
        from . import proc
        from .spans import Tracer

        self.args = args
        self.nproc = proc.nproc()
        self.tracer = Tracer()
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.results = os.path.join(ROOT, ".perfbench", "results")
        for d in ("stage", "out", "tmp", "local", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(self.results, exist_ok=True)
        # the JVM, its Python workers and Spark's local directories stay
        # inside the checkout; -XX:-UsePerfData keeps the JVM's perf-data
        # file out of the system temp directory
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        os.environ["PYTHONPATH"] = os.pathsep.join(
            filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
        self.spark = None
        self.jobs = 0
        self.checks: list[dict] = []
        self.steal0 = proc.steal_s()
        self.detail = {"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "trace": args.trace,
                       "scale": args.scale, "host": proc.host()}
        self.wl = None

    def generate(self) -> None:
        from . import workloads

        with self.tracer.span("bench.generate"):
            self.wl = workloads.BUILDERS[self.args.workload](
                self.args.seed, self.args.scale,
                os.path.join(self.work, "stage"), 2 * self.nproc)
        self.detail.update(self.wl.info)

    # -- session lifecycle ------------------------------------------------

    def start(self, conf: dict | None = None) -> float:
        """configure() plus a cold pass that spawns one Python worker
        per core; returns its wall time."""
        from pyspark.sql import SparkSession, functions as F

        from html_parser_spark.operators.extract import extract_pages
        from html_parser_spark.plans.pipeline import configure

        with self.tracer.span("bench.setup") as sp:
            builder = SparkSession.builder
            for k, v in (conf or {}).items():
                builder = builder.config(k, v)
            self.spark = configure(builder, cpus=self.nproc)
            self.spark.sparkContext.setLogLevel("ERROR")
            n = self.nproc
            tiny = self.spark.range(0, n, 1, n).select(
                F.concat(F.lit("https://warm.example/"),
                         F.col("id").cast("string")).alias("url"),
                F.lit(b"<!DOCTYPE html><p>warm").alias("html"))
            extract_pages(tiny, with_spans=False).write.format("noop") \
                .mode("overwrite").save()
        return sp["end"] - sp["start"]

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    # -- one job ----------------------------------------------------------

    def job(self) -> dict:
        """Run the workload's job once into a fresh output path, then
        check its output. Returns wall, CPU and peak RSS of the job."""
        from . import proc
        from .check import check_output

        self.jobs += 1
        out = os.path.join(self.work, "out", f"job{self.jobs}")
        steal0 = proc.steal_s()
        cpu0 = proc.tree_cpu_s()
        with proc.RssPeak() as rss, self.tracer.span("bench.job") as sp:
            self._run_job(out)
        cpu = proc.tree_cpu_s() - cpu0
        rec = {"job_s": sp["end"] - sp["start"], "cpu_s": cpu,
               "worker_peak_rss_mb": rss.peak_mb,
               "steal_s": proc.steal_s() - steal0}
        with self.tracer.span("bench.check"):
            res = check_output(out, self.wl)
        self.checks.append(res)
        rec["check"] = res
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def _run_job(self, out: str) -> None:
        from html_parser_spark.plans.pipeline import (incremental_extract,
                                                      run_extraction)

        def read(key):
            return self.spark.read.parquet(self.wl.paths[key])

        if "pages" in self.wl.paths:
            # jobs/extract_job.py defaults: isolate plan, resume on, no
            # spans; the output path is fresh, so nothing is skipped
            run_extraction(self.spark, read("pages"), out,
                           with_spans=False, plan="isolate")
        else:
            incremental_extract(read("old"), read("new"),
                                read("old_extracted")).write.parquet(out)

    # -- the two modes ----------------------------------------------------

    def end_to_end(self) -> dict:
        """Times are taken less the CPU steal during them spread over
        the cores (``_less_steal``); the raw ones are in the run record."""
        from . import proc

        # the first set-up launches the JVM, the others stop the session
        # and start a new one in it: a JVM launch per set-up would leave
        # no time in the benchmark's budget for the warm-up
        setups = []
        for i in range(SETUP_REPS):
            if i:
                self.stop()
            steal0 = proc.steal_s()
            setups.append({"setup_s": self.start(),
                           "steal_s": proc.steal_s() - steal0})
        warm = [self.job() for _ in range(WARM_JOBS[self.args.workload])]
        t0 = time.perf_counter()
        timed = []
        while len(timed) < MIN_JOBS or time.perf_counter() - t0 < self.args.seconds:
            timed.append(self.job())
        self.detail.update(setup=setups, warm=warm, runs=timed)
        job_s = self._less_steal(timed, "job_s")
        mb = self.wl.bytes / 1e6
        return {
            "setup_s": self._less_steal(setups, "setup_s"),
            "job_s": job_s,
            "html_mb_per_s": mb / job_s,
            "docs_per_s": self.wl.docs / job_s,
            "cpu_s_per_mb": statistics.median(r["cpu_s"] for r in timed) / mb,
            "worker_peak_rss_mb":
                statistics.median(r["worker_peak_rss_mb"] for r in timed),
        }

    def _less_steal(self, recs: list[dict], key: str) -> float:
        """Median of ``rec[key]`` less the host's CPU steal during it ÷
        nproc. The benchmark runs on a few cores of a shared host whose
        other tenants take up to a fifth of its CPU time, in phases
        longer than a run. Steal only counts while a core has work
        waiting, so when fewer than nproc cores are busy (a straggler
        task) this takes out less than the steal cost the wall time,
        never more."""
        return statistics.median(r[key] - r["steal_s"] / self.nproc
                                 for r in recs)

    def traced(self) -> dict:
        """Untraced, traced and untraced sessions in turn, so the JVM's
        warm-up trend cancels out of the tracing overhead; then the
        single-core engine pass, with Spark stopped."""
        from . import engine_pass, eventlog, workloads

        self.start()
        warm = [self.job() for _ in range(WARM_JOBS[self.args.workload])]
        before = self.job()
        self.stop()
        log_dir = os.path.join(self.work, "events")
        self.start(eventlog.builder_conf(log_dir))
        # same JVM, so one job warms the new session's Python workers
        warm.append(self.job())
        sc = self.spark.sparkContext
        sc.setJobGroup(TRACED_GROUP, "perfbench traced job")
        gc0 = self._jvm_gc_s()
        traced = self.job()
        gc_s = self._jvm_gc_s() - gc0
        sc.setJobGroup("perfbench", "perfbench")
        m = self._snapshots()
        self.stop()
        self.start()
        warm.append(self.job())
        after = self.job()
        untraced_s = (before["job_s"] + after["job_s"]) / 2
        self.detail.update(warm=warm, runs=[before, traced, after])
        m.update({
            "trace.job_s": traced["job_s"],
            "trace.overhead_s": traced["job_s"] - untraced_s,
            "spark.cpu_util":
                traced["cpu_s"] / (traced["job_s"] * self.nproc),
            "spark.jvm_gc_s": gc_s})
        m.update(eventlog.fold(log_dir, TRACED_GROUP))

        sample = workloads.engine_sample(self.args.seed, self.wl.parsed_html,
                                         self.wl.parsed_ids)
        m.update(engine_pass.run(sample.pop("html"), sample.pop("weights"),
                                 self.tracer))
        # the weighted pass estimates the engine's time over every
        # document the kernel parses
        m["operators.extract.overhead_s"] = \
            m["operators.extract.python_run_s"] - m["engine.parse_s"]
        m["plans.pipeline.parallel_efficiency"] = (
            sample["of_bytes"] / 1e6 / untraced_s) / (
            self.nproc * m["engine.mb_per_s"])
        self.detail.update(engine_sample=sample)
        return m

    def _jvm_gc_s(self) -> float:
        """Cumulative collection time of the JVM, which in local mode is
        driver and executor at once (task metrics only see the part of a
        pause that falls inside a task)."""
        mf = self.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def _snapshots(self) -> dict:
        """operators.snapshots: ``snapshot_diff`` alone, forced by a noop
        write, and the share of the new snapshot the kernel re-parses.
        An extraction workload diffs its input against a seeded recrawl
        of it."""
        from html_parser_spark.operators.snapshots import snapshot_diff

        from . import workloads

        if "pages" in self.wl.paths:
            old = self.wl.paths["pages"]
            new = os.path.join(self.work, "stage", "snapshot_new")
            snap = workloads.stage_new_snapshot(self.args.seed, self.wl, new,
                                                2 * self.nproc)
            self.detail["snapshot"] = snap["info"]
        else:
            old, new = self.wl.paths["old"], self.wl.paths["new"]
        read = self.spark.read.parquet
        diff = snapshot_diff(read(old), read(new))
        with self.tracer.span("operators.snapshots.diff") as sp:
            diff.write.format("noop").mode("overwrite").save()
        counts = {r["status"]: r["count"]
                  for r in diff.groupBy("status").count().collect()}
        reparse = counts.get("changed", 0) + counts.get("new", 0)
        return {"operators.snapshots.diff_s": sp["end"] - sp["start"],
                "operators.snapshots.reparse_ratio":
                    reparse / (reparse + counts.get("unchanged", 0))}

    # -- result -----------------------------------------------------------

    def result(self, metrics: dict) -> dict:
        from . import proc

        attempted = sum(c["rows_expected"] for c in self.checks)
        failed = sum(c["failed"] for c in self.checks)
        if self.args.trace:
            metrics["check.doc_fail_ratio"] = failed / max(attempted, 1)
            metrics["host.steal_s"] = proc.steal_s() - self.steal0
        self.detail["host.steal_s"] = proc.steal_s() - self.steal0
        return {"correct": failed == 0 and attempted > 0,
                "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": UNITS[k]}
                            for k, v in metrics.items()}}

    def write_spans(self) -> None:
        name = (f"{self.args.workload}-seed{self.args.seed}-"
                f"trace{self.args.trace}.json")
        with open(os.path.join(self.results, name), "w") as f:
            json.dump({"detail": self.detail, "spans": self.tracer.spans}, f)

    def cleanup(self) -> None:
        try:
            self.shutdown_jvm()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def _run_all(args) -> int:
    """Each workload in its own process, so each pays its own JVM."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        rc = max(rc, subprocess.run(cmd, check=False).returncode)
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)

    sys.path[0] = ROOT  # the checkout, not perfbench/
    try:
        import html_parser_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench.run import Bench

    # a TERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    try:
        bench.generate()
        metrics = bench.traced() if args.trace else bench.end_to_end()
        out = bench.result(metrics)
    finally:
        bench.cleanup()
        bench.write_spans()
    print(json.dumps(bench.detail))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
