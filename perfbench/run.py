"""Extraction benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload html_pages --seed 1 --seconds 10 --trace 0

Run from anywhere; the repository root is the parent of this directory.
The run generates (or reuses) the seeded input, starts Spark at
local[nproc] three times to measure set-up, runs the workload's job once
untimed, then repeats it for --seconds (at least MIN_REPS times), checks
the outputs against single-process references, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1 is
the separate traced run: it also measures the untraced job (for the
tracing overhead), then re-runs it with the Spark event log and in-memory
spans on, runs the layer ladder and the driver-side layer timings, and
reports the per-layer metrics. Metrics a layer does not produce on a
workload are listed on stdout as unmeasured, with the reason.

Self-tests: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
import uuid
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUPS = 3  # set-ups per run; setup_s is their median
# Timed repetitions per run, even past --seconds; docs_per_s is their
# median, which keeps one rep slowed by a neighbour on the host out of it.
MIN_REPS = 4
WORKLOADS = ("html_pages", "mixed_skew", "query_select", "resume_half")
E2E_UNITS = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark invocation: owns the Spark session, the work dir and
    the tracer, and collects metrics."""

    def __init__(self, args, wd):
        import gen
        from harness import Tracer, nproc

        self.args = args
        self.wd = wd
        self.cores = nproc()
        self.tracer = Tracer(False, f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
        self.meta = gen.ensure_input(wd.root, args.workload, args.seed)
        self.rows = gen.load_rows(self.meta)
        self.spark = None
        self.unmeasured: dict[str, str] = {}
        self.template = None
        self.template_docs = 0
        self.t_start = time.perf_counter()
        self.budget_s = 150.0  # traced-run phases past this are skipped

    def time_left(self) -> float:
        return self.budget_s - (time.perf_counter() - self.t_start)

    # -------------------------------------------------------------- set-up

    def setup_once(self, cores: int, event_log: bool) -> float:
        from harness import package_zip, start_spark, stop_spark

        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        t0 = time.perf_counter()
        spark = start_spark(cores, self.wd, event_log)
        if self.tracer.enabled:
            self.tracer.sc = spark.sparkContext
        pkg = self.wd.fresh("pkg")
        os.makedirs(pkg)
        spark.sparkContext.addPyFile(package_zip(REPO, pkg))
        with self.tracer.span("setup.warm_up"):
            self._warm_up(spark, cores)
        self.spark = spark
        return time.perf_counter() - t0

    def _warm_up(self, spark, cores: int) -> None:
        """A small job that starts every Python worker, imports the shipped
        package in it and extracts one page per worker."""
        from pyspark.sql import functions as F

        from fuzi_spark.udfs import extract_markup_df

        page = "<html><body><p>warm up</p></body></html>"
        docs = spark.range(0, cores, 1, cores).select(
            F.col("id").cast("string").alias("doc_id"), F.lit(page).alias("markup")
        )
        extract_markup_df(docs).count()

    def setup(self) -> float:
        times = [self.setup_once(self.cores, False) for _ in range(SETUPS)]
        return median(times)

    # -------------------------------------------------------------- timed

    def prepare(self) -> None:
        """Untimed, after set-up: for resume_half, the output dir with half
        its buckets committed (copied for each rep); then one untimed rep,
        so class loading and most JIT compilation of the job's code paths
        are done before timing."""
        import shutil

        import jobs

        if self.args.workload == "resume_half":
            self.template = self.wd.fresh("template")
            jobs.extraction_rep(self.spark, self.meta["path"], self.template)
            self.template_docs = jobs.cut_lineage_to_half(self.spark, self.template, self.args.seed)
        _, _, out = self.one_rep("warm")
        if out:
            shutil.rmtree(out, ignore_errors=True)

    def one_rep(self, name: str):
        """Run one repetition; returns (seconds, result, out_dir)."""
        import shutil

        import jobs

        path = self.meta["path"]
        out = None
        if self.args.workload != "query_select":
            out = self.wd.fresh("out")
            if self.template:
                shutil.copytree(self.template, out)
        with self.tracer.span(name):
            t0 = time.perf_counter()
            if out is None:
                res = jobs.query_rep(self.spark, path)
            else:
                res = jobs.extraction_rep(self.spark, path, out)
            dt = time.perf_counter() - t0
        return dt, res, out

    def timed(self, seconds: float, label: str, min_reps: int = MIN_REPS):
        """Repeat the job for `seconds` of measured time (at least
        `min_reps` times). Returns (rep seconds, rep results, last output
        dir)."""
        import shutil

        times, results, last = [], [], None
        while len(times) < min_reps or sum(times) < seconds:
            dt, res, out = self.one_rep(f"{label}.rep{len(times)}")
            times.append(dt)
            results.append(res)
            if last:
                shutil.rmtree(last, ignore_errors=True)
            last = out
        return times, results, last

    def expected_run_docs(self) -> int:
        return self.meta["docs"] - self.template_docs

    def rep_failures(self, results) -> int:
        """Lineage deficits of every repetition (documents this run should
        have committed but did not)."""
        if self.args.workload == "query_select":
            return 0
        want = self.expected_run_docs()
        return max(abs(r["run_docs"] - want) for r in results)

    def check(self, results, out_dir) -> dict:
        import jobs

        if self.args.workload == "query_select":
            return jobs.check_query(self.spark, self.meta, self.rows, self.args.seed, results[-1])
        return jobs.check_extraction(self.spark, self.meta, self.rows, out_dir, self.args.seed)

    def attempted(self) -> int:
        import jobs

        if self.args.workload == "query_select":
            return self.meta["docs"] * len(jobs.QUERY_EXPRS)
        return self.meta["docs"]

    # -------------------------------------------------------------- phases

    def end_to_end(self):
        """Set-up, the timed job under the /proc sampler, and the check."""
        from harness import ProcSampler

        marks = [time.perf_counter()]
        setup_s = self.setup()
        marks.append(time.perf_counter())
        self.prepare()
        marks.append(time.perf_counter())
        with ProcSampler() as ps:
            times, results, out = self.timed(self.args.seconds, "timed")
        marks.append(time.perf_counter())
        verdict = self.check(results, out)
        marks.append(time.perf_counter())
        wall = marks[3] - marks[2]
        failed = min(self.attempted(), verdict["failed"] + self.rep_failures(results))
        docs_per_s = self.meta["docs"] / median(times)
        values = {"docs_per_s": docs_per_s, "setup_s": setup_s, "peak_rss_mb": ps.peak_rss / 2**20}
        metrics = {k: (values[k], u) for k, u in E2E_UNITS.items()}
        info = {
            "end_to_end": {k: v for k, (v, _) in metrics.items()},
            "rep_seconds": times,
            "rep_results": results,
            "check": verdict,
            "cpu_busy_frac": ps.cpu_s / (wall * self.cores),
            "peak_jvm_rss_mb": ps.peak_jvm_rss / 2**20,
            "phase_s": dict(zip(("setups", "prepare", "timed", "check"), (b - a for a, b in zip(marks, marks[1:])))),
            "since_start_s": marks[-1] - self.t_start,
        }
        return metrics, failed, info


def teardown(run) -> None:
    from harness import reap_descendants, shutdown_jvm, stop_spark

    if run is not None and run.spark is not None:
        try:
            stop_spark(run.spark)
        except Exception:
            traceback.print_exc()
        run.spark = None
    try:
        shutdown_jvm()
    except Exception:
        traceback.print_exc()
    reap_descendants()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and its workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(REPO, "fuzi_spark", "pipeline.py")):
        print(f"error: no fuzi_spark package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from harness import Workdir

    wd = Workdir(REPO)
    run = None
    try:
        run = Run(args, wd)
        if args.trace:
            import traced

            metrics, failed, info = traced.traced_run(run)
        else:
            metrics, failed, info = run.end_to_end()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        teardown(run)
        wd.cleanup()

    attempted = run.attempted()
    failed = min(failed, attempted)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_frac = {failed / attempted:.6g} ratio ({failed}/{attempted})")
    for name, reason in sorted(run.unmeasured.items()):
        print(f"{args.workload} unmeasured {name}: {reason}")
    print(f"{args.workload} detail {json.dumps(info, default=str)}")
    print(f"{args.workload} correct = {failed == 0}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
