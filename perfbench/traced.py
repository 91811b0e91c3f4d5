"""The traced run: per-layer metrics, kept apart from the timed runs.

Order: set-up, the untraced job and its output check (the baseline for the
tracing overhead); the 1→4 scaling pair (the extraction job without output
at local[4], then at local[1]); a set-up with the Spark event log on and
the same job again under in-memory spans; the layer ladder scan → codec →
Arrow identity → extract → pipeline; the lineage read and a resumed run;
the event log's per-layer metrics; and the driver-side layer timings on a
seeded document sample. Spans are written to .perfbench/traces/ at the end.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time

PER_LAYER_UNITS = {
    "fastextract.us_per_doc": "us",
    "fastextract.fallback_frac": "ratio",
    "htmlparser.us_per_doc": "us",
    "htmlparser.mb_per_s": "MB/s",
    "xmlparser.us_per_doc": "us",
    "extract.dom_us_per_doc": "us",
    "extract.spans_per_doc": "count",
    "extract.parse_error_frac": "ratio",
    "xpath.us_per_eval": "us",
    "xpath.compile_cache_hit_frac": "ratio",
    "query.snapshot_us_per_node": "us",
    "codec.markup_s": "s",
    "udfs.py_start_s": "s",
    "udfs.py_run_s": "s",
    "udfs.bytes_to_py": "bytes",
    "udfs.bytes_from_py": "bytes",
    "udfs.arrow_roundtrip_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.fetch_wait_s": "s",
    "pipeline.max_task_s": "s",
    "pipeline.task_skew": "ratio",
    "pipeline.write_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.output_files": "count",
    "pipeline.output_bytes": "bytes",
    "pipeline.resume_skipped_frac": "ratio",
    "pipeline.lineage_read_s": "s",
    "spark.cpu_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.tasks_failed": "count",
    "spark.scaling_eff_1_to_4": "ratio",
    "ladder.scan_s": "s",
    "ladder.arrow_identity_s": "s",
    "ladder.extract_s": "s",
    "ladder.pipeline_s": "s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.traced_docs_per_s": "docs/s",
    "trace.overhead_frac": "ratio",
}

LAYER_SAMPLE = 120  # driver-side timing sample (documents)
TRACE_REPS = 3  # timed reps per phase of the traced run, which has many phases


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _repeat(fn, reps: int, budget_s: float) -> list[float]:
    """Wall seconds of up to `reps` calls, stopping early past the budget."""
    out = []
    t_end = time.perf_counter() + budget_s
    while len(out) < reps and (not out or time.perf_counter() < t_end):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


# ------------------------------------------------------------------ ladder


def ladder(run, extraction: bool) -> dict:
    """Rungs that each add one layer over the same input. The extract and
    pipeline rungs belong to the extraction job only."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fuzi_spark.udfs import extract_spans_df, markup_from_spans_col

    spark, path, tr = run.spark, run.meta["path"], run.tracer

    def docs():
        return spark.read.parquet(path)

    def identity(batches):
        for b in batches:
            yield pd.DataFrame({"m": b["m"]})

    rungs = [
        ("ladder.scan_s", lambda: docs().select(F.sum(F.size("spans"))).first()),
        (
            "codec.markup_s",
            lambda: docs().select(F.sum(F.length(markup_from_spans_col("spans")))).first(),
        ),
        (
            "ladder.arrow_identity_s",
            lambda: docs()
            .select(markup_from_spans_col("spans").alias("m"))
            .mapInPandas(identity, "m string")
            .select(F.sum(F.length("m")))
            .first(),
        ),
        (
            "ladder.extract_s",
            lambda: extract_spans_df(docs()).select(F.count("*"), F.sum(F.length("text"))).first(),
        ),
        ("ladder.pipeline_s", lambda: _pipeline_rung(run)),
    ]
    if not extraction:
        rungs = rungs[:3]
        for name in ("ladder.extract_s", "ladder.pipeline_s"):
            run.unmeasured[name] = f"{run.args.workload} runs no extraction job"
    got = {}
    for name, fn in rungs:
        if run.time_left() < 35:
            run.unmeasured[name] = "skipped: traced run time budget spent"
            continue

        def call(fn=fn, name=name):
            with tr.span(name):
                fn()

        got[name] = _median(_repeat(call, 3, min(15.0, run.time_left() - 35)))
    if "codec.markup_s" in got and "ladder.arrow_identity_s" in got:
        got["udfs.arrow_roundtrip_s"] = got["ladder.arrow_identity_s"] - got["codec.markup_s"]
    return got


# ------------------------------------------------------------------ driver side


def driver_layers(run) -> dict:
    """Single-process layer timings on a seeded sample of the workload's
    documents (giants excluded: their cost is measured by the job)."""
    import gen
    from fuzi_spark import query
    from fuzi_spark.xpath import compile_xpath
    from fuzi_spark.errors import XMLError
    from fuzi_spark.extract import _extract_spans_dom
    from fuzi_spark.fastextract import extract_spans_html_fast
    from fuzi_spark.htmlparser import parse_html
    from fuzi_spark.xmlparser import parse_xml
    from gen import QUERY_NS
    from jobs import QUERY_EXPRS, resolve_type

    tr = run.tracer
    pool = sorted(
        (r for r in run.rows if "giant" not in r["doc_id"] and gen.markup_of(r)),
        key=lambda r: r["doc_id"],
    )
    rng = random.Random(f"layers:{run.args.seed}")
    sample = rng.sample(pool, min(LAYER_SAMPLE, len(pool)))
    docs = [(resolve_type(r["doc_type"], m), m) for r in sample for m in [gen.markup_of(r)]]
    html = [m for t, m in docs if t == "html"]
    xml = [m for t, m in docs if t == "xml"]
    out: dict[str, float] = {}

    def timed(name, items, fn):
        with tr.span(name):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            return time.perf_counter() - t0

    fallbacks = 0

    def fast(m):
        nonlocal fallbacks
        try:
            extract_spans_html_fast(m)
        except XMLError:
            pass
        except Exception:
            fallbacks += 1

    if html:
        out["fastextract.us_per_doc"] = timed("layer.fastextract", html, fast) / len(html) * 1e6
        out["fastextract.fallback_frac"] = fallbacks / len(html)
        dt = timed("layer.htmlparser", html, parse_html)
        out["htmlparser.us_per_doc"] = dt / len(html) * 1e6
        out["htmlparser.mb_per_s"] = sum(len(m) for m in html) / 1e6 / dt
    else:
        for k in ("fastextract.us_per_doc", "fastextract.fallback_frac", "htmlparser.us_per_doc", "htmlparser.mb_per_s"):
            run.unmeasured[k] = "the workload has no HTML documents"
    if xml:
        out["xmlparser.us_per_doc"] = timed("layer.xmlparser", xml, parse_xml) / len(xml) * 1e6
    else:
        run.unmeasured["xmlparser.us_per_doc"] = "the workload has no XML documents"

    results = []
    dt = timed("layer.extract_dom", docs, lambda d: results.append(_extract_spans_dom(d[1], d[0])))
    out["extract.dom_us_per_doc"] = dt / len(docs) * 1e6
    out["extract.spans_per_doc"] = sum(len(s) for s, _ in results) / len(docs)
    out["extract.parse_error_frac"] = sum(e for _, e in results) / len(docs)

    parsed = []
    for t, m in docs:
        try:
            parsed.append(parse_html(m) if t == "html" else parse_xml(m))
        except XMLError:
            pass
    before = compile_xpath.cache_info()
    nodes = []
    n_evals = 0

    def evaluate(doc):
        nonlocal n_evals
        for _, fn, expr in QUERY_EXPRS:
            if fn == "css_select":
                nodes.extend(query.css(doc, expr, QUERY_NS))
            elif fn == "xpath_select":
                nodes.extend(query.xpath(doc, expr, QUERY_NS))
            elif fn != "doc_meta":
                query.eval_xpath(doc, expr, QUERY_NS)
            else:
                continue
            n_evals += 1

    dt = timed("layer.xpath", parsed, evaluate)
    after = compile_xpath.cache_info()
    out["xpath.us_per_eval"] = dt / max(1, n_evals) * 1e6
    lookups = (after.hits - before.hits) + (after.misses - before.misses)
    out["xpath.compile_cache_hit_frac"] = (after.hits - before.hits) / max(1, lookups)
    if nodes:
        dt = timed("layer.snapshot", nodes, query.element_snapshot)
        out["query.snapshot_us_per_node"] = dt / len(nodes) * 1e6
    else:
        run.unmeasured["query.snapshot_us_per_node"] = "the query expressions select no node here"
    return out


# ------------------------------------------------------------------ the run


def _pipeline_rung(run) -> None:
    """The extraction job without output: codec, salting shuffle, extract,
    lineage aggregate (the job the north-rule scaling is stated on)."""
    from pyspark.sql import functions as F

    from fuzi_spark.pipeline import run_extraction_pipeline
    from jobs import N_BUCKETS

    docs = run.spark.read.parquet(run.meta["path"])
    run_extraction_pipeline(run.spark, docs, n_buckets=N_BUCKETS)[1].select(F.sum("doc_count")).first()


def _scaling(run, m, extraction: bool) -> dict:
    """docs/s of the pipeline rung at local[4] over 4 × docs/s at local[1],
    both untraced. Leaves the session at local[1]."""
    if not extraction:
        run.unmeasured["spark.scaling_eff_1_to_4"] = "stated on the extraction job; this workload runs queries"
        return {}
    if run.cores < 4:
        run.unmeasured["spark.scaling_eff_1_to_4"] = f"needs 4 cores, this machine has {run.cores}"
        return {}
    if run.cores != 4:
        run.setup_once(4, event_log=False)
    at4 = _median(_repeat(lambda: _pipeline_rung(run), 2, 30))
    run.setup_once(1, event_log=False)
    at1 = _median(_repeat(lambda: _pipeline_rung(run), 2, min(40, max(1, run.time_left() - 70))))
    m["spark.scaling_eff_1_to_4"] = at1 / (4 * at4)
    return {"pipeline_rung_s@4": at4, "pipeline_rung_s@1": at1}


def _resume(run, out, m) -> int:
    """Re-run the job on a copy of `out` whose commit record is cut to a
    seeded half of the buckets; measures the resume and lineage reads."""
    import jobs
    from fuzi_spark.pipeline import committed_buckets

    def read_lineage():
        with run.tracer.span("pipeline.lineage_read"):
            committed_buckets(run.spark, os.path.join(out, "lineage")).count()

    m["pipeline.lineage_read_s"] = _median(_repeat(read_lineage, 3, 10))
    if run.template is None:
        run.template = run.wd.fresh("template")
        shutil.copytree(out, run.template)
        run.template_docs = jobs.cut_lineage_to_half(run.spark, run.template, run.args.seed)
    _, res, _ = run.one_rep("resume")
    m["pipeline.resume_skipped_frac"] = 1 - res["run_docs"] / run.meta["docs"]
    return run.rep_failures([res])


def traced_run(run):
    from eventlog import EventLog, layer_metrics
    from harness import ProcSampler, stop_spark

    m: dict[str, float] = {}
    wl = run.args.workload
    extraction = wl != "query_select"

    # 1. untraced: the job, its check, and the scaling pair
    run.setup_once(run.cores, event_log=False)
    run.prepare()
    times, results, out = run.timed(run.args.seconds, "untraced", min_reps=TRACE_REPS)
    verdict = run.check(results, out)
    failed = verdict["failed"] + run.rep_failures(results)
    untraced = run.meta["docs"] / _median(times)
    info = {"check": verdict, "untraced_rep_seconds": times}
    if extraction:
        shutil.rmtree(out, ignore_errors=True)
    info["scaling"] = _scaling(run, m, extraction)

    # 2. the same job with the event log and spans on
    run.tracer.enabled = True
    run.setup_once(run.cores, event_log=True)
    with ProcSampler() as ps:
        t0 = time.perf_counter()
        times, results, out = run.timed(run.args.seconds, "traced", min_reps=TRACE_REPS)
        wall = time.perf_counter() - t0
    failed += run.rep_failures(results)
    traced = run.meta["docs"] / _median(times)
    info["traced_rep_seconds"] = times
    m["trace.untraced_docs_per_s"] = untraced
    m["trace.traced_docs_per_s"] = traced
    m["trace.overhead_frac"] = 1 - traced / untraced
    m["spark.cpu_busy_frac"] = ps.cpu_s / (wall * run.cores)

    # 3. ladder, lineage read and resume
    m.update(ladder(run, extraction))
    if not extraction:
        for k in ("pipeline.lineage_read_s", "pipeline.resume_skipped_frac"):
            run.unmeasured[k] = f"{wl} writes no output"
    elif run.time_left() < 25:
        for k in ("pipeline.lineage_read_s", "pipeline.resume_skipped_frac"):
            run.unmeasured[k] = "skipped: traced run time budget spent"
    else:
        failed += _resume(run, out, m)

    # 4. event log → per-layer metrics of the traced repetitions
    stop_spark(run.spark)
    run.spark = None
    run.tracer.sc = None
    logs = glob.glob(os.path.join(run.wd.run, "eventlog", "*", "events_*"))
    if logs:
        log = EventLog(logs[0])
        m.update(layer_metrics(log, "traced.rep"))
        # the timed reps reuse the workers the set-up's warm-up job started
        m["udfs.py_start_s"] = layer_metrics(log, "setup.warm_up")["udfs.py_start_s"]
    else:
        for k in PER_LAYER_UNITS:
            if k.startswith(("pipeline.", "udfs.", "spark.")) and k not in m:
                run.unmeasured[k] = "no event log was written"
    if not extraction:
        for k in ("pipeline.write_s", "pipeline.commit_s", "pipeline.output_files", "pipeline.output_bytes"):
            run.unmeasured[k] = f"{wl} writes no output"

    # 5. single-process layer timings
    m.update(driver_layers(run))

    for k in PER_LAYER_UNITS:
        if k not in m:
            run.unmeasured.setdefault(k, "the layer does no work on this workload")
    info["self_time_s"] = run.tracer.self_times()
    run.tracer.write(
        os.path.join(run.wd.traces, f"{wl}-seed{run.args.seed}-{run.tracer.run_id}.json"),
        {"metrics": m, "unmeasured": run.unmeasured, "info": info},
    )
    metrics = {k: (m.get(k, 0.0), u) for k, u in PER_LAYER_UNITS.items()}
    return metrics, failed, info
