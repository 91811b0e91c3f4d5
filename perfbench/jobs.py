"""The timed jobs of each workload and the checks of their outputs.

Only public entry points of the program are called: the pipeline
(`run_extraction_pipeline`, `committed_buckets`, `read_committed_spans`),
the `udfs` column functions, and, as single-process references,
`extract._extract_spans_dom` and the `fuzi_spark.query` surface.
"""

from __future__ import annotations

import math
import random
import shutil

from gen import QUERY_NS, markup_of

# one select over the markup column that mixes every query column function;
# (name, function, expression): an operation is one document × one entry
QUERY_EXPRS = [
    ("css_links", "css_select", "ul.list a"),
    ("css_paras", "css_select", "#main .content p"),
    ("xp_entries", "xpath_select", "//a:entry/a:title"),
    ("xp_creators", "xpath_select", "//dc:creator"),
    ("title", "xpath_string", "string(//title | /a:feed/a:title)"),
    ("n_blocks", "xpath_double", "count(//p | //td | //a:entry)"),
    # un-prefixed: udfs.xpath_eval ignores its ns argument, so a prefixed
    # expression there evaluates to null instead of the query's answer
    ("has_media", "xpath_eval", "boolean(//img | //*[local-name()='content'])"),
    ("meta", "doc_meta", None),
]

CHECK_SAMPLE = 48  # seeded random docs checked per run, besides the special ones

# Commit buckets of the extraction job. The pipeline's default (64) would
# make a few-thousand-doc batch write tasks × 64 ≈ 512 small span files per
# run, so per-file cost would swamp everything else and the benchmark's
# run budget; 16 keeps the write a large, visible share of the job
# (pipeline.output_files / write_s report it) at the scale measured here.
N_BUCKETS = 16


def _udf_column(fn: str, expr):
    from fuzi_spark import udfs

    if fn == "doc_meta":
        return udfs.doc_meta()
    return getattr(udfs, fn)(expr, ns=QUERY_NS)


def query_frame(spark, input_path: str):
    from pyspark.sql import functions as F

    from fuzi_spark.udfs import markup_from_spans_col

    docs = spark.read.parquet(input_path).select(
        "doc_id", markup_from_spans_col("spans").alias("markup")
    )
    return docs.select(
        "doc_id",
        *[_udf_column(fn, expr)(F.col("markup")).alias(name) for name, fn, expr in QUERY_EXPRS],
    )


# ------------------------------------------------------------------ timed reps


def extraction_rep(spark, input_path: str, out_dir: str) -> dict:
    """The full job: extract, write spans, commit lineage, then read the
    committed spans back and count them."""
    from pyspark.sql import functions as F

    from fuzi_spark.pipeline import read_committed_spans, run_extraction_pipeline

    docs = spark.read.parquet(input_path)
    _, committed = run_extraction_pipeline(spark, docs, output_dir=out_dir, n_buckets=N_BUCKETS)
    run = committed.agg(
        F.sum("doc_count"), F.sum("span_count"), F.sum("parse_error_count")
    ).first()
    visible = read_committed_spans(spark, out_dir).count()
    return {
        "run_docs": int(run[0] or 0),
        "run_spans": int(run[1] or 0),
        "run_errors": int(run[2] or 0),
        "visible_rows": visible,
    }


def query_rep(spark, input_path: str) -> dict:
    """One select evaluating every expression over every document,
    consumed by an aggregate so each column is computed."""
    from pyspark.sql import functions as F

    q = query_frame(spark, input_path)
    aggs = [F.count("*").alias("rows")]
    for name, fn, _ in QUERY_EXPRS:
        if fn in ("css_select", "xpath_select"):
            aggs.append(F.sum(F.size(name)).alias(name))
        elif fn == "xpath_string":
            aggs.append(F.sum(F.length(name)).alias(name))
        elif fn == "xpath_double":
            aggs.append(F.sum(name).alias(name))
        elif fn == "xpath_eval":
            aggs.append(F.sum(F.col(name)["bool_value"].cast("int")).alias(name))
        else:
            aggs.append(F.sum(F.col(name)["parse_error"]).alias(name))
    return q.agg(*aggs).first().asDict()


def cut_lineage_to_half(spark, out_dir: str, seed: int) -> int:
    """Turn a committed output dir into one where only a seeded half of the
    buckets is committed: the lineage (the commit record) keeps that half,
    and the other half's span files stay on disk as the orphans of a run
    killed before its commit, which readers must not see and a resumed run
    must redo. Returns the doc count still committed."""
    from pyspark.sql import functions as F

    lineage_path = f"{out_dir}/lineage"
    lineage = spark.read.parquet(lineage_path)
    buckets = sorted(r[0] for r in lineage.select("bucket").distinct().collect())
    keep = random.Random(f"resume:{seed}").sample(buckets, len(buckets) // 2)
    half = lineage.filter(F.col("bucket").isin(keep)).toPandas()
    shutil.rmtree(lineage_path)
    spark.createDataFrame(half, schema=lineage.schema).coalesce(1).write.parquet(lineage_path)
    return int(half["doc_count"].sum())


# ------------------------------------------------------------------ checks


def resolve_type(doc_type, markup: str) -> str:
    from fuzi_spark.extract import sniff_doc_type

    return doc_type if doc_type in ("html", "xml") else sniff_doc_type(markup)


def check_sample_ids(rows: list[dict], seed: int) -> list[str]:
    """Hardening docs, giants and media-heavy docs always; plus a seeded
    random sample of the rest."""
    special = [
        r["doc_id"]
        for r in rows
        if r["doc_id"].startswith("hard-") or "giant" in r["doc_id"] or "media" in r["doc_id"]
    ]
    rest = sorted(r["doc_id"] for r in rows if r["doc_id"] not in set(special))
    rng = random.Random(f"check:{seed}")
    return sorted(special) + rng.sample(rest, min(CHECK_SAMPLE, len(rest)))


def reference_spans(row: dict) -> tuple[list[tuple], int]:
    from fuzi_spark.extract import _extract_spans_dom

    markup = markup_of(row)
    if not markup:
        return [], 1
    spans, err = _extract_spans_dom(markup, resolve_type(row["doc_type"], markup))
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans], err


def actual_spans(rows_of_doc: list[dict]) -> tuple[list[tuple], int]:
    """Committed extraction rows of one doc → (span tuples in seq order,
    parse_error). A doc with no content or an error has one seq=-1 row."""
    anchors = [r for r in rows_of_doc if r["seq"] < 0]
    if anchors:
        return [], int(anchors[0]["parse_error"])
    ordered = sorted(rows_of_doc, key=lambda r: r["seq"])
    if [r["seq"] for r in ordered] != list(range(len(ordered))):
        return [("bad-seq",)], 0
    return [(r["kind"], r["text"], r["media_ref"]) for r in ordered], 0


def compare_spans(expected: dict, actual: dict) -> list[str]:
    """doc ids whose committed span sequence or error flag differs from the
    reference, or that are missing from the committed output."""
    bad = []
    for doc_id, want in expected.items():
        got = actual.get(doc_id)
        if got is None or got != want:
            bad.append(doc_id)
    return bad


def check_extraction(spark, meta: dict, rows: list[dict], out_dir: str, seed: int) -> dict:
    """Output check of one committed output dir. Every failure is one
    failed operation (document)."""
    from pyspark.sql import functions as F

    from fuzi_spark.pipeline import read_committed_spans

    n = meta["docs"]
    lineage = spark.read.parquet(f"{out_dir}/lineage").agg(
        F.sum("doc_count"), F.sum("parse_error_count")
    ).first()
    committed_docs, committed_errors = int(lineage[0] or 0), int(lineage[1] or 0)
    spans = read_committed_spans(spark, out_dir)
    inputs = spark.read.parquet(meta["path"]).select("doc_id")
    missing = inputs.join(spans.select("doc_id").distinct(), "doc_id", "left_anti").count()

    ids = check_sample_ids(rows, seed)
    by_id = {r["doc_id"]: r for r in rows}
    expected = {i: reference_spans(by_id[i]) for i in ids}
    got_rows: dict[str, list[dict]] = {}
    for r in (
        spans.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "seq", "kind", "text", "media_ref", "parse_error")
        .toLocalIterator()
    ):
        got_rows.setdefault(r["doc_id"], []).append(r.asDict())
    actual = {i: actual_spans(v) for i, v in got_rows.items()}
    mismatched = compare_spans(expected, actual)

    failed = (
        missing
        + abs(committed_docs - n)
        + abs(committed_errors - meta["expected_parse_errors"])
        + len(mismatched)
    )
    return {
        "failed": min(failed, n),
        "missing_docs": missing,
        "lineage_docs": committed_docs,
        "lineage_parse_errors": committed_errors,
        "expected_parse_errors": meta["expected_parse_errors"],
        "sampled_docs": len(ids),
        "mismatched_docs": mismatched[:20],
    }


def reference_query(markup: str, fn: str, expr):
    """Single-process answer of one query column for one document, through
    the public fuzi_spark API."""
    import fuzi_spark as fz

    doc = None
    if markup is not None:
        try:
            if resolve_type(None, markup) == "html":
                doc = fz.parse_html(markup)
            else:
                doc = fz.parse_xml(markup)
        except Exception:
            pass
    if fn == "doc_meta":
        if doc is None or doc.root is None:
            return {"version": None, "encoding": None, "root_tag": None, "title": None, "parse_error": 1}
        return {
            "version": doc.version,
            "encoding": doc.encoding,
            "root_tag": doc.root.tag,
            "title": doc.title if doc.is_html else None,
            "parse_error": 0,
        }
    if doc is None:
        return [] if fn in ("css_select", "xpath_select") else None
    if fn == "css_select":
        return [fz.element_snapshot(n) for n in fz.css(doc, expr, QUERY_NS)]
    if fn == "xpath_select":
        return [fz.element_snapshot(n) for n in fz.xpath(doc, expr, QUERY_NS)]
    r = fz.eval_xpath(doc, expr, QUERY_NS)
    if r is None:
        return None
    if fn == "xpath_string":
        return r.string_value
    if fn == "xpath_double":
        return r.double_value
    return {"bool_value": r.bool_value, "double_value": r.double_value, "string_value": r.string_value}


def same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def compare_query(expected: dict, actual: dict) -> list[tuple[str, str]]:
    """(doc_id, column) pairs whose Spark result differs from the
    single-process reference, or that are missing."""
    bad = []
    for doc_id, want in expected.items():
        got = actual.get(doc_id)
        for name, _, _ in QUERY_EXPRS:
            if got is None or not same_value(want[name], got.get(name)):
                bad.append((doc_id, name))
    return bad


def check_query(spark, meta: dict, rows: list[dict], seed: int, summary: dict) -> dict:
    from pyspark.sql import functions as F

    n_ops = meta["docs"] * len(QUERY_EXPRS)
    ids = check_sample_ids(rows, seed)
    by_id = {r["doc_id"]: r for r in rows}
    expected = {
        i: {name: reference_query(markup_of(by_id[i]), fn, expr) for name, fn, expr in QUERY_EXPRS}
        for i in ids
    }
    actual = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in query_frame(spark, meta["path"]).filter(F.col("doc_id").isin(ids)).collect()
    }
    mismatched = compare_query(expected, actual)
    failed = len(mismatched) + abs(int(summary.get("rows", 0)) - meta["docs"]) * len(QUERY_EXPRS)
    return {
        "failed": min(failed, n_ops),
        "sampled_docs": len(ids),
        "mismatched": [f"{d}:{c}" for d, c in mismatched[:20]],
    }
