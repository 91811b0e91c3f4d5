"""The `udfs` column functions and the per-document explodes, pinned
against the single-process engine.

Every query column (xpath_select, css_select, xpath_string,
xpath_double, xpath_eval, doc_meta) must give, per row, exactly what
`fuzi_spark.query` gives on the same document, on four kinds of input:
an HTML page, a namespaced XML feed whose query prefixes are bound ONLY
through the `ns` argument, null markup, and markup no parser accepts.
The explodes without another Spark-surface test (captions outline,
code blocks) and the extraction operator's anchor rows are pinned the
same way."""

import math

import pytest

from pyspark.sql import functions as F

import fuzi_spark as fz
from fuzi_spark.extract import sniff_doc_type


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("fuzi-udfs-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


HTML_PAGE = """<!DOCTYPE html><html><head><title>Page One</title></head>
<body><div id="main"><p class="x">alpha</p><p>beta
<img src="a.png"></p><ul><li><a href="/1">one</a></li></ul></div></body>
</html>"""

# the Atom namespace is the document's DEFAULT namespace and the media
# namespace is declared as "media": the prefixes "a" and "m" used by
# the queries below exist only in NS
XML_FEED = """<?xml version="1.0" encoding="UTF-8"?>
<feed xmlns="http://www.w3.org/2005/Atom"
      xmlns:media="http://search.yahoo.com/mrss/">
  <title>Feed</title>
  <entry><title>E1</title><media:content url="v1.mp4"/></entry>
  <entry><title>E2</title></entry>
</feed>"""

NS = {
    "a": "http://www.w3.org/2005/Atom",
    "m": "http://search.yahoo.com/mrss/",
}

UNPARSEABLE = "\x00\x01 not markup"

INPUTS = [
    ("html", HTML_PAGE),
    ("feed", XML_FEED),
    ("null", None),
    ("unparseable", UNPARSEABLE),
]

# (column, udfs function name, expression)
COLUMNS = [
    ("sel_titles", "xpath_select", "//a:entry/a:title"),
    ("sel_paras", "xpath_select", "//p"),
    ("css_paras", "css_select", "#main p"),
    ("title", "xpath_string", "string(//title | /a:feed/a:title)"),
    ("n_blocks", "xpath_double", "count(//p | //a:entry)"),
    ("has_media", "xpath_eval", "boolean(//img | //m:content)"),
    ("n_media", "xpath_eval", "count(//m:content)"),
    ("meta", "doc_meta", None),
]


def _parse(markup):
    if markup is None:
        return None
    try:
        if sniff_doc_type(markup) == "html":
            return fz.parse_html(markup)
        return fz.parse_xml(markup)
    except Exception:
        return None


NULL_RESULT = {"bool_value": None, "double_value": None, "string_value": None}


def _reference(markup, fn, expr):
    """Single-process answer of one column for one document. A struct
    column cannot be null per row, so a missing doc's XPathResult is
    the struct of nulls."""
    doc = _parse(markup)
    if fn == "doc_meta":
        if doc is None or doc.root is None:
            return {"version": None, "encoding": None, "root_tag": None,
                    "title": None, "parse_error": 1}
        return {
            "version": doc.version,
            "encoding": doc.encoding,
            "root_tag": doc.root.tag,
            "title": doc.title if doc.is_html else None,
            "parse_error": 0,
        }
    if doc is None:
        return {"xpath_select": [], "css_select": [],
                "xpath_eval": NULL_RESULT}.get(fn)
    if fn == "xpath_select":
        return [fz.element_snapshot(n) for n in fz.xpath(doc, expr, NS)]
    if fn == "css_select":
        return [fz.element_snapshot(n) for n in fz.css(doc, expr, NS)]
    r = fz.eval_xpath(doc, expr, NS)
    if r is None:
        return NULL_RESULT if fn == "xpath_eval" else None
    if fn == "xpath_string":
        return r.string_value
    if fn == "xpath_double":
        return r.double_value
    return {"bool_value": r.bool_value, "double_value": r.double_value,
            "string_value": r.string_value}


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _column(fn, expr):
    from fuzi_spark import udfs

    if fn == "doc_meta":
        return udfs.doc_meta()
    return getattr(udfs, fn)(expr, ns=NS)


@pytest.fixture(scope="module")
def query_rows(spark):
    d = spark.createDataFrame(INPUTS, "kind string, markup string")
    got = d.select(
        "kind",
        *[_column(fn, expr)(F.col("markup")).alias(name)
          for name, fn, expr in COLUMNS],
    )
    return {r["kind"]: r.asDict(recursive=True) for r in got.collect()}


@pytest.mark.parametrize("kind", [k for k, _ in INPUTS])
@pytest.mark.parametrize("name,fn,expr", COLUMNS, ids=[c[0] for c in COLUMNS])
def test_column_matches_single_process(query_rows, kind, name, fn, expr):
    markup = dict(INPUTS)[kind]
    want = _reference(markup, fn, expr)
    got = query_rows[kind][name]
    assert _same(got, want), (kind, name, got, want)


def test_xpath_eval_binds_prefix_through_ns(query_rows):
    """A prefix the feed never declares resolves through `ns`."""
    feed = query_rows["feed"]
    assert feed["has_media"] == {
        "bool_value": True, "double_value": 1.0, "string_value": "true",
    }
    assert feed["n_media"]["double_value"] == 1.0
    assert [s["string_value"] for s in feed["sel_titles"]] == ["E1", "E2"]
    assert feed["title"] == "Feed"


def test_extract_markup_anchor_rows(spark):
    """Documents without spans keep one seq=-1 anchor row: 'error' for
    null or empty markup, 'empty' for a page with no content."""
    from fuzi_spark.udfs import extract_markup_df

    d = spark.createDataFrame(
        [("ok", "<html><body><p>hello there</p></body></html>"),
         ("null", None), ("blank", ""), ("bare", "<html></html>")],
        "doc_id string, markup string",
    )
    got = {
        (r.doc_id, r.seq): (r.kind, r.parse_error)
        for r in extract_markup_df(d).collect()
    }
    assert got[("null", -1)] == ("error", 1)
    assert got[("blank", -1)] == ("error", 1)
    assert got[("bare", -1)] == ("empty", 0)
    assert got[("ok", 0)][1] == 0
    assert ("ok", -1) not in got


OUTLINE_DOCS = [
    (1, "<h1>T</h1><h3>D</h3><h2>A</h2><p>x</p><h3>B</h3><h1>T2</h1>"),
    (2, "<p>no headings</p>"),
    (3, None),
    (4, "<h2>open<h2>next</h2>"),
]

CODE_DOCS = [
    (1, '<pre class="lang-js"><code class="language-python">x=1\ny=2'
        "</code></pre><pre>\nplain\n</pre>"),
    (2, "<p>no code</p>"),
    (3, None),
    (4, '<pre class="highlight-ruby"><code>puts 1</code></pre>'),
]


def test_outline_spark_matches_pure(spark):
    from fuzi_spark.ops.captions import extract_outline, extract_outline_df

    d = spark.createDataFrame(OUTLINE_DOCS, "doc_id long, markup string")
    got = sorted(
        (r.doc_id, r.seq, r.level, r.heading, r.path)
        for r in extract_outline_df(d).collect()
    )
    want = sorted(
        (did, r["seq"], r["level"], r["heading"], r["path"])
        for did, m in OUTLINE_DOCS
        if m is not None
        for r in extract_outline(m)
    )
    assert got == want and len(want) == 7


def test_code_blocks_spark_matches_pure(spark):
    from fuzi_spark.ops.microdata import (
        extract_code_blocks,
        extract_code_blocks_df,
    )

    d = spark.createDataFrame(CODE_DOCS, "doc_id long, markup string")
    got = sorted(
        (r.doc_id, r.block_idx, r.language, r.code, r.n_lines, r.n_chars)
        for r in extract_code_blocks_df(d).collect()
    )
    want = sorted(
        (did, r["block_idx"], r["language"], r["code"], r["n_lines"],
         r["n_chars"])
        for did, m in CODE_DOCS
        if m is not None
        for r in extract_code_blocks(m)
    )
    assert got == want and len(want) == 3
