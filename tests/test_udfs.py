"""The `udfs` column functions and the per-document explodes, pinned
against the single-process engine.

Every query column (xpath_select, css_select, xpath_string,
xpath_double, xpath_eval, doc_meta) must give, per row, exactly what
`fuzi_spark.query` gives on the same document, on four kinds of input:
an HTML page, a namespaced XML feed whose query prefixes are bound ONLY
through the `ns` argument, null markup, and markup no parser accepts.
The explodes without another Spark-surface test (captions outline,
code blocks) and the extraction operator's anchor rows are pinned the
same way.

The columns of one select share one parse per document per Arrow batch:
counted in-process on the pandas functions behind the column functions,
and pinned in Spark on a select whose rows all travel in one batch."""

import math
from collections import Counter

import pandas as pd
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


def _parse(markup, doc_type=None):
    if markup is None:
        return None
    try:
        if (doc_type or sniff_doc_type(markup)) == "html":
            return fz.parse_html(markup)
        return fz.parse_xml(markup)
    except Exception:
        return None


NULL_RESULT = {"bool_value": None, "double_value": None, "string_value": None}


def _reference(markup, fn, expr, doc_type=None):
    """Single-process answer of one column for one document. A struct
    column cannot be null per row, so a missing doc's XPathResult is
    the struct of nulls."""
    doc = _parse(markup, doc_type)
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


def _column(fn, expr, doc_type=None):
    from fuzi_spark import udfs

    if fn == "doc_meta":
        return udfs.doc_meta(doc_type)
    return getattr(udfs, fn)(expr, doc_type, ns=NS)


def _select_rows(d, columns):
    got = d.select(
        "kind",
        *[_column(fn, expr, *dt)(F.col("markup")).alias(name)
          for name, fn, expr, *dt in columns],
    )
    return {r["kind"]: r.asDict(recursive=True) for r in got.collect()}


@pytest.fixture(scope="module")
def query_rows(spark):
    d = spark.createDataFrame(INPUTS, "kind string, markup string")
    return _select_rows(d, COLUMNS)


@pytest.mark.parametrize("kind", [k for k, _ in INPUTS])
@pytest.mark.parametrize("name,fn,expr", COLUMNS, ids=[c[0] for c in COLUMNS])
def test_column_matches_single_process(query_rows, kind, name, fn, expr):
    markup = dict(INPUTS)[kind]
    want = _reference(markup, fn, expr)
    got = query_rows[kind][name]
    assert _same(got, want), (kind, name, got, want)


# the one-batch select puts an html-typed column between sniffed ones,
# next to its sniffed twin: the two differ on the feed and on the
# unparseable markup, so a shared parse that ignored doc_type shows
ONE_BATCH_COLUMNS = COLUMNS[:4] + [
    ("root", "xpath_string", "name(/node()[last()])"),
    ("root_html", "xpath_string", "name(/node()[last()])", "html"),
] + COLUMNS[4:]


@pytest.fixture(scope="module")
def one_batch_rows(spark):
    """Every input row in ONE Arrow batch, so all the query columns of
    the select share one batch's parsed documents."""
    d = spark.createDataFrame(INPUTS, "kind string, markup string").coalesce(1)
    assert d.rdd.getNumPartitions() == 1
    return _select_rows(d, ONE_BATCH_COLUMNS)


@pytest.mark.parametrize("kind", [k for k, _ in INPUTS])
@pytest.mark.parametrize(
    "name,fn,expr,doc_type",
    [(*c, None)[:4] for c in ONE_BATCH_COLUMNS],
    ids=[c[0] for c in ONE_BATCH_COLUMNS],
)
def test_one_batch_column_matches_single_process(
    one_batch_rows, kind, name, fn, expr, doc_type
):
    markup = dict(INPUTS)[kind]
    want = _reference(markup, fn, expr, doc_type)
    got = one_batch_rows[kind][name]
    assert _same(got, want), (kind, name, got, want)


def test_one_batch_typed_twin_differs(one_batch_rows):
    """The html-typed column really answers differently from its
    sniffed twin on the same batch."""
    assert one_batch_rows["feed"]["root"] == "feed"
    assert one_batch_rows["feed"]["root_html"] == "html"
    assert one_batch_rows["unparseable"]["root"] is None
    assert one_batch_rows["unparseable"]["root_html"] == "html"


# ------------------------------------------- one parse per document per batch


@pytest.fixture
def parses(monkeypatch):
    """Counts udfs._parse_doc calls per markup string, starting from an
    empty shared-document slot."""
    from fuzi_spark import udfs

    seen = Counter()
    parse = udfs._parse_doc

    def counting(text, doc_type):
        seen[text] += 1
        return parse(text, doc_type)

    monkeypatch.setattr(udfs, "_parse_doc", counting)
    monkeypatch.setattr(udfs, "_shared_docs", None)
    return seen


def _batch():
    return pd.Series([m for _, m in INPUTS], dtype=object)


def _three_columns(doc_type=None):
    """The pandas functions behind three different column functions."""
    return [
        _column("xpath_select", "//p", doc_type).func,
        _column("xpath_string", "string(//title | /a:feed/a:title)",
                doc_type).func,
        _column("doc_meta", None, doc_type).func,
    ]


NON_NULL = [m for _, m in INPUTS if m is not None]


def test_columns_of_one_batch_parse_each_doc_once(parses):
    batch = _batch()
    for fn in _three_columns():
        fn(batch)
    assert parses == Counter(NON_NULL)


def test_equal_but_distinct_batch_reparses(parses):
    a, b = _three_columns()[:2]
    a(_batch())
    b(_batch())
    assert parses == Counter(NON_NULL * 2)


def test_other_doc_type_reparses(parses):
    batch = _batch()
    _three_columns()[0](batch)
    _three_columns("html")[1](batch)
    assert parses == Counter(NON_NULL * 2)


def _values(fn, batch):
    got = fn(batch)
    return got.to_dict("records") if isinstance(got, pd.DataFrame) else list(got)


def test_rows_past_budget_parse_per_column(parses, monkeypatch):
    """Past the markup budget each column parses on its own, and every
    value equals the unshared per-column path (a budget of 0)."""
    from fuzi_spark import udfs

    columns = _three_columns()
    monkeypatch.setattr(udfs, "_SHARED_MARKUP_BUDGET", 0)
    unshared = [_values(fn, _batch()) for fn in columns]
    parses.clear()

    # only the first row (the HTML page) fits
    monkeypatch.setattr(udfs, "_SHARED_MARKUP_BUDGET", len(HTML_PAGE))
    batch = _batch()
    assert [_values(fn, batch) for fn in columns] == unshared
    assert parses == Counter(
        {HTML_PAGE: 1, XML_FEED: len(columns), UNPARSEABLE: len(columns)}
    )


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
