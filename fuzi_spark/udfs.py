"""Vectorized Spark operators over document tables.

The distribution contract mirrors the reference's actor layer
(kylehughes/Fuzi Sources/Actor.swift:136-405): one DOM per document per
task, built transiently inside an Arrow batch, with only flat value
snapshots crossing the executor boundary. There are NO row-at-a-time
Python UDFs anywhere (input_hint hard requirement) — everything is
`pandas_udf` / `mapInPandas` over Arrow batches.

Every per-document markup operator in the package goes through one of
two operators defined here, which own that contract:

- `doc_column(return_type, per_doc, ...)` — a pandas_udf column: each
  markup string is sniffed and parsed (`_parse_doc`) and `per_doc(doc)`
  gives the column's value for it (a tuple of fields for struct types).
  The query columns of one select share ONE parse per document per
  Arrow batch (`_batch_docs`), so `per_doc` must treat `doc` as
  read-only: the same document object is handed to every column.
- `explode_docs(docs, per_doc, schema, ...)` — a mapInPandas explode:
  `per_doc(markup, doc_type)` gives the rows of one document, and each
  output row is led by the document's id.

Both never raise on bad input: null markup, and for `doc_column` markup
no parser accepts, yields the caller's `missing` value (null by default;
the all-null struct for struct types, since Spark cannot null a struct
row). Namespace prefixes reach the query engine through the
`extra_ns` argument of `fuzi_spark.query`; a parsed document's own
`namespaces` are never mutated.

XPath/CSS expressions are compiled ONCE per executor process
(lru_cache in xpath.py / css.py) and reused across every batch — an
optimization the reference lacks (it re-compiles per query,
Queryable.swift:299).
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------- schemas

SPAN_FIELDS = [
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
]
SPAN_STRUCT = StructType(SPAN_FIELDS)
SPANS_ARRAY = ArrayType(SPAN_STRUCT)

# ElementSnapshot (reference Sources/Actor.swift:31-62)
SNAPSHOT_STRUCT = StructType(
    [
        StructField("attributes", MapType(StringType(), StringType())),
        StructField("line_number", IntegerType()),
        StructField("namespace", StringType()),
        StructField("raw_xml", StringType()),
        StructField("string_value", StringType()),
        StructField("tag", StringType()),
    ]
)
SNAPSHOT_ARRAY = ArrayType(SNAPSHOT_STRUCT)

# XPathResult (reference Sources/Actor.swift:91-110)
XPATH_RESULT_STRUCT = StructType(
    [
        StructField("bool_value", BooleanType()),
        StructField("double_value", DoubleType()),
        StructField("string_value", StringType()),
    ]
)

# output of the extraction stage: one row per extracted span
EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("seq", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("parse_error", IntegerType()),
    ]
)


def _parse_doc(markup: str, doc_type: Optional[str]):
    """Batch-local parse helper (never raises)."""
    from .extract import sniff_doc_type
    from .htmlparser import parse_html
    from .xmlparser import parse_xml

    if doc_type not in ("html", "xml"):
        doc_type = sniff_doc_type(markup)
    try:
        return parse_html(markup) if doc_type == "html" else parse_xml(markup)
    except Exception:
        return None


# ---------------------------------------------------------------- operators

# Every pandas_udf of one select runs in one ArrowEvalPython node, which
# ships a shared input column once; the worker then calls the UDFs one
# after another on the SAME pd.Series object of each batch, one task at a
# time per worker process. Module state is the only thing those calls
# share, so the slot below keeps the last batch's parsed documents, keyed
# on that object (held strongly, so its id cannot be recycled) and on
# doc_type, and the other columns of the select reuse them.
_shared_docs: Optional[tuple] = None  # (batch, doc_type, docs)

# Markup characters per batch whose documents the slot keeps. A DOM costs
# ~15x its markup, so this bounds the slot at ~240 MB per worker; rows past
# it are parsed by each column on its own, one document alive at a time.
_SHARED_MARKUP_BUDGET = 16 << 20


def _batch_docs(batch: pd.Series, doc_type: Optional[str]) -> list:
    """Parsed documents (None for null or unparseable markup) of the
    batch's leading rows, up to _SHARED_MARKUP_BUDGET characters of
    markup; parsed on the first call for (batch, doc_type) and shared
    by every later one."""
    global _shared_docs
    slot = _shared_docs
    if slot is not None and slot[0] is batch and slot[1] == doc_type:
        return slot[2]
    _shared_docs = None  # release the previous batch's documents first
    docs = []
    left = _SHARED_MARKUP_BUDGET
    for text in batch:
        if text is not None:
            left -= len(text)
            if left < 0:
                break
        docs.append(_parse_doc(text, doc_type) if text is not None else None)
    _shared_docs = (batch, doc_type, docs)
    return docs


def doc_column(
    return_type,
    per_doc: Callable,
    *,
    doc_type: Optional[str] = None,
    missing=None,
):
    """Column function over a markup column: per_doc(doc) on each parsed
    document, `missing` for null or unparseable markup.

    return_type is a DataType or a DDL string. For a struct return_type,
    per_doc returns a tuple of the fields in schema order and `missing`
    defaults to the all-null tuple.

    Documents are parsed once per batch and shared with every other
    doc_column of the same select (`_batch_docs`): per_doc must not
    mutate `doc`."""
    if isinstance(return_type, str):
        return_type = DataType.fromDDL(return_type)
    fields = return_type.fieldNames() if isinstance(return_type, StructType) else None
    if fields is not None and missing is None:
        missing = (None,) * len(fields)

    def values(batch: pd.Series) -> list:
        docs = _batch_docs(batch, doc_type)
        out = []
        for i, text in enumerate(batch):
            if i < len(docs):
                doc = docs[i]
            else:
                doc = _parse_doc(text, doc_type) if text is not None else None
            out.append(missing if doc is None else per_doc(doc))
        return out

    if fields is None:

        def _udf(batch: pd.Series) -> pd.Series:
            return pd.Series(values(batch), dtype=object)

    else:

        def _udf(batch: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(values(batch), columns=fields)

    return pandas_udf(_udf, return_type)


def explode_docs(
    docs: DataFrame,
    per_doc: Callable,
    schema,
    *,
    id_col: str = "doc_id",
    markup_col: str = "markup",
    doc_type: Optional[str] = None,
    missing=(),
) -> DataFrame:
    """mapInPandas explode of docs(id, markup[, doc_type]): one document in,
    the rows of per_doc(markup, doc_type) out, each led by the document's
    id. Null markup yields the rows in `missing`. A row-level doc_type
    column, when present, overrides the doc_type argument.

    Output columns are built one list each and assigned to `schema` by
    position (the frame's labels are integers)."""
    cols = [F.col(id_col), F.col(markup_col)]
    has_type = "doc_type" in docs.columns
    if has_type:
        cols.append(F.col("doc_type"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids = pdf.iloc[:, 0].to_numpy()
            markups = pdf.iloc[:, 1].to_numpy()
            types = pdf["doc_type"].to_numpy() if has_type else None
            ids, rows = [], []
            for i in range(len(pdf)):
                text = markups[i]
                if text is None:
                    got = missing
                else:
                    got = per_doc(text, types[i] if types is not None else doc_type)
                ids.extend([doc_ids[i]] * len(got))
                rows.extend(got)
            if rows:
                yield pd.DataFrame(dict(enumerate([ids, *map(list, zip(*rows))])))

    return docs.select(*cols).mapInPandas(fn, schema=schema)


# ---------------------------------------------------------------- extraction


def markup_from_spans_col(spans_col: str = "spans"):
    """JVM-side span⇄markup codec: sort by offset, concat text — the hot
    codec runs inside whole-stage codegen, so only ONE string column
    crosses the Arrow boundary instead of an array-of-structs (which costs
    a Python dict per span per row)."""
    sorted_spans = F.array_sort(
        F.col(spans_col),
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1)
        .otherwise(0),
    )
    return F.array_join(
        F.transform(sorted_spans, lambda s: F.coalesce(s["text"], F.lit(""))), ""
    )


def spans_to_markup(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans[, doc_type]) → (doc_id, markup[, doc_type]), the
    codec applied JVM-side (markup_from_spans_col)."""
    cols = [F.col("doc_id"), markup_from_spans_col("spans").alias("markup")]
    if "doc_type" in docs.columns:
        cols.append(F.col("doc_type"))
    return docs.select(*cols)


def extract_spans_df(docs: DataFrame, doc_type: Optional[str] = None) -> DataFrame:
    """docs(doc_id, spans[, doc_type]) → extracted spans, one row per span."""
    return extract_markup_df(spans_to_markup(docs), doc_type)


# the anchor row of a document without spans: seq=-1 keeps its doc_id so
# lineage counts it without a second pass over the data
_ERROR_ROW = ((-1, "error", None, None, -1, 1),)


def extract_markup_df(docs: DataFrame, doc_type: Optional[str] = None) -> DataFrame:
    """docs(doc_id, markup[, doc_type]) → extracted spans (EXTRACTED_SCHEMA),
    one row per span, seq-ordered; a document that fails to parse or has
    no spans keeps one seq=-1 'error'/'empty' row. For callers that
    already ran the span→markup codec (run_extraction_pipeline applies it
    BEFORE the salting shuffle so the exchange carries one string column,
    not the array-of-structs spans payload)."""
    from .extract import extract_spans

    def per_doc(markup: str, dt: Optional[str]):
        spans, err = extract_spans(markup, dt)
        if err:
            return _ERROR_ROW
        if not spans:
            return ((-1, "empty", None, None, -1, 0),)
        return [
            (seq, s["kind"], s["text"], s["media_ref"], s["offset"], 0)
            for seq, s in enumerate(spans)
        ]

    return explode_docs(
        docs, per_doc, EXTRACTED_SCHEMA, doc_type=doc_type, missing=_ERROR_ROW
    )


# ---------------------------------------------------------------- query UDFs


def xpath_select(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup string → array<ElementSnapshot> of XPath hits."""
    from .query import element_snapshot, xpath

    return doc_column(
        SNAPSHOT_ARRAY,
        lambda doc: [element_snapshot(n) for n in xpath(doc, expr, ns)],
        doc_type=doc_type,
        missing=[],
    )


def css_select(selector: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup string → array<ElementSnapshot> of CSS hits.
    The selector is compiled to XPath at plan-build time (driver side)."""
    from .css import css_to_xpath

    return xpath_select(css_to_xpath(selector), doc_type, ns)


def _eval_column(return_type, expr: str, doc_type, ns, value: Callable, missing=None):
    """doc_column of value(eval_xpath(doc, expr)); `missing` also stands
    for an expression the engine rejects (eval_xpath's None)."""
    from .query import eval_xpath

    def per_doc(doc):
        r = eval_xpath(doc, expr, ns)
        return missing if r is None else value(r)

    return doc_column(return_type, per_doc, doc_type=doc_type, missing=missing)


def xpath_string(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup → string(XPath expr). The cheap common case:
    only a string crosses Arrow, not full snapshots."""
    return _eval_column(StringType(), expr, doc_type, ns, lambda r: r.string_value)


def xpath_double(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup → number(XPath expr) (count/sum/...)."""
    return _eval_column(DoubleType(), expr, doc_type, ns, lambda r: r.double_value)


def xpath_eval(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup → XPathResult struct (bool, double, string)
    — the reference's eval(xpath:) surface (Queryable.swift:252-257)."""
    return _eval_column(
        XPATH_RESULT_STRUCT,
        expr,
        doc_type,
        ns,
        lambda r: (r.bool_value, r.double_value, r.string_value),
        missing=(None, None, None),
    )


_DOC_META_STRUCT = StructType(
    [
        StructField("version", StringType()),
        StructField("encoding", StringType()),
        StructField("root_tag", StringType()),
        StructField("title", StringType()),
        StructField("parse_error", IntegerType()),
    ]
)


def doc_meta(doc_type: Optional[str] = None):
    """Column function: markup → struct(version, encoding, root_tag,
    title, parse_error) — DocumentSnapshot surface (Actor.swift:67-86)."""
    missing = (None, None, None, None, 1)

    def per_doc(doc):
        if doc.root is None:
            return missing
        return (
            doc.version,
            doc.encoding,
            doc.root.tag,
            doc.title if doc.is_html else None,
            0,
        )

    return doc_column(_DOC_META_STRUCT, per_doc, doc_type=doc_type, missing=missing)
