"""Arrow-vectorized Spark UDF: the whole parse pipeline fused per batch.

One ``arrow_udf`` maps ``Array[binary] -> StructArray[PARSED_SCHEMA]``:
decode → tokenize → tree-build → extract, per document, inside a single
Arrow batch. This replaces the reference's Piscina worker pool
(parseTemplate.js:10-13, 260-267) with Spark task parallelism — one Python
worker per task slot, Arrow IPC instead of a thread-boundary stream. No
per-row Python is ever dispatched by Spark (the per-document loop lives
inside the batch kernel, which is the vectorization unit).

The kernel builds its output as Arrow arrays directly (flat column lists,
spans as one flat struct array plus offsets). A ``pandas_udf`` returning a
DataFrame would have Spark convert every row's span dicts back to Arrow in
Python, on top of building them.

Why not express the tokenizer in Spark SQL functions: the grammar is an
8-state automaton with 1-char pushback and context-dependent rawtext modes —
not expressible as a finite composition of built-in expressions without
per-row explosion. A fused Arrow kernel keeps data movement at
(binary in) → (struct out), once.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
import pyarrow as pa  # module level: arrow_udf resolves its type hints here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tempeh_spark.options import DEFAULT_OPTIONS, ParserOptions
from tempeh_spark.parser import parse_bytes, string_options, usv_encode

SPAN_SCHEMA = StructType(
    [
        StructField("dom_path", StringType()),
        StructField("l", IntegerType()),
        StructField("c", IntegerType()),
        StructField("text", StringType()),
    ]
)

PARSED_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("main_text", StringType()),
        StructField("title", StringType()),
        StructField("nodes_json", StringType()),
        StructField("spans", ArrayType(SPAN_SCHEMA)),
        StructField("error", StringType()),
        StructField("encoding", StringType()),
        StructField("n_tokens", IntegerType()),
        StructField("n_nodes", IntegerType()),
        StructField("n_elements", IntegerType()),
        StructField("n_text_nodes", IntegerType()),
        StructField("n_comments", IntegerType()),
        StructField("n_attrs", IntegerType()),
        StructField("max_depth", IntegerType()),
        StructField("html_bytes", LongType()),
    ]
)


ARROW_SCHEMA = to_arrow_schema(PARSED_SCHEMA)
_SPANS_TYPE = ARROW_SCHEMA.field("spans").type

NULL_HTML_ERROR = "null html"
# every column but spans, for a null document
_NULL_ROW = (None, None, None, None, NULL_HTML_ERROR, None, 0, 0, 0, 0, 0, 0, 0, 0)


def _sanitize(s: str) -> str:
    """Arrow strings must be valid UTF-8; lone surrogates (possible from
    malformed UTF-16 inputs, which JS strings tolerate) are replaced."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        return s.encode("utf-8", errors="replace").decode("utf-8")


def _strings(values) -> pa.Array:
    """A string array; only a batch holding a lone surrogate pays the
    per-value ``_sanitize``."""
    try:
        return pa.array(values, pa.string())
    except UnicodeEncodeError:
        return pa.array([None if v is None else _sanitize(v) for v in values], pa.string())


def parse_arrow(
    html: Iterable[bytes | str | None],
    options: ParserOptions,
    with_nodes_json: bool = True,
    with_spans: bool = True,
) -> pa.StructArray:
    """The batch kernel: one struct per document, fields per PARSED_SCHEMA.

    ``with_nodes_json``/``with_spans`` skip the DOM-JSON serialization /
    span materialization when a pipeline only needs extracted text +
    metrics — the common training-data profile. The output schema is
    unchanged (nulls). On crawl-sized pages ``nodes_json`` is about 15% of
    batch cost (``parser.dump_nodes`` 0.07 of 0.52 s/MB in the extract_full
    kernel trace).

    Accepts BINARY or STRING values: string rows take the parseString
    contract (TextEncoder-style USV encode, no BOM sniff — see
    parser.usv_encode/string_options), byte rows the parseFile one. The
    isinstance test is one branch per document in a kernel that is
    already per-document Python; it does not change the plan shape."""
    str_opts = string_options(options)
    rows = []  # every column but spans
    spans = []  # per document: its span tuples, or None
    for data in html:
        if data is None:
            rows.append(_NULL_ROW)
            spans.append(None)
            continue
        if isinstance(data, str):
            b = usv_encode(data)
            r = parse_bytes(b, str_opts)
        else:
            b = bytes(data)
            r = parse_bytes(b, options)
        ex = r.extraction
        ok = r.error is None
        rows.append(
            (
                ex.text if ok else None,
                ex.main_text if ok else None,
                ex.title if ok else None,
                r.nodes_json() if ok and with_nodes_json else None,
                r.error,
                r.encoding,
                r.n_tokens,
                ex.n_nodes,
                ex.n_elements,
                ex.n_text_nodes,
                ex.n_comments,
                ex.n_attrs,
                ex.max_depth,
                len(b),
            )
        )
        spans.append(ex.spans if ok and with_spans else None)

    cols = list(zip(*rows)) or [()] * len(_NULL_ROW)
    offsets = [0]
    flat: list[tuple] = []
    for s in spans:
        if s:
            flat.extend(s)
        offsets.append(len(flat))
    path, line, column, text = list(zip(*flat)) or [()] * 4
    span_values = pa.StructArray.from_arrays(
        [_strings(path), pa.array(line, pa.int32()), pa.array(column, pa.int32()), _strings(text)],
        fields=list(_SPANS_TYPE.value_type),
    )
    span_lists = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        span_values,
        type=_SPANS_TYPE,
        mask=pa.array([s is None for s in spans], pa.bool_()),
    )
    return pa.StructArray.from_arrays(
        [
            *(_strings(c) for c in cols[:4]),
            span_lists,
            _strings(cols[4]),
            _strings(cols[5]),
            *(pa.array(c, pa.int32()) for c in cols[6:13]),
            pa.array(cols[13], pa.int64()),
        ],
        fields=list(ARROW_SCHEMA),
    )


def parse_batch(
    html: pd.Series,
    options: ParserOptions,
    with_nodes_json: bool = True,
    with_spans: bool = True,
) -> pd.DataFrame:
    """``parse_arrow`` as a pandas DataFrame: one row per document, columns
    per PARSED_SCHEMA (spans as arrays of dicts)."""
    return pa.Table.from_struct_array(
        parse_arrow(html, options, with_nodes_json, with_spans)
    ).to_pandas()


def make_parse_udf(
    options: ParserOptions = DEFAULT_OPTIONS,
    with_nodes_json: bool = True,
    with_spans: bool = True,
):
    """Build the Arrow-batched parse UDF with options baked into the closure."""

    @arrow_udf(PARSED_SCHEMA)
    def parse_html_udf(html: Iterator[pa.Array]) -> Iterator[pa.Array]:
        # Iterator form: per-worker setup (LUT warm-up) is amortized across
        # all batches of a task, and huge tasks stream batch-by-batch.
        for batch in html:
            yield parse_arrow(batch.to_pylist(), options, with_nodes_json, with_spans)

    return parse_html_udf


def parse_html(
    df: DataFrame,
    html_col: str | Column = "html",
    options: ParserOptions = DEFAULT_OPTIONS,
    output_col: str = "parsed",
) -> DataFrame:
    """Append a ``parsed`` struct column to ``df`` (the engine's main API)."""
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    return df.withColumn(output_col, make_parse_udf(options)(col))
