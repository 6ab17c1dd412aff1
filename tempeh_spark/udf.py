"""Arrow-vectorized Spark UDF: the whole parse pipeline fused per batch.

One ``pandas_udf`` maps ``Series[binary] -> DataFrame[PARSED_SCHEMA]``:
decode → tokenize → tree-build → extract, per document, inside a single
Arrow batch. This replaces the reference's Piscina worker pool
(parseTemplate.js:10-13, 260-267) with Spark task parallelism — one Python
worker per task slot, Arrow IPC instead of a thread-boundary stream. No
per-row Python is ever dispatched by Spark (the per-document loop lives
inside the batch kernel, which is the vectorization unit).

Why not express the tokenizer in Spark SQL functions: the grammar is an
8-state automaton with 1-char pushback and context-dependent rawtext modes —
not expressible as a finite composition of built-in expressions without
per-row explosion. A fused Arrow kernel keeps data movement at
(binary in) → (struct out), once.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
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


def _sanitize(s: str) -> str:
    """Arrow strings must be valid UTF-8; lone surrogates (possible from
    malformed UTF-16 inputs, which JS strings tolerate) are replaced."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        return s.encode("utf-8", errors="replace").decode("utf-8")


def parse_batch(
    html: pd.Series,
    options: ParserOptions,
    with_nodes_json: bool = True,
    with_spans: bool = True,
) -> pd.DataFrame:
    """The batch kernel: one row per document, columns per PARSED_SCHEMA.

    ``with_nodes_json``/``with_spans`` skip the expensive DOM-JSON
    serialization / span materialization (~40% of batch cost) when a
    pipeline only needs extracted text + metrics — the common
    training-data profile. The output schema is unchanged (nulls).

    Accepts BINARY or STRING columns: string rows take the parseString
    contract (TextEncoder-style USV encode, no BOM sniff — see
    parser.usv_encode/string_options), byte rows the parseFile one. The
    isinstance test is one branch per document in a kernel that is
    already per-document Python; it does not change the plan shape."""
    str_opts = string_options(options)
    rows = []
    for data in html:
        if data is None:
            rows.append(
                (None, None, None, None, None, "null html", None, 0, 0, 0, 0, 0, 0, 0, 0)
            )
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
                _sanitize(ex.text) if ok else None,
                _sanitize(ex.main_text) if ok else None,
                _sanitize(ex.title) if ok else None,
                _sanitize(r.nodes_json()) if ok and with_nodes_json else None,
                [
                    # dom_path carries tag names, which can hold lone
                    # surrogates just like text — sanitize BOTH fields
                    {"dom_path": _sanitize(p), "l": l, "c": c, "text": _sanitize(t)}
                    for (p, l, c, t) in ex.spans
                ]
                if ok and with_spans
                else None,
                _sanitize(r.error) if r.error is not None else None,
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
    return pd.DataFrame(rows, columns=[f.name for f in PARSED_SCHEMA.fields])


def make_parse_udf(
    options: ParserOptions = DEFAULT_OPTIONS,
    with_nodes_json: bool = True,
    with_spans: bool = True,
):
    """Build the Arrow-batched parse UDF with options baked into the closure."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(PARSED_SCHEMA)
    def parse_html_udf(html: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # Iterator form: per-worker setup (LUT warm-up) is amortized across
        # all batches of a task, and huge tasks stream batch-by-batch.
        for batch in html:
            yield parse_batch(batch, options, with_nodes_json, with_spans)

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
