"""tempeh_spark — a PySpark-native HTML extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the reference streaming HTML parser (Gyanreyer/tempeh-parser, studied at
/root/reference), re-architected for Apache Spark:

* the WHATWG-style tokenizer + tree builder run as vectorized pandas/Arrow
  UDFs over a ``html: binary`` column (one Arrow batch per task, no per-row
  Python dispatch),
* extraction (document-order text, DOM-path spans, boilerplate-stripped main
  content) is computed in the same fused kernel,
* everything above the kernel is plain DataFrame operations that Catalyst
  optimizes (column pruning to ``url, html``, partition pruning, AQE).

Per-document outputs are byte-identical to the reference parser (validated
against golden outputs captured by executing the reference itself — see
tests/goldens/).
"""

from tempeh_spark import zipcache
from tempeh_spark.api import HTMLParseHandle, HTMLParser
from tempeh_spark.options import ParserOptions
from tempeh_spark.parser import parse_bytes, parse_string
from tempeh_spark.udf import PARSED_SCHEMA, make_parse_udf, parse_html

# Every Spark Python worker that runs a tempeh function imports this package
# before that function's first task, so the per-task archive re-read fix
# reaches every worker (see zipcache.py).
zipcache.install()

__all__ = [
    "HTMLParser",
    "HTMLParseHandle",
    "ParserOptions",
    "parse_bytes",
    "parse_string",
    "parse_html",
    "make_parse_udf",
    "PARSED_SCHEMA",
]

__version__ = "0.1.0"
