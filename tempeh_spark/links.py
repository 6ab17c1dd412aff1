"""Outlink + anchor-text extraction: the webgraph edge of the pipeline.

A crawl corpus is also a graph corpus: per-document ``(href, anchor text)``
pairs feed link-graph construction (PageRank-style quality priors, seed
discovery) and anchor-text training data. The reference's node tree already
carries every ``a`` element with its attributes (SURVEY.md §2 A18/A21);
this operator is the doc-order tree walk over that DOM.

``extract_links`` is ``mapInPandas`` over the html binary column — the same
Arrow-batched kernel shape as parse_html (udf.py): one Python stage, no
shuffle, per-document error channel. Each output row is one href-bearing
anchor in document order: ``(doc_id, link_idx, href, anchor, l, c)``;
anchor text is the concatenated textContent of the element's subtree
(iterative walk — the 100k-deep-nesting invariant applies here too).
Anchors without an href (link targets) are skipped; a bare ``href``
boolean attribute yields an empty-string href.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tempeh_spark.options import DEFAULT_OPTIONS, ParserOptions
from tempeh_spark.parser import parse_bytes

LINK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("link_idx", IntegerType()),
        StructField("href", StringType()),
        StructField("anchor", StringType()),
        StructField("l", IntegerType()),
        StructField("c", IntegerType()),
        StructField("error", StringType()),
    ]
)


def _subtree_text(node: dict) -> str:
    """Concatenated textContent of a node's subtree, document order,
    iterative (no recursion — nesting depth is attacker-controlled)."""
    out: list[str] = []
    stack = [node]
    while stack:
        nd = stack.pop()
        t = nd.get("textContent")
        if t is not None:
            out.append(t)
        kids = nd.get("children")
        if kids:
            stack.extend(reversed(kids))
    return "".join(out)


def walk_links(nodes: list) -> list[tuple]:
    """All href-bearing ``a`` elements of a node tree in document order:
    ``(link_idx, href, anchor, l, c)``."""
    out: list[tuple] = []
    stack = list(reversed(nodes))
    while stack:
        nd = stack.pop()
        if nd.get("tagName") in ("a", "A"):
            href = None
            for attr in nd.get("attributes") or []:
                if attr["name"].lower() == "href":
                    href = attr.get("value") or ""
                    break
            if href is not None:
                out.append(
                    (len(out), href, _subtree_text(nd), nd.get("l"), nd.get("c"))
                )
        kids = nd.get("children")
        if kids:
            stack.extend(reversed(kids))
    return out


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    options: ParserOptions = DEFAULT_OPTIONS,
) -> DataFrame:
    """Explode each document into its outlinks (see module docstring)."""

    from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow
    from tempeh_spark.udf import _sanitize

    # one scan partition would run the whole DOM walk on one core
    # (measured: 6.0 s -> sub-second at sf1.0's 50k docs on local[32])
    df = spread_if_narrow(df, id_col, ROW_MULTIPLYING)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, data in zip(pdf[id_col], pdf[html_col]):
                did = int(did)
                if data is None:
                    rows.append((did, None, None, None, None, None, "null html"))
                    continue
                res = parse_bytes(bytes(data), options)
                if res.error is not None:
                    rows.append(
                        (did, None, None, None, None, None, _sanitize(res.error))
                    )
                    continue
                # hrefs/anchors from malformed UTF-16 can carry lone
                # surrogates (chardecode contract) — sanitize before Arrow
                # or the whole batch dies in the str->utf8 conversion
                for idx, href, anchor, l, c in walk_links(res.nodes or []):
                    rows.append(
                        (did, idx, _sanitize(href), _sanitize(anchor), l, c, None)
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "link_idx", "href", "anchor", "l", "c", "error"],
            )

    return df.select(F.col(id_col), F.col(html_col)).mapInPandas(gen, LINK_SCHEMA)
