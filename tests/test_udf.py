"""End-to-end Spark coverage: the Arrow UDF must produce byte-identical
outputs to the local kernel / reference goldens, through a real session."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
GOLDENS = json.loads((HERE / "goldens" / "goldens.json").read_text())


def _golden_text(nodes):
    parts, stack = [], list(reversed(nodes))
    while stack:
        nd = stack.pop()
        if "textContent" in nd:
            parts.append(nd["textContent"])
        stack.extend(reversed(nd.get("children", [])))
    return "".join(parts)


@pytest.fixture(scope="module")
def parsed_rows(spark):
    from pyspark.sql import functions as F

    from tempeh_spark import parse_html
    from tempeh_spark.corpus import fixture_pages

    out = parse_html(fixture_pages(spark)).select("url", "parsed.*")
    return {r["url"].rsplit("/", 1)[-1]: r for r in out.collect()}


def test_udf_matches_reference_goldens(parsed_rows):
    n = 0
    for key, case in GOLDENS.items():
        if case["kind"] != "file" or not key.endswith(":lower"):
            continue
        row = parsed_rows[case["fixture"]]
        nodes = case["result"]["nodes"]
        assert row["nodes_json"] == json.dumps(
            nodes, ensure_ascii=False, separators=(",", ":")
        ), case["fixture"]
        assert row["text"] == _golden_text(nodes), case["fixture"]
        assert row["error"] is None
        n += 1
    assert n == 16


def test_udf_error_and_edge_rows(spark):
    from tempeh_spark import parse_html

    probe = spark.createDataFrame(
        [
            ("null", None),
            ("empty", b""),
            ("bad", b"<div>\x80x"),
            ("ok", b"<p>hello</p>"),
        ],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in parse_html(probe).select("url", "parsed.*").collect()}
    assert rows["null"]["error"] == "null html"
    assert rows["empty"]["error"] is None and rows["empty"]["n_nodes"] == 0
    assert rows["bad"]["error"] == "Tempeh parsing error: Invalid UTF-8 leading byte: 128 at 1:5"
    assert rows["ok"]["text"] == "hello"
    assert rows["ok"]["spans"][0]["dom_path"] == "/p[1]"


def test_udf_options_casing(spark):
    from tempeh_spark import ParserOptions, parse_html

    df = spark.createDataFrame([("u", b"<Div>a</div>b</Div>c")], "url string, html binary")
    lower = parse_html(df).select("parsed.text").first()[0]
    preserve = parse_html(df, options=ParserOptions(tag_name_casing="preserve")).select(
        "parsed.text"
    ).first()[0]
    assert lower == "abc"
    # preserve: </div> does not close <Div>, so 'b' stays inside Div
    assert preserve == "abc"  # text order is the same; tree shape differs
    nodes = json.loads(
        parse_html(df, options=ParserOptions(tag_name_casing="preserve"))
        .select("parsed.nodes_json")
        .first()[0]
    )
    assert nodes[0]["tagName"] == "Div"
    assert len(nodes[0]["children"]) == 2  # 'a' and 'b' both inside Div


def test_udf_lean_profile(spark):
    from pyspark.sql import functions as F

    from tempeh_spark.corpus import fixture_pages
    from tempeh_spark.udf import make_parse_udf

    udf = make_parse_udf(with_nodes_json=False, with_spans=False)
    row = (
        fixture_pages(spark)
        .withColumn("p", udf(F.col("html")))
        .select("p.text", "p.nodes_json", "p.spans", "p.n_nodes")
        .first()
    )
    assert row["text"] is not None
    assert row["nodes_json"] is None and row["spans"] is None
    assert row["n_nodes"] > 0


def test_plan_is_arrow_eval(spark):
    """The parse must run as one ArrowEvalPython stage over a pruned scan."""
    from tempeh_spark import parse_html
    from tempeh_spark.corpus import fixture_pages

    plan = (
        parse_html(fixture_pages(spark))
        .select("url", "parsed.text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # never the row-at-a-time path


def test_doc_pos_pathological_pushback_matches_bisect():
    """_Doc.pos uses an advancing cursor (amortized O(1) for the tokenizer's
    near-monotonic queries) with a bisect fallback for far jumps; on a fully
    adversarial query order over many line breaks it must stay value-equal
    to the bisect_left definition (and not degrade to O(n) per call)."""
    from bisect import bisect_left

    from tempeh_spark.tokenizer import _Doc

    s = "ab\n" * 5000  # 5000 line breaks
    doc = _Doc(s, has_surrogates=False)
    n = len(s)
    # worst case: alternate between the two ends, plus some mid jumps
    queries = []
    for k in range(0, 2500, 7):
        queries += [3 * k, n - 1 - 3 * k, n // 2 + k]
    for i in queries:
        got = doc.pos(i)
        nb = bisect_left(doc.breaks, i)
        if s[i] in "\n\x0b\x0c\r":
            want = (nb + 2, 1)
        else:
            want = (nb + 1, i - (doc.breaks[nb - 1] if nb else -1))
        assert got == want, (i, got, want)


def test_udf_string_column(spark):
    """parse_html over a STRING column takes the parseString contract.

    Reference-verified semantics (differential run, 2026-08-17, 6/6
    identical incl. surrogates in tag/attr names): lone surrogates
    USV-convert to U+FFFD (TextEncoder, lexer.js:142-144), a leading
    U+FEFF is CONTENT (no byte-level BOM sniff on a string), astral
    pairs pass through. Previously this path crashed the Python worker
    (bytes(str) TypeError) instead of parsing."""
    from tempeh_spark import parse_html

    probe = spark.createDataFrame(
        [
            ("ok", "<p>hello</p>"),
            ("nul", None),
            ("lone", "<p>a\ud800b</p>"),
            ("bom", "﻿<p>x</p>"),
            ("astral", "<p>a\U00010000b</p>"),
            ("big", "<div>" + "<p>x</p>" * 50000 + "</div>"),
        ],
        "url string, html string",
    )
    rows = {
        r["url"]: r
        for r in parse_html(probe)
        .select("url", "parsed.text", "parsed.error", "parsed.n_nodes")
        .collect()
    }
    assert rows["ok"]["text"] == "hello" and rows["ok"]["error"] is None
    assert rows["nul"]["error"] == "null html"
    assert rows["lone"]["text"] == "a�b"
    assert rows["bom"]["text"] == "﻿x"
    assert rows["astral"]["text"] == "a\U00010000b"
    assert rows["big"]["n_nodes"] == 100001 and rows["big"]["error"] is None


def test_parse_string_usv_semantics():
    """parse_string never raises on lone surrogates (reference parity)."""
    from tempeh_spark.parser import parse_string, usv_encode

    r = parse_string("<p>a\ud800b</p>")
    assert r.error is None and r.extraction.text == "a�b"
    # USV encode is exactly TextEncoder: unpaired -> U+FFFD, pairs fuse
    assert usv_encode("\ud800") == b"\xef\xbf\xbd"
    assert usv_encode("𐀀") == "\U00010000".encode()
    assert usv_encode("\udc00\ud800x") == b"\xef\xbf\xbd\xef\xbf\xbdx"
    # leading U+FEFF in a string is content, not a BOM
    assert parse_string("﻿<p>x</p>").extraction.text == "﻿x"


# -- old vs new: the Arrow batch builder ------------------------------------


def _row_assembly(html, options, with_nodes_json, with_spans):
    """The oracle: the per-row tuple assembly into a pandas DataFrame that
    the batch kernel used before it built Arrow arrays directly."""
    import pandas as pd

    from tempeh_spark.parser import parse_bytes, string_options, usv_encode
    from tempeh_spark.udf import PARSED_SCHEMA, _sanitize

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


# one input per error class the kernel reports, plus the clean edge cases
KERNEL_CASES = [
    None,  # null html
    b"",
    b"<h2>\x80</h2>",  # decode: invalid UTF-8 lead byte
    b"<h2>\xf4\x90\x80\x80</h2>",  # invalid code point (> U+10FFFF)
    b"<div \xff>",  # tree error
    "<p>a\ud800b</p>",  # str input: USV-encoded
    # UTF-16 with lone surrogates after a tag name (an attribute name) and
    # in text: they reach span text and nodes_json and need sanitizing
    b"\xff\xfe" + "<b\udc00>x\ud800</b\udc00><i>y</i>".encode("utf-16-le", "surrogatepass"),
]


def _batches():
    from hypothesis import strategies as st

    from tests.test_fuzz_reference import ALPHABET, html_strategy

    utf16 = st.text(alphabet=ALPHABET, max_size=60).map(
        lambda s: b"\xff\xfe" + s.encode("utf-16-le", "surrogatepass")
    )
    doc = st.one_of(
        st.sampled_from(KERNEL_CASES),
        html_strategy,
        html_strategy.map(lambda s: s.encode("utf-8", "surrogatepass")),
        st.binary(max_size=80),
        utf16,
    )
    return st.lists(doc, max_size=10)


def test_arrow_builder_equals_row_assembly():
    """``parse_arrow`` (and its pandas adapter ``parse_batch``) give exactly
    the old row assembly's values, nulls and types, for every flag pair."""
    import pandas as pd
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tempeh_spark.options import DEFAULT_OPTIONS
    from tempeh_spark.udf import ARROW_SCHEMA, parse_arrow, parse_batch

    def table(df):
        return pa.Table.from_pandas(df, schema=ARROW_SCHEMA, preserve_index=False)

    @settings(max_examples=150, deadline=None)
    @given(html=_batches(), with_nodes_json=st.booleans(), with_spans=st.booleans())
    def check(html, with_nodes_json, with_spans):
        want = table(_row_assembly(html, DEFAULT_OPTIONS, with_nodes_json, with_spans))
        got = parse_arrow(html, DEFAULT_OPTIONS, with_nodes_json, with_spans)
        assert got.type == pa.struct(list(ARROW_SCHEMA))
        assert got.to_pylist() == want.to_pylist()
        adapted = table(parse_batch(pd.Series(html, dtype=object), DEFAULT_OPTIONS,
                                    with_nodes_json, with_spans))
        assert adapted.equals(want)

    check()
    # and the fixed cases in one batch, under each flag pair
    for flags in [(True, True), (True, False), (False, True), (False, False)]:
        want = table(_row_assembly(KERNEL_CASES, DEFAULT_OPTIONS, *flags))
        got = parse_arrow(KERNEL_CASES, DEFAULT_OPTIONS, *flags)
        assert got.to_pylist() == want.to_pylist()
    errors = got.field("error").to_pylist()
    assert errors[0] == "null html" and "Invalid UTF-8" in errors[2]
    assert errors[3].startswith("Invalid code point") and errors[4].startswith("Tempeh")
    assert [errors[i] for i in (1, 5, 6)] == [None] * 3
