"""Differential fuzzing: my parser vs the EXECUTED reference parser.

Hypothesis generates adversarial HTML-ish inputs biased toward the grammar's
trigger characters (angle brackets, quotes, backslashes, comment/doctype
prefixes, rawtext tags, unicode); every input is parsed by both engines and
the trees must match exactly. Skipped when node/the reference checkout is
unavailable (the committed goldens still pin 155 cases then).

Kernel rewrites are also checked old-vs-new here, over the same alphabet
and without the reference: ``dump_nodes`` (one C ``json.dumps`` per tree)
against the iterative encoder it replaced on the hot path."""

from __future__ import annotations

import json
import os
import sys

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests.reference_client import ReferenceParser

needs_reference = pytest.mark.skipif(
    not ReferenceParser.available(), reason="node/reference not available"
)

# FUZZ_EXAMPLES=5000 python -m pytest tests/test_fuzz_reference.py  (deep sweep)
N_STRING = int(os.environ.get("FUZZ_EXAMPLES", "150"))
N_BYTES = max(N_STRING // 2, 50)

ALPHABET = (
    "<>/!-=\"'\\` \t\n\r\x0b\x0c"
    "abcdiv09AZ_"
    ".:;&#"
    "é👋 ﻿"
    # lone surrogates: JS strings hold them freely; the reference's
    # parseString USV-converts them to U+FFFD via TextEncoder
    # (lexer.js:142-144) and parser.usv_encode must match exactly
    "\ud800\udc00\udfff"
)

FRAGMENTS = [
    "<div>", "</div>", "<Div ", "<script>", "</script>", "<style>", "</style>",
    "<textarea>", "<title>", "<!--", "-->", "<!DOCTYPE ", "<!doctype ",
    "<br/>", "<br />", "<img src=", "a='", 'b="', "\\\"", "\\'", "`", "=x ",
    "<h0>", "<_x>", "</ ", "< p>", "<café>", "</p attr=1>", "&amp;", "\r\n",
]

html_strategy = st.one_of(
    st.text(alphabet=ALPHABET, max_size=120),
    st.lists(
        st.one_of(st.sampled_from(FRAGMENTS), st.text(alphabet=ALPHABET, max_size=12)),
        max_size=24,
    ).map("".join),
)

OPTIONS = st.sampled_from(
    [
        {"tagNameCasing": "lower", "ignoreSelfClosingSyntax": False},
        {"tagNameCasing": "upper", "ignoreSelfClosingSyntax": False},
        {"tagNameCasing": "preserve", "ignoreSelfClosingSyntax": False},
        {"tagNameCasing": "lower", "ignoreSelfClosingSyntax": True},
    ]
)


@pytest.fixture(scope="module")
def ref():
    r = ReferenceParser()
    yield r
    r.close()


def _mine_string(html: str, options: dict):
    from tempeh_spark.options import ParserOptions
    from tempeh_spark.parser import parse_string

    return parse_string(
        html,
        ParserOptions(
            tag_name_casing=options["tagNameCasing"],
            ignore_self_closing_syntax=options["ignoreSelfClosingSyntax"],
        ),
    )


def _mine_bytes(data: bytes, options: dict):
    from tempeh_spark.options import ParserOptions
    from tempeh_spark.parser import parse_bytes

    return parse_bytes(
        data,
        ParserOptions(
            tag_name_casing=options["tagNameCasing"],
            ignore_self_closing_syntax=options["ignoreSelfClosingSyntax"],
        ),
    )


def _compare(mine, golden, payload):
    if golden is None:
        # reference crashed internally (known bug paths); any error row is fine
        return
    if "error" in golden:
        assert mine.error is not None, f"expected error for {payload!r}"
        g_head = golden["error"].rsplit(" at ", 1)[0]
        # strip the temp-file path the file branch embeds
        m_head = mine.error.rsplit(" at ", 1)[0]
        assert g_head == m_head, f"{payload!r}: {golden['error']!r} vs {mine.error!r}"
    else:
        assert mine.error is None, f"{payload!r}: unexpected error {mine.error!r}"
        assert mine.nodes == golden["nodes"], f"mismatch for {payload!r}"


@needs_reference
@settings(
    max_examples=N_STRING,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(html=html_strategy, options=OPTIONS)
def test_fuzz_string_parity(ref, html, options):
    golden = ref.parse_string(html, options)
    _compare(_mine_string(html, options), golden, html)


@needs_reference
@settings(
    max_examples=N_BYTES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.binary(max_size=100))
def test_fuzz_bytes_parity(ref, data):
    options = {"tagNameCasing": "lower", "ignoreSelfClosingSyntax": False}
    golden = ref.parse_bytes(data, options)
    _compare(_mine_bytes(data, options), golden, data)


# -- old vs new: dump_nodes -------------------------------------------------

LIMIT = sys.getrecursionlimit()
fuzz_text = st.text(alphabet=ALPHABET, max_size=12)
pos = st.integers(min_value=1, max_value=10**6)


def _leaf(key: str):
    return st.builds(lambda v, l, c: {key: v, "l": l, "c": c}, fuzz_text, pos, pos)


attribute = st.builds(lambda n, v, l, c: {"name": n, "value": v, "l": l, "c": c},
                      fuzz_text, fuzz_text, pos, pos)


def _element(children):
    """An element in the parser's key order; ``children`` in the middle,
    with keys after it, or absent (a void or self-closed tag)."""
    return st.builds(
        lambda tag, attrs, kids, l, c: {
            "tagName": tag,
            **({"attributes": attrs} if attrs else {}),
            **({"children": kids} if kids is not None else {}),
            "l": l,
            "c": c,
        },
        fuzz_text, st.lists(attribute, max_size=3), st.none() | children, pos, pos,
    )


node_lists = st.recursive(
    st.lists(_leaf("textContent") | _leaf("comment") | _leaf("doctypeDeclaration"), max_size=3),
    lambda kids: st.lists(_element(kids), min_size=1, max_size=3),
    max_leaves=20,
)


def _nest(nodes: list, depth: int) -> list:
    """``nodes`` under a chain of ``depth`` elements, built without recursion."""
    for i in range(depth):
        nodes = [{"tagName": "div", "children": nodes, "l": 1, "c": i + 1}]
    return nodes


@settings(max_examples=120, deadline=None)
@given(
    nodes=node_lists,
    depth=st.one_of(st.integers(0, 40), st.integers(LIMIT - 40, 3 * LIMIT)),
)
@example(nodes=[{"textContent": "\ud800x\udfff", "l": 1, "c": 1}], depth=100_000)
def test_dump_nodes_equals_iterative_encoder(nodes, depth):
    from tempeh_spark.parser import dump_nodes, dump_nodes_iterative

    tree = _nest(nodes, depth)
    got = dump_nodes(tree)
    assert got == dump_nodes_iterative(tree)
    if depth < LIMIT // 2:  # the C encoder's own output, below any fallback
        assert got == json.dumps(tree, ensure_ascii=False, separators=(",", ":"))
