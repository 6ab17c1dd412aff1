"""Kernel-layer trace of the parse, run in-process without Spark.

Times the public layer calls in pipeline order over one sample batch:
``chardecode.decode_html_bytes`` -> ``tokenizer.tokenize`` ->
``tree.build_tree`` -> ``extract.extract_all`` -> ``parser.dump_nodes``,
then the fused ``udf.parse_batch`` over the same batch and the
pandas -> Arrow conversion of its result. The composed layer outputs must
equal ``parser.parse_bytes`` document by document, so the trace measures
the program that runs in the Spark job, not a re-implementation.

``udf.overhead_share`` is the share of ``parse_batch`` time spent outside
the layer calls: row assembly, sanitising and the DataFrame build. It is
timed directly, by running the real ``parse_batch`` with its parse call
answered from finished results, not as the difference of two timings
(the layers' share is too large for such a difference to rise above the
noise). Layer, ``parse_batch`` and outside passes alternate, and every
time is the median over the passes.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa

import tempeh_spark.udf
from tempeh_spark.chardecode import decode_html_bytes
from tempeh_spark.extract import extract_all
from tempeh_spark.options import DEFAULT_OPTIONS
from tempeh_spark.parser import ParseResult, dump_nodes, parse_bytes
from tempeh_spark.tokenizer import InvalidCodePointError, tokenize
from tempeh_spark.tree import build_tree
from tempeh_spark.udf import PARSED_SCHEMA, parse_batch

LAYERS = ("chardecode", "tokenizer", "tree", "extract")
PASSES = 5


def _arrow_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(PARSED_SCHEMA)


@dataclass
class _Parsed(ParseResult):
    """A finished parse whose nodes JSON is already dumped."""

    dumped: str | None = None

    def nodes_json(self) -> str | None:
        return self.dumped


def _outside_pass(series: pd.Series, done: dict, with_nodes_json: bool, with_spans: bool) -> None:
    """``parse_batch`` over ``series`` with every parse answered from ``done``:
    only the code outside the layer calls runs."""
    real = tempeh_spark.udf.parse_bytes
    tempeh_spark.udf.parse_bytes = lambda data, options: done[data]
    try:
        parse_batch(series, DEFAULT_OPTIONS, with_nodes_json, with_spans)
    finally:
        tempeh_spark.udf.parse_bytes = real


def _layer_pass(batch: list[bytes | None], with_nodes_json: bool) -> tuple[dict, dict, list]:
    """Every document of ``batch`` through the layer calls, each timed.

    Returns (seconds per layer, counts and errors, one output tuple
    ``(error, text, main_text, nodes_json, spans)`` per non-null document)."""
    opts = DEFAULT_OPTIONS
    secs = dict.fromkeys((*LAYERS, "parser.dump_nodes"), 0.0)
    counts = {f"{k}.errors": 0 for k in LAYERS}  # extract: none possible
    counts.update({"tokenizer.tokens": 0, "tree.nodes": 0, "extract.spans": 0,
                   "parser.nodes_json_bytes": 0})
    outputs = []
    clock = time.perf_counter
    for data in batch:
        if data is None:
            continue
        t0 = clock()
        dec = decode_html_bytes(data, sniff_bom=opts.sniff_bom)
        t1 = clock()
        secs["chardecode"] += t1 - t0
        counts["chardecode.errors"] += dec.error is not None
        try:
            toks = tokenize(
                dec.text,
                ignore_self_closing=opts.ignore_self_closing_syntax,
                has_surrogates=dec.has_surrogates,
                oversized=dec.oversized,
                terminal_error=dec.error,
            )
        except InvalidCodePointError as e:
            secs["tokenizer"] += clock() - t1
            counts["tokenizer.errors"] += 1
            outputs.append((str(e), "", "", None, []))
            continue
        t2 = clock()
        secs["tokenizer"] += t2 - t1
        built = build_tree(toks, tag_name_casing=opts.tag_name_casing)
        t3 = clock()
        secs["tree"] += t3 - t2
        counts["tokenizer.tokens"] += built.n_tokens
        if built.error is not None:
            counts["tree.errors"] += dec.error is None  # else chardecode's error
            outputs.append((built.error, "", "", None, []))
            continue
        ex = extract_all(built.nodes)
        t4 = clock()
        secs["extract"] += t4 - t3
        dumped = None
        if with_nodes_json:
            dumped = dump_nodes(built.nodes)
            secs["parser.dump_nodes"] += clock() - t4
            counts["parser.nodes_json_bytes"] += len(dumped.encode("utf-8"))
        counts["tree.nodes"] += ex.n_nodes
        counts["extract.spans"] += len(ex.spans)
        outputs.append((None, ex.text, ex.main_text, dumped, ex.spans))
    return secs, counts, outputs


def trace_batch(batch: list[bytes | None], with_nodes_json: bool, with_spans: bool) -> dict:
    """Per-layer seconds per MB, counts and errors over ``batch``.

    Raises ``AssertionError`` when the composed layers disagree with
    ``parse_bytes``; the caller counts that as a failed check."""
    opts = DEFAULT_OPTIONS
    mb = sum(len(b) for b in batch if b is not None) / 1e6
    series = pd.Series(batch, dtype=object)
    schema = _arrow_schema()

    _, counts, outputs = _layer_pass(batch, with_nodes_json)  # also warms the layers
    done = {}
    for data, got in zip((b for b in batch if b is not None), outputs):
        ref = parse_bytes(data, opts)
        want = (
            ref.error,
            ref.extraction.text,
            ref.extraction.main_text,
            ref.nodes_json() if with_nodes_json and ref.error is None else None,
            ref.extraction.spans,
        )
        if got != want:
            raise AssertionError("composed kernel layers differ from parse_bytes")
        done[data] = _Parsed(**vars(ref), dumped=want[3])
    parse_batch(series, opts, with_nodes_json, with_spans)  # warm
    _outside_pass(series, done, with_nodes_json, with_spans)

    clock = time.perf_counter
    layer_runs, batch_runs, arrow_runs, outside_runs = [], [], [], []
    for _ in range(PASSES):
        layer_runs.append(_layer_pass(batch, with_nodes_json)[0])
        t0 = clock()
        frame = parse_batch(series, opts, with_nodes_json, with_spans)
        t1 = clock()
        pa.Table.from_pandas(frame, schema=schema, preserve_index=False)
        t2 = clock()
        _outside_pass(series, done, with_nodes_json, with_spans)
        outside_runs.append(clock() - t2)
        batch_runs.append(t1 - t0)
        arrow_runs.append(t2 - t1)

    def med(key: str) -> float:
        return statistics.median(run[key] for run in layer_runs)

    batch_s = statistics.median(batch_runs)
    out = {f"{k}.s_per_mb": med(k) / mb for k in LAYERS}
    out.update(counts)
    out.update(
        {
            "parser.dump_nodes.s_per_mb": med("parser.dump_nodes") / mb,
            "udf.parse_batch.s_per_mb": batch_s / mb,
            "udf.overhead_share": statistics.median(outside_runs) / batch_s,
            "udf.to_arrow.s_per_mb": statistics.median(arrow_runs) / mb,
        }
    )
    return out
