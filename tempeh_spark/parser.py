"""Per-document parse API: bytes → nodes + extraction outputs.

This is the kernel the Spark UDF (tempeh_spark.udf) calls once per row of an
Arrow batch. It is also the API used directly by the golden tests, mirroring
the reference's two entry points:

* ``parse_bytes(data)``  ≙ ``parser.parseFile(path)``  (BOM sniff applies,
  reference HTMLParser.js:111-118 + lexer.js:440-501)
* ``parse_string(s)``    ≙ ``parser.parseString(s)``  (USV/TextEncoder
  encode — lone surrogates become U+FFFD, never raises; no BOM sniff; see
  ``usv_encode``; reference HTMLParser.js:132-139 + lexer.js:141-145)
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from tempeh_spark.chardecode import decode_html_bytes
from tempeh_spark.extract import Extraction, extract_all
from tempeh_spark.options import DEFAULT_OPTIONS, ParserOptions
from tempeh_spark.tokenizer import InvalidCodePointError, tokenize
from tempeh_spark.tree import BuildResult, build_tree


@dataclass
class ParseResult:
    nodes: list | None
    error: str | None
    extraction: Extraction
    encoding: str
    n_tokens: int

    @property
    def text(self) -> str:
        return self.extraction.text

    @property
    def main_text(self) -> str:
        return self.extraction.main_text

    def nodes_json(self) -> str | None:
        """Canonical JSON of the node tree (fixed key order, compact,
        non-ASCII preserved). Byte-stable for golden comparison."""
        if self.nodes is None:
            return None
        return dump_nodes(self.nodes)


def dump_nodes(nodes: list) -> str:
    """Canonical JSON of a node tree: ``json.dumps(nodes, ensure_ascii=False,
    separators=(",", ":"))``, one C encoder call per tree. A tree nested too
    deep for the encoder's recursion limit (a broken page nested 10^5 deep)
    takes the iterative encoder, which gives the same string at any depth."""
    try:
        return json.dumps(nodes, ensure_ascii=False, separators=(",", ":"))
    except RecursionError:
        return dump_nodes_iterative(nodes)


def dump_nodes_iterative(nodes: list) -> str:
    """``dump_nodes`` with an explicit stack: depth-independent, and about
    seven times slower than the one C call (one ``json.dumps`` per node;
    0.45 vs 0.066 s/MB on crawl-sized pages)."""

    def jd(v) -> str:
        return json.dumps(v, ensure_ascii=False, separators=(",", ":"))

    parts: list[str] = ["["]
    # frame: [child_iterator, tail_string, first_flag]
    stack: list[list] = [[iter(nodes), "]", True]]
    while stack:
        frame = stack[-1]
        it = frame[0]
        advanced = False
        for nd in it:
            if not frame[2]:
                parts.append(",")
            frame[2] = False
            ch = nd.get("children")
            if ch is None:
                parts.append(jd(nd))  # flat node (attrs are depth-2 at most)
                continue
            pre: list[str] = []
            post: list[str] = []
            seen = False
            for k, v in nd.items():
                if k == "children":
                    seen = True
                    continue
                (post if seen else pre).append(f"{jd(k)}:{jd(v)}")
            parts.append("{" + ",".join(pre) + ',"children":[')
            suffix = ("]," + ",".join(post) + "}") if post else "]}"
            stack.append([iter(ch), suffix, True])
            advanced = True
            break
        if not advanced:
            parts.append(frame[1])
            stack.pop()
    return "".join(parts)


def parse_bytes(data: bytes, options: ParserOptions = DEFAULT_OPTIONS) -> ParseResult:
    dec = decode_html_bytes(data, sniff_bom=options.sniff_bom)
    try:
        tokens = tokenize(
            dec.text,
            ignore_self_closing=options.ignore_self_closing_syntax,
            has_surrogates=dec.has_surrogates,
            oversized=dec.oversized,
            terminal_error=dec.error,
        )
    except InvalidCodePointError as e:
        # raw RangeError message, no "Tempeh parsing error" wrapper: the
        # reference aborts the stream with the exception itself, not an
        # ERROR token (lexer.js:513-516 + HTMLParser toArray rejection)
        return ParseResult(None, str(e), extract_all(None), dec.encoding, 0)
    built: BuildResult = build_tree(tokens, tag_name_casing=options.tag_name_casing)
    if built.error is not None:
        return ParseResult(None, built.error, extract_all(None), dec.encoding, built.n_tokens)
    return ParseResult(
        built.nodes, None, extract_all(built.nodes), dec.encoding, built.n_tokens
    )


def usv_encode(s: str) -> bytes:
    """UTF-8 encode with WHATWG ``TextEncoder`` semantics (USVString).

    The reference's parseString feeds the string through ``new
    TextEncoder().encode(...)`` (HTMLParser.js:132 -> lexer.js:142-144),
    which replaces each UNPAIRED surrogate with U+FFFD — it never throws.
    Python's plain ``str.encode("utf-8")`` raises on lone surrogates
    instead, so: fast path the well-formed common case, and on failure
    round-trip through UTF-16 (``surrogatepass`` preserves the code
    units, the ``replace`` decode substitutes exactly the unpaired ones
    with U+FFFD while real pairs fuse into their astral character —
    byte-identical to TextEncoder, reference-verified).
    """
    try:
        return s.encode("utf-8")
    except UnicodeEncodeError:
        usv = s.encode("utf-16le", "surrogatepass").decode("utf-16le", "replace")
        return usv.encode("utf-8")


def string_options(options: ParserOptions) -> ParserOptions:
    """Options variant for already-decoded (string) input: no BOM sniff.

    A leading U+FEFF in a string is CONTENT to the reference (it comes out
    as a text node at 1:1 — reference-verified), because byte-level BOM
    sniffing happens before the decode that a string never goes through.
    """
    return ParserOptions(
        tag_name_casing=options.tag_name_casing,
        ignore_self_closing_syntax=options.ignore_self_closing_syntax,
        sniff_bom=False,
    )


def parse_string(s: str, options: ParserOptions = DEFAULT_OPTIONS) -> ParseResult:
    return parse_bytes(usv_encode(s), string_options(options))
