"""PDF text extraction — the layout-parse leg of the extraction pipeline
(north rule: "HTML boilerplate strip, PDF/layout parse, DOM heuristics").

A minimal but REAL pure-stdlib (zlib) PDF parser — no codec stubs — for the
text-bearing subset that dominates crawled PDFs:

* object scanning without the xref table (linear ``N 0 obj .. endobj`` walk
  — robust to the broken xrefs common in web PDFs);
* content streams, plain or ``/FlateDecode`` (zlib);
* ``BT``/``ET`` text blocks with the text-showing operators ``Tj``, ``'``,
  ``"`` and ``TJ`` (array form; kerning numbers ignored);
* literal strings with backslash escapes (``\\n \\r \\t \\b \\f \\( \\) \\\\``,
  octal ``\\ddd``, line-continuation) and balanced nested parens;
* hex strings ``<..>``;
* line structure from ``T*`` / ``'`` / ``"`` and ``Td``/``TD`` with a
  non-zero vertical move -> newline.

Everything rides Arrow batches (``mapInPandas``): the parse is per-document
Python over binary payloads — exactly the fused-kernel shape of the HTML
path (udf.py), with per-row error channels instead of job aborts.

``build_simple_pdf`` emits a well-formed single-page PDF (correct xref and
stream lengths, FlateDecode content) whose extraction round-trips the input
text byte-identically — the driver gate builds PDFs from ``documents.text``
and asserts ``md5(extract(build(text))) == md5(text)`` against DuckDB.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# writer (deterministic synthetic PDFs for gates/tests — no external data)
# --------------------------------------------------------------------------


def _pdf_escape(line: bytes) -> bytes:
    return line.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def build_simple_pdf(text: str) -> bytes:
    """One-page PDF with the text in a FlateDecode content stream; lines are
    emitted as successive ``T*``-advanced ``Tj`` shows, so extraction
    reconstructs the exact '\\n'-joined input."""
    lines = text.split("\n")
    ops = [b"BT", b"/F1 12 Tf", b"14 TL", b"72 720 Td"]
    for i, ln in enumerate(lines):
        if i > 0:
            ops.append(b"T*")
        ops.append(b"(" + _pdf_escape(ln.encode("utf-8")) + b") Tj")
    ops.append(b"ET")
    content = zlib.compress(b"\n".join(ops))

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


# --------------------------------------------------------------------------
# reader
# --------------------------------------------------------------------------

_STREAM_RX = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.DOTALL)
# PDF reals include trailing-dot ('4.') and leading-dot ('.5') forms
_NUM_RX = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")
# direct /Length only — '/Length 6 0 R' is an indirect reference whose value
# lives in another object; matching its object number would truncate the
# stream, so indirect lengths fall back to the endstream-delimited read
_LENGTH_RX = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")

_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\f",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


def _parse_literal(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a literal string starting at the '(' at data[i]; returns
    (bytes, index past the closing paren)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray()
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the backslash is dropped (PDF 32000 7.3.4.2)
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _parse_hex(data: bytes, i: int) -> tuple[bytes, int]:
    j = data.find(b">", i)
    if j < 0:
        j = len(data)
    hx = re.sub(rb"\s", b"", data[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii")), j + 1
    except ValueError:
        return b"", j + 1


def _extract_text_ops(content: bytes) -> str:
    """Single-pass content-stream tokenizer: emit shown strings inside
    BT..ET, newline on line-advance ops. BT/ET are recognized as OPERATOR
    tokens, never by raw byte search — a literal string containing "ET"
    must not terminate the block."""
    parts: list[bytes] = []
    i = 0
    n = len(content)
    in_bt = False
    pending_strings: list[bytes] = []  # string operands since the last operator
    nums: list[bytes] = []  # numeric operands since the last operator
    emitted_in_block = False

    def show(newline_first: bool = False) -> None:
        nonlocal emitted_in_block
        if newline_first and emitted_in_block:
            parts.append(b"\n")
        parts.extend(pending_strings)
        emitted_in_block = True

    while i < n:
        c = content[i]
        if c == 0x28:  # ( literal string
            s, i = _parse_literal(content, i)
            if in_bt:
                pending_strings.append(s)
        elif c == 0x3C:  # hex string or << dict
            if content.startswith(b"<<", i):
                i += 2
            else:
                s, i = _parse_hex(content, i)
                if in_bt:
                    pending_strings.append(s)
        elif c == 0x3E and content.startswith(b">>", i):  # dict close
            i += 2
        elif c in (0x5B, 0x5D, 0x7B, 0x7D):  # [ ] { } — array/proc delims
            i += 1
        elif (0x30 <= c <= 0x39) or c in (0x2B, 0x2D, 0x2E):
            nm = _NUM_RX.match(content, i)
            if nm is None:  # lone '+'/'-'/'.' — not a number, skip
                i += 1
            else:
                nums.append(nm.group())
                i = nm.end()
        elif c in (0x20, 0x0A, 0x0D, 0x09, 0x0C, 0x00):
            i += 1
        elif c == 0x25:  # % comment to EOL
            while i < n and content[i] not in (0x0A, 0x0D):
                i += 1
        elif c == 0x2F:  # /Name
            i += 1
            while i < n and content[i] not in b" \t\r\n\f\x00()<>[]{}/%":
                i += 1
        else:  # operator keyword
            j = i
            while j < n and content[j] not in b" \t\r\n\f\x00()<>[]{}/%":
                j += 1
            op = content[i:j]
            if op == b"BT":
                in_bt = True
                emitted_in_block = False
            elif op == b"ET":
                in_bt = False
            elif in_bt and op in (b"Tj", b"TJ"):
                show()
            elif in_bt and op in (b"'", b'"'):
                show(newline_first=True)
            elif in_bt and op == b"T*":
                if emitted_in_block:
                    parts.append(b"\n")
                else:
                    emitted_in_block = True
            elif in_bt and op in (b"Td", b"TD"):
                ty = nums[-1] if nums else b"0"
                try:
                    moves = float(ty) != 0.0
                except ValueError:
                    moves = False
                if moves and emitted_in_block:
                    parts.append(b"\n")
            # every operator consumes its operands; strings are only ever
            # operands of the show ops handled above
            pending_strings = []
            nums = []
            i = j if j > i else i + 1
    return b"".join(parts).decode("utf-8", errors="replace")


def extract_pdf_text_bytes(pdf: bytes) -> tuple[str, int]:
    """(text, n_streams) from raw PDF bytes. Raises ValueError on non-PDFs."""
    if not pdf.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    texts: list[str] = []
    n_streams = 0
    for mo in _STREAM_RX.finditer(pdf):
        d = mo.group(1)
        start = mo.end()
        # honor /Length when it parses (stream data may legitimately end in
        # EOL bytes — a blanket rstrip corrupts flate data). Validate the
        # length against the FILE end and locate `endstream` AFTER the
        # declared data, never against the first occurrence from `start`:
        # flate bytes can contain the substring "endstream", which would
        # otherwise reject a perfectly valid /Length and truncate the data.
        raw = None
        lm = _LENGTH_RX.search(d)
        if lm:
            length = int(lm.group(1))
            if start + length <= len(pdf):
                tail = pdf.find(b"endstream", start + length)
                if tail >= 0 and pdf[start + length : tail].strip(b"\r\n \t") == b"":
                    raw = pdf[start : start + length]
        if raw is None:
            end = pdf.find(b"endstream", start)
            if end < 0:
                continue
            raw = pdf[start:end]
            # strip the single EOL the spec requires before `endstream`
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith((b"\n", b"\r")):
                raw = raw[:-1]
        if b"/FlateDecode" in d:
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                continue
        if b"BT" not in raw:
            continue
        n_streams += 1
        texts.append(_extract_text_ops(raw))
    return "\n".join(texts), n_streams


PDF_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("n_streams", IntegerType()),
        StructField("error", StringType()),
    ]
)

PDF_BYTES_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("pdf", BinaryType())]
)


def build_pdf_column(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """documents -> (doc_id, pdf binary): the deterministic synthetic PDF
    corpus (Arrow-batched; the writer is pure Python + zlib)."""

    from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow

    # single-footer parquet = one partition = the whole PDF build AND the
    # downstream extract (which inherits this partitioning) on one core
    df = spread_if_narrow(df, id_col, ROW_MULTIPLYING)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf_batch[id_col],
                    "pdf": [build_simple_pdf(t or "") for t in pdf_batch[text_col]],
                }
            )

    return df.select(id_col, text_col).mapInPandas(gen, PDF_BYTES_SCHEMA)


def extract_pdf_text(
    df: DataFrame, pdf_col: str = "pdf", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, text, n_streams, error): per-row error channel, never a job
    abort — same contract as the HTML parse UDF."""

    from tempeh_spark.partitioning import ROW_MULTIPLYING, spread_if_narrow

    df = spread_if_narrow(df, id_col, ROW_MULTIPLYING)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows = []
            for did, data in zip(pdf_batch[id_col], pdf_batch[pdf_col]):
                if data is None:
                    rows.append((did, None, 0, "null pdf"))
                    continue
                try:
                    text, n_streams = extract_pdf_text_bytes(bytes(data))
                    rows.append((did, text, n_streams, None))
                except Exception as e:  # noqa: BLE001 — error channel by design
                    rows.append((did, None, 0, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(rows, columns=["doc_id", "text", "n_streams", "error"])

    return df.select(id_col, pdf_col).mapInPandas(gen, PDF_TEXT_SCHEMA)
