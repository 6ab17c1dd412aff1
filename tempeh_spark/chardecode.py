"""Byte-stream → code-unit decoding, faithful to the reference lexer.

The reference reads documents as a stream of *code units* (not code points in
the UTF-16 case) with several non-standard behaviors that are part of the
byte-exactness contract (all verified against executed goldens):

* a zero code unit reads as EOF and silently truncates the document
  (reference lexer.js:173 ``readBufferedCharBytes(readOffset) || null``);
* UTF-8 is decoded with raw bit math and **no validation of continuation
  bytes** — overlong encodings, surrogates and out-of-range sequences decode
  to whatever the math yields (lexer.js:239-384);
* an invalid UTF-8 *lead* byte (0x80-0xBF, 0xF8-0xFF) is a hard parse error:
  ``Invalid UTF-8 leading byte: <n>`` (lexer.js:372-384);
* a truncated multi-byte sequence at end of input is a clean EOF
  (lexer.js:247-257 et al.);
* UTF-16 inputs are processed one 16-bit unit at a time — surrogate halves
  flow through the state machine individually and only re-combine when token
  value strings are built (lexer.js:385-389 + JS String semantics);
* BOM sniffing happens only on the file path and only when the input is at
  least 4 bytes (lexer.js:446-499).

Decoding targets a Python ``str`` whose characters map 1:1 onto the
reference's code units (UTF-16 surrogate halves become lone-surrogate
chars), so the tokenizer can run entirely on C-speed ``str``/regex
machinery. The common case (valid UTF-8, no NUL) is a single CPython C
decode, bit-identical to the reference's math for all inputs the strict
decoder accepts; anything else falls back to an exact byte-walker.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

ENC_UTF8 = "utf-8"
ENC_UTF8_BOM = "utf-8-bom"
ENC_UTF16_LE = "utf-16-le"
ENC_UTF16_BE = "utf-16-be"
ENC_UTF32_LE = "utf-32-le"
ENC_UTF32_BE = "utf-32-be"


@dataclass
class DecodeResult:
    text: str  # one char per reference code unit (lone surrogates possible)
    has_surrogates: bool
    error: str | None  # "Invalid UTF-8 leading byte: N" | other hard errors
    encoding: str
    # positions of units > 0x10FFFF (unrepresentable in a Python str); the
    # char at each position is the OVERSIZED_PLACEHOLDER, whose character
    # classes match any >0x10FFFF unit's exactly. The reference only fails on
    # such a unit when it reaches a token value (String.fromCodePoint throws
    # RangeError at token build, lexer.js:590 et al.) — a unit consumed in a
    # skipped region (closing-tag junk) parses fine.
    oversized: dict[int, int] | None = None


# U+10FFFE: not a tag-name char (> 0xEFFFF), not whitespace/quote/slash —
# class-identical to every oversized unit under the reference's predicates.
OVERSIZED_PLACEHOLDER = "\U0010fffe"


def _sniff(data: bytes) -> tuple[str, int]:
    """BOM sniff per reference lexer.js:446-499. Returns (encoding, offset).

    Only called for >=4-byte inputs; check order matters (FE FF before FF FE,
    UTF-32 LE only when bytes 2-3 are zero).
    """
    b0, b1, b2, b3 = data[0], data[1], data[2], data[3]
    if b0 == 0xEF and b1 == 0xBB and b2 == 0xBF:
        return ENC_UTF8_BOM, 3
    if b0 == 0xFE and b1 == 0xFF:
        return ENC_UTF16_BE, 2
    if b0 == 0xFF and b1 == 0xFE:
        if b2 == 0 and b3 == 0:
            return ENC_UTF32_LE, 4
        return ENC_UTF16_LE, 2
    if b0 == 0 and b1 == 0 and b2 == 0xFE and b3 == 0xFF:
        return ENC_UTF32_BE, 4
    return ENC_UTF8, 0


def _utf8_walk(data: bytes) -> tuple[list[int], str | None]:
    """Exact per-byte emulation of the reference UTF-8 math (rare path).

    ``data`` has already been truncated at the first NUL, so continuation
    reads hitting a zero byte are equivalent to hitting end-of-input (both
    are EOF in the reference).
    """
    out: list[int] = []
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b < 0x80:
            out.append(b)
            i += 1
        elif 0xC0 <= b <= 0xDF:
            if i + 1 >= n:
                break  # EOF mid-sequence
            out.append(((b & 0x1F) << 6) | (data[i + 1] & 0x3F))
            i += 2
        elif 0xE0 <= b <= 0xEF:
            if i + 2 >= n:
                break
            out.append(((b & 0x0F) << 12) | ((data[i + 1] & 0x3F) << 6) | (data[i + 2] & 0x3F))
            i += 3
        elif 0xF0 <= b <= 0xF7:
            if i + 3 >= n:
                break
            out.append(
                ((b & 0x07) << 18)
                | ((data[i + 1] & 0x3F) << 12)
                | ((data[i + 2] & 0x3F) << 6)
                | (data[i + 3] & 0x3F)
            )
            i += 4
        else:
            return out, f"Invalid UTF-8 leading byte: {b}"
    return out, None


def _decode_utf8(data: bytes) -> DecodeResult:
    # NUL truncates (reference lexer.js:173); valid both as lead byte and as
    # any continuation byte, because the reference's byte reader returns EOF
    # for a zero byte wherever it appears.
    nul = data.find(b"\x00")
    if nul >= 0:
        data = data[:nul]
    try:
        return DecodeResult(data.decode("utf-8", errors="strict"), False, None, ENC_UTF8)
    except UnicodeDecodeError:
        units, err = _utf8_walk(data)
        # units may contain anything the raw math yields: surrogates (from
        # CESU-8-style input), overlong-decoded values, up to 0x1FFFFF.
        oversized = {i: u for i, u in enumerate(units) if u > 0x10FFFF} or None
        text = "".join(
            OVERSIZED_PLACEHOLDER if u > 0x10FFFF else chr(u) for u in units
        )
        return DecodeResult(
            text,
            any(0xD800 <= u <= 0xDFFF for u in units),
            err,
            ENC_UTF8,
            oversized,
        )


def decode_html_bytes(data: bytes, sniff_bom: bool = True) -> DecodeResult:
    """Decode raw document bytes to the per-unit string the tokenizer runs on."""
    encoding = ENC_UTF8
    offset = 0
    if sniff_bom and len(data) >= 4:
        encoding, offset = _sniff(data)

    if encoding in (ENC_UTF8, ENC_UTF8_BOM):
        r = _decode_utf8(data[offset:] if offset else data)
        return DecodeResult(r.text, r.has_surrogates, r.error, encoding, r.oversized)

    body = data[offset:]
    unit_size = 2 if encoding in (ENC_UTF16_LE, ENC_UTF16_BE) else 4
    tail = len(body) % unit_size
    dangling: int | None = None
    if tail:
        # The reference indexes its 256-byte read buffer with getUint16/32,
        # so a partial trailing unit reads past the payload into whatever
        # the buffer holds at those positions: zeros for files < 256 bytes
        # (fresh ArrayBuffer), otherwise the PREVIOUS 256-byte chunk's bytes
        # at the same buffer offsets (lexer.js:100, 147, 162-173 — the
        # buffer is reused across reads). Deterministic, and pinned by
        # executed goldens/differential fuzz; emulated exactly here.
        L = len(data)
        n_last = L % 256  # bytes in the final (partial) chunk
        k_last = L // 256  # index of that chunk; >0 means a prior full chunk
        raw = bytearray(data[L - tail :])
        for j in range(tail, unit_size):
            pos_in_buf = n_last - tail + j
            if k_last >= 1:
                raw.append(data[(k_last - 1) * 256 + pos_in_buf])
            else:
                raw.append(0)
        little = encoding in (ENC_UTF16_LE, ENC_UTF32_LE)
        dangling = int.from_bytes(raw, "little" if little else "big")
        body = body[: len(body) - tail]
    if unit_size == 2:
        dt = "<u2" if encoding == ENC_UTF16_LE else ">u2"
        units = np.frombuffer(body, dtype=dt)
    else:
        dt = "<u4" if encoding == ENC_UTF32_LE else ">u4"
        units = np.frombuffer(body, dtype=dt)
    if dangling is not None:
        units = np.concatenate([units.astype(np.uint32), [np.uint32(dangling) & 0xFFFFFFFF]])

    # Zero code unit == EOF truncation, same as the UTF-8 NUL rule.
    zeros = np.flatnonzero(units == 0)
    if zeros.size:
        units = units[: zeros[0]]

    oversized = None
    ul = units.tolist()
    if units.dtype.itemsize == 4 and units.size:
        # UTF-32 payloads can carry arbitrary uint32 values; JS
        # String.fromCodePoint throws above 0x10FFFF when the unit reaches a
        # token value (deferred via placeholder, see DecodeResult).
        bad = np.flatnonzero(units > 0x10FFFF)
        if bad.size:
            oversized = {int(i): int(units[i]) for i in bad}
    text = "".join(
        OVERSIZED_PLACEHOLDER if (oversized and i in oversized) else chr(u)
        for i, u in enumerate(ul)
    )
    has_surr = bool(
        ((np.asarray(units) >= 0xD800) & (np.asarray(units) <= 0xDFFF)).any()
    ) if len(ul) else False
    return DecodeResult(text, has_surr, None, encoding, oversized)


def combine_surrogates(s: str) -> str:
    """JS-string semantics for token values: adjacent high+low surrogate
    chars merge into one astral code point; lone surrogates survive."""
    return s.encode("utf-16-le", errors="surrogatepass").decode(
        "utf-16-le", errors="surrogatepass"
    )

