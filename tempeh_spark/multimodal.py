"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns with a
metadata struct. The Spark-side plumbing here is real and tested — schemas,
``mapInPandas`` batching, partition behavior — while the actual codec work
is stubbed: this container ships no image/audio libraries, so ``decode``
either raises ``NotImplementedError`` (strict mode) or produces a
deterministic fake feature vector derived from the payload bytes (test
mode). Swapping in a real decoder is a one-function change; everything
around it (batch shape, output schema, salting) is already exercised.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("n_bytes", LongType()),
        StructField("magic", StringType()),  # sniffed container signature
        StructField("sha", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("magic", StringType()),
        # double, not float: the fake features are int32/2^31 dyadic
        # rationals — exact in IEEE double on every engine, so the DuckDB
        # value oracle reproduces them bit-identically (a float32 hop would
        # make 4-decimal rounding flaky near boundaries)
        StructField("feature", ArrayType(DoubleType())),
        StructField("n_frames", IntegerType()),
        StructField("error", StringType()),
    ]
)

_MAGICS = [
    (b"\xff\xd8\xff", "jpeg"),
    (b"\x89PNG", "png"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),
    (b"ID3", "mp3"),
]


def sniff_magic(data: bytes) -> str:
    for sig, name in _MAGICS:
        if data.startswith(sig):
            return name
    # ISO-BMFF (mp4/mov/heic): 4-byte box size then 'ftyp' at offset 4 —
    # checking the ASCII fourcc instead of a \x00 size prefix is both more
    # selective (a NUL-leading text is not an mp4) and SQL-twin-expressible
    if data[4:8] == b"ftyp":
        return "mp4"
    return "unknown"


def _fake_feature(data: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in for a decoded feature vector: md5-chained
    floats in [-1, 1). Replace with a real decode+embed when codecs exist."""
    out: list[float] = []
    h = hashlib.md5(data[:4096]).digest()
    while len(out) < dim:
        for i in range(0, 16, 4):
            out.append(int.from_bytes(h[i : i + 4], "big") / 2**31 - 1.0)
            if len(out) >= dim:
                break
        h = hashlib.md5(h).digest()
    return out


# MPEG audio frame header tables (ISO/IEC 11172-3 / 13818-3, public spec).
# bitrate kbps by [version-group][layer][index]; index 0 = free, 15 = bad.
_MP3_BITRATES = {
    # MPEG1: layer 1, 2, 3
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    # MPEG2 / MPEG2.5 share tables: layer 1, then layer 2&3
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {1: (44100, 48000, 32000), 2: (22050, 24000, 16000), 25: (11025, 12000, 8000)}


def _mp3_frame(data: bytes, off: int):
    """Parse one MPEG audio frame header at ``off``; returns
    (frame_len, samples, rate, channels) or None if not a valid frame."""
    if off + 4 > len(data) or data[off] != 0xFF or (data[off + 1] & 0xE0) != 0xE0:
        return None
    b1, b2, b3 = data[off + 1], data[off + 2], data[off + 3]
    ver_bits = (b1 >> 3) & 0x3  # 00=2.5, 01=reserved, 10=MPEG2, 11=MPEG1
    layer_bits = (b1 >> 1) & 0x3  # 01=III, 10=II, 11=I
    if ver_bits == 1 or layer_bits == 0:
        return None
    version = {0: 25, 2: 2, 3: 1}[ver_bits]
    layer = {1: 3, 2: 2, 3: 1}[layer_bits]
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:  # free/bad bitrate, reserved rate
        return None
    vgroup = 1 if version == 1 else 2
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = _MP3_RATES[version][sr_idx]
    padding = (b2 >> 1) & 0x1
    channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2
    if layer == 1:
        frame_len = (12 * bitrate // rate + padding) * 4
        samples = 384
    elif layer == 2:
        frame_len = 144 * bitrate // rate + padding
        samples = 1152
    else:  # layer III
        if version == 1:
            frame_len, samples = 144 * bitrate // rate + padding, 1152
        else:
            frame_len, samples = 72 * bitrate // rate + padding, 576
    return frame_len, samples, rate, channels


def decode_mp3_headers(data: bytes) -> dict:
    """MPEG audio stream decode from frame HEADERS only (no codec): skip an
    ID3v2 tag (10-byte header + syncsafe size), then walk consecutive
    frames — each frame declares its own length via the public
    bitrate/sample-rate tables — until the first non-frame byte. Duration
    is summed frame sample counts over the sample rate, so trailing junk
    after the last valid frame is ignored (declared sizes, never
    len(data))."""
    off = 0
    if data.startswith(b"ID3"):
        if len(data) < 10:
            raise ValueError("mp3: truncated ID3v2 tag")
        sz = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
        off = 10 + sz
        if data[5] & 0x10:
            off += 10  # ID3v2.4 footer flag: 10-byte footer after the tag
                       # body, excluded from the syncsafe size (spec 3.1)
    first = _mp3_frame(data, off)
    if first is None:
        raise ValueError("mp3: no MPEG audio frame sync after ID3 tag")
    _, _, rate, channels = first
    total_samples = 0
    while (fr := _mp3_frame(data, off)) is not None:
        frame_len, samples, _, _ = fr
        if frame_len <= 0:
            break
        total_samples += samples
        off += frame_len
    return {"fmt": "mp3", "width": None, "height": None, "channels": channels,
            "sample_rate_hz": rate, "duration_ms": total_samples * 1000 // rate}


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, box_end) for each ISO-BMFF box in
    [start, end): declared sizes only (size==1 -> 64-bit largesize,
    size==0 -> to end); stops at the first malformed box."""
    import struct

    off = start
    while off + 8 <= end:
        size = struct.unpack_from(">I", data, off)[0]
        name = data[off + 4 : off + 8]
        body = off + 8
        if size == 1:
            if off + 16 > end:
                return
            size = struct.unpack_from(">Q", data, off + 8)[0]
            body = off + 16
        elif size == 0:
            size = end - off
        if size < 8 or off + size > end:
            return
        yield name, body, off + size
        off += size


def decode_mp4_mvhd(data: bytes) -> dict:
    """ISO-BMFF (mp4/mov) decode from declared-size box walks only:

    * ``moov/mvhd`` — timescale + duration (v0 u32s / v1 u64 duration) ->
      ``duration_ms``;
    * ``moov/trak/tkhd`` — the first track with nonzero 16.16 fixed-point
      width/height (the video track) -> ``width``/``height``; audio-only
      files keep them None.

    Trailing junk after a closed box walk is never read."""
    import struct

    moov = next((b for b in _mp4_boxes(data, 0, len(data)) if b[0] == b"moov"), None)
    if moov is None:
        raise ValueError("mp4: no moov box")
    mvhd = next(
        (b for b in _mp4_boxes(data, moov[1], moov[2]) if b[0] == b"mvhd"), None
    )
    if mvhd is None:
        raise ValueError("mp4: no mvhd box in moov")
    body = mvhd[1]
    if body >= len(data):  # 8-byte box ending exactly at EOF has no body
        raise ValueError("mp4: empty mvhd box")
    version = data[body]
    if version == 0:
        if body + 20 > mvhd[2]:
            raise ValueError("mp4: truncated mvhd v0")
        timescale, duration = struct.unpack_from(">II", data, body + 12)
    elif version == 1:
        if body + 32 > mvhd[2]:
            raise ValueError("mp4: truncated mvhd v1")
        timescale = struct.unpack_from(">I", data, body + 20)[0]
        duration = struct.unpack_from(">Q", data, body + 24)[0]
    else:
        raise ValueError(f"mp4: unknown mvhd version {version}")
    if not timescale:
        raise ValueError("mp4: zero mvhd timescale")
    width = height = None
    for name, tb, te in _mp4_boxes(data, moov[1], moov[2]):
        if name != b"trak":
            continue
        tkhd = next((b for b in _mp4_boxes(data, tb, te) if b[0] == b"tkhd"), None)
        if tkhd is None or tkhd[1] >= len(data):
            continue
        # tkhd layout: width/height are 16.16 fixed u32s after the matrix;
        # v0 offsets 76/80 from the version byte, v1 offsets 88/92
        woff = tkhd[1] + (88 if data[tkhd[1]] == 1 else 76)
        if woff + 8 > tkhd[2]:
            continue
        w, h = struct.unpack_from(">II", data, woff)
        if w and h:
            width, height = w >> 16, h >> 16
            break
    return {"fmt": "mp4", "width": width, "height": height, "channels": None,
            "sample_rate_hz": None, "duration_ms": duration * 1000 // timescale}


def decode_media_headers(data: bytes) -> dict:
    """REAL pure-stdlib container decoding for the header-decodable subset:

    * WAV  — RIFF chunk walk: channels / sample rate / bits from ``fmt ``,
      duration from the ``data`` chunk size over the byte rate;
    * PNG  — IHDR width/height (big-endian u32 at offsets 16/20, after
      validating the 8-byte signature and the IHDR chunk tag);
    * GIF  — logical screen width/height (little-endian u16 at 6/8);
    * MP3  — ID3v2 skip + MPEG audio frame-header walk (channels, sample
      rate, duration from summed per-frame sample counts);
    * MP4  — ISO-BMFF box walk to moov/mvhd (duration from
      timescale+duration fields).

    Returns ``{"fmt", "width", "height", "channels", "sample_rate_hz",
    "duration_ms"}`` with None for fields the format lacks. Raises
    ``NotImplementedError`` only at the honest codec boundary — pixel/
    sample PAYLOAD decode (jpeg pixels, mp4 frames, mp3 PCM) — and
    ``ValueError`` for malformed/unsupported bytes. Trailing junk after a
    valid container is ignored (sizes come from the declared fields, never
    from len(data))."""
    import struct

    magic = sniff_magic(data)
    if magic == "gif":
        if len(data) < 10:
            raise ValueError("gif: truncated logical screen descriptor")
        w, h = struct.unpack_from("<HH", data, 6)
        return {"fmt": "gif", "width": w, "height": h, "channels": None,
                "sample_rate_hz": None, "duration_ms": None}
    if magic == "png":
        if data[:8] != b"\x89PNG\r\n\x1a\n" or data[12:16] != b"IHDR" or len(data) < 24:
            raise ValueError("png: bad signature or missing IHDR")
        w, h = struct.unpack_from(">II", data, 16)
        return {"fmt": "png", "width": w, "height": h, "channels": None,
                "sample_rate_hz": None, "duration_ms": None}
    if magic == "riff" and data[8:12] == b"WAVE":
        channels = rate = byte_rate = data_size = None
        off = 12
        while off + 8 <= len(data):
            cid, size = data[off : off + 4], struct.unpack_from("<I", data, off + 4)[0]
            if off + 8 + size > len(data):  # declared size exceeds the
                break  # available bytes: trailing junk, stop the walk
            if cid == b"fmt " and size >= 16:
                _, channels, rate, byte_rate = struct.unpack_from("<HHII", data, off + 8)
            elif cid == b"data":
                data_size = size
            if channels is not None and data_size is not None:
                break
            off += 8 + size + (size & 1)  # chunks are word-aligned
        if channels is None or data_size is None or not byte_rate:
            raise ValueError("wav: missing fmt or data chunk")
        return {"fmt": "wav", "width": None, "height": None, "channels": channels,
                "sample_rate_hz": rate, "duration_ms": data_size * 1000 // byte_rate}
    if magic == "mp3" or (magic == "unknown" and _mp3_frame(data, 0) is not None):
        return decode_mp3_headers(data)
    if magic == "mp4":
        return decode_mp4_mvhd(data)
    if magic == "jpeg":
        raise NotImplementedError(
            "jpeg: payload decode requires codec libraries not present "
            "in this environment; wire PIL/av/librosa here for production"
        )
    raise ValueError(f"unsupported format: {magic}")


def decode_media(data: bytes) -> dict:
    """The decode hook: header-level decode for wav/png/gif/mp3/mp4 (real,
    stdlib); ``NotImplementedError`` only for pixel-payload formats
    (jpeg)."""
    return decode_media_headers(data)


def extract_media_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "media_id",
    dim: int = 16,
    strict: bool = False,
    frame_stride: int = 1 << 16,
) -> DataFrame:
    """``mapInPandas`` feature extraction over a binary media column.

    Batching contract: each Arrow batch yields one output row per input row;
    ``n_frames`` demonstrates frame-sampling bookkeeping (1 pseudo-frame per
    ``frame_stride`` bytes). ``strict=True`` exercises the real-decoder path
    (error rows, never a job abort).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[media_col]):
                if data is None:
                    rows.append((mid, 0, None, None, 0, "null media"))
                    continue
                b = bytes(data)
                magic = sniff_magic(b)
                if strict:
                    try:
                        decode_media(b)
                    except (NotImplementedError, ValueError) as e:
                        rows.append((mid, len(b), magic, None, 0, str(e)))
                        continue
                feat = _fake_feature(b, dim)
                n_frames = max(1, len(b) // frame_stride)
                rows.append((mid, len(b), magic, feat, n_frames, None))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_bytes", "magic", "feature", "n_frames", "error"]
            )

    return df.select(F.col(id_col), F.col(media_col)).mapInPandas(gen, FEATURE_SCHEMA)


def make_wav(sample_rate: int, channels: int, bits: int, data_bytes: int) -> bytes:
    """A minimal VALID WAV container (silence) — fmt + data chunks with
    correct declared sizes, used to build decoder test/gate corpora."""
    import struct

    byte_rate = sample_rate * channels * bits // 8
    block_align = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", data_bytes) + b"\x00" * data_bytes
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_gif(width: int, height: int, version: bytes = b"GIF89a") -> bytes:
    """A GIF header + logical screen descriptor (no image data needed for
    dimension decoding)."""
    import struct

    return version + struct.pack("<HH", width, height) + b"\x00\x00\x00"


def make_mp3(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    mono: bool = False,
    id3_pad: int = 0,
) -> bytes:
    """A minimal VALID MPEG1 Layer III stream: optional ID3v2 tag (syncsafe
    size = ``id3_pad``), then ``n_frames`` correctly-sized frames (header +
    zero payload). Deterministic gate/test corpus builder."""
    br_idx = _MP3_BITRATES[(1, 3)].index(bitrate_kbps)
    sr_idx = _MP3_RATES[1].index(sample_rate)
    mode = 0b11 if mono else 0b00  # 11 = single channel
    hdr = bytes(
        [
            0xFF,
            0xE0 | (0x3 << 3) | (0x1 << 1) | 0x1,  # MPEG1, layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),  # no padding
            mode << 6,
        ]
    )
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    frame = hdr + b"\x00" * (frame_len - 4)
    out = b""
    if id3_pad:
        out = b"ID3\x04\x00\x00" + bytes(
            [(id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F, (id3_pad >> 7) & 0x7F, id3_pad & 0x7F]
        ) + b"\x00" * id3_pad
    return out + frame * n_frames


def make_mp4(
    timescale: int,
    duration: int,
    version: int = 0,
    track_dims: tuple[int, int] | None = None,
) -> bytes:
    """A minimal VALID ISO-BMFF file: ftyp box + moov box whose first child
    is an mvhd (v0 or v1) carrying ``timescale``/``duration``; with
    ``track_dims=(w, h)`` a trak/tkhd child carries the 16.16 fixed-point
    video dimensions."""
    import struct

    ftyp = b"ftypisom" + struct.pack(">I", 0x200) + b"isomiso2"
    ftyp = struct.pack(">I", len(ftyp) + 4) + ftyp
    if version == 0:
        mvhd_body = b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0) + struct.pack(
            ">II", timescale, duration
        ) + b"\x00" * 80
    else:
        mvhd_body = b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0) + struct.pack(
            ">I", timescale
        ) + struct.pack(">Q", duration) + b"\x00" * 80
    mvhd = struct.pack(">I", len(mvhd_body) + 8) + b"mvhd" + mvhd_body
    kids = mvhd
    if track_dims is not None:
        w, h = track_dims
        tkhd_body = b"\x00\x00\x00\x07" + b"\x00" * 72 + struct.pack(
            ">II", w << 16, h << 16
        )
        tkhd = struct.pack(">I", len(tkhd_body) + 8) + b"tkhd" + tkhd_body
        kids += struct.pack(">I", len(tkhd) + 8) + b"trak" + tkhd
    moov = struct.pack(">I", len(kids) + 8) + b"moov" + kids
    return ftyp + moov


def make_png(width: int, height: int) -> bytes:
    """PNG signature + IHDR chunk (valid CRC not required by the decoder,
    which validates signature + tag + reads the fixed-offset dims)."""
    import struct

    ihdr = struct.pack(">II", width, height) + b"\x08\x06\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"
    )


MEDIA_DIMS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate_hz", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("error", StringType()),
    ]
)


def media_dims(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """``mapInPandas`` header decoding over a binary media column: REAL
    decoded fields (wav channels/rate/duration, png+gif dimensions, mp3
    channels/rate/duration from the frame-header walk, mp4 duration +
    video track dims from the mvhd/tkhd box walk) with a per-row error
    channel — the remaining codec-requiring format (jpeg pixels) yields an
    error row, never a job abort."""

    # deliberately NOT spread_if_narrow'd: header decode is a few hundred
    # bytes of struct per row — measured at sf1.0 the repartition shuffle
    # of the media bytes costs more than the single-core decode saves
    # (0.96 s -> 1.17 s)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[media_col]):
                if data is None:
                    rows.append((mid, None, None, None, None, None, None, "null media"))
                    continue
                try:
                    d = decode_media_headers(bytes(data))
                    rows.append(
                        (mid, d["fmt"], d["width"], d["height"], d["channels"],
                         d["sample_rate_hz"], d["duration_ms"], None)
                    )
                except (NotImplementedError, ValueError) as e:
                    rows.append((mid, None, None, None, None, None, None, str(e)))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "fmt", "width", "height", "channels",
                         "sample_rate_hz", "duration_ms", "error"],
            )

    return df.select(F.col(id_col), F.col(media_col)).mapInPandas(gen, MEDIA_DIMS_SCHEMA)


# container/codec signature -> media kind; RIFF is ambiguous and needs the
# format fourcc at byte offset 9 (RIFF<size>WAVE = wav audio, RIFF<size>AVI
# = avi video)
_KIND_BY_MAGIC = {
    "jpeg": "image",
    "png": "image",
    "gif": "image",
    "mp3": "audio",
    "mp4": "video",
}


def sniff_magic_col(data) -> "F.Column":
    """Byte-level magic sniff as a codegen column (twin of sniff_magic)."""
    magic = F.when(data.isNull(), None)
    for sig, name in _MAGICS:
        magic = magic.when(
            F.hex(F.substring(data, 1, len(sig))) == sig.hex().upper(), F.lit(name)
        )
    magic = magic.when(
        F.hex(F.substring(data, 5, 4)) == b"ftyp".hex().upper(), F.lit("mp4")
    )
    return magic.otherwise(F.lit("unknown"))


def media_kind_col(data, magic) -> "F.Column":
    """Derive the media kind from the SNIFFED magic (not a caller constant):
    image/audio/video/unknown, with the RIFF fourcc disambiguation."""
    riff_fmt = F.hex(F.substring(data, 9, 4))
    kind = F.when(
        magic == "riff",
        F.when(riff_fmt == b"WAVE".hex().upper(), F.lit("audio"))
        .when(riff_fmt == b"AVI ".hex().upper(), F.lit("video"))
        .otherwise(F.lit("unknown")),
    )
    for m, k in _KIND_BY_MAGIC.items():
        kind = kind.when(magic == m, F.lit(k))
    return kind.otherwise(F.lit("unknown"))


def media_metadata(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id"
) -> DataFrame:
    """Pure built-in metadata projection (no Python): bytes, sniffed magic,
    kind derived from the magic, sha256."""
    data = F.col(media_col)
    magic = sniff_magic_col(data)
    return df.select(
        F.col(id_col).alias("media_id"),
        media_kind_col(data, magic).alias("kind"),
        F.length(data).cast("long").alias("n_bytes"),
        magic.alias("magic"),
        F.sha2(data, 256).alias("sha"),
    )
