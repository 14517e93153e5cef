"""Multimodal media columns and the Spark adapter of every payload codec.

Images, audio and archives are opaque ``binary`` payloads keyed by a
``media_id``. This module parses and writes RIFF/WAVE (PCM), PPM (P6)
and PNG (zlib inflate + all five scanline filters); the sibling
modules hold one codec each — ``gif`` (LZW), ``bmp`` (RLE8), ``jpeg``
(baseline DCT + Huffman), ``flac`` (Rice) and ``tar`` (ustar archives).
No codec library (PIL, libjpeg, libFLAC, ffmpeg) is used: every
format is implemented from its public spec. MP3 and H.264 are not:
psychoacoustic and motion-compensated decoding are out of scope to
reimplement from spec.

Every codec meets Spark here, at one boundary with three parts:

- :func:`lcg_stream` is the id-seeded generator every synthesizer
  draws its samples, pixels and bytes from; the DuckDB oracles replay
  it relationally, so a hash match proves a codec round-trip exact.
- :func:`synthesize_payloads` turns a control frame of integer
  columns into ``(media_id, payload)`` rows through a per-row
  ``make_payload`` recipe.
- :func:`map_payloads` turns each ``(media_id, payload)`` row into
  output rows through a per-item function; a payload that function
  rejects becomes one row of typed nulls, so a poison payload never
  kills the stage.

Both run as Arrow-batched pandas functions over ``mapInPandas``:
payload bytes never transit the driver, and partition sizing bounds
memory. A codec module keeps its byte codec and states its recipes
as plain functions. The codec synthesizers put ``ops.scale.spread``
in front of the shell: the control rows are tiny while each row's
encode is CPU-bound, and AQE would coalesce a bare repartition of
them into one partition (FLAC synthesis at sf0.1 took 14 s that way
and under a second spread, on 32 cores).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- the Spark adapter -------------------------------------------------

LCG_A = 6364136223846793005
LCG_MIX = 1442695040888963407
_M63 = 2**63


def lcg_stream(seed_base: int, n: int, mod: int) -> Iterator[int]:
    """The shared LCG: ``s = (seed_base*A + MIX) % 2^63``, then ``n``
    steps of ``s = (s*A + 1) % 2^63``, each yielding ``(s >> 33) % mod``.
    Value k (k = 1..n) replays relationally as
    ``((A^k * s0 + S_k) >> 33) % mod`` with ``S_k = A^0 + ... + A^(k-1)``."""
    s = (seed_base * LCG_A + LCG_MIX) % _M63
    for _ in range(n):
        s = (s * LCG_A + 1) % _M63
        yield (s >> 33) % mod


def synthesize_payloads(
    control: DataFrame, make_payload: Callable[..., bytes]
) -> DataFrame:
    """``(media_id long, payload binary)`` from a control frame of
    integer columns, the id first: each row becomes
    ``(id, make_payload(*row))``. The caller selects the columns and
    applies any ``spread``."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for row in zip(*(pdf[c] for c in pdf.columns)):
                row = [int(v) for v in row]
                ids.append(row[0])
                payloads.append(make_payload(*row))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return control.mapInPandas(_synth, schema="media_id long, payload binary")


def map_payloads(
    media_df: DataFrame,
    per_item: Callable[[int, bytes], list[tuple] | None],
    schema: str,
) -> DataFrame:
    """Map every ``(media_id, payload)`` row of ``media_df`` through
    ``per_item(media_id, payload_bytes)``, which returns the item's
    output rows as tuples in ``schema`` order (``media_id`` first), or
    None for a payload it cannot use. None becomes one row with
    ``media_id`` set and every other column null. A null payload
    reaches ``per_item`` as ``b""``. ``schema`` is a DDL string."""
    columns = T.DataType.fromDDL(schema).fieldNames()
    poison = (None,) * (len(columns) - 1)

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out = per_item(mid, bytes(payload) if payload is not None else b"")
                rows.extend([(mid, *poison)] if out is None else out)
            yield pd.DataFrame(rows, columns=columns)

    return media_df.mapInPandas(_features, schema=schema)


def text_as_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Wrap a text table in the media convention (payload = utf-8 bytes).
    Stands in for image/audio ingestion in this container."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.lit("text").alias("kind"),
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


# --- real, dependency-free codecs: RIFF/WAVE (PCM) and PPM (P6) ------


def encode_wav_pcm16(
    samples: list[int], sample_rate: int, n_channels: int = 1
) -> bytes:
    """Minimal canonical RIFF/WAVE writer: PCM, 16-bit little-endian.
    ``samples`` is interleaved if multi-channel (len must divide evenly)."""
    import struct

    if n_channels < 1 or len(samples) % n_channels:
        raise ValueError("samples must interleave n_channels evenly")
    data = struct.pack(f"<{len(samples)}h", *samples)
    block_align = n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_ppm_p6(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal PPM (P6, maxval 255) writer; ``pixels`` is RGB24,
    row-major, exactly width*height*3 bytes."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes of RGB24")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (left, up, up-left) — the spec's exact
    tie-breaking order (left, then up, then up-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(width: int, height: int, pixels: bytes) -> bytes:
    """Pure-stdlib PNG writer: 8-bit RGB (color type 2), one IDAT.
    ``pixels`` is RGB24 row-major (same contract as encode_ppm_p6).

    Scanline filters CYCLE through all five spec types (None, Sub, Up,
    Average, Paeth) by row index — deliberately, so every decoder
    unfilter branch is exercised by round-trip tests and by the
    synthesized fixture payloads, not just filter 0."""
    import struct
    import zlib

    if len(pixels) != width * height * 3:
        raise ValueError("pixels must be width*height*3 bytes of RGB24")
    stride = width * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        ftype = y % 5
        raw.append(ftype)
        if ftype == 0:
            raw += row
        elif ftype == 1:  # Sub
            raw += bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(stride)
            )
        elif ftype == 2:  # Up
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ftype == 3:  # Average
            raw += bytes(
                (row[i] - (((row[i - 3] if i >= 3 else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def parse_png(b: bytes) -> dict | None:
    """Pure-Python PNG header scan → {width, height, bit_depth,
    color_type}; None if not a PNG or IHDR is malformed."""
    import struct

    if len(b) < 33 or b[:8] != PNG_SIG:
        return None
    (length,) = struct.unpack_from(">I", b, 8)
    if b[12:16] != b"IHDR" or length != 13:
        return None
    width, height, depth, ctype = struct.unpack_from(">IIBB", b, 16)
    if width == 0 or height == 0:
        return None
    return {"width": width, "height": height, "bit_depth": depth,
            "color_type": ctype}


def decode_png_pixels(b: bytes) -> bytes | None:
    """Full pure-stdlib PNG pixel decode for 8-bit RGB (color type 2,
    no interlace): concatenates IDAT chunks, zlib-inflates, reverses
    all five scanline filters (None/Sub/Up/Average/Paeth). Returns
    RGB24 row-major bytes — the exact inverse of :func:`encode_png` —
    or None for any other PNG flavor / malformed stream.

    Cited parity: the reference repo has no media path at all; this is
    the training-pipeline extension surface (SURVEY.md §2 multimodal),
    kept pure-Python because this container has no PIL/ffmpeg."""
    import struct
    import zlib

    meta = parse_png(b)
    if meta is None or meta["bit_depth"] != 8 or meta["color_type"] != 2:
        return None
    width, height = meta["width"], meta["height"]
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if ctype == b"IDAT":
            idat += data
        if ctype == b"IEND":
            break
        pos += 12 + length
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = width * 3
    if len(raw) != height * (stride + 1):
        return None
    out = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(3, stride):
                line[i] = (line[i] + line[i - 3]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                ul = prev[i - 3] if i >= 3 else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            return None
        out += line
        prev = line
    return bytes(out)


def parse_wav(b: bytes) -> dict | None:
    """Pure-Python RIFF chunk walk → {sample_rate, n_channels, bits,
    n_samples} (frames, not interleaved values). None if not a PCM WAV."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        if cid == b"fmt " and size >= 16 and pos + 24 <= len(b):
            fmt = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data_size = min(size, len(b) - pos - 8)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_size is None or fmt[0] != 1:  # PCM only
        return None
    _, n_channels, sample_rate, _, block_align, bits = fmt
    if block_align == 0:
        return None
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits": bits,
        "n_samples": data_size // block_align,
    }


def parse_ppm(b: bytes) -> dict | None:
    """Pure-Python PPM (P6) header scan → {width, height, maxval,
    pixel_offset}; handles '#' comments and arbitrary whitespace.
    None if not P6."""
    if len(b) < 2 or b[:2] != b"P6":
        return None
    fields: list[int] = []
    pos = 2
    while len(fields) < 3 and pos < len(b):
        c = b[pos : pos + 1]
        if c == b"#":
            nl = b.find(b"\n", pos)
            pos = len(b) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(b) and b[pos : pos + 1].isdigit():
                pos += 1
            fields.append(int(b[start:pos]))
        else:
            return None
    if len(fields) < 3:
        return None
    width, height, maxval = fields
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "pixel_offset": pos + 1,  # single whitespace after maxval
    }


def _rgb24(b: bytes) -> tuple[bytes, int, int] | None:
    """(RGB24 pixels, width, height) of a PNG (8-bit RGB, full decode)
    or an 8-bit PPM payload with all its pixel bytes; None otherwise."""
    png = parse_png(b)
    if png is not None:
        px = decode_png_pixels(b)
        return None if px is None else (px, png["width"], png["height"])
    ppm = parse_ppm(b)
    if ppm is None or ppm["maxval"] > 255:
        return None
    w, h, off = ppm["width"], ppm["height"], ppm["pixel_offset"]
    if len(b) - off < w * h * 3:
        return None
    return b[off : off + w * h * 3], w, h


def _nearest(px: bytes, w0: int, h0: int, w: int, h: int) -> np.ndarray:
    """Nearest-neighbour resample of ``w0`` x ``h0`` RGB24 pixels to an
    ``h`` x ``w`` x 3 array: output (y, x) reads source row
    ``y*h0 // h``, column ``x*w0 // w``."""
    img = np.frombuffer(px, dtype=np.uint8).reshape(h0, w0, 3)
    return img[(np.arange(h) * h0) // h][:, (np.arange(w) * w0) // w]


def synthesize_media(docs: DataFrame, id_col: str = "doc_id",
                     len_col: str = "n_chars",
                     png_mod4: bool = False) -> DataFrame:
    """Deterministic media synthesizer: each (id, length) row becomes a
    REAL binary payload — even ids a PCM WAV, odd ids a PPM image;
    with ``png_mod4`` ids ≡ 3 (mod 4) become PNGs instead
    (zlib-compressed, filter types cycling through all five). PNG is
    opt-in because its payload LENGTH is compression-dependent: the
    frame-sampling oracle re-derives byte lengths arithmetically and
    can only do so for the fixed-layout WAV/PPM encodings. Format
    parameters derive arithmetically from (id, length):

      WAV : sample_rate = 8000 + (id % 4) * 4000, channels = 1 + (id//2) % 2,
            16-bit, n_sample_frames = length % 256 + 16
      PPM/PNG : width = length % 32 + 1, height = (id//2) % 16 + 1;
            PPM maxval 255, PNG 8-bit RGB

    Sample/pixel bytes come from ``lcg_stream(id, ...)``, so payloads
    are bit-reproducible anywhere. The point: ``decode_media`` sees ONLY
    the bytes, so a relational oracle computing the same parameters from
    (id, length) hash-verifies that the byte-level encode→decode loop
    recovers every field exactly."""

    def make_payload(mid: int, n: int) -> bytes:
        if mid % 2 == 0:
            channels = 1 + (mid // 2) % 2
            count = (n % 256 + 16) * channels
            samples = [v - 32768 for v in lcg_stream(mid, count, 65536)]
            return encode_wav_pcm16(samples, 8000 + (mid % 4) * 4000, channels)
        w, h = n % 32 + 1, (mid // 2) % 16 + 1
        enc = encode_png if png_mod4 and mid % 4 == 3 else encode_ppm_p6
        return enc(w, h, bytes(lcg_stream(mid, w * h * 3, 256)))

    return synthesize_payloads(docs.select(id_col, len_col), make_payload)


DECODED_SCHEMA = (
    "media_id long, kind string, mime string, width int, height int, "
    "sample_rate int, n_channels int, bits int, n_samples long"
)


def _decoded(mid: int, b: bytes) -> list[tuple]:
    wav = parse_wav(b)
    if wav is not None:
        return [(mid, "audio", "audio/wav", None, None, wav["sample_rate"],
                 wav["n_channels"], wav["bits"], wav["n_samples"])]
    png = parse_png(b)
    if png is not None:
        return [(mid, "image", "image/png", png["width"], png["height"],
                 None, None, png["bit_depth"], None)]
    ppm = parse_ppm(b)
    if ppm is not None:
        bits = 16 if ppm["maxval"] > 255 else 8
        return [(mid, "image", "image/x-portable-pixmap", ppm["width"],
                 ppm["height"], None, None, bits, None)]
    return [(mid, "unknown", None, None, None, None, None, None, None)]


def decode_media(media_df: DataFrame) -> DataFrame:
    """REAL decode: sniffs each payload's magic bytes and parses
    RIFF/WAVE (PCM), PNG (IHDR), or PPM (P6) headers byte-for-byte,
    emitting the recovered typed metadata. Unknown formats degrade to
    kind='unknown' with null fields rather than failing the batch. Full
    PNG PIXEL decode (zlib inflate + the five unfilters) lives in
    :func:`decode_png_pixels`, round-trip pixel-exact in
    tests/test_multimodal.py."""
    return map_payloads(media_df, _decoded, DECODED_SCHEMA)


def resize_image(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Format-sniffing image resize: PPM (P6, 8-bit) and PNG (8-bit RGB)
    payloads are decoded with the pure-stdlib parsers, nearest-neighbor
    resampled via numpy fancy indexing, and re-encoded in their
    ORIGINAL format. Anything else yields a null output payload."""

    def resized(mid: int, b: bytes) -> list[tuple] | None:
        img = _rgb24(b)
        if img is None:
            return None
        px = _nearest(*img, width, height).tobytes()
        if b[:8] == PNG_SIG:
            return [(mid, "image/png", encode_png(width, height, px), width, height)]
        return [(mid, "image/x-portable-pixmap",
                 encode_ppm_p6(width, height, px), width, height)]

    return map_payloads(
        media_df,
        resized,
        "media_id long, mime string, payload binary, width int, height int",
    )


def _pixel_stats(mid: int, b: bytes) -> list[tuple] | None:
    img = _rgb24(b)
    if img is None:
        return None
    arr = np.frombuffer(img[0], dtype=np.uint8).reshape(-1, 3)
    n = arr.shape[0]
    sums = arr.astype("i8").sum(axis=0)
    return [(mid, n, *(int(s * 100 // n) / 100.0 if n else None for s in sums))]


def image_pixel_stats(media_df: DataFrame) -> DataFrame:
    """Per-image channel statistics over the REAL decode path: PPM and
    PNG payloads decode to RGB24 (PNG through the full zlib-inflate +
    unfilter pipeline), then exact integer channel sums produce
    per-channel means — the image-side quality screen (dead/black
    frames, constant-color junk) of a multimodal curation pass.
    Non-image payloads emit nulls. Means are floor-rounded from EXACT
    integer sums, so the values are engine-stable."""
    return map_payloads(
        media_df,
        _pixel_stats,
        "media_id long, n_px long, mean_r2 double, mean_g2 double, mean_b2 double",
    )


FEATURE_DIM = 8


def fake_feature_extract(media_df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Deterministic stand-in for embedding extraction: a tiny rolling
    hash of payload bytes per feature slot. Real Spark plumbing, fake
    math."""

    def features(mid: int, b: bytes) -> list[tuple]:
        vec = [0] * dim
        for i, byte in enumerate(b):
            vec[i % dim] = (vec[i % dim] * 31 + byte) % 1_000_003
        return [(mid, len(b), [float(v) for v in vec])]

    return map_payloads(
        media_df, features, "media_id long, n_bytes long, features array<double>"
    )


def media_stats(media_df: DataFrame) -> DataFrame:
    """Pure-JVM metadata pass: payload sizes + checksums (no decode)."""
    return media_df.select(
        "media_id",
        F.col("meta.kind").alias("kind"),
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )


def frame_sample(
    media_df: DataFrame, frame_bytes: int = 64, every_k: int = 4
) -> DataFrame:
    """Frame sampling with real plumbing: treat the payload as a frame
    sequence (fixed ``frame_bytes`` stride — a real decoder would use
    container timestamps), emit every k-th frame as its own row.

    One input row → many output rows, the shape that matters at scale:
    the batch fans out without exploding driver or single-row memory,
    and the output inherits the input partitioning (no shuffle)."""

    def frames(mid: int, b: bytes) -> list[tuple]:
        n_frames = (len(b) + frame_bytes - 1) // frame_bytes
        return [
            (mid, fi, b[fi * frame_bytes : (fi + 1) * frame_bytes])
            for fi in range(0, n_frames, every_k)
        ]

    return map_payloads(
        media_df, frames, "media_id long, frame_idx int, frame binary"
    )


def _wav_pcm16_rms_peak(b: bytes) -> tuple[int, int, int] | None:
    """Exact integer (sum of squared samples, peak |sample|, sample
    count) for a 16-bit PCM WAV payload; None for anything else.

    Walks ALL chunks and decodes the LAST ``data`` chunk, mirroring
    :func:`parse_wav` (which records the last one), and returns its OWN
    decoded sample count ``n`` so the RMS denominator always matches
    the summed samples — ``n_samples * n_channels`` from metadata
    diverges when the data size is not a block_align multiple."""
    import struct

    meta = parse_wav(b)
    if meta is None or meta["bits"] != 16:
        return None
    pos, data_span = 12, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        if cid == b"data":
            data_span = (pos + 8, min(size, len(b) - pos - 8))
        pos += 8 + size + (size & 1)
    if data_span is None:
        return None
    start, size = data_span
    raw = b[start : start + size - (size % 2)]
    n = len(raw) // 2
    if n == 0:
        return (0, 0, 0)
    samples = struct.unpack(f"<{n}h", raw)
    return (sum(s * s for s in samples), max(abs(s) for s in samples), n)


def _audio_row(mid: int, b: bytes) -> list[tuple] | None:
    r = _wav_pcm16_rms_peak(b)
    if r is None:
        return None
    # n is the decoder's OWN sample count over the same data chunk it
    # summed — never re-derived from metadata (block-align frames can
    # disagree)
    ssq, peak, n = r
    rms2 = math.floor(math.sqrt(ssq / max(n, 1)) * 100 + 0.5) / 100.0
    return [(mid, n, rms2, peak)]


def audio_features(media_df: DataFrame) -> DataFrame:
    """REAL audio feature extraction over the decoded-WAV path: exact
    integer sum-of-squares and peak per payload, RMS derived as
    floor(sqrt(ssq/n)·100+0.5)/100 — deterministic because every input
    to the one double expression is an exact integer. Non-WAV /
    non-16-bit payloads emit nulls."""
    return map_payloads(
        media_df, _audio_row, "media_id long, n_values long, rms2 double, peak long"
    )


def _ahash_bands(mid: int, b: bytes) -> list[tuple] | None:
    img = _rgb24(b)
    if img is None:
        return None
    gray = _nearest(*img, 8, 8).astype("i8").sum(axis=2) // 3  # 8x8 ints
    mean = int(gray.sum()) // 64
    bits = (gray > mean).astype("i8").flatten()  # ck = cy*8+cx
    return [
        (mid, *(int(sum(int(bits[16 * i + j]) << j for j in range(16)))
                for i in range(4)))
    ]


def image_ahash_bands(media_df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) per image over the REAL decode
    path, split into four 16-bit bands for LSH-style duplicate
    blocking: decode RGB24 (PPM directly, PNG through zlib-inflate +
    unfilter), nearest-neighbor-downsample to the canonical 8x8 grid,
    grayscale each cell as ``(r+g+b) // 3``, and set bit ``cy*8+cx``
    when the cell is strictly brighter than the integer-floor mean of
    the 64 cells. Bands are bits [0,16), [16,32), [32,48), [48,64) —
    four SMALL integers instead of one 64-bit hash so downstream SQL
    needs no 1<<63 overflow gymnastics and band-equality blocking is a
    plain column equi-join (the pigeonhole guarantee: Hamming distance
    <= 3 implies at least one identical band; wider radii trade recall
    exactly like dedup_simhash's banding).

    Everything is integer arithmetic on bytes, so the hash is
    bit-reproducible across engines — the DuckDB oracle replays the
    pixel LCG relationally and re-derives every band (the
    multimodal_pixel_stats pattern). Non-image payloads emit nulls."""
    return map_payloads(
        media_df, _ahash_bands, "media_id long, b0 long, b1 long, b2 long, b3 long"
    )
