"""Pure-stdlib 8-bit RLE-compressed BMP codec (the Windows
BITMAPINFOHEADER / BI_RLE8 format, as documented in the public Windows
GDI file-format specification): palette-indexed images with
run-length entropy coding — the fourth real compression family in the
repo beside LZW (GIF), DCT+Huffman (JPEG), and Rice (FLAC).

Same posture as the sibling codecs: the ENCODER emits a deliberately
narrow subset (bottom-up rows, run-mode packets only, explicit
end-of-line and end-of-bitmap escapes) that is bit-exact lossless; the
DECODER is wider — it also consumes absolute-mode packets (with their
word-alignment padding), tolerates a missing end-of-bitmap escape at
exact end-of-data, and returns ``None`` on ANY malformed input (bad
magic, header sizes, truncated packets, delta escapes outside the
subset, pixel overflow) so corruption fuzzing is a contract, not an
accident.

The Spark side is the payload adapter in ``ext/multimodal.py``:
:func:`synthesize_bmp` and :func:`bmp_features` hand it this module's
per-item recipes, and pytest fuzzes the codec functions directly.

Reference parity note: the reference repo (pandas/requests ETL) has no
media path; this extends SURVEY.md §2's multimodal axis.
"""

from __future__ import annotations

import struct

from ..ops.scale import spread
from .multimodal import lcg_stream, map_payloads, synthesize_payloads

BMP_PALETTE_N = 16

_FILEHDR = struct.Struct("<2sIHHI")
_INFOHDR = struct.Struct("<IiiHHIIiiII")


def _rle8_encode_row(row: bytes) -> bytes:
    """Run-mode-only RLE8 for one row, terminated by EOL (0,0)."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        v = row[i]
        run = 1
        while i + run < n and row[i + run] == v and run < 255:
            run += 1
        out += bytes((run, v))
        i += run
    out += b"\x00\x00"  # end of line
    return bytes(out)


def encode_bmp_rle8(width: int, height: int, idx: bytes, palette) -> bytes:
    """Pack palette indices (raster order, top-down input) into a real
    BI_RLE8 BMP (bottom-up row storage, per the spec)."""
    if len(idx) != width * height:
        raise ValueError("index buffer does not match dimensions")
    if any(v >= len(palette) for v in idx):
        raise ValueError("index out of palette range")
    body = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up
        body += _rle8_encode_row(idx[r * width : (r + 1) * width])
    # replace the LAST end-of-line with end-of-bitmap
    body[-1:] = b"\x01"
    pal_bytes = b"".join(
        bytes((b, g, rr, 0)) for (rr, g, b) in palette
    )
    data_off = 14 + 40 + len(pal_bytes)
    info = _INFOHDR.pack(
        40, width, height, 1, 8, 1, len(body), 2835, 2835, len(palette), 0
    )
    filehdr = _FILEHDR.pack(b"BM", data_off + len(body), 0, 0, data_off)
    return filehdr + info + pal_bytes + bytes(body)


def decode_bmp_rle8(data: bytes):
    """Parse a BI_RLE8 BMP; returns dict(width, height, palette,
    indices top-down raster order) or ``None`` on malformed input."""
    if data is None or len(data) < 14 + 40:
        return None
    try:
        magic, _fsize, _r1, _r2, data_off = _FILEHDR.unpack_from(data, 0)
    except struct.error:
        return None
    if magic != b"BM":
        return None
    try:
        (
            hsize, width, height, planes, bpp, comp, _isize,
            _xppm, _yppm, ncolors, _important,
        ) = _INFOHDR.unpack_from(data, 14)
    except struct.error:
        return None
    if hsize != 40 or planes != 1 or bpp != 8 or comp != 1:
        return None
    if width <= 0 or height <= 0 or width * height > 1 << 24:
        return None
    if ncolors == 0:
        ncolors = 256
    pal_off = 14 + 40
    if pal_off + 4 * ncolors > len(data) or data_off > len(data):
        return None
    palette = [
        (data[pal_off + 4 * i + 2], data[pal_off + 4 * i + 1],
         data[pal_off + 4 * i])
        for i in range(ncolors)
    ]
    out = bytearray(width * height)
    x, y = 0, 0  # y counts bottom-up rows, per the spec
    i = data_off
    n = len(data)
    done = False
    while i < n and not done:
        if i + 2 > n:
            return None
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # run mode
            if y >= height or x + c > width:
                return None
            row = height - 1 - y
            out[row * width + x : row * width + x + c] = bytes([v]) * c
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            done = True
        elif v == 2:  # delta — outside the decoded subset
            return None
        else:  # absolute mode: v literal pixels, word-aligned
            if y >= height or x + v > width or i + v > n:
                return None
            row = height - 1 - y
            for k in range(v):
                px = data[i + k]
                if px >= ncolors:
                    return None
                out[row * width + x + k] = px
            x += v
            i += v + (v & 1)  # pad to word boundary
    if not done and i != n:
        return None
    for px in out:
        if px >= ncolors:
            return None
    return {
        "width": width,
        "height": height,
        "palette": palette,
        "indices": bytes(out),
    }


# ------------------------------------------------------ Spark recipes

BMP_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_px long, n_colors int, "
    "idx_sum long, idx_min int, idx_max int"
)

_GRAYS = [(17 * i, 17 * i, 17 * i) for i in range(BMP_PALETTE_N)]


def _bmp_payload(mid: int, ln: int) -> bytes:
    w, h = mid % 6 + 2, (mid // 6) % 4 + 2
    seed_base = mid + ln if mid % 9 == 0 else mid
    idx = bytes(lcg_stream(seed_base, w * h, BMP_PALETTE_N))
    return encode_bmp_rle8(w, h, idx, _GRAYS)


def synthesize_bmp(df, id_col: str = "doc_id", len_col: str = "n_chars"):
    """Deterministic BMP synthesizer (the synthesize_media pattern):
    each (id, length) row becomes a REAL RLE8-compressed BMP whose
    palette indices come from the shared LCG:

      width = id % 6 + 2, height = (id // 6) % 4 + 2   (n_px <= 35)
      index k (raster order, k = 1..n_px):
        v_k = ((A^k * s0 + S_k) >> 33) % 16
      and ids == 0 (mod 9) mix in length (s0 seeded from id + length)."""
    return synthesize_payloads(
        df.select(id_col, len_col).transform(spread, id_col), _bmp_payload
    )


def _bmp_features(mid: int, payload: bytes) -> list[tuple] | None:
    d = decode_bmp_rle8(payload)
    if d is None:
        return None
    idx = d["indices"]
    return [(mid, d["width"], d["height"], len(idx), len(d["palette"]),
             sum(idx), min(idx), max(idx))]


def bmp_features(media_df):
    """Decode each BMP through the full RLE8 decoder and emit exact
    integer statistics of the DECODED palette indices; undecodable
    payloads yield a null-feature row."""
    return map_payloads(media_df, _bmp_features, BMP_FEATURES_SCHEMA)
