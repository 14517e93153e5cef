"""Pure-stdlib GIF87a/89a codec (CompuServe spec / RFC-less, the W3C
GIF89a specification): palette-indexed images with GIF-variant LZW
entropy coding — variable code width, clear/EOI codes, 12-bit table
cap, LSB-first bit packing, 255-byte sub-block framing.

Same posture as ``ext/flac.py`` / ``ext/jpeg.py``: the ENCODER emits a
deliberately narrow subset (single non-interlaced frame, global color
table, no extensions) that is bit-exact lossless; the DECODER is
wider — it skips 0x21 extension blocks (GCE/comment/application),
accepts a local color table overriding the global one, handles
mid-stream clear codes and the KwKwK self-reference case, and returns
``None`` on ANY malformed input (never throws) so corruption fuzzing
is a contract, not an accident.

The Spark side is the payload adapter in ``ext/multimodal.py``:
:func:`synthesize_gif` and :func:`gif_features` hand it this module's
per-item recipes, and pytest fuzzes the codec functions directly.

Reference parity note: the reference repo (pandas/requests ETL) has no
media path at all; this extends SURVEY.md §2's multimodal axis
(decode/feature plumbing for binary columns) with a third real
compressed container beside FLAC and baseline JPEG.
"""

from __future__ import annotations

from ..ops.scale import spread
from .multimodal import lcg_stream, map_payloads, synthesize_payloads

LZW_MAX_CODE = 4096  # 12-bit GIF LZW table cap


# ----------------------------------------------------------- bit I/O


class _BitWriter:
    """LSB-first bit packer (GIF LZW bit order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


class _BitReader:
    """LSB-first bit reader over the reassembled sub-block payload."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.padded = False

    def read(self, width: int) -> int | None:
        while self.nbits < width:
            if self.pos >= len(self.data):
                # one byte of synthetic zero padding: when the decoder's
                # width grows on the very last table add, the final EOI
                # code legitimately extends into the writer's flush
                # padding (LSB-first, so high zero bits don't change the
                # value).  More than one byte short = real truncation.
                if self.padded:
                    return None
                self.padded = True
                self.nbits += 8
                continue
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        code = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return code


# -------------------------------------------------------- LZW (GIF)


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: emits an initial clear code, grows the code
    width at table-size powers of two, resets via clear when the
    12-bit table fills."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = _BitWriter()

    def fresh() -> tuple[dict, int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = fresh()
    bw.write(clear, width)
    w = b""
    for b in indices:
        c = bytes([b])
        if w + c in table:
            w += c
            continue
        bw.write(table[w], width)
        if next_code < LZW_MAX_CODE:
            table[w + c] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            bw.write(clear, width)
            table, next_code, width = fresh()
        w = c
    if w:
        bw.write(table[w], width)
    bw.write(eoi, width)
    return bw.flush()


def lzw_decode(data: bytes, min_code_size: int) -> bytes | None:
    """Inverse of :func:`lzw_encode`, tolerant of mid-stream clears and
    the KwKwK case; ``None`` on any malformed code sequence."""
    if not 2 <= min_code_size <= 11:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    br = _BitReader(data)
    out = bytearray()

    def fresh() -> tuple[list, int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code_size + 1

    table, width = fresh()
    prev: bytes | None = None
    while True:
        code = br.read(width)
        if code is None:
            return None  # truncated stream (no EOI)
        if code == eoi:
            return bytes(out)
        if code == clear:
            table, width = fresh()
            prev = None
            continue
        if prev is None:
            if code >= len(table) or code >= clear:
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            return None
        out.extend(entry)
        if prev is not None and len(table) < LZW_MAX_CODE:
            table.append(prev + entry[:1])
        # the decoder's table is one entry BEHIND the encoder's at read
        # time (it appends only after seeing the next code), so the
        # width grows one entry early relative to the encoder's rule
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        prev = entry


# ------------------------------------------------------------ encode


def _sub_blocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    return bytes(out)


def encode_gif(
    width: int, height: int, indices: bytes, palette: list[tuple[int, int, int]]
) -> bytes:
    """Single-frame non-interlaced GIF89a with a global color table.
    ``len(palette)`` must be a power of two in [2, 256]; ``indices``
    must hold width*height palette indices."""
    n = len(palette)
    assert n & (n - 1) == 0 and 2 <= n <= 256
    assert len(indices) == width * height
    assert max(indices) < n if indices else True
    bits = max(1, (n - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0x80 | ((bits - 1) << 4) | (bits - 1))  # GCT flag + sizes
    out += b"\x00\x00"  # background, aspect
    for r, g, b in palette:
        out += bytes((r, g, b))
    out.append(0x2C)  # image descriptor
    out += b"\x00\x00\x00\x00"
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0)  # no LCT, no interlace
    min_code = max(2, bits)
    out.append(min_code)
    out += _sub_blocks(lzw_encode(indices, min_code))
    out.append(0x3B)
    return bytes(out)


# ------------------------------------------------------------ decode


def decode_gif(b: bytes) -> dict | None:
    """Parse + LZW-decode the FIRST image of a GIF87a/89a stream.
    Returns {width, height, indices, palette} or ``None`` on any
    corruption (wrong magic, truncation, bad LZW codes, interlace —
    which the subset does not cover — or index out of palette)."""
    try:
        if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        width = int.from_bytes(b[6:8], "little")
        height = int.from_bytes(b[8:10], "little")
        packed = b[10]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            if pos + 3 * n > len(b):
                return None
            gct = [tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
            pos += 3 * n
        while pos < len(b):
            marker = b[pos]
            pos += 1
            if marker == 0x3B:
                return None  # trailer before any image
            if marker == 0x21:  # extension: label + sub-blocks, skip
                if pos >= len(b):
                    return None
                pos += 1
                while True:
                    if pos >= len(b):
                        return None
                    ln = b[pos]
                    pos += 1 + ln
                    if ln == 0:
                        break
                continue
            if marker != 0x2C:
                return None
            if pos + 9 > len(b):
                return None
            iw = int.from_bytes(b[pos + 4 : pos + 6], "little")
            ih = int.from_bytes(b[pos + 6 : pos + 8], "little")
            ipacked = b[pos + 8]
            pos += 9
            if ipacked & 0x40:
                return None  # interlace outside the subset
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                if pos + 3 * n > len(b):
                    return None
                pal = [tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
                pos += 3 * n
            if pal is None or pos >= len(b):
                return None
            min_code = b[pos]
            pos += 1
            payload = bytearray()
            while True:
                if pos >= len(b):
                    return None
                ln = b[pos]
                pos += 1
                if ln == 0:
                    break
                if pos + ln > len(b):
                    return None
                payload += b[pos : pos + ln]
                pos += ln
            indices = lzw_decode(bytes(payload), min_code)
            if indices is None or len(indices) != iw * ih:
                return None
            if indices and max(indices) >= len(pal):
                return None
            return {
                "width": iw,
                "height": ih,
                "indices": indices,
                "palette": pal,
            }
        return None
    except Exception:
        return None


# ------------------------------------------------------ Spark recipes

GIF_PALETTE_N = 8  # 8 gray levels -> 3-bit LZW min code size
GIF_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_px long, n_colors int, "
    "idx_sum long, idx_min int, idx_max int"
)
_GRAYS = [(i * 32, i * 32, i * 32) for i in range(GIF_PALETTE_N)]


def _gif_payload(mid: int, n: int) -> bytes:
    w, h = mid % 5 + 2, (mid // 5) % 4 + 2
    seed_base = mid + n if mid % 8 == 0 else mid
    idx = bytes(lcg_stream(seed_base, w * h, GIF_PALETTE_N))
    return encode_gif(w, h, idx, _GRAYS)


def synthesize_gif(df, id_col: str = "doc_id", len_col: str = "n_chars"):
    """Deterministic GIF synthesizer (the synthesize_media pattern):
    each (id, length) row becomes a REAL LZW-compressed GIF89a whose
    palette indices come from the shared LCG, so a relational oracle
    can predict every decoded index:

      width = id % 5 + 2, height = (id // 5) % 4 + 2   (n_px <= 30)
      index k (raster order, k = 1..n_px):
        v_k = ((A^k * s0 + S_k) >> 33) % 8
      and ids ≡ 0 (mod 8) mix in length (s0 seeded from id + length)."""
    return synthesize_payloads(
        df.select(id_col, len_col).transform(spread, id_col), _gif_payload
    )


def _gif_features(mid: int, payload: bytes) -> list[tuple] | None:
    d = decode_gif(payload)
    if d is None:
        return None
    idx = d["indices"]
    return [(mid, d["width"], d["height"], len(idx), len(d["palette"]),
             sum(idx), min(idx), max(idx))]


def gif_features(media_df):
    """Decode each GIF through the full LZW decoder and emit exact
    integer statistics of the DECODED palette indices; undecodable
    payloads yield a null-feature row (the oracle's row-for-row hash
    match proves none occur on the synthesized corpus)."""
    return map_payloads(media_df, _gif_features, GIF_FEATURES_SCHEMA)
