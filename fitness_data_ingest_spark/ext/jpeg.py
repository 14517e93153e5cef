"""Baseline JPEG (ITU-T T.81 sequential DCT) codec in numpy/stdlib —
closes the "compressed image container" half of the round-4 gap the
same way ``ext/flac.py`` closes the audio half: no libjpeg/PIL in the
sandbox, so the format is implemented from the public spec, like the
pure-stdlib PNG codec in ``ext/multimodal.py``.

Encoder subset: 8-bit baseline sequential, grayscale (1 component) or
YCbCr 4:4:4 (3 components, no subsampling), one quantization table,
the spec's example huffman tables (Annex K) written as DHT segments,
0xFF byte stuffing, DC differential + AC run-length/EOB/ZRL entropy
coding. Decoder reads DQT/DHT/SOF0/SOS from the stream (it does not
assume the encoder's tables), handles multiple tables, skips unknown
markers (APPn/COM), and decodes 1- or 3-component 4:4:4 scans;
subsampled (4:2:0) and progressive streams are out of subset and
return None.

JPEG is lossy in general, but with a flat 8x8 block and an all-ones
quantization table the DCT concentrates everything into the DC
coefficient (an exact integer, 8*(v-128)) and every AC quantizes to 0,
so decode(encode(x)) is BIT-EXACT for block-constant images — float
noise in the basis products is ~1e-13, far below the final
round-to-integer. That is what makes a full DuckDB hash oracle
possible for the registry key: the oracle replays the per-block LCG
relationally and predicts every decoded pixel. Lossy-mode quality
(standard tables, noisy images) is PSNR-asserted in pytest instead.

Spark surface follows ``ext/multimodal.py``: Arrow-batched
``mapInPandas``, zero shuffle, payloads never transit the driver.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame

# ----------------------------------------------------------- constants

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# ITU T.81 Annex K example tables (public spec text). Only the encoder
# pins these; the decoder always reads tables from the stream's DHT.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K luminance quantization table (for lossy mode); the oracle
# key uses FLAT_QTABLE (all ones) for exactness instead.
STD_QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
FLAT_QTABLE = [1] * 64


def _dct_matrix():
    import numpy as np

    x = np.arange(8)
    u = x.reshape(-1, 1)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] = 0.5 / np.sqrt(2.0)
    return m


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical huffman codes: symbol -> (code, length)."""
    codes = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# ------------------------------------------------------------ bit IO


class _JBitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, val: int, n: int) -> None:
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits per spec
        return bytes(self.buf)


class _JBitReader:
    """MSB-first reader over entropy-coded data; un-stuffs 0xFF00 and
    stops at any other marker."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise EOFError("jpeg: out of entropy data")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise EOFError("jpeg: truncated stuffing")
                m = self.data[self.pos]
                if m == 0x00:
                    self.pos += 1
                else:
                    raise EOFError("jpeg: marker inside scan")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


# ------------------------------------------------------------- encoder


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC coefficient;
    negative values use the spec's one's-complement convention."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    n_components: int = 1,
    qtable: list[int] | None = None,
) -> bytes:
    """Encode 8-bit pixels (grayscale, or RGB24 encoded as YCbCr 4:4:4)
    as a baseline sequential JPEG. Width/height must be multiples of 8
    (the fixture synthesizers guarantee it; general edge replication is
    out of subset)."""
    import numpy as np

    if width % 8 or height % 8:
        raise ValueError("jpeg: dimensions must be multiples of 8")
    if len(pixels) != width * height * n_components:
        raise ValueError("jpeg: pixel buffer size mismatch")
    q = qtable or STD_QTABLE
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, n_components
    )
    if n_components == 3:  # BT.601 full-range RGB -> YCbCr
        r = arr[:, :, 0].astype(np.float64)
        g = arr[:, :, 1].astype(np.float64)
        b = arr[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [
            np.clip(np.rint(p), 0, 255).astype(np.uint8) for p in (y, cb, cr)
        ]
    elif n_components == 1:
        planes = [arr[:, :, 0]]
    else:
        raise ValueError("jpeg: 1 or 3 components")

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xDB, bytes([0]) + bytes(q[ZIGZAG[i]] for i in range(64)))
    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    for ci in range(len(planes)):
        sof += bytes([ci + 1, 0x11, 0])  # 1x1 sampling, qtable 0
    out += _seg(0xC0, sof)
    out += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    dc_codes = _build_codes(_DC_BITS, _DC_VALS)
    ac_codes = _build_codes(_AC_BITS, _AC_VALS)
    w = _JBitWriter()
    # 4:4:4 interleaved MCU = one 8x8 block per component
    nby, nbx = height // 8, width // 8
    blocks_per_plane = [
        [
            p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            for by in range(nby)
            for bx in range(nbx)
        ]
        for p in planes
    ]
    # interleave per MCU, tracking a DC predictor per component
    qm = np.array(q, dtype=np.float64).reshape(8, 8)
    M = _dct_matrix()
    prev_dc = [0] * len(planes)
    for bi in range(nby * nbx):
        for ci in range(len(planes)):
            blk = blocks_per_plane[ci][bi]
            f = M @ (blk.astype(np.float64) - 128.0) @ M.T
            coef = np.rint(f / qm).astype(np.int64)
            zz = coef.reshape(64)[ZIGZAG]
            size, bits = _magnitude(int(zz[0]) - prev_dc[ci])
            prev_dc[ci] = int(zz[0])
            c, length = dc_codes[size]
            w.write(c, length)
            if size:
                w.write(bits, size)
            run = 0
            last_nz = 0
            for i in range(63, 0, -1):
                if zz[i]:
                    last_nz = i
                    break
            for i in range(1, last_nz + 1):
                v = int(zz[i])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, length = ac_codes[0xF0]
                    w.write(c, length)
                    run -= 16
                size, bits = _magnitude(v)
                c, length = ac_codes[(run << 4) | size]
                w.write(c, length)
                w.write(bits, size)
                run = 0
            if last_nz < 63:
                c, length = ac_codes[0x00]
                w.write(c, length)
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------------------- decoder


def _read_huff_symbol(r: _JBitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | r.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(b: bytes) -> dict | None:
    """Decode a baseline sequential JPEG (1 or 3 components, 4:4:4).
    Returns ``{width, height, n_components, pixels}`` (grayscale bytes
    or RGB24) or None on any parse error / out-of-subset stream —
    poison payloads must not kill the stage."""
    import numpy as np

    try:
        if b[:2] != b"\xff\xd8":
            return None
        pos = 2
        qtables: dict[int, list[int]] = {}
        htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
        comps = None
        width = height = 0
        scan = None
        while pos < len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                break
            if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
                continue  # standalone markers
            (seglen,) = struct.unpack(">H", b[pos : pos + 2])
            seg = b[pos + 2 : pos + seglen]
            if marker == 0xDB:  # DQT (possibly several tables)
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 0xF
                    i += 1
                    if pq == 0:
                        tab = list(seg[i : i + 64])
                        i += 64
                    else:  # 16-bit table
                        tab = [
                            (seg[i + 2 * j] << 8) | seg[i + 2 * j + 1]
                            for j in range(64)
                        ]
                        i += 128
                    nat = [0] * 64
                    for j in range(64):
                        nat[ZIGZAG[j]] = tab[j]
                    qtables[tq] = nat
            elif marker == 0xC4:  # DHT (possibly several tables)
                i = 0
                while i < len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 0xF
                    bits = list(seg[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(seg[i + 17 : i + 17 + n])
                    i += 17 + n
                    codes = _build_codes(bits, vals)
                    htables[(tc, th)] = {
                        (length, code): sym
                        for sym, (code, length) in codes.items()
                    }
            elif marker == 0xC0:  # SOF0 baseline
                prec, height, width, nc = struct.unpack(">BHHB", seg[:6])
                if prec != 8:
                    return None
                comps = []
                for ci in range(nc):
                    cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                    if hv != 0x11:
                        return None  # subsampling out of subset
                    comps.append((cid, tq))
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                            0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline frame types
            elif marker == 0xDA:  # SOS
                ns = seg[0]
                scan = []
                for si in range(ns):
                    cs, tables = seg[1 + 2 * si], seg[2 + 2 * si]
                    scan.append((cs, tables >> 4, tables & 0xF))
                pos += seglen
                break
            pos += seglen
        if comps is None or scan is None or not width or not height:
            return None
        if width % 8 or height % 8:
            return None  # fixture subset: whole blocks only
        nby, nbx = height // 8, width // 8
        M = _dct_matrix()
        r = _JBitReader(b, pos)
        planes = [
            np.zeros((height, width), dtype=np.float64) for _ in comps
        ]
        prev_dc = [0] * len(comps)
        comp_q = []
        comp_h = []
        for (cid, tq) in comps:
            match = [s for s in scan if s[0] == cid]
            if not match or tq not in qtables:
                return None
            _, td, ta = match[0]
            if (0, td) not in htables or (1, ta) not in htables:
                return None
            comp_q.append(np.array(qtables[tq], dtype=np.float64).reshape(8, 8))
            comp_h.append((htables[(0, td)], htables[(1, ta)]))
        for by in range(nby):
            for bx in range(nbx):
                for ci in range(len(comps)):
                    dc_t, ac_t = comp_h[ci]
                    zz = [0] * 64
                    size = _read_huff_symbol(r, dc_t)
                    diff = _extend(r.read(size), size) if size else 0
                    prev_dc[ci] += diff
                    zz[0] = prev_dc[ci]
                    k = 1
                    while k < 64:
                        sym = _read_huff_symbol(r, ac_t)
                        if sym == 0x00:  # EOB
                            break
                        run, size = sym >> 4, sym & 0xF
                        if size == 0:
                            if run != 15:
                                return None
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            return None
                        zz[k] = _extend(r.read(size), size)
                        k += 1
                    coef = np.zeros(64, dtype=np.float64)
                    coef[ZIGZAG] = zz
                    f = coef.reshape(8, 8) * comp_q[ci]
                    blk = M.T @ f @ M + 128.0
                    planes[ci][
                        by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                    ] = blk
        out_planes = [
            np.clip(np.rint(p), 0, 255).astype(np.uint8) for p in planes
        ]
        if len(out_planes) == 1:
            px = out_planes[0].tobytes()
        elif len(out_planes) == 3:  # YCbCr -> RGB (BT.601 full range)
            y = planes[0]
            cb = planes[1] - 128.0
            cr = planes[2] - 128.0
            rgb = np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb,
                ],
                axis=-1,
            )
            px = np.clip(np.rint(rgb), 0, 255).astype(np.uint8).tobytes()
        else:
            return None
        return {
            "width": width,
            "height": height,
            "n_components": len(out_planes),
            "pixels": px,
        }
    except (EOFError, ValueError, IndexError, struct.error):
        return None


# ------------------------------------------------------- Spark surface


def synthesize_jpeg(
    docs: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """Deterministic JPEG synthesizer (the ``synthesize_media``
    pattern): each (id, length) row becomes a REAL baseline JPEG whose
    8x8 blocks are each a constant LCG-derived gray value, encoded with
    the all-ones quantization table — the configuration under which
    baseline JPEG is bit-exact (see module docstring), so a relational
    oracle can predict every decoded pixel:

      blocks_wide = id % 4 + 1, blocks_high = (id // 4) % 3 + 1
      width = 8*blocks_wide, height = 8*blocks_high
      block k (raster order, k = 1..bw*bh):
        v_k = ((A^k * s0 + S_k) >> 33) % 256   (the shared LCG)
      and ids ≡ 0 (mod 8) mix in length: s0 seeded from (id + length)
      so payload bytes depend on both columns.
    """
    import pandas as pd

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, payloads = [], []
            for mid, n in zip(pdf[id_col], pdf[len_col]):
                mid, n = int(mid), int(n)
                bw, bh = mid % 4 + 1, (mid // 4) % 3 + 1
                seed_base = mid + n if mid % 8 == 0 else mid
                seed = (
                    seed_base * 6364136223846793005 + 1442695040888963407
                ) % (2**63)
                img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
                for by in range(bh):
                    for bx in range(bw):
                        seed = (seed * 6364136223846793005 + 1) % (2**63)
                        img[
                            by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                        ] = (seed >> 33) % 256
                ids.append(mid)
                payloads.append(
                    encode_jpeg(
                        bw * 8, bh * 8, img.tobytes(), 1, FLAT_QTABLE
                    )
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # Same CPU-fan-out rationale as synthesize_flac: the exchange moves
    # only (id, len) control rows; explicit count defeats AQE's
    # (correct-for-IO, wrong-for-CPU) coalesce of the tiny shuffle.
    from ..ops.scale import spread

    return (
        docs.select(id_col, len_col)
        .transform(spread, id_col)
        .mapInPandas(_synth, schema="media_id long, payload binary")
    )


JPEG_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_px long, px_sum long, "
    "px_min int, px_max int, dc_blocks int"
)


def jpeg_features(media_df: DataFrame) -> DataFrame:
    """Decode each JPEG through the full baseline decoder and emit
    exact integer pixel statistics of the DECODED image. Arrow-batched
    ``mapInPandas``, zero shuffle; undecodable payloads yield a
    null-feature row. ``dc_blocks`` counts 8x8 blocks that decoded to a
    single constant value — for the flat-block fixtures it must equal
    the total block count (the oracle asserts it relationally)."""
    import pandas as pd

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_jpeg(bytes(payload) if payload is not None else b"")
                if d is None or d["n_components"] != 1:
                    rows.append((mid, None, None, None, None, None, None, None))
                    continue
                a = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(
                    d["height"], d["width"]
                )
                nby, nbx = d["height"] // 8, d["width"] // 8
                dc_blocks = 0
                for by in range(nby):
                    for bx in range(nbx):
                        blk = a[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                        if int(blk.min()) == int(blk.max()):
                            dc_blocks += 1
                rows.append(
                    (mid, d["width"], d["height"], int(a.size),
                     int(a.sum(dtype=np.int64)), int(a.min()),
                     int(a.max()), dc_blocks)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "n_px", "px_sum",
                         "px_min", "px_max", "dc_blocks"],
            )

    return media_df.mapInPandas(_features, schema=JPEG_FEATURES_SCHEMA)
