"""Pure-stdlib FLAC (RFC 9639) subset codec — closes the "compressed
audio container" gap left documented in round 4 (the sandbox has no
libFLAC/ffmpeg, so the format is implemented from the public spec, the
same way ``ext/multimodal.py`` implements PNG from RFC 2083).

Encoder subset: 16-bit PCM, 1-2 channels (independent), fixed-blocksize
stream, subframe type chosen per channel by exact bit cost among
CONSTANT / FIXED order 0-2 / VERBATIM, rice partition order 0 with the
4-bit escape code, STREAMINFO with the spec's MD5 of the unencoded
audio. Decoder is wider than the encoder (the right asymmetry for an
ingest engine): FIXED orders 0-4, LPC subframes, left/right/mid-side
stereo decorrelation, any rice partition order, wasted bits, and both
rice coding methods — so third-party fixed/LPC streams inside the
subset decode too, not just our own bytes.

Everything is bit-exact lossless: ``decode_flac(encode_flac(x)) == x``
for any 16-bit input, asserted sample-for-sample and via the embedded
MD5 in tests/test_multimodal.py. The Spark surface
(:func:`synthesize_flac` / :func:`flac_features`) follows the
``ext/multimodal.py`` conventions: Arrow-batched ``mapInPandas``, zero
shuffle, payload bytes never transit the driver; the registry key's
DuckDB oracle replays the sample LCG relationally, so a hash match
proves the encode→parse→rice-decode→undo-predictor loop recovers every
sample exactly (reference has no audio path at all — this extends
fitness-data ingest toward the multimodal-corpus north star).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

from pyspark.sql import DataFrame

# --------------------------------------------------------------- bit IO


class _BitWriter:
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
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits terminated by a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # byte position of next unread byte
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise EOFError("flac: out of bits")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.acc = 0
        self.nbits = 0

    def byte_pos(self) -> int:
        assert self.nbits % 8 == 0
        return self.pos - self.nbits // 8


# ----------------------------------------------------------------- CRCs


def _crc8(data: bytes) -> int:
    # poly x^8 + x^2 + x + 1 (0x07), init 0 — FLAC frame-header CRC
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    # poly x^16 + x^15 + x^2 + 1 (0x8005), init 0 — FLAC frame CRC
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


# ------------------------------------------------- UTF-8-style numbers


def _utf8_encode(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index), up to 36
    bits / 7 bytes."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (nbytes * 5 + 1)) and nbytes < 7:
        nbytes += 1
    lead_mask = (0xFF << (8 - nbytes)) & 0xFF
    for _ in range(nbytes - 1):
        out.append(0x80 | (n & 0x3F))
        n >>= 6
    out.append(lead_mask | n)
    return bytes(reversed(out))


def _utf8_decode(r: _BitReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("flac: bad utf8-coded number")
    n = b0 & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("flac: bad utf8 continuation")
        n = (n << 6) | (b & 0x3F)
    return n


# ------------------------------------------------------- rice residuals

_RICE_ESCAPE4 = 0xF  # 4-bit parameter escape (coding method 0)
_RICE_ESCAPE5 = 0x1F  # 5-bit parameter escape (coding method 1)


def _zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else (-(r << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u >> 1) + 1)


def _rice_cost(res: list[int], param: int) -> int:
    return sum((_zigzag(r) >> param) + 1 + param for r in res)


def _best_rice_param(res: list[int]) -> tuple[int, int]:
    """(param, bits) minimizing the exact rice bit cost; capped at 14
    (16-bit input residuals for fixed order <= 2 fit comfortably)."""
    best_p, best_c = 0, _rice_cost(res, 0)
    for p in range(1, 15):
        c = _rice_cost(res, p)
        if c < best_c:
            best_p, best_c = p, c
    return best_p, best_c


def _write_rice_partition0(
    w: _BitWriter, res: list[int], raw_bits: int
) -> None:
    """Residual block, coding method 0, partition order 0: one
    partition holding every residual. Falls back to the spec's escape
    (raw ``raw_bits``-bit signed residuals) when rice loses."""
    w.write(0, 2)  # coding method 0 (4-bit rice parameters)
    w.write(0, 4)  # partition order 0
    param, cost = _best_rice_param(res)
    if cost > len(res) * raw_bits:
        w.write(_RICE_ESCAPE4, 4)
        w.write(raw_bits, 5)
        for r in res:
            w.write(r & ((1 << raw_bits) - 1), raw_bits)
        return
    w.write(param, 4)
    for r in res:
        u = _zigzag(r)
        w.write_unary(u >> param)
        if param:
            w.write(u & ((1 << param) - 1), param)


def _read_residuals(
    r: _BitReader, block_size: int, pred_order: int
) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    plen = 4 if method == 0 else 5
    escape = _RICE_ESCAPE4 if method == 0 else _RICE_ESCAPE5
    porder = r.read(4)
    nparts = 1 << porder
    if block_size % nparts:
        raise ValueError("flac: partition order does not divide block")
    res: list[int] = []
    for part in range(nparts):
        n = (block_size >> porder) - (pred_order if part == 0 else 0)
        if n < 0:
            raise ValueError("flac: negative partition length")
        param = r.read(plen)
        if param == escape:
            raw = r.read(5)
            for _ in range(n):
                v = r.read(raw)
                if raw and v >= 1 << (raw - 1):
                    v -= 1 << raw
                res.append(v if raw else 0)
        else:
            for _ in range(n):
                q = r.read_unary()
                u = (q << param) | (r.read(param) if param else 0)
                res.append(_unzigzag(u))
    return res


# ------------------------------------------------------ fixed predictors

# residual[t] = sum coef[j]*x[t-1-j] subtracted from x[t]; orders 0-4
_FIXED_COEFS = (
    (),
    (1,),
    (2, -1),
    (3, -3, 1),
    (4, -6, 4, -1),
)


def _fixed_residual(x: list[int], order: int) -> list[int]:
    coefs = _FIXED_COEFS[order]
    return [
        x[t] - sum(c * x[t - 1 - j] for j, c in enumerate(coefs))
        for t in range(order, len(x))
    ]


def _fixed_restore(warm: list[int], res: list[int], order: int) -> list[int]:
    x = list(warm)
    coefs = _FIXED_COEFS[order]
    for r in res:
        x.append(r + sum(c * x[-1 - j] for j, c in enumerate(coefs)))
    return x


# -------------------------------------------------------------- encoder


def _encode_subframe(w: _BitWriter, x: list[int], bits: int) -> None:
    n = len(x)
    if n and all(v == x[0] for v in x):
        w.write(0, 1)  # zero padding bit
        w.write(0b000000, 6)  # CONSTANT
        w.write(0, 1)  # no wasted bits
        w.write(x[0] & ((1 << bits) - 1), bits)
        return
    # exact bit cost per candidate: warmup + rice partition-0 body + 6
    best: tuple[int, int, list[int]] | None = None  # (cost, order, res)
    for order in range(0, min(3, n)):
        res = _fixed_residual(x, order)
        _, rc = _best_rice_param(res)
        cost = order * bits + min(rc, len(res) * bits + 5) + 6
        if best is None or cost < best[0]:
            best = (cost, order, res)
    if best is None or best[0] >= n * bits:
        w.write(0, 1)
        w.write(0b000001, 6)  # VERBATIM
        w.write(0, 1)
        for v in x:
            w.write(v & ((1 << bits) - 1), bits)
        return
    _, order, res = best
    w.write(0, 1)
    w.write(0b001000 | order, 6)  # FIXED, 3-bit order
    w.write(0, 1)  # no wasted bits
    for v in x[:order]:  # warmup samples
        w.write(v & ((1 << bits) - 1), bits)
    _write_rice_partition0(w, res, bits)


def encode_flac(
    samples: list[int],
    sample_rate: int,
    n_channels: int = 1,
    block_size: int = 4096,
) -> bytes:
    """Encode interleaved 16-bit samples as a FLAC stream (independent
    channels, fixed block size, one STREAMINFO metadata block)."""
    if n_channels < 1 or n_channels > 2 or len(samples) % n_channels:
        raise ValueError("1-2 channels, samples must interleave evenly")
    bits = 16
    n_frames_total = len(samples) // n_channels
    md5 = hashlib.md5(
        struct.pack(f"<{len(samples)}h", *samples)
    ).digest()

    frames = bytearray()
    min_fs = max_fs = 0
    frame_idx = 0
    for start in range(0, n_frames_total, block_size):
        bs = min(block_size, n_frames_total - start)
        w = _BitWriter()
        w.write(0b11111111111110, 14)  # sync
        w.write(0, 1)  # reserved
        w.write(0, 1)  # fixed-blocksize stream
        w.write(0b0111, 4)  # block size: 16-bit at header end
        w.write(0b0000, 4)  # sample rate: from STREAMINFO
        w.write(n_channels - 1, 4)  # 0=mono, 1=stereo independent
        w.write(0b100, 3)  # 16-bit sample size
        w.write(0, 1)  # reserved
        for b in _utf8_encode(frame_idx):
            w.write(b, 8)
        w.write(bs - 1, 16)
        w.write(_crc8(bytes(w.buf)), 8)
        for ch in range(n_channels):
            chan = [
                samples[(start + t) * n_channels + ch] for t in range(bs)
            ]
            _encode_subframe(w, chan, bits)
        w.align()
        w.write(_crc16(bytes(w.buf)), 16)
        fb = w.bytes()
        frames += fb
        min_fs = len(fb) if min_fs == 0 else min(min_fs, len(fb))
        max_fs = max(max_fs, len(fb))
        frame_idx += 1

    si = _BitWriter()
    si.write(1, 1)  # last metadata block
    si.write(0, 7)  # STREAMINFO
    si.write(34, 24)
    si.write(min(block_size, max(n_frames_total, 16)), 16)  # min blocksize
    si.write(min(block_size, max(n_frames_total, 16)), 16)  # max blocksize
    si.write(min_fs, 24)
    si.write(max_fs, 24)
    si.write(sample_rate, 20)
    si.write(n_channels - 1, 3)
    si.write(bits - 1, 5)
    si.write(n_frames_total, 36)
    for b in md5:
        si.write(b, 8)
    return b"fLaC" + si.bytes() + bytes(frames)


# -------------------------------------------------------------- decoder

_SAMPLE_SIZE_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_BLOCK_SIZE_FIXED = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}


def _decode_subframe(r: _BitReader, bs: int, bits: int) -> list[int]:
    if r.read(1):
        raise ValueError("flac: subframe padding bit set")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits flag: unary count-1 follows
        wasted = r.read_unary() + 1
    eff = bits - wasted

    def s(v: int) -> int:  # sign-extend eff-bit value
        return v - (1 << eff) if eff and v >= 1 << (eff - 1) else v

    if ftype == 0:  # CONSTANT
        x = [s(r.read(eff))] * bs
    elif ftype == 1:  # VERBATIM
        x = [s(r.read(eff)) for _ in range(bs)]
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        warm = [s(r.read(eff)) for _ in range(order)]
        res = _read_residuals(r, bs, order)
        x = _fixed_restore(warm, res, order)
    elif ftype >= 32:  # LPC, order-1 in low 5 bits
        order = (ftype & 0x1F) + 1
        warm = [s(r.read(eff)) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("flac: invalid lpc precision")
        shift = r.read(5)
        if shift >= 16:
            shift -= 32  # 5-bit signed per spec (negative is invalid)
        if shift < 0:
            raise ValueError("flac: negative lpc shift")
        coefs = []
        for _ in range(order):
            c = r.read(prec)
            coefs.append(c - (1 << prec) if c >= 1 << (prec - 1) else c)
        res = _read_residuals(r, bs, order)
        x = list(warm)
        for rr in res:
            pred = sum(c * x[-1 - j] for j, c in enumerate(coefs)) >> shift
            x.append(rr + pred)
    else:
        raise ValueError(f"flac: reserved subframe type {ftype}")
    if wasted:
        x = [v << wasted for v in x]
    return x


def decode_flac(b: bytes) -> dict | None:
    """Full stream decode: STREAMINFO + every frame; returns
    ``{sample_rate, n_channels, bits, n_samples, n_frames, samples
    (interleaved), md5_ok}`` or None on any parse error (poison
    payloads must not kill a 100 TB stage)."""
    try:
        if b[:4] != b"fLaC":
            return None
        r = _BitReader(b, 4)
        info = None
        while True:  # metadata blocks
            last = r.read(1)
            btype = r.read(7)
            blen = r.read(24)
            if btype == 0:
                if blen != 34:
                    return None
                r.read(16)  # min blocksize
                r.read(16)  # max blocksize
                r.read(24)  # min framesize
                r.read(24)  # max framesize
                rate = r.read(20)
                nch = r.read(3) + 1
                bits = r.read(5) + 1
                total = r.read(36)
                md5 = bytes(r.read(8) for _ in range(16))
                info = (rate, nch, bits, total, md5)
            else:
                for _ in range(blen):
                    r.read(8)
            if last:
                break
        if info is None:
            return None
        rate, nch, bits, total, md5 = info

        samples: list[int] = []
        n_frames = 0
        while r.byte_pos() < len(b):
            frame_start = r.byte_pos()
            if r.read(14) != 0b11111111111110:
                return None
            r.read(1)  # reserved
            r.read(1)  # blocking strategy
            bs_code = r.read(4)
            sr_code = r.read(4)
            chan_code = r.read(4)
            ss_code = r.read(3)
            r.read(1)  # reserved
            _utf8_decode(r)  # frame/sample number
            if bs_code == 0:
                return None
            elif bs_code == 6:
                bs = r.read(8) + 1
            elif bs_code == 7:
                bs = r.read(16) + 1
            elif bs_code in _BLOCK_SIZE_FIXED:
                bs = _BLOCK_SIZE_FIXED[bs_code]
            else:
                bs = 256 << (bs_code - 8)
            if sr_code == 12:
                r.read(8)
            elif sr_code in (13, 14):
                r.read(16)
            fbits = _SAMPLE_SIZE_BITS.get(ss_code, bits)
            hdr_crc = r.read(8)
            if _crc8(b[frame_start : r.byte_pos() - 1]) != hdr_crc:
                return None
            if chan_code < 8:
                nsub = chan_code + 1
                chans = []
                for ch in range(nsub):
                    chans.append(_decode_subframe(r, bs, fbits))
            elif chan_code in (8, 9, 10):  # left/side, right/side, mid/side
                ext = 1  # side channel carries one extra bit
                a = _decode_subframe(r, bs, fbits + (ext if chan_code == 9 else 0))
                c2 = _decode_subframe(r, bs, fbits + (0 if chan_code == 9 else ext))
                if chan_code == 8:  # left + side -> right = left - side
                    chans = [a, [left - side for left, side in zip(a, c2)]]
                elif chan_code == 9:  # side + right -> left = right + side
                    chans = [[right + side for side, right in zip(a, c2)], c2]
                else:  # mid + side
                    left = []
                    right = []
                    for m, sd in zip(a, c2):
                        mm = (m << 1) | (sd & 1)
                        left.append((mm + sd) >> 1)
                        right.append((mm - sd) >> 1)
                    chans = [left, right]
            else:
                return None
            r.align()
            fcrc = r.read(16)
            if _crc16(b[frame_start : r.byte_pos() - 2]) != fcrc:
                return None
            for t in range(bs):
                for ch in chans:
                    samples.append(ch[t])
            n_frames += 1

        if total and len(samples) // nch > total:
            samples = samples[: total * nch]
        md5_ok = (
            hashlib.md5(
                struct.pack(f"<{len(samples)}h", *samples)
            ).digest()
            == md5
        )
        return {
            "sample_rate": rate,
            "n_channels": nch,
            "bits": bits,
            "n_samples": len(samples),
            "n_frames": n_frames,
            "samples": samples,
            "md5_ok": md5_ok,
        }
    except (EOFError, ValueError, IndexError, struct.error):
        return None


# ------------------------------------------------------- Spark surface

FLAC_BLOCK_SIZE = 256  # small enough that fixture streams span frames


def synthesize_flac(
    docs: DataFrame, id_col: str = "doc_id", len_col: str = "n_chars"
) -> DataFrame:
    """Deterministic FLAC synthesizer (the ``synthesize_media``
    pattern): every (id, length) row becomes a REAL FLAC stream whose
    parameters derive arithmetically from (id, length) —

      sample_rate = 8000 + (id % 4) * 4000, channels = 1 + (id//2) % 2,
      n_sample_frames = length % 256 + 16, block_size = 256
      (so streams of > 256 frames exercise multi-frame decode)

    Samples come from the shared id-seeded LCG, EXCEPT ids ≡ 0 (mod 8),
    which are the constant value (id*2654435761) % 65536 - 32768 — those
    streams exercise the CONSTANT subframe path. The relational oracle
    re-derives every sample from the same arithmetic, so a hash match
    on the decoded features proves lossless round-trip at sample
    grain."""
    import pandas as pd

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, n in zip(pdf[id_col], pdf[len_col]):
                mid, n = int(mid), int(n)
                rate = 8000 + (mid % 4) * 4000
                channels = 1 + (mid // 2) % 2
                frames = n % 256 + 16
                if mid % 8 == 0:
                    v = (mid * 2654435761) % 65536 - 32768
                    samples = [v] * (frames * channels)
                else:
                    seed = (
                        mid * 6364136223846793005 + 1442695040888963407
                    ) % (2**63)
                    samples = []
                    for _ in range(frames * channels):
                        seed = (seed * 6364136223846793005 + 1) % (2**63)
                        samples.append((seed >> 33) % 65536 - 32768)
                ids.append(mid)
                payloads.append(
                    encode_flac(
                        samples, rate, channels, block_size=FLAC_BLOCK_SIZE
                    )
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    # The synth input is (id, len) control rows (~16 bytes each) while
    # the work per row is a full FLAC encode — CPU-bound, not IO-bound.
    # Repartitioning fans the codec across every core for the cost of
    # exchanging only the metadata rows; with real stored payloads at
    # 100 TB the parallelism would come from input splits instead and
    # this exchange would be dropped. The partition count is explicit
    # (defaultParallelism) because AQE coalesces a bare column
    # repartition of ~80 KB of control rows back to ONE partition —
    # correct for shuffle data volume, wrong for the codec CPU behind
    # it (measured 14 s -> sub-second at sf0.1 on local[32]).
    from ..ops.scale import spread

    return (
        docs.select(id_col, len_col)
        .transform(spread, id_col)
        .mapInPandas(_synth, schema="media_id long, payload binary")
    )


FLAC_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_values long, "
    "n_frames int, first_s int, last_s int, peak long, rms2 double, "
    "md5_ok boolean"
)


def flac_features(media_df: DataFrame) -> DataFrame:
    """Decode each FLAC payload through the full bit-level decoder and
    emit exact integer features of the recovered samples plus the
    spec-MD5 verification verdict. Arrow-batched ``mapInPandas``, zero
    shuffle; undecodable payloads yield a null-feature row."""
    import math

    import pandas as pd

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_flac(
                    bytes(payload) if payload is not None else b""
                )
                if d is None or not d["samples"]:
                    rows.append(
                        (mid, None, None, None, None, None, None, None,
                         None, None)
                    )
                    continue
                s = d["samples"]
                m = len(s)
                ssq = sum(v * v for v in s)
                rms2 = math.floor(math.sqrt(ssq / m) * 100 + 0.5) / 100.0
                rows.append(
                    (mid, d["sample_rate"], d["n_channels"], m,
                     d["n_frames"], s[0], s[-1], max(abs(v) for v in s),
                     rms2, d["md5_ok"])
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_channels",
                         "n_values", "n_frames", "first_s", "last_s",
                         "peak", "rms2", "md5_ok"],
            )

    return media_df.mapInPandas(_features, schema=FLAC_FEATURES_SCHEMA)
