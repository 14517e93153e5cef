"""Pure-stdlib USTAR (POSIX.1-1988 tar) archive writer and parser —
the container format of WebDataset-style multimodal training shards
(one tar per shard, one member per sample component).

Same posture as ``ext/flac.py`` / ``ext/jpeg.py`` / ``ext/gif.py``:
the WRITER emits a deliberately narrow subset (regular files, ustar
magic, 512-byte blocks, two-zero-block terminator, names < 100 chars,
mtime 0) that stdlib ``tarfile`` can read back verbatim (pytest
cross-checks this); the PARSER is wider — it validates the header
checksum (both the POSIX signed and the historical unsigned variant),
accepts any typeflag but only returns regular-file members, skips pax/
gnu extension members it does not understand by honoring their size
fields, and returns ``None`` on ANY structurally malformed input
(truncation, bad octal, bad checksum, missing terminator tolerance)
so corruption fuzzing is a contract, not an accident.

The Spark side is the payload adapter in ``ext/multimodal.py``:
:func:`synthesize_tar`, :func:`tar_features` and :func:`tar_index`
hand it this module's per-item recipes, and pytest fuzzes the writer
and parser directly.

Reference parity note: the reference repo (pandas/requests ETL) has no
archive path at all; this extends SURVEY.md §2's multimodal axis with
the container format 100 TB training corpora are actually sharded in.
"""

from __future__ import annotations

from ..ops.scale import spread
from .multimodal import lcg_stream, map_payloads, synthesize_payloads

BLOCK = 512


# -------------------------------------------------------------- writer


def _octal(n: int, width: int) -> bytes:
    """Zero-padded octal field with trailing NUL (ustar numeric)."""
    s = format(n, "o").rjust(width - 1, "0")
    if len(s) >= width:
        raise ValueError(f"value {n} too wide for {width}-byte field")
    return s.encode("ascii") + b"\0"


def _header(name: str, size: int) -> bytes:
    """512-byte ustar header for a regular file, mtime 0, mode 0644."""
    nb = name.encode("utf-8")
    if len(nb) > 99:
        raise ValueError("name too long for the ustar subset")
    h = bytearray(BLOCK)
    h[0 : len(nb)] = nb
    h[100:108] = _octal(0o644, 8)  # mode
    h[108:116] = _octal(0, 8)  # uid
    h[116:124] = _octal(0, 8)  # gid
    h[124:136] = _octal(size, 12)
    h[136:148] = _octal(0, 12)  # mtime
    h[148:156] = b" " * 8  # chksum placeholder
    h[156] = ord("0")  # typeflag: regular file
    h[257:263] = b"ustar\0"
    h[263:265] = b"00"
    chk = sum(h)
    h[148:155] = format(chk, "o").rjust(6, "0").encode("ascii") + b"\0"
    h[155] = ord(" ")
    return bytes(h)


def encode_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Pack (name, payload) members into a ustar archive."""
    out = bytearray()
    for name, payload in members:
        out += _header(name, len(payload))
        out += payload
        pad = -len(payload) % BLOCK
        out += b"\0" * pad
    out += b"\0" * (2 * BLOCK)
    return bytes(out)


# -------------------------------------------------------------- parser


def _read_octal(field: bytes):
    """Parse a tar octal field (NUL/space padded); None if malformed."""
    s = field.rstrip(b"\0 ")
    s = s.lstrip(b" ")
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError:
        return None


def decode_tar(data: bytes):
    """Parse a tar archive; returns a list of dicts (name, size,
    payload) for regular-file members, or ``None`` on malformed input.

    Wider than the writer: any typeflag parses (non-regular members are
    skipped but their payload blocks are honored), both signed and
    unsigned checksum conventions are accepted, and a missing
    double-zero terminator at exact end-of-data is tolerated."""
    if data is None or len(data) % BLOCK != 0:
        return None
    members = []
    off = 0
    n = len(data)
    while off + BLOCK <= n:
        h = data[off : off + BLOCK]
        if h == b"\0" * BLOCK:
            # terminator: accept one or two zero blocks then end
            rest = data[off + BLOCK :]
            if rest.strip(b"\0") == b"":
                return members
            return None
        stored = _read_octal(h[148:156])
        if stored is None:
            return None
        unsigned = sum(h[:148]) + 8 * 0x20 + sum(h[156:])
        signed = (
            sum(b if b < 128 else b - 256 for b in h[:148])
            + 8 * 0x20
            + sum(b if b < 128 else b - 256 for b in h[156:])
        )
        if stored not in (unsigned, signed):
            return None
        size = _read_octal(h[124:136])
        if size is None or size < 0:
            return None
        name_end = h.find(b"\0", 0, 100)
        name = h[: name_end if name_end >= 0 else 100].decode(
            "utf-8", errors="replace"
        )
        payload_blocks = (size + BLOCK - 1) // BLOCK
        body_end = off + BLOCK + payload_blocks * BLOCK
        if body_end > n:
            return None
        typeflag = chr(h[156]) if h[156] else "0"
        if typeflag in ("0", "\0"):
            payload = data[off + BLOCK : off + BLOCK + size]
            members.append(
                {
                    "name": name,
                    "size": size,
                    "payload": payload,
                    "header_offset": off,
                    "payload_offset": off + BLOCK,
                }
            )
        off = body_end
    # ran off the end without a terminator: tolerate only exact EOF
    return members if off == n else None


# ------------------------------------------------------ Spark recipes

TAR_FEATURES_SCHEMA = (
    "media_id long, n_members int, member_idx int, name string, "
    "size long, byte_sum long, byte_min int, byte_max int"
)


def _member_count(mid: int) -> int:
    return mid % 3 + 1


def _member_size(mid: int, m: int) -> int:
    return 10 + (mid + 13 * m) % 100


def _member_payload(mid: int, m: int) -> bytes:
    return bytes(lcg_stream(mid * 31 + m, _member_size(mid, m), 256))


def _tar_payload(mid: int) -> bytes:
    members = range(_member_count(mid))
    return encode_tar([(f"{mid}/{m}.bin", _member_payload(mid, m)) for m in members])


def synthesize_tar(df, id_col: str = "doc_id"):
    """Deterministic tar synthesizer (the synthesize_media pattern):
    each id row becomes a REAL ustar archive with (id % 3 + 1) members;
    member m is named ``{id}/{m}.bin``, sized 10 + (id + 13m) % 100,
    and filled from the shared LCG so a relational oracle can predict
    every payload byte:

      byte k (k = 1..size): ((A^k * s0 + S_k) >> 33) % 256,
      s0 = ((id*31 + m) * A + MIX) % 2^63."""
    return synthesize_payloads(
        df.select(id_col).transform(spread, id_col), _tar_payload
    )


def _tar_features(mid: int, payload: bytes) -> list[tuple] | None:
    ms = decode_tar(payload)
    if ms is None:
        return None
    rows = []
    for i, mem in enumerate(ms):
        pb = mem["payload"]
        rows.append((mid, len(ms), i, mem["name"], mem["size"], sum(pb),
                     min(pb) if pb else None, max(pb) if pb else None))
    return rows


def tar_features(media_df):
    """Parse each archive through the full ustar parser and emit one
    row per member with exact integer payload statistics; unparseable
    archives yield a null-feature row (the oracle's row-for-row hash
    match proves none occur on the synthesized corpus)."""
    return map_payloads(media_df, _tar_features, TAR_FEATURES_SCHEMA)


TAR_INDEX_SCHEMA = (
    "media_id long, member_idx int, name string, header_offset long, "
    "payload_offset long, size long"
)


def _tar_index(mid: int, payload: bytes) -> list[tuple] | None:
    ms = decode_tar(payload)
    if ms is None:
        return None
    return [
        (mid, i, m["name"], m["header_offset"], m["payload_offset"], m["size"])
        for i, m in enumerate(ms)
    ]


def tar_index(media_df):
    """WebDataset-style shard index: one row per member with its BYTE
    OFFSETS inside the archive — the artifact a training loader seeks
    with, proving the parser's 512-block framing arithmetic against the
    relational replay."""
    return map_payloads(media_df, _tar_index, TAR_INDEX_SCHEMA)
