"""From-spec Snappy (block + framing) and CRC-32C — pure Python.

Snappy's block format (format_description.txt), framing format
(framing_format.txt), and CRC-32C (RFC 3720 §12.1, the Castagnoli
polynomial) are public specifications; everything here is written from
those documents. Together with ``operators/lz4.py`` and
``operators/inflate.py`` this completes the free shard-codec family a
100 TB training-data pipeline actually meets (Snappy is parquet's
historical default page codec; the framing format is the ``.sz``
stream container).

Block format, one pass over tagged elements after a varint preamble
(uncompressed length):

- tag&3 == 0: literal; ``(tag>>2)+1`` bytes, lengths >= 61 spill into
  1-4 little-endian extra bytes (tag>>2 in 60..63).
- tag&3 == 1: copy, 1-byte offset: length ``((tag>>2)&7)+4`` (4..11),
  offset ``((tag>>5)<<8) | next`` (11 bits).
- tag&3 == 2: copy, 2-byte LE offset: length ``(tag>>2)+1`` (1..64).
- tag&3 == 3: copy, 4-byte LE offset (only for >4 GiB windows; the
  encoder here never emits it, the decoder accepts it).

Copies may overlap (offset < length = run). Offset 0 or reaching
before the output start is malformed → descriptive ``ValueError``
(the inflate.py discipline).

Scale posture: narrow per-row kernel inside ``mapInPandas`` — no
shuffle, no cross-row state; shards decode embarrassingly parallel.
"""

from __future__ import annotations

from modeltracking_spark.operators.kernel import codec_roundtrip_stats

_MASK32 = 0xFFFFFFFF

# ----------------------------------------------------------------- crc32c

# reflected Castagnoli polynomial (RFC 3720 §12.1)
_CRC32C_POLY = 0x82F63B78


def _build_crc32c_table() -> list[int]:
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _build_crc32c_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C, table-driven; pinned against the RFC 3720 check value
    crc32c(b'123456789') == 0xE3069283 in tests."""
    c = (~crc) & _MASK32
    for b in data:
        c = _CRC32C_TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return (~c) & _MASK32


def _mask_crc(crc: int) -> int:
    """The framing format's CRC mask: rotate right 15, add a constant
    (defends against CRCs of CRC-bearing data)."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & _MASK32


# ------------------------------------------------------------ block decode


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated snappy varint")
        b = data[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 35:
            raise ValueError("snappy varint too long")


def snappy_block_decompress(data: bytes) -> bytes:
    """Snappy block -> bytes; the declared preamble length must match
    exactly. Malformed tags/offsets/truncations raise ValueError."""
    declared, pos = _read_varint(data, 0)
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59  # 1..4 extra length bytes
                if pos + extra > n:
                    raise ValueError("truncated snappy literal length")
                ln = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise ValueError("truncated snappy literal")
            out += data[pos : pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            ln = ((tag >> 2) & 0x7) + 4
            if pos >= n:
                raise ValueError("truncated snappy copy-1 offset")
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            if pos + 2 > n:
                raise ValueError("truncated snappy copy-2 offset")
            off = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            if pos + 4 > n:
                raise ValueError("truncated snappy copy-4 offset")
            off = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if off == 0:
            raise ValueError("invalid snappy offset 0")
        if off > len(out):
            raise ValueError("snappy offset reaches before output start")
        if declared and len(out) + ln > declared:
            raise ValueError("snappy output exceeds declared length")
        start = len(out) - off
        if off >= ln:
            out += out[start : start + ln]
        else:
            chunk = out[start:]
            while len(chunk) < ln:
                chunk = chunk + chunk
            out += chunk[:ln]
    if len(out) != declared:
        raise ValueError(
            f"snappy declared {declared} bytes, produced {len(out)}"
        )
    return bytes(out)


# ------------------------------------------------------------ block encode


def _emit_literal(out: bytearray, lit: bytes) -> None:
    n = len(lit)
    if n == 0:
        return
    if n <= 60:
        out.append(((n - 1) << 2) | 0)
    else:
        extra = (n - 1).bit_length() + 7 >> 3
        out.append(((59 + extra) << 2) | 0)
        out += (n - 1).to_bytes(extra, "little")
    out += lit


def _emit_copy(out: bytearray, off: int, ln: int) -> None:
    """Split a match into copy elements: 4 <= piece <= 64, remainder
    never left in 1..3 (steal from the previous piece)."""
    while ln > 0:
        piece = min(ln, 64)
        if ln - piece in (1, 2, 3):
            piece = ln - 4
        if piece <= 11 and off <= 2047:
            out.append((((piece - 4) & 0x7) << 2) | ((off >> 8) << 5) | 1)
            out.append(off & 0xFF)
        else:
            out.append(((piece - 1) << 2) | 2)
            out += off.to_bytes(2, "little")
        ln -= piece


def snappy_block_compress(data: bytes) -> bytes:
    """Greedy single-probe Snappy block encoder (hash of each 4-byte
    prefix -> most recent position, 64 KiB window so copy-2 always
    reaches). Correctness contract is exact roundtrip through
    :func:`snappy_block_decompress` (+ the independent twin)."""
    n = len(data)
    out = bytearray()
    ln_varint = n
    while True:
        b = ln_varint & 0x7F
        ln_varint >>= 7
        out.append(b | (0x80 if ln_varint else 0))
        if not ln_varint:
            break
    if n < 4:
        _emit_literal(out, data)
        return bytes(out)
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 65535:
            mlen = 4
            while i + mlen < n and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            _emit_literal(out, data[anchor:i])
            _emit_copy(out, i - cand, mlen)
            i += mlen
            anchor = i
            continue
        i += 1
    _emit_literal(out, data[anchor:])
    return bytes(out)


# ----------------------------------------------------------------- framing

_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"
_MAX_CHUNK = 65536


def snappy_frame_compress(data: bytes, max_chunk: int = _MAX_CHUNK) -> bytes:
    """Framing format: stream identifier, then per-chunk masked
    CRC-32C of the UNCOMPRESSED data + snappy block (or an
    uncompressed chunk when compression does not shrink)."""
    if not 1 <= max_chunk <= _MAX_CHUNK:
        raise ValueError("snappy frame chunks are capped at 65536 bytes")
    out = bytearray(_STREAM_ID)
    for off in range(0, len(data), max_chunk):
        chunk = data[off : off + max_chunk]
        crc = _mask_crc(crc32c(chunk))
        comp = snappy_block_compress(chunk)
        if len(comp) < len(chunk):
            body, ctype = comp, 0x00
        else:
            body, ctype = chunk, 0x01
        out.append(ctype)
        out += (len(body) + 4).to_bytes(3, "little")
        out += crc.to_bytes(4, "little")
        out += body
    return bytes(out)


def snappy_frame_decompress(data: bytes) -> bytes:
    """Framing format -> bytes, verifying the stream identifier and
    every chunk's masked CRC-32C; skippable chunks (0x80-0xFD, 0xFE
    padding) are skipped, reserved unskippable chunks (0x02-0x7F)
    raise."""
    if data[: len(_STREAM_ID)] != _STREAM_ID:
        raise ValueError("bad snappy stream identifier")
    pos = len(_STREAM_ID)
    out = bytearray()
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("truncated snappy chunk header")
        ctype = data[pos]
        ln = int.from_bytes(data[pos + 1 : pos + 4], "little")
        pos += 4
        if pos + ln > n:
            raise ValueError("truncated snappy chunk body")
        body = data[pos : pos + ln]
        pos += ln
        if ctype in (0x00, 0x01):
            if ln < 4:
                raise ValueError("snappy chunk too short for its CRC")
            want_crc = int.from_bytes(body[:4], "little")
            payload = body[4:]
            plain = (
                snappy_block_decompress(payload) if ctype == 0x00 else payload
            )
            if len(plain) > _MAX_CHUNK:
                raise ValueError("snappy chunk exceeds 65536 bytes")
            if _mask_crc(crc32c(plain)) != want_crc:
                raise ValueError("snappy chunk CRC mismatch")
            out += plain
        elif ctype == 0xFF:
            if body != b"sNaPpY":
                raise ValueError("bad snappy stream identifier payload")
        elif ctype >= 0x80:  # skippable (incl. 0xFE padding)
            continue
        else:
            raise ValueError(
                f"reserved unskippable snappy chunk 0x{ctype:02x}"
            )
    return bytes(out)


# ------------------------------------------------------------ spark kernel


def snappy_roundtrip_stats(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_chunk: int = 1024,
):
    """Per-row Snappy framing compress -> decompress -> stats — the
    codec-tier narrow-map shape (see
    :func:`~modeltracking_spark.operators.kernel.codec_roundtrip_stats`).
    ``max_chunk=1024`` puts multi-chunk frames and per-chunk CRC
    verification on the attested path.
    Output: (id, orig_len, n_chunks, dec_md5, ok)."""

    def make_codec():
        def encode(ids, raws):
            return [snappy_frame_compress(raw, max_chunk=max_chunk) for raw in raws]

        return encode, snappy_frame_decompress

    def n_chunks(did, raw, blob):
        return (len(raw) + max_chunk - 1) // max_chunk

    return codec_roundtrip_stats(
        df, make_codec, payload_col, id_col,
        extra=[("n_chunks", "long", n_chunks)],
    )
