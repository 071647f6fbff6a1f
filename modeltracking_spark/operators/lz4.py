"""From-spec LZ4 (block + frame) and xxHash32 — pure Python/numpy-free.

LZ4's block format, frame format, and xxHash32 are public
specifications (lz4_Block_format.md / lz4_Frame_format.md /
xxhash_spec.md in the lz4/xxHash projects); everything here is written
from those documents, not from any implementation.  The reference
workload never ships LZ4 payloads, but the engine's corpus tier does
(SURVEY.md §2 multimodal/codec tier): LZ4 is the default codec of
many training-data shards, and decoding it from spec keeps the whole
byte-to-row path attestable like the DEFLATE/GIF/TIFF tiers
(``operators/inflate.py`` is the pattern: loud ``ValueError`` on any
malformed stream, exact roundtrips pinned by boundary-enumeration
tests and an independent byte-walking twin).

Block format, one pass: sequences of
``[token][lit extras*][literals][offset LE16][match extras*]`` — each
nibble saturates at 15 and then continues in 255-valued extra bytes; a
match is ``(token & 0xF) + 4`` bytes copied from ``offset`` bytes back
in the OUTPUT (overlap legal — offset 1 is a run).  The last sequence
is literals-only.  End-of-block rules (encoder side): the final 5
bytes are literals, and no match starts within the final 12 bytes;
blocks under 13 bytes are all-literal.

Scale posture: like every codec here, (de)compression is a narrow
per-row kernel inside ``mapInPandas`` — no shuffle, no state across
rows; 100 TB of shards decode embarrassingly parallel.
"""

from __future__ import annotations

from modeltracking_spark.operators.kernel import codec_roundtrip_stats

_MASK32 = 0xFFFFFFFF

# ------------------------------------------------------------------ xxh32

_P1 = 2654435761
_P2 = 2246822519
_P3 = 3266489917
_P4 = 668265263
_P5 = 374761393


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 from the spec's reference description (stripe
    accumulators + avalanche). Pinned against the project's published
    test vectors in tests/test_lz4.py."""
    n = len(data)
    pos = 0
    if n >= 16:
        a1 = (seed + _P1 + _P2) & _MASK32
        a2 = (seed + _P2) & _MASK32
        a3 = seed & _MASK32
        a4 = (seed - _P1) & _MASK32
        while pos + 16 <= n:
            for i, acc in enumerate((a1, a2, a3, a4)):
                lane = int.from_bytes(data[pos + 4 * i : pos + 4 * i + 4], "little")
                acc = (acc + lane * _P2) & _MASK32
                acc = (_rotl(acc, 13) * _P1) & _MASK32
                if i == 0:
                    a1 = acc
                elif i == 1:
                    a2 = acc
                elif i == 2:
                    a3 = acc
                else:
                    a4 = acc
            pos += 16
        h = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)) & _MASK32
    else:
        h = (seed + _P5) & _MASK32
    h = (h + n) & _MASK32
    while pos + 4 <= n:
        lane = int.from_bytes(data[pos : pos + 4], "little")
        h = (_rotl((h + lane * _P3) & _MASK32, 17) * _P4) & _MASK32
        pos += 4
    while pos < n:
        h = (_rotl((h + data[pos] * _P5) & _MASK32, 11) * _P1) & _MASK32
        pos += 1
    h ^= h >> 15
    h = (h * _P2) & _MASK32
    h ^= h >> 13
    h = (h * _P3) & _MASK32
    h ^= h >> 16
    return h


# ------------------------------------------------------------ block decode

_MINMATCH = 4
_MFLIMIT = 12  # no match may START within the last 12 bytes
_LASTLITERALS = 5  # the final 5 bytes are always literals
_MAX_OFFSET = 65535


def lz4_block_decompress(data: bytes, max_out: int | None = None) -> bytes:
    """LZ4 block -> bytes. Malformed streams (zero/too-far offset,
    truncated literals/extras/offset) raise a descriptive ValueError —
    never a leaked IndexError (the inflate.py discipline).
    ``max_out`` bounds the output (decompression-bomb guard)."""
    out = bytearray()
    n = len(data)
    pos = 0
    while pos < n:
        token = data[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated LZ4 literal-length extras")
                b = data[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:
            raise ValueError("truncated LZ4 literals")
        out += data[pos : pos + lit_len]
        pos += lit_len
        if max_out is not None and len(out) > max_out:
            raise ValueError("LZ4 output exceeds declared bound")
        if pos == n:
            break  # last sequence is literals-only
        if pos + 2 > n:
            raise ValueError("truncated LZ4 match offset")
        offset = data[pos] | (data[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError("invalid LZ4 offset 0")
        if offset > len(out):
            raise ValueError("LZ4 offset reaches before output start")
        mlen = token & 0xF
        if mlen == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated LZ4 match-length extras")
                b = data[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        mlen += _MINMATCH
        if max_out is not None and len(out) + mlen > max_out:
            raise ValueError("LZ4 output exceeds declared bound")
        start = len(out) - offset
        if offset >= mlen:
            out += out[start : start + mlen]
        else:
            # overlapped copy: double the period until the tail fits
            # (slice-level, like inflate.py's RLE fast path)
            chunk = out[start:]
            while len(chunk) < mlen:
                chunk = chunk + chunk
            out += chunk[:mlen]
    return bytes(out)


# ------------------------------------------------------------ block encode


def lz4_block_compress(data: bytes) -> bytes:
    """Greedy single-probe LZ4 block encoder (hash of each 4-byte
    prefix -> most recent position). Emits spec-conformant streams:
    final 5 bytes literal, no match starting in the final 12 bytes,
    offsets <= 65535. Correctness contract is exact roundtrip through
    :func:`lz4_block_decompress` (+ the independent twin), not
    bit-parity with any other encoder."""
    n = len(data)
    out = bytearray()

    def emit(literals: bytes, offset: int | None, mlen: int) -> None:
        nonlocal out
        lit_len = len(literals)
        lit_nib = 15 if lit_len >= 15 else lit_len
        m_extra = 0 if offset is None else mlen - _MINMATCH
        m_nib = 0 if offset is None else (15 if m_extra >= 15 else m_extra)
        out.append((lit_nib << 4) | m_nib)
        rem = lit_len - 15
        while lit_nib == 15 and rem >= 0:
            out.append(min(rem, 255))
            if rem < 255:
                break
            rem -= 255
        out += literals
        if offset is None:
            return
        out += offset.to_bytes(2, "little")
        rem = m_extra - 15
        while m_nib == 15 and rem >= 0:
            out.append(min(rem, 255))
            if rem < 255:
                break
            rem -= 255

    if n < _MFLIMIT + 1:  # too short for any match per the end rules
        emit(data, None, 0)
        return bytes(out)

    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    match_limit = n - _MFLIMIT  # last legal match START
    while i <= match_limit:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= _MAX_OFFSET:
            max_m = n - _LASTLITERALS - i
            mlen = _MINMATCH
            while mlen < max_m and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            if mlen >= _MINMATCH and max_m >= _MINMATCH:
                emit(data[anchor:i], i - cand, mlen)
                i += mlen
                anchor = i
                continue
        i += 1
    emit(data[anchor:], None, 0)
    return bytes(out)


# ------------------------------------------------------------------ frame

_FRAME_MAGIC = 0x184D2204
_BD_CODES = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


def lz4_frame_compress(
    data: bytes,
    block_checksum: bool = True,
    content_checksum: bool = True,
    content_size: bool = True,
    max_block: int = 1 << 16,
) -> bytes:
    """LZ4 frame: magic, FLG/BD descriptor + xxh32 header-checksum
    byte, independent blocks (stored uncompressed when compression
    does not shrink, per the high-bit convention), EndMark, optional
    content checksum."""
    bd_code = next(
        (c for c in (4, 5, 6, 7) if _BD_CODES[c] >= max_block), 7
    )
    flg = (1 << 6) | (1 << 5)  # version 01, independent blocks
    if block_checksum:
        flg |= 1 << 4
    if content_size:
        flg |= 1 << 3
    if content_checksum:
        flg |= 1 << 2
    header = bytes([flg, bd_code << 4])
    if content_size:
        header += len(data).to_bytes(8, "little")
    out = bytearray(_FRAME_MAGIC.to_bytes(4, "little"))
    out += header
    out.append((xxh32(header) >> 8) & 0xFF)
    step = min(max_block, _BD_CODES[bd_code])
    for off in range(0, len(data), step):
        chunk = data[off : off + step]
        comp = lz4_block_compress(chunk)
        if len(comp) < len(chunk):
            out += len(comp).to_bytes(4, "little")
            body = comp
        else:
            out += (len(chunk) | 0x80000000).to_bytes(4, "little")
            body = chunk
        out += body
        if block_checksum:
            out += xxh32(body).to_bytes(4, "little")
    out += (0).to_bytes(4, "little")  # EndMark
    if content_checksum:
        out += xxh32(data).to_bytes(4, "little")
    return bytes(out)


def lz4_frame_decompress(data: bytes) -> bytes:
    """LZ4 frame -> bytes, verifying the header-checksum byte, every
    declared block checksum, the declared content size, and the
    content checksum. Any mismatch raises ValueError."""
    if len(data) < 7:
        raise ValueError("truncated LZ4 frame header")
    if int.from_bytes(data[:4], "little") != _FRAME_MAGIC:
        raise ValueError("bad LZ4 frame magic")
    flg = data[4]
    if (flg >> 6) != 1:
        raise ValueError("unsupported LZ4 frame version")
    if flg & 0b11 or not (flg & (1 << 5)):
        # DictID / reserved / dependent blocks: out of declared scope
        raise ValueError("unsupported LZ4 frame flags")
    block_checksum = bool(flg & (1 << 4))
    has_size = bool(flg & (1 << 3))
    content_checksum = bool(flg & (1 << 2))
    bd_code = (data[5] >> 4) & 0b111
    if bd_code not in _BD_CODES:
        raise ValueError("invalid LZ4 block-maximum code")
    pos = 6
    declared = None
    if has_size:
        if len(data) < pos + 8:
            raise ValueError("truncated LZ4 content size")
        declared = int.from_bytes(data[pos : pos + 8], "little")
        pos += 8
    if len(data) <= pos:
        raise ValueError("truncated LZ4 frame header")
    hc = data[pos]
    pos += 1
    if ((xxh32(data[4 : pos - 1]) >> 8) & 0xFF) != hc:
        raise ValueError("LZ4 frame header checksum mismatch")
    out = bytearray()
    while True:
        if len(data) < pos + 4:
            raise ValueError("truncated LZ4 block header")
        word = int.from_bytes(data[pos : pos + 4], "little")
        pos += 4
        if word == 0:
            break  # EndMark
        uncompressed = bool(word & 0x80000000)
        size = word & 0x7FFFFFFF
        if len(data) < pos + size:
            raise ValueError("truncated LZ4 block body")
        body = data[pos : pos + size]
        pos += size
        if block_checksum:
            if len(data) < pos + 4:
                raise ValueError("truncated LZ4 block checksum")
            if int.from_bytes(data[pos : pos + 4], "little") != xxh32(body):
                raise ValueError("LZ4 block checksum mismatch")
            pos += 4
        if uncompressed:
            out += body
        else:
            out += lz4_block_decompress(body, max_out=_BD_CODES[bd_code])
    if content_checksum:
        if len(data) < pos + 4:
            raise ValueError("truncated LZ4 content checksum")
        if int.from_bytes(data[pos : pos + 4], "little") != xxh32(bytes(out)):
            raise ValueError("LZ4 content checksum mismatch")
        pos += 4
    if declared is not None and declared != len(out):
        raise ValueError("LZ4 declared content size mismatch")
    return bytes(out)


# ------------------------------------------------------------ spark kernel


def lz4_roundtrip_stats(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_block: int = 1024,
):
    """Per-row LZ4 frame compress -> decompress -> stats through
    :func:`codec_roundtrip_stats` — the codec-tier shape: a narrow
    per-row kernel, no shuffle, no cross-row state, embarrassingly
    parallel at 100 TB. The decode side verifies the header checksum
    byte, every block checksum, the content checksum, and the declared
    content size, so a single flipped bit anywhere in the stream fails
    loudly rather than hashing wrong.  ``max_block=1024`` forces
    multi-block frames on kilobyte payloads (block sizes below the BD
    maximum are spec-legal), so the block loop itself is on the
    attested path.

    Output: (id, orig_len, n_blocks, dec_md5, ok) — all SQL-replayable
    from the payload formula."""

    def make_codec():
        def encode(ids, raws):
            return [lz4_frame_compress(raw, max_block=max_block) for raw in raws]

        return encode, lz4_frame_decompress

    def n_blocks(did, raw, blob):
        return (len(raw) + max_block - 1) // max_block

    return codec_roundtrip_stats(
        df, make_codec, payload_col, id_col,
        extra=[("n_blocks", "long", n_blocks)],
    )
