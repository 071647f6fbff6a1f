"""Zstandard SEEKABLE format — split-able compressed files.

A plain ``.zst`` file is one long frame: a 100 TB scan of it is a
single-reader bottleneck.  The seekable format (publicly specified in
the zstd repository, ``contrib/seekable_format``) fixes that: the
payload is written as MANY independent zstd frames, followed by one
SKIPPABLE frame (magic ``0x184D2A5E``) carrying a seek table — per
frame the compressed size, decompressed size, and optionally the low
32 bits of the XXH64 of the decompressed data — closed by a 9-byte
footer ``(number_of_frames u32 LE, descriptor u8, seekable magic
0x8F92EAB1 u32 LE)``.  Any reader can then decode frame *i* in
isolation: the unit of parallelism inside one file.

Because the seek table lives in a skippable frame, a seekable file is
ALSO a valid ordinary zstd stream — the stock ``zstd`` CLI decodes it
end to end, which is exactly how tests cross-validate this writer
against the reference implementation (and libzstd decodes each frame
individually).

Writer frames are record-aligned (the caller hands in batches; one
frame per batch), so downstream parallel readers never see a record
split across frames — the layout every seekable corpus format uses.

``sources/zstd_seekable_source.py`` wires this into a Spark Python
DataSource with ONE InputPartition PER FRAME.
"""

from __future__ import annotations

from modeltracking_spark.operators.zstd import (
    libzstd_compress,
    xxh64,
    zstd_compress,
    zstd_decompress,
)

_SKIP_MAGIC = 0x184D2A5E
_SEEK_MAGIC = 0x8F92EAB1


def zstd_seekable_write(batches: list[bytes], checksum: bool = True,
                        level_hint: int = 3) -> bytes:
    """Record-aligned batches -> one seekable archive (one frame per
    batch). Frames are encoded by libzstd when present (the reference
    implementation; ``level_hint`` applies) and by the from-spec
    subset encoder otherwise — either way the seek table is built here
    from the spec."""
    out = bytearray()
    entries = []
    for raw in batches:
        raw = bytes(raw)
        if len(raw) >= 1 << 31 or not raw:
            raise ValueError("seekable frame payload must be 1..2^31-1 B")
        frame = libzstd_compress(raw, level_hint)
        if frame is None:
            frame = zstd_compress(raw)
        entries.append((len(frame), len(raw),
                        xxh64(raw) & 0xFFFFFFFF))
        out += frame
    # seek table skippable frame
    entry_size = 12 if checksum else 8
    payload = bytearray()
    for c_size, d_size, ck in entries:
        payload += c_size.to_bytes(4, "little")
        payload += d_size.to_bytes(4, "little")
        if checksum:
            payload += ck.to_bytes(4, "little")
    payload += len(entries).to_bytes(4, "little")
    payload += bytes([0x80 if checksum else 0x00])  # descriptor
    payload += _SEEK_MAGIC.to_bytes(4, "little")
    out += _SKIP_MAGIC.to_bytes(4, "little")
    out += len(payload).to_bytes(4, "little")
    out += payload
    assert len(payload) == len(entries) * entry_size + 9
    return bytes(out)


def zstd_seekable_table(data: bytes) -> list[dict]:
    """Archive bytes -> seek table: per frame ``{c_off, c_size,
    d_off, d_size, checksum}`` (checksum None when absent)."""
    if len(data) < 17:
        raise ValueError("too short for a seekable zstd archive")
    if int.from_bytes(data[-4:], "little") != _SEEK_MAGIC:
        raise ValueError("missing seekable footer magic")
    n_frames = int.from_bytes(data[-9:-5], "little")
    desc = data[-5]
    if desc & 0x7C:
        raise ValueError("reserved seek-table descriptor bits set")
    has_ck = bool(desc & 0x80)
    entry_size = 12 if has_ck else 8
    table_size = n_frames * entry_size + 9
    skip_start = len(data) - table_size - 8
    if skip_start < 0:
        raise ValueError("seek table overruns the archive")
    if int.from_bytes(data[skip_start:skip_start + 4],
                      "little") != _SKIP_MAGIC:
        raise ValueError("seek table is not in a 0x184D2A5E skippable frame")
    if int.from_bytes(data[skip_start + 4:skip_start + 8],
                      "little") != table_size:
        raise ValueError("seek-table skippable size mismatch")
    pos = skip_start + 8
    table = []
    c_off = d_off = 0
    for _ in range(n_frames):
        c_size = int.from_bytes(data[pos:pos + 4], "little")
        d_size = int.from_bytes(data[pos + 4:pos + 8], "little")
        ck = (int.from_bytes(data[pos + 8:pos + 12], "little")
              if has_ck else None)
        pos += entry_size
        table.append({"c_off": c_off, "c_size": c_size,
                      "d_off": d_off, "d_size": d_size, "checksum": ck})
        c_off += c_size
        d_off += d_size
    if c_off != skip_start:
        raise ValueError(
            f"seek table covers {c_off} bytes but frames span {skip_start}"
        )
    return table


def zstd_seekable_table_from_file(fh) -> list[dict]:
    """Seek table via TAIL reads only — no payload bytes touched.
    The scale shape: at 100 TB a driver building partitions reads the
    last few KB of each archive, never the archive itself."""
    import os

    fh.seek(0, os.SEEK_END)
    size = fh.tell()
    if size < 17:
        raise ValueError("too short for a seekable zstd archive")
    fh.seek(size - 9)
    foot = fh.read(9)
    if int.from_bytes(foot[5:9], "little") != _SEEK_MAGIC:
        raise ValueError("missing seekable footer magic")
    n_frames = int.from_bytes(foot[0:4], "little")
    desc = foot[4]
    if desc & 0x7C:
        raise ValueError("reserved seek-table descriptor bits set")
    entry_size = 12 if desc & 0x80 else 8
    table_size = n_frames * entry_size + 9
    if table_size + 8 > size:
        raise ValueError("seek table overruns the archive")
    fh.seek(size - table_size - 8)
    blob = fh.read(table_size + 8)
    # delegate to the in-memory parser over a synthetic archive whose
    # frame region is implied by the offsets it returns
    if int.from_bytes(blob[0:4], "little") != _SKIP_MAGIC:
        raise ValueError("seek table is not in a 0x184D2A5E skippable frame")
    if int.from_bytes(blob[4:8], "little") != table_size:
        raise ValueError("seek-table skippable size mismatch")
    pos = 8
    table = []
    c_off = d_off = 0
    has_ck = bool(desc & 0x80)
    for _ in range(n_frames):
        c_size = int.from_bytes(blob[pos:pos + 4], "little")
        d_size = int.from_bytes(blob[pos + 4:pos + 8], "little")
        ck = (int.from_bytes(blob[pos + 8:pos + 12], "little")
              if has_ck else None)
        pos += entry_size
        table.append({"c_off": c_off, "c_size": c_size,
                      "d_off": d_off, "d_size": d_size, "checksum": ck})
        c_off += c_size
        d_off += d_size
    if c_off != size - table_size - 8:
        raise ValueError(
            f"seek table covers {c_off} bytes but frames span "
            f"{size - table_size - 8}"
        )
    return table


def zstd_seekable_read_frame(data: bytes, table: list[dict],
                             index: int,
                             dictionary: bytes | None = None) -> bytes:
    """Decode ONE frame in isolation (the parallel-read unit),
    verifying its size and checksum against the seek table."""
    e = table[index]
    blob = data[e["c_off"]:e["c_off"] + e["c_size"]]
    raw = zstd_decompress(blob, max_output=e["d_size"],
                          dictionary=dictionary)
    if len(raw) != e["d_size"]:
        raise ValueError(
            f"frame {index} decoded {len(raw)} B, table says {e['d_size']}"
        )
    if e["checksum"] is not None:
        if xxh64(raw) & 0xFFFFFFFF != e["checksum"]:
            raise ValueError(f"frame {index} checksum mismatch")
    return raw
