"""From-spec .xz container + LZMA2 DECODER — decode side only.

Both layers are publicly specified: the xz file format
(xz-file-format.txt: stream header/footer with CRC32-protected flags,
size-prefixed CRC32-protected block headers with a filter list,
4-byte-aligned compressed data, per-block integrity check of the
UNCOMPRESSED bytes — none/CRC32/CRC64/SHA-256 — and a CRC32-protected
index the footer points back at) and LZMA2 (the chunked LZMA layer:
control-byte framing with explicit chunk sizes, independent range
coders per chunk, and three orthogonal reset axes — machine state,
properties, dictionary — while matches keep reaching into earlier
chunks' window).  The LZMA machine itself is shared with the .lzma
alone decoder (:class:`operators.lzma_alone.LzmaDecoder`).

Fixtures are encoded with Python's stdlib ``lzma`` (liblzma) and the
shipped ``xz`` CLI, so every roundtrip cross-validates two independent
implementations across check types, presets, lc/lp/pb settings,
multi-block (``--block-size``) and concatenated-stream layouts —
.xz is how the canonical Wikipedia history dumps ship.

CRC64 is ECMA-182 reflected (the xz default check); VLIs are the
format's 7-bit little-endian varints.  Malformed streams raise
descriptive ``ValueError``.  Filter chains are supported for Delta
(0x03) and x86 BCJ (0x04) ahead of LZMA2 — the transforms live in
:mod:`operators.bcj`, cross-validated byte-for-byte against liblzma —
while the remaining per-architecture BCJ variants raise
``NotImplementedError`` at the documented plug-in point.
"""

from __future__ import annotations

from modeltracking_spark.operators.kernel import codec_roundtrip_stats
from modeltracking_spark.operators.lzma_alone import LzmaDecoder, split_props

_MAGIC = b"\xfd7zXZ\x00"
_FOOTER_MAGIC = b"YZ"
_CHECK_SIZES = {0x00: 0, 0x01: 4, 0x04: 8, 0x0A: 32}


def _build_crc64_table():
    poly = 0xC96C5795D7870F42
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ (poly if c & 1 else 0)
        table.append(c)
    return table


_CRC64_TABLE = _build_crc64_table()


def crc64_xz(data: bytes, crc: int = 0) -> int:
    """CRC-64/XZ (ECMA-182 polynomial, reflected, init/xorout ~0)."""
    c = (~crc) & 0xFFFFFFFFFFFFFFFF
    for b in data:
        c = (c >> 8) ^ _CRC64_TABLE[(c ^ b) & 0xFF]
    return (~c) & 0xFFFFFFFFFFFFFFFF


def _crc32(data: bytes) -> int:
    import zlib

    return zlib.crc32(data) & 0xFFFFFFFF


def xz_cli_path() -> str:
    """Resolve the reference ``xz`` CLI for BCJ chains the stdlib
    lacks (``--arm64``/``--riscv`` need xz >= 5.6; the system liblzma
    linked by ``_lzma`` is often older).  Resolution order:
    ``$SPARK_GRAFT_XZ`` override, the known bundled 5.8 binary, then
    ``PATH`` — a loud, typed ``FileNotFoundError`` otherwise so the
    query degrades portably instead of dying on one machine's path."""
    import os
    import shutil

    for cand in (os.environ.get("SPARK_GRAFT_XZ"),
                 "/root/miniconda/bin/xz",
                 shutil.which("xz")):
        if cand and os.path.exists(cand):
            return cand
    raise FileNotFoundError(
        "xz CLI not found: set $SPARK_GRAFT_XZ or install xz >= 5.6 "
        "(required for the --arm64/--riscv BCJ filter chains)")


def _read_vli(data: bytes, pos: int) -> tuple[int, int]:
    v = 0
    for i in range(9):
        if pos + i >= len(data):
            raise ValueError("truncated xz varint")
        b = data[pos + i]
        v |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            if b == 0 and i:
                raise ValueError("non-minimal xz varint")
            return v, pos + i + 1
    raise ValueError("xz varint longer than 9 bytes")


def lzma2_decompress(
    data: bytes,
    pos: int = 0,
    end: int | None = None,
    max_output: int = 1 << 28,
) -> tuple[bytes, int]:
    """LZMA2 chunk sequence -> (bytes, position past the 0x00 end
    marker). Enforces the spec's reset grammar: the first chunk must
    reset the dictionary, properties must be set before the first
    LZMA chunk, and an uncompressed chunk invalidates machine state
    (the next LZMA chunk must reset it)."""
    if end is None:
        end = len(data)
    elif end > len(data):
        # a corrupt container header can declare a compressed size
        # past the input; every in-loop bound checks against `end`,
        # so it must not exceed the real data
        raise ValueError("LZMA2 region extends past the input")
    out = bytearray()
    dec: LzmaDecoder | None = None
    dict_start = 0
    need_dict_reset = True
    need_state_reset = True
    while True:
        if pos >= end:
            raise ValueError("truncated LZMA2 stream")
        c = data[pos]
        pos += 1
        if c == 0x00:  # end of LZMA2
            return bytes(out), pos
        if c in (0x01, 0x02):  # uncompressed chunk
            if c == 0x01:
                dict_start = len(out)
                need_dict_reset = False
            elif need_dict_reset:
                raise ValueError("LZMA2 first chunk must reset dictionary")
            if pos + 2 > end:
                raise ValueError("truncated LZMA2 chunk header")
            n = int.from_bytes(data[pos:pos + 2], "big") + 1
            pos += 2
            if pos + n > end:
                raise ValueError("LZMA2 uncompressed chunk overruns")
            if len(out) + n > max_output:
                raise ValueError("LZMA2 output exceeds max_output bound")
            out += data[pos:pos + n]
            pos += n
            need_state_reset = True  # machine state is now stale
            continue
        if c < 0x80:
            raise ValueError(f"invalid LZMA2 control byte {c:#04x}")
        reset = (c >> 5) & 3
        if pos + 4 > end:
            raise ValueError("truncated LZMA2 chunk header")
        unpacked = ((c & 0x1F) << 16) \
            + int.from_bytes(data[pos:pos + 2], "big") + 1
        comp = int.from_bytes(data[pos + 2:pos + 4], "big") + 1
        pos += 4
        if reset == 3:
            dict_start = len(out)
            need_dict_reset = False
        elif need_dict_reset:
            raise ValueError("LZMA2 first chunk must reset dictionary")
        if reset >= 2:
            if pos >= end:
                raise ValueError("truncated LZMA2 props byte")
            lc, lp, pb = split_props(data[pos])
            pos += 1
            if dec is None:
                dec = LzmaDecoder(lc, lp, pb)
            else:
                dec.set_props(lc, lp, pb)
            need_state_reset = False
        elif reset == 1:
            if dec is None:
                raise ValueError("LZMA2 state reset before properties")
            dec.reset_state()
            need_state_reset = False
        elif dec is None:
            raise ValueError("LZMA2 chunk before properties")
        elif need_state_reset:
            raise ValueError(
                "LZMA2 chunk after uncompressed data must reset state"
            )
        if pos + comp > end:
            raise ValueError("LZMA2 compressed chunk overruns")
        if len(out) + unpacked > max_output:
            raise ValueError("LZMA2 output exceeds max_output bound")
        chunk_end, _ = dec.decode_chunk(
            data[:pos + comp], pos, out,
            dict_start=dict_start,
            n_out=unpacked,
            allow_end_marker=False,
            max_output=max_output,
        )
        if chunk_end != pos + comp:
            raise ValueError(
                "LZMA2 chunk did not consume its declared size"
            )
        pos += comp


def xz_decode_block(data: bytes, pos: int, check_type: int,
                    max_output: int = 1 << 28):
    """Decode ONE xz block starting at ``pos`` (its header byte) in
    isolation — the indexed / parallel read unit. Verifies the header
    CRC, filter chain, sizes, and the per-block integrity check.
    Returns (uncompressed bytes, position after the check, unpadded
    size)."""
    import hashlib

    check_size = _CHECK_SIZES[check_type]
    first = data[pos]
    if first == 0x00:
        raise ValueError("index indicator where a block was expected")
    header_size = (first + 1) * 4
    hdr = data[pos:pos + header_size]
    if len(hdr) < header_size:
        raise ValueError("truncated xz block header")
    want = int.from_bytes(hdr[header_size - 4:], "little")
    if _crc32(hdr[:header_size - 4]) != want:
        raise ValueError("xz block header CRC mismatch")
    bflags = hdr[1]
    if bflags & 0x3C:
        raise ValueError("reserved xz block flag bits set")
    n_filters = (bflags & 3) + 1
    hp = 2
    comp_size = unc_size = None
    if bflags & 0x40:
        comp_size, hp = _read_vli(hdr, hp)
    if bflags & 0x80:
        unc_size, hp = _read_vli(hdr, hp)
    lzma2_props = None
    pre_filters = []  # (fid, props) applied in reverse post-LZMA2
    for fi in range(n_filters):
        fid, hp = _read_vli(hdr, hp)
        psize, hp = _read_vli(hdr, hp)
        props = hdr[hp:hp + psize]
        hp += psize
        if fid == 0x21:
            if psize != 1:
                raise ValueError("bad LZMA2 props size")
            if fi != n_filters - 1:
                raise ValueError("LZMA2 must be the last filter")
            lzma2_props = props[0]
        elif fid == 0x03:  # Delta (spec §5.3.1)
            if psize != 1:
                raise ValueError("bad delta filter props size")
            pre_filters.append((fid, props[0] + 1))
        elif fid == 0x04 or fid in (0x05, 0x06, 0x07, 0x08, 0x09, 0x0A,
                                    0x0B):
            # BCJ branch filters (spec §5.3.2): x86 + the full family
            # (PPC/IA64/ARM/ARMThumb/SPARC/ARM64, round 11; RISC-V
            # with its paired-AUIPC pack/escape rewrites closed the
            # family later the same round)
            from modeltracking_spark.operators.bcj import BRANCH_FILTERS

            align = 1 if fid == 0x04 else BRANCH_FILTERS[fid][1]
            if psize == 0:
                start = 0
            elif psize == 4:
                start = int.from_bytes(props, "little")
                if start % align:
                    raise ValueError(
                        f"BCJ start offset {start} not a multiple of "
                        f"the filter alignment {align}"
                    )
            else:
                raise ValueError("bad BCJ filter props size")
            pre_filters.append((fid, start))
        else:
            raise NotImplementedError(
                f"xz filter {fid:#x} not implemented — not a filter "
                "the xz file-format spec registers (delta, the eight "
                "branch filters, and LZMA2 are all supported)"
            )
    if lzma2_props is None:
        raise ValueError("xz block has no LZMA2 filter")
    if lzma2_props & 0xC0:
        raise ValueError("reserved LZMA2 dict-size bits set")
    if any(hdr[hp:header_size - 4]):
        raise ValueError("nonzero xz block header padding")

    body_start = pos + header_size
    block_out, after = lzma2_decompress(
        data, body_start,
        end=None if comp_size is None else body_start + comp_size,
        max_output=max_output,
    )
    for fid, fprop in reversed(pre_filters):
        from modeltracking_spark.operators.bcj import (
            branch_bcj_decode,
            delta_decode,
            x86_bcj_decode,
        )

        if fid == 0x03:
            block_out = bytearray(
                delta_decode(bytes(block_out), fprop)
            )
        elif fid == 0x04:
            block_out = bytearray(
                x86_bcj_decode(bytes(block_out), fprop)
            )
        else:
            block_out = bytearray(
                branch_bcj_decode(fid, bytes(block_out), fprop)
            )
    if unc_size is not None and len(block_out) != unc_size:
        raise ValueError("xz block uncompressed size mismatch")
    comp_actual = after - body_start
    if comp_size is not None and comp_actual != comp_size:
        raise ValueError("xz block compressed size mismatch")
    pad = (-comp_actual) % 4
    if any(data[after:after + pad]):
        raise ValueError("nonzero xz block padding")
    after += pad
    check = data[after:after + check_size]
    if len(check) < check_size:
        raise ValueError("truncated xz block check")
    if check_type == 0x01:
        ok = _crc32(block_out) == int.from_bytes(check, "little")
    elif check_type == 0x04:
        ok = crc64_xz(block_out) == int.from_bytes(check, "little")
    elif check_type == 0x0A:
        ok = hashlib.sha256(block_out).digest() == check
    else:
        ok = True
    if not ok:
        raise ValueError("xz block check mismatch")
    after += check_size
    unpadded = header_size + comp_actual + check_size
    return bytes(block_out), after, unpadded


def xz_decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    """.xz stream(s) -> bytes: stream/block/index/footer framing with
    every CRC verified, per-block integrity checks over the
    uncompressed bytes (CRC32/CRC64/SHA-256), concatenated streams
    and 4-byte stream padding per the spec."""
    import hashlib

    out_all = bytearray()
    pos = 0
    while pos < len(data):
        if data[pos:pos + 4] == b"\x00\x00\x00\x00":  # stream padding
            pos += 4
            continue
        if data[pos:pos + 6] != _MAGIC:
            raise ValueError("bad xz stream magic")
        pos += 6
        flags = data[pos:pos + 2]
        if len(flags) < 2 or flags[0] != 0 or flags[1] not in _CHECK_SIZES:
            raise ValueError("unsupported xz stream flags")
        check_type = flags[1]
        check_size = _CHECK_SIZES[check_type]
        want = int.from_bytes(data[pos + 2:pos + 6], "little")
        if _crc32(flags) != want:
            raise ValueError("xz stream header CRC mismatch")
        pos += 6

        records = []  # (unpadded_size, uncompressed_size)
        while True:
            if pos >= len(data):
                raise ValueError("truncated xz stream")
            first = data[pos]
            if first == 0x00:  # index indicator
                break
            block_out, after, unpadded = xz_decode_block(
                data, pos, check_type,
                max_output=max_output - len(out_all),
            )
            records.append((unpadded, len(block_out)))
            out_all += block_out
            pos = after

        # ---- index
        index_start = pos
        pos += 1  # the 0x00 indicator
        n_rec, pos = _read_vli(data, pos)
        if n_rec != len(records):
            raise ValueError("xz index record count mismatch")
        for unpadded, unc in records:
            got_unp, pos = _read_vli(data, pos)
            got_unc, pos = _read_vli(data, pos)
            if (got_unp, got_unc) != (unpadded, unc):
                raise ValueError("xz index record mismatch")
        pad = (-(pos - index_start)) % 4
        if any(data[pos:pos + pad]):
            raise ValueError("nonzero xz index padding")
        pos += pad
        want = int.from_bytes(data[pos:pos + 4], "little")
        if _crc32(data[index_start:pos]) != want:
            raise ValueError("xz index CRC mismatch")
        pos += 4
        index_size = pos - index_start

        # ---- stream footer
        footer = data[pos:pos + 12]
        if len(footer) < 12:
            raise ValueError("truncated xz stream footer")
        want = int.from_bytes(footer[0:4], "little")
        if _crc32(footer[4:10]) != want:
            raise ValueError("xz stream footer CRC mismatch")
        backward = int.from_bytes(footer[4:8], "little")
        if (backward + 1) * 4 != index_size:
            raise ValueError("xz footer backward size mismatch")
        if footer[8:10] != flags:
            raise ValueError("xz footer flags disagree with header")
        if footer[10:12] != _FOOTER_MAGIC:
            raise ValueError("bad xz footer magic")
        pos += 12
    return bytes(out_all)


# ------------------------------------------------------------ spark kernel


def xz_roundtrip_stats(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    preset: int = 6,
):
    """Per-row stdlib-liblzma ENCODE (FORMAT_XZ, check type and
    lc/lp/pb cycled by doc_id) -> from-spec xz/LZMA2 DECODE -> stats
    through :func:`codec_roundtrip_stats` — every row cross-validates
    two independent implementations of the container AND the chunk
    layer. Narrow map, no shuffle. Output: (id, orig_len, check_id,
    dec_md5, ok)."""

    def make_codec():
        import lzma

        checks = [lzma.CHECK_CRC64, lzma.CHECK_CRC32, lzma.CHECK_SHA256,
                  lzma.CHECK_NONE]
        props = [(3, 0, 2), (0, 0, 0), (2, 1, 1), (1, 2, 0)]

        def encode(ids, raws):
            out = []
            for did, raw in zip(ids, raws):
                lc, lp, pb = props[did % len(props)]
                out.append(lzma.compress(
                    raw,
                    format=lzma.FORMAT_XZ,
                    check=checks[did % 4],
                    filters=[{
                        "id": lzma.FILTER_LZMA2,
                        "preset": preset,
                        "lc": lc, "lp": lp, "pb": pb,
                    }],
                ))
            return out

        return encode, xz_decompress

    def check_id(did, raw, blob):
        return blob[7]  # the stream header's check-type byte

    return codec_roundtrip_stats(
        df, make_codec, payload_col, id_col,
        extra=[("check_id", "long", check_id)],
    )


def xz_bcj_roundtrip_stats(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
):
    """Per-row REFERENCE ENCODE with a BCJ/Delta FILTER CHAIN cycled
    by doc_id — [x86], [delta], [delta, x86], then (round 11) the full
    branch family [arm], [armthumb], [powerpc], [sparc], [ia64]
    (stdlib liblzma) and [arm64] + [riscv] (the xz CLI: stdlib 3.11
    exposes no constants for those two, liblzma 5.8 does) — all ahead
    of LZMA2 -> from-spec chain decode (operators/bcj.py transforms
    applied in reverse after LZMA2) -> stats through
    :func:`codec_roundtrip_stats`. Narrow map, no shuffle. Output:
    (id, orig_len, chain_id, dec_md5, ok)."""
    import lzma

    chains = [
        [{"id": lzma.FILTER_X86}],
        [{"id": lzma.FILTER_DELTA, "dist": 3}],
        [{"id": lzma.FILTER_DELTA, "dist": 1}, {"id": lzma.FILTER_X86}],
        [{"id": lzma.FILTER_ARM}],
        [{"id": lzma.FILTER_ARMTHUMB}],
        [{"id": lzma.FILTER_POWERPC}],
        [{"id": lzma.FILTER_SPARC}],
        [{"id": lzma.FILTER_IA64}],
        "arm64",  # xz CLI: no stdlib constants for these in 3.11
        "riscv",
    ]

    def make_codec():
        import os
        import subprocess
        import tempfile

        def cli_encode(chain: str, check: str, raws: list) -> list:
            """ONE xz CLI invocation for every payload of a (chain,
            check) group in the batch: per-row subprocess spawns scaled
            superlinearly — 10x rows meant 10x fork/exec under
            full-core contention, 26x wall.  The .xz container has no
            filename header, so file-mode output is byte-identical to
            per-row stdin mode."""
            with tempfile.TemporaryDirectory(prefix="mt_xzbcj_") as td:
                paths = [os.path.join(td, f"{i}.bin") for i in range(len(raws))]
                for path, raw in zip(paths, raws):
                    with open(path, "wb") as fh:
                        fh.write(raw)
                subprocess.run(
                    [xz_cli_path(), "--" + chain, "--lzma2=preset=1",
                     "--check=" + check, "-k"] + paths,
                    capture_output=True, check=True,
                )
                out = []
                for path in paths:
                    with open(path + ".xz", "rb") as fh:
                        out.append(fh.read())
                return out

        def encode(ids, raws):
            blobs = [None] * len(raws)
            cli_groups: dict = {}
            for i, (did, raw) in enumerate(zip(ids, raws)):
                chain = chains[did % len(chains)]
                if isinstance(chain, str):
                    key = (chain, ["crc64", "crc32"][did % 2])
                    cli_groups.setdefault(key, []).append(i)
                else:
                    blobs[i] = lzma.compress(
                        raw,
                        format=lzma.FORMAT_XZ,
                        check=[lzma.CHECK_CRC64, lzma.CHECK_CRC32][did % 2],
                        filters=chain
                        + [{"id": lzma.FILTER_LZMA2, "preset": 1}],
                    )
            for (chain, check), rows in cli_groups.items():
                group = cli_encode(chain, check, [raws[i] for i in rows])
                for i, blob in zip(rows, group):
                    blobs[i] = blob
            return blobs

        return encode, xz_decompress

    def chain_id(did, raw, blob):
        return did % len(chains)

    return codec_roundtrip_stats(
        df, make_codec, payload_col, id_col,
        extra=[("chain_id", "long", chain_id)],
    )


def xz_block_index(data: bytes):
    """Parse a (single-stream) .xz archive's INDEX without decoding any
    block: footer -> backward size -> index records -> per-block byte
    offsets. Returns (check_type, [{"b_off", "unpadded", "unc_size",
    "d_off"}]) — everything a parallel reader needs to decode block i
    in isolation via :func:`xz_decode_block`.

    ``xz -T`` emits exactly this shape (one stream, many blocks); the
    index is the format's own seek table, so unlike seekable-zstd no
    extension is needed."""
    if len(data) < 32 or data[:6] != _MAGIC:
        raise ValueError("bad xz stream magic")
    flags = data[6:8]
    if flags[0] != 0 or flags[1] not in _CHECK_SIZES:
        raise ValueError("unsupported xz stream flags")
    check_type = flags[1]
    end = len(data)
    while end >= 4 and data[end - 4:end] == b"\x00\x00\x00\x00":
        end -= 4  # stream padding
    footer = data[end - 12:end]
    if footer[10:12] != _FOOTER_MAGIC:
        raise ValueError("bad xz footer magic")
    if footer[8:10] != flags:
        raise ValueError("xz footer flags disagree with header")
    if _crc32(footer[4:10]) != int.from_bytes(footer[:4], "little"):
        raise ValueError("xz stream footer CRC mismatch")
    index_size = (int.from_bytes(footer[4:8], "little") + 1) * 4
    index_start = end - 12 - index_size
    if index_start < 12 or data[index_start] != 0x00:
        raise ValueError("xz footer backward size does not hit the index")
    pos = index_start + 1
    n_rec, pos = _read_vli(data, pos)
    if n_rec > 1 << 30:
        raise ValueError("implausible xz index record count")
    entries = []
    b_off = 12  # first block follows the 12-byte stream header
    d_off = 0
    for _ in range(n_rec):
        unpadded, pos = _read_vli(data, pos)
        unc, pos = _read_vli(data, pos)
        entries.append({"b_off": b_off, "unpadded": unpadded,
                        "unc_size": unc, "d_off": d_off})
        b_off += unpadded + ((-unpadded) % 4)
        d_off += unc
    if b_off != index_start:
        raise ValueError(
            f"xz index covers {b_off} bytes but blocks span {index_start}"
        )
    pad = (-(pos - index_start)) % 4
    if any(data[pos:pos + pad]):
        raise ValueError("nonzero xz index padding")
    pos += pad
    if _crc32(data[index_start:pos]) != int.from_bytes(
        data[pos:pos + 4], "little"
    ):
        raise ValueError("xz index CRC mismatch")
    return check_type, entries


def xz_block_index_from_file(fh):
    """Index via TAIL reads only (footer -> backward size -> index
    region) — no block bytes touched. The 100 TB partition-planning
    shape."""
    import os

    fh.seek(0, os.SEEK_END)
    size = fh.tell()
    if size < 32:
        raise ValueError("too short for an xz archive")
    fh.seek(0)
    head = fh.read(8)
    if head[:6] != _MAGIC:
        raise ValueError("bad xz stream magic")
    flags = head[6:8]
    if flags[0] != 0 or flags[1] not in _CHECK_SIZES:
        raise ValueError("unsupported xz stream flags")
    end = size
    # stream padding is 4-byte zero words
    fh.seek(end - 4)
    while end >= 4 and fh.read(4) == b"\x00\x00\x00\x00":
        end -= 4
        if end >= 4:
            fh.seek(end - 4)
    fh.seek(end - 12)
    footer = fh.read(12)
    if footer[10:12] != _FOOTER_MAGIC:
        raise ValueError("bad xz footer magic")
    if footer[8:10] != flags:
        raise ValueError("xz footer flags disagree with header")
    if _crc32(footer[4:10]) != int.from_bytes(footer[:4], "little"):
        raise ValueError("xz stream footer CRC mismatch")
    index_size = (int.from_bytes(footer[4:8], "little") + 1) * 4
    index_start = end - 12 - index_size
    if index_start < 12:
        raise ValueError("xz footer backward size does not hit the index")
    fh.seek(index_start)
    region = fh.read(index_size)
    if region[0] != 0x00:
        raise ValueError("xz footer backward size does not hit the index")
    pos = 1
    n_rec, pos = _read_vli(region, pos)
    if n_rec > 1 << 30:
        raise ValueError("implausible xz index record count")
    entries = []
    b_off = 12
    d_off = 0
    for _ in range(n_rec):
        unpadded, pos = _read_vli(region, pos)
        unc, pos = _read_vli(region, pos)
        entries.append({"b_off": b_off, "unpadded": unpadded,
                        "unc_size": unc, "d_off": d_off})
        b_off += unpadded + ((-unpadded) % 4)
        d_off += unc
    if b_off != index_start:
        raise ValueError(
            f"xz index covers {b_off} bytes but blocks span {index_start}"
        )
    pad = (-pos) % 4
    if any(region[pos:pos + pad]):
        raise ValueError("nonzero xz index padding")
    pos += pad
    if _crc32(region[:pos]) != int.from_bytes(region[pos:pos + 4],
                                              "little"):
        raise ValueError("xz index CRC mismatch")
    return flags[1], entries


def xz_read_block(data: bytes, check_type: int, entry: dict,
                  max_output: int = 1 << 28) -> bytes:
    """Decode ONE indexed block in isolation, verifying its size
    against the index record (plus the block's own CRC/check)."""
    raw, _after, unpadded = xz_decode_block(
        data, entry["b_off"], check_type, max_output=max_output
    )
    if unpadded != entry["unpadded"] or len(raw) != entry["unc_size"]:
        raise ValueError("xz block disagrees with its index record")
    return raw
