"""Pure-Python/numpy PNG codec (extension surface; SURVEY.md §2.12
multimodal tier) — the LOSSLESS compressed-image path, from the public
PNG specification (RFC 2083 / ISO 15948), completing the compressed-
codec story next to the baseline JPEG codec (``operators/jpeg.py``).

Scope: greyscale (color type 0), truecolor RGB (2), indexed
palette (3, incl. tRNS translucency -> RGBA), and RGBA (6); straight AND Adam7-interlaced
layouts on both encode and decode (seven independently-filtered
sub-images scattered by (offset, stride), empty passes emitting no
bytes per spec); all five scanline filters (None/Sub/Up/Average/Paeth)
both directions — the encoder deliberately CYCLES the filter type per
row so every roundtrip exercises every unfilter path. DEFLATE is the stdlib
``zlib`` (the reference implementation of the very RFCs PNG cites);
chunk CRC32s are verified on read and emitted on write.

Every legal bit depth decodes: 8 and 16 (big-endian samples) for all
color types, and the sub-byte 1/2/4-bit packed rows (MSB-first, filters
over packed bytes with bpp=1 per spec) for greyscale and palette;
palette tRNS translucency expands to RGBA. Nothing decodes
approximately — malformed/illegal streams raise descriptive errors.

Because PNG is lossless, ANY deterministic fixture image roundtrips
bit-exactly — so the SQL oracle for ``png_decode_stats_docs`` replays
an arbitrary per-pixel formula (no block-constant restriction like the
JPEG oracle needs), while the filter chain, DEFLATE stream, and CRC
plumbing are all on the attested path.

Scale posture: codec runs per payload inside Arrow-batched
``mapInPandas`` — a narrow map, no shuffle.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"
#: color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}




def _malformed_guard(kind):
    """Decorator: low-level parse crashes on corrupt bytes (struct
    under-reads, index overruns, absurd header values) surface as ONE
    descriptive ValueError instead of leaking IndexError/KeyError/
    OverflowError internals — the loud-reject contract, fuzz-enforced
    in tests/test_fuzz_codecs.py."""
    import functools
    import struct as _struct

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(*a, **kw):
            try:
                return fn(*a, **kw)
            except (ValueError, NotImplementedError):
                raise
            except (_struct.error, IndexError, KeyError, OverflowError,
                    ZeroDivisionError, MemoryError) as exc:
                raise ValueError(
                    f"malformed {kind} stream: "
                    f"{type(exc).__name__}: {exc}"
                ) from exc
        return wrapped
    return deco

def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


#: Adam7 pass layout (x0, y0, dx, dy) — RFC 2083 §2.6
ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _filter_rows(raw, bpp: int) -> bytes:
    """Filter a (rows, stride) int16 sub-image: per-row filter byte +
    filtered bytes, filter type cycling y % 5 (exercises every filter
    in any multi-row (sub-)image)."""
    import numpy as np

    out = bytearray()
    stride = raw.shape[1]
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(raw.shape[0]):
        row = raw[y]
        ft = y % 5
        if ft == 0:
            filt = row
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
            filt = (row - left) % 256
        elif ft == 2:  # Up
            filt = (row - prev) % 256
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
            filt = (row - (left + prev) // 2) % 256
        else:  # Paeth
            left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
            # _paeth over whole rows: same ties, same order of choices
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = (row - pred) % 256
        out.append(ft)
        out += filt.astype(np.uint8).tobytes()
        prev = row
    return bytes(out)


def _unfilter_rows(raw: bytes, off: int, n_rows: int, stride: int,
                   bpp: int):
    """Inverse of :func:`_filter_rows`: (filter byte + stride bytes) per
    row starting at ``raw[off]`` -> ((n_rows, stride) uint8, next off)."""
    import numpy as np

    out = np.empty((n_rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    if off + n_rows * (stride + 1) > len(raw):
        raise ValueError(
            f"PNG data length {len(raw)} too short: need "
            f"{n_rows} x {stride + 1} bytes from offset {off}"
        )
    for y in range(n_rows):
        ft = raw[off]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + 1
        ).astype(np.int16)
        off += 1 + stride
        if ft == 0:
            rec = row
        elif ft == 2:  # Up
            rec = (row + prev) % 256
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need left-to-right
            rec = np.zeros(stride, dtype=np.int16)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                up = int(prev[i])
                ul = int(prev[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    rec[i] = (row[i] + left) % 256
                elif ft == 3:
                    rec[i] = (row[i] + (left + up) // 2) % 256
                else:
                    rec[i] = (row[i] + _paeth(int(left), up, ul)) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft} on row {y}")
        out[y] = rec.astype(np.uint8)
        prev = out[y]
    return out, off


def encode_png(pixels, interlace: bool = False, depth: int | None = None) -> bytes:
    """uint8 (bit depth 8) or uint16 (bit depth 16, big-endian samples)
    array -> PNG bytes. Shapes: (h, w) -> greyscale, (h, w, 3) -> RGB,
    (h, w, 4) -> RGBA. Filter type cycles y % 5 per row (and per pass),
    so a multi-row image exercises every filter in one file.
    ``interlace=True`` emits Adam7: seven sub-images, each filtered
    independently — progressive rendering at the cost of locality.
    ``depth`` in (1, 2, 4) packs a GREYSCALE (h, w) image at a sub-byte
    bit depth (samples must fit; rows bit-packed MSB-first per spec,
    filters then operate on the packed bytes with bpp=1)."""
    import numpy as np

    a = np.asarray(pixels)
    if depth in (1, 2, 4):
        if a.ndim != 2 or a.dtype != np.uint8:
            raise ValueError(
                f"sub-byte depth {depth} needs a (h, w) uint8 array"
            )
        if int(a.max(initial=0)) >= (1 << depth):
            raise ValueError(
                f"samples exceed {depth}-bit range 0..{(1 << depth) - 1}"
            )
        return _encode_png_packed_gray(a, depth, interlace)
    if depth is not None and depth not in (8, 16):
        raise ValueError(f"unsupported bit depth {depth}")
    if a.dtype == np.uint16:
        depth = 16
    elif a.dtype == np.uint8:
        depth = 8
    else:
        raise ValueError(f"expected uint8 or uint16 pixels, got {a.dtype}")
    if a.ndim == 2:
        ctype, ch = 0, 1
        a = a[:, :, None]
    elif a.ndim == 3 and a.shape[2] == 3:
        ctype, ch = 2, 3
    elif a.ndim == 3 and a.shape[2] == 4:
        ctype, ch = 6, 4
    else:
        raise ValueError(f"expected (h,w)[,1|3|4] array, got {a.shape}")
    h, w = a.shape[:2]
    if h == 0 or w == 0:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    bpp = ch * (depth // 8)  # filter unit: bytes per pixel

    def rows_of(sub):
        """(ph, pw, ch) samples -> (ph, pw*bpp) BYTE rows (16-bit
        samples serialize big-endian, per spec)."""
        ph, pw = sub.shape[:2]
        if depth == 8:
            return sub.reshape(ph, pw * ch).astype(np.int16)
        return (
            np.ascontiguousarray(sub, dtype=">u2")
            .view(np.uint8).reshape(ph, pw * ch * 2).astype(np.int16)
        )

    out = bytearray()
    if interlace:
        for x0, y0, dx, dy in ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass: no bytes at all, per spec
            out += _filter_rows(rows_of(sub), bpp)
    else:
        out += _filter_rows(rows_of(a), bpp)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, int(interlace))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _chunk(b"IEND", b"")
    )


def _pack_bits_row(row, depth: int) -> bytes:
    """1-D sample array -> MSB-first bit-packed bytes (PNG packed-row
    layout; trailing bits of the last byte are zero)."""
    import numpy as np

    per = 8 // depth
    w = row.shape[0]
    padded = np.zeros(-(-w // per) * per, dtype=np.uint8)
    padded[:w] = row
    out = np.zeros(len(padded) // per, dtype=np.uint8)
    for i in range(per):
        out |= padded[i::per] << (8 - depth * (i + 1))
    return out.tobytes()


def _unpack_bits_row(raw, w: int, depth: int):
    """Inverse of :func:`_pack_bits_row` -> (w,) uint8 samples."""
    import numpy as np

    per = 8 // depth
    b = np.frombuffer(raw, dtype=np.uint8)
    mask = (1 << depth) - 1
    cols = [
        (b >> (8 - depth * (i + 1))) & mask for i in range(per)
    ]
    return np.stack(cols, axis=1).reshape(-1)[:w]


def _encode_png_packed_gray(a, depth: int, interlace: bool) -> bytes:
    """Greyscale at bit depth 1/2/4: rows bit-packed MSB-first, then
    the standard per-row filters over the PACKED bytes with bpp=1 (the
    spec's rule for sub-byte depths)."""
    import numpy as np

    h, w = a.shape
    if h == 0 or w == 0:
        raise ValueError(f"bad PNG dimensions {w}x{h}")

    def packed_rows(sub):
        ph, pw = sub.shape
        rows = [_pack_bits_row(sub[y], depth) for y in range(ph)]
        return np.frombuffer(
            b"".join(rows), dtype=np.uint8
        ).reshape(ph, -1).astype(np.int16)

    out = bytearray()
    if interlace:
        for x0, y0, dx, dy in ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            out += _filter_rows(packed_rows(sub), 1)
    else:
        out += _filter_rows(packed_rows(a), 1)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, int(interlace))
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _chunk(b"IEND", b"")
    )


@_malformed_guard("PNG")
def decode_png(data: bytes, pure_inflate: bool = False):
    """PNG bytes -> uint8 array ((h, w) for greyscale, (h, w, 3) RGB —
    palette images are expanded through their PLTE — or (h, w, 4)
    RGBA). CRCs verified; unsupported variants raise loudly.
    ``pure_inflate=True`` decompresses IDAT through the from-spec
    RFC 1951 decoder (``operators/inflate.py``) instead of stdlib
    zlib — bit-identical output, proven in tests."""
    import numpy as np

    if len(data) < 8 or data[:8] != _SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    trns = None
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        ln = struct.unpack_from(">I", data, pos)[0]
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if len(payload) != ln or pos + 12 + ln > len(data):
            raise ValueError(f"truncated PNG chunk {tag!r}")
        crc = struct.unpack_from(">I", data, pos + 8 + ln)[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"PLTE":
            plte = payload
        elif tag == b"tRNS":
            trns = payload
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    # decompression-bomb cap: DEFLATE expands at most ~1032x, so claimed
    # pixel bytes beyond that bound (or an absolute 256 MiB) are a bomb
    # or corruption, rejected BEFORE any allocation
    claimed = max(w, 1) * max(h, 1) * 4 * (2 if depth == 16 else 1)
    if claimed > max(1100 * len(data), 1 << 28):
        raise ValueError(
            f"implausible PNG dimensions {w}x{h} for a "
            f"{len(data)}-byte stream (decompression-bomb guard)"
        )
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"illegal PNG bit depth {depth}")
    if depth == 16 and ctype == 3:
        raise ValueError("16-bit palette PNG is not a legal combination")
    if depth < 8 and ctype not in (0, 3):
        raise ValueError(
            f"bit depth {depth} is only legal for greyscale/palette, "
            f"not color type {ctype}"
        )
    if ctype not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {ctype}")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG without PLTE")
    ch = _CHANNELS[ctype]
    try:
        if pure_inflate:
            from modeltracking_spark.operators.inflate import zlib_decompress

            raw = zlib_decompress(bytes(idat))
        else:
            raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG DEFLATE stream: {exc}") from exc
    if depth < 8:
        # sub-byte depths: rows are bit-packed MSB-first; filters ran
        # over the PACKED bytes with bpp=1 (the spec's rule)
        def row_stride(wpix):
            return -(-wpix * depth // 8)

        if interlace:
            samples = np.zeros((h, w), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in ADAM7:
                ph = len(range(y0, h, dy))
                pw = len(range(x0, w, dx))
                if ph == 0 or pw == 0:
                    continue
                sub, off = _unfilter_rows(raw, off, ph, row_stride(pw), 1)
                unpacked = np.stack(
                    [_unpack_bits_row(sub[y].tobytes(), pw, depth)
                     for y in range(ph)]
                )
                samples[y0::dy, x0::dx] = unpacked
            if off != len(raw):
                raise ValueError(
                    f"PNG data length {len(raw)} != Adam7 expectation {off}"
                )
        else:
            stride = row_stride(w)
            if len(raw) != h * (stride + 1):
                raise ValueError(
                    f"PNG data length {len(raw)} != expected "
                    f"{h * (stride + 1)}"
                )
            rows, _ = _unfilter_rows(raw, 0, h, stride, 1)
            samples = np.stack(
                [_unpack_bits_row(rows[y].tobytes(), w, depth)
                 for y in range(h)]
            )
        if ctype == 0:
            return samples  # raw sub-byte samples (apps scale as needed)
        pal = np.frombuffer(plte, dtype=np.uint8)
        if len(pal) % 3:
            raise ValueError("PLTE length not a multiple of 3")
        pal = pal.reshape(-1, 3)
        if int(samples.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        if trns is not None:
            alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
            if len(trns) > pal.shape[0]:
                raise ValueError("tRNS longer than the palette")
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.concatenate([pal, alpha[:, None]], axis=1)[samples]
        return pal[samples]
    sample_bytes = depth // 8
    bpp = ch * sample_bytes
    if interlace:
        # Adam7: seven independently-filtered sub-images, scattered
        # back onto the full grid by (offset, stride)
        full = np.empty((h, w * bpp), dtype=np.uint8).reshape(h, w, bpp)
        off = 0
        for x0, y0, dx, dy in ADAM7:
            ph = len(range(y0, h, dy))
            pw = len(range(x0, w, dx))
            if ph == 0 or pw == 0:
                continue
            sub, off = _unfilter_rows(raw, off, ph, pw * bpp, bpp)
            full[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
        if off != len(raw):
            raise ValueError(
                f"PNG data length {len(raw)} != Adam7 expectation {off}"
            )
        out = full.reshape(h, w * bpp)
    else:
        stride = w * bpp
        if len(raw) != h * (stride + 1):
            raise ValueError(
                f"PNG data length {len(raw)} != expected {h * (stride + 1)}"
            )
        out, _ = _unfilter_rows(raw, 0, h, stride, bpp)
    if depth == 16:
        out = (
            np.ascontiguousarray(out).view(">u2").astype(np.uint16)
            .reshape(h, w * ch)
        )
    if ctype == 0:
        return out.reshape(h, w)
    if ctype == 3:
        pal = np.frombuffer(plte, dtype=np.uint8)
        if len(pal) % 3:
            raise ValueError("PLTE length not a multiple of 3")
        pal = pal.reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        if trns is not None:
            # tRNS: alpha for the first len(trns) palette entries,
            # 255 for the rest -> expand to RGBA
            alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
            if len(trns) > pal.shape[0]:
                raise ValueError("tRNS longer than the palette")
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            rgba = np.concatenate([pal, alpha[:, None]], axis=1)
            return rgba[idx]
        return pal[idx]
    return out.reshape(h, w, ch)
