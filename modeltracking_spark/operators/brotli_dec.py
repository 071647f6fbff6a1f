"""From-spec Brotli decoder (RFC 7932) — decode side only.

Brotli is the third web-corpus codec (HTTP ``Content-Encoding: br``,
WOFF2, much of Common Crawl's HTML payloads after transport decode).
This module implements the format from RFC 7932 alone: the LSB-first
bit stream, WBITS window coding, meta-block grammar (last/empty/
metadata/uncompressed), canonical prefix codes in both the simple
(1-4 symbol) and complex (code-length-code with 16/17 repeats and
32768-space accounting) forms, block-type switching with its
two-special-symbol code and 26-entry block-count code, context
modeling for literals (LSB6/MSB6/UTF8/Signed modes) and distances
(copy-length buckets), RLE-coded context maps with inverse
move-to-front, the 704-symbol insert-and-copy length code, the
NPOSTFIX/NDIRECT distance code with the 16 short codes over the
4-entry last-distance ring, overlap-safe window copies, and static
dictionary references with the spec's word transforms (OmitFirst/
OmitLast/FermentFirst/FermentAll + prefix/suffix).

**Static data policy.** The RFC carries three pure-data appendices:
the ~120 KB static dictionary (Appendix A), the 512-byte-per-mode
context lookup tables (§7.1), and the 121 word transforms
(Appendix B).  Rather than vendoring 120 KB of constants into the
repo, this module sources exactly those tables at runtime from
``libbrotlicommon``'s PUBLIC C API (``BrotliGetDictionary``,
``BrotliGetTransforms``, ``_kBrotliContextLookupTable``) — the decode
*algorithm* contains no library calls; the library contributes only
the spec's constant data, and tests verify the loaded transforms
against ``BrotliTransformDictionaryWord`` one by one.  When the
library is absent, streams that need the static dictionary or the
UTF8 context table raise the documented typed reject; everything else
still decodes (LSB6/MSB6/Signed context modes are closed-form).

Validation: tests/test_brotli.py cross-validates against libbrotlienc/
libbrotlidec (the reference implementation) across the quality matrix
0-11, window sizes, text/binary/adversarial payloads, plus mutation
fuzz with the codec tier's typed-reject contract.
"""

from __future__ import annotations

# --------------------------------------------------------- static data

_COMMON_CANDIDATES = (
    "libbrotlicommon.so", "libbrotlicommon.so.1", "brotlicommon",
)


def _load_common():
    import ctypes
    import ctypes.util

    names = list(_COMMON_CANDIDATES)
    found = ctypes.util.find_library("brotlicommon")
    if found:
        names.insert(0, found)
    for n in names:
        try:
            return ctypes.CDLL(n)
        except OSError:
            continue
    return None


class _StaticData:
    """Lazily loaded spec tables (dictionary / transforms / context)."""

    _loaded = False
    dict_data: bytes | None = None
    size_bits: list[int] | None = None
    offsets: list[int] | None = None
    transforms: list[tuple[bytes, int, bytes]] | None = None
    context_lut: bytes | None = None

    @classmethod
    def load(cls):
        if cls._loaded:
            return cls
        cls._loaded = True
        import ctypes

        lib = _load_common()
        if lib is None:
            return cls

        class _Dict(ctypes.Structure):
            _fields_ = [
                ("size_bits_by_length", ctypes.c_uint8 * 32),
                ("offsets_by_length", ctypes.c_uint32 * 32),
                ("data_size", ctypes.c_size_t),
                ("data", ctypes.POINTER(ctypes.c_uint8)),
            ]

        class _Transforms(ctypes.Structure):
            _fields_ = [
                ("prefix_suffix_size", ctypes.c_uint16),
                ("prefix_suffix", ctypes.POINTER(ctypes.c_uint8)),
                ("prefix_suffix_map", ctypes.POINTER(ctypes.c_uint16)),
                ("num_transforms", ctypes.c_uint32),
                ("transforms", ctypes.POINTER(ctypes.c_uint8)),
                ("params", ctypes.POINTER(ctypes.c_uint8)),
                ("cutOffTransforms", ctypes.c_int16 * 10),
            ]

        try:
            lib.BrotliGetDictionary.restype = ctypes.POINTER(_Dict)
            d = lib.BrotliGetDictionary().contents
            cls.dict_data = ctypes.string_at(d.data, d.data_size)
            cls.size_bits = list(d.size_bits_by_length)
            cls.offsets = list(d.offsets_by_length)
        except Exception:
            pass
        try:
            lib.BrotliGetTransforms.restype = ctypes.POINTER(_Transforms)
            t = lib.BrotliGetTransforms().contents
            pool = ctypes.string_at(t.prefix_suffix, t.prefix_suffix_size)

            def _ps(idx: int) -> bytes:
                off = t.prefix_suffix_map[idx]
                n = pool[off]
                return pool[off + 1:off + 1 + n]

            trs = []
            for i in range(t.num_transforms):
                pfx = _ps(t.transforms[3 * i])
                typ = t.transforms[3 * i + 1]
                sfx = _ps(t.transforms[3 * i + 2])
                trs.append((pfx, typ, sfx))
            cls.transforms = trs
        except Exception:
            pass
        try:
            addr = ctypes.cast(
                getattr(lib, "_kBrotliContextLookupTable"),
                ctypes.POINTER(ctypes.c_uint8),
            )
            cls.context_lut = bytes(addr[i] for i in range(2048))
        except Exception:
            pass
        return cls


# transform types (RFC 7932 Appendix B)
_T_IDENTITY = 0
# 1..9  = OmitLast1..9
_T_FERMENT_FIRST = 10
_T_FERMENT_ALL = 11
# 12..20 = OmitFirst1..9


def _ferment(word: bytearray, pos: int) -> int:
    """One 'ferment' (uppercase) step at ``pos`` per the RFC; returns
    the number of bytes consumed."""
    c = word[pos]
    if c < 192:
        if 97 <= c <= 122:
            word[pos] ^= 32
        return 1
    if c < 224:
        if pos + 1 < len(word):
            word[pos + 1] ^= 32
        return 2
    if pos + 2 < len(word):
        word[pos + 2] ^= 5
    return 3


def transform_word(word: bytes, transform: tuple[bytes, int, bytes]) -> bytes:
    """Apply one RFC 7932 word transform: omit-first/last, ferment
    first/all, then wrap in prefix/suffix."""
    pfx, typ, sfx = transform
    w = bytearray(word)
    if 12 <= typ <= 20:  # OmitFirst1..9
        cut = typ - 11
        w = w[cut:] if cut < len(w) else bytearray()
    elif 1 <= typ <= 9:  # OmitLast1..9
        cut = typ
        w = w[:-cut] if cut < len(w) else bytearray()
    elif typ == _T_FERMENT_FIRST:
        if w:
            _ferment(w, 0)
    elif typ == _T_FERMENT_ALL:
        i = 0
        while i < len(w):
            i += _ferment(w, i)
    elif typ != _T_IDENTITY:
        raise ValueError(f"unknown brotli transform type {typ}")
    return bytes(pfx) + bytes(w) + bytes(sfx)


# ----------------------------------------------------------- bit input

class _Bits:
    """LSB-first bit reader (RFC 7932 §2)."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self.n = len(data) * 8

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        end = self.pos + nbits
        if end > self.n:
            raise ValueError("truncated brotli stream")
        first = self.pos >> 3
        last = (end - 1) >> 3
        chunk = int.from_bytes(self.data[first:last + 1], "little")
        v = (chunk >> (self.pos & 7)) & ((1 << nbits) - 1)
        self.pos = end
        return v

    def bit(self) -> int:
        if self.pos >= self.n:
            raise ValueError("truncated brotli stream")
        v = (self.data[self.pos >> 3] >> (self.pos & 7)) & 1
        self.pos += 1
        return v

    def align(self):
        pad = (-self.pos) % 8
        if pad and self.read(pad):
            raise ValueError("nonzero brotli padding bits")

    def bytes_(self, n: int) -> bytes:
        assert self.pos % 8 == 0
        start = self.pos >> 3
        if start + n > len(self.data):
            raise ValueError("truncated brotli uncompressed block")
        self.pos += n * 8
        return self.data[start:start + n]


# -------------------------------------------------------- prefix codes

class _Code:
    """Canonical prefix code: decode by first-code arithmetic (codes
    packed MSB-first as each bit arrives, DEFLATE-style)."""

    __slots__ = ("counts", "symbols", "offsets", "single")

    def __init__(self, lengths: dict[int, int], single: int | None = None):
        # lengths: symbol -> code length (1..15); single: 0-bit code
        self.single = single
        if single is not None:
            return
        max_len = max(lengths.values())
        counts = [0] * (max_len + 1)
        for l in lengths.values():
            counts[l] += 1
        syms: list[list[int]] = [[] for _ in range(max_len + 1)]
        for s in sorted(lengths):
            syms[lengths[s]].append(s)
        self.counts = counts
        self.symbols = [s for bucket in syms for s in bucket]
        offs = [0] * (max_len + 2)
        for l in range(1, max_len + 1):
            offs[l + 1] = offs[l] + counts[l]
        self.offsets = offs

    def decode(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        first = 0
        index = 0
        for l in range(1, len(self.counts)):
            code = (code << 1) | br.bit()
            cnt = self.counts[l]
            if code - first < cnt:
                return self.symbols[index + (code - first)]
            index += cnt
            first = (first + cnt) << 1
        raise ValueError("invalid brotli prefix code word")


# fixed code for the code-length code lengths (RFC 7932 §3.5):
# symbol: length = {0:2, 1:4, 2:3, 3:2, 4:2, 5:4}
_CLC_CODE = _Code({0: 2, 1: 4, 2: 3, 3: 2, 4: 2, 5: 4})
_CLC_ORDER = (1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _read_prefix_code(br: _Bits, alphabet_size: int) -> _Code:
    """RFC 7932 §3.4-3.5: simple (1-4 symbols) or complex form."""
    hskip = br.read(2)
    if hskip == 1:  # simple
        alpha_bits = max((alphabet_size - 1).bit_length(), 1)
        nsym = br.read(2) + 1
        syms = []
        for _ in range(nsym):
            s = br.read(alpha_bits)
            if s >= alphabet_size:
                raise ValueError("brotli simple-code symbol out of range")
            if s in syms:
                raise ValueError("duplicate brotli simple-code symbol")
            syms.append(s)
        if nsym == 1:
            return _Code({}, single=syms[0])
        if nsym == 2:
            syms.sort()
            return _Code({syms[0]: 1, syms[1]: 1})
        if nsym == 3:
            a, b, c = syms[0], *sorted(syms[1:])
            return _Code({a: 1, b: 2, c: 2})
        if br.bit():  # tree-select: lengths 1,2,3,3
            a, b, c, d = syms[0], syms[1], *sorted(syms[2:])
            return _Code({a: 1, b: 2, c: 3, d: 3})
        syms.sort()
        return _Code({s: 2 for s in syms})

    # complex: code-length code first
    clc_len: dict[int, int] = {}
    space = 32
    num_codes = 0
    for i, sym in enumerate(_CLC_ORDER):
        if i < hskip:
            continue
        l = _CLC_CODE.decode(br)
        if l:
            clc_len[sym] = l
            num_codes += 1
            space -= 32 >> l
            if space <= 0:
                break
    if num_codes == 0:
        raise ValueError("brotli code-length code is empty")
    if num_codes != 1 and space != 0:
        raise ValueError("brotli code-length code over/under-subscribed")
    if num_codes == 1:
        clc = _Code({}, single=next(iter(clc_len)))
    else:
        clc = _Code(clc_len)

    lengths: dict[int, int] = {}
    space = 32768
    prev_len = 8
    repeat = 0
    repeat_len = 0
    i = 0
    while i < alphabet_size and space > 0:
        s = clc.decode(br)
        if s < 16:
            if s:
                lengths[i] = s
                prev_len = s
                space -= 32768 >> s
            i += 1
            repeat = 0
        else:
            extra_bits = s - 14  # 16 -> 2, 17 -> 3
            new_len = prev_len if s == 16 else 0
            if repeat_len != new_len:
                repeat = 0
                repeat_len = new_len
            old = repeat
            if repeat:
                repeat = ((repeat - 2) << extra_bits)
            repeat += br.read(extra_bits) + 3
            delta = repeat - old
            if i + delta > alphabet_size:
                raise ValueError("brotli code lengths overrun the alphabet")
            if repeat_len:
                for k in range(i, i + delta):
                    lengths[k] = repeat_len
                space -= delta << (15 - repeat_len)
            i += delta
    if space < 0:
        raise ValueError("brotli prefix code oversubscribed")
    nz = [s for s in lengths if lengths[s]]
    if len(nz) == 1:
        return _Code({}, single=nz[0])
    if space != 0:
        raise ValueError("brotli prefix code undersubscribed")
    return _Code(lengths)


# ------------------------------------------------- header value tables

def _read_count(br: _Bits) -> int:
    """NBLTYPES / NTREES count code (1..256)."""
    if not br.bit():
        return 1
    n = br.read(3)
    return (1 << n) + br.read(n) + 1


_BLOCK_LEN_EXTRA = (2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5,
                    6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
_BLOCK_LEN_BASE = []
_b = 1
for _e in _BLOCK_LEN_EXTRA:
    _BLOCK_LEN_BASE.append(_b)
    _b += 1 << _e

_INS_BASE = (0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66, 98,
             130, 194, 322, 578, 1090, 2114, 6210, 22594)
_INS_EXTRA = (0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
              6, 7, 8, 9, 10, 12, 14, 24)
_CP_BASE = (2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38, 54,
            70, 102, 134, 198, 326, 582, 1094, 2118)
_CP_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
             5, 5, 6, 7, 8, 9, 10, 24)
_INS_RANGE_LUT = (0, 0, 8, 8, 0, 16, 8, 16, 16)
_CP_RANGE_LUT = (0, 8, 0, 8, 16, 0, 16, 8, 16)

_DIST_SHORT_IDX = (3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2)
_DIST_SHORT_VAL = (0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2, -3, 3)


def _read_block_len(br: _Bits, code: _Code) -> int:
    sym = code.decode(br)
    if sym >= 26:
        raise ValueError("brotli block-count symbol out of range")
    return _BLOCK_LEN_BASE[sym] + br.read(_BLOCK_LEN_EXTRA[sym])


def _read_context_map(br: _Bits, size: int, ntrees: int) -> list[int]:
    """RFC 7932 §7.3: RLE-of-zeros prefix code + optional inverse MTF."""
    rlemax = 0
    if br.bit():
        rlemax = br.read(4) + 1
    code = _read_prefix_code(br, ntrees + rlemax)
    cmap: list[int] = []
    while len(cmap) < size:
        s = code.decode(br)
        if s == 0:
            cmap.append(0)
        elif s <= rlemax:
            reps = (1 << s) + br.read(s)
            if len(cmap) + reps > size:
                raise ValueError("brotli context-map RLE overrun")
            cmap.extend([0] * reps)
        else:
            cmap.append(s - rlemax)
    if br.bit():  # inverse move-to-front
        mtf = list(range(256))
        for i, v in enumerate(cmap):
            val = mtf.pop(v)
            mtf.insert(0, val)
            cmap[i] = val
    if any(v >= ntrees for v in cmap):
        raise ValueError("brotli context-map value out of range")
    return cmap


class _BlockState:
    """Block-type switching state for one category (§6)."""

    __slots__ = ("n", "btype", "prev", "length", "type_code", "len_code")

    def __init__(self, br: _Bits, n: int):
        self.n = n
        self.btype = 0
        self.prev = 1
        if n > 1:
            self.type_code = _read_prefix_code(br, n + 2)
            self.len_code = _read_prefix_code(br, 26)
            self.length = _read_block_len(br, self.len_code)
        else:
            self.type_code = None
            self.len_code = None
            self.length = 1 << 60  # effectively infinite

    def tick(self, br: _Bits):
        if self.length == 0:
            sym = self.type_code.decode(br)
            if sym == 0:
                new = self.prev
            elif sym == 1:
                new = (self.btype + 1) % self.n
            else:
                new = sym - 2
            self.prev = self.btype
            self.btype = new
            self.length = _read_block_len(br, self.len_code)
        self.length -= 1


def brotli_decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    """RFC 7932 stream -> bytes."""
    br = _Bits(data)
    # WBITS (§9.1)
    if br.bit() == 0:
        wbits = 16
    else:
        n = br.read(3)
        if n:
            wbits = 17 + n
        else:
            n = br.read(3)
            if n == 0:
                wbits = 17
            elif n == 1:
                raise ValueError("invalid brotli WBITS code")
            else:
                wbits = 8 + n
    max_backward = (1 << wbits) - 16

    static = _StaticData.load()
    out = bytearray()
    dist_rb = [16, 15, 11, 4]
    rb_idx = 0

    islast = False
    while not islast:
        islast = bool(br.bit())
        if islast and br.bit():  # ISLASTEMPTY
            break
        mnib = br.read(2)
        if mnib == 3:  # metadata meta-block
            if br.bit():
                raise ValueError("brotli metadata reserved bit set")
            skip_bytes = br.read(2)
            skip = 0
            if skip_bytes:
                skip = int.from_bytes(
                    bytes(br.read(8) for _ in range(skip_bytes)), "little"
                )
                if skip_bytes > 1 and skip >> ((skip_bytes - 1) * 8) == 0:
                    raise ValueError("non-minimal brotli metadata length")
                skip += 1
            br.align()
            br.bytes_(skip)  # metadata content is application-defined
            continue
        mlen = br.read(4 * (mnib + 4)) + 1
        if mnib and mlen <= (1 << (4 * (mnib + 3))):
            raise ValueError("non-minimal brotli MNIBBLES")
        if len(out) + mlen > max_output:
            raise ValueError("brotli output exceeds max_output bound")
        if not islast and br.bit():  # ISUNCOMPRESSED
            br.align()
            out += br.bytes_(mlen)
            continue

        # --- compressed meta-block header -------------------------
        bs_l = _BlockState(br, _read_count(br))
        bs_i = _BlockState(br, _read_count(br))
        bs_d = _BlockState(br, _read_count(br))
        npostfix = br.read(2)
        ndirect = br.read(4) << npostfix
        cmodes = [br.read(2) for _ in range(bs_l.n)]
        ntrees_l = _read_count(br)
        cmap_l = ([0] * (64 * bs_l.n) if ntrees_l == 1
                  else _read_context_map(br, 64 * bs_l.n, ntrees_l))
        ntrees_d = _read_count(br)
        cmap_d = ([0] * (4 * bs_d.n) if ntrees_d == 1
                  else _read_context_map(br, 4 * bs_d.n, ntrees_d))
        lit_codes = [_read_prefix_code(br, 256) for _ in range(ntrees_l)]
        iac_codes = [_read_prefix_code(br, 704) for _ in range(bs_i.n)]
        dist_alpha = 16 + ndirect + (48 << npostfix)
        dist_codes = [_read_prefix_code(br, dist_alpha)
                      for _ in range(ntrees_d)]

        need_utf8 = any(m == 2 for m in cmodes) and ntrees_l > 1
        if need_utf8 and static.context_lut is None:
            raise ValueError(
                "brotli UTF8 context mode needs the spec's context table "
                "— libbrotlicommon is absent (static-data plug-in point)"
            )

        # --- command loop ------------------------------------------
        remaining = mlen
        while remaining > 0:
            bs_i.tick(br)
            cmd = iac_codes[bs_i.btype].decode(br)
            range_idx = cmd >> 6
            implicit_d0 = range_idx < 2
            if not implicit_d0:
                range_idx -= 2
            ins_code = _INS_RANGE_LUT[range_idx] + ((cmd >> 3) & 7)
            cp_code = _CP_RANGE_LUT[range_idx] + (cmd & 7)
            ins_len = _INS_BASE[ins_code] + br.read(_INS_EXTRA[ins_code])
            cp_len = _CP_BASE[cp_code] + br.read(_CP_EXTRA[cp_code])

            # literals
            for _ in range(ins_len):
                if remaining == 0:
                    raise ValueError("brotli insert overruns meta-block")
                bs_l.tick(br)
                bt = bs_l.btype
                mode = cmodes[bt]
                if ntrees_l == 1:
                    tree = lit_codes[0]
                else:
                    p1 = out[-1] if out else 0
                    p2 = out[-2] if len(out) >= 2 else 0
                    if mode == 0:       # LSB6
                        ctx = p1 & 0x3F
                    elif mode == 1:     # MSB6
                        ctx = p1 >> 2
                    elif mode == 2:     # UTF8 (spec table)
                        lut = static.context_lut
                        ctx = lut[1024 + p1] | lut[1024 + 256 + p2]
                    else:               # Signed
                        lut = static.context_lut
                        if lut is not None:
                            ctx = lut[1536 + p1] | lut[1536 + 256 + p2]
                        else:
                            ctx = (_signed_class(p1) << 3) | _signed_class(p2)
                    tree = lit_codes[cmap_l[(bt << 6) + ctx]]
                out.append(tree.decode(br))
                remaining -= 1
            if remaining == 0:
                break  # copy part of the final command is ignored

            # distance
            max_dist = min(len(out), max_backward)
            if implicit_d0:
                dcode = 0
                distance = dist_rb[(rb_idx + 3) & 3]
            else:
                bs_d.tick(br)
                dctx = min(cp_len, 5) - 2
                tree = dist_codes[cmap_d[(bs_d.btype << 2) + dctx]]
                dcode = tree.decode(br)
                if dcode < 16:
                    distance = (
                        dist_rb[(rb_idx + _DIST_SHORT_IDX[dcode]) & 3]
                        + _DIST_SHORT_VAL[dcode]
                    )
                    if distance <= 0:
                        raise ValueError("brotli short distance underflow")
                elif dcode < 16 + ndirect:
                    distance = dcode - 16 + 1
                else:
                    h = (dcode - ndirect - 16) >> npostfix
                    lcode = (dcode - ndirect - 16) & ((1 << npostfix) - 1)
                    ndistbits = 1 + (h >> 1)
                    offset = ((2 + (h & 1)) << ndistbits) - 4
                    distance = (((offset + br.read(ndistbits)) << npostfix)
                                + lcode + ndirect + 1)

            if distance <= max_dist:
                if dcode != 0:
                    dist_rb[rb_idx & 3] = distance
                    rb_idx += 1
                if cp_len > remaining:
                    raise ValueError("brotli copy overruns meta-block")
                start = len(out) - distance
                if distance >= cp_len:
                    out += out[start:start + cp_len]
                else:
                    for _ in range(cp_len):
                        out.append(out[-distance])
                remaining -= cp_len
            else:
                # static dictionary reference (§8)
                if static.dict_data is None or static.transforms is None:
                    raise ValueError(
                        "brotli static-dictionary reference — "
                        "libbrotlicommon is absent (static-data "
                        "plug-in point)"
                    )
                if not 4 <= cp_len <= 24 or static.size_bits[cp_len] == 0:
                    raise ValueError(
                        "brotli dictionary copy length out of range"
                    )
                addr = distance - max_dist - 1
                nbits = static.size_bits[cp_len]
                word_idx = addr & ((1 << nbits) - 1)
                tid = addr >> nbits
                if tid >= len(static.transforms):
                    raise ValueError("brotli transform id out of range")
                woff = static.offsets[cp_len] + word_idx * cp_len
                word = static.dict_data[woff:woff + cp_len]
                piece = transform_word(word, static.transforms[tid])
                if len(piece) > remaining:
                    raise ValueError(
                        "brotli dictionary word overruns meta-block"
                    )
                out += piece
                remaining -= len(piece)
    br.align()
    if br.pos < br.n and any(
        data[br.pos >> 3:]
    ):
        raise ValueError("trailing bytes after brotli stream")
    return bytes(out)


def _signed_class(b: int) -> int:
    """Closed-form CONTEXT_SIGNED class (§7.1)."""
    if b == 0:
        return 0
    if b <= 15:
        return 1
    if b <= 63:
        return 2
    if b <= 127:
        return 3
    if b <= 191:
        return 4
    if b <= 239:
        return 5
    if b <= 254:
        return 6
    return 7


# ----------------------------------------------------------- store path

def brotli_store(data: bytes) -> bytes:
    """A valid RFC 7932 stream that stores ``data`` uncompressed —
    WBITS=16, a run of ISUNCOMPRESSED meta-blocks, then an
    ISLAST+ISLASTEMPTY terminator.  The from-spec fallback encoder for
    the Spark kernel when libbrotlienc is absent (mirrors the subset-
    encoder pattern of the other codec tiers)."""
    bits: list[int] = []
    out = bytearray()

    def put(v: int, n: int):
        for i in range(n):
            bits.append((v >> i) & 1)

    def flush_aligned():
        while len(bits) % 8:
            bits.append(0)
        for i in range(0, len(bits), 8):
            out.append(sum(b << k for k, b in enumerate(bits[i:i + 8])))
        bits.clear()

    put(0, 1)  # WBITS = 16
    pos = 0
    while pos < len(data):
        chunk = data[pos:pos + (1 << 24)]
        pos += len(chunk)
        put(0, 1)             # ISLAST = 0
        mlen = len(chunk) - 1
        nib = max((mlen.bit_length() + 3) // 4, 4)
        put(nib - 4, 2)       # MNIBBLES
        put(mlen, 4 * nib)    # MLEN - 1
        put(1, 1)             # ISUNCOMPRESSED
        flush_aligned()
        out += chunk
    put(1, 1)  # ISLAST
    put(1, 1)  # ISLASTEMPTY
    flush_aligned()
    return bytes(out)


# ------------------------------------------------------------ spark kernel

def brotli_roundtrip_stats(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
):
    """Per-row brotli ENCODE -> from-spec DECODE -> stats through
    :func:`~modeltracking_spark.operators.kernel.codec_roundtrip_stats`.
    The encoder is libbrotlienc via ctypes when present (the REFERENCE
    implementation, bound once per partition on the executor; quality
    cycled 1/5/9/11 and mode cycled generic/text by id so stream shapes
    vary from uncompressed blocks to dictionary+transform+context-
    modeled commands) and the from-spec literal-entropy encoder
    otherwise. Lossless, so output md5 is encoder-independent. Narrow
    map, no shuffle. Output: (id, orig_len, quality, dec_md5, ok)."""
    from modeltracking_spark.operators.kernel import codec_roundtrip_stats

    qualities = [1, 5, 9, 11]

    def make_codec():
        import ctypes
        import ctypes.util

        try:
            lib = ctypes.CDLL(
                ctypes.util.find_library("brotlienc") or "libbrotlienc.so.1"
            )
        except OSError:
            lib = None
        if lib is not None:
            lib.BrotliEncoderCompress.restype = ctypes.c_int
            lib.BrotliEncoderCompress.argtypes = [
                ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
                ctypes.c_char_p, ctypes.POINTER(ctypes.c_size_t),
                ctypes.c_char_p,
            ]

        def reference_encode(raw, quality, mode):
            bound = len(raw) + (len(raw) >> 1) + 1024
            buf = ctypes.create_string_buffer(bound)
            n = ctypes.c_size_t(bound)
            if not lib.BrotliEncoderCompress(
                quality, 22, mode, len(raw), raw, ctypes.byref(n), buf
            ):
                raise ValueError("libbrotlienc compress failed")
            return buf.raw[:n.value]

        def encode(ids, raws):
            if lib is None:
                return [brotli_compress(raw) for raw in raws]
            return [
                reference_encode(raw, qualities[did % 4], (did >> 2) % 2)
                for did, raw in zip(ids, raws)
            ]

        return encode, brotli_decompress

    def quality(did, raw, blob):
        return qualities[did % 4]

    return codec_roundtrip_stats(
        df, make_codec, payload_col, id_col,
        extra=[("quality", "long", quality)],
    )


# ------------------------------------------------------- subset encoder

class _BitWriter:
    """LSB-first bit writer (prefix-code words are emitted MSB-of-code
    first, matching the decoder's bit-by-bit canonical walk)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, v: int, n: int):
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def put_code(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.put((code >> i) & 1, 1)

    def align(self):
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0

    def bytes_(self) -> bytes:
        self.align()
        return bytes(self.out)


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical per the decoder's rule."""
    codes = {}
    code = 0
    for l in range(1, 16):
        for s in sorted(k for k, v in lengths.items() if v == l):
            codes[s] = (code, l)
            code += 1
        code <<= 1
    return codes


def _limited_huffman(freq: dict[int, int], max_len: int = 15) -> dict:
    """Length-limited Huffman code lengths. Plain Huffman over >= 2
    symbols is always Kraft-complete (the decoder's 32768-space
    accounting requires completeness); depth overflow is resolved by
    the classic frequency-flattening iteration (halve and rebuild),
    which terminates at the balanced code."""
    import heapq

    work = {s: f for s, f in freq.items() if f}
    if len(work) < 2:
        raise ValueError("need >= 2 symbols for a huffman code")
    while True:
        heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(work.items()))]
        heapq.heapify(heap)
        tick = len(heap)
        depth = {s: 0 for s in work}
        while len(heap) > 1:
            f1, _, g1 = heapq.heappop(heap)
            f2, _, g2 = heapq.heappop(heap)
            for s in g1 + g2:
                depth[s] += 1
            heapq.heappush(heap, (f1 + f2, tick, g1 + g2))
            tick += 1
        if max(depth.values()) <= max_len:
            return depth
        work = {s: (f + 1) // 2 for s, f in work.items()}


_CLC_EMIT = {0: (0, 2), 1: (14, 4), 2: (6, 3), 3: (1, 2),
             4: (2, 2), 5: (15, 4)}


def _write_complex_prefix_code(bw: _BitWriter, lengths: dict[int, int],
                               alphabet_size: int):
    """Emit a complex-form prefix-code header, mirroring the reader's
    two space-accounting loops exactly (the code-length-code entries
    stop when THEIR space closes; trailing zero symbol lengths are
    implicit because the symbol space closes at the last code word)."""
    seq = [lengths.get(i, 0) for i in range(alphabet_size)]
    while seq and seq[-1] == 0:
        seq.pop()
    clc_freq: dict[int, int] = {}
    for v in seq:
        clc_freq[v] = clc_freq.get(v, 0) + 1
    if len(clc_freq) == 1:
        # degenerate: ONE distinct symbol length (e.g. a flat code).
        # The clc gets a single length-1 entry; the reader builds a
        # 0-bit code and consumes nothing per symbol length.
        only = next(iter(clc_freq))
        clc_lengths = {only: 1}
        clc_codes = {}
    else:
        clc_lengths = _limited_huffman(clc_freq, max_len=5)
        clc_codes = _canonical_codes(clc_lengths)
    bw.put(0, 2)  # HSKIP = 0
    space = 32
    for sym in _CLC_ORDER:
        l = clc_lengths.get(sym, 0)
        code, n = _CLC_EMIT[l]
        bw.put_code(code, n)
        if l:
            space -= 32 >> l
            if space <= 0:
                break  # the reader stops here too
    if clc_codes:  # non-degenerate: emit every length up to the close
        for v in seq:
            code, n = clc_codes[v]
            bw.put_code(code, n)
    # degenerate clc: 0 bits per symbol length — nothing to emit


def brotli_compress(data: bytes) -> bytes:
    """From-spec SUBSET brotli encoder: literal-entropy meta-blocks
    (one insert-only command per meta-block, canonical Huffman literal
    code in the complex header form, simple codes for the degenerate
    cases), RFC-conformant by construction — libbrotlidec accepts its
    streams (tests). Compresses text ~30-45%; no LZ matching."""
    bw = _BitWriter()
    bw.put(0, 1)  # WBITS = 16
    n = len(data)
    pos = 0
    if n == 0:
        bw.put(1, 1)  # ISLAST
        bw.put(1, 1)  # ISLASTEMPTY
        return bw.bytes_()
    while pos < n:
        chunk = data[pos:pos + (1 << 22)]
        pos += len(chunk)
        mlen = len(chunk)
        bw.put(0, 1)  # ISLAST = 0 (an empty last block terminates)
        nib = max(((mlen - 1).bit_length() + 3) // 4, 4)
        if nib > 6:
            raise ValueError("brotli meta-block too large")
        bw.put(nib - 4, 2)
        bw.put(mlen - 1, 4 * nib)
        freq: dict[int, int] = {}
        for b in chunk:
            freq[b] = freq.get(b, 0) + 1
        distinct = sorted(freq)
        if len(distinct) > 4:
            lit_lengths = _limited_huffman(freq)
            lit_bits = sum(freq[s] * l for s, l in lit_lengths.items())
            if lit_bits // 8 + 320 >= mlen:  # entropy does not pay
                _store_block(bw, chunk)
                continue
        bw.put(0, 1)  # ISUNCOMPRESSED = 0
        bw.put(0, 1)  # NBLTYPESL = 1
        bw.put(0, 1)  # NBLTYPESI = 1
        bw.put(0, 1)  # NBLTYPESD = 1
        bw.put(0, 2)  # NPOSTFIX = 0
        bw.put(0, 4)  # NDIRECT = 0
        bw.put(0, 2)  # context mode LSB6 for the single L block type
        bw.put(0, 1)  # NTREESL = 1
        bw.put(0, 1)  # NTREESD = 1
        # literal code
        if len(distinct) == 1:
            bw.put(1, 2)   # simple form
            bw.put(0, 2)   # NSYM = 1
            bw.put(distinct[0], 8)
            lit_codes = {distinct[0]: (0, 0)}
        elif len(distinct) <= 4:
            bw.put(1, 2)
            bw.put(len(distinct) - 1, 2)
            for s in distinct:
                bw.put(s, 8)
            if len(distinct) == 2:
                lens = {distinct[0]: 1, distinct[1]: 1}
            elif len(distinct) == 3:
                lens = {distinct[0]: 1, distinct[1]: 2, distinct[2]: 2}
            else:
                bw.put(0, 1)  # flat 2,2,2,2
                lens = {s: 2 for s in distinct}
            lit_codes = _canonical_codes(lens)
        else:
            _write_complex_prefix_code(bw, lit_lengths, 256)
            lit_codes = _canonical_codes(lit_lengths)
        # insert-and-copy code: ONE symbol (simple form, 0-bit code)
        ins_code = 0
        for c in range(23, -1, -1):
            if mlen >= _INS_BASE[c]:
                ins_code = c
                break
        if mlen - _INS_BASE[ins_code] >= (1 << _INS_EXTRA[ins_code]):
            raise ValueError("insert length out of code range")
        hi, lo = ins_code & ~7, ins_code & 7
        range_idx = {0: 0, 8: 2, 16: 5}[hi]
        cmd = ((range_idx + 2) << 6 if range_idx >= 2 else range_idx << 6)
        cmd |= (lo << 3) | 0  # copy_low 0 -> copy code lut+0, 0 extra
        bw.put(1, 2)   # simple form
        bw.put(0, 2)   # NSYM = 1
        bw.put(cmd, 10)
        # distance code: one unused symbol (alphabet 16+0+48 = 64)
        bw.put(1, 2)
        bw.put(0, 2)
        bw.put(0, 6)
        # body: the single command
        bw.put(mlen - _INS_BASE[ins_code], _INS_EXTRA[ins_code])
        # copy extra bits: copy code = _CP_RANGE_LUT[range_idx] + 0
        cp_code = _CP_RANGE_LUT[range_idx if range_idx >= 2 else range_idx]
        bw.put(0, _CP_EXTRA[cp_code])
        for b in chunk:
            code, l = lit_codes[b]
            bw.put_code(code, l)
        # command's copy part is ignored: meta-block length reached
    bw.put(1, 1)  # ISLAST
    bw.put(1, 1)  # ISLASTEMPTY
    return bw.bytes_()


def _store_block(bw: _BitWriter, chunk: bytes):
    """ISUNCOMPRESSED arm for incompressible chunks (header bits for
    this meta-block were already written up to MLEN)."""
    bw.put(1, 1)  # ISUNCOMPRESSED
    bw.align()
    bw.out += chunk
