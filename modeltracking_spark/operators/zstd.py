"""From-spec Zstandard codec (RFC 8878) — full decoder, subset encoder.

zstd is THE modern corpus codec (parquet's preferred page codec, the
current Common Crawl distribution format, HuggingFace dataset shards).
This module implements the format from RFC 8878 alone: frame/block
grammar, backward bitstreams, FSE (tANS) table construction + the
normalized-count header, Huffman literals (direct and FSE-compressed
weights, 1- and 4-stream), the three interleaved sequence states with
predefined/RLE/FSE/repeat table modes, repeat-offset history incl. the
literals_length==0 rotation, and xxHash64 content checksums.

Validation stack (tests/test_zstd.py): the sandbox ships the REFERENCE
implementation (libzstd via ctypes + the zstd CLI), so fixtures are
encoded by libzstd across a level matrix and decoded from spec — and
OUR encoder's frames are decoded back by libzstd — cross-validating
both directions against Yann Collet's implementation, the strongest
form of the repo's stdlib-encodes/spec-decodes pattern.  The Spark
query kernel prefers libzstd as the fixture encoder and falls back to
the from-spec encoder when the library is absent; every libzstd encode
in the package goes through the one cached binding behind
:func:`libzstd_compress`.

Malformed streams raise descriptive ``ValueError`` (the codec-tier
discipline).  Dictionaries (RFC 8878 §5) are supported on decode —
structured dictionaries (magic 0xEC30A437: dictionary-ID, entropy
tables in Huffman/OF/ML/LL order, 3-entry offset history, content) and
libzstd-style raw-content dictionaries — and the encoder can compress
against a content prefix so both directions cross-validate with
libzstd's ``*_usingDict`` APIs.
"""

from __future__ import annotations

import functools

from modeltracking_spark.operators.kernel import codec_roundtrip_stats

_MAGIC = 0xFD2FB528

# ------------------------------------------------------------- xxHash64

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """xxHash64 per the published spec (the zstd content checksum)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        acc = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
               + _rotl(v4, 18)) & _M64
        acc = _merge(acc, v1)
        acc = _merge(acc, v2)
        acc = _merge(acc, v3)
        acc = _merge(acc, v4)
    else:
        acc = (seed + _P5) & _M64
    acc = (acc + n) & _M64
    while i + 8 <= n:
        acc ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        acc = (_rotl(acc, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        acc = (_rotl(acc, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        acc ^= (data[i] * _P5) & _M64
        acc = (_rotl(acc, 11) * _P1) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc


# -------------------------------------------------- backward bitstream

class _BackBits:
    """RFC 8878 4.1 backward bitstream: written forward LSB-first into
    a little-endian container, closed with a single '1' sentinel bit;
    read starting just below the sentinel, each n-bit field taken from
    the top of what remains. Reads past the end zero-pad and keep
    counting (the reference's overflow accounting); ``overflowed``
    reports whether total consumption passed the stream end."""

    def __init__(self, data: bytes):
        # Windowed representation (r17): keep the raw bytes and slice
        # out only the few bytes each read touches. The previous
        # whole-stream big-int held the bits in one Python long, whose
        # ``val >> remaining`` right-shift allocates an output of
        # (total - remaining) bits — nearly the FULL stream once the
        # read position nears the bottom — making an N-bit stream's
        # decode O(N^2). Byte-slicing reads are O(1) per field and
        # return bit-identical values (little-endian container, fields
        # taken from the top of what remains, zero-padded past the
        # end, same error surface).
        if not data:
            raise ValueError("empty zstd bitstream")
        i = len(data) - 1
        while i >= 0 and not data[i]:
            i -= 1
        if i < 0:
            raise ValueError("zstd bitstream has no sentinel bit")
        self._data = data
        # strip the sentinel (the highest set bit)
        self.remaining = (i << 3) + data[i].bit_length() - 1
        self.past_end = 0

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        r = self.remaining
        if nbits <= r:
            lo = r - nbits
            self.remaining = lo
            chunk = int.from_bytes(
                self._data[lo >> 3:((r - 1) >> 3) + 1], "little"
            )
            return (chunk >> (lo & 7)) & ((1 << nbits) - 1)
        # zero-padded tail read (weights streams / final huffman codes)
        v = 0
        if r:
            chunk = int.from_bytes(self._data[:((r - 1) >> 3) + 1], "little")
            v = (chunk & ((1 << r) - 1)) << (nbits - r)
        self.past_end += nbits - r
        self.remaining = 0
        return v

    def peek(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        r = self.remaining
        if nbits <= r:
            lo = r - nbits
            chunk = int.from_bytes(
                self._data[lo >> 3:((r - 1) >> 3) + 1], "little"
            )
            return (chunk >> (lo & 7)) & ((1 << nbits) - 1)
        if not r:
            return 0
        chunk = int.from_bytes(self._data[:((r - 1) >> 3) + 1], "little")
        return (chunk & ((1 << r) - 1)) << (nbits - r)

    @property
    def overflowed(self) -> bool:
        return self.past_end > 0


class _FwdBits:
    """Forward LSB-first bitstream (the FSE normalized-count header)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.bitpos = pos * 8

    def read(self, nbits: int) -> int:
        end = self.bitpos + nbits
        if (end + 7) // 8 > len(self.data):
            raise ValueError("truncated FSE table header")
        chunk = int.from_bytes(
            self.data[self.bitpos // 8:(end + 7) // 8], "little"
        )
        v = (chunk >> (self.bitpos % 8)) & ((1 << nbits) - 1)
        self.bitpos = end
        return v

    def byte_pos(self) -> int:
        return (self.bitpos + 7) // 8


# ----------------------------------------------------------------- FSE

def fse_build_decode_table(norm: list[int], accuracy_log: int):
    """Normalized counts -> decode table ((symbol, nbits, baseline), ...)
    per RFC 8878 4.1.1: 'less than 1' (-1) symbols fill cells from the
    top; positive counts spread with step (S/2 + S/8 + 3) mod S.

    Memoized on ``(tuple(norm), accuracy_log)``: every frame in
    Predefined_Mode asks for the same three tables, which a per-frame
    build would spread again each time. The table is an immutable tuple
    because every caller shares it; a description that raises
    ``ValueError`` is never cached, so it raises on every call."""
    return _fse_decode_table(tuple(norm), accuracy_log)


# 128 distinct tables per process: one at accuracy log 9 is about 43 KB,
# so the cache stays under ~6 MB whatever the input
@functools.lru_cache(maxsize=128)
def _fse_decode_table(norm: tuple[int, ...], accuracy_log: int):
    size = 1 << accuracy_log
    if sum(abs(c) for c in norm if c != 0) > size:
        raise ValueError("FSE normalized counts exceed table size")
    symbols = [0] * size
    high = size - 1
    for s, c in enumerate(norm):
        if c == -1:
            symbols[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    filled = [False] * size
    for s, c in enumerate(norm):
        if c > 0:
            for _ in range(c):
                if filled[pos]:  # pragma: no cover — legal ALs (>=5)
                    raise ValueError("FSE spread revisited a cell")
                filled[pos] = True
                symbols[pos] = s
                pos = (pos + step) & (size - 1)
                while pos > high:
                    pos = (pos + step) & (size - 1)
    if pos != 0:
        raise ValueError("FSE table spread did not close")
    nxt = [1 if c == -1 else c for c in norm]
    table = []
    for i in range(size):
        s = symbols[i]
        ns = nxt[s]
        nxt[s] += 1
        nbits = accuracy_log - (ns.bit_length() - 1)
        baseline = (ns << nbits) - size
        table.append((s, nbits, baseline))
    return tuple(table)


def fse_read_ncount(data: bytes, pos: int, max_symbol: int,
                    max_accuracy: int):
    """Read an FSE table description (RFC 8878 4.1.1) starting at byte
    ``pos``: returns (norm list, accuracy_log, next byte position)."""
    br = _FwdBits(data, pos)
    accuracy_log = br.read(4) + 5
    if accuracy_log > max_accuracy:
        raise ValueError(
            f"FSE accuracy log {accuracy_log} > max {max_accuracy}"
        )
    size = 1 << accuracy_log
    remaining = size + 1
    threshold = size
    nbits = accuracy_log + 1
    norm: list[int] = []
    prev_zero = False
    while remaining > 1:
        if len(norm) > max_symbol + 1:
            raise ValueError("FSE table has too many symbols")
        if prev_zero:
            rep = br.read(2)
            norm.extend([0] * rep)
            if rep == 3:
                continue
            prev_zero = False
            if len(norm) > max_symbol + 1:
                raise ValueError("FSE table has too many symbols")
        # small-value optimization: values below `max` fit in nbits-1
        maxv = 2 * threshold - 1 - remaining
        v = br.read(nbits - 1)
        if v < maxv:
            value = v
        else:
            extra = br.read(1)
            value = v | (extra << (nbits - 1))
            if value >= threshold:
                value -= maxv
        count = value - 1  # -1 encodes "less than 1"
        norm.append(count)
        remaining -= count if count > 0 else -count if count < 0 else 0
        if count == 0:
            prev_zero = True
        while remaining > 1 and remaining < threshold:
            threshold >>= 1
            nbits -= 1
    if remaining != 1:
        raise ValueError("FSE normalized counts do not sum to table size")
    return norm, accuracy_log, br.byte_pos()


# ------------------------------------------------------------- Huffman

#: zero bits below an FSE-compressed Huffman weights stream read as one
#: int; more than the 18 bits its decode loop can read past the end
_WEIGHTS_PAD = 32


def huf_read_weights(data: bytes, pos: int):
    """Huffman tree description -> (weights list incl. the implied
    last one, tableLog, next byte position). headerByte >= 128: direct
    4-bit weights; < 128: FSE-compressed weights (two interleaved
    states, accuracy <= 6)."""
    if pos >= len(data):
        raise ValueError("missing Huffman tree description")
    hb = data[pos]
    pos += 1
    if hb >= 128:
        n = hb - 127
        nbytes = (n + 1) // 2
        if pos + nbytes > len(data):
            raise ValueError("truncated direct Huffman weights")
        weights = []
        for i in range(n):
            b = data[pos + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        pos += nbytes
    else:
        if pos + hb > len(data):
            raise ValueError("truncated FSE-compressed Huffman weights")
        blob = data[pos:pos + hb]
        pos += hb
        norm, al, off = fse_read_ncount(blob, 0, 255, 6)
        table = fse_build_decode_table(norm, al)
        # The stream is under 128 bytes, so it is read as ONE int (the
        # windowed _BackBits serves the long streams), shifted up by
        # _WEIGHTS_PAD zero bits: a read past the stream end yields the
        # same zero padding as _BackBits, and overflow is
        # rem < _WEIGHTS_PAD. At most 3 reads of <= 6 bits pass the end
        # (the two initial states, then the read whose overflow ends
        # the loop).
        stream = blob[off:]
        rem = _BackBits(stream).remaining + _WEIGHTS_PAD  # checks sentinel
        bits = int.from_bytes(stream, "little") << _WEIGHTS_PAD
        mask = (1 << al) - 1
        rem -= al
        s1 = (bits >> rem) & mask
        rem -= al
        s2 = (bits >> rem) & mask
        weights = []
        while True:
            if len(weights) > 254:
                raise ValueError("Huffman weights stream does not end")
            sym, nb, base = table[s1]
            weights.append(sym)
            rem -= nb
            s1 = base + ((bits >> rem) & ((1 << nb) - 1))
            if rem < _WEIGHTS_PAD:
                weights.append(table[s2][0])
                break
            sym, nb, base = table[s2]
            weights.append(sym)
            rem -= nb
            s2 = base + ((bits >> rem) & ((1 << nb) - 1))
            if rem < _WEIGHTS_PAD:
                weights.append(table[s1][0])
                break
    # the LAST weight is implied: tableLog = highbit(sum)+1, and the
    # remainder up to 2^tableLog must be a power of two (RFC 4.2.1.1)
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("Huffman weights are all zero")
    table_log = total.bit_length()
    left = (1 << table_log) - total
    if left & (left - 1):
        raise ValueError("Huffman weights do not complete a power of two")
    weights.append(left.bit_length())  # log2(left) + 1
    if table_log > 11:
        raise ValueError("Huffman table log exceeds 11")
    return weights, table_log, pos


def huf_build_decode_table(weights: list[int], table_log: int):
    """Canonical table: symbols in natural order, each weight-w symbol
    owning 2^(w-1) consecutive cells, lower weights (longer codes)
    first. Cell = (symbol, nbits = tableLog + 1 - w)."""
    by_weight: list[list[int]] = [[] for _ in range(table_log + 2)]
    for sym, w in enumerate(weights):
        if w > table_log + 1:
            raise ValueError("Huffman weight exceeds table log")
        by_weight[w].append(sym)
    if sum(len(by_weight[w]) << (w - 1)
           for w in range(1, table_log + 2)) != 1 << table_log:
        raise ValueError("Huffman weights do not fill the table")
    table = []
    for w in range(1, table_log + 2):
        cells = 1 << (w - 1)
        nb = table_log + 1 - w
        for sym in by_weight[w]:
            table += [(sym, nb)] * cells
    return table


def _huf_decode_stream(blob: bytes, table, table_log: int,
                       n_out: int) -> bytearray:
    # Bit fields are read inline against local (buf, rem), as in
    # _decode_sequences: one table_log-bit window per symbol serves both
    # the peek and the consume. Past the end the window is zero-padded
    # and the overrun counted, exactly as _BackBits.peek/read do.
    bb = _BackBits(blob)
    buf = bb._data
    rem = bb.remaining
    past_end = 0
    mask = (1 << table_log) - 1
    from_bytes = int.from_bytes
    out = bytearray()
    append = out.append
    for _ in range(n_out):
        if rem >= table_log:
            lo = rem - table_log
            idx = (from_bytes(buf[lo >> 3:((rem - 1) >> 3) + 1], "little")
                   >> (lo & 7)) & mask
        elif rem:
            idx = ((from_bytes(buf[:((rem - 1) >> 3) + 1], "little")
                    & ((1 << rem) - 1)) << (table_log - rem))
        else:
            idx = 0
        sym, nb = table[idx]
        if nb == 0:
            raise ValueError("invalid Huffman code cell")
        if nb <= rem:
            rem -= nb
        else:
            past_end += nb - rem
            rem = 0
        append(sym)
    if rem != 0 or past_end > 0:
        raise ValueError("Huffman literal stream not fully consumed")
    return out


# -------------------------------------------------- sequence code tables

_LL_BASE = (
    [(i, 0) for i in range(16)]
    + [(16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
       (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9),
       (1024, 10), (2048, 11), (4096, 12), (8192, 13), (16384, 14),
       (32768, 15), (65536, 16)]
)
_ML_BASE = (
    [(i + 3, 0) for i in range(32)]
    + [(35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
       (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9),
       (1027, 10), (2051, 11), (4099, 12), (8195, 13), (16387, 14),
       (32771, 15), (65539, 16)]
)

# RFC 8878 predefined distributions
_LL_DEFAULT = ([4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
                2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
                -1, -1, -1, -1], 6)
_ML_DEFAULT = ([1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                -1, -1, -1, -1, -1, -1, -1], 6)
_OF_DEFAULT = ([1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1], 5)

_MAX_AL = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}
_DEFAULTS = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}


def _read_seq_table(kind: str, mode: int, data: bytes, pos: int, prev):
    """One of the three sequence tables per the compression-modes byte:
    returns ((decode_table, accuracy_log) or RLE symbol, new pos)."""
    if mode == 0:  # Predefined_Mode
        norm, al = _DEFAULTS[kind]
        return ("fse", fse_build_decode_table(norm, al), al), pos
    if mode == 1:  # RLE_Mode: 1 byte = the symbol every sequence uses
        if pos >= len(data):
            raise ValueError("truncated RLE sequence table")
        sym = data[pos]
        if sym > _MAX_SYM[kind]:
            raise ValueError(f"RLE {kind} symbol out of range")
        return ("rle", sym, 0), pos + 1
    if mode == 2:  # FSE_Compressed_Mode
        norm, al, pos = fse_read_ncount(data, pos, _MAX_SYM[kind],
                                        _MAX_AL[kind])
        return ("fse", fse_build_decode_table(norm, al), al), pos
    # Repeat_Mode
    if prev is None:
        raise ValueError(f"Repeat_Mode {kind} table with no previous table")
    return prev, pos


# ------------------------------------------------------- block decoding

class _FrameCtx:
    def __init__(self):
        self.huf_table = None     # (table, table_log) for Treeless reuse
        self.seq_tables = {"ll": None, "of": None, "ml": None}
        self.rep = [1, 4, 8]


# ----------------------------------------------------------- dictionaries

_DICT_MAGIC = 0xEC30A437


class ZstdDict:
    """Parsed zstd dictionary (RFC 8878 §5), or a raw-content one.

    A structured dictionary seeds a frame's entropy state (its Huffman
    table serves Treeless literals, its FSE tables satisfy Repeat_Mode
    in the first block), its offset history replaces [1, 4, 8], and its
    content is virtually prepended to the decoded output for match
    back-references.  A raw-content dictionary (any blob that does not
    start with the magic — libzstd's fallback semantics) contributes
    only the content prefix.
    """

    __slots__ = ("dict_id", "huf_table", "seq_tables", "rep", "content")

    def __init__(self, dict_id, huf_table, seq_tables, rep, content):
        self.dict_id = dict_id
        self.huf_table = huf_table
        self.seq_tables = seq_tables
        self.rep = rep
        self.content = content


def zstd_parse_dictionary(blob: bytes) -> ZstdDict:
    """Dictionary bytes -> :class:`ZstdDict` (RFC 8878 §5).

    Layout: magic 0xEC30A437, 4-byte dictionary-ID, entropy tables in
    the order Huffman-literals / FSE-offsets / FSE-match-lengths /
    FSE-literal-lengths (each in its in-block description format),
    three 4-byte little-endian repeat offsets, then the content.  A
    blob without the magic is a raw-content dictionary.
    """
    if len(blob) < 8 or int.from_bytes(blob[:4], "little") != _DICT_MAGIC:
        return ZstdDict(0, None, {"ll": None, "of": None, "ml": None},
                        [1, 4, 8], bytes(blob))
    dict_id = int.from_bytes(blob[4:8], "little")
    pos = 8
    weights, tlog, pos = huf_read_weights(blob, pos)
    huf = (huf_build_decode_table(weights, tlog), tlog)
    tables: dict[str, object] = {}
    for kind in ("of", "ml", "ll"):  # spec order after the Huffman table
        norm, al, pos = fse_read_ncount(blob, pos, _MAX_SYM[kind],
                                        _MAX_AL[kind])
        tables[kind] = ("fse", fse_build_decode_table(norm, al), al)
    if pos + 12 > len(blob):
        raise ValueError("truncated dictionary offset history")
    rep = [int.from_bytes(blob[pos + 4 * i:pos + 4 * i + 4], "little")
           for i in range(3)]
    pos += 12
    content = bytes(blob[pos:])
    for r in rep:
        if r == 0 or r > len(content):
            raise ValueError("dictionary repeat offset out of range")
    return ZstdDict(dict_id, huf, tables, rep, content)


def _decode_literals(block: bytes, pos: int, ctx: _FrameCtx):
    """Literals section -> (literal bytes, next position)."""
    if pos >= len(block):
        raise ValueError("missing literals section")
    b0 = block[pos]
    lit_type = b0 & 3
    size_fmt = (b0 >> 2) & 3
    # header length by (type, size_format) — RFC 8878 §3.1.1.3.1
    hdr_len = (
        (1 if size_fmt in (0, 2) else 2 if size_fmt == 1 else 3)
        if lit_type in (0, 1)
        else (3 if size_fmt in (0, 1) else 4 if size_fmt == 2 else 5)
    )
    if pos + hdr_len > len(block):
        raise ValueError("truncated literals section header")
    if lit_type in (0, 1):  # Raw / RLE
        if size_fmt in (0, 2):
            regen = b0 >> 3
            pos += 1
        elif size_fmt == 1:
            regen = (b0 >> 4) + (block[pos + 1] << 4)
            pos += 2
        else:
            regen = ((b0 >> 4) + (block[pos + 1] << 4)
                     + (block[pos + 2] << 12))
            pos += 3
        if lit_type == 0:
            if pos + regen > len(block):
                raise ValueError("raw literals overrun the block")
            return block[pos:pos + regen], pos + regen
        if pos >= len(block):
            raise ValueError("missing RLE literal byte")
        return bytes([block[pos]]) * regen, pos + 1
    # Compressed / Treeless
    if size_fmt == 0:
        regen = (b0 >> 4) + ((block[pos + 1] & 0x3F) << 4)
        comp = (block[pos + 1] >> 6) + (block[pos + 2] << 2)
        streams, pos = 1, pos + 3
    elif size_fmt == 1:
        regen = (b0 >> 4) + ((block[pos + 1] & 0x3F) << 4)
        comp = (block[pos + 1] >> 6) + (block[pos + 2] << 2)
        streams, pos = 4, pos + 3
    elif size_fmt == 2:
        regen = ((b0 >> 4) + (block[pos + 1] << 4)
                 + ((block[pos + 2] & 3) << 12))
        comp = (block[pos + 2] >> 2) + (block[pos + 3] << 6)
        streams, pos = 4, pos + 4
    else:
        regen = ((b0 >> 4) + (block[pos + 1] << 4)
                 + ((block[pos + 2] & 0x3F) << 12))
        comp = ((block[pos + 2] >> 6) + (block[pos + 3] << 2)
                + (block[pos + 4] << 10))
        streams, pos = 4, pos + 5
    end = pos + comp
    if end > len(block):
        raise ValueError("compressed literals overrun the block")
    if lit_type == 2:  # new Huffman table
        weights, tlog, pos = huf_read_weights(block, pos)
        ctx.huf_table = (huf_build_decode_table(weights, tlog), tlog)
    elif ctx.huf_table is None:
        raise ValueError("treeless literals with no previous Huffman table")
    table, tlog = ctx.huf_table
    if streams == 1:
        out = _huf_decode_stream(block[pos:end], table, tlog, regen)
        return bytes(out), end
    if end - pos < 6:
        raise ValueError("4-stream literals missing jump table")
    s1 = int.from_bytes(block[pos:pos + 2], "little")
    s2 = int.from_bytes(block[pos + 2:pos + 4], "little")
    s3 = int.from_bytes(block[pos + 4:pos + 6], "little")
    body = block[pos + 6:end]
    if s1 + s2 + s3 > len(body):
        raise ValueError("4-stream jump table overruns the section")
    per = (regen + 3) // 4
    last = regen - 3 * per
    if last < 0:
        raise ValueError("regenerated size too small for 4 streams")
    parts = [body[:s1], body[s1:s1 + s2], body[s1 + s2:s1 + s2 + s3],
             body[s1 + s2 + s3:]]
    out = bytearray()
    for i, part in enumerate(parts):
        out += _huf_decode_stream(
            part, table, tlog, per if i < 3 else last
        )
    return bytes(out), end


def _decode_sequences(block: bytes, pos: int, ctx: _FrameCtx):
    """Sequences section -> list of (ll, ml, offset_value)."""
    if pos >= len(block):
        raise ValueError("missing sequences section")
    b0 = block[pos]
    if b0 < 128:
        n_seq = b0
        pos += 1
    elif b0 < 255:
        if pos + 1 >= len(block):
            raise ValueError("truncated sequences count")
        n_seq = ((b0 - 128) << 8) + block[pos + 1]
        pos += 2
    else:
        if pos + 2 >= len(block):
            raise ValueError("truncated sequences count")
        n_seq = block[pos + 1] + (block[pos + 2] << 8) + 0x7F00
        pos += 3
    if n_seq == 0:
        if pos != len(block):
            raise ValueError("trailing bytes after empty sequences section")
        return [], pos
    if pos >= len(block):
        raise ValueError("missing sequence compression modes byte")
    modes = block[pos]
    pos += 1
    if modes & 3:
        raise ValueError("reserved sequence-modes bits set")
    tables = {}
    for kind, shift in (("ll", 6), ("of", 4), ("ml", 2)):
        tables[kind], pos = _read_seq_table(
            kind, (modes >> shift) & 3, block, pos,
            ctx.seq_tables[kind],
        )
        ctx.seq_tables[kind] = tables[kind]
    bb = _BackBits(block[pos:])

    def init_state(t):
        return bb.read(t[2]) if t[0] == "fse" else 0

    ll_s = init_state(tables["ll"])
    of_s = init_state(tables["of"])
    ml_s = init_state(tables["ml"])
    if bb.past_end:
        raise ValueError("sequence bitstream overran")

    # Hot loop (r17): the per-sequence closure dispatch (symbol/update
    # per table per sequence) and per-read method calls were over half
    # of frame decode CPU. Localize the three tables (an RLE table
    # becomes a repeated-cell FSE table view: symbol fixed, 0 state
    # bits, so one code path serves both modes), and read bit fields
    # inline against local (buf, rem). Arithmetic and the error
    # surface are identical: any overrun in a sequence's extra-bits
    # group raises "sequence bitstream overran", in a state update
    # "sequence state update overran" (the zero-padded values the old
    # reader produced before its post-group check were never
    # observable — the group always raised).
    fse_ll = tables["ll"][0] == "fse"
    fse_of = tables["of"][0] == "fse"
    fse_ml = tables["ml"][0] == "fse"
    tab_ll = tables["ll"][1] if fse_ll else [(tables["ll"][1], 0, 0)]
    tab_of = tables["of"][1] if fse_of else [(tables["of"][1], 0, 0)]
    tab_ml = tables["ml"][1] if fse_ml else [(tables["ml"][1], 0, 0)]
    buf = bb._data
    rem = bb.remaining
    from_bytes = int.from_bytes
    ml_base_tab, ll_base_tab = _ML_BASE, _LL_BASE
    seqs = []
    append = seqs.append
    for i in range(n_seq):
        of_code = tab_of[of_s][0]
        ml_code = tab_ml[ml_s][0]
        ll_code = tab_ll[ll_s][0]
        if of_code > 31:
            raise ValueError("offset code out of range")
        if ll_code > 35 or ml_code > 52:
            raise ValueError("length code out of range")
        nb = of_code
        ml_base, ml_bits = ml_base_tab[ml_code]
        ll_base, ll_bits = ll_base_tab[ll_code]
        lo = rem - nb - ml_bits - ll_bits
        if lo < 0:
            raise ValueError("sequence bitstream overran")
        if rem != lo:
            chunk = from_bytes(buf[lo >> 3:((rem - 1) >> 3) + 1], "little")
            chunk >>= lo & 7
            rem = lo
            ll_v = chunk & ((1 << ll_bits) - 1)
            chunk >>= ll_bits
            ml_v = chunk & ((1 << ml_bits) - 1)
            chunk >>= ml_bits
            ofv = chunk & ((1 << nb) - 1)
        else:
            ll_v = ml_v = ofv = 0
        append((ll_base + ll_v, ml_base + ml_v, (1 << of_code) + ofv))
        if i + 1 < n_seq:
            nb_ll = tab_ll[ll_s][1] if fse_ll else 0
            nb_ml = tab_ml[ml_s][1] if fse_ml else 0
            nb_of = tab_of[of_s][1] if fse_of else 0
            lo = rem - nb_ll - nb_ml - nb_of
            if lo < 0:
                raise ValueError("sequence state update overran")
            if rem != lo:
                chunk = from_bytes(
                    buf[lo >> 3:((rem - 1) >> 3) + 1], "little"
                )
                chunk >>= lo & 7
                rem = lo
                of_bits = chunk & ((1 << nb_of) - 1)
                chunk >>= nb_of
                ml_bits2 = chunk & ((1 << nb_ml) - 1)
                chunk >>= nb_ml
                ll_bits2 = chunk & ((1 << nb_ll) - 1)
            else:
                of_bits = ml_bits2 = ll_bits2 = 0
            if fse_ll:
                ll_s = tab_ll[ll_s][2] + ll_bits2
            if fse_ml:
                ml_s = tab_ml[ml_s][2] + ml_bits2
            if fse_of:
                of_s = tab_of[of_s][2] + of_bits
    if rem != 0:
        raise ValueError("sequence bitstream not fully consumed")
    return seqs, pos


def _execute(literals: bytes, seqs, ctx: _FrameCtx, out: bytearray,
             max_output: int):
    lit_pos = 0
    for ll, ml, ov in seqs:
        if lit_pos + ll > len(literals):
            raise ValueError("sequence literal run overruns literals")
        out += literals[lit_pos:lit_pos + ll]
        lit_pos += ll
        rep = ctx.rep
        if ov > 3:
            offset = ov - 3
            ctx.rep = [offset, rep[0], rep[1]]
        else:
            idx = ov if ll != 0 else ov + 1
            if idx == 1:
                offset = rep[0]
            elif idx == 2:
                offset = rep[1]
                ctx.rep = [rep[1], rep[0], rep[2]]
            elif idx == 3:
                offset = rep[2]
                ctx.rep = [rep[2], rep[0], rep[1]]
            else:  # idx == 4: literals_length 0, offset_value 3
                offset = rep[0] - 1
                if offset == 0:
                    raise ValueError("repeat offset underflow")
                ctx.rep = [offset, rep[0], rep[1]]
        if offset > len(out):
            raise ValueError("match offset beyond decoded output")
        if len(out) + ml > max_output:
            raise ValueError("zstd output exceeds max_output bound")
        if offset >= ml:
            start = len(out) - offset
            out += out[start:start + ml]
        else:
            for _ in range(ml):
                out.append(out[-offset])
    out += literals[lit_pos:]


def zstd_decompress(data: bytes, max_output: int = 1 << 28,
                    dictionary: bytes | ZstdDict | None = None) -> bytes:
    """RFC 8878 frame(s) -> bytes, verifying the content checksum when
    present. Skippable frames are skipped. ``dictionary`` (raw bytes or
    a parsed :class:`ZstdDict`) seeds every frame's entropy state,
    offset history, and back-reference prefix per §5; a frame that
    names a dictionary-ID raises unless a matching one is supplied."""
    if dictionary is not None and not isinstance(dictionary, ZstdDict):
        dictionary = zstd_parse_dictionary(bytes(dictionary))
    out_all = bytearray()
    pos = 0
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("truncated zstd magic")
        magic = int.from_bytes(data[pos:pos + 4], "little")
        if (magic & 0xFFFFFFF0) == 0x184D2A50:  # skippable frame
            if pos + 8 > len(data):
                raise ValueError("truncated skippable frame")
            n = int.from_bytes(data[pos + 4:pos + 8], "little")
            pos += 8 + n
            continue
        if magic != _MAGIC:
            raise ValueError("bad zstd magic")
        pos += 4
        if pos >= len(data):
            raise ValueError("missing frame header descriptor")
        fhd = data[pos]
        pos += 1
        if fhd & 0x08:
            raise ValueError("reserved frame-header bit set")
        single = bool(fhd & 0x20)
        checksum = bool(fhd & 0x04)
        did_size = (0, 1, 2, 4)[fhd & 3]
        fcs_flag = fhd >> 6
        fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
        if not single:
            if pos >= len(data):
                raise ValueError("missing window descriptor")
            wd = data[pos]
            pos += 1
            window = (1 << (10 + (wd >> 3)))
            window += (window >> 3) * (wd & 7)
        if did_size:
            did = int.from_bytes(data[pos:pos + did_size], "little")
            if did:
                if dictionary is None:
                    raise ValueError(
                        f"frame references dictionary {did} but no "
                        f"dictionary was provided"
                    )
                if dictionary.dict_id and dictionary.dict_id != did:
                    raise ValueError(
                        f"frame references dictionary {did} but the "
                        f"provided one has ID {dictionary.dict_id}"
                    )
            pos += did_size
        fcs = None
        if fcs_size:
            if pos + fcs_size > len(data):
                raise ValueError("truncated frame content size")
            fcs = int.from_bytes(data[pos:pos + fcs_size], "little")
            if fcs_size == 2:
                fcs += 256
            pos += fcs_size
        if single:
            window = fcs if fcs is not None else 0
        block_max = min(window if window else (1 << 17), 1 << 17)

        ctx = _FrameCtx()
        base = 0
        if dictionary is not None:
            # §5: the dictionary seeds every frame it is applied to —
            # entropy tables for Treeless/Repeat_Mode, offset history,
            # and its content as the back-reference prefix (emitted
            # output is sliced off below the base).
            ctx.huf_table = dictionary.huf_table
            ctx.seq_tables = dict(dictionary.seq_tables)
            ctx.rep = list(dictionary.rep)
            frame_out = bytearray(dictionary.content)
            base = len(frame_out)
        else:
            frame_out = bytearray()
        while True:
            if pos + 3 > len(data):
                raise ValueError("truncated block header")
            bh = int.from_bytes(data[pos:pos + 3], "little")
            pos += 3
            last = bh & 1
            btype = (bh >> 1) & 3
            bsize = bh >> 3
            if btype == 3:
                raise ValueError("reserved block type")
            if btype == 0:  # raw
                if pos + bsize > len(data):
                    raise ValueError("raw block overruns the frame")
                frame_out += data[pos:pos + bsize]
                pos += bsize
            elif btype == 1:  # RLE
                if pos >= len(data):
                    raise ValueError("missing RLE block byte")
                if len(frame_out) - base + bsize > max_output:
                    raise ValueError("zstd output exceeds max_output bound")
                frame_out += bytes([data[pos]]) * bsize
                pos += 1
            else:  # compressed
                if bsize > (1 << 17):
                    raise ValueError("block exceeds maximum block size")
                if pos + bsize > len(data):
                    raise ValueError("compressed block overruns the frame")
                block = data[pos:pos + bsize]
                pos += bsize
                literals, bpos = _decode_literals(block, 0, ctx)
                seqs, bpos = _decode_sequences(block, bpos, ctx)
                _execute(literals, seqs, ctx, frame_out,
                         max_output + base)
            if len(frame_out) - base > max_output:
                raise ValueError("zstd output exceeds max_output bound")
            if last:
                break
        if fcs is not None and len(frame_out) - base != fcs:
            raise ValueError(
                f"frame content size mismatch: "
                f"{len(frame_out) - base} != {fcs}"
            )
        if checksum:
            if pos + 4 > len(data):
                raise ValueError("truncated content checksum")
            want = int.from_bytes(data[pos:pos + 4], "little")
            got = xxh64(bytes(frame_out[base:])) & 0xFFFFFFFF
            if got != want:
                raise ValueError(
                    f"content checksum mismatch: {got:#010x} != {want:#010x}"
                )
            pos += 4
        out_all += frame_out[base:] if base else frame_out
    return bytes(out_all)


# ------------------------------------------------------------- encoder

class _BitWriter:
    """Forward writer for RFC 8878 backward bitstreams: fields are
    appended LSB-first; the decoder pops them in reverse append order
    from under the closing '1' sentinel."""

    def __init__(self):
        self.val = 0
        self.nbits = 0

    def add(self, value: int, nbits: int):
        if nbits == 0:
            return
        self.val |= (value & ((1 << nbits) - 1)) << self.nbits
        self.nbits += nbits

    def close(self) -> bytes:
        self.val |= 1 << self.nbits  # sentinel
        self.nbits += 1
        return self.val.to_bytes((self.nbits + 7) // 8, "little")


def fse_build_encode_table(norm: list[int], accuracy_log: int):
    """Encode-side tANS tables (state table + per-symbol transforms),
    built over the SAME spread as the decode table."""
    size = 1 << accuracy_log
    symbols = [s for s, _n, _b in fse_build_decode_table(norm, accuracy_log)]
    cumul = [0] * (len(norm) + 1)
    for s, c in enumerate(norm):
        cumul[s + 1] = cumul[s] + (1 if c == -1 else max(c, 0))
    ctr = cumul[:-1]
    state_table = [0] * size
    for pos in range(size):
        s = symbols[pos]
        state_table[ctr[s]] = size + pos
        ctr[s] += 1
    transforms = {}
    for s, c in enumerate(norm):
        if c == 0:
            continue
        if c in (-1, 1):
            delta_nb = (accuracy_log << 16) - (1 << accuracy_log)
            delta_fs = cumul[s] - 1
        else:
            # highbit(c-1) = bit_length-1 (the reference's BIT_highbit32)
            max_bits = accuracy_log - ((c - 1).bit_length() - 1)
            delta_nb = (max_bits << 16) - (c << max_bits)
            delta_fs = cumul[s] - c
        transforms[s] = (delta_nb, delta_fs)
    return state_table, transforms


class _FseCState:
    def __init__(self, table, transforms, first_symbol):
        self.table = table
        self.tt = transforms
        delta_nb, delta_fs = transforms[first_symbol]
        nb = (delta_nb + (1 << 15)) >> 16
        v = (nb << 16) - delta_nb
        self.state = table[(v >> nb) + delta_fs]

    def encode(self, bw: _BitWriter, symbol: int):
        delta_nb, delta_fs = self.tt[symbol]
        nb = (self.state + delta_nb) >> 16
        bw.add(self.state, nb)
        self.state = self.table[(self.state >> nb) + delta_fs]

    def flush(self, bw: _BitWriter, accuracy_log: int):
        bw.add(self.state, accuracy_log)


def _ll_code(ll: int) -> int:
    if ll < 16:
        return ll
    for code in range(35, 15, -1):
        if ll >= _LL_BASE[code][0]:
            return code
    raise ValueError("unreachable")


def _ml_code(ml: int) -> int:
    if ml - 3 < 32:
        return ml - 3
    for code in range(52, 31, -1):
        if ml >= _ML_BASE[code][0]:
            return code
    raise ValueError("unreachable")


def _find_sequences(chunk: bytes):
    """Greedy hash-chain LZ: (sequences [(ll, ml, offset)], literals)."""
    n = len(chunk)
    seqs = []
    lits = bytearray()
    table: dict[bytes, int] = {}
    i = 0
    anchor = 0
    while i + 4 <= n:
        key = chunk[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and chunk[j:j + 4] == key:
            ml = 4
            while i + ml < n and chunk[j + ml] == chunk[i + ml]:
                ml += 1
            ll = i - anchor
            if ll > 65535:  # LL code ceiling: flush as pure literals
                i += 1
                continue
            lits += chunk[anchor:i]
            seqs.append((ll, ml, i - j))
            i += ml
            anchor = i
        else:
            i += 1
    lits += chunk[anchor:]
    return seqs, lits


def _find_sequences_ranged(full: bytes, start: int, end: int,
                           table: dict):
    """Greedy LZ over ``full[start:end]`` with matches allowed to reach
    ANY earlier position in ``full`` recorded in ``table`` — the
    dictionary-prefix (and cross-block) form of :func:`_find_sequences`.
    ``table`` carries 4-gram -> last position state across calls;
    emitted offsets are ``i - j`` over ``full`` coordinates, exactly
    what a decoder with the prefix in its window replays."""
    seqs = []
    lits = bytearray()
    i = start
    anchor = start
    while i + 4 <= end:
        key = full[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None:
            ml = 4
            while i + ml < end and full[j + ml] == full[i + ml]:
                ml += 1
            ll = i - anchor
            if ll > 65535:  # LL code ceiling: flush as pure literals
                i += 1
                continue
            lits += full[anchor:i]
            seqs.append((ll, ml, i - j))
            i += ml
            anchor = i
        else:
            i += 1
    lits += full[anchor:]
    return seqs, lits


def _huffman_literals_section(lits: bytes) -> bytes | None:
    """Huffman-compress the literals with a DIRECT-weights tree
    description (headerByte >= 128): plain Huffman code lengths
    saturate the Kraft sum exactly, which is precisely the decoder's
    full-table requirement. Returns None when the shape doesn't fit
    the direct-weights format (last symbol > 128, depth > 11, < 2
    distinct bytes) or doesn't pay vs raw."""
    import heapq

    n = len(lits)
    if n < 32:
        return None
    freq = {}
    for b in lits:
        freq[b] = freq.get(b, 0) + 1
    if len(freq) < 2 or max(freq) > 128:
        return None
    # plain Huffman lengths (full tree => Kraft sum saturates)
    heap = [(c, s, None, None) for s, c in freq.items()]
    heapq.heapify(heap)
    tick = 256
    while len(heap) > 1:
        a = heapq.heappop(heap)
        b = heapq.heappop(heap)
        heapq.heappush(heap, (a[0] + b[0], tick, a, b))
        tick += 1
    lengths = {}

    def walk(node, depth):
        if node[2] is None:
            lengths[node[1]] = max(depth, 1)
            return
        walk(node[2], depth + 1)
        walk(node[3], depth + 1)

    walk(heap[0], 0)
    table_log = max(lengths.values())
    if table_log > 11:
        return None
    weights = {s: table_log + 1 - ln for s, ln in lengths.items()}
    last_sym = max(weights)
    # tree description: weights for symbols 0..last_sym-1, last implied
    n_weights = last_sym
    header = bytearray([127 + n_weights])
    for i in range(0, n_weights, 2):
        hi = weights.get(i, 0)
        lo = weights.get(i + 1, 0) if i + 1 < n_weights else 0
        header.append((hi << 4) | lo)
    # canonical codes exactly as the decoder builds its table
    table = huf_build_decode_table(
        [weights.get(s, 0) for s in range(last_sym + 1)], table_log
    )
    first_cell = {}
    for idx, (sym, nb) in enumerate(table):
        if nb and sym not in first_cell:
            first_cell[sym] = (idx >> (table_log - nb), nb)

    def enc_stream(part: bytes) -> bytes:
        bw = _BitWriter()
        for b in reversed(part):
            code, nb = first_cell[b]
            bw.add(code, nb)
        return bw.close()

    if n < 1024:
        body = enc_stream(lits)
        comp = len(header) + len(body)
        if comp >= n or comp > 1023:
            return None
        b0 = 2 | (0 << 2) | ((n & 0xF) << 4)
        head = bytes([b0, ((n >> 4) & 0x3F) | ((comp & 3) << 6), comp >> 2])
        return head + bytes(header) + body
    per = (n + 3) // 4
    parts = [lits[i * per:(i + 1) * per] for i in range(4)]
    bodies = [enc_stream(p) for p in parts]
    if any(len(b) > 0xFFFF for b in bodies[:3]):
        return None
    jump = b"".join(len(b).to_bytes(2, "little") for b in bodies[:3])
    comp = len(header) + 6 + sum(len(b) for b in bodies)
    if comp >= n or n >= (1 << 18) or comp >= (1 << 18):
        return None
    b0 = 2 | (3 << 2) | ((n & 0xF) << 4)
    head = bytes([
        b0,
        (n >> 4) & 0xFF,
        ((n >> 12) & 0x3F) | ((comp & 3) << 6),
        (comp >> 2) & 0xFF,
        comp >> 10,
    ])
    return head + bytes(header) + jump + b"".join(bodies)


def _rle_literals_section(lits: bytes) -> bytes | None:
    if len(lits) < 2 or len(set(lits)) != 1:
        return None
    n = len(lits)
    if n < 32:
        head = bytes([1 | (n << 3)])
    elif n < 4096:
        head = bytes([1 | (1 << 2) | ((n & 0xF) << 4), n >> 4])
    else:
        head = bytes([1 | (3 << 2) | ((n & 0xF) << 4),
                      (n >> 4) & 0xFF, n >> 12])
    return head + lits[:1]


def _literals_section(lits: bytes) -> bytes:
    rle = _rle_literals_section(lits)
    if rle is not None:
        return rle
    huf = _huffman_literals_section(lits)
    if huf is not None:
        return huf
    return _raw_literals_section(lits)


def _raw_literals_section(lits: bytes) -> bytes:
    n = len(lits)
    if n < 32:
        head = bytes([n << 3])
    elif n < 4096:
        head = bytes([0 | (1 << 2) | ((n & 0xF) << 4), n >> 4])
    else:
        head = bytes([0 | (3 << 2) | ((n & 0xF) << 4),
                      (n >> 4) & 0xFF, n >> 12])
    return head + lits


def _encode_block(chunk: bytes) -> tuple[int, bytes]:
    """One block of <= 64 KB input -> (block_type, content)."""
    if len(set(chunk)) == 1 and len(chunk) > 3:
        return 1, chunk[:1]  # RLE block
    seqs, lits = _find_sequences(chunk)
    return _encode_block_body(chunk, seqs, lits)


def _encode_block_body(chunk: bytes, seqs, lits) -> tuple[int, bytes]:
    """Sequences + literals -> (block_type, content); falls back to a
    raw block whenever the compressed form does not pay or an offset
    leaves the predefined OF alphabet."""
    if not seqs:
        return 0, chunk  # raw block
    body = bytearray(_literals_section(bytes(lits)))
    n_seq = len(seqs)
    if n_seq < 128:
        body.append(n_seq)
    else:
        body += bytes([128 + (n_seq >> 8), n_seq & 0xFF])
    body.append(0)  # all three tables Predefined_Mode
    ll_enc = fse_build_encode_table(*_LL_DEFAULT)
    of_enc = fse_build_encode_table(*_OF_DEFAULT)
    ml_enc = fse_build_encode_table(*_ML_DEFAULT)
    codes = []
    for ll, ml, off in seqs:
        ov = off + 3
        of_code = ov.bit_length() - 1
        if of_code > 28:
            return 0, chunk  # outside the predefined OF alphabet
        codes.append((ll, _ll_code(ll), ml, _ml_code(ml), ov, of_code))
    bw = _BitWriter()
    last = codes[-1]
    ml_st = _FseCState(*ml_enc, last[3])
    of_st = _FseCState(*of_enc, last[5])
    ll_st = _FseCState(*ll_enc, last[1])
    bw.add(last[0] - _LL_BASE[last[1]][0], _LL_BASE[last[1]][1])
    bw.add(last[2] - _ML_BASE[last[3]][0], _ML_BASE[last[3]][1])
    bw.add(last[4] - (1 << last[5]), last[5])
    for ll, llc, ml, mlc, ov, ofc in reversed(codes[:-1]):
        of_st.encode(bw, ofc)
        ml_st.encode(bw, mlc)
        ll_st.encode(bw, llc)
        bw.add(ll - _LL_BASE[llc][0], _LL_BASE[llc][1])
        bw.add(ml - _ML_BASE[mlc][0], _ML_BASE[mlc][1])
        bw.add(ov - (1 << ofc), ofc)
    ml_st.flush(bw, _ML_DEFAULT[1])
    of_st.flush(bw, _OF_DEFAULT[1])
    ll_st.flush(bw, _LL_DEFAULT[1])
    body += bw.close()
    if len(body) >= len(chunk):
        return 0, chunk  # compression did not pay: raw block
    return 2, bytes(body)


def zstd_compress(data: bytes, checksum: bool = True,
                  dictionary: bytes | ZstdDict | None = None) -> bytes:
    """From-spec SUBSET encoder: single-segment frame, explicit frame
    content size, raw/RLE/compressed blocks, raw literals, greedy LZ
    sequences over the PREDEFINED FSE tables (always-valid per RFC
    3.1.1.3.2.1.1), optional xxh64 content checksum. Conformant by
    construction — tests decode its frames with libzstd when present.

    With ``dictionary``, the dictionary CONTENT is used as a match
    prefix (§5 back-reference semantics): the greedy parser is seeded
    with the prefix's 4-grams and emits offsets reaching into it, and
    the hash table carries across blocks so later blocks match into
    earlier ones too.  Entropy stays predefined (a frame is never
    required to use the dictionary's tables), and the header carries
    no dictionary-ID — raw-content semantics, decodable by
    :func:`zstd_decompress` and libzstd's ``*_usingDict`` with the
    same dictionary."""
    if dictionary is None:
        out = bytearray(_MAGIC.to_bytes(4, "little"))
        n = len(data)
        fcs_flag, fcs_size = (0, 1) if n < 256 else (1, 2) if n < 65792 \
            else (2, 4)
        fhd = (fcs_flag << 6) | 0x20 | (0x04 if checksum else 0)
        out.append(fhd)
        out += (n - 256 if fcs_size == 2 else n).to_bytes(fcs_size, "little")
        blocks = [data[i:i + 65536] for i in range(0, n, 65536)] or [b""]
        for bi, chunk in enumerate(blocks):
            btype, content = _encode_block(chunk) if chunk else (0, b"")
            size = len(chunk) if btype == 1 else len(content)
            bh = (1 if bi == len(blocks) - 1 else 0) | (btype << 1) \
                | (size << 3)
            out += bh.to_bytes(3, "little")
            out += content
        if checksum:
            out += (xxh64(data) & 0xFFFFFFFF).to_bytes(4, "little")
        return bytes(out)

    prefix = (dictionary.content if isinstance(dictionary, ZstdDict)
              else bytes(dictionary))
    full = prefix + bytes(data)
    p0 = len(prefix)
    n = len(data)
    out = bytearray(_MAGIC.to_bytes(4, "little"))
    fcs_flag, fcs_size = (0, 1) if n < 256 else (1, 2) if n < 65792 \
        else (2, 4)
    fhd = (fcs_flag << 6) | 0x20 | (0x04 if checksum else 0)
    out.append(fhd)
    out += (n - 256 if fcs_size == 2 else n).to_bytes(fcs_size, "little")
    table: dict[bytes, int] = {}
    for j in range(max(p0 - 3, 0)):  # seed the prefix 4-grams
        table[full[j:j + 4]] = j
    bounds = list(range(p0, p0 + n, 65536)) or [p0]
    for bi, s_off in enumerate(bounds):
        e_off = min(s_off + 65536, p0 + n)
        chunk = full[s_off:e_off]
        if chunk and len(set(chunk)) == 1 and len(chunk) > 3:
            btype, content = 1, chunk[:1]
            for j in range(s_off, max(e_off - 3, s_off)):
                table[full[j:j + 4]] = j
        elif chunk:
            seqs, lits = _find_sequences_ranged(full, s_off, e_off, table)
            btype, content = _encode_block_body(chunk, seqs, lits)
        else:
            btype, content = 0, b""
        size = len(chunk) if btype == 1 else len(content)
        bh = (1 if bi == len(bounds) - 1 else 0) | (btype << 1) \
            | (size << 3)
        out += bh.to_bytes(3, "little")
        out += content
    if checksum:
        out += (xxh64(bytes(data)) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


# ------------------------------------------------------------ spark kernel


@functools.cache
def _libzstd():
    """The system libzstd via ctypes with its ``argtypes`` declared, or
    None when the library is absent. Loaded on first use and cached per
    process, so a Spark kernel that calls it on the executor binds the
    library there — no ctypes object ever rides in a pickled closure."""
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("zstd")
    try:
        lib = ctypes.CDLL(name) if name else None
    except OSError:
        lib = None
    if lib is None:
        return None
    size_t, p = ctypes.c_size_t, ctypes.c_char_p
    lib.ZSTD_compressBound.restype = size_t
    lib.ZSTD_compressBound.argtypes = [size_t]
    lib.ZSTD_isError.restype = ctypes.c_uint
    lib.ZSTD_isError.argtypes = [size_t]
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_createCCtx.argtypes = []
    lib.ZSTD_freeCCtx.restype = size_t
    lib.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
    lib.ZSTD_compress_usingDict.restype = size_t
    lib.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, p, size_t, p, size_t, p, size_t, ctypes.c_int,
    ]
    return lib


def libzstd_compress(raw: bytes, level: int = 3,
                     dictionary: bytes | None = None) -> bytes | None:
    """One zstd frame from libzstd (the REFERENCE encoder), or None when
    the library is absent so the caller can fall back to the from-spec
    :func:`zstd_compress`. ``dictionary`` is raw dictionary bytes for
    ``ZSTD_compress_usingDict``; without one the frame is byte-identical
    to ``ZSTD_compress``."""
    lib = _libzstd()
    if lib is None:
        return None
    import ctypes

    bound = lib.ZSTD_compressBound(len(raw))
    buf = ctypes.create_string_buffer(bound)
    cctx = lib.ZSTD_createCCtx()
    if not cctx:
        raise MemoryError("ZSTD_createCCtx failed")
    try:
        n = lib.ZSTD_compress_usingDict(
            cctx, buf, bound, raw, len(raw),
            dictionary, len(dictionary or b""), level,
        )
    finally:
        lib.ZSTD_freeCCtx(cctx)
    if lib.ZSTD_isError(n):
        raise ValueError("libzstd compress failed")
    return buf.raw[:n]


#: compression levels cycled by doc_id in the round-trip kernels, so
#: every frame shape libzstd emits meets the from-spec decoder
_KERNEL_LEVELS = (1, 3, 6, 9)


def zstd_roundtrip_stats(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
):
    """Per-row zstd ENCODE -> from-spec DECODE -> stats through
    :func:`codec_roundtrip_stats`. The encoder is libzstd when the
    library is present (the REFERENCE implementation — every row then
    cross-validates it against the from-spec decoder, the strongest
    form of the repo's stdlib-encodes/spec-decodes pattern; the
    compression level cycles by doc_id to vary table/stream shapes) and
    the from-spec subset encoder otherwise. Output md5 is
    encoder-independent (lossless). Narrow map, no shuffle. Output:
    (id, orig_len, dec_md5, ok)."""
    return _zstd_roundtrip(df, None, payload_col, id_col)


def zstd_dict_roundtrip_stats(
    df,
    dictionary: bytes,
    payload_col: str = "payload",
    id_col: str = "doc_id",
):
    """Per-row DICTIONARY zstd encode -> from-spec dict decode (RFC
    8878 §5) through :func:`codec_roundtrip_stats`. The dictionary is a
    small shared artifact captured by the kernel closure (the broadcast
    posture — at 100 TB a trained dictionary is a few KB shipped once
    per executor, which is exactly why dictionary compression exists
    for short documents) and parsed once per partition. The encoder is
    libzstd's ZSTD_compress_usingDict when the library is present
    (level cycled by id so every frame shape meets the from-spec
    decoder) and the from-spec prefix encoder otherwise; the decoder is
    ALWAYS :func:`zstd_decompress` with the dictionary — prefix
    back-references, dict entropy tables, offset history. Narrow map,
    no shuffle. Output: (id, orig_len, dec_md5, ok)."""
    return _zstd_roundtrip(df, bytes(dictionary), payload_col, id_col)


def _zstd_roundtrip(df, dict_blob: bytes | None, payload_col: str,
                    id_col: str):
    def make_codec():
        parsed = None if dict_blob is None else zstd_parse_dictionary(dict_blob)

        def encode(ids, raws):
            out = []
            for did, raw in zip(ids, raws):
                blob = libzstd_compress(raw, _KERNEL_LEVELS[did % 4], dict_blob)
                if blob is None:
                    blob = zstd_compress(raw, dictionary=parsed)
                out.append(blob)
            return out

        def decode(blob):
            return zstd_decompress(blob, dictionary=parsed)

        return encode, decode

    return codec_roundtrip_stats(df, make_codec, payload_col, id_col)


# ------------------------------------------------- dictionary writer

class _FwdBitWriter:
    """Forward LSB-first writer (the FSE normalized-count header
    transport — the mirror of :class:`_FwdBits`)."""

    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def put(self, v: int, n: int):
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def bytes_(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def fse_write_ncount(norm: list[int], accuracy_log: int) -> bytes:
    """Serialize an FSE table description (RFC 8878 4.1.1) — the exact
    mirror of :func:`fse_read_ncount`'s threshold state machine,
    including the small-value optimization and zero-repeat flags.
    Roundtrip-pinned in tests."""
    bw = _FwdBitWriter()
    bw.put(accuracy_log - 5, 4)
    size = 1 << accuracy_log
    remaining = size + 1
    threshold = size
    nbits = accuracy_log + 1
    i = 0
    while remaining > 1:
        if i >= len(norm):
            raise ValueError("norm counts do not close the table")
        count = norm[i]
        i += 1
        value = count + 1  # -1 encodes as 0
        maxv = 2 * threshold - 1 - remaining
        if value < maxv:
            bw.put(value, nbits - 1)
        else:
            enc = value if value < threshold else value + maxv
            bw.put(enc & ((1 << (nbits - 1)) - 1), nbits - 1)
            bw.put((enc >> (nbits - 1)) & 1, 1)
        remaining -= abs(count)
        if count == 0:
            run = 0
            while i < len(norm) and norm[i] == 0:
                run += 1
                i += 1
            if remaining > 1:
                while run >= 3:
                    bw.put(3, 2)
                    run -= 3
                bw.put(run, 2)
            elif run:
                raise ValueError("zeros after the table closed")
        while remaining > 1 and remaining < threshold:
            threshold >>= 1
            nbits -= 1
    return bw.bytes_()


def zstd_build_dictionary(content: bytes, dict_id: int,
                          sample: bytes | None = None) -> bytes:
    """Assemble a STRUCTURED RFC 8878 §5 dictionary: magic, dict-ID,
    entropy tables (Huffman literals from the sample's byte
    frequencies; the spec's PREDEFINED distributions serialized as
    explicit FSE descriptions for OF/ML/LL — always-valid seeds),
    offset history [1, 4, 8], then the content. libzstd loads the
    result with ``*_usingDict`` (cross-validated in tests), closing
    the §5 loop: the engine now TRAINS, WRITES, and DECODES the same
    artifact the reference implementation consumes."""
    if len(content) < 8:
        raise ValueError("dictionary content must cover rep offsets")
    if not 1 <= dict_id < 1 << 32:
        raise ValueError("dictionary id out of range")
    sample = content if sample is None else sample
    freq: dict[int, int] = {}
    for b in sample:
        freq[b] = freq.get(b, 0) + 1
    out = bytearray(_DICT_MAGIC.to_bytes(4, "little"))
    out += dict_id.to_bytes(4, "little")
    # libzstd's ZSTD_loadCEntropy requires the literals table to cover
    # every symbol (maxSymbolValue == 255), which only fits in the
    # FSE-compressed weights form
    out += huf_write_weights_fse(huf_weights_from_freq(freq))
    out += fse_write_ncount(*_OF_DEFAULT)
    out += fse_write_ncount(*_ML_DEFAULT)
    out += fse_write_ncount(*_LL_DEFAULT)
    for rep in (1, 4, 8):
        out += rep.to_bytes(4, "little")
    out += content
    return bytes(out)


def fse_normalize(freq: dict[int, int], accuracy_log: int,
                  max_symbol: int) -> list[int]:
    """Frequencies -> normalized counts summing to 2^accuracy_log
    (largest-remainder method; every present symbol keeps >= 1)."""
    size = 1 << accuracy_log
    total = sum(freq.values())
    present = sum(1 for c in freq.values() if c)
    if total == 0 or present < 2:
        raise ValueError("need >= 2 symbols to normalize")
    if present > size:
        raise ValueError(
            f"{present} symbols cannot fit a 2^{accuracy_log} FSE table"
        )
    norm = [0] * (max_symbol + 1)
    rema = []
    assigned = 0
    for s, c in freq.items():
        if not c:
            continue
        exact = c * size / total
        n = max(int(exact), 1)
        norm[s] = n
        assigned += n
        rema.append((-(exact - n), -c, s))  # sort key: largest frac first
    # distribute the remainder to the largest fractional parts (or
    # shave the biggest counts when over-assigned)
    while assigned < size:
        rema.sort()
        negfrac, negc, s = rema.pop(0)
        norm[s] += 1
        assigned += 1
        rema.append((negfrac + 1, negc, s))
    while assigned > size:
        cand = max((s for s in range(len(norm)) if norm[s] > 1),
                   key=lambda s: (norm[s], s))
        norm[s := cand] -= 1
        assigned -= 1
    while norm and norm[-1] == 0:
        norm.pop()
    return norm


def huf_write_weights_fse(weights: list[int]) -> bytes:
    """256-entry Huffman weights -> the FSE-COMPRESSED tree
    description (headerByte < 128): normalized-count header + the
    two-interleaved-state backward bitstream, the exact mirror of
    :func:`huf_read_weights`. The last weight is implied and not
    emitted."""
    if len(weights) != 256:
        raise ValueError("expected weights for all 256 symbols")
    w = weights[:-1]  # last is implied
    freq: dict[int, int] = {}
    for v in w:
        freq[v] = freq.get(v, 0) + 1
    al = 6
    while al > 1 and (1 << al) > sum(freq.values()) * 2:
        al -= 1  # small tables: keep the accuracy sane
    norm = fse_normalize(freq, al, max(freq))
    blob = bytearray(fse_write_ncount(norm, al))
    enc = fse_build_encode_table(norm, al)
    bw = _BitWriter()
    n = len(w)
    if n % 2 == 1:
        s1 = _FseCState(*enc, w[n - 1])
        s2 = _FseCState(*enc, w[n - 2])
        start = n - 3
    else:
        s2 = _FseCState(*enc, w[n - 1])
        s1 = _FseCState(*enc, w[n - 2])
        start = n - 3
    for i in range(start, -1, -1):
        (s1 if i % 2 == 0 else s2).encode(bw, w[i])
    s2.flush(bw, al)
    s1.flush(bw, al)
    blob += bw.close()
    if len(blob) >= 128:
        raise ValueError("compressed weights do not fit the header byte")
    return bytes([len(blob)]) + bytes(blob)


def huf_weights_from_freq(freq: dict[int, int]) -> list[int]:
    """Byte frequencies (add-one smoothed to cover ALL 256 symbols —
    libzstd's compression-side dictionary loader requires
    maxSymbolValue == 255) -> 256 Huffman weights, depth <= 11 via
    frequency flattening."""
    import heapq

    work = {s: freq.get(s, 0) + 1 for s in range(256)}
    while True:
        heap = [(c, s, None, None) for s, c in sorted(work.items())]
        heapq.heapify(heap)
        tick = 256
        while len(heap) > 1:
            a = heapq.heappop(heap)
            b = heapq.heappop(heap)
            heapq.heappush(heap, (a[0] + b[0], tick, a, b))
            tick += 1
        lengths: dict[int, int] = {}

        def walk(node, depth):
            if node[2] is None:
                lengths[node[1]] = max(depth, 1)
                return
            walk(node[2], depth + 1)
            walk(node[3], depth + 1)

        walk(heap[0], 0)
        if max(lengths.values()) <= 11:
            break
        work = {s: (c + 1) // 2 for s, c in work.items()}
    table_log = max(lengths.values())
    return [table_log + 1 - lengths[s] for s in range(256)]
