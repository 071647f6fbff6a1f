"""From-spec zstd (RFC 8878) vs the REFERENCE implementation: the
sandbox ships libzstd + the zstd CLI, so the decoder is validated
against reference-encoded frames across the level matrix, streaming /
ultra / long-window modes, and a golden shipped .tar.zst — and the
from-spec encoder's frames are decoded back by libzstd. Boundary and
reject batteries follow the codec-tier discipline."""

import os
import random
import subprocess

import pytest

from modeltracking_spark.operators.zstd import (
    _LL_DEFAULT,
    _ML_DEFAULT,
    _OF_DEFAULT,
    _fse_decode_table,
    fse_build_decode_table,
    fse_build_encode_table,
    xxh64,
    zstd_compress,
    zstd_decompress,
)

_ZSTD_CLI = "/root/miniconda/bin/zstd"


def _libzstd():
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("zstd")
    if not name:
        return None
    lib = ctypes.CDLL(name)
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_compress.restype = ctypes.c_size_t
    lib.ZSTD_decompress.restype = ctypes.c_size_t
    lib.ZSTD_isError.restype = ctypes.c_uint
    return lib


_LIB = _libzstd()
needs_lib = pytest.mark.skipif(_LIB is None, reason="libzstd unavailable")
needs_cli = pytest.mark.skipif(
    not os.path.exists(_ZSTD_CLI), reason="zstd CLI unavailable"
)


def _ref_compress(raw: bytes, level: int = 3) -> bytes:
    import ctypes

    bound = _LIB.ZSTD_compressBound(len(raw))
    buf = ctypes.create_string_buffer(bound)
    n = _LIB.ZSTD_compress(buf, bound, raw, len(raw), level)
    assert not _LIB.ZSTD_isError(n)
    return buf.raw[:n]


def _ref_decompress(blob: bytes, n: int) -> bytes:
    import ctypes

    buf = ctypes.create_string_buffer(max(n, 1))
    m = _LIB.ZSTD_decompress(buf, n, blob, len(blob))
    assert not _LIB.ZSTD_isError(m), "libzstd rejected our frame"
    return buf.raw[:m]


def _payloads():
    rng = random.Random(4)
    return [
        b"",
        b"a",
        b"hello zstd world " * 60,
        bytes(range(256)) * 20,
        bytes(rng.randrange(256) for _ in range(4000)),
        (b"abcabcabc" * 600) + bytes(rng.randrange(256) for _ in range(200)),
        b"Z" * 100000,
        bytes(rng.randrange(65, 91) for _ in range(60000)),
    ]


def test_xxh64_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    # self-consistency across the three size regimes
    assert xxh64(b"abc") != xxh64(b"abd")
    data = bytes(range(200))
    assert xxh64(data) == xxh64(bytes(data))
    assert xxh64(data, seed=1) != xxh64(data)


@needs_lib
@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_decoder_vs_reference_level_matrix(level):
    for raw in _payloads():
        assert zstd_decompress(_ref_compress(raw, level)) == raw


@needs_lib
def test_encoder_frames_accepted_by_reference():
    for raw in _payloads():
        blob = zstd_compress(raw)
        assert zstd_decompress(blob, max_output=1 << 22) == raw
        assert _ref_decompress(blob, len(raw)) == raw
        # checksum-free arm too
        blob2 = zstd_compress(raw, checksum=False)
        assert _ref_decompress(blob2, len(raw)) == raw


@needs_lib
def test_random_payload_sweep_both_directions():
    rng = random.Random(11)
    for i in range(40):
        n = rng.randrange(0, 30000)
        raw = (bytes(rng.randrange(256) for _ in range(n)) if i % 3 == 0
               else bytes(rng.choice(b"abcdefgh \n") for _ in range(n)))
        assert zstd_decompress(_ref_compress(raw, 1 + i % 9)) == raw
        ours = zstd_compress(raw)
        assert _ref_decompress(ours, n) == raw


@needs_cli
def test_cli_streaming_ultra_long_and_checksum_modes(tmp_path):
    rng = random.Random(9)
    raw = (b"The quick brown fox jumps over the lazy dog. " * 8000
           + bytes(rng.randrange(256) for _ in range(50000)))
    p = tmp_path / "payload"
    p.write_bytes(raw)
    for args in (["-1"], ["-19"], ["-3", "--no-check"],
                 ["--ultra", "-22"], ["-3", "--long=27"]):
        blob = subprocess.run(
            [_ZSTD_CLI] + args + ["-c", str(p)], capture_output=True
        ).stdout
        assert zstd_decompress(blob, max_output=1 << 24) == raw, args


@needs_cli
def test_golden_shipped_archive():
    g = ("/root/miniconda/pkgs/libarchive-3.8.2-h3ec8f01_0/info/recipe/"
         "test-archives/hello_world.tar.zst")
    if not os.path.exists(g):
        pytest.skip("golden archive not present")
    blob = open(g, "rb").read()
    ref = subprocess.run(
        [_ZSTD_CLI, "-d", "-c", g], capture_output=True
    ).stdout
    assert zstd_decompress(blob) == ref


def test_multi_frame_and_skippable():
    a = zstd_compress(b"first frame " * 30)
    skip = ((0x184D2A50).to_bytes(4, "little")
            + (7).to_bytes(4, "little") + b"ignored")
    b = zstd_compress(b"second")
    assert zstd_decompress(a + skip + b) == b"first frame " * 30 + b"second"


def test_predefined_fse_table_invariants():
    """RFC-normative construction: per-symbol cell counts equal the
    normalized counts (|-1| = 1), and each symbol's baselines tile its
    state subranges without overlap."""
    for norm, al in (_LL_DEFAULT, _ML_DEFAULT, _OF_DEFAULT):
        table = fse_build_decode_table(norm, al)
        size = 1 << al
        counts = {}
        for sym, _nb, _base in table:
            counts[sym] = counts.get(sym, 0) + 1
        for s, c in enumerate(norm):
            assert counts.get(s, 0) == (1 if c == -1 else max(c, 0)), (s, al)
        # every transition lands inside the table
        for sym, nb, base in table:
            assert 0 <= base and base + (1 << nb) <= size


def test_fse_decode_table_is_immutable_and_cached():
    norm, al = _LL_DEFAULT
    table = fse_build_decode_table(norm, al)
    with pytest.raises(TypeError):
        table[0] = (0, 0, 0)
    assert fse_build_decode_table(list(norm), al) is table
    assert _fse_decode_table.cache_info().maxsize is not None


def test_fse_decode_table_error_is_not_cached():
    bad = [40, 1, 1]  # 42 cells in a 32-cell table
    for _ in range(2):
        with pytest.raises(ValueError, match="exceed table size"):
            fse_build_decode_table(bad, 5)


@needs_lib
@needs_cli
def test_interleaved_frames_share_decoder_tables(tmp_path, monkeypatch):
    """Frames of every kernel level and dictionary frames (whose
    sequences use Repeat_Mode tables) decode byte-identically when
    interleaved in one process, with the table cache warm from the
    other kinds."""
    import modeltracking_spark.operators.zstd as zmod

    dblob = _trained_dict(tmp_path)
    jobs = [(_ref_compress(raw, level), None, raw)
            for raw in _payloads() for level in (1, 3, 6, 9)]
    jobs += [(zmod.libzstd_compress(raw, level, dblob), dblob, raw)
             for raw in _dict_payloads() for level in (1, 3, 6, 9)]
    random.Random(5).shuffle(jobs)
    modes = []
    read_table = zmod._read_seq_table

    def spy(kind, mode, data, pos, prev):
        modes.append(mode)
        return read_table(kind, mode, data, pos, prev)

    monkeypatch.setattr(zmod, "_read_seq_table", spy)
    for blob, dictionary, raw in jobs + jobs[::-1]:
        assert zstd_decompress(blob, dictionary=dictionary) == raw
    assert 3 in modes  # Repeat_Mode
    assert _fse_decode_table.cache_info().hits > 0


def test_fse_encode_decode_state_machine_roundtrip():
    rng = random.Random(2)
    from modeltracking_spark.operators.zstd import _BackBits, _BitWriter, \
        _FseCState

    for norm, al in (_LL_DEFAULT, _ML_DEFAULT, _OF_DEFAULT,
                     ([16, 8, 4, 2, 1, 1], 5), ([28, 2, -1, -1], 5)):
        dec = fse_build_decode_table(norm, al)
        st_table, tt = fse_build_encode_table(norm, al)
        alpha = [i for i, c in enumerate(norm) if c]
        for _ in range(60):
            syms = [rng.choice(alpha) for _ in range(rng.randrange(1, 50))]
            bw = _BitWriter()
            st = _FseCState(st_table, tt, syms[-1])
            for s in reversed(syms[:-1]):
                st.encode(bw, s)
            st.flush(bw, al)
            bb = _BackBits(bw.close())
            state = bb.read(al)
            out = []
            for _ in syms:
                sym, nb, base = dec[state]
                out.append(sym)
                state = base + bb.read(nb)
            assert out == syms


def test_repeat_offset_semantics():
    """ll==0 rotates the repeat history one further (offset_value 1 ->
    rep2, 3 -> rep1 - 1): pin via a crafted sequence execution."""
    from modeltracking_spark.operators.zstd import _execute, _FrameCtx

    ctx = _FrameCtx()
    out = bytearray()
    lits = b"abcdefgh" + b"XY"
    # seq1: ll=8, ml=4, real offset 8 (ov=11): history -> [8, 1, 4]
    # seq2: ll=0, ov=1: the ll==0 shift selects rep2 (=1), overlap-copy
    # of the last byte; history -> [1, 8, 4]
    _execute(lits, [(8, 4, 11), (0, 3, 1)], ctx, out, 1 << 20)
    assert bytes(out) == b"abcdefghabcd" + b"ddd" + b"XY"
    assert ctx.rep == [1, 8, 4]
    ctx2 = _FrameCtx()
    out2 = bytearray()
    # seq1: offset 4, history [4, 1, 8]; seq2 ll==0 ov=3 -> rep1 - 1 = 3
    _execute(b"abcdefgh", [(8, 3, 4 + 3), (0, 3, 3)], ctx2, out2, 1 << 20)
    assert bytes(out2) == b"abcdefgh" + b"efg" + b"efg"
    assert ctx2.rep == [3, 4, 1]


def test_rejects_and_bomb_guard():
    good = zstd_compress(b"tamper target " * 50)
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00" + good)
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # checksum
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad))
    for cut in (3, 5, len(good) // 2, len(good) - 1):
        with pytest.raises(ValueError):
            zstd_decompress(good[:cut])
    # reserved block type
    hdr = bytearray(zstd_compress(b"xyz", checksum=False))
    # frame: magic(4) fhd(1) fcs(1) then block header 3 bytes
    hdr[6] = (hdr[6] & ~0x06) | 0x06
    with pytest.raises(ValueError, match="reserved block type"):
        zstd_decompress(bytes(hdr))
    with pytest.raises(ValueError, match="max_output"):
        zstd_decompress(zstd_compress(b"A" * 200000), max_output=1000)
    with pytest.raises(ValueError, match="dictionary 7"):
        # frame naming a dictionary-ID with no dictionary supplied
        frame = ((0xFD2FB528).to_bytes(4, "little")
                 + bytes([0x21, 0x07, 0x00]))  # single-seg, did=1 byte
        zstd_decompress(frame)


def test_frame_content_size_mismatch_rejects():
    blob = bytearray(zstd_compress(b"hello world!", checksum=False))
    blob[5] = 99  # declared FCS != actual
    with pytest.raises(ValueError, match="content size"):
        zstd_decompress(bytes(blob))


@needs_lib
def test_our_huffman_and_rle_literal_arms_accepted_by_reference():
    """The encoder's Huffman-literals (direct weights, 1- and
    4-stream) and RLE-literals arms must fire on shaped payloads AND
    decode identically under libzstd — reference validation of OUR
    entropy-coded sections."""
    from modeltracking_spark.operators.zstd import (
        _huffman_literals_section,
        _rle_literals_section,
    )

    rng = random.Random(1)
    skewed_small = bytes(rng.choice(b"abcdef") for _ in range(500))
    skewed_big = bytes(rng.choice(b"etaoin shrdlu") for _ in range(8000))
    assert _huffman_literals_section(skewed_small) is not None  # 1-stream
    assert _huffman_literals_section(skewed_big) is not None    # 4-stream
    assert _rle_literals_section(b"Q" * 400) is not None
    # >128 byte values cannot use direct weights: must fall back, not crash
    assert _huffman_literals_section(bytes(range(256)) * 4) is None
    for raw in (skewed_small, skewed_big,
                b"QQ" + b"Q" * 4000 + b"tail",
                skewed_big + bytes(range(128)) * 8):
        blob = zstd_compress(raw)
        assert zstd_decompress(blob, max_output=1 << 20) == raw
        assert _ref_decompress(blob, len(raw)) == raw


def test_truncated_literals_header_raises_valueerror_not_indexerror():
    """ADVICE r9: a block ending right after the first literals byte
    leaked IndexError through zstd_decompress; the contract is a
    descriptive ValueError for every malformed frame.

    Build a minimal frame whose single compressed block is exactly one
    byte long, for every (lit_type, size_format) pair that needs more
    header bytes than the block holds."""
    for lit_type in range(4):
        for size_fmt in range(4):
            b0 = lit_type | (size_fmt << 2)
            # frame header: magic + FHD(single-segment, FCS 1 byte)=0x20
            # + FCS=0 ... use window_descriptor form instead: FHD=0x00,
            # window byte 0x00, then one block header.
            block_hdr = (1 << 3) | (2 << 1) | 1  # size=1, Compressed, last
            frame = (
                b"\x28\xb5\x2f\xfd"  # magic
                + b"\x00"                # FHD: window descriptor present
                + b"\x00"                # smallest window
                + block_hdr.to_bytes(3, "little")
                + bytes([b0])
            )
            try:
                zstd_decompress(frame)
            except ValueError:
                pass  # the contract
            except IndexError as exc:  # pragma: no cover - the bug
                raise AssertionError(
                    f"IndexError leaked for lit_type={lit_type} "
                    f"size_fmt={size_fmt}: {exc}"
                )



# ------------------------------------------------------- dictionaries

_DICT_TEMPLATE = (
    b"GET /api/v1/resource?id=%d HTTP/1.1\r\nHost: example.com\r\n"
    b"Accept: application/json\r\n" * 4
)
_RAW_DICT = (
    b"HTTP/1.1\r\nHost: example.com\r\nAccept: application/json\r\n"
    b"GET /api/v1/resource?id="
)


def _dict_payloads():
    rng = random.Random(7)
    return [
        _DICT_TEMPLATE
        + bytes(rng.randrange(256) for _ in range(100))
        + _DICT_TEMPLATE
        for _ in range(5)
    ] + [b"", b"x", _RAW_DICT * 3]


def test_raw_dict_roundtrip_ours_both_ways():
    """Raw-content dictionary (§5 back-reference prefix): our encoder
    with the prefix -> our decoder with the prefix, and the dictionary
    must actually pay vs the plain frame on template-heavy payloads."""
    from modeltracking_spark.operators.zstd import zstd_parse_dictionary

    for p in _dict_payloads():
        blob = zstd_compress(p, dictionary=_RAW_DICT)
        assert zstd_decompress(blob, dictionary=_RAW_DICT) == p
        # parsed-form dictionary object works identically
        d = zstd_parse_dictionary(_RAW_DICT)
        assert d.dict_id == 0 and d.content == _RAW_DICT
        assert zstd_decompress(blob, dictionary=d) == p
    rich = _DICT_TEMPLATE + b"tail"
    assert len(zstd_compress(rich, dictionary=_RAW_DICT)) < len(
        zstd_compress(rich)
    )


@needs_lib
def test_raw_dict_cross_validation_both_directions():
    """our-dict-frames decoded by libzstd's *_usingDict, and
    libzstd's raw-dict frames decoded by us."""
    import ctypes

    _LIB.ZSTD_createCCtx.restype = ctypes.c_void_p
    _LIB.ZSTD_createDCtx.restype = ctypes.c_void_p
    _LIB.ZSTD_compress_usingDict.restype = ctypes.c_size_t
    _LIB.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.c_size_t, ctypes.c_int,
    ]
    _LIB.ZSTD_decompress_usingDict.restype = ctypes.c_size_t
    _LIB.ZSTD_decompress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.c_size_t,
    ]
    for p in _dict_payloads():
        ours = zstd_compress(p, dictionary=_RAW_DICT)
        dctx = _LIB.ZSTD_createDCtx()
        buf = ctypes.create_string_buffer(max(len(p), 1))
        n = _LIB.ZSTD_decompress_usingDict(
            dctx, buf, len(p), ours, len(ours), _RAW_DICT, len(_RAW_DICT)
        )
        assert not _LIB.ZSTD_isError(n), "libzstd rejected our dict frame"
        assert buf.raw[:n] == p
        cctx = _LIB.ZSTD_createCCtx()
        bound = _LIB.ZSTD_compressBound(len(p))
        cbuf = ctypes.create_string_buffer(bound)
        m = _LIB.ZSTD_compress_usingDict(
            cctx, cbuf, bound, p, len(p), _RAW_DICT, len(_RAW_DICT), 3
        )
        assert not _LIB.ZSTD_isError(m)
        assert zstd_decompress(cbuf.raw[:m], dictionary=_RAW_DICT) == p


def _trained_dict(tmp_path) -> bytes:
    """A structured dictionary trained by the zstd CLI."""
    rng = random.Random(13)
    samples = []
    for i in range(80):
        sp = _DICT_TEMPLATE + (b"sample %d " % i) * rng.randrange(3, 30)
        fn = tmp_path / f"s{i}"
        fn.write_bytes(sp)
        samples.append(str(fn))
    dfile = tmp_path / "dict"
    subprocess.run(
        [_ZSTD_CLI, "--train", *samples, "-o", str(dfile),
         "--maxdict=4096"],
        check=True, capture_output=True,
    )
    return dfile.read_bytes()


@needs_cli
def test_trained_structured_dict_decode_vs_libzstd(tmp_path):
    """zstd --train builds a REAL structured dictionary (magic,
    entropy tables, offset history, content); libzstd encodes with it
    across levels incl. 19 (which reuses the dict entropy tables via
    Treeless/Repeat_Mode) and the from-spec decoder must replay every
    frame. Missing/mismatched dictionaries reject loudly."""
    import ctypes

    from modeltracking_spark.operators.zstd import zstd_parse_dictionary

    dblob = _trained_dict(tmp_path)
    d = zstd_parse_dictionary(dblob)
    assert d.dict_id != 0 and d.huf_table is not None and d.content

    _LIB.ZSTD_createCCtx.restype = ctypes.c_void_p
    _LIB.ZSTD_compress_usingDict.restype = ctypes.c_size_t
    _LIB.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
        ctypes.c_size_t, ctypes.c_int,
    ]

    def ref_c(raw, level):
        cctx = _LIB.ZSTD_createCCtx()
        bound = _LIB.ZSTD_compressBound(len(raw))
        buf = ctypes.create_string_buffer(bound)
        n = _LIB.ZSTD_compress_usingDict(
            cctx, buf, bound, raw, len(raw), dblob, len(dblob), level
        )
        assert not _LIB.ZSTD_isError(n)
        return buf.raw[:n]

    for p in _dict_payloads():
        for level in (1, 3, 19):
            blob = ref_c(p, level)
            assert zstd_decompress(blob, dictionary=dblob) == p
            assert zstd_decompress(blob, dictionary=d) == p

    blob = ref_c(_dict_payloads()[0], 3)
    with pytest.raises(ValueError, match="no dictionary was provided"):
        zstd_decompress(blob)
    wrong = bytearray(dblob)
    wrong[4] ^= 0xFF  # different dictionary-ID
    with pytest.raises(ValueError, match="has ID"):
        zstd_decompress(blob, dictionary=bytes(wrong))


@needs_cli
def test_dictionary_parser_mutation_fuzz(tmp_path):
    """Bit-flip / truncation fuzz over a real trained dictionary: the
    parser must answer ValueError (or parse successfully when the flip
    lands in content), never IndexError/KeyError/crash."""
    from modeltracking_spark.operators.zstd import zstd_parse_dictionary

    rng = random.Random(31)
    samples = []
    for i in range(60):
        fn = tmp_path / f"s{i}"
        fn.write_bytes(_DICT_TEMPLATE + (b"tok%d " % i) * (5 + i % 20))
        samples.append(str(fn))
    dfile = tmp_path / "dict"
    subprocess.run(
        [_ZSTD_CLI, "--train", *samples, "-o", str(dfile),
         "--maxdict=2048"],
        check=True, capture_output=True,
    )
    dblob = dfile.read_bytes()
    for _ in range(200):
        m = bytearray(dblob)
        m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
        try:
            zstd_parse_dictionary(bytes(m))
        except ValueError:
            pass
    for cut in range(0, min(len(dblob), 64)):
        try:
            zstd_parse_dictionary(dblob[:cut])
        except ValueError:
            pass


def test_fse_ncount_writer_roundtrips_and_weights_encoder():
    """fse_write_ncount mirrors fse_read_ncount exactly (predefined
    distributions + random normalizations), and the FSE-compressed
    Huffman weights encoder roundtrips through huf_read_weights
    including the implied last weight."""
    import random

    from modeltracking_spark.operators.zstd import (
        fse_normalize,
        fse_read_ncount,
        fse_write_ncount,
        huf_read_weights,
        huf_weights_from_freq,
        huf_write_weights_fse,
    )

    for norm, al in (_OF_DEFAULT, _ML_DEFAULT, _LL_DEFAULT):
        blob = fse_write_ncount(norm, al)
        norm2, al2, _end = fse_read_ncount(blob, 0, len(norm), al)
        assert al2 == al
        assert norm2 == norm[:len(norm2)]
        assert all(c == 0 for c in norm[len(norm2):])
    rng = random.Random(6)
    for _ in range(40):
        nsym = rng.randrange(2, 40)
        freq = {s: rng.randrange(1, 500) for s in range(nsym)}
        al = rng.choice([a for a in (5, 6, 7) if (1 << a) >= nsym])
        norm = fse_normalize(freq, al, nsym - 1)
        assert sum(norm) == 1 << al
        blob = fse_write_ncount(norm, al)
        norm2, al2, _ = fse_read_ncount(blob, 0, nsym - 1, al)
        assert norm2 == norm[:len(norm2)]
    for _ in range(30):
        freq = {b: rng.randrange(0, 1000)
                for b in range(rng.randrange(5, 256))}
        w = huf_weights_from_freq(freq)
        blob = huf_write_weights_fse(w)
        got, _tlog, pos = huf_read_weights(blob, 0)
        assert pos == len(blob) and got == w
