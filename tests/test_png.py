"""From-spec PNG codec (operators/png.py): lossless roundtrip across
color types and all five filters, palette expansion, CRC integrity,
golden determinism, and loud rejects at the PIL plug-in points."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from modeltracking_spark.operators.png import decode_png, encode_png


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload)) + tag + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


_SIG = b"\x89PNG\r\n\x1a\n"


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_lossless_roundtrip_all_color_types(data):
    h = data.draw(st.integers(1, 24), label="h")
    w = data.draw(st.integers(1, 24), label="w")
    ch = data.draw(st.sampled_from([0, 3, 4]), label="channels")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    shape = (h, w) if ch == 0 else (h, w, ch)
    img = np.random.RandomState(seed).randint(0, 256, shape).astype(np.uint8)
    dec = decode_png(encode_png(img))
    assert dec.shape == img.shape
    assert np.array_equal(dec, img)


def test_all_five_filters_are_exercised():
    """The encoder cycles filter type y % 5; a 10-row image therefore
    carries every filter twice — decode exactness proves every
    unfilter path (incl. the Paeth predictor's three-way tie rules)."""
    img = (np.arange(10 * 7 * 3, dtype=np.int64) * 37 % 256).reshape(
        10, 7, 3
    ).astype(np.uint8)
    payload = encode_png(img)
    raw = zlib.decompress(
        payload[payload.index(b"IDAT") + 4 : payload.index(b"IEND") - 8]
    )
    stride = 7 * 3 + 1
    fts = [raw[y * stride] for y in range(10)]
    assert sorted(set(fts)) == [0, 1, 2, 3, 4]
    assert np.array_equal(decode_png(payload), img)


def test_palette_expansion():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    rows = bytes([0, 0, 1]) + bytes([0, 2, 0])
    png = (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
           + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b""))
    dec = decode_png(png)
    assert dec.shape == (2, 2, 3)
    assert tuple(dec[0, 0]) == (255, 0, 0)
    assert tuple(dec[0, 1]) == (0, 255, 0)
    assert tuple(dec[1, 0]) == (0, 0, 255)
    assert tuple(dec[1, 1]) == (255, 0, 0)
    # out-of-range palette index is loud
    bad = (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
           + _chunk(b"IDAT", zlib.compress(bytes([0, 7, 0, 0, 0, 0])))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        decode_png(bad)


def test_crc_and_truncation_are_loud():
    img = np.zeros((4, 4), np.uint8)
    good = encode_png(img)
    bad = bytearray(good)
    bad[20] ^= 0xFF  # flip an IHDR byte -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-6])
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"BM not a png")
    # corrupt DEFLATE stream inside a re-CRC'd IDAT
    sig_ihdr = good[: good.index(b"IDAT") - 4]
    broken = (sig_ihdr + _chunk(b"IDAT", b"\x00garbage")
              + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="DEFLATE|data length"):
        decode_png(broken)


def test_unsupported_variants_reject_at_plugin_point():
    # every legal depth is implemented; an ILLEGAL one is malformed
    ihdr3 = struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0)
    png3 = (_SIG + _chunk(b"IHDR", ihdr3)
            + _chunk(b"IDAT", zlib.compress(bytes(10)))
            + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="illegal PNG bit depth"):
        decode_png(png3)
    # 16-bit palette is illegal per spec, not unimplemented
    ihdr16p = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    png16p = (_SIG + _chunk(b"IHDR", ihdr16p)
              + _chunk(b"IDAT", zlib.compress(bytes(10)))
              + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="not a legal combination"):
        decode_png(png16p)
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 7)
    png_i = (_SIG + _chunk(b"IHDR", ihdr_i)
             + _chunk(b"IDAT", zlib.compress(bytes(6)))
             + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="interlace method"):
        decode_png(png_i)
    with pytest.raises(ValueError):
        encode_png(np.zeros((0, 4), np.uint8))
    with pytest.raises(ValueError):
        encode_png(np.zeros((2, 2, 2), np.uint8))


def test_golden_bytes_deterministic():
    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    b1, b2 = encode_png(img), encode_png(img)
    assert b1 == b2
    assert hashlib.md5(b1).hexdigest() == "563e750e00985d462f926fce59d08f23"
    assert b1[:8] == _SIG and b1[-12:-8] == struct.pack(">I", 0)[:3] + b"\x00"


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_paeth_filter_rows_match_scalar_predictor(data):
    """The whole-row Paeth filter equals the per-byte _paeth reference,
    ties included (small value sets make equal distances common)."""
    from modeltracking_spark.operators.png import _filter_rows, _paeth

    bpp = data.draw(st.sampled_from([1, 2, 3, 4, 6, 8]))
    stride = bpp * data.draw(st.integers(1, 12))
    vals = data.draw(st.sampled_from(
        [[0, 255], [7, 8], [0, 1, 3], list(range(6)), list(range(256))]
    ))
    raw = np.array(
        data.draw(st.lists(st.sampled_from(vals), min_size=10 * stride,
                           max_size=10 * stride)),
        dtype=np.int16,
    ).reshape(10, stride)
    out = np.frombuffer(_filter_rows(raw, bpp), np.uint8).reshape(10, stride + 1)
    for y in (4, 9):  # filter type cycles y % 5; 4 is Paeth
        row, prev = raw[y].tolist(), raw[y - 1].tolist()
        expect = [
            (row[i] - _paeth(row[i - bpp] if i >= bpp else 0, prev[i],
                             prev[i - bpp] if i >= bpp else 0)) % 256
            for i in range(stride)
        ]
        assert out[y, 0] == 4 and out[y, 1:].tolist() == expect


def test_real_decode_in_spark(spark):
    """decode_image_features routes \\x89PNG payloads through the real
    codec inside mapInPandas; stats match a local numpy decode."""
    from modeltracking_spark.operators.multimodal import (
        attach_png_payload,
        decode_image_features,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = attach_png_payload(docs.limit(40))
    rows = {r["doc_id"]: r for r in decode_image_features(d, fake=False).collect()}
    assert len(rows) == 40
    for did, r in list(rows.items())[:5]:
        w, h = did % 19 + 4, did % 13 + 4
        y, x = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(x * 3 + y * 7 + did) % 256,
             (x * 11 + y * 5 + did * 3) % 256,
             (x * 13 + y + did * 7) % 256], axis=2)
        assert (r["width"], r["height"], r["n_channels"]) == (w, h, 3)
        assert r["pixel_sum"] == int(img.sum())


# ---------------------------------------------------------------------------
# Adam7 interlacing (round 7 follow-up)
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_adam7_roundtrip_all_color_types(data):
    h = data.draw(st.integers(1, 24), label="h")
    w = data.draw(st.integers(1, 24), label="w")
    ch = data.draw(st.sampled_from([0, 3, 4]), label="channels")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    shape = (h, w) if ch == 0 else (h, w, ch)
    img = np.random.RandomState(seed).randint(0, 256, shape).astype(np.uint8)
    payload = encode_png(img, interlace=True)
    # IHDR carries interlace=1 at byte offset 8+8+4+12 = ihdr body [12]
    assert payload[8 + 8 + 12] == 1
    dec = decode_png(payload)
    assert dec.shape == img.shape and np.array_equal(dec, img)


def test_adam7_empty_passes_and_pass_structure():
    """A 1x1 image has bytes in exactly ONE pass (the first); tiny
    shapes with several empty passes still roundtrip — the spec's
    empty-pass rule (no filter bytes at all) is honored."""
    import zlib as _z

    one = np.array([[123]], dtype=np.uint8)
    payload = encode_png(one, interlace=True)
    raw = _z.decompress(
        payload[payload.index(b"IDAT") + 4 : payload.index(b"IEND") - 8]
    )
    assert len(raw) == 2  # one filter byte + one pixel byte
    assert decode_png(payload)[0, 0] == 123
    for shape in [(1, 9), (9, 1), (2, 2), (5, 3)]:
        img = np.arange(shape[0] * shape[1], dtype=np.uint8).reshape(shape)
        assert np.array_equal(decode_png(encode_png(img, interlace=True)),
                              img)


def test_adam7_data_length_mismatch_is_loud():
    img = np.zeros((8, 8), dtype=np.uint8)
    payload = bytearray(encode_png(img, interlace=True))
    # truncate the DEFLATE payload: rebuild IDAT with fewer raw bytes
    import zlib as _z

    raw = _z.decompress(
        bytes(payload)[payload.index(b"IDAT") + 4:payload.index(b"IEND") - 8]
    )
    head = bytes(payload)[: payload.index(b"IDAT") - 4]
    broken = (head + _chunk(b"IDAT", _z.compress(raw[:-3]))
              + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="Adam7 expectation|data length"):
        decode_png(broken)


# ---------------------------------------------------------------------------
# 16-bit depth + palette tRNS (round 7 follow-up)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_16bit_roundtrip(data):
    """uint16 samples serialize big-endian with the filter unit at
    2 bytes/sample — exact both straight and Adam7."""
    h = data.draw(st.integers(1, 16), label="h")
    w = data.draw(st.integers(1, 16), label="w")
    ch = data.draw(st.sampled_from([0, 3, 4]), label="channels")
    inter = data.draw(st.booleans(), label="interlace")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    shape = (h, w) if ch == 0 else (h, w, ch)
    img = np.random.RandomState(seed).randint(
        0, 65536, shape
    ).astype(np.uint16)
    payload = encode_png(img, interlace=inter)
    assert payload[8 + 8 + 8] == 16  # IHDR bit depth
    dec = decode_png(payload)
    assert dec.dtype == np.uint16 and np.array_equal(dec, img)


def test_palette_trns_expands_to_rgba():
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0])
    png = (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
           + _chunk(b"tRNS", bytes([128]))
           + _chunk(b"IDAT", zlib.compress(bytes([0, 0, 1])))
           + _chunk(b"IEND", b""))
    dec = decode_png(png)
    assert dec.shape == (1, 2, 4)
    assert tuple(dec[0, 0]) == (255, 0, 0, 128)  # tRNS alpha applied
    assert tuple(dec[0, 1]) == (0, 255, 0, 255)  # default opaque
    # tRNS longer than the palette is malformed
    bad = (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
           + _chunk(b"tRNS", bytes([1, 2, 3]))
           + _chunk(b"IDAT", zlib.compress(bytes([0, 0, 1])))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="tRNS longer"):
        decode_png(bad)


# ---------------------------------------------------------------------------
# sub-byte bit depths 1/2/4 (round 7 follow-up)
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_subbyte_depth_roundtrip(data):
    """Greyscale at 1/2/4 bits: rows bit-packed MSB-first, filters over
    the packed bytes with bpp=1 (the spec's sub-byte rule) — exact both
    straight and Adam7."""
    depth = data.draw(st.sampled_from([1, 2, 4]), label="depth")
    h = data.draw(st.integers(1, 24), label="h")
    w = data.draw(st.integers(1, 24), label="w")
    inter = data.draw(st.booleans(), label="interlace")
    seed = data.draw(st.integers(0, 2**31 - 1), label="seed")
    img = np.random.RandomState(seed).randint(
        0, 1 << depth, (h, w)
    ).astype(np.uint8)
    payload = encode_png(img, interlace=inter, depth=depth)
    assert payload[8 + 8 + 8] == depth
    dec = decode_png(payload)
    assert dec.shape == img.shape and np.array_equal(dec, img)


def test_subbyte_palette_decode_and_guards():
    ihdr = struct.pack(">IIBBBBB", 5, 2, 2, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    r1 = bytes([0b00011011, 0b00000000])  # indices 0,1,2,3,0 at 2 bits
    r2 = bytes([0b11100100, 0b11000000])  # indices 3,2,1,0,3
    rows = bytes([0]) + r1 + bytes([0]) + r2
    png = (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
           + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b""))
    dec = decode_png(png)
    assert dec.shape == (2, 5, 3)
    assert tuple(dec[0, 0]) == (255, 0, 0) and tuple(dec[0, 3]) == (9, 9, 9)
    assert tuple(dec[1, 4]) == (9, 9, 9)
    # out-of-range samples at encode reject
    with pytest.raises(ValueError, match="range"):
        encode_png(np.full((2, 2), 4, np.uint8), depth=2)
    # sub-byte color is illegal per spec
    ihdr_bad = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    bad = (_SIG + _chunk(b"IHDR", ihdr_bad)
           + _chunk(b"IDAT", zlib.compress(bytes(8)))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="only legal for greyscale"):
        decode_png(bad)
