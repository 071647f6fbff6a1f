"""From-spec LZMA DECODER (.lzma "alone" container + the reusable
chunk core the xz/LZMA2 container builds on) — decode side only.

LZMA's format is public: the LZMA SDK ships a public-domain reference
description (``lzma-specification.txt``, Igor Pavlov) covering the
range coder (11-bit adaptive probabilities, 2^24 normalization bound),
the 12-state literal/match/rep state machine, bit-tree and
reverse-bit-tree decoders, the two length coders, the distance model
(6-bit position-slot trees per length state, aligned/direct bits), and
the ``.lzma`` header (1 property byte ``(pb*5+lp)*9+lc``, 4-byte LE
dictionary size, 8-byte LE uncompressed size with ``2^64-1`` meaning
"unknown, end-marker terminated").  This module implements the DECODE
direction from that description; fixtures are encoded with Python's
stdlib ``lzma`` (liblzma — an independent third-party implementation)
via ``FORMAT_ALONE``, so every roundtrip cross-validates the two
(the jsonl_gz / bzip2 pattern: stdlib encodes, from-spec decodes).

:class:`LzmaDecoder` is the chunk-grain core: probability model +
machine state live on the instance so LZMA2 (``operators/xz.py``) can
reset state/properties/dictionary independently between chunks while
matches keep reaching back into earlier chunks' window bytes.

Why LZMA in a training-data engine: ``.xz``/``.7z``/``.lzma`` archives
carry many public corpora (Wikipedia history dumps, software-heritage
shards); shard decode is a narrow per-row kernel inside
``mapInPandas`` — no shuffle, embarrassingly parallel at 100 TB.

Malformed streams raise descriptive ``ValueError`` (the inflate.py
discipline): bad property bytes, range-coder corruption, distances
beyond the produced output, truncation, missing terminator.
"""

from __future__ import annotations

from modeltracking_spark.operators.kernel import codec_roundtrip_stats

_MASK32 = 0xFFFFFFFF
_TOP = 1 << 24          # range-coder normalization bound
_BIT_MODEL_TOTAL = 1 << 11
_INIT_PROB = _BIT_MODEL_TOTAL // 2  # 1024
_MOVE_BITS = 5
_MATCH_MIN_LEN = 2
_END_POS_MODEL_INDEX = 14
_NUM_FULL_DISTANCES = 1 << (_END_POS_MODEL_INDEX >> 1)  # 128
_ALIGN_BITS = 4
_UNKNOWN_SIZE = (1 << 64) - 1


def parse_alone_header(data: bytes):
    """13-byte .lzma header -> (lc, lp, pb, dict_size, unpacked_size)."""
    if len(data) < 13:
        raise ValueError("truncated .lzma header")
    lc, lp, pb = split_props(data[0])
    dict_size = int.from_bytes(data[1:5], "little")
    unpacked = int.from_bytes(data[5:13], "little")
    return lc, lp, pb, dict_size, unpacked


def split_props(prop: int):
    """Properties byte (pb*5+lp)*9+lc -> (lc, lp, pb)."""
    if prop >= 9 * 5 * 5:
        raise ValueError("invalid LZMA properties byte")
    lc = prop % 9
    prop //= 9
    return lc, prop % 5, prop // 5


class LzmaDecoder:
    """The LZMA machine at chunk grain: literal/match probability
    model, 12-state automaton, and the four repeat distances persist
    across :meth:`decode_chunk` calls until :meth:`reset_state` /
    :meth:`set_props`; the window is the caller's ``out`` buffer with
    ``dict_start`` marking the current dictionary origin (LZMA2 dict
    resets move it forward; matches may not reach behind it)."""

    def __init__(self, lc: int, lp: int, pb: int):
        self.set_props(lc, lp, pb)

    def set_props(self, lc: int, lp: int, pb: int):
        if lc > 8 or lp > 4 or pb > 4:
            raise ValueError("invalid LZMA properties")
        self.lc, self.lp, self.pb = lc, lp, pb
        self.reset_state()

    def reset_state(self):
        n_pos = 1 << self.pb
        self.is_match = [_INIT_PROB] * (12 << 4)
        self.is_rep = [_INIT_PROB] * 12
        self.is_rep_g0 = [_INIT_PROB] * 12
        self.is_rep_g1 = [_INIT_PROB] * 12
        self.is_rep_g2 = [_INIT_PROB] * 12
        self.is_rep0_long = [_INIT_PROB] * (12 << 4)
        self.literal = [_INIT_PROB] * (0x300 << (self.lc + self.lp))
        self.pos_slot = [[_INIT_PROB] * 64 for _ in range(4)]
        self.spec_pos = [_INIT_PROB] * (
            1 + _NUM_FULL_DISTANCES - _END_POS_MODEL_INDEX
        )
        self.align_probs = [_INIT_PROB] * 16
        self.len_choice = [_INIT_PROB, _INIT_PROB]
        self.len_low = [[_INIT_PROB] * 8 for _ in range(n_pos)]
        self.len_mid = [[_INIT_PROB] * 8 for _ in range(n_pos)]
        self.len_high = [_INIT_PROB] * 256
        self.rep_choice = [_INIT_PROB, _INIT_PROB]
        self.rep_low = [[_INIT_PROB] * 8 for _ in range(n_pos)]
        self.rep_mid = [[_INIT_PROB] * 8 for _ in range(n_pos)]
        self.rep_high = [_INIT_PROB] * 256
        self.state = 0
        self.rep0 = self.rep1 = self.rep2 = self.rep3 = 0

    def decode_chunk(
        self,
        src: bytes,
        pos: int,
        out: bytearray,
        dict_start: int = 0,
        n_out: int | None = None,
        allow_end_marker: bool = True,
        max_output: int = 1 << 28,
    ) -> tuple[int, bool]:
        """Decode one range-coded chunk starting at ``src[pos]`` (the
        5 range-coder init bytes first), appending to ``out`` until
        ``n_out`` NEW bytes exist (or the end marker, when allowed).
        Returns (position just past the consumed bytes, marker_seen).
        """
        src_len = len(src)
        if pos + 5 > src_len:
            raise ValueError("truncated LZMA stream")
        if src[pos] != 0:
            raise ValueError("corrupt LZMA range coder init byte")
        code = int.from_bytes(src[pos + 1:pos + 5], "big")
        pos += 5
        rng = _MASK32

        lc, lp, pb = self.lc, self.lp, self.pb
        pb_mask = (1 << pb) - 1
        lp_mask = (1 << lp) - 1
        is_match = self.is_match
        is_rep = self.is_rep
        is_rep_g0 = self.is_rep_g0
        is_rep_g1 = self.is_rep_g1
        is_rep_g2 = self.is_rep_g2
        is_rep0_long = self.is_rep0_long
        literal = self.literal
        pos_slot = self.pos_slot
        spec_pos = self.spec_pos
        align_probs = self.align_probs
        state = self.state
        rep0, rep1, rep2, rep3 = self.rep0, self.rep1, self.rep2, self.rep3
        start_len = len(out)
        target = None if n_out is None else start_len + n_out

        def decode_bit(probs, idx):
            nonlocal rng, code, pos
            p = probs[idx]
            bound = (rng >> 11) * p
            if code < bound:
                probs[idx] = p + ((_BIT_MODEL_TOTAL - p) >> _MOVE_BITS)
                rng = bound
                bit = 0
            else:
                probs[idx] = p - (p >> _MOVE_BITS)
                rng -= bound
                code -= bound
                bit = 1
            if rng < _TOP:
                if pos >= src_len:
                    raise ValueError("truncated LZMA stream")
                rng = (rng << 8) & _MASK32
                code = ((code << 8) | src[pos]) & _MASK32
                pos += 1
            return bit

        def bit_tree(probs, n_bits):
            m = 1
            for _ in range(n_bits):
                m = (m << 1) + decode_bit(probs, m)
            return m - (1 << n_bits)

        def bit_tree_rev(probs, base, n_bits):
            m = 1
            sym = 0
            for i in range(n_bits):
                b = decode_bit(probs, base + m)
                m = (m << 1) + b
                sym |= b << i
            return sym

        def direct_bits(n_bits):
            nonlocal rng, code, pos
            res = 0
            for _ in range(n_bits):
                rng >>= 1
                code = (code - rng) & _MASK32
                t = 0 - (code >> 31)
                code = (code + (rng & t)) & _MASK32
                if code == rng:
                    raise ValueError("corrupt LZMA direct bits")
                if rng < _TOP:
                    if pos >= src_len:
                        raise ValueError("truncated LZMA stream")
                    rng = (rng << 8) & _MASK32
                    code = ((code << 8) | src[pos]) & _MASK32
                    pos += 1
                res = (res << 1) + (t + 1)
            return res & _MASK32

        def decode_len(choice, low, mid, high, ps):
            if not decode_bit(choice, 0):
                return bit_tree(low[ps], 3)
            if not decode_bit(choice, 1):
                return 8 + bit_tree(mid[ps], 3)
            return 16 + bit_tree(high, 8)

        marker_seen = False
        while True:
            if target is not None and len(out) >= target:
                break
            if len(out) - start_len > max_output:
                raise ValueError("LZMA output exceeds max_output bound")
            win = len(out) - dict_start  # position within the dictionary
            pos_state = win & pb_mask
            if not decode_bit(is_match, (state << 4) + pos_state):
                # ---- literal
                prev = out[-1] if win else 0
                lit_state = (
                    ((win & lp_mask) << lc) + (prev >> (8 - lc))
                ) if lc or lp else 0
                base = 0x300 * lit_state
                sym = 1
                if state >= 7:
                    if rep0 + 1 > win:
                        raise ValueError("LZMA matched literal before start")
                    match_byte = out[-rep0 - 1]
                    while sym < 0x100:
                        match_bit = (match_byte >> 7) & 1
                        match_byte = (match_byte << 1) & 0xFF
                        b = decode_bit(
                            literal, base + ((1 + match_bit) << 8) + sym
                        )
                        sym = (sym << 1) | b
                        if match_bit != b:
                            break
                while sym < 0x100:
                    sym = (sym << 1) | decode_bit(literal, base + sym)
                out.append(sym & 0xFF)
                state = (0 if state < 4
                         else (state - 3 if state < 10 else state - 6))
                continue

            # ---- match / rep
            if decode_bit(is_rep, state):
                if not win:
                    raise ValueError("LZMA rep match before any output")
                if not decode_bit(is_rep_g0, state):
                    if not decode_bit(is_rep0_long,
                                      (state << 4) + pos_state):
                        # short rep: single byte at rep0
                        state = 9 if state < 7 else 11
                        if rep0 + 1 > win:
                            raise ValueError("LZMA short-rep before start")
                        out.append(out[-rep0 - 1])
                        continue
                else:
                    if not decode_bit(is_rep_g1, state):
                        dist = rep1
                    else:
                        if not decode_bit(is_rep_g2, state):
                            dist = rep2
                        else:
                            dist = rep3
                            rep3 = rep2
                        rep2 = rep1
                    rep1 = rep0
                    rep0 = dist
                length = decode_len(self.rep_choice, self.rep_low,
                                    self.rep_mid, self.rep_high, pos_state)
                state = 8 if state < 7 else 11
            else:
                rep3, rep2, rep1 = rep2, rep1, rep0
                length = decode_len(self.len_choice, self.len_low,
                                    self.len_mid, self.len_high, pos_state)
                state = 7 if state < 7 else 10
                # ---- distance (len state = raw length code capped at 3)
                len_st = length if length < 4 else 3
                slot = bit_tree(pos_slot[len_st], 6)
                if slot < 4:
                    rep0 = slot
                else:
                    n_direct = (slot >> 1) - 1
                    rep0 = (2 | (slot & 1)) << n_direct
                    if slot < _END_POS_MODEL_INDEX:
                        rep0 += bit_tree_rev(spec_pos, rep0 - slot, n_direct)
                    else:
                        rep0 = (
                            rep0 + (direct_bits(n_direct - _ALIGN_BITS)
                                    << _ALIGN_BITS)
                        ) & _MASK32
                        rep0 += bit_tree_rev(align_probs, 0, _ALIGN_BITS)
                if rep0 == _MASK32:
                    # end marker
                    if not allow_end_marker:
                        raise ValueError(
                            "unexpected LZMA end marker in sized chunk"
                        )
                    if code != 0:
                        raise ValueError("LZMA stream not finished cleanly")
                    if target is not None and len(out) != target:
                        raise ValueError(
                            "LZMA end marker before declared size"
                        )
                    marker_seen = True
                    break

            length += _MATCH_MIN_LEN
            if rep0 + 1 > len(out) - dict_start:
                raise ValueError("LZMA match distance beyond output")
            if target is not None and len(out) + length > target:
                raise ValueError("LZMA match overruns declared size")
            d = rep0 + 1
            if d >= length:
                start = len(out) - d
                out += out[start:start + length]
            else:
                for _ in range(length):
                    out.append(out[-d])

        self.state = state
        self.rep0, self.rep1, self.rep2, self.rep3 = rep0, rep1, rep2, rep3
        return pos, marker_seen


def lzma_alone_decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    """.lzma stream -> bytes.

    Implements the spec's range decoder and symbol model exactly;
    stops at the declared unpacked size, or at the end marker
    (distance 0xFFFFFFFF) when the size is unknown, and verifies the
    range coder finished clean (Code == 0 after the marker)."""
    lc, lp, pb, _dict_size, unpacked = parse_alone_header(data)
    dec = LzmaDecoder(lc, lp, pb)
    out = bytearray()
    size_known = unpacked != _UNKNOWN_SIZE
    if size_known and unpacked > max_output:
        raise ValueError("LZMA output exceeds max_output bound")
    dec.decode_chunk(
        data, 13, out,
        n_out=unpacked if size_known else None,
        allow_end_marker=True,
        max_output=max_output,
    )
    # declared size reached; stream may or may not carry an end marker —
    # liblzma's FORMAT_ALONE writer emits unknown-size streams, so the
    # sized arm (spec allows marker-less termination) just stops
    return bytes(out)


# ------------------------------------------------------------ spark kernel


def lzma_roundtrip_stats(
    df,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    preset: int = 6,
):
    """Per-row stdlib-liblzma ENCODE (FORMAT_ALONE, lc/lp/pb varied by
    doc_id) -> from-spec DECODE -> stats through
    :func:`codec_roundtrip_stats` — every row cross-validates two
    independent implementations of the public format, across
    literal-context/position-bit settings. Narrow map, no shuffle.
    Output: (id, orig_len, lclppb, dec_md5, ok)."""

    def make_codec():
        import lzma

        # (lc, lp, pb) matrix cycled by doc_id — exercises literal context
        # splits, position masks, and the lc=0/lp>0 arms of the model
        props = [(3, 0, 2), (0, 0, 0), (1, 1, 1), (4, 0, 2), (0, 2, 0),
                 (2, 0, 1)]

        def encode(ids, raws):
            out = []
            for did, raw in zip(ids, raws):
                lc, lp, pb = props[did % len(props)]
                out.append(lzma.compress(
                    raw,
                    format=lzma.FORMAT_ALONE,
                    filters=[{
                        "id": lzma.FILTER_LZMA1,
                        "preset": preset,
                        "lc": lc, "lp": lp, "pb": pb,
                    }],
                ))
            return out

        return encode, lzma_alone_decompress

    def lclppb(did, raw, blob):
        return blob[0]  # the header's properties byte, (pb*5+lp)*9+lc

    return codec_roundtrip_stats(
        df, make_codec, payload_col, id_col,
        extra=[("lclppb", "long", lclppb)],
    )
