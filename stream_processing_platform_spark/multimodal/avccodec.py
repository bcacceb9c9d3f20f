"""From-scratch H.264/AVC baseline I-frame codec (CAVLC entropy layer).

Real crawl MP4 is overwhelmingly AVC; r9 shipped the ISO-BMFF container
layer with AVC honestly gated at entropy decode. This module closes the
keyframe half of that gate with no codec library:

- **Decode**: Annex-B / length-prefixed NAL parsing, RBSP de-escaping,
  SPS/PPS, IDR slice headers, macroblock layer for I slices — I_PCM,
  I_16x16 (all four luma prediction modes, DC/H/V/Plane chroma), and
  I_4x4 (all nine 4x4 prediction modes, predicted-mode signaling,
  Table 9-4 coded_block_pattern) — and P slices (r10 part 2): P_Skip
  runs, P_L0_16x16 with quarter-pel 6-tap motion compensation and
  median MV prediction, intra-in-P, inter coded_block_pattern; CAVLC
  residual decoding (coeff_token / levels with adaptive suffix
  length / total_zeros / run_before, all five nC table classes
  including the chroma-DC table), dequantization, the 4x4 inverse
  integer transform, the 4x4 luma-DC Hadamard and the 2x2 chroma-DC
  transform, 4:2:0 chroma reconstruction.
- **Encode**: a fixture-grade I_16x16 + I_PCM encoder producing
  conformant streams (forward transform + quantization with the
  standard MF tables, CAVLC emission, in-loop reconstruction identical
  to the decoder) so every decode path is exercised by bit-exact
  round-trip tests in-container.

- **In-loop deblocking (r11)**: the full ITU-T 8.7 filter — boundary
  strength derivation (intra/coeff/MV rules), Table 8-16/8-17 alpha/
  beta/tc0 thresholds with slice offsets, the normal (bS<4) and strong
  (bS=4) luma kernels, the 2-tap chroma kernels, spec MB/edge
  processing order, qPp=0 for I_PCM. The decoder applies it whenever
  the bitstream enables it (including when the PPS omits the slice
  controls); the encoder can signal + run it in-loop (``deblock=True``)
  so IDR+P round-trips stay bit-exact against filtered references —
  real baseline streams with deblocking on (nearly all of them) now
  decode instead of being refused.

Honest gates (loud ``NotImplementedError``): CABAC, B slices, P
sub-16x16 partitions, multiple reference frames, fields/MBAFF, and
high-profile tools (8x8 transform, scaling lists, monochrome).

Conformance note: the VLC tables are transcribed from the public spec
(ITU-T H.264 Tables 9-5, 9-7/9-8, 9-9, 9-10); with no reference
decoder in this container, conformance is verified structurally
(prefix-freeness of every table, pytest) plus bit-exact round-trips
through the independently-written encode and decode paths.

The reference platform has no video code at all — this is LLM-pipeline
multimodal surface (SURVEY.md §7.6), same tier as jpegcodec/mp4codec.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------- bit io


class BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def u(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def ue(self, v: int) -> None:
        code = v + 1
        nbits = code.bit_length()
        self.u(0, nbits - 1)
        self.u(code, nbits)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align_zero(self) -> None:
        if self._n:
            self.u(0, 8 - self._n)

    def rbsp_trailing(self) -> None:
        self.u(1, 1)
        self.align_zero()

    def getvalue(self) -> bytes:
        assert self._n == 0
        return bytes(self.buf)


class BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position
        self._nbits = len(data) * 8

    def u(self, nbits: int) -> int:
        if nbits == 1:  # the hot VLC/flag case: one inline extraction
            pos = self.pos
            self.pos = pos + 1
            return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1
        if nbits == 0:
            return 0
        pos = self.pos
        end = pos + nbits
        last = (end + 7) >> 3
        if last > len(self.data):
            raise IndexError("AVC: bitstream truncated")
        chunk = int.from_bytes(self.data[pos >> 3 : last], "big")
        self.pos = end
        return (chunk >> ((last << 3) - end)) & ((1 << nbits) - 1)

    def peek16(self) -> int:
        """The next 16 bits left-aligned, zero-padded past stream end —
        consume by bumping ``pos`` (callers bound-check against
        ``_nbits`` so the padding can never be silently decoded)."""
        pos = self.pos
        i = pos >> 3
        w = self.data[i : i + 4]
        if len(w) < 4:
            w = w + b"\x00\x00\x00\x00"[: 4 - len(w)]
        return (int.from_bytes(w, "big") >> (16 - (pos & 7))) & 0xFFFF

    def ue(self) -> int:
        # Fast path: any exp-golomb code of <= 16 bits (lz <= 7, value
        # <= 254 — every code the I/P fixtures emit) resolves from ONE
        # 16-bit peek: [0]*lz ++ [1] ++ info read as an integer is
        # (1 << lz) + info, and ue = 2^lz - 1 + info = that - 1.
        p = self.peek16()
        if p:
            total = 2 * (16 - p.bit_length()) + 1
            if total <= 16:
                pos = self.pos + total
                if pos > self._nbits:
                    raise IndexError("AVC: bitstream truncated")
                self.pos = pos
                return (p >> (16 - total)) - 1
        lz = 0
        while self.u(1) == 0:
            lz += 1
            if lz > 32:
                raise ValueError("AVC: invalid exp-golomb code")
        return (1 << lz) - 1 + self.u(lz)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def more_rbsp_data(self) -> bool:
        # true unless only the rbsp_stop_one_bit + zeros remain
        nbits = len(self.data) * 8
        if self.pos >= nbits:
            return False
        last = nbits - 1
        while last > self.pos:
            if (self.data[last >> 3] >> (7 - (last & 7))) & 1:
                break
            last -= 1
        return self.pos < last


def rbsp_escape(raw: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for b in raw:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def rbsp_unescape(data: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(data):
        b = data[i]
        if zeros >= 2 and b == 3 and i + 1 < len(data) and data[i + 1] <= 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# ------------------------------------------------- CAVLC tables (9-5 etc.)

# coeff_token: per table class, rows = TotalCoeff 0..16, cols =
# TrailingOnes 0..3, entries (length, code). Class 0: 0<=nC<2,
# class 1: 2<=nC<4, class 2: 4<=nC<8; nC>=8 is a 6-bit FLC; class -1
# is the 4:2:0 chroma-DC table (TotalCoeff 0..4).
_CT_LEN = {
    0: [
        [1], [6, 2], [8, 6, 3], [9, 8, 7, 5], [10, 9, 8, 6],
        [11, 10, 9, 7], [13, 11, 10, 8], [13, 13, 11, 9],
        [13, 13, 13, 10], [14, 14, 13, 11], [14, 14, 14, 13],
        [15, 15, 14, 14], [15, 15, 15, 14], [16, 15, 15, 15],
        [16, 16, 16, 15], [16, 16, 16, 16], [16, 16, 16, 16],
    ],
    1: [
        [2], [6, 2], [6, 5, 3], [7, 6, 6, 4], [8, 6, 6, 4],
        [8, 7, 7, 5], [9, 8, 8, 6], [11, 9, 9, 6], [11, 11, 11, 7],
        [12, 11, 11, 9], [12, 12, 12, 11], [12, 12, 12, 11],
        [13, 13, 13, 12], [13, 13, 13, 13], [13, 14, 14, 13],
        [14, 14, 14, 13], [14, 14, 14, 14],
    ],
    2: [
        [4], [6, 4], [6, 5, 4], [6, 5, 5, 4], [7, 5, 5, 4],
        [7, 5, 5, 4], [7, 6, 6, 4], [7, 6, 6, 4], [8, 7, 7, 5],
        [8, 8, 7, 6], [9, 8, 8, 7], [9, 9, 8, 8], [9, 9, 9, 8],
        [10, 9, 9, 9], [10, 10, 10, 10], [10, 10, 10, 10],
        [10, 10, 10, 10],
    ],
    -1: [[2], [6, 1], [6, 6, 3], [6, 7, 7, 6], [6, 8, 8, 7]],
}
_CT_CODE = {
    0: [
        [1], [5, 1], [7, 4, 1], [7, 6, 5, 3], [7, 6, 5, 3],
        [7, 6, 5, 4], [15, 6, 5, 4], [11, 14, 5, 4], [8, 10, 13, 4],
        [15, 14, 9, 4], [11, 10, 13, 12], [15, 14, 9, 12],
        [11, 10, 13, 8], [15, 1, 9, 12], [11, 14, 13, 8],
        [7, 10, 9, 12], [4, 6, 5, 8],
    ],
    1: [
        [3], [11, 2], [7, 7, 3], [7, 10, 9, 5], [7, 6, 5, 4],
        [4, 6, 5, 6], [7, 6, 5, 8], [15, 6, 5, 4], [11, 14, 13, 4],
        [15, 10, 9, 4], [11, 14, 13, 12], [8, 10, 9, 8],
        [15, 14, 13, 12], [11, 10, 9, 12], [7, 11, 10, 8],
        [9, 8, 13, 1], [7, 6, 5, 4],
    ],
    2: [
        [15], [15, 14], [11, 15, 13], [8, 12, 14, 12], [15, 10, 11, 11],
        [11, 8, 9, 10], [9, 14, 13, 9], [8, 10, 9, 8], [15, 14, 13, 13],
        [11, 14, 10, 12], [15, 10, 13, 12], [11, 14, 9, 12],
        [8, 10, 13, 8], [13, 7, 9, 12], [9, 12, 11, 10], [5, 8, 7, 6],
        [1, 4, 3, 2],
    ],
    -1: [[1], [7, 1], [4, 6, 1], [3, 3, 2, 5], [2, 3, 2, 0]],
}

# total_zeros, 4x4 blocks (Tables 9-7/9-8): [TotalCoeff 1..15] ->
# per total_zeros value (0..16-TC) a (length, code) pair.
_TZ_LEN = [
    [1, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9, 9],
    [3, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 6, 6, 6, 6],
    [4, 3, 3, 3, 4, 4, 3, 3, 4, 5, 5, 6, 5, 6],
    [5, 3, 4, 4, 3, 3, 3, 4, 3, 4, 5, 5, 5],
    [4, 4, 4, 3, 3, 3, 3, 3, 4, 5, 4, 5],
    [6, 5, 3, 3, 3, 3, 3, 3, 4, 3, 6],
    [6, 5, 3, 3, 3, 2, 3, 4, 3, 6],
    [6, 4, 5, 3, 2, 2, 3, 3, 6],
    [6, 6, 4, 2, 2, 3, 2, 5],
    [5, 5, 3, 2, 2, 2, 4],
    [4, 4, 3, 3, 1, 3],
    [4, 4, 2, 1, 3],
    [3, 3, 1, 2],
    [2, 2, 1],
    [1, 1],
]
_TZ_CODE = [
    [1, 3, 2, 3, 2, 3, 2, 3, 2, 3, 2, 3, 2, 3, 2, 1],
    [7, 6, 5, 4, 3, 5, 4, 3, 2, 3, 2, 3, 2, 1, 0],
    [5, 7, 6, 5, 4, 3, 4, 3, 2, 3, 2, 1, 1, 0],
    [3, 7, 5, 4, 6, 5, 4, 3, 3, 2, 2, 1, 0],
    [5, 4, 3, 7, 6, 5, 4, 3, 2, 1, 1, 0],
    [1, 1, 7, 6, 5, 4, 3, 2, 1, 1, 0],
    [1, 1, 5, 4, 3, 3, 2, 1, 1, 0],
    [1, 1, 1, 3, 3, 2, 2, 1, 0],
    [1, 0, 1, 3, 2, 1, 1, 1],
    [1, 0, 1, 3, 2, 1, 1],
    [0, 1, 1, 2, 1, 3],
    [0, 1, 1, 1, 1],
    [0, 1, 1, 1],
    [0, 1, 1],
    [0, 1],
]

# chroma-DC total_zeros (Table 9-9a, 4:2:0): [TotalCoeff 1..3]
_TZC_LEN = [[1, 2, 3, 3], [1, 2, 2], [1, 1]]
_TZC_CODE = [[1, 1, 1, 0], [1, 1, 0], [1, 0]]

# run_before (Table 9-10): [min(zerosLeft,7) 1..7] -> per run value
_RB_LEN = [
    [1, 1],
    [1, 2, 2],
    [2, 2, 2, 2],
    [2, 2, 2, 3, 3],
    [2, 2, 3, 3, 3, 3],
    [2, 3, 3, 3, 3, 3, 3],
    [3, 3, 3, 3, 3, 3, 3, 4, 5, 6, 7, 8, 9, 10, 11],
]
_RB_CODE = [
    [1, 0],
    [1, 1, 0],
    [3, 2, 1, 0],
    [3, 2, 1, 1, 0],
    [3, 2, 3, 2, 1, 0],
    [3, 0, 1, 3, 2, 5, 4],
    [7, 6, 5, 4, 3, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1],
]

_ZIGZAG4 = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]


def _ct_class(nC: int) -> int:
    if nC == -1:
        return -1
    if nC < 2:
        return 0
    if nC < 4:
        return 1
    if nC < 8:
        return 2
    return 3  # 6-bit FLC


def _write_coeff_token(bw: BitWriter, nC: int, total: int, t1s: int) -> None:
    cls = _ct_class(nC)
    if cls == 3:
        if total == 0:
            bw.u(0b000011, 6)
        else:
            bw.u(((total - 1) << 2) | t1s, 6)
        return
    bw.u(_CT_CODE[cls][total][t1s], _CT_LEN[cls][total][t1s])


def _vlc_table(lens, codes) -> tuple[list, int]:
    """Prefix-window LUT (the JPEG Huffman-LUT move): a list indexed by
    the next ``maxlen`` bits of the stream, entries ``(code_length,
    row_index)`` — decode = one peek + one list index instead of a
    bit-by-bit dict walk. ``None`` marks invalid prefixes."""
    maxlen = max(lens)
    lut: list[tuple[int, int] | None] = [None] * (1 << maxlen)
    for i, (ln, code) in enumerate(zip(lens, codes)):
        span = 1 << (maxlen - ln)
        start = code * span
        lut[start : start + span] = [(ln, i)] * span
    return lut, maxlen


def _vlc_read(br: BitReader, table: tuple[list, int]) -> int:
    """Decode one prefix code against a precomputed window LUT."""
    lut, maxlen = table
    e = lut[br.peek16() >> (16 - maxlen)]
    if e is None:
        raise ValueError("AVC: invalid VLC code")
    pos = br.pos + e[0]
    if pos > br._nbits:
        raise IndexError("AVC: bitstream truncated")
    br.pos = pos
    return e[1]


def _ct_decode_tables() -> dict[int, tuple[list, int]]:
    # one window LUT per coeff_token table (classes 0-2 plus the -1
    # chroma-DC table), entries (code_length, TotalCoeff, TrailingOnes)
    out = {}
    for cls, table_len in _CT_LEN.items():
        table_code = _CT_CODE[cls]
        maxlen = max(max(row) for row in table_len)
        lut: list[tuple[int, int, int] | None] = [None] * (1 << maxlen)
        for total in range(len(table_len)):
            for t1s in range(len(table_len[total])):
                ln = table_len[total][t1s]
                span = 1 << (maxlen - ln)
                start = table_code[total][t1s] * span
                lut[start : start + span] = [(ln, total, t1s)] * span
        out[cls] = (lut, maxlen)
    return out


_CT_DEC = _ct_decode_tables()
_TZ_DEC = [_vlc_table(lens, codes) for lens, codes in zip(_TZ_LEN, _TZ_CODE)]
_TZC_DEC = [_vlc_table(lens, codes) for lens, codes in zip(_TZC_LEN, _TZC_CODE)]
_RB_DEC = [_vlc_table(lens, codes) for lens, codes in zip(_RB_LEN, _RB_CODE)]


def _read_coeff_token(br: BitReader, nC: int) -> tuple[int, int]:
    cls = _ct_class(nC)
    if cls == 3:
        v = br.u(6)
        if v == 0b000011:
            return 0, 0
        return (v >> 2) + 1, v & 3
    lut, maxlen = _CT_DEC[cls]
    e = lut[br.peek16() >> (16 - maxlen)]
    if e is None:
        raise ValueError("AVC: invalid VLC code")
    pos = br.pos + e[0]
    if pos > br._nbits:
        raise IndexError("AVC: bitstream truncated")
    br.pos = pos
    return e[1], e[2]


def encode_residual_block(
    bw: BitWriter, coeffs: list[int], nC: int, max_coeffs: int
) -> int:
    """CAVLC-encode one scanned coefficient array (len == max_coeffs,
    already in scan order). Returns TotalCoeff (for nC bookkeeping)."""
    nz = [(i, c) for i, c in enumerate(coeffs) if c != 0]
    total = len(nz)
    if total > max_coeffs:
        raise ValueError("more coefficients than block size")
    # trailing ones: up to 3 |1| values at the high-frequency end
    t1s = 0
    for _, c in reversed(nz):
        if abs(c) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    _write_coeff_token(bw, nC, total, t1s)
    if total == 0:
        return 0
    # signs of trailing ones, highest frequency first
    for _, c in list(reversed(nz))[:t1s]:
        bw.u(1 if c < 0 else 0, 1)
    # remaining levels, highest frequency first
    levels = [c for _, c in list(reversed(nz))[t1s:]]
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    for i, level in enumerate(levels):
        code = (level << 1) - 2 if level > 0 else -(level << 1) - 1
        if i == 0 and t1s < 3:
            code -= 2
        if suffix_len == 0:
            if code < 14:
                bw.u(1, code + 1)  # prefix zeros + stop bit
            elif code < 30:
                bw.u(1, 15)  # prefix 14
                bw.u(code - 14, 4)
            elif code < 14 + 15 + 4096 - 15:  # prefix 15, 12-bit suffix
                bw.u(1, 16)
                bw.u(code - 30, 12)
            else:
                raise NotImplementedError("AVC encode: level too large")
        else:
            if (code >> suffix_len) < 15:
                bw.u(1, (code >> suffix_len) + 1)
                bw.u(code & ((1 << suffix_len) - 1), suffix_len)
            elif code - (15 << suffix_len) < 4096:
                bw.u(1, 16)
                bw.u(code - (15 << suffix_len), 12)
            else:
                raise NotImplementedError("AVC encode: level too large")
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros
    zeros_total = nz[-1][0] + 1 - total
    if total < max_coeffs:
        if max_coeffs == 4:  # chroma DC
            bw.u(_TZC_CODE[total - 1][zeros_total], _TZC_LEN[total - 1][zeros_total])
        else:
            bw.u(_TZ_CODE[total - 1][zeros_total], _TZ_LEN[total - 1][zeros_total])
    # run_before, highest frequency first
    zeros_left = zeros_total
    positions = [i for i, _ in nz]
    for k in range(total - 1, 0, -1):
        if zeros_left == 0:
            break
        run = positions[k] - positions[k - 1] - 1
        tab = min(zeros_left, 7) - 1
        bw.u(_RB_CODE[tab][run], _RB_LEN[tab][run])
        zeros_left -= run
    return total


def decode_residual_block(br: BitReader, nC: int, max_coeffs: int) -> list[int]:
    """CAVLC-decode one residual block → coefficient array in scan
    order (length max_coeffs)."""
    total, t1s = _read_coeff_token(br, nC)
    coeffs = [0] * max_coeffs
    if total == 0:
        return coeffs
    levels: list[int] = []
    if t1s:
        signs = br.u(t1s)
        for sh in range(t1s - 1, -1, -1):
            levels.append(-1 if (signs >> sh) & 1 else 1)
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    for i in range(total - t1s):
        # level_prefix = leading-zero run; resolve from 16-bit peeks
        # instead of a per-bit loop (zero-padding is bound-checked)
        prefix = 0
        while True:
            p = br.peek16()
            if p:
                lz = 16 - p.bit_length()
                prefix += lz
                if prefix > 32:
                    raise ValueError("AVC: level prefix overflow")
                pos = br.pos + lz + 1
                if pos > br._nbits:
                    raise IndexError("AVC: bitstream truncated")
                br.pos = pos
                break
            prefix += 16
            br.pos += 16
            if prefix > 32:
                raise ValueError("AVC: level prefix overflow")
        if suffix_len > 0:
            size = suffix_len if prefix < 15 else 12
        else:
            size = 0 if prefix < 14 else (4 if prefix == 14 else 12)
        suffix = br.u(size) if size else 0
        code = (min(15, prefix) << suffix_len) + suffix
        if prefix >= 15 and suffix_len == 0:
            code += 15
        if prefix >= 16:
            code += (1 << (prefix - 3)) - 4096
        if i == 0 and t1s < 3:
            code += 2
        level = (code + 2) >> 1 if code % 2 == 0 else -((code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < max_coeffs:
        if max_coeffs == 4:
            tz = _vlc_read(br, _TZC_DEC[total - 1])
        else:
            tz = _vlc_read(br, _TZ_DEC[total - 1])
    else:
        tz = 0
    # place coefficients, highest frequency first
    zeros_left = tz
    pos = total - 1 + tz  # index of highest-frequency coefficient
    for k in range(total):
        coeffs[pos] = levels[k]
        if k == total - 1:
            break
        if zeros_left > 0:
            tab = min(zeros_left, 7) - 1
            run = _vlc_read(br, _RB_DEC[tab])
            zeros_left -= run
        else:
            run = 0
        pos -= run + 1
    return coeffs


# ------------------------------------------- transforms & quantization

# MF (forward) and V (dequant) per qp%6, by coefficient class:
# class a = positions (0,0),(0,2),(2,0),(2,2); b = odd,odd; c = rest.
_MF = {
    "a": [13107, 11916, 10082, 9362, 8192, 7282],
    "b": [5243, 4660, 4194, 3647, 3355, 2893],
    "c": [8066, 7490, 6554, 5825, 5243, 4559],
}
_V = {
    "a": [10, 11, 13, 14, 16, 18],
    "b": [16, 18, 20, 23, 25, 29],
    "c": [13, 14, 16, 18, 20, 23],
}


def _pos_class(i: int, j: int) -> str:
    ei, ej = i % 2 == 0, j % 2 == 0
    if ei and ej:
        return "a"
    if not ei and not ej:
        return "b"
    return "c"


_MF4 = np.array(
    [[[_MF[_pos_class(i, j)][m] for j in range(4)] for i in range(4)] for m in range(6)],
    dtype=np.int64,
)
_V4 = np.array(
    [[[_V[_pos_class(i, j)][m] for j in range(4)] for i in range(4)] for m in range(6)],
    dtype=np.int64,
)

_CF = np.array([[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
               dtype=np.int64)
_CI = np.array([[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -2, 2, -1]],
               dtype=np.int64)  # placeholder; inverse uses butterfly below
_H4 = np.array([[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
               dtype=np.int64)


def fwd4x4(block: np.ndarray) -> np.ndarray:
    x = block.astype(np.int64)
    return _CF @ x @ _CF.T


def inv4x4(coefs: np.ndarray) -> np.ndarray:
    """Inverse 4x4 integer transform (spec 8.5.12.2 butterfly), output
    NOT yet rounded — caller applies (x + 32) >> 6. Whole-axis array
    ops (identical arithmetic to the per-row/per-column butterfly).
    Accepts a single (4, 4) block or a (..., 4, 4) stack — the butterfly
    is per-block either way, so a whole macroblock's blocks transform in
    one call."""
    d = coefs.astype(np.int64)
    # horizontal pass: combine columns, per row
    a = d[..., :, 0] + d[..., :, 2]
    b = d[..., :, 0] - d[..., :, 2]
    c = (d[..., :, 1] >> 1) - d[..., :, 3]
    t = d[..., :, 1] + (d[..., :, 3] >> 1)
    e = np.empty(d.shape, np.int64)
    e[..., :, 0] = a + t
    e[..., :, 1] = b + c
    e[..., :, 2] = b - c
    e[..., :, 3] = a - t
    # vertical pass: combine rows, per column
    a = e[..., 0, :] + e[..., 2, :]
    b = e[..., 0, :] - e[..., 2, :]
    c = (e[..., 1, :] >> 1) - e[..., 3, :]
    t = e[..., 1, :] + (e[..., 3, :] >> 1)
    f = np.empty(d.shape, np.int64)
    f[..., 0, :] = a + t
    f[..., 1, :] = b + c
    f[..., 2, :] = b - c
    f[..., 3, :] = a - t
    return f


def quant4x4(w: np.ndarray, qp: int, intra: bool = True) -> np.ndarray:
    qbits = 15 + qp // 6
    f = (1 << qbits) // (3 if intra else 6)
    mf = _MF4[qp % 6]
    return (np.sign(w) * ((np.abs(w) * mf + f) >> qbits)).astype(np.int64)


def dequant4x4_ac(z: np.ndarray, qp: int) -> np.ndarray:
    return (z.astype(np.int64) * _V4[qp % 6]) << (qp // 6)


def fwd_hadamard4(dc: np.ndarray) -> np.ndarray:
    return (_H4 @ dc.astype(np.int64) @ _H4.T) >> 1


def inv_hadamard4(z: np.ndarray) -> np.ndarray:
    return _H4 @ z.astype(np.int64) @ _H4.T


def quant_luma_dc(wd: np.ndarray, qp: int) -> np.ndarray:
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf0 = _MF["a"][qp % 6]
    return (np.sign(wd) * ((np.abs(wd) * mf0 + 2 * f) >> (qbits + 1))).astype(np.int64)


def dequant_luma_dc(z: np.ndarray, qp: int) -> np.ndarray:
    f = inv_hadamard4(z)
    v0 = _V["a"][qp % 6]
    if qp >= 12:
        return (f * v0) << (qp // 6 - 2)
    return (f * v0 + (1 << (1 - qp // 6))) >> (2 - qp // 6)


_H2 = np.array([[1, 1], [1, -1]], dtype=np.int64)


def fwd_chroma_dc(dc: np.ndarray) -> np.ndarray:
    return _H2 @ dc.astype(np.int64) @ _H2


def quant_chroma_dc(wd: np.ndarray, qp: int) -> np.ndarray:
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf0 = _MF["a"][qp % 6]
    return (np.sign(wd) * ((np.abs(wd) * mf0 + 2 * f) >> (qbits + 1))).astype(np.int64)


def dequant_chroma_dc(z: np.ndarray, qp: int) -> np.ndarray:
    f = _H2 @ z.astype(np.int64) @ _H2
    v0 = _V["a"][qp % 6]
    return ((f * v0) << (qp // 6)) >> 1


_CHROMA_QP = list(range(30)) + [29, 30, 31, 32, 32, 33, 34, 34, 35, 35,
                                36, 36, 37, 37, 37, 38, 38, 38, 39, 39, 39, 39]


def chroma_qp(qp: int, offset: int = 0) -> int:
    return _CHROMA_QP[min(51, max(0, qp + offset))]


def _recon_block(pred: np.ndarray, coefs: np.ndarray) -> np.ndarray:
    res = (inv4x4(coefs) + 32) >> 6
    return np.minimum(np.maximum(pred.astype(np.int64) + res, 0), 255)


# shared zero blocks for coefficient-free I_4x4 paths (read-only)
_Z44 = np.zeros((4, 4), dtype=np.int64)
_Z44.setflags(write=False)
_RES0 = np.zeros((16, 4, 4), dtype=np.int64)
_RES0.setflags(write=False)


# ------------------------------------------------------ intra prediction

# luma 4x4-block coding order within a MB -> (x, y) pixel offsets
_BLK_XY = [
    (4 * (2 * ((i >> 2) & 1) + (i & 1)), 4 * (2 * (i >> 3) + ((i >> 1) & 1)))
    for i in range(16)
]

# Scatter indices mapping a (16, 4, 4) stack of luma blocks in _BLK_XY
# coding order onto a 16x16 MB plane: plane[_MB_R, _MB_C] = stack.
_MB_R = np.array(
    [[[by + r for _ in range(4)] for r in range(4)] for (bx, by) in _BLK_XY],
    dtype=np.intp,
)
_MB_C = np.array(
    [[[bx + c for c in range(4)] for _ in range(4)] for (bx, by) in _BLK_XY],
    dtype=np.intp,
)
# DC scatter: stack[bi, 0, 0] = dc_plane[_MB_DC_R[bi], _MB_DC_C[bi]]
_MB_DC_R = np.array([by // 4 for (bx, by) in _BLK_XY], dtype=np.intp)
_MB_DC_C = np.array([bx // 4 for (bx, by) in _BLK_XY], dtype=np.intp)

# Chroma analog: (4, 4, 4) stack in ((0,0),(0,4),(4,0),(4,4)) order onto
# an 8x8 plane.
_CH_XY = ((0, 0), (0, 4), (4, 0), (4, 4))
_CH_R = np.array(
    [[[by + r for _ in range(4)] for r in range(4)] for (by, bx) in _CH_XY],
    dtype=np.intp,
)
_CH_C = np.array(
    [[[bx + c for c in range(4)] for _ in range(4)] for (by, bx) in _CH_XY],
    dtype=np.intp,
)


def _recon_mb_luma(pred: np.ndarray, coef_stack: np.ndarray) -> np.ndarray:
    """Reconstruct a whole 16x16 luma MB from its (16, 4, 4) coefficient
    stack in _BLK_XY coding order: one batched inverse transform + one
    clip instead of 16 per-block calls (identical arithmetic)."""
    res = np.empty((16, 16), np.int64)
    res[_MB_R, _MB_C] = (inv4x4(coef_stack) + 32) >> 6
    return np.minimum(np.maximum(pred.astype(np.int64) + res, 0), 255)


def _recon_mb_chroma(pred: np.ndarray, coef_stack: np.ndarray) -> np.ndarray:
    """Chroma twin of :func:`_recon_mb_luma`: (4, 4, 4) stack in _CH_XY
    order onto one 8x8 component plane."""
    res = np.empty((8, 8), np.int64)
    res[_CH_R, _CH_C] = (inv4x4(coef_stack) + 32) >> 6
    return np.minimum(np.maximum(pred.astype(np.int64) + res, 0), 255)


def _pred16(mode: int, top, left) -> np.ndarray:
    """Intra_16x16 luma prediction. top/left are length-16 arrays of
    reconstructed neighbor pixels or None when unavailable."""
    if mode == 0:  # Vertical
        if top is None:
            raise ValueError("AVC: vertical pred without top neighbor")
        return np.tile(top, (16, 1))
    if mode == 1:  # Horizontal
        if left is None:
            raise ValueError("AVC: horizontal pred without left neighbor")
        return np.tile(left[:, None], (1, 16))
    if mode == 2:  # DC
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 16) >> 5
        elif top is not None:
            dc = (int(top.sum()) + 8) >> 4
        elif left is not None:
            dc = (int(left.sum()) + 8) >> 4
        else:
            dc = 128
        return np.full((16, 16), dc, dtype=np.int64)
    if mode == 3:  # Plane
        if top is None or left is None:
            raise ValueError("AVC: plane pred needs both neighbors")
        # spec 8.3.3.4; p[-1,-1] approximated by left[0]-? — requires
        # the corner pixel, carried as top_left
        raise ValueError("plane handled in _pred16_plane")
    raise ValueError(f"AVC: bad Intra16x16 pred mode {mode}")


def _pred16_plane(top, left, top_left) -> np.ndarray:
    h = sum((x + 1) * (int(top[8 + x]) - int(top[6 - x])) for x in range(7))
    h += 8 * (int(top[15]) - int(top_left))
    v = sum((y + 1) * (int(left[8 + y]) - int(left[6 - y])) for y in range(7))
    v += 8 * (int(left[15]) - int(top_left))
    a = 16 * (int(left[15]) + int(top[15]))
    b = (5 * h + 32) >> 6
    c = (5 * v + 32) >> 6
    ys, xs = np.mgrid[0:16, 0:16]
    return np.clip((a + b * (xs - 7) + c * (ys - 7) + 16) >> 5, 0, 255)


def _pred_chroma(mode: int, top, left, top_left) -> np.ndarray:
    """Intra chroma 8x8 prediction (modes: 0 DC, 1 Horizontal,
    2 Vertical, 3 Plane)."""
    if mode == 1:
        if left is None:
            raise ValueError("AVC: chroma H pred without left")
        return np.tile(left[:, None], (1, 8))
    if mode == 2:
        if top is None:
            raise ValueError("AVC: chroma V pred without top")
        return np.tile(top, (8, 1))
    if mode == 3:
        if top is None or left is None:
            raise ValueError("AVC: chroma plane needs both neighbors")
        h = sum((x + 1) * (int(top[4 + x]) - int(top[2 - x])) for x in range(3))
        h += 4 * (int(top[7]) - int(top_left))
        v = sum((y + 1) * (int(left[4 + y]) - int(left[2 - y])) for y in range(3))
        v += 4 * (int(left[7]) - int(top_left))
        a = 16 * (int(left[7]) + int(top[7]))
        b = (17 * h + 16) >> 5
        c = (17 * v + 16) >> 5
        ys, xs = np.mgrid[0:8, 0:8]
        return np.clip((a + b * (xs - 3) + c * (ys - 3) + 16) >> 5, 0, 255)
    # DC: per 4x4 quadrant (spec 8.3.4.1)
    out = np.empty((8, 8), dtype=np.int64)
    quads = {
        (0, 0): ("both", slice(0, 4), slice(0, 4)),
        (1, 0): ("top", slice(4, 8), slice(0, 4)),
        (0, 1): ("left", slice(0, 4), slice(4, 8)),
        (1, 1): ("both", slice(4, 8), slice(4, 8)),
    }
    for (qx, qy), (prefer, xs_, ys_) in quads.items():
        t = top[xs_] if top is not None else None
        l_ = left[ys_] if left is not None else None
        if prefer == "both":
            if t is not None and l_ is not None:
                dc = (int(t.sum()) + int(l_.sum()) + 4) >> 3
            elif t is not None:
                dc = (int(t.sum()) + 2) >> 2
            elif l_ is not None:
                dc = (int(l_.sum()) + 2) >> 2
            else:
                dc = 128
        elif prefer == "top":
            if t is not None:
                dc = (int(t.sum()) + 2) >> 2
            elif l_ is not None:
                dc = (int(l_.sum()) + 2) >> 2
            else:
                dc = 128
        else:  # prefer left
            if l_ is not None:
                dc = (int(l_.sum()) + 2) >> 2
            elif t is not None:
                dc = (int(t.sum()) + 2) >> 2
            else:
                dc = 128
        out[ys_, xs_] = dc
    return out


# ------------------------------------------------------------ NAL layer


def _nal(nal_type: int, rbsp: bytes, ref_idc: int = 3) -> bytes:
    return bytes([(ref_idc << 5) | nal_type]) + rbsp_escape(rbsp)


def write_sps(width: int, height: int) -> bytes:
    if width % 16 or height % 16:
        raise NotImplementedError("AVC encode: dimensions must be MB-aligned")
    bw = BitWriter()
    bw.u(66, 8)   # profile_idc: Baseline
    bw.u(0, 8)    # constraint flags + reserved
    bw.u(30, 8)   # level 3.0
    bw.ue(0)      # sps_id
    bw.ue(0)      # log2_max_frame_num_minus4
    bw.ue(2)      # pic_order_cnt_type 2
    bw.ue(0)      # max_num_ref_frames
    bw.u(0, 1)    # gaps_in_frame_num_value_allowed
    bw.ue(width // 16 - 1)
    bw.ue(height // 16 - 1)
    bw.u(1, 1)    # frame_mbs_only
    bw.u(0, 1)    # direct_8x8_inference
    bw.u(0, 1)    # frame_cropping
    bw.u(0, 1)    # vui_parameters_present
    bw.rbsp_trailing()
    return _nal(7, bw.getvalue())


def write_pps(qp: int) -> bytes:
    bw = BitWriter()
    bw.ue(0)      # pps_id
    bw.ue(0)      # sps_id
    bw.u(0, 1)    # entropy_coding_mode: CAVLC
    bw.u(0, 1)    # bottom_field_pic_order_in_frame_present
    bw.ue(0)      # num_slice_groups_minus1
    bw.ue(0)      # num_ref_idx_l0_default_active_minus1
    bw.ue(0)      # num_ref_idx_l1_default_active_minus1
    bw.u(0, 1)    # weighted_pred
    bw.u(0, 2)    # weighted_bipred_idc
    bw.se(qp - 26)  # pic_init_qp_minus26
    bw.se(0)      # pic_init_qs_minus26
    bw.se(0)      # chroma_qp_index_offset
    bw.u(1, 1)    # deblocking_filter_control_present
    bw.u(0, 1)    # constrained_intra_pred
    bw.u(0, 1)    # redundant_pic_cnt_present
    bw.rbsp_trailing()
    return _nal(8, bw.getvalue())


def parse_sps(rbsp: bytes) -> dict:
    br = BitReader(rbsp)
    profile = br.u(8)
    br.u(8)
    level = br.u(8)
    sps = {"profile": profile, "level": level, "id": br.ue()}
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        chroma = br.ue()
        if chroma != 1:
            raise NotImplementedError(f"AVC: chroma_format_idc {chroma}")
        if br.ue() or br.ue():  # bit depths
            raise NotImplementedError("AVC: high bit depth")
        br.u(1)  # qpprime_y_zero_transform_bypass
        if br.u(1):
            raise NotImplementedError("AVC: seq scaling matrices")
    sps["log2_max_frame_num"] = br.ue() + 4
    poc_type = br.ue()
    sps["poc_type"] = poc_type
    if poc_type == 0:
        sps["log2_max_poc_lsb"] = br.ue() + 4
    elif poc_type == 1:
        raise NotImplementedError("AVC: pic_order_cnt_type 1")
    sps["max_ref"] = br.ue()
    br.u(1)
    w_mbs = br.ue() + 1
    h_mbs = br.ue() + 1
    if not br.u(1):
        raise NotImplementedError("AVC: interlaced (frame_mbs_only=0)")
    br.u(1)  # direct_8x8
    crop = [0, 0, 0, 0]
    if br.u(1):
        crop = [br.ue(), br.ue(), br.ue(), br.ue()]
    sps["width"] = w_mbs * 16 - 2 * (crop[0] + crop[1])
    sps["height"] = h_mbs * 16 - 2 * (crop[2] + crop[3])
    sps["w_mbs"], sps["h_mbs"] = w_mbs, h_mbs
    sps["crop"] = crop
    return sps


def parse_pps(rbsp: bytes) -> dict:
    br = BitReader(rbsp)
    pps = {"id": br.ue(), "sps_id": br.ue()}
    if br.u(1):
        raise NotImplementedError("AVC: CABAC entropy coding")
    pps["bottom_field_poc"] = br.u(1)
    if br.ue() != 0:
        raise NotImplementedError("AVC: slice groups (FMO)")
    br.ue()
    br.ue()
    br.u(1)
    br.u(2)
    pps["init_qp"] = br.se() + 26
    br.se()
    pps["chroma_qp_offset"] = br.se()
    pps["deblock_control"] = br.u(1)
    pps["constrained_intra"] = br.u(1)
    pps["redundant_pic"] = br.u(1)
    return pps


# ------------------------------------------------------- slice + MB layer


def _zz_scan(m: np.ndarray) -> list[int]:
    flat = m.reshape(-1)
    return [int(flat[p]) for p in _ZIGZAG4]


def _zz_unscan(vals: list[int]) -> np.ndarray:
    m = np.zeros(16, dtype=np.int64)
    for k, p in enumerate(_ZIGZAG4):
        m[p] = vals[k]
    return m.reshape(4, 4)


class _NcGrids:
    """TotalCoeff bookkeeping for nC derivation (spec 9.2.1)."""

    def __init__(self, w_mbs: int, h_mbs: int) -> None:
        self.luma = np.full((h_mbs * 4, w_mbs * 4), -1, dtype=np.int64)
        self.chroma = [
            np.full((h_mbs * 2, w_mbs * 2), -1, dtype=np.int64) for _ in range(2)
        ]

    @staticmethod
    def _nc(grid: np.ndarray, bx: int, by: int) -> int:
        na = int(grid[by, bx - 1]) if bx > 0 else -1
        nb = int(grid[by - 1, bx]) if by > 0 else -1
        na = None if na < 0 else na
        nb = None if nb < 0 else nb
        if na is not None and nb is not None:
            return (na + nb + 1) >> 1
        if na is not None:
            return na
        if nb is not None:
            return nb
        return 0

    def luma_nc(self, bx: int, by: int) -> int:
        return self._nc(self.luma, bx, by)

    def chroma_nc(self, comp: int, cx: int, cy: int) -> int:
        return self._nc(self.chroma[comp], cx, cy)


def _mb_pred_luma(recon, mbx, mby, mode):
    x0, y0 = mbx * 16, mby * 16
    top = recon[y0 - 1, x0 : x0 + 16].astype(np.int64) if mby > 0 else None
    left = recon[y0 : y0 + 16, x0 - 1].astype(np.int64) if mbx > 0 else None
    tl = int(recon[y0 - 1, x0 - 1]) if (mbx > 0 and mby > 0) else None
    if mode == 3:
        return _pred16_plane(top, left, tl)
    return _pred16(mode, top, left)


def _mb_pred_chroma(recon_c, mbx, mby, mode):
    x0, y0 = mbx * 8, mby * 8
    top = recon_c[y0 - 1, x0 : x0 + 8].astype(np.int64) if mby > 0 else None
    left = recon_c[y0 : y0 + 8, x0 - 1].astype(np.int64) if mbx > 0 else None
    tl = int(recon_c[y0 - 1, x0 - 1]) if (mbx > 0 and mby > 0) else None
    return _pred_chroma(mode, top, left, tl)


def _luma_modes_available(mbx, mby):
    modes = [2]
    if mby > 0:
        modes.append(0)
    if mbx > 0:
        modes.append(1)
    if mbx > 0 and mby > 0:
        modes.append(3)
    return modes


def _chroma_modes_available(mbx, mby):
    modes = [0]
    if mbx > 0:
        modes.append(1)
    if mby > 0:
        modes.append(2)
    if mbx > 0 and mby > 0:
        modes.append(3)
    return modes


def _quant_mb_chroma(src_cb, src_cr, pred_cb, pred_cr, qpc):
    """Forward chroma transform/quant for one MB -> (zc_dc, zc_ac,
    cbp_chroma). Shared by the I_16x16 and I_4x4 encoder branches."""
    zc_dc, zc_ac, any_dc, any_ac = [], [], False, False
    for src_c, pred_c in ((src_cb, pred_cb), (src_cr, pred_cr)):
        res_c = src_c - pred_c
        wbs = [fwd4x4(res_c[by_ : by_ + 4, bx : bx + 4])
               for by_ in (0, 4) for bx in (0, 4)]
        dc2 = np.array(
            [[wbs[0][0, 0], wbs[1][0, 0]], [wbs[2][0, 0], wbs[3][0, 0]]],
            dtype=np.int64,
        )
        zdc = quant_chroma_dc(fwd_chroma_dc(dc2), qpc)
        zacs = [quant4x4(wb, qpc) for wb in wbs]
        for z in zacs:
            z[0, 0] = 0
        zc_dc.append(zdc)
        zc_ac.append(zacs)
        any_dc = any_dc or bool(np.any(zdc))
        any_ac = any_ac or any(np.any(z) for z in zacs)
    return zc_dc, zc_ac, (2 if any_ac else (1 if any_dc else 0))


def _emit_and_recon_mb_chroma(
    bw, nc, rcb, rcr, mbx, mby, pred_cb, pred_cr, zc_dc, zc_ac, cbp_chroma, qpc
):
    """CAVLC-emit chroma residuals + in-loop reconstruct (shared by
    both encoder branches; mirrors _decode_mb_chroma exactly)."""
    if cbp_chroma:
        for comp in range(2):
            vals = [int(v) for v in zc_dc[comp].reshape(-1)]
            encode_residual_block(bw, vals, -1, 4)
    for comp in range(2):
        for k, (by_, bx) in enumerate(((0, 0), (0, 4), (4, 0), (4, 4))):
            cx = mbx * 2 + bx // 4
            cy = mby * 2 + by_ // 4
            if cbp_chroma == 2:
                coeffs = _zz_scan(zc_ac[comp][k])[1:]
                total = encode_residual_block(
                    bw, coeffs, nc.chroma_nc(comp, cx, cy), 15
                )
                nc.chroma[comp][cy, cx] = total
            else:
                nc.chroma[comp][cy, cx] = 0
    for comp, (rc, pred_c) in enumerate(((rcb, pred_cb), (rcr, pred_cr))):
        dcc = (
            dequant_chroma_dc(zc_dc[comp], qpc)
            if cbp_chroma
            else np.zeros((2, 2), dtype=np.int64)
        )
        for k, (by_, bx) in enumerate(((0, 0), (0, 4), (4, 0), (4, 4))):
            coefs = (
                dequant4x4_ac(zc_ac[comp][k], qpc)
                if cbp_chroma == 2
                else np.zeros((4, 4), dtype=np.int64)
            )
            coefs[0, 0] = dcc[by_ // 4, bx // 4]
            rc[
                mby * 8 + by_ : mby * 8 + by_ + 4,
                mbx * 8 + bx : mbx * 8 + bx + 4,
            ] = _recon_block(pred_c[by_ : by_ + 4, bx : bx + 4], coefs)


def _encode_i16_mb(
    bw, nc, ry, rcb, rcr, src_y, src_cb, src_cr, mbx, mby, qp, qpc,
    mb_type_offset: int = 0,
):
    """Encode one I_16x16 macroblock (SAD-best luma/chroma modes,
    residual emission, in-loop reconstruction). ``mb_type_offset=5``
    produces the intra-in-P numbering (spec 7.4.5: P-slice intra
    mb_types are the I-slice values plus 5)."""
    x0, y0 = mbx * 16, mby * 16
    best = None
    for m in _luma_modes_available(mbx, mby):
        p = _mb_pred_luma(ry, mbx, mby, m)
        sad = int(np.abs(src_y - p).sum())
        if best is None or sad < best[0]:
            best = (sad, m, p)
    _, lmode, pred_y = best
    best = None
    for m in _chroma_modes_available(mbx, mby):
        pb = _mb_pred_chroma(rcb, mbx, mby, m)
        pr = _mb_pred_chroma(rcr, mbx, mby, m)
        sad = int(np.abs(src_cb - pb).sum() + np.abs(src_cr - pr).sum())
        if best is None or sad < best[0]:
            best = (sad, m, pb, pr)
    _, cmode, pred_cb, pred_cr = best

    res = src_y - pred_y
    wblocks = []
    for bi in range(16):
        bx, by = _BLK_XY[bi]
        wblocks.append(fwd4x4(res[by : by + 4, bx : bx + 4]))
    dc_mat = np.array(
        [[wblocks[_blk_at(bx, by_)][0, 0] for bx in range(4)]
         for by_ in range(4)], dtype=np.int64,
    )
    z_dc = quant_luma_dc(fwd_hadamard4(dc_mat), qp)
    z_ac = [quant4x4(wb, qp) for wb in wblocks]
    for z in z_ac:
        z[0, 0] = 0
    cbp_luma = 15 if any(np.any(z) for z in z_ac) else 0

    zc_dc, zc_ac, cbp_chroma = _quant_mb_chroma(
        src_cb, src_cr, pred_cb, pred_cr, qpc
    )

    mb_type = 1 + lmode + 4 * cbp_chroma + 12 * (1 if cbp_luma else 0)
    bw.ue(mb_type + mb_type_offset)
    bw.ue(cmode)
    bw.se(0)  # mb_qp_delta

    dc_nc = nc.luma_nc(mbx * 4, mby * 4)
    encode_residual_block(bw, _zz_scan(z_dc), dc_nc, 16)
    for bi in range(16):
        bx4 = mbx * 4 + _BLK_XY[bi][0] // 4
        by4 = mby * 4 + _BLK_XY[bi][1] // 4
        if cbp_luma:
            coeffs = _zz_scan(z_ac[bi])[1:]
            total = encode_residual_block(bw, coeffs, nc.luma_nc(bx4, by4), 15)
            nc.luma[by4, bx4] = total
        else:
            nc.luma[by4, bx4] = 0
    # in-loop luma reconstruction (must equal the decoder's)
    dcp = dequant_luma_dc(z_dc, qp)
    for bi in range(16):
        bx, by_ = _BLK_XY[bi]
        coefs = dequant4x4_ac(z_ac[bi], qp) if cbp_luma else np.zeros(
            (4, 4), dtype=np.int64
        )
        coefs[0, 0] = dcp[by_ // 4, bx // 4]
        ry[y0 + by_ : y0 + by_ + 4, x0 + bx : x0 + bx + 4] = _recon_block(
            pred_y[by_ : by_ + 4, bx : bx + 4], coefs
        )
    _emit_and_recon_mb_chroma(
        bw, nc, rcb, rcr, mbx, mby, pred_cb, pred_cr,
        zc_dc, zc_ac, cbp_chroma, qpc,
    )


def encode_iframe(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    qp: int = 26,
    mode: str = "auto",
    deblock: bool = False,
) -> list[bytes]:
    """Encode one 4:2:0 frame as [SPS, PPS, IDR-slice] NAL units.

    ``mode='auto'`` emits I_16x16 macroblocks (SAD-best available
    prediction per MB, exercising V/H/DC/Plane paths); ``mode='i4x4'``
    emits I_4x4 macroblocks (per-4x4-block SAD-best of the nine modes,
    predicted-mode signaling, Table 9-4 CBP); ``mode='pcm'`` emits
    I_PCM for a lossless fixture. The encoder
    runs the decoder's reconstruction in-loop, so its returned recon
    (``encode_iframe.last_recon``) is bit-exact what decode returns."""
    h, w = y.shape
    if w % 16 or h % 16 or cb.shape != (h // 2, w // 2) or cr.shape != cb.shape:
        raise ValueError("AVC encode: need MB-aligned 4:2:0 planes")
    if not 0 <= qp <= 51:
        raise ValueError("qp out of range")
    w_mbs, h_mbs = w // 16, h // 16
    qpc = chroma_qp(qp)
    ry = np.zeros((h, w), dtype=np.int64)
    rcb = np.zeros((h // 2, w // 2), dtype=np.int64)
    rcr = np.zeros((h // 2, w // 2), dtype=np.int64)
    nc = _NcGrids(w_mbs, h_mbs)
    i4modes = np.full((h_mbs * 4, w_mbs * 4), -1, dtype=np.int64)

    bw = BitWriter()
    # slice header (IDR, I slice)
    bw.ue(0)      # first_mb_in_slice
    bw.ue(7)      # slice_type: I (all slices in pic)
    bw.ue(0)      # pps_id
    bw.u(0, 4)    # frame_num (log2_max_frame_num = 4)
    bw.ue(0)      # idr_pic_id
    bw.u(0, 1)    # no_output_of_prior_pics
    bw.u(0, 1)    # long_term_reference
    bw.se(0)      # slice_qp_delta (qp comes from PPS)
    bw.ue(0 if deblock else 1)  # disable_deblocking_filter_idc
    if deblock:
        bw.se(0)  # slice_alpha_c0_offset_div2
        bw.se(0)  # slice_beta_offset_div2

    for mby in range(h_mbs):
        for mbx in range(w_mbs):
            x0, y0 = mbx * 16, mby * 16
            src_y = y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64)
            src_cb = cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8].astype(np.int64)
            src_cr = cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8].astype(np.int64)
            if mode == "pcm":
                bw.ue(25)  # I_PCM
                bw.align_zero()
                for v in src_y.reshape(-1).tolist():
                    bw.u(int(v), 8)
                for v in src_cb.reshape(-1).tolist():
                    bw.u(int(v), 8)
                for v in src_cr.reshape(-1).tolist():
                    bw.u(int(v), 8)
                ry[y0 : y0 + 16, x0 : x0 + 16] = src_y
                rcb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = src_cb
                rcr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = src_cr
                nc.luma[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
                for comp in range(2):
                    nc.chroma[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
                continue

            if mode == "i4x4":
                # I_4x4: per-block SAD-best legal mode, reconstructing
                # as we go (later blocks predict from earlier recon)
                best = None
                for m in _chroma_modes_available(mbx, mby):
                    pb = _mb_pred_chroma(rcb, mbx, mby, m)
                    pr_ = _mb_pred_chroma(rcr, mbx, mby, m)
                    sad = int(np.abs(src_cb - pb).sum() + np.abs(src_cr - pr_).sum())
                    if best is None or sad < best[0]:
                        best = (sad, m, pb, pr_)
                _, cmode, pred_cb, pred_cr = best
                zc_dc, zc_ac, cbp_chroma = _quant_mb_chroma(
                    src_cb, src_cr, pred_cb, pred_cr, qpc
                )
                blk_modes, blk_z, sig_bits = [], [], []
                for bi in range(16):
                    bx, by_ = _BLK_XY[bi]
                    x4 = mbx * 4 + bx // 4
                    y4 = mby * 4 + by_ // 4
                    top, left, corner = _i4_refs(ry, x4, y4, w_mbs * 4, w_mbs)
                    src_b = src_y[by_ : by_ + 4, bx : bx + 4]
                    best = None
                    for m in _i4_legal_modes(top, left):
                        prb = _pred4(m, top, left, corner)
                        sad = int(np.abs(src_b - prb).sum())
                        if best is None or sad < best[0]:
                            best = (sad, m, prb)
                    _, m, prb = best
                    ma = int(i4modes[y4, x4 - 1]) if x4 > 0 else -1
                    mb_ = int(i4modes[y4 - 1, x4]) if y4 > 0 else -1
                    predicted = min(2 if ma < 0 else ma, 2 if mb_ < 0 else mb_)
                    if m == predicted:
                        sig_bits.append((1, 0))
                    else:
                        sig_bits.append((0, m if m < predicted else m - 1))
                    i4modes[y4, x4] = m
                    z = quant4x4(fwd4x4(src_b - prb), qp)
                    blk_modes.append(m)
                    blk_z.append(z)
                    # in-loop recon; an all-zero 8x8 later gets its
                    # residual skipped, but zero coeffs recon the same
                    ry[
                        y0 + by_ : y0 + by_ + 4, x0 + bx : x0 + bx + 4
                    ] = _recon_block(prb, dequant4x4_ac(z, qp))
                cbp_luma_bits = 0
                for b8 in range(4):
                    if any(np.any(blk_z[b8 * 4 + k]) for k in range(4)):
                        cbp_luma_bits |= 1 << b8
                cbp = cbp_luma_bits | (cbp_chroma << 4)
                bw.ue(0)  # mb_type I_4x4
                for flag, rem in sig_bits:
                    bw.u(flag, 1)
                    if not flag:
                        bw.u(rem, 3)
                bw.ue(cmode)
                bw.ue(_CBP_INTRA_INV[cbp])
                if cbp:
                    bw.se(0)  # mb_qp_delta
                for bi in range(16):
                    bx4 = mbx * 4 + _BLK_XY[bi][0] // 4
                    by4 = mby * 4 + _BLK_XY[bi][1] // 4
                    if cbp_luma_bits & (1 << (bi >> 2)):
                        total = encode_residual_block(
                            bw, _zz_scan(blk_z[bi]), nc.luma_nc(bx4, by4), 16
                        )
                        nc.luma[by4, bx4] = total
                    else:
                        nc.luma[by4, bx4] = 0
                _emit_and_recon_mb_chroma(
                    bw, nc, rcb, rcr, mbx, mby, pred_cb, pred_cr,
                    zc_dc, zc_ac, cbp_chroma, qpc,
                )
                continue

            _encode_i16_mb(
                bw, nc, ry, rcb, rcr, src_y, src_cb, src_cr,
                mbx, mby, qp, qpc,
            )

    bw.rbsp_trailing()
    if deblock:
        # run the decoder's filter on the in-loop recon so last_recon
        # (the P-frame reference) matches a conformant decoder exactly;
        # intra prediction above already used the UNFILTERED samples,
        # as the spec requires
        deblock_picture(
            ry, rcb, rcr,
            mb_qp=np.full((h_mbs, w_mbs), qp, dtype=np.int64),
            pcm=np.full((h_mbs, w_mbs), mode == "pcm"),
            intra=np.ones((h_mbs, w_mbs), dtype=bool),
            nz=nc.luma,
            mv=np.zeros((h_mbs, w_mbs, 2), dtype=np.int64),
            ref=np.full((h_mbs, w_mbs), -1, dtype=np.int64),
        )
    encode_iframe.last_recon = (
        ry.astype(np.uint8), rcb.astype(np.uint8), rcr.astype(np.uint8)
    )
    return [write_sps(w, h), write_pps(qp), _nal(5, bw.getvalue())]


def _blk_at(bx: int, by: int) -> int:
    """Inverse of _BLK_XY on 4x4-block coordinates (0..3, 0..3)."""
    for i, (x, y_) in enumerate(_BLK_XY):
        if x == bx * 4 and y_ == by * 4:
            return i
    raise AssertionError


def _new_frame_state(sps: dict, pps: dict, qp: int) -> dict:
    w_mbs, h_mbs = sps["w_mbs"], sps["h_mbs"]
    w, h = w_mbs * 16, h_mbs * 16
    return {
        "sps": sps, "pps": pps, "qp": qp,
        "w_mbs": w_mbs, "h_mbs": h_mbs,
        "ry": np.zeros((h, w), dtype=np.int64),
        "rcb": np.zeros((h // 2, w // 2), dtype=np.int64),
        "rcr": np.zeros((h // 2, w // 2), dtype=np.int64),
        "nc": _NcGrids(w_mbs, h_mbs),
        "i4modes": np.full((h_mbs * 4, w_mbs * 4), -1, dtype=np.int64),
        # per-MB motion state for P slices: ref -2 = not yet decoded,
        # -1 = intra, 0 = inter ref0
        "mv": np.zeros((h_mbs, w_mbs, 2), dtype=np.int64),
        "ref": np.full((h_mbs, w_mbs), -2, dtype=np.int64),
        # per-MB deblocking metadata: running QP at the MB, I_PCM flags
        "mb_qp": np.full((h_mbs, w_mbs), qp, dtype=np.int64),
        "pcm": np.zeros((h_mbs, w_mbs), dtype=bool),
    }


def _decode_intra_mb(br: BitReader, mb_type: int, st: dict, mbx: int, mby: int) -> None:
    """One intra macroblock (I_PCM / I_4x4 / I_16x16) — shared by I
    slices and intra-coded MBs inside P slices (mb_type already
    normalized to the I-slice numbering)."""
    ry, rcb, rcr, nc = st["ry"], st["rcb"], st["rcr"], st["nc"]
    i4modes, pps, w_mbs = st["i4modes"], st["pps"], st["w_mbs"]
    x0, y0 = mbx * 16, mby * 16
    st["ref"][mby, mbx] = -1
    if mb_type > 25:
        raise ValueError(f"AVC: invalid I mb_type {mb_type}")
    if mb_type == 25:  # I_PCM
        st["pcm"][mby, mbx] = True
        br.byte_align()
        blk = np.array([br.u(8) for _ in range(256)], dtype=np.int64)
        ry[y0 : y0 + 16, x0 : x0 + 16] = blk.reshape(16, 16)
        for rc in (rcb, rcr):
            blk = np.array([br.u(8) for _ in range(64)], dtype=np.int64)
            rc[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = blk.reshape(8, 8)
        nc.luma[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
        for comp in range(2):
            nc.chroma[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        return
    if mb_type == 0:  # I_4x4 (I_NxN with CAVLC => no 8x8 flag)
        sig: list[tuple[int, int]] = []
        for _ in range(16):
            if br.u(1):
                sig.append((1, 0))
            else:
                sig.append((0, br.u(3)))
        cmode = br.ue()
        cbp = _CBP_INTRA[br.ue()]
        cbp_luma_bits, cbp_chroma = cbp & 15, cbp >> 4
        if cbp:
            st["qp"] = (st["qp"] + br.se() + 52) % 52
        qp = st["qp"]
        qpc = chroma_qp(qp, pps["chroma_qp_offset"])
        # pass 1 — entropy + mode decode for all 16 blocks (the nC and
        # predicted-mode contexts read neighbor COUNTS/MODES, never
        # reconstruction, so they split off cleanly); residuals then
        # dequant + inverse-transform as ONE (16, 4, 4) batch instead
        # of 16 per-block inv4x4 calls (identical arithmetic — the
        # I_16x16/chroma batching move applied to the I_4x4 path)
        modes = []
        z_list = []
        for bi in range(16):
            bx, by_ = _BLK_XY[bi]
            x4 = mbx * 4 + bx // 4
            y4 = mby * 4 + by_ // 4
            ma = int(i4modes[y4, x4 - 1]) if x4 > 0 else -1
            mb_ = int(i4modes[y4 - 1, x4]) if y4 > 0 else -1
            predicted = min(2 if ma < 0 else ma, 2 if mb_ < 0 else mb_)
            flag, rem = sig[bi]
            m = predicted if flag else (rem if rem < predicted else rem + 1)
            i4modes[y4, x4] = m
            modes.append(m)
            if cbp_luma_bits & (1 << (bi >> 2)):
                vals = decode_residual_block(br, nc.luma_nc(x4, y4), 16)
                nc.luma[y4, x4] = sum(1 for v in vals if v)
                z_list.append(_zz_unscan(vals))
            else:
                nc.luma[y4, x4] = 0
                z_list.append(_Z44)
        if cbp_luma_bits:
            res_stack = (inv4x4(dequant4x4_ac(np.stack(z_list), qp)) + 32) >> 6
        else:
            res_stack = _RES0
        # pass 2 — sequential predict-and-reconstruct (each block's
        # prediction reads neighbors reconstructed within this MB)
        for bi in range(16):
            bx, by_ = _BLK_XY[bi]
            x4 = mbx * 4 + bx // 4
            y4 = mby * 4 + by_ // 4
            top, left, corner = _i4_refs(ry, x4, y4, w_mbs * 4, w_mbs)
            pr = _pred4(modes[bi], top, left, corner)
            ry[y0 + by_ : y0 + by_ + 4, x0 + bx : x0 + bx + 4] = np.minimum(
                np.maximum(pr.astype(np.int64) + res_stack[bi], 0), 255
            )
        _decode_mb_chroma(
            br, nc, rcb, rcr, mbx, mby,
            [_mb_pred_chroma(rcb, mbx, mby, cmode),
             _mb_pred_chroma(rcr, mbx, mby, cmode)],
            cbp_chroma, qpc,
        )
        return
    lmode = (mb_type - 1) % 4
    cbp_chroma = ((mb_type - 1) // 4) % 3
    cbp_luma = 15 if mb_type - 1 >= 12 else 0
    cmode = br.ue()
    st["qp"] = (st["qp"] + br.se() + 52) % 52
    qp = st["qp"]
    qpc = chroma_qp(qp, pps["chroma_qp_offset"])

    pred_y = _mb_pred_luma(ry, mbx, mby, lmode)
    dc_vals = decode_residual_block(br, nc.luma_nc(mbx * 4, mby * 4), 16)
    dcp = dequant_luma_dc(_zz_unscan(dc_vals), qp)
    z_ac = []
    for bi in range(16):
        bx4 = mbx * 4 + _BLK_XY[bi][0] // 4
        by4 = mby * 4 + _BLK_XY[bi][1] // 4
        if cbp_luma:
            vals = decode_residual_block(br, nc.luma_nc(bx4, by4), 15)
            nc.luma[by4, bx4] = sum(1 for v in vals if v)
            z_ac.append(_zz_unscan([0] + vals))
        else:
            nc.luma[by4, bx4] = 0
    # batched recon: dequant + inverse transform all 16 blocks at once
    coef_stack = (
        dequant4x4_ac(np.stack(z_ac), qp)
        if cbp_luma
        else np.zeros((16, 4, 4), dtype=np.int64)
    )
    coef_stack[:, 0, 0] = dcp[_MB_DC_R, _MB_DC_C]
    ry[y0 : y0 + 16, x0 : x0 + 16] = _recon_mb_luma(pred_y, coef_stack)
    _decode_mb_chroma(
        br, nc, rcb, rcr, mbx, mby,
        [_mb_pred_chroma(rcb, mbx, mby, cmode),
         _mb_pred_chroma(rcr, mbx, mby, cmode)],
        cbp_chroma, qpc,
    )


# ----------------------------------------------- in-loop deblocking (8.7)
#
# ITU-T H.264 section 8.7: boundary-strength derivation (8.7.2.1), the
# alpha/beta/tc0 threshold tables (Tables 8-16 / 8-17, transcribed from
# the public spec), the normal (bS < 4) and strong (bS = 4) filters
# (8.7.2.3 / 8.7.2.4). Frame-only, single-slice pictures: bS never needs
# the field/MBAFF or cross-slice cases. The encoder runs the SAME filter
# on its in-loop reconstruction, so IDR+P round-trips stay bit-exact and
# P frames predict from the filtered reference exactly as a conformant
# decoder would.

_DB_ALPHA = [0] * 16 + [
    4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28, 32, 36,
    40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144, 162, 182, 203,
    226, 255, 255,
]
_DB_BETA = [0] * 16 + [
    2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8, 9, 9, 10, 10,
    11, 11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16, 17, 17, 18, 18,
]
# tc0 by (indexA, bS-1) — Table 8-17
_DB_TC0 = [(0, 0, 0)] * 17 + [
    (0, 0, 1), (0, 0, 1), (0, 0, 1), (0, 0, 1),
    (0, 1, 1), (0, 1, 1),
    (1, 1, 1), (1, 1, 1), (1, 1, 1), (1, 1, 1),
    (1, 1, 2), (1, 1, 2), (1, 1, 2), (1, 1, 2),
    (1, 2, 3), (1, 2, 3),
    (2, 2, 3), (2, 2, 4), (2, 3, 4), (2, 3, 4),
    (3, 3, 5), (3, 4, 6), (3, 4, 6),
    (4, 5, 7), (4, 5, 8), (4, 6, 9),
    (5, 7, 10), (6, 8, 11), (6, 8, 13), (7, 10, 14), (8, 11, 16),
    (9, 12, 18), (10, 13, 20), (11, 15, 23), (13, 17, 25),
]
assert len(_DB_ALPHA) == len(_DB_BETA) == len(_DB_TC0) == 52

# numpy mirrors for whole-picture table lookups in deblock_picture
_DB_ALPHA_NP = np.array(_DB_ALPHA, dtype=np.int64)
_DB_BETA_NP = np.array(_DB_BETA, dtype=np.int64)
_DB_TC0_NP = np.array(_DB_TC0, dtype=np.int64)  # (52, 3) by (indexA, bS-1)


def _luma_filter_seg(p3, p2, p1, p0, q0, q1, q2, q3, bs, alpha, beta, tc0):
    """Filter one luma edge (int64 sample arrays, one entry per line)
    → (p2', p1', p0', q0', q1', q2'). Spec 8.7.2.3 (bS < 4) and
    8.7.2.4 (bS = 4).

    ``bs``/``alpha``/``beta``/``tc0`` may be scalars or per-line arrays
    (numpy broadcasting) — deblock_picture fuses the four 4-line
    segments of an edge into ONE 16-line call with per-line parameters;
    lines with bs == 0 pass through via the filter mask. Both strength
    branches are evaluated vectorized and selected per line."""
    bs = np.asarray(bs)
    fm = (
        (bs > 0)
        & (np.abs(p0 - q0) < alpha)
        & (np.abs(p1 - p0) < beta)
        & (np.abs(q1 - q0) < beta)
    )
    if not fm.any():
        return p2, p1, p0, q0, q1, q2
    strong = bs == 4
    fm_s = fm & strong
    fm_w = fm & ~strong
    ap = np.abs(p2 - p0)
    aq = np.abs(q2 - q0)
    has_w = bool(fm_w.any())
    has_s = bool(fm_s.any())
    if has_w:
        # bS < 4: clipped delta filter
        tc = tc0 + (ap < beta) + (aq < beta)
        delta = np.minimum(
            np.maximum(((q0 - p0) * 4 + (p1 - q1) + 4) >> 3, -tc), tc
        )
        havg = (p0 + q0 + 1) >> 1
        p0w = np.minimum(np.maximum(p0 + delta, 0), 255)
        q0w = np.minimum(np.maximum(q0 - delta, 0), 255)
        dp1 = np.minimum(np.maximum((p2 + havg - 2 * p1) >> 1, -tc0), tc0)
        dq1 = np.minimum(np.maximum((q2 + havg - 2 * q1) >> 1, -tc0), tc0)
        p1w = np.where(ap < beta, p1 + dp1, p1)
        q1w = np.where(aq < beta, q1 + dq1, q1)
    if has_s:
        # bS = 4: strong filter
        close = np.abs(p0 - q0) < ((alpha >> 2) + 2)
        sp = (ap < beta) & close
        sq = (aq < beta) & close
        p0s = np.where(sp, (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3,
                       (2 * p1 + p0 + q1 + 2) >> 2)
        p1s = np.where(sp, (p2 + p1 + p0 + q0 + 2) >> 2, p1)
        p2s = np.where(sp, (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3, p2)
        q0s = np.where(sq, (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3,
                       (2 * q1 + q0 + p1 + 2) >> 2)
        q1s = np.where(sq, (q2 + q1 + q0 + p0 + 2) >> 2, q1)
        q2s = np.where(sq, (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3, q2)
    if not has_s:
        return (
            p2,
            np.where(fm, p1w, p1), np.where(fm, p0w, p0),
            np.where(fm, q0w, q0), np.where(fm, q1w, q1),
            q2,
        )
    if not has_w:
        return (
            np.where(fm, p2s, p2), np.where(fm, p1s, p1),
            np.where(fm, p0s, p0), np.where(fm, q0s, q0),
            np.where(fm, q1s, q1), np.where(fm, q2s, q2),
        )
    return tuple(
        np.where(fm, np.where(strong, s, w), o)
        for s, w, o in (
            (p2s, p2, p2), (p1s, p1w, p1), (p0s, p0w, p0),
            (q0s, q0w, q0), (q1s, q1w, q1), (q2s, q2, q2),
        )
    )


def _chroma_filter_seg(p1, p0, q0, q1, bs, alpha, beta, tc0):
    """Filter one chroma edge → (p0', q0'). Chroma modifies only the
    row/column adjacent to the edge (spec 8.7.2.3/8.7.2.4). Parameters
    broadcast per line exactly as in :func:`_luma_filter_seg`."""
    bs = np.asarray(bs)
    fm = (
        (bs > 0)
        & (np.abs(p0 - q0) < alpha)
        & (np.abs(p1 - p0) < beta)
        & (np.abs(q1 - q0) < beta)
    )
    if not fm.any():
        return p0, q0
    tc = tc0 + 1
    delta = np.minimum(np.maximum(((q0 - p0) * 4 + (p1 - q1) + 4) >> 3, -tc), tc)
    strong = bs == 4
    p0n = np.where(
        strong, (2 * p1 + p0 + q1 + 2) >> 2,
        np.minimum(np.maximum(p0 + delta, 0), 255),
    )
    q0n = np.where(
        strong, (2 * q1 + q0 + p1 + 2) >> 2,
        np.minimum(np.maximum(q0 - delta, 0), 255),
    )
    return np.where(fm, p0n, p0), np.where(fm, q0n, q0)


def _edge_bs(intra, nz, mv, ref, pbx, pby, qbx, qby, mb_edge: bool) -> int:
    """Boundary strength for the edge between 4x4 luma blocks p and q
    (block coordinates), spec 8.7.2.1 reduced to frame-only single-slice
    single-reference streams."""
    pm = (pby >> 2, pbx >> 2)
    qm = (qby >> 2, qbx >> 2)
    if intra[pm] or intra[qm]:
        return 4 if mb_edge else 3
    if nz[pby, pbx] or nz[qby, qbx]:
        return 2
    if ref[pm] != ref[qm]:
        return 1
    if (
        abs(int(mv[pm][0]) - int(mv[qm][0])) >= 4
        or abs(int(mv[pm][1]) - int(mv[qm][1])) >= 4
    ):
        return 1
    return 0


def deblock_picture(
    ry: np.ndarray,
    rcb: np.ndarray,
    rcr: np.ndarray,
    *,
    mb_qp: np.ndarray,
    pcm: np.ndarray,
    intra: np.ndarray,
    nz: np.ndarray,
    mv: np.ndarray,
    ref: np.ndarray,
    chroma_qp_offset: int = 0,
    a_off: int = 0,
    b_off: int = 0,
) -> None:
    """In-place deblocking of one reconstructed picture (int64 planes).

    MBs in raster order; per MB all vertical edges left→right, then all
    horizontal edges top→bottom, each reading samples already modified
    by earlier edges (spec 8.7 processing order). ``mb_qp``/``pcm``/
    ``intra`` are per-MB, ``nz`` is the per-4x4-luma-block total_coeff
    grid, ``mv``/``ref`` per-MB motion state. qPp of an I_PCM MB is 0
    (8.7.2) so all-PCM content passes through untouched (alpha[0]=0) and
    lossless fixtures stay lossless."""
    h_mbs, w_mbs = mb_qp.shape
    qpy = np.where(pcm, 0, mb_qp).astype(np.int64)
    qpc_tab = np.array(
        [[0 if pcm[r, c] else chroma_qp(int(mb_qp[r, c]), chroma_qp_offset)
          for c in range(w_mbs)] for r in range(h_mbs)],
        dtype=np.int64,
    )

    # --- whole-picture bS + threshold grids (vectorized 8.7.2.1/.2) ---
    # Per 4x4-luma-block edge (vertical: between (y4, x4-1) and (y4, x4),
    # stored at [y4, x4]; horizontal analog at [y4, x4] for the edge
    # above block (y4, x4)). Same derivation _edge_bs performs per edge,
    # done once per picture in array form; alpha/beta/tc0 are pure table
    # lookups of the MB-pair average QP. Lines whose thresholds are zero
    # get bs forced to 0 — the filter mask then passes them through,
    # exactly as the per-edge skip did.
    h4, w4 = nz.shape
    rep4 = lambda a: np.repeat(np.repeat(a, 4, 0), 4, 1)  # noqa: E731
    intra4 = rep4(intra)
    ref4 = rep4(ref)
    mvx4 = rep4(mv[..., 0])
    mvy4 = rep4(mv[..., 1])
    qpy4 = rep4(qpy)
    qpc4 = rep4(qpc_tab)

    def _bs_grid(pI, qI, pnz, qnz, pr, qr, pmx, qmx, pmy, qmy, mb_edge):
        inter_bs = np.where(
            (pnz > 0) | (qnz > 0), 2,
            np.where(
                (pr != qr)
                | (np.abs(pmx - qmx) >= 4)
                | (np.abs(pmy - qmy) >= 4),
                1, 0,
            ),
        )
        return np.where(pI | qI, np.where(mb_edge, 4, 3), inter_bs)

    def _thr_grid(qp4, pad_col: bool):
        """(alpha, beta, tc0-by-bs) grids for edges along one axis from
        the per-block QP grid: vertical (pad_col) pairs columns, else
        rows."""
        if pad_col:
            qav = (qp4[:, :-1] + qp4[:, 1:] + 1) >> 1
        else:
            qav = (qp4[:-1, :] + qp4[1:, :] + 1) >> 1
        ia = np.minimum(np.maximum(qav + a_off, 0), 51)
        ib = np.minimum(np.maximum(qav + b_off, 0), 51)
        return _DB_ALPHA_NP[ia], _DB_BETA_NP[ib], _DB_TC0_NP[ia]

    def _edge_grids(axis_v: bool, qp4):
        if axis_v:
            bs = _bs_grid(
                intra4[:, :-1], intra4[:, 1:], nz[:, :-1], nz[:, 1:],
                ref4[:, :-1], ref4[:, 1:], mvx4[:, :-1], mvx4[:, 1:],
                mvy4[:, :-1], mvy4[:, 1:],
                (np.arange(1, w4) % 4 == 0)[None, :],
            )
        else:
            bs = _bs_grid(
                intra4[:-1, :], intra4[1:, :], nz[:-1, :], nz[1:, :],
                ref4[:-1, :], ref4[1:, :], mvx4[:-1, :], mvx4[1:, :],
                mvy4[:-1, :], mvy4[1:, :],
                (np.arange(1, h4) % 4 == 0)[:, None],
            )
        al, be, tc_by = _thr_grid(qp4, axis_v)
        tc = np.where(
            bs == 4, 0,
            np.take_along_axis(
                tc_by,
                np.minimum(np.maximum(bs - 1, 0), 2)[..., None],
                axis=-1,
            )[..., 0],
        )
        bs = np.where((al == 0) | (be == 0), 0, bs)
        # shift so the edge between blocks (.., k-1) and (.., k) sits at
        # index k of a full-size grid (index 0 = picture boundary, bs 0)
        out = np.zeros((4, h4, w4), np.int64)
        if axis_v:
            out[:, :, 1:] = (bs, al, be, tc)
        else:
            out[:, 1:, :] = (bs, al, be, tc)
        return tuple(out)

    # Chroma edges use the luma bS of the corresponding luma blocks with
    # chroma-QP thresholds (8.7.2.2) — bS derivation is QP-independent,
    # so each grid set carries its own (bs-with-zero-thresholds-masked,
    # alpha, beta, tc0) quadruple.
    grids_vy = _edge_grids(True, qpy4)
    grids_vc = _edge_grids(True, qpc4)
    grids_hy = _edge_grids(False, qpy4)
    grids_hc = _edge_grids(False, qpc4)

    def edge_params(grids, qb: int, seg0: int, width: int, axis_v: bool):
        """Per-line (bs, alpha, beta, tc0) for one edge: its four
        4x4-block segments sliced from the picture grids, each expanded
        to ``width`` lines. bs == 0 segments pass through the filter
        mask unchanged (fusing segments with per-line parameters is
        exact — the spec arithmetic is per line)."""
        bs, al, be, tc = grids
        sl = (slice(seg0, seg0 + 4), qb) if axis_v else (qb, slice(seg0, seg0 + 4))
        b = bs[sl]
        if not b.any():
            return None
        return (
            np.repeat(b, width), np.repeat(al[sl], width),
            np.repeat(be[sl], width), np.repeat(tc[sl], width),
        )

    for mby in range(h_mbs):
        for mbx in range(w_mbs):
            y0 = mby * 16
            yc0 = mby * 8
            # ---- vertical edges (filter columns), left → right
            for e in range(4):
                if e == 0 and mbx == 0:
                    continue
                x = mbx * 16 + e * 4
                qbx = x >> 2
                params = edge_params(grids_vy, qbx, mby * 4, 4, True)
                if params is None:
                    continue
                seg = ry[y0 : y0 + 16, x - 4 : x + 4]
                # no copies needed: the filter never mutates its inputs
                # and each returned view (pass-through lines) writes
                # back to its own column
                out = _luma_filter_seg(*(seg[:, k] for k in range(8)), *params)
                for k, arr in enumerate(out, start=1):
                    seg[:, k] = arr
            # vertical chroma edges: 4:2:0 ⇒ only the luma edges at
            # x % 8 == 0 have chroma counterparts (e = 0 and e = 2)
            for e in (0, 2):
                if e == 0 and mbx == 0:
                    continue
                qbx = (mbx * 16 + e * 4) >> 2
                xc = mbx * 8 + e * 2
                params = edge_params(grids_vc, qbx, mby * 4, 2, True)
                if params is None:
                    continue
                for plane in (rcb, rcr):
                    seg = plane[yc0 : yc0 + 8, xc - 2 : xc + 2]
                    p0n, q0n = _chroma_filter_seg(
                        *(seg[:, k] for k in range(4)), *params
                    )
                    seg[:, 1] = p0n
                    seg[:, 2] = q0n
            # ---- horizontal edges (filter rows), top → bottom
            for e in range(4):
                if e == 0 and mby == 0:
                    continue
                yh = mby * 16 + e * 4
                qby = yh >> 2
                params = edge_params(grids_hy, qby, mbx * 4, 4, False)
                if params is None:
                    continue
                c0 = mbx * 16
                seg = ry[yh - 4 : yh + 4, c0 : c0 + 16]
                out = _luma_filter_seg(*(seg[k, :] for k in range(8)), *params)
                for k, arr in enumerate(out, start=1):
                    seg[k, :] = arr
            for e in (0, 2):
                if e == 0 and mby == 0:
                    continue
                qby = (mby * 16 + e * 4) >> 2
                yc = mby * 8 + e * 2
                params = edge_params(grids_hc, qby, mbx * 4, 2, False)
                if params is None:
                    continue
                cc0 = mbx * 8
                for plane in (rcb, rcr):
                    seg = plane[yc - 2 : yc + 2, cc0 : cc0 + 8]
                    p0n, q0n = _chroma_filter_seg(
                        *(seg[k, :] for k in range(4)), *params
                    )
                    seg[1, :] = p0n
                    seg[2, :] = q0n


def _parse_slice_header(br: BitReader, sps: dict, pps: dict, idr: bool,
                        ref_idc: int) -> tuple[int, int, tuple[int, int, int]]:
    """Common slice-header fields → (slice_type % 5, qp,
    (disable_deblocking_filter_idc, alpha_offset, beta_offset))."""
    if br.ue() != 0:
        raise NotImplementedError("AVC: multi-slice pictures")
    slice_type = br.ue() % 5
    if slice_type not in (0, 2):
        raise NotImplementedError(
            f"AVC: slice_type {slice_type} (B/SP/SI not implemented)"
        )
    if br.ue() != pps["id"]:
        raise ValueError("AVC: slice references unknown PPS")
    br.u(sps["log2_max_frame_num"])  # frame_num
    if idr:
        br.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        br.u(sps.get("log2_max_poc_lsb", 4))
    if slice_type == 0:  # P
        if br.u(1):  # num_ref_idx_active_override
            if br.ue() != 0:
                raise NotImplementedError("AVC: multiple reference frames")
        if br.u(1):  # ref_pic_list_modification_flag_l0
            raise NotImplementedError("AVC: ref-pic-list modification")
    if idr:
        br.u(1)  # no_output_of_prior_pics
        br.u(1)  # long_term_reference
    elif ref_idc:
        if br.u(1):  # adaptive_ref_pic_marking_mode_flag
            raise NotImplementedError("AVC: adaptive ref-pic marking (MMCO)")
    qp = pps["init_qp"] + br.se()
    # deblocking controls: absent header fields ⇒ filter on, offsets 0
    deb = (0, 0, 0)
    if pps["deblock_control"]:
        idc = br.ue()
        if idc > 2:
            raise ValueError(f"AVC: disable_deblocking_filter_idc {idc}")
        if idc != 1:
            # idc 2 (don't filter across slice boundaries) == idc 0 for
            # the single-slice pictures this decoder accepts
            deb = (idc, br.se() * 2, br.se() * 2)
        else:
            deb = (1, 0, 0)
    return slice_type, qp, deb


def _deblock_state(st: dict, deb: tuple[int, int, int]) -> None:
    """Apply the in-loop filter to a fully decoded frame state when the
    slice header enables it."""
    if deb[0] == 1:
        return
    deblock_picture(
        st["ry"], st["rcb"], st["rcr"],
        mb_qp=st["mb_qp"], pcm=st["pcm"], intra=st["ref"] < 0,
        nz=st["nc"].luma, mv=st["mv"], ref=st["ref"],
        chroma_qp_offset=st["pps"]["chroma_qp_offset"],
        a_off=deb[1], b_off=deb[2],
    )


def _decode_islice(br: BitReader, sps: dict, pps: dict, qp: int,
                   deb: tuple[int, int, int] = (1, 0, 0)):
    st = _new_frame_state(sps, pps, qp)
    for mby in range(st["h_mbs"]):
        for mbx in range(st["w_mbs"]):
            _decode_intra_mb(br, br.ue(), st, mbx, mby)
            st["mb_qp"][mby, mbx] = st["qp"]
    _deblock_state(st, deb)
    return (
        st["ry"].astype(np.uint8),
        st["rcb"].astype(np.uint8),
        st["rcr"].astype(np.uint8),
    )


def _mv_neighbor(st: dict, mbx: int, mby: int, x: int, y: int):
    """(mv, refIdx) of the MB at (x, y) as a prediction neighbor of the
    MB at (mbx, mby); None when unavailable (outside / not yet
    decoded)."""
    if x < 0 or y < 0 or x >= st["w_mbs"] or y >= st["h_mbs"]:
        return None
    if y > mby or (y == mby and x >= mbx):
        return None  # raster decode order: not yet decoded
    r = int(st["ref"][y, x])
    if r == -2:
        return None
    return (int(st["mv"][y, x, 0]), int(st["mv"][y, x, 1])), r


def _mvp_p16(st: dict, mbx: int, mby: int) -> tuple[int, int]:
    """Luma MV prediction for a 16x16 partition (spec 8.4.1.3): median
    of A/B/C (C→D substitution), the single-matching-refIdx shortcut,
    and the A-only fallback. Single reference ⇒ refIdxL0 == 0."""
    a = _mv_neighbor(st, mbx, mby, mbx - 1, mby)
    b = _mv_neighbor(st, mbx, mby, mbx, mby - 1)
    c = _mv_neighbor(st, mbx, mby, mbx + 1, mby - 1)
    if c is None:
        c = _mv_neighbor(st, mbx, mby, mbx - 1, mby - 1)
    if b is None and c is None and a is not None:
        return a[0]
    matches = [n for n in (a, b, c) if n is not None and n[1] == 0]
    if len(matches) == 1:
        return matches[0][0]
    mvs = [(n[0] if n is not None else (0, 0)) for n in (a, b, c)]
    return (
        int(np.median([m[0] for m in mvs])),
        int(np.median([m[1] for m in mvs])),
    )


def _skip_mv(st: dict, mbx: int, mby: int) -> tuple[int, int]:
    """P_Skip motion vector (spec 8.4.1.1)."""
    a = _mv_neighbor(st, mbx, mby, mbx - 1, mby)
    b = _mv_neighbor(st, mbx, mby, mbx, mby - 1)
    if a is None or b is None:
        return (0, 0)
    if (a[1] == 0 and a[0] == (0, 0)) or (b[1] == 0 and b[0] == (0, 0)):
        return (0, 0)
    return _mvp_p16(st, mbx, mby)


def _mc_mb(ref_planes, mbx, mby, mv):
    ref_y, ref_cb, ref_cr = ref_planes
    py = mc_luma_block(ref_y, mbx * 16, mby * 16, mv[0], mv[1])
    pcb = mc_chroma_block(ref_cb, mbx * 8, mby * 8, mv[0], mv[1])
    pcr = mc_chroma_block(ref_cr, mbx * 8, mby * 8, mv[0], mv[1])
    return py, pcb, pcr


def _recon_skip_mb(st: dict, ref_planes, mbx: int, mby: int) -> None:
    mv = _skip_mv(st, mbx, mby)
    py, pcb, pcr = _mc_mb(ref_planes, mbx, mby, mv)
    x0, y0 = mbx * 16, mby * 16
    st["ry"][y0 : y0 + 16, x0 : x0 + 16] = py
    st["rcb"][mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = pcb
    st["rcr"][mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = pcr
    st["mv"][mby, mbx] = mv
    st["ref"][mby, mbx] = 0
    st["nc"].luma[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
    for comp in range(2):
        st["nc"].chroma[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0


def _decode_inter16_mb(br: BitReader, st: dict, ref_planes, mbx: int, mby: int):
    """P_L0_16x16: mvd, motion compensation, inter-CBP residual."""
    nc, pps = st["nc"], st["pps"]
    x0, y0 = mbx * 16, mby * 16
    mvd = (br.se(), br.se())
    mvp = _mvp_p16(st, mbx, mby)
    mv = (mvp[0] + mvd[0], mvp[1] + mvd[1])
    st["mv"][mby, mbx] = mv
    st["ref"][mby, mbx] = 0
    pred_y, pred_cb, pred_cr = _mc_mb(ref_planes, mbx, mby, mv)
    cbp = _CBP_INTER[br.ue()]
    cbp_luma_bits, cbp_chroma = cbp & 15, cbp >> 4
    if cbp:
        st["qp"] = (st["qp"] + br.se() + 52) % 52
    qp = st["qp"]
    qpc = chroma_qp(qp, pps["chroma_qp_offset"])
    z_stack = np.zeros((16, 4, 4), dtype=np.int64)
    any_luma = False
    for bi in range(16):
        bx, by_ = _BLK_XY[bi]
        x4 = mbx * 4 + bx // 4
        y4 = mby * 4 + by_ // 4
        if cbp_luma_bits & (1 << (bi >> 2)):
            vals = decode_residual_block(br, nc.luma_nc(x4, y4), 16)
            nc.luma[y4, x4] = sum(1 for v in vals if v)
            z_stack[bi] = _zz_unscan(vals)
            any_luma = True
        else:
            nc.luma[y4, x4] = 0
    if any_luma:
        st["ry"][y0 : y0 + 16, x0 : x0 + 16] = _recon_mb_luma(
            pred_y, dequant4x4_ac(z_stack, qp)
        )
    else:
        st["ry"][y0 : y0 + 16, x0 : x0 + 16] = np.minimum(
            np.maximum(pred_y.astype(np.int64), 0), 255
        )
    _decode_mb_chroma(
        br, nc, st["rcb"], st["rcr"], mbx, mby, [pred_cb, pred_cr],
        cbp_chroma, qpc,
    )


def _decode_pslice(br: BitReader, sps: dict, pps: dict, qp: int, ref_planes,
                   deb: tuple[int, int, int] = (1, 0, 0)):
    st = _new_frame_state(sps, pps, qp)
    refs = tuple(p.astype(np.int64) for p in ref_planes)
    total = st["w_mbs"] * st["h_mbs"]
    i = 0
    while i < total:
        run = br.ue()
        if run > total - i:
            raise ValueError("AVC: mb_skip_run past end of picture")
        for _ in range(run):
            mbx, mby = i % st["w_mbs"], i // st["w_mbs"]
            _recon_skip_mb(st, refs, mbx, mby)
            st["mb_qp"][mby, mbx] = st["qp"]
            i += 1
        if i >= total:
            break
        mbx, mby = i % st["w_mbs"], i // st["w_mbs"]
        mb_type = br.ue()
        if mb_type >= 5:
            _decode_intra_mb(br, mb_type - 5, st, mbx, mby)
        elif mb_type == 0:
            _decode_inter16_mb(br, st, refs, mbx, mby)
        else:
            raise NotImplementedError(
                f"AVC: P macroblock partitions (mb_type {mb_type} — only "
                "P_Skip / P_L0_16x16 / intra-in-P implemented)"
            )
        st["mb_qp"][mby, mbx] = st["qp"]
        i += 1
    _deblock_state(st, deb)
    return (
        st["ry"].astype(np.uint8),
        st["rcb"].astype(np.uint8),
        st["rcr"].astype(np.uint8),
    )


def decode_stream(nals: list[bytes]) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode a NAL sequence (SPS/PPS interleaved with slices) → list
    of (Y, Cb, Cr) frames in decode order. IDR slices start fresh;
    P slices predict from the previously decoded frame."""
    sps = pps = None
    frames: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    prev = None
    for nal in nals:
        ntype = nal[0] & 0x1F
        ref_idc = (nal[0] >> 5) & 3
        rbsp = rbsp_unescape(nal[1:])
        if ntype == 7:
            sps = parse_sps(rbsp)
        elif ntype == 8:
            pps = parse_pps(rbsp)
        elif ntype in (1, 5):
            if sps is None or pps is None:
                raise ValueError("AVC: slice before SPS/PPS")
            br = BitReader(rbsp)
            stype, qp, deb = _parse_slice_header(br, sps, pps, ntype == 5, ref_idc)
            if ntype == 5:
                if stype != 2:
                    raise NotImplementedError("AVC: non-I IDR slice")
                prev = _decode_islice(br, sps, pps, qp, deb)
            else:
                if stype != 0:
                    raise NotImplementedError(f"AVC: slice_type {stype} (B?)")
                if prev is None:
                    raise ValueError("AVC: P slice with no reference frame")
                prev = _decode_pslice(br, sps, pps, qp, prev, deb)
            frames.append(prev)
    return frames


def decode_iframe(nals: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode [.., SPS, PPS, IDR slice ..] NAL units → (Y, Cb, Cr)
    uint8 planes (4:2:0). Single-frame form of :func:`decode_stream`;
    refuses non-IDR input (use decode_stream for IDR+P sequences)."""
    for nal in nals:
        if (nal[0] & 0x1F) == 1:
            raise NotImplementedError(
                "AVC: non-IDR slice — decode_iframe is keyframe-only, "
                "use decode_stream for IDR+P sequences"
            )
    frames = decode_stream(nals)
    if len(frames) != 1:
        raise ValueError("AVC: need SPS, PPS and exactly one IDR slice")
    return frames[0]


def _decode_mb_chroma(br, nc, rcb, rcr, mbx, mby, preds, cbp_chroma, qpc):
    """Shared chroma residual decode + reconstruction for one MB.
    ``preds`` are the two 8x8 prediction planes — intra (from
    _mb_pred_chroma) or motion-compensated (P MBs); the residual layer
    is identical for every MB family."""
    zc_dc = []
    if cbp_chroma:
        for comp in range(2):
            vals = decode_residual_block(br, -1, 4)
            zc_dc.append(np.array(vals, dtype=np.int64).reshape(2, 2))
    else:
        zc_dc = [np.zeros((2, 2), dtype=np.int64)] * 2
    zc_ac = [[], []]
    for comp in range(2):
        for k, (by_, bx) in enumerate(((0, 0), (0, 4), (4, 0), (4, 4))):
            cx = mbx * 2 + bx // 4
            cy = mby * 2 + by_ // 4
            if cbp_chroma == 2:
                vals = decode_residual_block(br, nc.chroma_nc(comp, cx, cy), 15)
                nc.chroma[comp][cy, cx] = sum(1 for v in vals if v)
                zc_ac[comp].append(_zz_unscan([0] + vals))
            else:
                nc.chroma[comp][cy, cx] = 0
                zc_ac[comp].append(np.zeros((4, 4), dtype=np.int64))
    for comp, rc in enumerate((rcb, rcr)):
        dcc = (
            dequant_chroma_dc(zc_dc[comp], qpc)
            if cbp_chroma
            else np.zeros((2, 2), dtype=np.int64)
        )
        # batched recon: all 4 blocks of the component in one call
        coef_stack = (
            dequant4x4_ac(np.stack(zc_ac[comp]), qpc)
            if cbp_chroma == 2
            else np.zeros((4, 4, 4), dtype=np.int64)
        )
        coef_stack[:, 0, 0] = (dcc[0, 0], dcc[0, 1], dcc[1, 0], dcc[1, 1])
        rc[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = _recon_mb_chroma(
            preds[comp], coef_stack
        )


# ------------------------------------------------- stream-level helpers


def to_annexb(nals: list[bytes]) -> bytes:
    return b"".join(b"\x00\x00\x00\x01" + n for n in nals)


def from_annexb(data: bytes) -> list[bytes]:
    nals = []
    i = 0
    n = len(data)
    while i < n:
        j = data.find(b"\x00\x00\x01", i)
        if j < 0:
            break
        j += 3
        k = data.find(b"\x00\x00\x01", j)
        end = k if k >= 0 else n
        while end > j and data[end - 1] == 0:
            end -= 1
        nals.append(data[j:end])
        i = end if k >= 0 else n
    return nals


def to_avcc_sample(nals: list[bytes]) -> bytes:
    """Length-prefixed NAL units — the MP4 (avcC) sample payload form."""
    return b"".join(struct.pack(">I", len(n)) + n for n in nals)


def from_avcc_sample(data: bytes, length_size: int = 4) -> list[bytes]:
    nals = []
    i = 0
    while i + length_size <= len(data):
        ln = int.from_bytes(data[i : i + length_size], "big")
        i += length_size
        nals.append(data[i : i + ln])
        i += ln
    return nals


def build_avcc(sps_nal: bytes, pps_nal: bytes) -> bytes:
    """The avcC (AVCDecoderConfigurationRecord) box payload for stsd."""
    return (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps_nal))
        + sps_nal
        + bytes([1])
        + struct.pack(">H", len(pps_nal))
        + pps_nal
    )


def parse_avcc(avcc: bytes) -> tuple[list[bytes], list[bytes], int]:
    """avcC payload → (sps_nals, pps_nals, nal_length_size)."""
    if not avcc or avcc[0] != 1:
        raise ValueError("not an avcC record")
    length_size = (avcc[4] & 3) + 1
    n_sps = avcc[5] & 0x1F
    pos = 6
    sps_list, pps_list = [], []
    for _ in range(n_sps):
        ln = struct.unpack_from(">H", avcc, pos)[0]
        sps_list.append(avcc[pos + 2 : pos + 2 + ln])
        pos += 2 + ln
    n_pps = avcc[pos]
    pos += 1
    for _ in range(n_pps):
        ln = struct.unpack_from(">H", avcc, pos)[0]
        pps_list.append(avcc[pos + 2 : pos + 2 + ln])
        pos += 2 + ln
    return sps_list, pps_list, length_size


# ---------------------------------------------------------- I_4x4 layer

# Table 9-4: exp-golomb codeNum -> coded_block_pattern for Intra_4x4
_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_CBP_INTRA_INV = {cbp: i for i, cbp in enumerate(_CBP_INTRA)}

# Intra_4x4 prediction modes (spec 8.3.1.2.x)
I4_V, I4_H, I4_DC, I4_DDL, I4_DDR, I4_VR, I4_HD, I4_VL, I4_HU = range(9)


def _blk_order(x4: int, y4: int, w_mbs: int) -> int:
    """Decode-order index of the 4x4 luma block at absolute block
    coordinates — MB raster order x the in-MB Z order."""
    mb = (y4 // 4) * w_mbs + (x4 // 4)
    bx, by = (x4 % 4) * 4, (y4 % 4) * 4
    for i, (x, y_) in enumerate(_BLK_XY):
        if x == bx and y_ == by:
            return mb * 16 + i
    raise AssertionError


def _i4_refs(recon, x4, y4, w4, w_mbs):
    """Reference samples for one 4x4 block: (top[8] | None, left[4] |
    None, corner | None) with the spec's top-right substitution."""
    px, py = x4 * 4, y4 * 4
    top = left = corner = None
    if y4 > 0:
        t = recon[py - 1, px : px + 4].astype(np.int64)
        tr_ok = (
            x4 + 1 < w4
            and _blk_order(x4 + 1, y4 - 1, w_mbs) < _blk_order(x4, y4, w_mbs)
        )
        if tr_ok:
            tr = recon[py - 1, px + 4 : px + 8].astype(np.int64)
        else:
            tr = np.full(4, t[3], dtype=np.int64)
        top = np.concatenate([t, tr])
    if x4 > 0:
        left = recon[py : py + 4, px - 1].astype(np.int64)
    if x4 > 0 and y4 > 0:
        corner = int(recon[py - 1, px - 1])
    return top, left, corner


def _i4_legal_modes(top, left) -> list[int]:
    modes = [I4_DC]
    if top is not None:
        modes += [I4_V, I4_DDL, I4_VL]
    if left is not None:
        modes += [I4_H, I4_HU]
    if top is not None and left is not None:
        modes += [I4_DDR, I4_VR, I4_HD]
    return modes


def _pred4(mode: int, top, left, corner) -> np.ndarray:
    p = np.empty((4, 4), dtype=np.int64)
    if mode == I4_V:
        return np.tile(top[:4], (4, 1))
    if mode == I4_H:
        return np.tile(left[:, None], (1, 4))
    if mode == I4_DC:
        if top is not None and left is not None:
            dc = (int(top[:4].sum()) + int(left.sum()) + 4) >> 3
        elif top is not None:
            dc = (int(top[:4].sum()) + 2) >> 2
        elif left is not None:
            dc = (int(left.sum()) + 2) >> 2
        else:
            dc = 128
        return np.full((4, 4), dc, dtype=np.int64)
    t, l_, c = top, left, corner
    if mode == I4_DDL:
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    p[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    p[y, x] = (t[x + y] + 2 * t[x + y + 1] + t[x + y + 2] + 2) >> 2
        return p
    if mode == I4_DDR:
        for y in range(4):
            for x in range(4):
                if x > y:
                    a = c if x - y - 2 < 0 else t[x - y - 2]
                    b = c if x - y - 1 < 0 else t[x - y - 1]
                    p[y, x] = (a + 2 * b + t[x - y] + 2) >> 2
                elif x < y:
                    a = c if y - x - 2 < 0 else l_[y - x - 2]
                    b = c if y - x - 1 < 0 else l_[y - x - 1]
                    p[y, x] = (a + 2 * b + l_[y - x] + 2) >> 2
                else:
                    p[y, x] = (t[0] + 2 * c + l_[0] + 2) >> 2
        return p
    if mode == I4_VR:
        def ref_t(i):  # p[i, -1] with i == -1 -> corner
            return c if i < 0 else t[i]
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    p[y, x] = (ref_t(x - (y >> 1) - 1) + ref_t(x - (y >> 1)) + 1) >> 1
                elif z >= 0:
                    p[y, x] = (
                        ref_t(x - (y >> 1) - 2)
                        + 2 * ref_t(x - (y >> 1) - 1)
                        + ref_t(x - (y >> 1))
                        + 2
                    ) >> 2
                elif z == -1:
                    p[y, x] = (l_[0] + 2 * c + t[0] + 2) >> 2
                else:
                    p[y, x] = (
                        l_[y - 2 * x - 1] + 2 * l_[y - 2 * x - 2]
                        + (c if y - 2 * x - 3 < 0 else l_[y - 2 * x - 3]) + 2
                    ) >> 2
        return p
    if mode == I4_HD:
        def ref_l(i):
            return c if i < 0 else l_[i]
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    p[y, x] = (ref_l(y - (x >> 1) - 1) + ref_l(y - (x >> 1)) + 1) >> 1
                elif z >= 0:
                    p[y, x] = (
                        ref_l(y - (x >> 1) - 2)
                        + 2 * ref_l(y - (x >> 1) - 1)
                        + ref_l(y - (x >> 1))
                        + 2
                    ) >> 2
                elif z == -1:
                    p[y, x] = (l_[0] + 2 * c + t[0] + 2) >> 2
                else:
                    p[y, x] = (
                        t[x - 2 * y - 1] + 2 * t[x - 2 * y - 2]
                        + (c if x - 2 * y - 3 < 0 else t[x - 2 * y - 3]) + 2
                    ) >> 2
        return p
    if mode == I4_VL:
        for y in range(4):
            for x in range(4):
                i = x + (y >> 1)
                if y % 2 == 0:
                    p[y, x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    p[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        return p
    if mode == I4_HU:
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z == 5:
                    p[y, x] = (l_[2] + 3 * l_[3] + 2) >> 2
                elif z > 5:
                    p[y, x] = l_[3]
                elif z % 2 == 0:
                    p[y, x] = (l_[y + (x >> 1)] + l_[y + (x >> 1) + 1] + 1) >> 1
                else:
                    p[y, x] = (
                        l_[y + (x >> 1)] + 2 * l_[y + (x >> 1) + 1]
                        + l_[y + (x >> 1) + 2] + 2
                    ) >> 2
        return p
    raise ValueError(f"AVC: invalid Intra_4x4 pred mode {mode}")


# --------------------------------------------- P slices (r10, part 2)

# Table 9-4, Inter column: exp-golomb codeNum -> coded_block_pattern
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {cbp: i for i, cbp in enumerate(_CBP_INTER)}


def _six_tap(a, b, c, d, e, f):
    return a - 5 * b + 20 * c + 20 * d - 5 * e + f


def mc_luma_block(ref: np.ndarray, x0: int, y0: int, mvx: int, mvy: int,
                  w: int = 16, h: int = 16) -> np.ndarray:
    """Quarter-pel motion-compensated luma block (spec 8.4.2.2.1):
    6-tap [1,-5,20,20,-5,1] half-pel filters, unrounded intermediates
    for the center position j, bilinear quarter-pel averaging, edge
    padding by coordinate clamping. mv in quarter-pel units."""
    xi, yi = x0 + (mvx >> 2), y0 + (mvy >> 2)
    fx, fy = mvx & 3, mvy & 3
    H, W = ref.shape
    # padded integer-sample window (5 extra samples each side feeds the
    # 6-tap at any fractional position)
    ys = np.clip(np.arange(yi - 2, yi + h + 3), 0, H - 1)
    xs = np.clip(np.arange(xi - 2, xi + w + 3), 0, W - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int64)  # (h+5, w+5); sample (2,2) = origin

    G = win[2 : 2 + h, 2 : 2 + w]
    if fx == 0 and fy == 0:
        return G

    def hpel_h(rows: np.ndarray) -> np.ndarray:
        # 6-tap horizontally at x+1/2 for each sample column 0..w-1
        return _six_tap(rows[:, 0:w], rows[:, 1:w+1], rows[:, 2:w+2],
                        rows[:, 3:w+3], rows[:, 4:w+4], rows[:, 5:w+5])

    def hpel_v(cols: np.ndarray) -> np.ndarray:
        return _six_tap(cols[0:h, :], cols[1:h+1, :], cols[2:h+2, :],
                        cols[3:h+3, :], cols[4:h+4, :], cols[5:h+5, :])

    clip = lambda x: np.clip(x, 0, 255)  # noqa: E731
    # b: half-pel horizontal at rows of G; h_: half-pel vertical
    b1 = clip((hpel_h(win[2 : 2 + h, :]) + 16) >> 5)
    h1 = clip((hpel_v(win[:, 2 : 2 + w]) + 16) >> 5)
    if (fx, fy) in ((2, 2), (1, 2), (3, 2), (2, 1), (2, 3)):
        # j from UNROUNDED horizontal half-pels filtered vertically
        bb = hpel_h(win)  # (h+5, w) unrounded
        j1 = clip((_six_tap(bb[0:h, :], bb[1:h+1, :], bb[2:h+2, :],
                            bb[3:h+3, :], bb[4:h+4, :], bb[5:h+5, :]) + 512) >> 10)
    else:
        j1 = None
    G_r = win[2 : 2 + h, 3 : 3 + w]   # integer sample one to the right
    G_d = win[3 : 3 + h, 2 : 2 + w]   # one below
    b_d = clip((hpel_h(win[3 : 3 + h, :]) + 16) >> 5)   # b one row below
    h_r = clip((hpel_v(win[:, 3 : 3 + w]) + 16) >> 5)   # h one col right

    table = {
        (1, 0): (G, b1), (3, 0): (b1, G_r),
        (0, 1): (G, h1), (0, 3): (h1, G_d),
        (2, 0): b1, (0, 2): h1, (2, 2): j1,
        (1, 1): (b1, h1), (3, 1): (b1, h_r),
        (1, 3): (b_d, h1), (3, 3): (b_d, h_r),
        (1, 2): (h1, j1), (3, 2): (j1, h_r),
        (2, 1): (b1, j1), (2, 3): (j1, b_d),
    }
    v = table[(fx, fy)]
    if isinstance(v, tuple):
        return (v[0] + v[1] + 1) >> 1
    return v


def mc_chroma_block(ref: np.ndarray, x0: int, y0: int, mvx: int, mvy: int,
                    w: int = 8, h: int = 8) -> np.ndarray:
    """Eighth-pel bilinear chroma MC (spec 8.4.2.2.2); mv in luma
    quarter-pel units (chroma fraction = mv & 7 at half resolution)."""
    xi, yi = x0 + (mvx >> 3), y0 + (mvy >> 3)
    dx, dy = mvx & 7, mvy & 7
    H, W = ref.shape
    ys = np.clip(np.arange(yi, yi + h + 1), 0, H - 1)
    xs = np.clip(np.arange(xi, xi + w + 1), 0, W - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int64)
    A = win[0:h, 0:w]
    B = win[0:h, 1:w+1]
    C = win[1:h+1, 0:w]
    D = win[1:h+1, 1:w+1]
    return ((8 - dx) * (8 - dy) * A + dx * (8 - dy) * B
            + (8 - dx) * dy * C + dx * dy * D + 32) >> 6


def encode_pframe(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    ref_planes: tuple[np.ndarray, np.ndarray, np.ndarray],
    qp: int = 26,
    frame_num: int = 1,
    search: int = 4,
    deblock: bool = False,
) -> bytes:
    """Encode one P frame (single NAL, type 1) predicting from
    ``ref_planes`` (the previous decoded frame): P_Skip where the
    motion-compensated residual quantizes away, P_L0_16x16 with a
    small-window integer + quarter-pel motion search elsewhere, and
    intra-in-P (I_16x16, mb_type+5) where intra prediction beats
    inter by a clear margin (scene changes). In-loop reconstruction is
    decoder-identical; ``encode_pframe.last_recon`` holds it."""
    h, w = y.shape
    w_mbs, h_mbs = w // 16, h // 16
    qpc = chroma_qp(qp)
    refs = tuple(p.astype(np.int64) for p in ref_planes)
    st = {
        "w_mbs": w_mbs, "h_mbs": h_mbs,
        "mv": np.zeros((h_mbs, w_mbs, 2), dtype=np.int64),
        "ref": np.full((h_mbs, w_mbs), -2, dtype=np.int64),
    }
    ry = np.zeros((h, w), dtype=np.int64)
    rcb = np.zeros((h // 2, w // 2), dtype=np.int64)
    rcr = np.zeros((h // 2, w // 2), dtype=np.int64)
    nc = _NcGrids(w_mbs, h_mbs)

    bw = BitWriter()
    bw.ue(0)       # first_mb_in_slice
    bw.ue(5)       # slice_type: P (all slices in pic)
    bw.ue(0)       # pps_id
    bw.u(frame_num & 15, 4)
    bw.u(0, 1)     # num_ref_idx_active_override
    bw.u(0, 1)     # ref_pic_list_modification_flag_l0
    bw.u(0, 1)     # adaptive_ref_pic_marking_mode_flag
    bw.se(0)       # slice_qp_delta
    bw.ue(0 if deblock else 1)  # disable_deblocking_filter_idc
    if deblock:
        bw.se(0)   # slice_alpha_c0_offset_div2
        bw.se(0)   # slice_beta_offset_div2

    def quant_inter_luma(src_b, pred_b):
        zs = []
        for bi in range(16):
            bx, by_ = _BLK_XY[bi]
            zs.append(
                quant4x4(
                    fwd4x4(src_b[by_ : by_ + 4, bx : bx + 4]
                           - pred_b[by_ : by_ + 4, bx : bx + 4]),
                    qp, intra=False,
                )
            )
        bits = 0
        for b8 in range(4):
            if any(np.any(zs[b8 * 4 + k]) for k in range(4)):
                bits |= 1 << b8
        return zs, bits

    skip_run = 0
    for mby in range(h_mbs):
        for mbx in range(w_mbs):
            x0, y0 = mbx * 16, mby * 16
            src_y = y[y0 : y0 + 16, x0 : x0 + 16].astype(np.int64)
            src_cb = cb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8].astype(np.int64)
            src_cr = cr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8].astype(np.int64)

            # --- skip test
            mv_skip = _skip_mv(st, mbx, mby)
            p_y, p_cb, p_cr = _mc_mb(refs, mbx, mby, mv_skip)
            zs, lbits = quant_inter_luma(src_y, p_y)
            _, _, cchroma = _quant_mb_chroma(src_cb, src_cr, p_cb, p_cr, qpc)
            if lbits == 0 and cchroma == 0:
                skip_run += 1
                ry[y0 : y0 + 16, x0 : x0 + 16] = p_y
                rcb[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = p_cb
                rcr[mby * 8 : mby * 8 + 8, mbx * 8 : mbx * 8 + 8] = p_cr
                st["mv"][mby, mbx] = mv_skip
                st["ref"][mby, mbx] = 0
                nc.luma[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 0
                for comp in range(2):
                    nc.chroma[comp][mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
                continue

            # --- motion search (integer window + quarter refine)
            mvp = _mvp_p16(st, mbx, mby)
            cands = {(0, 0), tuple(mvp), tuple(mv_skip)}
            for dy_ in range(-search, search + 1):
                for dx_ in range(-search, search + 1):
                    cands.add((dx_ * 4, dy_ * 4))
            def sad_of(mv):
                return int(np.abs(
                    src_y - mc_luma_block(refs[0], x0, y0, mv[0], mv[1])
                ).sum())
            best_mv = min(cands, key=sad_of)
            for dq in ((-2, 0), (2, 0), (0, -2), (0, 2), (-1, 0), (1, 0),
                       (0, -1), (0, 1), (1, 1), (-1, -1)):
                c = (best_mv[0] + dq[0], best_mv[1] + dq[1])
                if sad_of(c) < sad_of(best_mv):
                    best_mv = c
            inter_sad = sad_of(best_mv)
            intra_sad = min(
                int(np.abs(src_y - _mb_pred_luma(ry, mbx, mby, m)).sum())
                for m in _luma_modes_available(mbx, mby)
            )

            bw.ue(skip_run)
            skip_run = 0
            if intra_sad * 4 < inter_sad * 3:  # clear intra win
                _encode_i16_mb(
                    bw, nc, ry, rcb, rcr, src_y, src_cb, src_cr,
                    mbx, mby, qp, qpc, mb_type_offset=5,
                )
                st["ref"][mby, mbx] = -1
                continue

            # --- P_L0_16x16
            mv = best_mv
            st["mv"][mby, mbx] = mv
            st["ref"][mby, mbx] = 0
            p_y, p_cb, p_cr = _mc_mb(refs, mbx, mby, mv)
            zs, lbits = quant_inter_luma(src_y, p_y)
            zc_dc, zc_ac, cchroma = _quant_mb_chroma(
                src_cb, src_cr, p_cb, p_cr, qpc
            )
            cbp = lbits | (cchroma << 4)
            bw.ue(0)  # mb_type P_L0_16x16
            bw.se(mv[0] - mvp[0])
            bw.se(mv[1] - mvp[1])
            bw.ue(_CBP_INTER_INV[cbp])
            if cbp:
                bw.se(0)  # mb_qp_delta
            for bi in range(16):
                bx4 = mbx * 4 + _BLK_XY[bi][0] // 4
                by4 = mby * 4 + _BLK_XY[bi][1] // 4
                if lbits & (1 << (bi >> 2)):
                    total = encode_residual_block(
                        bw, _zz_scan(zs[bi]), nc.luma_nc(bx4, by4), 16
                    )
                    nc.luma[by4, bx4] = total
                else:
                    nc.luma[by4, bx4] = 0
                bx, by_ = _BLK_XY[bi]
                coefs = (
                    dequant4x4_ac(zs[bi], qp)
                    if lbits & (1 << (bi >> 2))
                    else np.zeros((4, 4), dtype=np.int64)
                )
                ry[y0 + by_ : y0 + by_ + 4, x0 + bx : x0 + bx + 4] = _recon_block(
                    p_y[by_ : by_ + 4, bx : bx + 4], coefs
                )
            _emit_and_recon_mb_chroma(
                bw, nc, rcb, rcr, mbx, mby, p_cb, p_cr,
                zc_dc, zc_ac, cchroma, qpc,
            )
    if skip_run:
        bw.ue(skip_run)
    bw.rbsp_trailing()
    if deblock:
        deblock_picture(
            ry, rcb, rcr,
            mb_qp=np.full((h_mbs, w_mbs), qp, dtype=np.int64),
            pcm=np.zeros((h_mbs, w_mbs), dtype=bool),
            intra=st["ref"] < 0,
            nz=nc.luma,
            mv=st["mv"],
            ref=st["ref"],
        )
    encode_pframe.last_recon = (
        ry.astype(np.uint8), rcb.astype(np.uint8), rcr.astype(np.uint8)
    )
    return _nal(1, bw.getvalue(), ref_idc=2)


def encode_gop(
    frames: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    qp: int = 26,
    gop_size: int = 8,
    deblock: bool = False,
) -> tuple[list[list[bytes]], list[bool]]:
    """Encode an IDR+P group-of-pictures sequence. Returns (per-frame
    NAL lists, per-frame sync flags); frame 0 and every ``gop_size``-th
    frame are IDR, the rest P-predict from the previous recon (the
    in-loop-filtered recon when ``deblock`` is set)."""
    aus: list[list[bytes]] = []
    syncs: list[bool] = []
    prev = None
    for i, (fy, fcb, fcr) in enumerate(frames):
        if i % gop_size == 0 or prev is None:
            nals = encode_iframe(fy, fcb, fcr, qp=qp, deblock=deblock)
            prev = encode_iframe.last_recon
            aus.append(nals)
            syncs.append(True)
        else:
            nal = encode_pframe(fy, fcb, fcr, prev, qp=qp, frame_num=i % 16,
                                deblock=deblock)
            prev = encode_pframe.last_recon
            aus.append([nal])
            syncs.append(False)
    return aus, syncs
