"""Baseline JPEG codec — pure Python/numpy, no external libraries.

Implements the baseline sequential DCT process of the public JPEG
spec (ITU-T T.81 / ISO 10918-1) for three-component YCbCr streams:
DQT/DHT/SOF0/SOS parsing, canonical Huffman decode with byte
unstuffing, dequant + dezigzag, exact orthonormal 8x8 IDCT (matrix
form), chroma upsampling by any integer ratio (4:4:4, 4:2:2, 4:2:0),
and JFIF full-range BT.601 YCbCr -> RGB. ``encode_jpeg`` writes such
streams with the spec's Annex K example quantization and Huffman
tables; it writes the media fixture.

Scope (documented refusals, ValueError): grayscale and CMYK streams,
restart intervals (DRI), 16-bit quantization tables, progressive
(SOF2), arithmetic coding, 12-bit precision, hierarchical modes.
Transcode those at ingest. Entropy decoding is a per-symbol Python
loop — fine for fixture/feature-extraction scale; the surrounding
Spark plumbing (extract_features) streams Arrow batches regardless of
codec cost.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)

# ITU-T T.81 Annex K.1 example quantization tables (quality ~50)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64).reshape(8, 8)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64).reshape(8, 8)

# Annex K.3 typical Huffman tables: (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis C: dct2(X) = C @ X @ C.T."""
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0] *= np.sqrt(0.5)
    return c


_C = _dct_matrix()


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _build_huff(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman table: {(length, code): symbol}."""
    table = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[idx]
            idx += 1
            code += 1
        code <<= 1
    return table


def _huff_codes(bits: list[int], vals: list[int]) -> dict:
    """Encoder view: {symbol: (code, length)}."""
    return {sym: (code, length)
            for (length, code), sym in _build_huff(bits, vals).items()}


def _huff_lut(table: dict) -> tuple[np.ndarray, np.ndarray]:
    """Peek-16 decode LUT: for every 16-bit window whose prefix is a
    code, (symbol, code length); length 0 marks invalid prefixes. One
    O(1) array lookup replaces the per-bit tree walk — the standard
    fast path every production JPEG decoder uses."""
    sym = np.zeros(1 << 16, dtype=np.uint8)
    length = np.zeros(1 << 16, dtype=np.uint8)
    for (ln, code), s in table.items():
        lo = code << (16 - ln)
        hi = (code + 1) << (16 - ln)
        sym[lo:hi] = s
        length[lo:hi] = ln
    return sym, length


class _BitReader:
    """MSB-first bit reader over entropy-coded data with FF00
    unstuffing; pads with 1-bits at any other FFxx marker and past the
    end of the data."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        # CRITICAL: drop already-consumed high bits, else acc grows into
        # an unbounded bignum and every shift is O(bits seen) — decode
        # time quadratic in scan size (measured 41 s for a 224 KB scan)
        self.acc &= (1 << self.nbits) - 1
        d = self.data
        while self.nbits <= 24:
            # past the end, 0xFF pads (spec: pad with 1s) like a marker
            b = d[self.pos] if self.pos < len(d) else 0xFF
            if b != 0xFF:
                self.pos += 1
            elif self.pos + 1 < len(d) and d[self.pos + 1] == 0x00:
                self.pos += 2  # stuffed 0xFF data byte
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def receive(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def decode_symbol(self, lut: tuple[np.ndarray, np.ndarray]) -> int:
        # peek 16 bits, O(1) LUT hit, consume the code's length
        while self.nbits < 16:
            self._fill()
        word = (self.acc >> (self.nbits - 16)) & 0xFFFF
        ln = lut[1][word]
        if ln == 0:
            raise ValueError("corrupt JPEG entropy stream: no Huffman "
                             "code within 16 bits")
        self.nbits -= int(ln)
        return int(lut[0][word])


def _extend(v: int, n: int) -> int:
    """T.81 F.2.2.1: map the n received bits to a signed coefficient."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline YCbCr JPEG -> uint8 RGB [h, w, 3].

    ValueError on anything that is not a three-component baseline
    sequential 8-bit Huffman JPEG without restart intervals, or on
    truncated/corrupt structure.
    """
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:
            # T.81 B.1.1.2: 0xFF fill bytes may precede any marker
            pos += 1
            continue
        if marker == 0xD9:
            raise ValueError("truncated JPEG: EOI before SOS")
        # standalone markers carry NO length field (T.81 B.1.1.3):
        # TEM (0x01) and RSTn (0xD0-0xD7). Reading their next 2 bytes
        # as a segment length would desync the walk — skip just the
        # marker itself.
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        try:
            (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        except struct.error as e:
            raise ValueError(f"truncated JPEG segment at {pos}") from e
        body = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0xF
                if prec:
                    raise ValueError("unsupported JPEG 16-bit "
                                     "quantization table")
                tbl = np.frombuffer(body[b + 1:b + 65], dtype=np.uint8)
                b += 65
                flat = np.zeros(64, dtype=np.int64)
                flat[ZIGZAG] = tbl.astype(np.int64)
                qt[tid] = flat.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                if b + 17 > len(body):
                    raise ValueError("truncated JPEG DHT segment")
                cls, tid = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1:b + 17])
                nv = sum(bits)
                if b + 17 + nv > len(body):
                    raise ValueError("truncated JPEG DHT values")
                vals = list(body[b + 17:b + 17 + nv])
                huff[(cls, tid)] = _build_huff(bits, vals)
                b += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF segment")
            prec, fh, fw, nc = body[0], *struct.unpack(">HH", body[1:5]), \
                body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if fh == 0 or fw == 0:
                # zero dims would ZeroDivisionError in the thumbnail
                raise ValueError(f"bad JPEG dimensions {fw}x{fh}")
            from sketchlib.spark.multimodal import MAX_DECODE_PIXELS
            if fh * fw > MAX_DECODE_PIXELS:
                raise ValueError(
                    f"JPEG dimensions {fw}x{fh} exceed the decode "
                    f"limit ({MAX_DECODE_PIXELS} px) — a tiny header "
                    "can claim arbitrary dimensions")
            if nc != 3:
                raise ValueError(
                    f"unsupported JPEG component count {nc} — YCbCr "
                    "only (grayscale, CMYK/YCCK: transcode at ingest)")
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            comps = []
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i:9 + 3 * i]
                ch, cv = samp >> 4, samp & 0xF
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError(
                        f"bad JPEG sampling factors {ch}x{cv}")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if any(hmax % c["h"] or vmax % c["v"] for c in comps):
                raise ValueError(
                    "unsupported JPEG sampling (non-integer chroma "
                    "ratio) — transcode at ingest")
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG mode (progressive/arithmetic/"
                "hierarchical) — baseline sequential only; transcode at "
                "ingest")
        elif marker == 0xDD:
            raise ValueError("unsupported JPEG restart interval (DRI) — "
                             "transcode at ingest")
        elif marker == 0xDA:  # SOS -> entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if not body:
                raise ValueError("truncated JPEG SOS segment")
            ns = body[0]
            if len(body) < 1 + 2 * ns:
                raise ValueError("truncated JPEG SOS segment")
            sel = {}
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                sel[cs] = (tt >> 4, tt & 0xF)
            missing = [c["id"] for c in frame["comps"]
                       if c["id"] not in sel]
            if missing:
                raise ValueError(
                    "unsupported JPEG scan layout: non-interleaved "
                    f"multi-scan (components {missing} absent from the "
                    "first scan) — transcode at ingest")
            return _decode_scan(payload, pos + 2 + seglen, frame, qt,
                                huff, sel)
        pos += 2 + seglen
    raise ValueError("truncated JPEG: no SOS segment")


def _decode_scan(data: bytes, pos: int, frame, qt, huff,
                 sel) -> np.ndarray:
    comps = frame["comps"]
    fh, fw = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    reader = _BitReader(data, pos)
    luts = {k: _huff_lut(t) for k, t in huff.items()}
    pred = [0] * len(comps)
    # entropy-decode ALL blocks into per-component (n_blocks, 64)
    # zigzag-order coefficient matrices first; dezigzag + dequant +
    # IDCT then run batched (one einsum per component) — per-block
    # numpy calls dominated decode time otherwise
    n_blk = [mcux * mcuy * c["h"] * c["v"] for c in comps]
    coefs = [np.zeros((nb, 64), dtype=np.int64) for nb in n_blk]
    bi = [0] * len(comps)
    for ci, c in enumerate(comps):
        if ((0, sel[c["id"]][0]) not in luts
                or (1, sel[c["id"]][1]) not in luts
                or c["tq"] not in qt):
            raise ValueError("JPEG scan references missing "
                             "Huffman/quant table")
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, c in enumerate(comps):
                dc_lut = luts[(0, sel[c["id"]][0])]
                ac_lut = luts[(1, sel[c["id"]][1])]
                for _ in range(c["v"] * c["h"]):
                    _decode_block(reader, dc_lut, ac_lut, pred, ci,
                                  coefs[ci][bi[ci]])
                    bi[ci] += 1
    out = []
    for ci, c in enumerate(comps):
        v, h = c["v"], c["h"]
        nat = np.zeros((n_blk[ci], 64), dtype=np.float64)
        nat[:, ZIGZAG] = coefs[ci]
        blocks = nat.reshape(-1, 8, 8) * qt[c["tq"]][None, :, :]
        # blocks arrive MCU by MCU, v x h per MCU: lay them out as the
        # component plane, then upsample to the full grid and crop
        p = (np.einsum("ij,njk,kl->nil", _C.T, blocks, _C)
             .reshape(mcuy, mcux, v, h, 8, 8).transpose(0, 2, 4, 1, 3, 5)
             .reshape(mcuy * v * 8, mcux * h * 8))
        ry, rx = vmax // v, hmax // h
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out.append(p[:fh, :fw])
    y, cb, cr = out[0] + 128.0, out[1], out[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2), 0, 255) \
        .round().astype(np.uint8)


def _decode_block(reader, dc_lut, ac_lut, pred, ci, coef) -> None:
    """Entropy-decode one block's zigzag coefficients into ``coef``
    (int64[64] row of the batch matrix); dequant/IDCT happen batched
    in the caller."""
    s = reader.decode_symbol(dc_lut)
    diff = _extend(reader.receive(s), s)
    pred[ci] += diff
    coef[0] = pred[ci]
    k = 1
    while k < 64:
        rs = reader.decode_symbol(ac_lut)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("corrupt JPEG: AC run past block end")
        coef[k] = _extend(reader.receive(s), s)
        k += 1


# ---------------------------------------------------------------------------
# encoder (baseline YCbCr, Annex K tables) — for fixtures
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        # drop emitted bits — without this, acc becomes an ever-growing
        # bignum and encode time is quadratic in output size
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(writer, block, q, dc_codes, ac_codes, pred, ci) -> None:
    coef = np.rint(_C @ block @ _C.T / q).astype(np.int64)
    zz = coef.reshape(-1)[ZIGZAG]
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    s = _category(diff)
    code, length = dc_codes[s]
    writer.write(code, length)
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.flatnonzero(zz[1:]).max()) + 1 if (zz[1:] != 0).any() \
        else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_codes[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(pixels: np.ndarray, subsample: str = "444") -> bytes:
    """uint8 RGB [h, w, 3] -> baseline JPEG bytes (Annex K tables).

    ``subsample`` is ``"444"`` (one block of each component per MCU),
    ``"422"`` (2x1 luma sampling) or ``"420"`` (2x2 luma sampling, the
    dominant web-JPEG layout); subsampled chroma is block-mean
    downsampled."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected [h, w, 3] RGB, got shape {px.shape}")
    if subsample not in ("444", "422", "420"):
        raise ValueError(f"subsample must be '444', '422' or '420', got "
                         f"{subsample!r}")
    h, w = px.shape[:2]
    r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    if subsample != "444":
        # chroma block-mean-downsampled: 2x2 for 4:2:0, 2x1 (x only)
        # for 4:2:2; luma padded to the MCU multiple first
        fy, fx = (2, 2) if subsample == "420" else (1, 2)
        lh, lw = -(-h // (8 * fy)) * 8 * fy, -(-w // (8 * fx)) * 8 * fx
        y = np.pad(y, ((0, lh - h), (0, lw - w)), mode="edge")
        cpad = [np.pad(p, ((0, lh - h), (0, lw - w)), mode="edge")
                for p in (cb, cr)]
        cb, cr = (p.reshape(lh // fy, fy, lw // fx, fx).mean(axis=(1, 3))
                  for p in cpad)
        samp = [(fx, fy), (1, 1), (1, 1)]
    else:
        samp = [(1, 1)] * 3
    planes = [y, cb, cr]
    qts = [QUANT_LUMA, QUANT_CHROMA, QUANT_CHROMA]
    th = [0, 1, 1]  # quant and Huffman table id per component
    dc_codes = [_huff_codes(DC_LUMA_BITS, DC_LUMA_VALS),
                _huff_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_codes = [_huff_codes(AC_LUMA_BITS, AC_LUMA_VALS),
                _huff_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = []
    for ci, p in enumerate(planes):
        sh, sv = samp[ci]
        ph, pw = mcuy * 8 * sv, mcux * 8 * sh
        padded.append(np.pad(p, ((0, ph - p.shape[0]),
                                 (0, pw - p.shape[1])), mode="edge"))
    writer = _BitWriter()
    pred = [0] * len(planes)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, p in enumerate(padded):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        _encode_block(writer, p[y0:y0 + 8, x0:x0 + 8],
                                      qts[ci], dc_codes[th[ci]],
                                      ac_codes[th[ci]], pred, ci)
    scan = writer.flush()

    def dqt(tid, tbl):
        return _seg(0xDB, bytes([tid])
                    + bytes(int(tbl.reshape(-1)[z]) for z in ZIGZAG))

    def dht(cls, tid, bits, vals):
        return _seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits)
                    + bytes(vals))

    sof = _seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
               + b"".join(bytes([i + 1,
                                 (samp[i][0] << 4) | samp[i][1], th[i]])
                          for i in range(3)))
    sos = _seg(0xDA, bytes([3])
               + b"".join(bytes([i + 1, (th[i] << 4) | th[i]])
                          for i in range(3))
               + bytes([0, 63, 0]))
    return b"".join([
        b"\xFF\xD8", dqt(0, QUANT_LUMA), dqt(1, QUANT_CHROMA),
        dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
        sof, sos, scan, b"\xFF\xD9"])
