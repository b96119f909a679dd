"""Baseline JPEG encoder — the write side of the codec in
``functions/jpeg.py``, used by the tests to build JPEG fixtures for the
decoder without external libraries.

Simple canonical tables (12 DC categories at length 4; all 162 AC
run/size symbols at length 8) and a UNIFORM quantization table — valid
JPEG that any decoder reads; not size-optimized (no optimized Huffman,
no quality curves). quant=1 is near-lossless (DCT rounding only).
"""

from __future__ import annotations

import struct

import numpy as np

from amazon_personalize_connectors_spark.functions.jpeg import ZIGZAG, _idct_matrix

_DC_SYMBOLS = list(range(12))
_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_AC_COUNTS = [0] * 7 + [len(_AC_SYMBOLS)] + [0] * 8


def _canonical_codes(counts, symbols):
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _canonical_codes(_DC_COUNTS, _DC_SYMBOLS)
_AC_CODES = _canonical_codes(_AC_COUNTS, _AC_SYMBOLS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _encode_block(writer, block, dc_pred: int, quant: int) -> int:
    a = _idct_matrix()
    coef = a @ (block - 128.0) @ a.T
    zz = np.round(coef.flat[ZIGZAG] / quant).astype(int)
    diff = int(zz[0]) - dc_pred
    t = int(abs(diff)).bit_length()
    length, code = _DC_CODES[t]
    writer.write(code, length)
    if t:
        writer.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = _AC_CODES[0xF0]
            writer.write(code, length)
            run -= 16
        s = int(abs(v)).bit_length()
        length, code = _AC_CODES[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        length, code = _AC_CODES[0x00]
        writer.write(code, length)
    return int(zz[0])


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


def jpeg_encode(
    rgb,
    subsample: bool = False,
    restart_interval: int = 0,
    quant: int = 1,
) -> bytes:
    """Encode an (h, w, 3) RGB or (h, w) grayscale uint8 array as a
    baseline JFIF JPEG — 4:4:4 by default, 4:2:0 with box-averaged
    chroma when ``subsample``; ``quant`` is a uniform quantization
    value (1 = near-lossless, larger = smaller/lossier)."""
    gray = rgb.ndim == 2
    h, w = rgb.shape[:2]
    if gray:
        planes = [rgb.astype("f8")]
        factors = [(1, 1)]
    else:
        x = rgb.astype("f8")
        y = 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]
        cb = 128.0 - 0.168736 * x[..., 0] - 0.331264 * x[..., 1] + 0.5 * x[..., 2]
        cr = 128.0 + 0.5 * x[..., 0] - 0.418688 * x[..., 1] - 0.081312 * x[..., 2]
        if subsample:
            hp, wp = h + (h % 2), w + (w % 2)
            cbp = np.pad(cb, ((0, hp - h), (0, wp - w)), mode="edge")
            crp = np.pad(cr, ((0, hp - h), (0, wp - w)), mode="edge")
            cb = cbp.reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
            factors = [(2, 2), (1, 1), (1, 1)]
        else:
            factors = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = []
    for p, (fh, fv) in zip(planes, factors):
        ph, pw = mcus_y * fv * 8, mcus_x * fh * 8
        padded.append(
            np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        )

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([min(quant, 255)] * 64))
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i, (fh, fv) in enumerate(factors):
        sof += bytes([i + 1, (fh << 4) | fv, 0])
    out += _seg(0xC0, sof)
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMBOLS)
        + bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMBOLS),
    )
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    writer = _BitWriter()
    dc_pred = [0] * ncomp
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                writer.flush()
                out += writer.out
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                writer = _BitWriter()
                dc_pred = [0] * ncomp
            for ci, (p, (fh, fv)) in enumerate(zip(padded, factors)):
                for by in range(fv):
                    for bx in range(fh):
                        y0 = (my * fv + by) * 8
                        x0 = (mx * fh + bx) * 8
                        dc_pred[ci] = _encode_block(
                            writer,
                            p[y0 : y0 + 8, x0 : x0 + 8],
                            dc_pred[ci],
                            max(1, quant),
                        )
            mcu_count += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)
