"""Pure-stdlib baseline JPEG decoder (ITU-T T.81 sequential DCT,
Huffman entropy coding) — closes the "most real image corpora are
JPEG" gap in ``multimodal.real_decoder`` without external codec
libraries: segment parse, canonical Huffman decode, dequantize +
dezigzag, 8x8 IDCT (numpy), restart-marker handling, chroma
upsampling for 4:4:4 / 4:2:2 / 4:2:0, YCbCr -> RGB.

Scope (documented boundary, mirrors the rest of multimodal.py):
baseline and extended-sequential Huffman scans (SOF0/SOF1), 8-bit
precision, grayscale or YCbCr. Progressive (SOF2), arithmetic
coding, hierarchical, and 12-bit scans raise NotImplementedError —
they are rare in training corpora and explicitly out of scope.

This is a correctness/coverage decoder, not a throughput codec: at
100 TB you wire libjpeg-turbo via PIL into ``decode_media``'s
Decoder slot; this module keeps the pipeline REAL (bytes -> pixels)
in environments with only the standard library + numpy.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag position -> natural (row-major) coefficient index
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

_SOF_UNSUPPORTED = {
    0xC2: "progressive (SOF2)",
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _idct_matrix():
    import numpy as np

    x = np.arange(8)
    u = x.reshape(-1, 1)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a


def _build_huffman(counts: list[int], symbols: bytes) -> dict:
    """Canonical Huffman (T.81 Annex C): {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over one entropy-coded (restart) segment;
    byte stuffing (FF 00) is removed before construction."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            return 0  # T.81 F.2.2.5: pad past the end with zero bits
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huffman(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude to its signed value."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def jpeg_pixels(content: bytes, max_pixels: int = 64_000_000):
    """Decode a baseline/extended-sequential Huffman JPEG to an
    (h, w, nch) uint8 array — nch 1 (grayscale) or 3 (RGB, converted
    from YCbCr). Raises NotImplementedError for out-of-scope coding
    modes (progressive, arithmetic, 12-bit).

    ``max_pixels`` is the decompression-bomb guard: a 200-byte file
    can declare 65535x65535 and demand a 12 GiB decode — the header
    is validated BEFORE any allocation or MCU work. Size the cap to
    the batch memory budget when decoding untrusted corpora."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    frame = None
    restart_interval = 0
    scan = None
    while pos < len(content):
        if content[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip them so the byte after the run is read as the
        # marker instead of being parsed as a segment length
        while pos + 1 < len(content) and content[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(content):
            break
        marker = content[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", content[pos + 2 : pos + 4])
        seg = content[pos + 4 : pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    qt[tq] = list(seg[i : i + 64])
                    i += 64
                else:  # 16-bit table
                    qt[tq] = [
                        struct.unpack(">H", seg[i + 2 * k : i + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    i += 128
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1 : i + 17])
                n = sum(counts)
                huff[(tc, th)] = _build_huffman(
                    counts, seg[i + 17 : i + 17 + n]
                )
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1
            precision, height, width, ncomp = struct.unpack(
                ">BHHB", seg[:6]
            )
            if precision != 8:
                raise NotImplementedError(
                    f"JPEG precision {precision} (only 8-bit supported)"
                )
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
            if width * height > max_pixels:
                raise ValueError(
                    f"JPEG declares {width}x{height} pixels — beyond "
                    f"max_pixels={max_pixels} (decompression-bomb guard)"
                )
            frame = {"w": width, "h": height, "comps": comps}
        elif marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                f"JPEG {_SOF_UNSUPPORTED[marker]} not supported — "
                "baseline/extended-sequential Huffman only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_comps = []
            for c in range(ns):
                cid, tdta = seg[1 + 2 * c : 3 + 2 * c]
                scan_comps.append(
                    {"id": cid, "dc": tdta >> 4, "ac": tdta & 15}
                )
            scan = (scan_comps, pos)
            break
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    scan_comps, data_start = scan

    # ---- entropy-coded data: strip stuffing, split at RST markers ----
    segments: list[bytes] = []
    cur = bytearray()
    i = data_start
    while i < len(content):
        b = content[i]
        if b == 0xFF:
            nxt = content[i + 1] if i + 1 < len(content) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # any other marker ends the scan (EOI, next SOS...)
        cur.append(b)
        i += 1
    segments.append(bytes(cur))

    # ---- MCU geometry ----
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    order = []  # interleaved component order within an MCU
    for sc in scan_comps:
        c = by_id[sc["id"]]
        order.append(
            {
                "c": c,
                "dc_tab": huff[(0, sc["dc"])],
                "ac_tab": huff[(1, sc["ac"])],
                "qt": qt[c["tq"]],
            }
        )
    planes = {
        c["id"]: np.zeros(
            (mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype="f8"
        )
        for c in comps
    }
    a = _idct_matrix()
    at = a.T

    seg_idx = 0
    reader = _BitReader(segments[0])
    dc_pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError(
                        f"truncated entropy stream: expected restart "
                        f"segment {seg_idx} but only {len(segments)} "
                        f"present"
                    )
                reader = _BitReader(segments[seg_idx])
                dc_pred = {c["id"]: 0 for c in comps}
            for entry in order:
                c, q = entry["c"], entry["qt"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64, dtype="f8")
                        t = reader.read_huffman(entry["dc_tab"])
                        diff = _extend(reader.read_bits(t), t) if t else 0
                        dc_pred[c["id"]] += diff
                        coef[0] = dc_pred[c["id"]] * q[0]
                        k = 1
                        while k < 64:
                            rs = reader.read_huffman(entry["ac_tab"])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            coef[k] = (
                                _extend(reader.read_bits(s), s) * q[k]
                            )
                            k += 1
                        block = np.zeros((8, 8), dtype="f8")
                        block.flat[ZIGZAG] = coef
                        pix = at @ block @ a + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1

    # ---- crop to component dims, upsample, color-convert ----
    out_planes = []
    for c in comps:
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        p = planes[c["id"]][:ch, :cw]
        if c["h"] != hmax or c["v"] != vmax:
            if hmax % c["h"] or vmax % c["v"]:
                raise NotImplementedError(
                    "non-integer JPEG sampling ratio"
                )
            p = p.repeat(vmax // c["v"], axis=0).repeat(
                hmax // c["h"], axis=1
            )
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        gray = np.clip(np.round(out_planes[0]), 0, 255).astype("u1")
        return gray.reshape(h, w, 1)
    if len(out_planes) != 3:
        raise NotImplementedError(
            f"JPEG with {len(out_planes)} components (CMYK?) not supported"
        )
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype("u1")
