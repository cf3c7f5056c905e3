"""Baseline-sequential JPEG codec (ITU-T T.81 / ISO 10918-1), pure
numpy + stdlib — closes the last real multimodal capability gap
(VERDICT r9 #7): compressed-photo corpora are dominated by JPEG, and the
engine's decode/resize/feature ops previously raised on it.

Scope — the two DCT Huffman processes real-world JPEGs use:
  * decode: SOF0/SOF1 (sequential) AND — r10 — SOF2 (progressive:
    spectral selection + successive approximation, DC/AC first and
    refinement scans, EOBRUN), 8-bit samples, grayscale or YCbCr with
    any h×v sampling factors ≤ 2 (4:4:4 / 4:2:2 / 4:2:0), restart
    markers, 16-bit quant tables, JFIF/EXIF APPn passthrough.
    Arithmetic coding, 12-bit, and hierarchical raise
    NotImplementedError with an actionable message (the codec family's
    honest-scope pattern).
  * encode: baseline 4:4:4 or 4:2:0, plus a progressive 4:4:4 encoder
    with a fixed successive-approximation scan script
    (encode_jpeg_progressive) — Annex-K standard Huffman +
    quality-scaled Annex-K quant tables (the libjpeg quality formula).

Validation strategy (this container has no libjpeg/PIL to diff against):
the DCT pair is pinned by its mathematical identity (IDCT∘FDCT == id to
float precision), encode→decode round-trips are bounded by per-pixel
tolerance on smooth content and exact on solid colors (DC-only blocks),
the decoder is pinned against REAL libjpeg-produced files (CPython's
16×16 4:2:0 test logo, IPython's 2×2 grayscale, and — progressive —
the two nodejs banner JPEGs in /usr/share/doc, one plain spectral
selection, one with AC successive-approximation refinement), and the
progressive pipeline is cross-validated against the baseline one:
both encoders emit IDENTICAL quantized coefficients for the same
pixels, so the two decodes must match byte-for-byte
(tests/test_codecs_jpeg.py).

Like every codec here: pure bytes→numpy functions, called from per-row
functions that `queries._util.map_rows` runs over Arrow batches
(queries/multimodal.py), never per-row py4j.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag scan order: ZIGZAG[k] = row-major index of the k-th coefficient
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K (K.1/K.2) reference quantization tables, zig-zag order
_Q_LUMA = np.array(
    [
        16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
        26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
        56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
        95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
        103, 99,
    ],
    dtype=np.int64,
)
_Q_CHROMA = np.array(
    [
        17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K (K.3) typical Huffman tables: (BITS counts per length 1..16,
# HUFFVAL symbol list)
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8×8 DCT-II basis C: forward F = C·x·Cᵀ, inverse
    x = Cᵀ·F·C (the identity the tests pin)."""
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * 0.5
    c[0] *= 1 / np.sqrt(2)
    return c


_C = _dct_matrix()


class _HuffTable:
    """Canonical decode table in the T.81 F.2.2.3 DECODE representation:
    ``mincode``/``maxcode``/``valptr`` arrays indexed by code length (with
    maxcode = -1 for unused lengths so the length walk passes over them).
    The array walk selects exactly the same (unique, prefix-free) code the
    previous {(length, code): symbol} dict lookup did, with integer
    compares instead of a dict probe per candidate length."""

    __slots__ = ("mincode", "maxcode", "valptr", "vals")

    def __init__(self, mincode, maxcode, valptr, vals):
        self.mincode = mincode
        self.maxcode = maxcode
        self.valptr = valptr
        self.vals = vals


def _canonical_codes(bits: list[int], vals: list[int]):
    """(BITS, HUFFVAL) → (_HuffTable decode tables, {symbol: (code, len)})
    — canonical Huffman code assignment per T.81 Annex C."""
    encode: dict[int, tuple[int, int]] = {}
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        nl = bits[length - 1]
        if nl:
            valptr[length] = k
            mincode[length] = code
            for _ in range(nl):
                encode[vals[k]] = (code, length)
                code += 1
                k += 1
            maxcode[length] = code - 1
        code <<= 1
    return _HuffTable(mincode, maxcode, valptr, list(vals)), encode


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 sign extension of an s-bit magnitude."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    stops (zero-pads) at any real marker, which the MCU loop consumes via
    restart().

    r11 optimization-round rewrite (guide §4.2 — the JPEG decode was the
    suite's hottest Python path, 1.23M per-bit function calls per 200 tiny
    images): the entropy chunk up to the next real marker is unstuffed ONCE
    into a flat buffer, bits are served from an integer cache refilled a
    byte at a time, and Huffman decode peeks 16 bits and walks the
    canonical maxcode array (T.81 F.2.2.3 DECODE). Bit-for-bit the same
    stream semantics as the per-bit reader it replaces: zero-padding past
    the terminating marker, 0xFF00 unstuffing, restart alignment.
    Measured: 3.5× on baseline decode, 4.5× on progressive (see
    OPTIMIZATION_r11.md)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self._load(pos)

    def _load(self, pos: int) -> None:
        """Unstuff one entropy-coded chunk starting at ``pos``; leave
        ``self.pos`` at the real marker (or EOF) that terminated it."""
        data = self.data
        n = len(data)
        buf = bytearray()
        p = pos
        # fast path: bulk-scan for 0xFF with bytes.find instead of a
        # per-byte Python loop (entropy data is mostly marker-free)
        while p < n:
            ff = data.find(b"\xff", p)
            if ff < 0:
                buf += data[p:]
                p = n
                break
            buf += data[p:ff]
            if ff + 1 < n and data[ff + 1] == 0x00:
                buf.append(0xFF)  # stuffed data byte
                p = ff + 2
                continue
            p = ff  # real marker (a trailing 0xFF counts as EOI)
            break
        self.buf = bytes(buf)
        self.nbytes = len(buf)
        self.bytepos = 0
        self.cache = 0
        self.cachebits = 0
        self.pos = p
        self.eos = False

    def _fill(self, need: int) -> None:
        cache = self.cache & ((1 << self.cachebits) - 1)
        bits = self.cachebits
        bp, nb, buf = self.bytepos, self.nbytes, self.buf
        while bits < need:
            if bp < nb:
                cache = (cache << 8) | buf[bp]
                bp += 1
            else:
                cache <<= 8  # zero-pad past the terminating marker
                self.eos = True
            bits += 8
        self.cache, self.cachebits, self.bytepos = cache, bits, bp

    def read_bit(self) -> int:
        if self.cachebits == 0:
            self._fill(1)
        self.cachebits -= 1
        return (self.cache >> self.cachebits) & 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.cachebits < n:
            self._fill(n)
        self.cachebits -= n
        return (self.cache >> self.cachebits) & ((1 << n) - 1)

    def decode_huff(self, table: _HuffTable) -> int:
        if self.cachebits < 16:
            self._fill(16)
        peek = (self.cache >> (self.cachebits - 16)) & 0xFFFF
        maxcode = table.maxcode
        length = 1
        code = peek >> 15
        while code > maxcode[length]:
            length += 1
            if length > 16:
                raise ValueError("invalid JPEG Huffman code")
            code = peek >> (16 - length)
        self.cachebits -= length
        return table.vals[table.valptr[length] + code - table.mincode[length]]

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker (T.81 F.2.1.3.1)."""
        data = self.data
        n = len(data)
        # self.pos sits at the marker that terminated the exhausted chunk;
        # scan forward (tolerates pad 0xFF fill bytes) for the RSTn.
        p = self.pos
        while p + 1 < n:
            if data[p] == 0xFF and 0xD0 <= data[p + 1] <= 0xD7:
                self._load(p + 2)
                return
            p += 1
        raise ValueError("expected JPEG restart marker")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes → (h, w, 3) uint8 RGB (grayscale replicated). Baseline
    sequential (SOF0/1) and — r10 — progressive (SOF2: spectral selection
    + successive approximation, DC/AC first and refinement scans,
    EOBRUN).

    Error contract (r10 verdict #8): corrupt streams — truncation inside
    a segment, bit-flipped Huffman tables, counts pointing past the data
    — raise an actionable ``ValueError`` (or ``NotImplementedError`` for
    the documented unsupported variants), never a bare ``struct.error``/
    ``IndexError`` from the decoder internals (fuzz-pinned in
    tests/test_codecs_jpeg.py)."""
    try:
        return _decode_jpeg_checked(payload)
    except (ValueError, NotImplementedError):
        raise
    except Exception as e:
        raise ValueError(
            f"corrupt JPEG stream ({type(e).__name__}: {e})"
        ) from e


def _decode_jpeg_checked(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    frame = None
    progressive = False
    coef_store: dict[int, np.ndarray] | None = None
    restart_interval = 0
    i = 2
    n = len(payload)
    while i < n - 1:
        if payload[i] != 0xFF:
            i += 1
            continue
        m = payload[i + 1]
        if m in (0xFF, 0x01) or 0xD0 <= m <= 0xD8:
            i += 2
            continue
        if m == 0xD9:  # EOI: progressive reconstructs here
            break
        ln = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        seg = payload[i + 4 : i + 2 + ln]
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 15
                p += 1
                if prec:
                    tbl = np.frombuffer(
                        seg[p : p + 128], dtype=">u2"
                    ).astype(np.int64)
                    p += 128
                else:
                    tbl = np.frombuffer(
                        seg[p : p + 64], dtype=np.uint8
                    ).astype(np.int64)
                    p += 64
                qt[tid] = tbl
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                cnt = sum(bits)
                vals = list(seg[p + 17 : p + 17 + cnt])
                huff[(tc, th)], _ = _canonical_codes(bits, vals)
                p += 17 + cnt
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError(
                    f"{prec}-bit JPEG not supported (8-bit only)"
                )
            h, w = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if h * w > 1 << 30:
                # bit-flipped SOF dims would otherwise drive multi-GB
                # plane allocations; 2^30 px (~3 GB RGB) is far beyond
                # any real training-corpus asset
                raise ValueError(
                    f"JPEG dimensions {w}x{h} exceed the supported size"
                )
            frame = {"h": h, "w": w, "comps": comps}
            progressive = m == 0xC2
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{m:02X} (lossless/arithmetic/"
                "hierarchical) not supported — baseline/progressive only"
            )
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if not progressive:
                tables = {}
                for c in range(ns):
                    cs, td_ta = seg[1 + 2 * c], seg[2 + 2 * c]
                    tables[cs] = (td_ta >> 4, td_ta & 15)
                return _decode_scan(
                    payload, i + 2 + ln, frame, qt, huff, tables,
                    restart_interval,
                )
            if coef_store is None:
                coef_store = _init_coef_store(frame)
            scan = {
                "comps": [
                    (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                    for c in range(ns)
                ],
                "ss": seg[1 + 2 * ns],
                "se": seg[2 + 2 * ns],
                "ah": seg[3 + 2 * ns] >> 4,
                "al": seg[3 + 2 * ns] & 15,
            }
            i = _progressive_scan(
                payload, i + 2 + ln, frame, huff, scan, coef_store,
                restart_interval,
            )
            continue
        i += 2 + ln
    if progressive and coef_store is not None:
        return _reconstruct_progressive(frame, coef_store, qt)
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(data, pos, frame, qt, huff, tables, ri) -> np.ndarray:
    """Baseline sequential scan. r11 optimization round: the entropy loop
    accumulates INTEGER zig-zag coefficients straight into the shared
    coefficient store (no per-block numpy allocations or per-block matmuls
    — ~30 µs of array setup per 8×8 block dominated tiny-image decode),
    and the dequantize + IDCT runs ONCE,
    batched, through the same `_reconstruct_progressive` einsum path the
    progressive decoder uses — whose bit-identity with the per-block
    ``_C.T @ blk @ _C`` form is already pinned by the baseline==progressive
    cross-pipeline equality tests and the libjpeg fixture pins."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx = -(-frame["w"] // (8 * hmax))
    my = -(-frame["h"] // (8 * vmax))
    coef = _init_coef_store(frame)
    br = _BitReader(data, pos)
    dc_pred = {c["id"]: 0 for c in comps}
    for mcu in range(mx * my):
        if ri and mcu and mcu % ri == 0:
            br.restart()
            dc_pred = {c["id"]: 0 for c in comps}
        myi, mxi = divmod(mcu, mx)
        for c in comps:
            cid = c["id"]
            dc_tbl = huff[(0, tables[cid][0])]
            ac_tbl = huff[(1, tables[cid][1])]
            store = coef[cid]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    blk = store[myi * c["v"] + by, mxi * c["h"] + bx]
                    s = br.decode_huff(dc_tbl)
                    dc_pred[cid] += _extend(br.receive(s), s)
                    blk[0] = dc_pred[cid]
                    k = 1
                    while k < 64:
                        rs = br.decode_huff(ac_tbl)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC run past block end")
                        blk[k] = _extend(br.receive(s), s)
                        k += 1
    return _reconstruct_progressive(frame, coef, qt)


def _planes_to_rgb(out: list[np.ndarray]) -> np.ndarray:
    """Cropped float planes (1 = grayscale, 3 = YCbCr) → uint8 RGB."""
    if len(out) == 1:
        g = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ------------------------------------------------- progressive decode (r10)


def _frame_geometry(frame):
    """(hmax, vmax, mx, my): sampling maxima and MCU grid dims."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mx = -(-frame["w"] // (8 * hmax))
    my = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mx, my


def _comp_block_grid(frame, c):
    """Non-interleaved block-grid dims for one component (T.81 A.2.2:
    ceil(component samples / 8), NOT the MCU-padded grid)."""
    hmax, vmax, _, _ = _frame_geometry(frame)
    cw = -(-frame["w"] * c["h"] // hmax)
    ch = -(-frame["h"] * c["v"] // vmax)
    return -(-ch // 8), -(-cw // 8)


def _init_coef_store(frame) -> dict[int, np.ndarray]:
    """Per-component zig-zag coefficient accumulators sized to the
    MCU-padded grid (interleaved DC scans address the full grid; AC
    scans write the top-left non-interleaved sub-grid)."""
    hmax, vmax, mx, my = _frame_geometry(frame)
    return {
        c["id"]: np.zeros((my * c["v"], mx * c["h"], 64), dtype=np.int32)
        for c in frame["comps"]
    }


def _progressive_scan(data, pos, frame, huff, scan, coef, ri) -> int:
    """One progressive SOS: updates `coef` in place, returns the byte
    offset of the marker terminating the scan's entropy data."""
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    br = _BitReader(data, pos)
    comps_by_id = {c["id"]: c for c in frame["comps"]}
    state = {"eobrun": 0}

    def dc_first(cid, by, bx, pred):
        tbl = huff[(0, _scan_td[cid])]
        s = br.decode_huff(tbl)
        pred += _extend(br.receive(s), s)
        coef[cid][by, bx, 0] = pred << al
        return pred

    def dc_refine(cid, by, bx):
        if br.read_bit():
            coef[cid][by, bx, 0] |= 1 << al

    def ac_first(cid, by, bx):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        blk = coef[cid][by, bx]
        tbl = huff[(1, _scan_ta[cid])]
        k = ss
        while k <= se:
            rs = br.decode_huff(tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:  # EOBn: run of (1<<r)-1 MORE all-zero bands
                    state["eobrun"] = (1 << r) - 1 + br.receive(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("JPEG progressive AC run past band end")
            blk[k] = _extend(br.receive(s), s) << al
            k += 1

    def ac_refine(cid, by, bx):
        """T.81 G.1.2.3 AC successive-approximation refinement (the
        libjpeg decode_mcu_AC_refine structure): newly-nonzero ±1<<al
        insertions run-length-coded over ZERO-HISTORY positions, with one
        correction bit consumed at every nonzero-history position
        passed — including the band tail covered by an EOB run.

        r11 optimization round: the band is pulled out of the coefficient
        store into a plain Python list for the positional walk (numpy
        scalar indexing made this the progressive decoder's hottest
        frame) and written back once — same values, same bit consumption,
        ~3× on this function."""
        row = coef[cid][by, bx]
        blk = row.tolist()
        p1, m1 = 1 << al, -1 << al
        read_bit = br.read_bit
        k = ss
        if state["eobrun"] == 0:
            tbl = huff[(1, _scan_ta[cid])]
            while k <= se:
                rs = br.decode_huff(tbl)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r < 15:
                        state["eobrun"] = (1 << r) + br.receive(r)
                        break  # tail handled by the eobrun branch below
                    # r == 15: ZRL — skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError(
                            "JPEG AC refinement magnitude must be 1"
                        )
                    val = p1 if read_bit() else m1
                while k <= se:
                    bk = blk[k]
                    if bk != 0:
                        if read_bit() and not (bk & p1):
                            blk[k] = bk + (p1 if bk >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                bk = blk[k]
                if bk != 0:
                    if read_bit() and not (bk & p1):
                        blk[k] = bk + (p1 if bk >= 0 else m1)
                k += 1
            state["eobrun"] -= 1
        row[:] = blk

    _scan_td = {cid: td for cid, td, _ in scan["comps"]}
    _scan_ta = {cid: ta for cid, _, ta in scan["comps"]}
    if ss == 0 and se != 0:
        raise ValueError("JPEG progressive scan mixes DC and AC bands")
    if ss > 0 and len(scan["comps"]) != 1:
        raise ValueError("JPEG progressive AC scan must be non-interleaved")

    if len(scan["comps"]) > 1:  # interleaved DC scan: MCU walk
        hmax, vmax, mx, my = _frame_geometry(frame)
        preds = {cid: 0 for cid, _, _ in scan["comps"]}
        for mcu in range(mx * my):
            if ri and mcu and mcu % ri == 0:
                br.restart()
                preds = {cid: 0 for cid in preds}
                state["eobrun"] = 0
            myi, mxi = divmod(mcu, mx)
            for cid, _, _ in scan["comps"]:
                c = comps_by_id[cid]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        gy, gx = myi * c["v"] + by, mxi * c["h"] + bx
                        if ah == 0:
                            preds[cid] = dc_first(cid, gy, gx, preds[cid])
                        else:
                            dc_refine(cid, gy, gx)
    else:  # single-component scan: block-grid walk
        cid = scan["comps"][0][0]
        c = comps_by_id[cid]
        gby, gbx = _comp_block_grid(frame, c)
        pred = 0
        for blkno in range(gby * gbx):
            if ri and blkno and blkno % ri == 0:
                br.restart()
                pred = 0
                state["eobrun"] = 0
            by, bx = divmod(blkno, gbx)
            if ss == 0:
                if ah == 0:
                    pred = dc_first(cid, by, bx, pred)
                else:
                    dc_refine(cid, by, bx)
            elif ah == 0:
                ac_first(cid, by, bx)
            else:
                ac_refine(cid, by, bx)

    # advance to the marker that terminated (or follows) the entropy data
    p = br.pos
    while p < len(data) - 1:
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return len(data)


def _reconstruct_progressive(frame, coef, qt) -> np.ndarray:
    """Dequantize + batch IDCT every accumulated block, stitch planes,
    upsample, crop, color-convert (one einsum per component — the
    progressive path pays its IDCT once at EOI, not per scan)."""
    h, w = frame["h"], frame["w"]
    hmax, vmax, _, _ = _frame_geometry(frame)
    out = []
    for c in frame["comps"]:
        blocks = coef[c["id"]].astype(np.float64)  # (by, bx, 64) zig-zag
        deq = blocks * qt[c["tq"]][None, None, :]
        nat = np.zeros_like(deq)
        nat[..., ZIGZAG] = deq
        by, bx = nat.shape[:2]
        # broadcast matmul == the einsum it replaces == the per-block
        # `_C.T @ blk @ _C` (all three pinned equal by the cross-pipeline
        # and libjpeg-fixture tests); einsum's per-call dispatch was the
        # residual decode hot spot after the r11 entropy rewrite
        spatial = _C.T @ nat.reshape(by, bx, 8, 8) @ _C + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        out.append(plane[:h, :w])
    return _planes_to_rgb(out)


# -------------------------------------------------- progressive encode (r10)


def _plane_qcoefs(plane: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """(H, W) float plane → (by, bx, 64) quantized coefficients in
    zig-zag order (batch FDCT — the same math _encode_block applies
    per block, so baseline and progressive encodes of one image carry
    IDENTICAL coefficients; the cross-pipeline equality test rests on
    this)."""
    p = _pad_to(plane, 8, 8)
    hh, ww = p.shape
    by, bx = hh // 8, ww // 8
    blocks = p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3) - 128.0
    # broadcast matmul (r11): same per-slice dgemm as the per-block
    # `_C @ blk @ _C.T` form — einsum computed the identical values but
    # paid ~100 µs of dispatch per call, the whole FDCT budget for a
    # small image
    nat = (_C @ blocks @ _C.T).reshape(by, bx, 64)
    zz = nat[..., ZIGZAG]
    return np.round(zz / qtbl).astype(np.int64)


def _emit_ac_first(blk, ss, se, al, ac_enc, bw) -> None:
    """AC first scan for one block (T.81 G.1.2.2): magnitudes >> al,
    per-block EOB (run length 1 — legal; EOBRUN>1 decode is exercised by
    the real libjpeg fixtures)."""
    vals = blk[ss : se + 1]  # plain int list (see encode qcoefs tolist)
    shifted = [(abs(v) >> al) * (1 if v >= 0 else -1) for v in vals]
    last = -1
    for idx, v in enumerate(shifted):
        if v:
            last = idx
    r = 0
    for idx in range(last + 1):
        v = shifted[idx]
        if v == 0:
            r += 1
            continue
        while r > 15:
            code, ln = ac_enc[0xF0]
            bw.write(code, ln)
            r -= 16
        s = abs(v).bit_length()
        code, ln = ac_enc[(r << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        r = 0
    if last < se - ss:
        code, ln = ac_enc[0x00]  # EOB, run 1
        bw.write(code, ln)


def _emit_ac_refine(blk, ss, se, al, ac_enc, bw) -> None:
    """AC refinement scan for one block (the jcphuff encode_mcu_AC_refine
    structure): ZRL checks run at every nonzero position BEFORE that
    position's correction bit is buffered — the ordering that keeps the
    decoder's interleaved walk aligned; buffered bits flush after each
    emitted symbol; tail corrections ride the per-block EOB."""
    p1 = 1
    absv = [abs(v) >> al for v in blk[ss : se + 1]]
    signs = [v > 0 for v in blk[ss : se + 1]]
    eob = -1  # index of LAST newly-nonzero coefficient
    for idx, t in enumerate(absv):
        if t == 1:
            eob = idx
    r = 0
    pending: list[int] = []
    for idx in range(eob + 1):
        t = absv[idx]
        if t == 0:
            r += 1
            continue
        while r > 15 and idx <= eob:
            code, ln = ac_enc[0xF0]
            bw.write(code, ln)
            r -= 16
            for b in pending:
                bw.write(b, 1)
            pending = []
        if t > 1:  # history-nonzero: one correction bit
            pending.append(t & p1)
            continue
        code, ln = ac_enc[(r << 4) | 1]  # newly-nonzero ±1
        bw.write(code, ln)
        bw.write(1 if signs[idx] else 0, 1)
        for b in pending:
            bw.write(b, 1)
        pending = []
        r = 0
    if r > 0 or pending or eob < len(absv) - 1:
        code, ln = ac_enc[0x00]  # EOB run 1 + the tail's corrections
        bw.write(code, ln)
        for b in pending:
            bw.write(b, 1)
        for idx in range(eob + 1, len(absv)):
            if absv[idx] > 1:
                bw.write(absv[idx] & p1, 1)


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 90
) -> bytes:
    """(h, w, 3) uint8 RGB (or (h, w) grayscale) → progressive JPEG
    (SOF2), 4:4:4, fixed successive-approximation scan script:

      DC all-components Al=1 → per-component AC 1-5 / 6-63 at Al=1 →
      DC refine Al=0 → per-component AC refine Ah=1 Al=0

    — every progressive scan KIND the decoder implements (DC/AC first +
    refinement) appears. The quantized coefficients are byte-identical
    to encode_jpeg's at the same quality, so decode(progressive) must
    equal decode(baseline) EXACTLY — the cross-pipeline identity
    tests/test_codecs_jpeg.py pins (a compensating encoder/decoder bug
    pair cannot survive it, because the baseline pipeline is itself
    pinned against real libjpeg files)."""
    arr = np.asarray(arr)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    ql, qc = _quality_tables(quality)
    dcl_enc, acl_enc, dcc_enc, acc_enc = _std_enc_tables()

    if gray:
        planes = [arr.astype(np.float64)]
    else:
        x = arr.astype(np.float64)
        planes = [
            0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2],
            -0.168736 * x[..., 0] - 0.331264 * x[..., 1]
            + 0.5 * x[..., 2] + 128.0,
            0.5 * x[..., 0] - 0.418688 * x[..., 1]
            - 0.081312 * x[..., 2] + 128.0,
        ]
    nc = len(planes)
    # nested Python lists (r11): the scan loops below are pure scalar
    # walks, and numpy element indexing was a measured hot spot
    qcoefs = [
        _plane_qcoefs(p, ql if ci == 0 else qc).tolist()
        for ci, p in enumerate(planes)
    ]
    grid_by, grid_bx = (
        len(qcoefs[0]),
        len(qcoefs[0][0]),
    )

    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        ql.astype(np.uint8)
    )
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(
            qc.astype(np.uint8)
        )
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    dht = [(0x00, _HUFF_DC_LUMA), (0x10, _HUFF_AC_LUMA)]
    if not gray:
        dht += [(0x01, _HUFF_DC_CHROMA), (0x11, _HUFF_AC_CHROMA)]
    for tc_th, (bits, vals) in dht:
        out += (
            b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
            + bytes([tc_th]) + bytes(bits) + bytes(vals)
        )

    def sos_header(comp_specs, ss, se, ah, al) -> bytes:
        hdr = b"\xff\xda" + struct.pack(
            ">HB", 6 + 2 * len(comp_specs), len(comp_specs)
        )
        for cid, td, ta in comp_specs:
            hdr += bytes([cid, (td << 4) | ta])
        return hdr + bytes([ss, se, (ah << 4) | al])

    def dc_scan(al, refine: bool) -> None:
        specs = [
            (ci + 1, 0 if ci == 0 else 1, 0) for ci in range(nc)
        ]
        out.extend(sos_header(specs, 0, 0, al + 1 if refine else 0, al))
        bw = _BitWriter()
        # interleaved MCU walk — 4:4:4, so one block per component per MCU
        by, bx = grid_by, grid_bx
        preds = [0] * nc
        for mcu in range(by * bx):
            yy, xx = divmod(mcu, bx)
            for ci in range(nc):
                dc = qcoefs[ci][yy][xx][0]
                if refine:
                    bw.write((dc >> al) & 1, 1)
                    continue
                v = dc >> al
                diff = v - preds[ci]
                preds[ci] = v
                s = abs(diff).bit_length()
                code, ln = (dcl_enc if ci == 0 else dcc_enc)[s]
                bw.write(code, ln)
                if s:
                    bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
        bw.flush()
        out.extend(bw.out)

    def ac_scan(ci, ss, se, ah, al) -> None:
        out.extend(sos_header([(ci + 1, 0, 0 if ci == 0 else 1)], ss, se, ah, al))
        bw = _BitWriter()
        enc = acl_enc if ci == 0 else acc_enc
        by, bx = grid_by, grid_bx
        for blkno in range(by * bx):
            yy, xx = divmod(blkno, bx)
            blk = qcoefs[ci][yy][xx]
            if ah == 0:
                _emit_ac_first(blk, ss, se, al, enc, bw)
            else:
                _emit_ac_refine(blk, ss, se, al, enc, bw)
        bw.flush()
        out.extend(bw.out)

    dc_scan(1, refine=False)
    for ci in range(nc):
        ac_scan(ci, 1, 5, 0, 1)
        ac_scan(ci, 6, 63, 0, 1)
    dc_scan(0, refine=True)
    for ci in range(nc):
        ac_scan(ci, 1, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------------ encoder


class _BitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing.

    r11 optimization round: bits accumulate into ONE Python int and whole
    bytes drain in bulk through ``int.to_bytes`` + ``bytes.replace``
    (C-speed stuffing) instead of the per-call byte loop — `write` was the
    encoder's hottest frame at 1.5M calls / 400 images. Byte-identical
    output (stuffing inserts 0x00 after every 0xFF, including a padded
    final byte, exactly as before)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        if self.nbits >= 4096:
            self._drain()

    def _drain(self) -> None:
        nbytes = self.nbits >> 3
        if not nbytes:
            return
        rem = self.nbits & 7
        chunk = (self.acc >> rem).to_bytes(nbytes, "big")
        self.out += chunk.replace(b"\xff", b"\xff\x00")
        self.acc &= (1 << rem) - 1
        self.nbits = rem

    def flush(self) -> None:
        pad = (8 - self.nbits % 8) % 8
        if pad:
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.nbits += pad
        self._drain()


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg quality scaling of the Annex-K tables (zig-zag order)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _encode_block(qc, dc_enc, ac_enc, bw, dc_pred) -> int:
    """Huffman-encode one 8×8 block's PRE-QUANTIZED zig-zag coefficients
    (a plain 64-int list); returns the updated DC predictor.
    ``abs(v).bit_length()`` IS the T.81 magnitude category: category s
    holds magnitudes [2^(s-1), 2^s).

    r11 optimization round: the per-block FDCT/quantize this function used
    to run (``_C @ (blk-128) @ _C.T`` per 8×8 block) moved up into one
    batched `_plane_qcoefs` call per component — the einsum whose
    coefficient identity with the per-block form the baseline==progressive
    cross-pipeline tests already pin."""
    diff = qc[0] - dc_pred
    dc_pred = qc[0]
    s = abs(diff).bit_length()
    code, ln = dc_enc[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if qc[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = qc[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_enc[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_enc[0x00]  # EOB
        bw.write(code, ln)
    return dc_pred


_STD_ENC_TABLES: tuple | None = None


def _std_enc_tables() -> tuple:
    """Encode-side canonical code dicts for the four fixed Annex-K Huffman
    tables, built once per process — they are module constants, and
    rebuilding them per encoded image cost ~0.1 ms/image (r11 profile)."""
    global _STD_ENC_TABLES
    if _STD_ENC_TABLES is None:
        _STD_ENC_TABLES = (
            _canonical_codes(*_HUFF_DC_LUMA)[1],
            _canonical_codes(*_HUFF_AC_LUMA)[1],
            _canonical_codes(*_HUFF_DC_CHROMA)[1],
            _canonical_codes(*_HUFF_AC_CHROMA)[1],
        )
    return _STD_ENC_TABLES


def _pad_to(arr: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate pad a plane up to multiples of (mh, mw)."""
    h, w = arr.shape
    return np.pad(
        arr, ((0, (-h) % mh), (0, (-w) % mw)), mode="edge"
    )


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB (or (h, w) grayscale) → baseline JPEG bytes.
    ``restart_interval``: emit DRI + an RSTn marker every N MCUs (DC
    predictors reset) — what multi-strip camera encoders produce, and the
    fixture knob that pins the decoder's restart path in tests."""
    arr = np.asarray(arr)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    ql, qc = _quality_tables(quality)
    dcl_enc, acl_enc, dcc_enc, acc_enc = _std_enc_tables()

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
    else:
        x = arr.astype(np.float64)
        y = 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]
        cb = -0.168736 * x[..., 0] - 0.331264 * x[..., 1] + 0.5 * x[..., 2] + 128.0
        cr = 0.5 * x[..., 0] - 0.418688 * x[..., 1] - 0.081312 * x[..., 2] + 128.0
        if subsampling == "4:2:0":
            cbp = _pad_to(cb, 2, 2)
            crp = _pad_to(cr, 2, 2)
            cb = (
                cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2]
            ) / 4.0
            cr = (
                crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2]
            ) / 4.0
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "4:4:4":
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        planes = [y, cb, cr]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    nc = 1 if gray else 3

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1)
        + b"\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        ql.astype(np.uint8)
    )
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(
            qc.astype(np.uint8)
        )
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        out += bytes(
            [ci + 1, (samp[ci][0] << 4) | samp[ci][1], 0 if ci == 0 else 1]
        )
    dht = [(0x00, _HUFF_DC_LUMA), (0x10, _HUFF_AC_LUMA)]
    if not gray:
        dht += [(0x01, _HUFF_DC_CHROMA), (0x11, _HUFF_AC_CHROMA)]
    for tc_th, (bits, vals) in dht:
        out += (
            b"\xff\xc4"
            + struct.pack(">H", 2 + 1 + 16 + len(vals))
            + bytes([tc_th])
            + bytes(bits)
            + bytes(vals)
        )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    out += b"\x00\x3f\x00"  # Ss/Se/Ah-Al (baseline fixed)

    # interleaved MCU order, matching the decoder: each component plane is
    # edge-padded to cover mx·8·sh × my·8·sv samples
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mx = -(-w // mcu_w)
    my = -(-h // mcu_h)
    full = []
    for p, (sh, sv) in zip(planes, samp):
        tgt_h, tgt_w = my * 8 * sv, mx * 8 * sh
        ph, pw = p.shape
        full.append(np.pad(p, ((0, tgt_h - ph), (0, tgt_w - pw)), mode="edge"))
    # batched FDCT + quantize per component (one einsum per plane — the
    # same `_plane_qcoefs` the progressive encoder uses), materialized as
    # nested Python lists so the Huffman emit loop does no numpy scalar
    # indexing
    qcoef_lists = [
        _plane_qcoefs(full[ci], ql if ci == 0 else qc).tolist()
        for ci in range(nc)
    ]
    bw = _BitWriter()
    dc_pred = [0] * nc
    for mcu in range(mx * my):
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.flush()
            out_rst = 0xD0 + (mcu // restart_interval - 1) % 8
            bw.out += bytes([0xFF, out_rst])
            dc_pred = [0] * nc
        myi, mxi = divmod(mcu, mx)
        for ci in range(nc):
            sh, sv = samp[ci]
            de = dcl_enc if ci == 0 else dcc_enc
            ae = acl_enc if ci == 0 else acc_enc
            rows = qcoef_lists[ci]
            for by in range(sv):
                for bx in range(sh):
                    dc_pred[ci] = _encode_block(
                        rows[myi * sv + by][mxi * sh + bx],
                        de, ae, bw, dc_pred[ci],
                    )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
