"""Real pixel codecs for the multimodal decode stage — pure stdlib.

Closes the "container-limited" gap in T11 (SURVEY §2.10): the
container has no PIL/ffmpeg, but every image container this engine
recognizes decodes to raw pixels from its public specification —
PNG/GIF/BMP here with nothing beyond ``zlib`` and ``struct``, JPEG
(baseline + progressive) in the sibling ``functions/jpeg.py``:

- **PNG** (RFC 2083 / W3C spec): concatenate IDAT, zlib-inflate,
  undo the five per-scanline filters (None/Sub/Up/Average/Paeth).
  ALL legal bit depths — 1/2/4 (packed, MSB-first, gray scaled to
  full range) / 8 / 16 (high-byte downconversion); color types 0
  (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA);
  sequential AND Adam7-interlaced storage.
- **GIF** (GIF89a spec): LZW decode of the image data sub-blocks
  (variable code width 3..12 bits, LSB-first packing, clear/EOI
  codes), palette expansion to RGB, 4-pass GIF interlace, AND full
  animation compositing (gif_decode_frames: frame rects, local
  palettes, GCE transparency, disposal 0-3) for pixel-true frame
  sampling.
- **BMP** (BITMAPINFOHEADER): BI_RGB at 1/4/8-bit (palette quads),
  16-bit X1R5G5B5, 24/32-bit; BI_RLE8/BI_RLE4 compression (runs,
  absolute mode, EOL/EOB/delta escapes); bottom-up or top-down rows,
  4-byte row padding.

Encoders for the same three formats live here too: they are the
synthesis half of the round-trip tests AND of the oracle-checkable
registry DQ (multimodal_pixel_decode) — the DQ's pixel content is a
closed-form gradient so a DuckDB oracle predicts the decoded pixel
sum arithmetically, which an encoder/decoder pair that was "wrong but
self-consistent" could not satisfy.

Reference parity anchor: the reference pipeline treats media as
opaque artifacts (ingestion-pipeline.py:50 pins pypdf unused); this
module is the north-star extension making the decode slot real.
"""

from __future__ import annotations

import struct
import zlib

#: Same constant as multimodal.PNG_SIG, restated locally so multimodal
#: (which owns the Spark stages) can import this module without a cycle.
PNG_SIG = b"\x89PNG\r\n\x1a\n"

# ---------------------------------------------------------------- PNG

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: GIF's 4-pass interlace schedule: (row offset, row step) per pass.
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_filter_image(pixels: bytes, width: int, height: int, ch: int, filter_type: int) -> bytearray:
    """Apply one filter to every scanline of an image/pass, emitting
    the (filter byte + filtered data) stream png_decode consumes."""
    stride = width * ch
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw += line
        else:
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                if filter_type == 1:
                    pred = a
                elif filter_type == 2:
                    pred = b
                elif filter_type == 3:
                    pred = (a + b) // 2
                elif filter_type == 4:
                    pred = _paeth(a, b, c)
                else:
                    raise ValueError(f"bad filter {filter_type}")
                raw.append((line[i] - pred) & 0xFF)
        prev = line
    return raw


def png_encode(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 0,
    filter_type: int = 0,
    palette: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Minimal real PNG writer: IHDR + (PLTE) + one IDAT + IEND.

    ``filter_type`` applies the same filter to every scanline (0-4) —
    exposing it lets the tests exercise each unfilter path in
    png_decode against independently-constructed expectations.
    ``interlace=True`` stores the image Adam7-interlaced (7 passes,
    each filtered independently) — the synthesis half of the
    deinterlace tests."""
    ch = _PNG_CHANNELS[color_type]
    stride = width * ch
    if len(pixels) != stride * height:
        raise ValueError(f"need {stride * height} pixel bytes, got {len(pixels)}")
    if interlace:
        raw = bytearray()
        for pw, ph, x0, dx, y0, dy in _adam7_passes(width, height):
            sub = bytearray(pw * ph * ch)
            for py in range(ph):
                y = y0 + py * dy
                for px in range(pw):
                    x = x0 + px * dx
                    sub[(py * pw + px) * ch : (py * pw + px + 1) * ch] = pixels[
                        (y * width + x) * ch : (y * width + x + 1) * ch
                    ]
            raw += _png_filter_image(bytes(sub), pw, ph, ch, filter_type)
    else:
        raw = _png_filter_image(pixels, width, height, ch, filter_type)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">II", width, height) + bytes(
        [8, color_type, 0, 0, 1 if interlace else 0]
    )
    out = PNG_SIG + chunk(b"IHDR", ihdr)
    if color_type == 3:
        if not palette:
            raise ValueError("palette PNG needs a palette")
        out += chunk(b"PLTE", palette)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


#: Decoded-size ceiling (bytes of raw pixels) applied by every decoder
#: before any allocation: a hostile-but-well-formed header claiming
#: huge dims, or a deflate/LZW stream engineered to inflate far beyond
#: its payload, must bound-fail to None instead of OOMing an executor
#: — at corpus scale hostile media is data too. 2^28 = 268 MB ≈ a
#: 9450×9450 RGB image; override per call for larger legit media.
DEFAULT_MAX_PIXEL_BYTES = 1 << 28


#: Adam7 interlace schedule: (x_start, x_step, y_start, y_step) per pass.
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _png_unfilter(
    raw: bytes, off: int, w: int, h: int, bpp: int, stride: int | None = None
) -> bytearray | None:
    """Undo the five per-scanline filters over one image/pass of
    ``h`` scanlines starting at ``off`` in the decompressed stream.
    ``bpp`` is the filters' left-neighbor distance in BYTES (spec
    bpp): ch for 8-bit depth, 2*ch for 16-bit, 1 for packed sub-8-bit
    rows. ``stride`` overrides the scanline byte width (needed for
    packed sub-8 rows: ceil(w*depth/8)); default w*bpp. Returns the
    raw filtered-out bytes (stride*h) or None on a bad filter id."""
    stride = w * bpp if stride is None else stride
    out = bytearray(stride * h)
    prev = bytes(stride)
    for y in range(h):
        base = off + y * (stride + 1)
        f = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if f == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif f != 0:
            return None
        out[y * stride : (y + 1) * stride] = line
        prev = bytes(line)
    return out


def _adam7_passes(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes as (pw, ph, x0, dx, y0, dy)."""
    out = []
    for x0, dx, y0, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((pw, ph, x0, dx, y0, dy))
    return out


def png_decode(
    payload: bytes, max_pixel_bytes: int = DEFAULT_MAX_PIXEL_BYTES
) -> tuple[int, int, int, bytes] | None:
    """PNG → ``(width, height, n_channels, pixels)``; palette images
    come back expanded to RGB; Adam7-interlaced images are
    deinterlaced; 16-bit-depth samples are downconverted to 8-bit via
    their high byte (the standard reduction). None for anything
    structurally broken or larger than ``max_pixel_bytes`` decoded."""
    b = bytes(payload or b"")
    if b[:8] != PNG_SIG:
        return None
    i, w = 8, None
    idat = bytearray()
    palette = b""
    try:
        while i + 8 <= len(b):
            clen = struct.unpack(">I", b[i : i + 4])[0]
            tag = b[i + 4 : i + 8]
            body = b[i + 8 : i + 8 + clen]
            if tag == b"IHDR":
                if len(body) < 13:  # truncated header is corrupt data, not an error
                    return None
                w, h = struct.unpack(">II", body[:8])
                if w < 1 or h < 1:
                    return None  # zero width/height is invalid (spec)
                depth, color_type, comp, filt, interlace = body[8:13]
                if depth not in (1, 2, 4, 8, 16) or comp or filt or interlace > 1:
                    return None
                if depth == 16 and color_type == 3:
                    return None  # palette indices are never 16-bit (spec)
                if depth < 8 and color_type not in (0, 3):
                    return None  # sub-8 packs only gray / palette (spec)
                ch = _PNG_CHANNELS.get(color_type)
                if ch is None:
                    return None
                sw = max(depth // 8, 1)  # sample width in bytes (packed: 1)
                if (w * ch * sw + 1) * h > max_pixel_bytes:
                    return None
            elif tag == b"PLTE":
                palette = body
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            i += 12 + clen
        if w is None or not idat:
            return None
        bpp = ch * sw

        def row_bytes(width: int) -> int:
            return (width * ch * depth + 7) // 8  # packed scanline width

        if interlace:
            passes = _adam7_passes(w, h)
            need = sum((row_bytes(pw) + 1) * ph for pw, ph, *_ in passes)
        else:
            need = (row_bytes(w) + 1) * h
        # cap inflation at exactly the bytes the header promised — a
        # deflate bomb (MBs inflating to GBs) stops at the cap instead
        # of materializing; trailing legit bytes beyond the cap were
        # never read by the unfilter loop anyway
        raw = zlib.decompressobj().decompress(bytes(idat), need)
    except (struct.error, zlib.error):
        return None
    if len(raw) < need:
        return None
    stride = w * ch
    scale_gray = depth < 8 and color_type == 0

    def to_samples(data: bytearray, width: int, height: int) -> bytearray:
        """Filtered bytes → one byte per sample: 16-bit keeps the high
        byte, sub-8 unpacks MSB-first (gray scaled to full range,
        palette indices kept raw for the expansion below)."""
        if depth == 16:
            return data[0::2]
        if depth >= 8:
            return data
        rb = (width * depth + 7) // 8
        maxv = (1 << depth) - 1
        out = bytearray(width * height)
        for y in range(height):
            row = data[y * rb : (y + 1) * rb]
            for x in range(width):
                bitpos = x * depth
                v = (row[bitpos >> 3] >> (8 - depth - (bitpos & 7))) & maxv
                out[y * width + x] = (v * 255) // maxv if scale_gray else v
        return out

    if interlace:
        out = bytearray(stride * h)
        off = 0
        for pw, ph, x0, dx, y0, dy in passes:
            sub = _png_unfilter(
                raw, off, pw, ph, max(bpp, 1) if depth >= 8 else 1,
                stride=row_bytes(pw),
            )
            if sub is None:
                return None
            off += (row_bytes(pw) + 1) * ph
            sub = to_samples(sub, pw, ph)
            for py in range(ph):  # scatter the pass into the full grid
                y = y0 + py * dy
                row = sub[py * pw * ch : (py + 1) * pw * ch]
                for px in range(pw):
                    x = x0 + px * dx
                    out[(y * w + x) * ch : (y * w + x + 1) * ch] = row[
                        px * ch : (px + 1) * ch
                    ]
    else:
        out = _png_unfilter(
            raw, 0, w, h, max(bpp, 1) if depth >= 8 else 1, stride=row_bytes(w)
        )
        if out is None:
            return None
        out = to_samples(out, w, h)
    if color_type == 3:
        if len(palette) < 3:
            return None
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(out):
            p = palette[idx * 3 : idx * 3 + 3]
            # out-of-range index → black; a partial (1-2 byte) slice must
            # NOT be assigned as-is — bytearray slice assignment RESIZES on
            # length mismatch, silently corrupting the w*h*3 contract
            rgb[i * 3 : i * 3 + 3] = p if len(p) == 3 else b"\x00\x00\x00"
        return (w, h, 3, bytes(rgb))
    return (w, h, ch, bytes(out))


# ---------------------------------------------------------------- BMP


def bmp_encode(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed bottom-up BMP from top-down RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("need width*height*3 RGB bytes")
    pad = (-(width * 3)) % 4
    rows = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        for x in range(width):
            r, g, bl = rgb[(y * width + x) * 3 : (y * width + x) * 3 + 3]
            rows += bytes([bl, g, r])  # BGR on disk
        rows += b"\x00" * pad
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 14 + 40)
    return header + info + bytes(rows)


def _bmp_rle_indices(data: bytes, w: int, h: int, four_bit: bool) -> bytearray | None:
    """RLE8/RLE4 (BI_RLE8/BI_RLE4) → index grid in BOTTOM-UP row order
    (y=0 is the bottom row, as stored). Escapes: 0,0 end-of-line;
    0,1 end-of-bitmap; 0,2 delta (dx,dy) — skipped pixels stay index
    0, the documented convention; 0,n>=3 absolute mode (word-aligned).
    Output is bounded by w*h regardless of run counts — runs clip at
    the row edge, so RLE cannot amplify past the allocation."""
    grid = bytearray(w * h)
    x = y = i = 0
    while i + 1 < len(data) and y < h:
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run — slice writes keep cost O(run) memcpy
            end = min(x + n, w)
            cnt = max(end - min(x, w), 0)
            if cnt:
                if four_bit:
                    pattern = bytes([v >> 4, v & 0x0F]) * (cnt // 2 + 1)
                    grid[y * w + x : y * w + end] = pattern[:cnt]
                else:
                    grid[y * w + x : y * w + end] = bytes([v]) * cnt
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta
            if i + 2 > len(data):
                return None
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute mode: v literal pixels, word-aligned
            nbytes = (v + 1) // 2 if four_bit else v
            chunk = data[i : i + nbytes]
            if len(chunk) < nbytes:
                return None
            i += (nbytes + 1) & ~1
            for k in range(v):
                if x < w and y < h:
                    if four_bit:
                        byte = chunk[k // 2]
                        grid[y * w + x] = (byte >> 4) if k % 2 == 0 else byte & 0x0F
                    else:
                        grid[y * w + x] = chunk[k]
                x += 1
    return grid


def bmp_decode(
    payload: bytes, max_pixel_bytes: int = DEFAULT_MAX_PIXEL_BYTES
) -> tuple[int, int, int, bytes] | None:
    """BMP → ``(width, height, 3, top-down RGB bytes)``. BI_RGB at
    1/4/8-bit (palette), 16-bit (X1R5G5B5), 24/32-bit, plus BI_RLE8
    and BI_RLE4 compression; negative height (top-down storage)
    handled for the uncompressed forms (RLE is always bottom-up per
    spec). Out of envelope (BI_BITFIELDS, core headers) → None.
    Uncompressed BMP stores pixels raw (the payload-length check
    bounds output); RLE output is bounded by the w*h allocation
    because runs clip at the row edge."""
    b = bytes(payload or b"")
    if b[:2] != b"BM" or len(b) < 54:
        return None
    data_off = struct.unpack("<I", b[10:14])[0]
    hdr_size = struct.unpack("<I", b[14:18])[0]
    if hdr_size < 40:
        return None  # BITMAPCOREHEADER era
    w, h_signed = struct.unpack("<ii", b[18:26])
    bpp, compression = struct.unpack("<HI", b[28:34])
    clr_used = struct.unpack("<I", b[46:50])[0]
    if w <= 0 or h_signed == 0:
        return None
    h = abs(h_signed)
    if w * h * 3 > max_pixel_bytes:
        return None
    palette = b""
    if bpp in (1, 4, 8):
        ncol = clr_used or (1 << bpp)
        if ncol > 1 << bpp:
            return None
        pal_off = 14 + hdr_size
        palette = b[pal_off : pal_off + 4 * ncol]  # BGRA quads
        if len(palette) < 4 * ncol:
            return None

    import numpy as np  # vectorized conversion: decode cost must stay
    # O(payload + numpy-speed * w*h) — a per-pixel Python loop here let
    # a hostile RLE header (huge dims, tiny stream) grind for minutes

    def pal_lookup(idx: np.ndarray) -> np.ndarray:
        """(h, w) palette indices -> (h, w, 3) RGB; out-of-table -> black."""
        table = np.zeros((1 << bpp, 3), dtype=np.uint8)
        quads = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 4)
        table[: quads.shape[0]] = quads[:, 2::-1]  # BGR(A) -> RGB
        return table[idx]

    if compression in (1, 2):  # BI_RLE8 / BI_RLE4
        if (compression == 1) != (bpp == 8) or (compression == 2) != (bpp == 4):
            return None
        if h_signed < 0:
            return None  # RLE is bottom-up only (spec)
        # amplification bound: a stream of L bytes can SET at most
        # ~128*L pixels (255 per 2-byte run); beyond that everything is
        # zero-fill. 1024*L admits any real image with generous
        # background slack while rejecting hostile headers that claim
        # 10^8 pixels off a 20-byte stream (cap-sized numpy work per
        # corrupt file — measured 1-3 s each before this guard).
        if w * h > 1024 * max(len(b) - data_off, 1):
            return None
        grid = _bmp_rle_indices(b[data_off:], w, h, compression == 2)
        if grid is None:
            return None
        idx = np.frombuffer(bytes(grid), dtype=np.uint8).reshape(h, w)
        return (w, h, 3, np.ascontiguousarray(pal_lookup(idx)[::-1]).tobytes())
    if compression != 0 or bpp not in (1, 4, 8, 16, 24, 32):
        return None
    row_bytes = ((w * bpp + 31) // 32) * 4
    if len(b) < data_off + row_bytes * h:
        return None
    rows = np.frombuffer(
        b, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)
    if h_signed > 0:
        rows = rows[::-1]  # bottom-up storage -> top-down output
    if bpp >= 24:
        nch = bpp // 8
        px = rows[:, : w * nch].reshape(h, w, nch)[:, :, 2::-1]  # BGR(A)->RGB
        return (w, h, 3, np.ascontiguousarray(px).tobytes())
    if bpp == 16:  # X1R5G5B5 little-endian, 5-bit channels scaled up
        pairs = rows[:, : w * 2].reshape(h, w, 2).astype(np.uint16)
        v = pairs[:, :, 0] | (pairs[:, :, 1] << 8)
        px = np.stack(
            [((v >> s) & 31).astype(np.uint32) * 255 // 31 for s in (10, 5, 0)],
            axis=-1,
        ).astype(np.uint8)
        return (w, h, 3, px.tobytes())
    if bpp == 8:
        idx = rows[:, :w]
    else:  # 1/4-bit packed, MSB-first within each byte
        bits = np.unpackbits(rows, axis=1)[:, : w * bpp].reshape(h, w, bpp)
        idx = np.zeros((h, w), dtype=np.uint8)
        for k in range(bpp):
            idx = (idx << 1) | bits[:, :, k]
    return (w, h, 3, pal_lookup(idx).tobytes())


# ---------------------------------------------------------------- GIF


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable width starting at min_code_size+1,
    LSB-first bit packing, clear emitted at start and on table-full
    (4096), EOI at end. Width grows when the NEXT table slot would
    need it — the +1 offset vs the decoder's schedule is because the
    decoder adds its first entry one code later than the encoder."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    nxt, width = eoi + 1, min_code_size + 1
    emit(clear, width)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        if nxt == 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            nxt, width = eoi + 1, min_code_size + 1
        else:
            table[wc] = nxt
            nxt += 1
            if nxt == (1 << width) + 1 and width < 12:
                width += 1
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(
    data: bytes, min_code_size: int, max_out: int | None = None
) -> bytes | None:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = pos = 0
    prev: bytes | None = None
    while True:
        if max_out is not None and len(out) >= max_out:
            return bytes(out)  # caller knows how many pixels it needs;
            # an LZW bomb stops here instead of inflating unboundedly
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # tolerate missing explicit EOI
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            return None  # corrupt stream
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def gif_encode(
    width: int,
    height: int,
    indices: bytes,
    palette: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Single-frame GIF89a with a real LZW-compressed image: 256-entry
    global palette (default: grayscale identity, so index == gray
    level), optional interlaced row storage."""
    if len(indices) != width * height:
        raise ValueError("need width*height index bytes")
    palette = palette or bytes(v for i in range(256) for v in (i, i, i))
    if len(palette) != 768:
        raise ValueError("palette must be 256*3 bytes")
    if interlace:
        stored = bytearray()
        for off, step in _GIF_PASSES:
            for y in range(off, height, step):
                stored += indices[y * width : (y + 1) * width]
        indices = bytes(stored)
    lzw = _lzw_encode(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        part = lzw[i : i + 255]
        blocks += bytes([len(part)]) + part
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0xF7, 0, 0])  # global table, 8-bit, 256 entries
        + palette
        + b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        + bytes([0x40 if interlace else 0])
        + bytes([8])  # LZW minimum code size
        + bytes(blocks)
        + b"\x00\x3b"
    )


def gif_decode(
    payload: bytes, max_pixel_bytes: int = DEFAULT_MAX_PIXEL_BYTES
) -> tuple[int, int, int, bytes] | None:
    """First frame of a GIF → ``(width, height, 3, RGB bytes)``: LZW
    decode + palette expansion + deinterlace. Frames after the first
    are reachable via multimodal.gif_frame_spans; the decode kernel
    is per-frame either way."""
    b = bytes(payload or b"")
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    flags = b[10]
    i = 13
    global_pal = b""
    if flags & 0x80:
        n = 3 * (2 << (flags & 0x07))
        global_pal = b[i : i + n]
        i += n
    while i < len(b):
        block = b[i]
        if block == 0x3B:
            return None  # trailer before any image
        if block == 0x21:
            i += 2
            while i < len(b) and b[i] != 0:
                i += 1 + b[i]
            i += 1
            continue
        if block != 0x2C:
            return None
        if i + 10 > len(b):
            return None
        fw, fh = struct.unpack("<HH", b[i + 5 : i + 9])
        if fw < 1 or fh < 1 or fw * fh * 3 > max_pixel_bytes:
            return None
        lflags = b[i + 9]
        i += 10
        pal = global_pal
        if lflags & 0x80:
            n = 3 * (2 << (lflags & 0x07))
            pal = b[i : i + n]
            i += n
        if i >= len(b) or not pal:
            return None
        mcs = b[i]
        # root codes are single palette indices, so mcs caps at 8 (256
        # roots); a corrupt larger value would build bytes([256]) and
        # crash the table init. Code WIDTH still grows to 12 later.
        if not 2 <= mcs <= 8:
            return None
        i += 1
        lzw = bytearray()
        while i < len(b) and b[i] != 0:
            lzw += b[i + 1 : i + 1 + b[i]]
            i += 1 + b[i]
        indices = _lzw_decode(bytes(lzw), mcs, max_out=fw * fh)
        if indices is None or len(indices) < fw * fh:
            return None
        indices = indices[: fw * fh]
        if lflags & 0x40:  # interlaced: invert the 4-pass row order
            restored = bytearray(fw * fh)
            src = 0
            for off, step in _GIF_PASSES:
                for y in range(off, fh, step):
                    restored[y * fw : (y + 1) * fw] = indices[src : src + fw]
                    src += fw
            indices = bytes(restored)
        rgb = bytearray(fw * fh * 3)
        for j, idx in enumerate(indices):
            p = pal[idx * 3 : idx * 3 + 3]
            rgb[j * 3 : j * 3 + 3] = p if len(p) == 3 else b"\x00\x00\x00"
        return (fw, fh, 3, bytes(rgb))
    return None


# ------------------------------------------------------------ dispatch


def decode_pixel_payload(
    payload: bytes | None,
    max_pixel_bytes: int = DEFAULT_MAX_PIXEL_BYTES,
    max_decode_bytes: int | None = None,
) -> tuple[str, int, int, int, bytes] | None:
    """Container-sniffing pixel decode: ``(format, w, h, n_channels,
    pixels)`` for PNG/GIF/BMP/JPEG (baseline JPEG via
    functions/jpeg.py — r08, closing T11's final gap); None for
    unknown containers, anything outside each codec's envelope
    (arithmetic-coded JPEG, malformed streams, …), or images larger than
    ``max_pixel_bytes`` decoded (OOM guard — includes deflate/LZW
    bombs, which bound-fail instead of inflating).

    ``max_decode_bytes`` bounds the JPEG decode WORKING SET (int64
    coefficients + float64 IDCT planes, ~24 B/padded sample — see
    jpeg.jpeg_decode); default 4x ``max_pixel_bytes``, so a caller
    tightening the output cap to bound per-task memory tightens the
    intermediates proportionally instead of being pinned to the
    1 GB module default (r09 self-review)."""
    if payload is None:
        return None
    b = bytes(payload)
    if b[:8] == PNG_SIG:
        r = png_decode(b, max_pixel_bytes)
        return ("png",) + r if r else None
    if b[:6] in (b"GIF87a", b"GIF89a"):
        r = gif_decode(b, max_pixel_bytes)
        return ("gif",) + r if r else None
    if b[:2] == b"BM":
        r = bmp_decode(b, max_pixel_bytes)
        return ("bmp",) + r if r else None
    if b[:2] == b"\xff\xd8":
        from .jpeg import jpeg_decode  # numpy-backed, imported lazily

        r = jpeg_decode(
            b,
            max_pixel_bytes,
            4 * max_pixel_bytes if max_decode_bytes is None else max_decode_bytes,
        )
        return ("jpeg",) + r if r else None
    return None


def gif_encode_frames(
    width: int,
    height: int,
    frames: list[dict],
    palette: bytes | None = None,
    bg_index: int = 0,
) -> bytes:
    """Multi-frame GIF89a writer — the synthesis half of the animation
    compositing tests. Each frame dict: ``indices`` (fw*fh palette
    bytes), optional ``left``/``top`` (default 0), ``fw``/``fh``
    (default full canvas), ``disposal`` (0-3), ``transparent``
    (palette index or None), ``interlace`` (bool). A Graphic Control
    Extension is written before every frame carrying disposal +
    transparency, exactly the real-world layout."""
    palette = palette or bytes(v for i in range(256) for v in (i, i, i))
    if len(palette) != 768:
        raise ValueError("palette must be 256*3 bytes")
    out = bytearray(
        b"GIF89a" + struct.pack("<HH", width, height)
        + bytes([0xF7, bg_index, 0]) + palette
    )
    for f in frames:
        fw, fh = f.get("fw", width), f.get("fh", height)
        left, top = f.get("left", 0), f.get("top", 0)
        indices = f["indices"]
        if len(indices) != fw * fh:
            raise ValueError("frame needs fw*fh index bytes")
        disposal = f.get("disposal", 0)
        transparent = f.get("transparent")
        gce_flags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, gce_flags, 0, 0, transparent or 0, 0])
        if f.get("interlace"):
            stored = bytearray()
            for off, step in _GIF_PASSES:
                for y in range(off, fh, step):
                    stored += indices[y * fw : (y + 1) * fw]
            indices = bytes(stored)
        lzw = _lzw_encode(indices, 8)
        out += b"\x2c" + struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([0x40 if f.get("interlace") else 0, 8])
        for i in range(0, len(lzw), 255):
            part = lzw[i : i + 255]
            out += bytes([len(part)]) + part
        out += b"\x00"
    return bytes(out) + b"\x3b"


def gif_decode_frames(
    payload: bytes,
    max_frames: int | None = None,
    max_pixel_bytes: int = DEFAULT_MAX_PIXEL_BYTES,
) -> list[tuple[int, int, int, bytes]] | None:
    """ALL frames of a GIF, composited onto the logical-screen canvas
    per GIF89a semantics — what frame sampling actually needs (a raw
    frame rect is meaningless without the canvas it patches):

    - each frame's rect (left/top/fw/fh, clipped to the canvas) draws
      with its local-else-global palette;
    - GCE transparency leaves underlying canvas pixels visible;
    - disposal: 0/1 leave, 2 restore the rect to the background
      color, 3 restore the pre-frame canvas;
    - interlaced frames deinterlaced; canvas starts as the background
      color.

    Returns a list of (width, height, 3, rgb) full-canvas snapshots —
    one per frame, every frame the same dims — or None for non-GIF/
    corrupt input. Output is bounded: decoding STOPS (truncating the
    list) once cumulative frame bytes would exceed ``max_pixel_bytes``
    — the per-call OOM budget, since n_frames multiplies the canvas."""
    import numpy as np

    b = bytes(payload or b"")
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    w, h = struct.unpack("<HH", b[6:10])
    flags, bg_index = b[10], b[11]
    if w < 1 or h < 1 or w * h * 3 > max_pixel_bytes:
        return None
    i = 13
    global_pal = b""
    if flags & 0x80:
        n = 3 * (2 << (flags & 0x07))
        global_pal = b[i : i + n]
        i += n

    def pal_table(pal: bytes) -> np.ndarray:
        t = np.zeros((256, 3), dtype=np.uint8)  # short table -> black tail
        arr = np.frombuffer(pal, dtype=np.uint8)
        arr = arr[: (len(arr) // 3) * 3].reshape(-1, 3)[:256]
        t[: arr.shape[0]] = arr
        return t

    bg_rgb = pal_table(global_pal)[bg_index] if global_pal else np.zeros(3, np.uint8)
    canvas = np.tile(bg_rgb, (h, w, 1))
    frames: list[tuple[int, int, int, bytes]] = []
    disposal, transparent = 0, None
    while i < len(b):
        block = b[i]
        if block == 0x3B:
            break
        if block == 0x21:  # extension
            if i + 2 <= len(b) and b[i + 1] == 0xF9 and i + 4 + 4 <= len(b):
                gf = b[i + 3]
                disposal = (gf >> 2) & 7
                transparent = b[i + 6] if gf & 1 else None
            i += 2
            while i < len(b) and b[i] != 0:
                i += 1 + b[i]
            i += 1
            continue
        if block != 0x2C or i + 10 > len(b):
            return None
        left, top, fw, fh = struct.unpack("<HHHH", b[i + 1 : i + 9])
        if fw * fh * 3 > max_pixel_bytes:
            return None
        lflags = b[i + 9]
        i += 10
        pal = global_pal
        if lflags & 0x80:
            n = 3 * (2 << (lflags & 0x07))
            pal = b[i : i + n]
            i += n
        if i >= len(b) or not pal:
            return None
        mcs = b[i]
        if not 2 <= mcs <= 8:
            return None
        i += 1
        lzw = bytearray()
        while i < len(b) and b[i] != 0:
            lzw += b[i + 1 : i + 1 + b[i]]
            i += 1 + b[i]
        i += 1
        indices = _lzw_decode(bytes(lzw), mcs, max_out=fw * fh)
        if indices is None or len(indices) < fw * fh:
            return None
        indices = indices[: fw * fh]
        if lflags & 0x40:  # interlaced frame rows
            restored = bytearray(fw * fh)
            src = 0
            for off, step in _GIF_PASSES:
                for y in range(off, fh, step):
                    restored[y * fw : (y + 1) * fw] = indices[src : src + fw]
                    src += fw
            indices = bytes(restored)
        if (len(frames) + 1) * w * h * 3 > max_pixel_bytes:
            break  # frame-count OOM budget: truncate, don't amplify
        idx = np.frombuffer(indices, dtype=np.uint8).reshape(fh, fw)
        # clip the frame rect to the canvas
        cw, ch_ = min(fw, w - left), min(fh, h - top)
        if cw > 0 and ch_ > 0:
            prev = canvas.copy() if disposal == 3 else None
            patch = pal_table(pal)[idx[:ch_, :cw]]
            region = canvas[top : top + ch_, left : left + cw]
            if transparent is not None:
                mask = (idx[:ch_, :cw] == transparent)[:, :, None]
                patch = np.where(mask, region, patch)
            canvas[top : top + ch_, left : left + cw] = patch
            frames.append((w, h, 3, canvas.tobytes()))
            if disposal == 2:
                canvas[top : top + ch_, left : left + cw] = bg_rgb
            elif disposal == 3:
                canvas = prev
        else:
            frames.append((w, h, 3, canvas.tobytes()))
        disposal, transparent = 0, None
        if max_frames is not None and len(frames) >= max_frames:
            break
    return frames
