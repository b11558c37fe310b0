"""Pixel codecs (functions/pixels.py) + the decode/resize stages.

Round-trips alone can't catch an encoder/decoder pair that is wrong
but self-consistent, so alongside the round-trip matrix there are
hand-packed byte streams with independently-derived expected pixels
(PNG filter vectors built from raw scanlines + zlib, GIF LZW code
sequences packed bit-by-bit from the spec's rules, including the
KwKwK corner) — and the registry DQ's closed-form pixel-sum oracle
covers the same independence at driver scale.
"""

from __future__ import annotations

import random
import struct
import zlib

import pytest

from data_ingestion_spark.functions.pixels import (
    PNG_SIG,
    _lzw_decode,
    bmp_decode,
    bmp_encode,
    decode_pixel_payload,
    gif_decode,
    gif_encode,
    png_decode,
    png_encode,
)

# ------------------------------------------------------ round-trips


@pytest.mark.parametrize("color_type,ch", [(0, 1), (2, 3), (4, 2), (6, 4)])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_types_and_filters(color_type, ch, filter_type):
    rng = random.Random(color_type * 10 + filter_type)
    for w, h in [(1, 1), (3, 2), (13, 11), (32, 17)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        enc = png_encode(w, h, px, color_type=color_type, filter_type=filter_type)
        assert png_decode(enc) == (w, h, ch, px)


@pytest.mark.parametrize("color_type,ch", [(0, 1), (2, 3), (6, 4)])
@pytest.mark.parametrize("filter_type", [0, 4])
def test_png_adam7_interlace_roundtrip(color_type, ch, filter_type):
    """Adam7: 7 passes, each filtered independently, scattered back —
    incl. dims where several passes are empty (1x1, 3x3)."""
    rng = random.Random(color_type + filter_type)
    for w, h in [(1, 1), (3, 3), (8, 8), (13, 11), (9, 5)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        enc = png_encode(
            w, h, px, color_type=color_type, filter_type=filter_type, interlace=True
        )
        assert png_decode(enc) == (w, h, ch, px), (w, h)


def test_png_interlace_vs_sequential_same_pixels():
    # the same image stored both ways must decode identically
    px = bytes((i * 7) % 256 for i in range(16 * 16))
    seq = png_decode(png_encode(16, 16, px))
    lace = png_decode(png_encode(16, 16, px, interlace=True))
    assert seq == lace


def test_png_palette_expands_to_rgb():
    pal = bytes(v for i in range(256) for v in ((i * 3) % 256, i, 255 - i))
    idx = bytes(random.Random(1).randrange(256) for _ in range(9 * 7))
    enc = png_encode(9, 7, idx, color_type=3, filter_type=2, palette=pal)
    exp = b"".join(pal[i * 3 : i * 3 + 3] for i in idx)
    assert png_decode(enc) == (9, 7, 3, exp)


def test_bmp_roundtrip():
    rng = random.Random(2)
    for w, h in [(1, 1), (3, 2), (13, 11), (31, 5)]:  # 31 exercises row padding
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        assert bmp_decode(bmp_encode(w, h, px)) == (w, h, 3, px)


@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip_gray(interlace):
    rng = random.Random(3)
    for w, h in [(1, 1), (5, 3), (13, 11), (64, 64)]:
        px = bytes(rng.randrange(256) for _ in range(w * h))
        exp = b"".join(bytes([v, v, v]) for v in px)
        assert gif_decode(gif_encode(w, h, px, interlace=interlace)) == (w, h, 3, exp)


def test_gif_lzw_table_reset_on_repetitive_data():
    """300x300 of slowly-varying values forces code-width growth to 12
    bits and at least one 4096-entry table reset mid-stream."""
    px = bytes((i // 97) % 7 for i in range(300 * 300))
    got = gif_decode(gif_encode(300, 300, px))
    assert got[:3] == (300, 300, 3)
    assert got[3] == b"".join(bytes([v, v, v]) for v in px)


def test_gif_custom_palette():
    pal = bytes(v for i in range(256) for v in (i, (i * 7) % 256, (i * 13) % 256))
    px = bytes(random.Random(4).randrange(256) for _ in range(17 * 9))
    exp = b"".join(pal[v * 3 : v * 3 + 3] for v in px)
    assert gif_decode(gif_encode(17, 9, px, palette=pal)) == (17, 9, 3, exp)


# ---------------------------------------- independent (non-roundtrip)


def _png_manual(w, h, scanlines: bytes, color_type=0) -> bytes:
    """Build a PNG directly from raw (filter byte + filtered data)
    scanlines — bypasses png_encode entirely."""

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    ihdr = struct.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
    return (
        PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines)) + chunk(b"IEND", b"")
    )


def test_png_sub_filter_hand_vector():
    # 3x1 gray, filter 1 (Sub): stored deltas 10, 5, 250 → 10, 15, (15+250)%256=9
    assert png_decode(_png_manual(3, 1, bytes([1, 10, 5, 250]))) == (
        3, 1, 1, bytes([10, 15, 9])
    )


def test_png_up_and_average_hand_vector():
    # row0 (None): 10 20 | row1 (Up): +5 +7 → 15 27
    assert png_decode(_png_manual(2, 2, bytes([0, 10, 20, 2, 5, 7]))) == (
        2, 2, 1, bytes([10, 20, 15, 27])
    )
    # row0 (None): 10 20 | row1 (Average): stored 4, 6
    #   x0: pred=(0+10)//2=5  → 9 ;  x1: pred=(9+20)//2=14 → 20
    assert png_decode(_png_manual(2, 2, bytes([0, 10, 20, 3, 4, 6]))) == (
        2, 2, 1, bytes([10, 20, 9, 20])
    )


def test_png_paeth_hand_vector():
    # row0 (None): 100 200 | row1 (Paeth): stored 1, 2
    #   x0: a=0 b=100 c=0 → p=100, pa=100 pb=0 → pred=b=100 → 101
    #   x1: a=101 b=200 c=100 → p=201, pa=100 pb=1 pc=101 → pred=b=200 → 202
    assert png_decode(_png_manual(2, 2, bytes([0, 100, 200, 4, 1, 2]))) == (
        2, 2, 1, bytes([100, 200, 101, 202])
    )


def _pack_lsb(codes, width):
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_lzw_hand_packed_stream():
    # mcs=2: clear=4, eoi=5; codes [clear, 1, 2, 2, eoi] at width 3
    data = _pack_lsb([4, 1, 2, 2, 5], 3)
    assert _lzw_decode(data, 2) == bytes([1, 2, 2])


def test_lzw_kwkwk_case():
    # [clear, 1, 6] — code 6 is the next unassigned entry: prev+prev[0]
    data = _pack_lsb([4, 1, 6, 5], 3)
    assert _lzw_decode(data, 2) == bytes([1, 1, 1])


def test_lzw_corrupt_code_rejected():
    # code far beyond the table with no KwKwK justification
    assert _lzw_decode(_pack_lsb([4, 1, 7, 5], 3), 2) is None


# ----------------------------------------------------- negative paths


def test_unsupported_envelopes_return_none():
    assert png_decode(png_encode(4, 4, bytes(16))[:20]) is None  # truncated
    assert decode_pixel_payload(b"\xff\xd8\xff\xe0jpeg") is None  # header-only
    assert decode_pixel_payload(b"garbage") is None
    assert decode_pixel_payload(None) is None
    # depth 3 is not a legal PNG depth → None, not garbage
    ihdr = struct.pack(">II", 2, 2) + bytes([3, 0, 0, 0, 0])
    b3 = PNG_SIG + struct.pack(">I", 13) + b"IHDR" + ihdr + struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr)
    ) + struct.pack(">I", 2) + b"IDAT" + zlib.compress(bytes(4))[:2] + bytes(4)
    assert png_decode(b3) is None


def _png16_manual(w, h, scanlines: bytes, color_type=0, interlace=0) -> bytes:
    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    ihdr = struct.pack(">II", w, h) + bytes([16, color_type, 0, 0, interlace])
    return (
        PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines)) + chunk(b"IEND", b"")
    )


def test_png_16bit_downconverts_high_byte():
    # 2x2 gray, 16-bit BE samples, filter 0: high bytes survive
    rows = bytes([0, 0x12, 0xFF, 0x34, 0x00]) + bytes([0, 0x56, 0x01, 0x78, 0x80])
    assert png_decode(_png16_manual(2, 2, rows)) == (
        2, 2, 1, bytes([0x12, 0x34, 0x56, 0x78])
    )


def test_png_16bit_sub_filter_uses_2byte_distance():
    # filter 1 at depth 16 predicts from the byte TWO back (one sample):
    # stored [0x12 0x34, 0x01 0x02] -> second sample (0x13, 0x36)
    rows = bytes([1, 0x12, 0x34, 0x01, 0x02])
    assert png_decode(_png16_manual(2, 1, rows)) == (2, 1, 1, bytes([0x12, 0x13]))


def test_png_16bit_rgb_and_interlaced():
    import random as _r

    from data_ingestion_spark.functions.pixels import _adam7_passes

    rng = _r.Random(9)
    # sequential RGB16: 3x2, filter 0
    samples = [rng.randrange(65536) for _ in range(3 * 2 * 3)]
    rows = bytearray()
    for y in range(2):
        rows.append(0)
        for s in samples[y * 9 : (y + 1) * 9]:
            rows += struct.pack(">H", s)
    exp = bytes(s >> 8 for s in samples)
    assert png_decode(_png16_manual(3, 2, bytes(rows), color_type=2)) == (3, 2, 3, exp)
    # interlaced gray16 4x4: build the Adam7 stream pass by pass
    vals = [[rng.randrange(65536) for _ in range(4)] for _ in range(4)]
    stream = bytearray()
    for pw, ph, x0, dx, y0, dy in _adam7_passes(4, 4):
        for py in range(ph):
            stream.append(0)
            for px in range(pw):
                stream += struct.pack(">H", vals[y0 + py * dy][x0 + px * dx])
    got = png_decode(_png16_manual(4, 4, bytes(stream), interlace=1))
    exp = bytes(vals[y][x] >> 8 for y in range(4) for x in range(4))
    assert got == (4, 4, 1, exp)
    # 16-bit palette is spec-invalid -> None
    ihdr_pal = _png16_manual(2, 2, bytes(10), color_type=3)
    assert png_decode(ihdr_pal) is None


def test_bmp_top_down_negative_height():
    px = bytes(range(2 * 2 * 3))
    enc = bytearray(bmp_encode(2, 2, px))
    # flip to top-down storage: negate height, reverse stored row order
    enc[22:26] = struct.pack("<i", -2)
    off = struct.unpack("<I", bytes(enc[10:14]))[0]
    row = (2 * 3 + 3) & ~3
    enc[off : off + row], enc[off + row : off + 2 * row] = (
        bytes(enc[off + row : off + 2 * row]), bytes(enc[off : off + row]),
    )
    assert bmp_decode(bytes(enc)) == (2, 2, 3, px)


def test_truncated_ihdr_body_is_data_not_crash():
    # 10-byte IHDR body: w/h unpack fine, the 5-field tail is missing —
    # must be None, not an uncaught ValueError killing the Spark stage
    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    bad = PNG_SIG + chunk(b"IHDR", struct.pack(">II", 2, 2) + bytes([8, 0]))
    assert png_decode(bad) is None


def test_zero_dimension_png_and_gif_return_none():
    # a flipped size byte giving width or height 0 used to decode to an
    # empty pixel buffer with a 0 dim, breaking the w >= 1, h >= 1 contract
    png = png_encode(5, 4, bytes(range(20)))
    for off in (16 + 3, 20 + 3):  # low byte of IHDR width / height
        b = bytearray(png)
        b[off - 3 : off + 1] = bytes(4)
        assert png_decode(bytes(b)) is None
        assert decode_pixel_payload(bytes(b)) is None
    gif = gif_encode(5, 4, bytes(20))
    desc = 6 + 7 + 768  # header + LSD + global palette
    for off in (desc + 5, desc + 7):  # frame width / height
        g = bytearray(gif)
        g[off : off + 2] = bytes(2)
        assert gif_decode(bytes(g)) is None
        assert decode_pixel_payload(bytes(g)) is None


def test_short_palette_keeps_pixel_length_contract():
    # PLTE of 4 bytes with index 1 used: the partial 1-byte slice must
    # NOT be slice-assigned (bytearray resizes on mismatch, silently
    # returning pixels shorter than w*h*3 and crashing resize later)
    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    ihdr = struct.pack(">II", 1, 1) + bytes([8, 3, 0, 0, 0])
    enc = (
        PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", bytes(4))
        + chunk(b"IDAT", zlib.compress(bytes([0, 1]))) + chunk(b"IEND", b"")
    )
    got = png_decode(enc)
    assert got is not None and len(got[3]) == 1 * 1 * 3


def test_gif_corrupt_min_code_size_is_data_not_crash():
    # mcs byte flipped to 9: the 2^mcs table build would hit
    # bytes([256]) → ValueError without the 2..11 envelope guard
    g = bytearray(gif_encode(2, 2, bytes(4)))
    mcs_off = 6 + 7 + 768 + 10  # header + LSD + palette + descriptor
    assert g[mcs_off] == 8
    for bad_mcs in (0, 1, 9, 12, 255):
        g[mcs_off] = bad_mcs
        assert gif_decode(bytes(g)) is None


# --------------------------------------------------- bombs / OOM guard


def test_png_deflate_bomb_bound_fails():
    """A well-formed 30000x30000 gray PNG whose IDAT is ~2.6 MB of
    deflated zeros would inflate to ~900 MB: the header cap must
    return None without materializing the raw stream."""

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    w = h = 30_000
    ihdr = struct.pack(">II", w, h) + bytes([8, 0, 0, 0, 0])
    # compress the full (filter byte + zeros) stream cheaply via a
    # compressobj fed in chunks — ~900 MB raw never exists at once
    co = zlib.compressobj(9)
    idat = bytearray()
    line = bytes(w + 1)
    for _ in range(64):  # enough rows that an uncapped decode would blow past the cap
        idat += co.compress(line * 64)
    idat += co.flush()
    bomb = PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bytes(idat)) + chunk(b"IEND", b"")
    assert png_decode(bomb) is None  # (w+1)*h > DEFAULT_MAX_PIXEL_BYTES
    # and an explicit tiny cap rejects an otherwise-fine image
    small = png_encode(64, 64, bytes(64 * 64))
    assert png_decode(small, max_pixel_bytes=100) is None
    assert decode_pixel_payload(small) is not None


def test_gif_and_bmp_dim_caps():
    g = bytearray(gif_encode(2, 2, bytes(4)))
    g[6:10] = struct.pack("<HH", 60_000, 60_000)  # LSD dims
    g[6 + 7 + 768 + 5 : 6 + 7 + 768 + 9] = struct.pack("<HH", 60_000, 60_000)
    assert gif_decode(bytes(g)) is None  # 10.8 GB claim → bound-fail
    b = bmp_encode(2, 2, bytes(12))
    assert bmp_decode(b, max_pixel_bytes=8) is None
    assert bmp_decode(b) is not None


def test_gif_lzw_output_capped_at_frame_size():
    # descriptor dims patched smaller than the encoded image: decoder
    # must stop at fw*fh (the cap), not expand the full stream
    g = bytearray(gif_encode(8, 8, bytes(range(64))))
    g[6 + 7 + 768 + 5 : 6 + 7 + 768 + 9] = struct.pack("<HH", 2, 2)
    got = gif_decode(bytes(g))
    assert got is not None and got[:3] == (2, 2, 3)
    assert len(got[3]) == 2 * 2 * 3


# ------------------------------------------------------- seeded fuzz


def test_fuzz_decoders_never_raise():
    """Byte-flips, truncations, and magic-prefixed garbage over every
    encoder/format: decode must return None or a contract-true tuple
    (len(pixels) == w*h*ch), never raise — an uncaught decode
    exception at corpus scale kills the whole Spark stage. A 33k-case
    run of this generator found the three crash vectors pinned above;
    this seeded slice keeps them found."""
    from data_ingestion_spark.functions.jpeg import jpeg_encode

    rng = random.Random(1234)
    base = [
        png_encode(5, 4, bytes(range(20))),
        png_encode(3, 3, bytes(range(27)), color_type=2, filter_type=4),
        png_encode(4, 2, bytes(8), color_type=3, palette=bytes(768)),
        gif_encode(5, 4, bytes(range(20))),
        gif_encode(4, 4, bytes(16), interlace=True),
        bmp_encode(5, 4, bytes(range(60))),
        jpeg_encode(5, 4, bytes(range(20))),
    ]
    for payload in base:
        for _ in range(500):
            b = bytearray(payload)
            mode = rng.randrange(3)
            if mode in (0, 2):
                for _ in range(rng.randrange(1, 9)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            if mode in (1, 2):
                b = b[: rng.randrange(1, len(b) + 1)]
            r = decode_pixel_payload(bytes(b))
            if r is not None:
                fmt, w, h, ch, px = r
                assert w >= 1 and h >= 1 and len(px) == w * h * ch
    for prefix in (PNG_SIG, b"GIF89a", b"BM"):
        for _ in range(500):
            blob = prefix + bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 200))
            )
            r = decode_pixel_payload(blob)
            if r is not None:
                fmt, w, h, ch, px = r
                assert w >= 1 and h >= 1 and len(px) == w * h * ch


# ------------------------------------------------------- Spark stages


def test_decode_pixels_stage(spark):
    from data_ingestion_spark.functions.multimodal import decode_pixels, jpeg_bytes

    rows = [
        (0, png_encode(3, 2, bytes(range(6)))),
        (1, bmp_encode(2, 2, bytes(range(12)))),
        (2, gif_encode(2, 1, bytes([7, 9]))),
        (3, jpeg_bytes(4, 4)),  # header-only format → NULL pixels
        (4, b"not an image"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_pixels(df).collect()}
    assert (got[0]["format"], got[0]["width"], got[0]["height"], got[0]["n_channels"]) == ("png", 3, 2, 1)
    assert bytes(got[0]["pixels"]) == bytes(range(6))
    assert bytes(got[1]["pixels"]) == bytes(range(12))
    assert bytes(got[2]["pixels"]) == bytes([7, 7, 7, 9, 9, 9])
    assert got[3]["pixels"] is None and got[4]["pixels"] is None


def test_decode_pixels_strict_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from data_ingestion_spark.functions.multimodal import decode_pixels, jpeg_bytes

    df = spark.createDataFrame([(0, jpeg_bytes(4, 4))], "doc_id long, payload binary")
    with pytest.raises((Py4JJavaError, PythonException)):
        decode_pixels(df, strict=True).collect()


def test_resize_pixels_nearest_neighbor(spark):
    import numpy as np

    from data_ingestion_spark.functions.multimodal import decode_pixels, resize_pixels

    arr = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(6, 8, 3)
    df = spark.createDataFrame(
        [(0, png_encode(8, 6, arr.tobytes(), color_type=2))],
        "doc_id long, payload binary",
    )
    out = resize_pixels(decode_pixels(df), 4, 3).collect()[0]
    assert (out["width"], out["height"], out["n_channels"]) == (4, 3, 3)
    ys, xs = (np.arange(3) * 6) // 3, (np.arange(4) * 8) // 4
    assert bytes(out["pixels"]) == arr[ys][:, xs].tobytes()
    # NULL pixel rows pass through
    df2 = spark.createDataFrame([(1, b"junk")], "doc_id long, payload binary")
    row = resize_pixels(decode_pixels(df2), 4, 3).collect()[0]
    assert row["pixels"] is None


def test_gradient_image_pixel_sum_contract(spark):
    """The DQ's closed form, verified directly at small scale: decode
    the synthesized images and check the predicted sum — gradient
    ch*(w*h*base + h*Tw + w*Th) for png/bmp/gif, constant w*h*v for
    the bit-exact jpeg leg."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.functions.multimodal import (
        attach_gradient_image,
        decode_pixels,
        pixel_sum,
    )

    docs = spark.createDataFrame(
        [(d, 40 + 3 * d) for d in range(40)], "doc_id long, n_chars long"
    )
    out = decode_pixels(attach_gradient_image(docs)).withColumn(
        "s", pixel_sum(F.col("pixels"))
    )
    for r in out.collect():
        d = r["doc_id"]
        n = 40 + 3 * d
        w, h, base = 1 + n % 13, 1 + d % 11, d % 200
        if d % 4 == 3:
            ch, exp = 1, w * h * (d % 200 + n % 50)
        else:
            ch = 1 if d % 4 == 0 else 3
            exp = ch * (
                w * h * base + h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
            )
        assert r["n_channels"] == ch and r["s"] == exp, d


def test_null_payload_rows_never_crash_media_kernels(spark):
    """NULL payloads are the corpus-scale norm (failed fetches, schema
    evolution): every Arrow-batched media kernel must pass them
    through as NULL/empty output, not crash the stage. (frame_sample
    is absent by design — it consumes decoded n_frames metadata, not
    raw payloads.)"""
    from pyspark.sql import functions as F

    from data_ingestion_spark.functions import multimodal as MM

    bin_null = spark.createDataFrame(
        [(0, None), (1, b"junk")], "doc_id long, payload binary"
    )
    assert MM.decode_pixels(bin_null).count() == 2
    assert MM.resize_pixels(MM.decode_pixels(bin_null), 4, 4).count() == 2
    assert (
        MM.decode_pixels(bin_null)
        .select(MM.pixel_sum(F.col("pixels")))
        .count() == 2
    )
    assert MM.segment_wav(bin_null).count() == 0  # no rows, no crash
    assert MM.decode_audio_headers(bin_null).count() == 2
    assert MM.decode_image_headers(bin_null).count() == 2
    assert MM.extract_frames(bin_null).count() >= 0
    assert MM.embed_media(bin_null).count() == 2
    mm_null = spark.createDataFrame(
        [(0, None, None), (1, b"x", "image/png")],
        "doc_id long, payload binary, mime string",
    )
    assert MM.decode_media_meta(mm_null).count() == 2


def test_png_sub8_gray_depths():
    # 1-bit 8x2: rows 0b10110010, 0b01001101 -> 0/255 pattern
    rows = bytes([0, 0b10110010]) + bytes([0, 0b01001101])
    got = png_decode(_png_sub8_manual(8, 2, 1, rows))
    exp = bytes(255 * b for b in [1,0,1,1,0,0,1,0] + [0,1,0,0,1,1,0,1])
    assert got == (8, 2, 1, exp)
    # 2-bit 5x1: samples 3,0,2,1,3 packed MSB-first -> 11 00 10 01 | 11 000000
    rows = bytes([0, 0b11001001, 0b11000000])
    got = png_decode(_png_sub8_manual(5, 1, 2, rows))
    assert got == (5, 1, 1, bytes(v * 85 for v in [3, 0, 2, 1, 3]))
    # 4-bit 3x2 with filter 2 (Up): byte distance 1 on packed bytes
    r0 = bytes([0, 0x12, 0x30])
    r1 = bytes([2, 0x11, 0x10])  # unfiltered: 0x23, 0x40 -> samples 2,3,4
    got = png_decode(_png_sub8_manual(3, 2, 4, r0 + r1))
    assert got == (3, 2, 1, bytes(v * 17 for v in [1, 2, 3, 2, 3, 4]))


def _png_sub8_manual(w, h, depth, scanlines, color_type=0, palette=None, interlace=0):
    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body)
        )

    ihdr = struct.pack(">II", w, h) + bytes([depth, color_type, 0, 0, interlace])
    out = PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette)
    return out + chunk(b"IDAT", zlib.compress(scanlines)) + chunk(b"IEND", b"")


def test_png_sub8_palette_and_interlace():
    # 4-bit palette 4x1: indices 0,1,2,3 -> palette colors
    pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120]) + bytes(756)
    rows = bytes([0, 0x01, 0x23])
    got = png_decode(_png_sub8_manual(4, 1, 4, rows, color_type=3, palette=pal))
    assert got == (4, 1, 3, pal[:12])
    # 1-bit interlaced 4x4 checkerboard via Adam7 pass construction
    from data_ingestion_spark.functions.pixels import _adam7_passes

    vals = [[(x + y) & 1 for x in range(4)] for y in range(4)]
    stream = bytearray()
    for pw, ph, x0, dx, y0, dy in _adam7_passes(4, 4):
        for py in range(ph):
            stream.append(0)
            acc = nb = 0
            byte = 0
            for px in range(pw):
                byte = (byte << 1) | vals[y0 + py * dy][x0 + px * dx]
                nb += 1
                if nb == 8:
                    stream.append(byte); byte = nb = 0
            if nb:
                stream.append(byte << (8 - nb))
    got = png_decode(_png_sub8_manual(4, 4, 1, bytes(stream), interlace=1))
    exp = bytes(255 * vals[y][x] for y in range(4) for x in range(4))
    assert got == (4, 4, 1, exp)
    # sub-8 RGB is spec-invalid -> None
    assert png_decode(_png_sub8_manual(2, 1, 4, bytes([0, 0x12]), color_type=2)) is None


# ------------------------------------------------- BMP extended modes


def _bmp_manual(w, h, bpp, compression, pixel_data, palette=b"", h_sign=1):
    """Hand-build a BMP: 40-byte BITMAPINFOHEADER + raw palette quads +
    pixel data — bypasses bmp_encode entirely."""
    ncol = len(palette) // 4
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h * h_sign, 1, bpp, compression,
        len(pixel_data), 2835, 2835, ncol, 0,
    )
    off = 14 + 40 + len(palette)
    header = b"BM" + struct.pack("<IHHI", off + len(pixel_data), 0, 0, off)
    return header + info + palette + pixel_data


def test_bmp_8bit_palette():
    # 2x2, palette quads BGRA; indices row-major bottom-up, 4-byte pad
    pal = bytes([10, 20, 30, 0, 40, 50, 60, 0, 70, 80, 90, 0, 100, 110, 120, 0])
    rows = bytes([2, 3, 0, 0]) + bytes([0, 1, 0, 0])  # bottom row first
    got = bmp_decode(_bmp_manual(2, 2, 8, 0, rows, pal))
    # top-down RGB: top row indices (0,1), bottom row (2,3); BGR->RGB
    exp = bytes([30, 20, 10, 60, 50, 40, 90, 80, 70, 120, 110, 100])
    assert got == (2, 2, 3, exp)


def test_bmp_4bit_and_1bit_packed():
    pal4 = b"".join(bytes([i, i + 1, i + 2, 0]) for i in range(0, 64, 4))
    # 3x1 4-bit: indices 1,2,3 -> packed 0x12 0x30, padded to 4 bytes
    got = bmp_decode(_bmp_manual(3, 1, 4, 0, bytes([0x12, 0x30, 0, 0]), pal4))
    exp = b"".join(bytes([pal4[i * 4 + 2], pal4[i * 4 + 1], pal4[i * 4]]) for i in (1, 2, 3))
    assert got == (3, 1, 3, exp)
    # 8x1 1-bit: 0b10110010 over a 2-color palette
    pal1 = bytes([0, 0, 0, 0, 255, 255, 255, 0])
    got = bmp_decode(_bmp_manual(8, 1, 1, 0, bytes([0b10110010, 0, 0, 0]), pal1))
    exp = b"".join(b"\xff\xff\xff" if bit else b"\x00\x00\x00"
                   for bit in [1, 0, 1, 1, 0, 0, 1, 0])
    assert got == (8, 1, 3, exp)


def test_bmp_16bit_555():
    # 1x1: X1R5G5B5 with r=31,g=0,b=15 -> 0x7C0F little-endian
    got = bmp_decode(_bmp_manual(1, 1, 16, 0, struct.pack("<H", 0x7C0F) + bytes(2)))
    assert got == (1, 1, 3, bytes([255, 0, (15 * 255) // 31]))


def test_bmp_rle8_runs_and_escapes():
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    # 4x2 bottom-up: bottom row = run 4 of idx 7; EOL; top row: run 1 of
    # idx 9, absolute mode 3 pixels (5,6,9) word-aligned, EOB
    rle = bytes([4, 7, 0, 0, 1, 9, 0, 3, 5, 6, 9, 0, 0, 1])
    got = bmp_decode(_bmp_manual(4, 2, 8, 1, rle, pal))
    assert got is not None
    top = [9, 5, 6, 9]
    bottom = [7, 7, 7, 7]
    exp = b"".join(bytes([v, v, v]) for v in top + bottom)
    assert got == (4, 2, 3, exp)


def test_bmp_rle8_delta_leaves_zero_gaps():
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    # 3x2: run 1 of idx 8, delta (+1,+1), run 1 of idx 5, EOB
    rle = bytes([1, 8, 0, 2, 1, 1, 1, 5, 0, 1])
    got = bmp_decode(_bmp_manual(3, 2, 8, 1, rle, pal))
    # bottom row: [8,0,0]; top row: [0,0,5] (delta skips to x=2,y=1)
    exp_rows_topdown = [[0, 0, 5], [8, 0, 0]]
    exp = b"".join(bytes([v, v, v]) for row in exp_rows_topdown for v in row)
    assert got == (3, 2, 3, exp)


def test_bmp_rle4_nibble_runs():
    pal4 = b"".join(bytes([i * 16, 0, 0, 0]) for i in range(16))
    # 5x1: run 5 of 0xAB -> indices A,B,A,B,A; EOB
    got = bmp_decode(_bmp_manual(5, 1, 4, 2, bytes([5, 0xAB, 0, 1]), pal4))
    exp = b"".join(bytes([0, 0, v * 16]) for v in [10, 11, 10, 11, 10])
    assert got == (5, 1, 3, exp)


def test_bmp_out_of_envelope():
    # BI_BITFIELDS -> None; RLE with top-down height -> None
    assert bmp_decode(_bmp_manual(2, 1, 16, 3, bytes(8))) is None
    pal = bytes(1024)
    assert bmp_decode(_bmp_manual(2, 2, 8, 1, bytes([2, 1, 0, 1]), pal, h_sign=-1)) is None
    # RLE8 must pair with bpp 8
    assert bmp_decode(_bmp_manual(2, 2, 4, 1, bytes([2, 1, 0, 1]), pal)) is None


def test_bmp_rle_amplification_bound():
    # hostile: 9000x9000 claimed off a 6-byte stream -> None fast, not
    # 243 MB of numpy work per corrupt file
    import time

    pal = bytes(1024)
    bomb = _bmp_manual(9000, 9000, 8, 1, bytes([255, 1, 0, 0, 0, 1]), pal)
    t0 = time.monotonic()
    assert bmp_decode(bomb) is None
    assert time.monotonic() - t0 < 1.0  # rejects in us; 1s headroom for a loaded box
    # legit sparse content within the 1024x bound still decodes
    ok = _bmp_manual(64, 32, 8, 1, bytes([64, 5, 0, 0] * 32 + [0, 1]), pal)
    got = bmp_decode(ok)
    assert got is not None and got[:3] == (64, 32, 3)


# --------------------------------------------- animated GIF compositing


def test_gif_frames_full_canvas_sequence():
    from data_ingestion_spark.functions.pixels import (
        gif_decode_frames,
        gif_encode_frames,
    )

    f1 = bytes([5] * 12)
    f2 = bytes([9] * 12)
    enc = gif_encode_frames(4, 3, [{"indices": f1}, {"indices": f2}])
    frames = gif_decode_frames(enc)
    assert len(frames) == 2
    assert frames[0] == (4, 3, 3, bytes([5, 5, 5] * 12))
    assert frames[1] == (4, 3, 3, bytes([9, 9, 9] * 12))
    # first frame agrees with the single-frame decoder
    assert frames[0] == gif_decode(enc)


def test_gif_frames_partial_rect_composites_over_previous():
    from data_ingestion_spark.functions.pixels import (
        gif_decode_frames,
        gif_encode_frames,
    )

    base = bytes([1] * 16)  # 4x4 of index 1
    patch = bytes([7] * 4)  # 2x2 of index 7 at (1,1)
    enc = gif_encode_frames(
        4, 4,
        [{"indices": base},
         {"indices": patch, "left": 1, "top": 1, "fw": 2, "fh": 2}],
    )
    frames = gif_decode_frames(enc)
    assert len(frames) == 2
    import numpy as np

    f2 = np.frombuffer(frames[1][3], dtype=np.uint8).reshape(4, 4, 3)
    assert (f2[1:3, 1:3] == 7).all()          # the patch
    assert (f2[0, :] == 1).all() and (f2[3, :] == 1).all()  # base persists


def test_gif_frames_transparency_shows_underlying():
    from data_ingestion_spark.functions.pixels import (
        gif_decode_frames,
        gif_encode_frames,
    )

    base = bytes([3] * 9)
    overlay = bytes([8, 0, 8, 0, 8, 0, 8, 0, 8])  # 0 = transparent holes
    enc = gif_encode_frames(
        3, 3, [{"indices": base}, {"indices": overlay, "transparent": 0}]
    )
    frames = gif_decode_frames(enc)
    import numpy as np

    f2 = np.frombuffer(frames[1][3], dtype=np.uint8).reshape(3, 3, 3)
    flat = f2[:, :, 0].flatten()
    assert list(flat) == [8, 3, 8, 3, 8, 3, 8, 3, 8]


def test_gif_frames_disposal_background_and_previous():
    from data_ingestion_spark.functions.pixels import (
        gif_decode_frames,
        gif_encode_frames,
    )

    import numpy as np

    base = bytes([2] * 16)
    mid = bytes([9] * 4)
    dot = bytes([6])
    # disposal 2: mid's rect restores to BACKGROUND (index 0) before f3
    enc = gif_encode_frames(
        4, 4,
        [{"indices": base},
         {"indices": mid, "left": 0, "top": 0, "fw": 2, "fh": 2, "disposal": 2},
         {"indices": dot, "left": 3, "top": 3, "fw": 1, "fh": 1}],
        bg_index=0,
    )
    frames = gif_decode_frames(enc)
    f3 = np.frombuffer(frames[2][3], dtype=np.uint8).reshape(4, 4, 3)
    assert (f3[0:2, 0:2] == 0).all()   # restored to background
    assert (f3[2, :] == 2).all()       # untouched base
    assert f3[3, 3, 0] == 6
    # disposal 3: mid's effect reverts to PREVIOUS canvas before f3
    enc = gif_encode_frames(
        4, 4,
        [{"indices": base},
         {"indices": mid, "left": 0, "top": 0, "fw": 2, "fh": 2, "disposal": 3},
         {"indices": dot, "left": 3, "top": 3, "fw": 1, "fh": 1}],
    )
    frames = gif_decode_frames(enc)
    f3 = np.frombuffer(frames[2][3], dtype=np.uint8).reshape(4, 4, 3)
    assert (f3[0:2, 0:2] == 2).all()   # base restored, mid gone


def test_gif_frames_budget_and_corrupt():
    from data_ingestion_spark.functions.pixels import (
        gif_decode_frames,
        gif_encode_frames,
    )

    enc = gif_encode_frames(8, 8, [{"indices": bytes(64)} for _ in range(10)])
    # max_frames truncates; tiny pixel budget truncates (never None here)
    assert len(gif_decode_frames(enc, max_frames=3)) == 3
    assert len(gif_decode_frames(enc, max_pixel_bytes=8 * 8 * 3 * 2)) == 2
    assert gif_decode_frames(b"GIF89a" + bytes(7)) is None
    assert gif_decode_frames(b"not a gif") is None


def test_decode_gif_frame_pixels_stage(spark):
    from data_ingestion_spark.functions.multimodal import decode_gif_frame_pixels
    from data_ingestion_spark.functions.pixels import gif_encode_frames

    enc = gif_encode_frames(
        3, 2, [{"indices": bytes([i] * 6)} for i in (1, 2, 3, 4)]
    )
    df = spark.createDataFrame(
        [(0, enc), (1, b"junk"), (2, None)], "doc_id long, payload binary"
    )
    rows = decode_gif_frame_pixels(df, every_n=2).collect()
    got = {(r["doc_id"], r["frame_idx"]): bytes(r["pixels"]) for r in rows}
    assert set(got) == {(0, 0), (0, 2)}  # every 2nd frame, junk/null -> none
    assert got[(0, 0)] == bytes([1, 1, 1] * 6)
    assert got[(0, 2)] == bytes([3, 3, 3] * 6)
