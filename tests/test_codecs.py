"""Unit tests for the library-free image codecs (llm.codecs) and their
Spark integration (multimodal decode/resize stages).

The PNG decode tests build filtered scanline streams FORWARD from the
spec (filter math written out independently in the test), so the
decoder's inverse-filter path is checked against the spec, not against
our own encoder. The encoder is then checked by round-trip through the
spec-checked decoder.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from sahithi_metamorph_etl_spark.llm import codecs


def _png(width, height, color_type, scanlines: bytes) -> bytes:
    """Assemble a PNG container around pre-filtered scanline bytes."""

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def test_decode_png_filter0_gray():
    # 3x2 grayscale, filter 0 (raw) rows
    px = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)
    stream = b"\x00" + bytes(px[0]) + b"\x00" + bytes(px[1])
    out = codecs.decode_png(_png(3, 2, 0, stream))
    assert out.shape == (2, 3, 1)
    assert (out[:, :, 0] == px).all()


def test_decode_png_sub_filter_rgb():
    # 3x1 RGB with filter 1 (Sub): filt[x] = raw[x] - raw[x-bpp]
    raw = np.array([[100, 110, 120], [103, 115, 130], [110, 110, 128]], dtype=np.int16)
    flat = raw.reshape(-1)
    filt = flat.copy()
    filt[3:] = (flat[3:] - flat[:-3]) % 256  # forward Sub, bpp=3, from the spec
    stream = b"\x01" + bytes(filt.astype(np.uint8))
    out = codecs.decode_png(_png(3, 1, 2, stream))
    assert out.shape == (1, 3, 3)
    assert (out[0] == raw.astype(np.uint8)).all()


def test_decode_png_up_average_paeth_filters():
    # 2x3 grayscale exercising Up (2), Average (3), Paeth (4) rows
    px = np.array([[7, 200], [9, 210], [15, 90]], dtype=np.int16)
    row0 = b"\x00" + bytes(px[0].astype(np.uint8))
    up = (px[1] - px[0]) % 256  # forward Up
    row1 = b"\x02" + bytes(up.astype(np.uint8))
    # forward Average for row 2 (prev row = px[1]): avg(left, up)
    avg0 = (px[2, 0] - (0 + px[1, 0]) // 2) % 256
    avg1 = (px[2, 1] - (px[2, 0] + px[1, 1]) // 2) % 256
    row2 = b"\x03" + bytes(np.array([avg0, avg1], dtype=np.uint8))
    out = codecs.decode_png(_png(2, 3, 0, row0 + row1 + row2))
    assert (out[:, :, 0] == px.astype(np.uint8)).all()

    # Paeth row: predictor of (a=left, b=up, c=up-left)
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    p0 = (px[1, 0] - paeth(0, int(px[0, 0]), 0)) % 256
    p1 = (px[1, 1] - paeth(int(px[1, 0]), int(px[0, 1]), int(px[0, 0]))) % 256
    rowp = b"\x04" + bytes(np.array([p0, p1], dtype=np.uint8))
    out2 = codecs.decode_png(_png(2, 2, 0, row0 + rowp))
    assert (out2[:, :, 0] == px[:2].astype(np.uint8)).all()


def test_png_encode_decode_roundtrip_all_channel_counts():
    rng = np.random.default_rng(42)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(5, 7, c), dtype=np.uint8)
        back = codecs.decode_png(codecs.encode_png(px))
        assert back.shape == (5, 7, c)
        assert (back == px).all()


def test_png_header_without_pixel_decode():
    px = np.zeros((4, 9, 3), dtype=np.uint8)
    assert codecs.png_header(codecs.encode_png(px)) == (9, 4, 3)


def test_png_unsupported_variants_raise():
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"\x00" * 20)) + chunk(b"IEND", b"")
    with pytest.raises(codecs.UnsupportedImageError):
        codecs.decode_png(payload)


def test_decode_bmp_24bit_bottom_up():
    # 2x2 24-bit BMP, bottom-up, rows padded to 4 bytes (2*3=6 -> 8)
    # stored bottom row first, BGR order
    top = [(255, 0, 0), (0, 255, 0)]  # RGB red, green
    bot = [(0, 0, 255), (10, 20, 30)]  # blue, misc
    def bgr(row):
        return b"".join(bytes((b, g, r)) for (r, g, b) in row)
    pixel_data = bgr(bot) + b"\x00\x00" + bgr(top) + b"\x00\x00"
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    )
    payload = header + pixel_data
    assert codecs.sniff_format(payload) == "bmp"
    assert codecs.bmp_header(payload) == (2, 2, 3)
    out = codecs.decode_bmp(payload)
    assert out.shape == (2, 2, 3)
    assert tuple(out[0, 0]) == (255, 0, 0) and tuple(out[0, 1]) == (0, 255, 0)
    assert tuple(out[1, 0]) == (0, 0, 255) and tuple(out[1, 1]) == (10, 20, 30)


def test_jpeg_header_parse():
    # minimal JPEG: SOI + APP0 + SOF0(8-bit, 480x640, 3 comps) + EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 480, 640, 3) + b"\x01\x11\x00"
    payload = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert codecs.sniff_format(payload) == "jpeg"
    assert codecs.jpeg_header(payload) == (640, 480, 3)
    # headers-only payload (no SOS/entropy data, truncated SOF comp
    # specs): pixel decode must refuse loudly, never fake pixels
    with pytest.raises((ValueError, codecs.UnsupportedImageError)):
        codecs.decode_image(payload)


def test_gif_header_parse():
    payload = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    assert codecs.gif_header(payload) == (320, 200, 3)


def test_sniff_rejects_text_lookalikes():
    assert codecs.sniff_format(b"plain text document") is None
    # text starting with "BM" must not sniff as BMP (reserved word nonzero)
    assert codecs.sniff_format(b"BMW is a carmaker, not a bitmap header") is None
    assert codecs.image_stats(b"BMW is a carmaker, not a bitmap header") is None


def test_resize_nearest_known_values():
    px = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    half = codecs.resize_nearest(px, 2, 2)
    # sample points floor((i+0.5)*4/2) = 1, 3
    assert half[:, :, 0].tolist() == [[5, 7], [13, 15]]
    up = codecs.resize_nearest(px, 8, 8)
    assert up.shape == (8, 8, 1)
    assert up[0, 0, 0] == px[0, 0, 0] and up[7, 7, 0] == px[3, 3, 0]


def test_decode_media_stats_real_png_and_text_fallback(spark):
    from sahithi_metamorph_etl_spark.llm.multimodal import decode_media_stats

    png = codecs.encode_png(np.zeros((17, 23, 3), dtype=np.uint8))
    txt = b"just some text payload"
    media = spark.createDataFrame(
        [(1, bytearray(png), "image/png", "t"), (2, bytearray(txt), "text/plain", "t")],
        "media_id bigint, payload binary, media_type string, source string",
    )
    rows = {r.media_id: r for r in decode_media_stats(media).collect()}
    # real decode: true PNG dimensions
    assert rows[1].width == 23 and rows[1].height == 17
    assert rows[1].n_bytes == len(png)
    # non-image: deterministic length-derived pseudo-stats (total operator)
    n = len(txt)
    assert rows[2].width == n % 640 + 16 and rows[2].height == (n * 7) % 480 + 16


def test_resize_image_media_end_to_end(spark):
    from sahithi_metamorph_etl_spark.llm.multimodal import resize_image_media

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(12, 20, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(codecs.encode_png(px)), "image/png", "t"),
            (2, bytearray(b"not an image"), "text/plain", "t"),
        ],
        "media_id bigint, payload binary, media_type string, source string",
    )
    rows = {r.media_id: r for r in resize_image_media(media, 5, 4).collect()}
    ok = rows[1]
    assert ok.ok and ok.orig_width == 20 and ok.orig_height == 12 and ok.channels == 3
    resized = codecs.decode_png(bytes(ok.payload))
    assert resized.shape == (4, 5, 3)
    assert (resized == codecs.resize_nearest(px, 5, 4)).all()
    bad = rows[2]
    assert not bad.ok and bad.payload is None


def test_codecs_module_is_executor_shippable():
    """codecs.py ships into mapInPandas closures as exec'd source text
    (module_source); that silently breaks the moment the file gains a
    package-relative import, because the exec namespace has no package
    context. Pin the seam: no relative imports, no intra-package
    absolute imports."""
    import ast
    import inspect

    from sahithi_metamorph_etl_spark.llm import codecs

    tree = ast.parse(inspect.getsource(codecs))
    offenders = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level > 0 or (node.module or "").startswith("sahithi_metamorph_etl_spark"):
                offenders.append(ast.dump(node))
        elif isinstance(node, ast.Import):
            offenders.extend(
                a.name for a in node.names if a.name.startswith("sahithi_metamorph_etl_spark")
            )
    assert not offenders, (
        f"codecs.py must stay package-import-free to remain exec-shippable: {offenders}"
    )

    # and the shipped namespace must actually evaluate standalone
    ns = {}
    exec(codecs.module_source(), ns)
    assert "decode_png" in ns and "resize_nearest" in ns


def test_exec_only_in_the_codecs_shipping_helper():
    """Every Arrow-batch closure gets the codec namespace from
    ``codec_loader``; no other line in the package executes source."""
    import inspect
    import pathlib
    import re

    pkg = pathlib.Path(codecs.__file__).resolve().parent.parent
    lines, start = inspect.getsourcelines(codecs.codec_loader)
    allowed = {(pkg / "llm" / "codecs.py", n) for n in range(start, start + len(lines))}
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\bexec\(", line) and (p, i) not in allowed
    ]
    assert offenders == [], "load the codecs with codecs.codec_loader()"


def _gradient_rgb(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            xx * 255 // max(w - 1, 1),
            yy * 255 // max(h - 1, 1),
            (xx + yy) * 255 // max(w + h - 2, 1),
        ],
        axis=2,
    ).astype(np.uint8)


def test_jpeg_roundtrip_444_known_pixels():
    """Baseline JPEG decode to known pixels: a smooth gradient encoded
    at q=95 must come back within a few quantization steps, and a solid
    color must round-trip EXACTLY (its blocks are pure DC)."""
    img = _gradient_rgb(40, 56)
    enc = codecs.encode_jpeg_baseline(img, quality=95, subsampling="444")
    assert codecs.sniff_format(enc) == "jpeg"
    assert codecs.jpeg_header(enc) == (56, 40, 3)
    dec = codecs.decode_jpeg(enc)
    assert dec.shape == (40, 56, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 4 and err.mean() < 1.0

    solid = np.full((17, 19, 3), [200, 30, 90], dtype=np.uint8)
    assert np.array_equal(codecs.decode_jpeg(codecs.encode_jpeg_baseline(solid, 90)), solid)


def test_jpeg_roundtrip_420_subsampling_and_gray():
    img = _gradient_rgb(33, 41)  # non-multiple-of-16 dims exercise padding
    dec = codecs.decode_jpeg(codecs.encode_jpeg_baseline(img, quality=95, subsampling="420"))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 12  # chroma is 2x2-averaged

    gray = (np.mgrid[0:24, 0:24][0] * 10).astype(np.uint8)
    dec = codecs.decode_jpeg(codecs.encode_jpeg_baseline(gray, quality=90))
    assert dec.shape == (24, 24, 1)
    assert np.abs(dec[:, :, 0].astype(int) - gray.astype(int)).max() <= 2


def test_jpeg_restart_markers_honored():
    img = _gradient_rgb(40, 40)
    enc = codecs.encode_jpeg_baseline(img, quality=90, restart_interval=3)
    assert b"\xff\xdd" in enc  # DRI segment present
    dec = codecs.decode_jpeg(enc)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 6


def test_jpeg_noise_stays_within_quant_error():
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    dec = codecs.decode_jpeg(codecs.encode_jpeg_baseline(noise, quality=95))
    err = np.abs(dec.astype(int) - noise.astype(int))
    assert err.max() <= 30 and err.mean() < 6


def test_jpeg_invalid_progressive_scan_script_raises():
    """A SOF2 frame whose scan violates Annex G (baseline-style
    Ss=0..Se=63 band) must refuse, not decode garbage — this is the old
    'progressive raises' fixture, now caught by scan-script validation
    instead of a blanket SOF2 refusal."""
    enc = bytearray(codecs.encode_jpeg_baseline(_gradient_rgb(16, 16), 90))
    idx = bytes(enc).find(b"\xff\xc0")
    enc[idx + 1] = 0xC2
    with pytest.raises(codecs.UnsupportedImageError, match="DC and AC"):
        codecs.decode_jpeg(bytes(enc))


def test_jpeg_progressive_equals_baseline_rgb_and_gray():
    """Progressive decode is bit-identical to baseline decode of the
    same pixels at the same quality: both encoders quantize to the SAME
    coefficients, so any defect in scan assembly (spectral bands,
    successive approximation, EOB runs) breaks exact equality."""
    for shape, q, al in [((16, 16, 3), 90, 1), ((24, 17, 3), 85, 2),
                         ((21, 21), 90, 3), ((8, 8), 95, 0)]:
        if len(shape) == 3:
            yy, xx = np.mgrid[0 : shape[0], 0 : shape[1]]
            px = np.stack(
                [(2 * xx + 3 * yy) % 200, (xx * yy) % 151, (5 * xx) % 97], axis=2
            ).astype(np.uint8)
        else:
            yy, xx = np.mgrid[0 : shape[0], 0 : shape[1]]
            px = ((3 * xx + 7 * yy) % 211).astype(np.uint8)
        base = codecs.decode_jpeg(codecs.encode_jpeg_baseline(px, quality=q))
        prog_bytes = codecs.encode_jpeg_progressive(px, quality=q, al_levels=al)
        assert prog_bytes[:2] == b"\xff\xd8" and b"\xff\xc2" in prog_bytes
        prog = codecs.decode_jpeg(prog_bytes)  # dispatches on SOF2
        assert np.array_equal(base, prog), (shape, q, al)


def test_jpeg_progressive_randomized_sweep():
    """Noise images at random sizes/qualities/SA depths exercise ZRL
    spans, EOB handling, refinement correction bits and padding blocks;
    every one must equal its baseline twin exactly."""
    rng = np.random.default_rng(99)
    for _ in range(12):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        color = bool(rng.integers(0, 2))
        al = int(rng.integers(0, 4))
        q = int(rng.choice([50, 75, 95]))
        px = rng.integers(0, 256, size=(h, w, 3) if color else (h, w)).astype(np.uint8)
        base = codecs.decode_jpeg(codecs.encode_jpeg_baseline(px, quality=q))
        prog = codecs.decode_jpeg(codecs.encode_jpeg_progressive(px, quality=q, al_levels=al))
        assert np.array_equal(base, prog), (h, w, color, al, q)


def test_jpeg_progressive_facade_and_header():
    px = _gradient_rgb(20, 15)
    enc = codecs.encode_jpeg_progressive(px, quality=90)
    assert codecs.sniff_format(enc) == "jpeg"
    assert codecs.image_stats(enc) == (15, 20, 3)
    assert codecs.decode_image(enc).shape == (20, 15, 3)


def test_jpeg_non_interleaved_scan_raises():
    """A scan covering fewer components than the frame (non-interleaved
    multi-scan baseline) must refuse, not decode only one plane: rewrite
    the encoder's 3-component SOS to a spec-shaped 1-component SOS."""
    import struct as _struct

    enc = bytes(codecs.encode_jpeg_baseline(_gradient_rgb(16, 16), 90))
    idx = enc.find(b"\xff\xda")
    (seg_len,) = _struct.unpack(">H", enc[idx + 2 : idx + 4])
    body = enc[idx + 4 : idx + 2 + seg_len]
    assert body[0] == 3  # encoder writes one interleaved 3-comp scan
    new_body = bytes([1]) + body[1:3] + body[-3:]  # first comp only
    new_sos = b"\xff\xda" + _struct.pack(">H", 2 + len(new_body)) + new_body
    tampered = enc[:idx] + new_sos + enc[idx + 2 + seg_len :]
    with pytest.raises(codecs.UnsupportedImageError, match="non-interleaved"):
        codecs.decode_jpeg(tampered)


def test_jpeg_second_sos_raises():
    """A second SOS after the decoded scan (multi-scan sequential) is an
    honest refusal even when the first scan looks complete."""
    enc = bytes(codecs.encode_jpeg_baseline(_gradient_rgb(16, 16), 90))
    assert enc.endswith(b"\xff\xd9")
    # splice a minimal second scan header before EOI
    tampered = enc[:-2] + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00" + b"\xff\xd9"
    with pytest.raises(codecs.UnsupportedImageError, match="multi-scan"):
        codecs.decode_jpeg(tampered)


def test_decode_image_facade_decodes_jpeg():
    img = _gradient_rgb(20, 20)
    dec = codecs.decode_image(codecs.encode_jpeg_baseline(img, quality=95))
    assert dec.shape == (20, 20, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4


def test_resize_image_media_handles_jpeg_payloads(spark):
    """The resize stage now really decodes baseline JPEG — the dominant
    corpus format — in the library-free environment (ok=true, pixels
    from the JPEG decode path, PNG write-back)."""
    from sahithi_metamorph_etl_spark.llm.multimodal import resize_image_media

    px = _gradient_rgb(12, 20)
    media = spark.createDataFrame(
        [(1, bytearray(codecs.encode_jpeg_baseline(px, quality=95)), "image/jpeg", "t")],
        "media_id bigint, payload binary, media_type string, source string",
    )
    row = resize_image_media(media, 5, 4).collect()[0]
    assert row.ok and row.orig_width == 20 and row.orig_height == 12 and row.channels == 3
    resized = codecs.decode_png(bytes(row.payload))
    expected = codecs.resize_nearest(codecs.decode_jpeg(codecs.encode_jpeg_baseline(px, quality=95)), 5, 4)
    assert (resized == expected).all()


def test_gif_roundtrip_known_pixels():
    """From-spec GIF LZW: an indexed image must round-trip EXACTLY
    (LZW + palette are lossless), including codes that force the
    variable code width to grow (>= 200 distinct colors)."""
    rng = np.random.default_rng(3)
    # 200 distinct colors -> 8-bit color table, code widths up to 9+
    palette = rng.integers(0, 256, (200, 3), dtype=np.uint8)
    idx = rng.integers(0, 200, (37, 53), dtype=np.int64)
    px = palette[idx]
    enc = codecs.encode_gif(px)
    assert codecs.sniff_format(enc) == "gif"
    assert codecs.gif_header(enc) == (53, 37, 3)
    assert np.array_equal(codecs.decode_gif(enc), px)
    assert np.array_equal(codecs.decode_image(enc), px)


def test_gif_dictionary_reset_path():
    """A frame long enough to fill the 4096-code dictionary forces the
    encoder's mid-stream clear code; the decoder must resync exactly."""
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (120, 130), dtype=np.uint8)  # grayscale -> 256 colors
    enc = codecs.encode_gif(px)
    out = codecs.decode_gif(enc)
    assert np.array_equal(out, np.stack([px] * 3, axis=2))


def test_gif_lzw_decode_internals():
    """Pin the r21 bytes-table decoder's semantics directly: KwKwK
    expansion, rejection of a code beyond the next free slot, and the
    structural min-code-size bound (a GIF color table never exceeds 256
    entries, so root codes are < 256)."""
    import pytest

    def pack(codes, width_seq):
        # LSB-first pack codes with per-code widths
        acc = nbits = 0
        out = bytearray()
        for code, width in zip(codes, width_seq):
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    # min_code_size=2: clear=4, end=5, first free code=6.
    # codes: clear, 1, 6 (KwKwK: entry 6 = prev+prev[0] = b"\x01\x01"), end
    data = pack([4, 1, 6, 5], [3, 3, 3, 3])
    assert bytes(codecs._gif_lzw_decode(data, 2)) == b"\x01\x01\x01"
    # referencing a code beyond the next free slot is corrupt
    data = pack([4, 1, 7, 5], [3, 3, 3, 3])
    with pytest.raises(codecs.UnsupportedImageError, match="corrupt"):
        codecs._gif_lzw_decode(data, 2)
    # a claimed min code size > 8 cannot arise from a <=256-color table
    with pytest.raises(codecs.UnsupportedImageError, match="min code size"):
        codecs._gif_lzw_decode(b"\x00", 9)


def test_gif_interlaced_decode():
    """Hand-build an interlaced GIF (4-pass row order per spec) and
    check the decoder restores natural row order."""
    h, w = 11, 4
    rows = np.arange(h, dtype=np.uint8)[:, None].repeat(w, axis=1)  # row i = color i
    # spec pass order: rows 0,8 / 4 / 2,6,10 / 1,3,5,7,9
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    stored = rows[order]  # what an interlaced encoder writes, in pass order
    enc = bytearray(codecs.encode_gif(stored))
    # flip the image descriptor's interlace flag (descriptor follows the
    # 13-byte header + 3*2^k GCT; find 0x2C introducer)
    pos = bytes(enc).index(b"\x2c", 13)
    enc[pos + 9] |= 0x40
    out = codecs.decode_gif(bytes(enc))
    expected = np.stack([rows] * 3, axis=2)
    assert np.array_equal(out, expected)
    assert np.array_equal(codecs.decode_gif_frames(bytes(enc))[0][1], expected)


def test_wav_roundtrip_properties():
    """WAV PCM round-trip across rates/channels/lengths: decode must
    return the exact samples, frame count, and rate the encoder wrote
    (PCM is lossless), including odd frame counts and stereo layout."""
    rng = np.random.default_rng(11)
    for rate in (8000, 16000, 44100):
        for channels in (1, 2):
            n = int(rng.integers(1, 500))
            samples = rng.integers(-32768, 32768, (n, channels), dtype=np.int64).astype(np.int16)
            payload = codecs.encode_wav(samples if channels > 1 else samples[:, 0], rate)
            hdr = codecs.wav_header(payload)
            assert hdr == (rate, channels, 16, n), hdr
            back, back_rate = codecs.decode_wav(payload)
            assert back_rate == rate
            assert back.shape == (n, channels)
            assert np.array_equal(back, samples.astype(np.int32))


def test_wav_rejects_non_pcm_and_truncated():
    import struct as _struct

    # format 3 (IEEE float) must refuse, not misparse
    fmt = _struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", 4) + b"\x00" * 4
    payload = b"RIFF" + _struct.pack("<I", len(body)) + body
    with pytest.raises(codecs.UnsupportedImageError):
        codecs.wav_header(payload)
    with pytest.raises(ValueError):
        codecs.wav_header(b"RIFFxxxxNOPE")


def test_decode_audio_stats_real_wav_and_fallback(spark):
    from sahithi_metamorph_etl_spark.llm.multimodal import decode_audio_stats

    wave = np.full(400, 1000, dtype=np.int16)
    wave[1::2] *= -1
    wav = codecs.encode_wav(wave, rate=8000)
    media = spark.createDataFrame(
        [(1, bytearray(wav), "audio/wav", "t"), (2, bytearray(b"not audio"), "text/plain", "t")],
        "media_id bigint, payload binary, media_type string, source string",
    )
    rows = {r.media_id: r for r in decode_audio_stats(media).collect()}
    ok = rows[1]
    assert ok.sample_rate == 8000 and ok.channels == 1 and ok.n_frames == 400
    assert abs(ok.duration_ms - 50.0) < 1e-9
    assert abs(ok.rms - 1000.0) < 1e-9  # square wave: rms == amplitude
    bad = rows[2]
    assert bad.n_bytes == 9 and bad.sample_rate is None and bad.rms is None


def test_gif_animation_roundtrip_delays_and_pixels():
    """Multi-frame GIF89a round-trip: frame count, per-frame delays
    (GCE) and composed pixels must all survive encode -> decode."""
    frames = [np.full((5, 7, 3), c, dtype=np.uint8) for c in (10, 80, 200)]
    payload = codecs.encode_gif_animation(frames, [3, 5, 7])
    dec = codecs.decode_gif_frames(payload)
    assert [d for d, _ in dec] == [3, 5, 7]
    assert all(np.array_equal(f, g) for (_, f), g in zip(dec, frames))
    # the single-frame facade still sees the first frame
    assert np.array_equal(codecs.decode_gif(payload), frames[0])


def test_gif_animation_transparency_and_disposal():
    """Byte-crafted animation: a partial second frame with a transparent
    index must leave underlying screen pixels visible; disposal=2 must
    restore its region to the background before the next frame;
    disposal=3 must restore the pre-frame screen."""
    import struct as _struct

    # GCT: 4 colors — bg(black), red, green, blue; screen 4x4
    gct = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    head = b"GIF89a" + _struct.pack("<HH", 4, 4) + bytes([0x80 | 1, 0, 0]) + gct

    def frame(left, top, w, h, idx, disposal, transparent=None, delay=0):
        flags = (disposal << 2) | (0x01 if transparent is not None else 0)
        gce = (b"\x21\xf9\x04" + bytes([flags]) + _struct.pack("<H", delay)
               + bytes([transparent or 0]) + b"\x00")
        desc = b"\x2c" + _struct.pack("<HHHH", left, top, w, h) + b"\x00"
        data = codecs._gif_lzw_encode_blocks(np.asarray(idx, dtype=np.int64).ravel(), 2)
        return gce + desc + data

    # f1: full screen red, disposal=3 (restore previous afterwards)
    f1 = frame(0, 0, 4, 4, [1] * 16, disposal=3)
    # f2: 2x2 green patch at (1,1) with transparent=3 checkerboard,
    # disposal=2 (restore background afterwards)
    f2 = frame(1, 1, 2, 2, [2, 3, 3, 2], disposal=2, transparent=3)
    # f3: full screen blue
    f3 = frame(0, 0, 4, 4, [3] * 16, disposal=0)
    payload = head + f1 + f2 + f3 + b"\x3b"

    dec = codecs.decode_gif_frames(payload)
    assert len(dec) == 3
    red = np.array([255, 0, 0], dtype=np.uint8)
    green = np.array([0, 255, 0], dtype=np.uint8)
    blue = np.array([0, 0, 255], dtype=np.uint8)
    black = np.array([0, 0, 0], dtype=np.uint8)
    # frame 1 displays all red
    assert (dec[0][1] == red).all()
    # frame 2: f1's disposal=3 restored the pre-f1 (background) screen,
    # so the patch draws on black; transparent cells show the black
    # screen, opaque cells green
    s2 = dec[1][1]
    assert np.array_equal(s2[1, 1], green) and np.array_equal(s2[2, 2], green)
    assert np.array_equal(s2[1, 2], black) and np.array_equal(s2[2, 1], black)
    assert np.array_equal(s2[0, 0], black)
    # frame 3: full blue regardless of earlier disposals
    assert (dec[2][1] == blue).all()
    # the first-frame decode is the frame walker stopped after frame 1,
    # so it shows what a viewer shows: with the transparent patch as
    # frame 1, its transparent cells show the background, not blue
    assert np.array_equal(codecs.decode_gif(payload), dec[0][1])
    lead = head + f2 + f3 + b"\x3b"
    first = codecs.decode_gif(lead)
    assert np.array_equal(first, codecs.decode_gif_frames(lead)[0][1])
    assert np.array_equal(first[1, 2], black) and np.array_equal(first[1, 1], green)


def test_jpeg_trailing_bytes_after_eoi_still_decode():
    """Real corpora carry bytes after EOI (concatenated JPEGs,
    motion-photo video appendices, editor trailers). The multi-scan
    guard must stop at EOI: trailing data — even containing 0xFFDA —
    cannot turn a valid single-scan image into a refusal."""
    img = _gradient_rgb(16, 16)
    enc = codecs.encode_jpeg_baseline(img, 90)
    ref = codecs.decode_jpeg(enc)
    assert np.array_equal(codecs.decode_jpeg(enc + enc), ref)
    assert np.array_equal(codecs.decode_jpeg(enc + b"\x00\x01\xff\xda\x77"), ref)


def test_jpeg_progressive_restart_markers():
    """Progressive streams with DRI/RSTn (some encoders emit them for
    error resilience): predictors and EOB state reset at each marker in
    EVERY scan type, and the decode must still equal baseline exactly."""
    rng = np.random.default_rng(5)
    for shape, q, al, ri in [((24, 24, 3), 90, 1, 2), ((33, 33), 95, 0, 4),
                             ((16, 48, 3), 75, 3, 1)]:
        px = rng.integers(0, 256, size=shape).astype(np.uint8)
        base = codecs.decode_jpeg(codecs.encode_jpeg_baseline(px, quality=q))
        enc = codecs.encode_jpeg_progressive(
            px, quality=q, al_levels=al, restart_interval=ri
        )
        assert b"\xff\xdd" in enc  # DRI present
        assert any(bytes([0xFF, 0xD0 + i]) in enc for i in range(8))
        assert np.array_equal(codecs.decode_jpeg(enc), base), (shape, q, al, ri)


def test_gif_animation_randomized_roundtrip():
    """Randomized animations (palette sizes crossing code-width bumps,
    odd dims, varying frame counts/delays) must round-trip exactly."""
    rng = np.random.default_rng(17)
    for _ in range(8):
        h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
        n_colors = int(rng.choice([2, 3, 4, 7, 16, 33, 128]))
        nf = int(rng.integers(1, 5))
        palette = rng.integers(0, 256, size=(n_colors, 3)).astype(np.uint8)
        frames = [palette[rng.integers(0, n_colors, size=(h, w))] for _ in range(nf)]
        delays = [int(rng.integers(0, 500)) for _ in range(nf)]
        dec = codecs.decode_gif_frames(codecs.encode_gif_animation(frames, delays))
        assert [d for d, _ in dec] == delays
        assert all(np.array_equal(f, g) for (_, f), g in zip(dec, frames))


def test_jpeg_multi_scan_guard_walks_markers_not_bytes():
    """The second-SOS guard must follow marker structure: literal
    FF D9 / FF DA bytes INSIDE a COM segment body can neither hide a
    real second scan nor fake one."""
    enc = codecs.encode_jpeg_baseline(_gradient_rgb(16, 16), 90)
    ref = codecs.decode_jpeg(enc)
    # COM body containing FF D9 must not mask the real second SOS after it
    com_d9 = b"\xff\xfe" + (6).to_bytes(2, "big") + b"\xff\xd9ab"
    sos2 = b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    with pytest.raises(codecs.UnsupportedImageError, match="multi-scan"):
        codecs.decode_jpeg(enc[:-2] + com_d9 + sos2 + b"\xff\xd9")
    # COM body containing FF DA must not trigger a false refusal
    com_da = b"\xff\xfe" + (6).to_bytes(2, "big") + b"\xff\xdaab"
    assert np.array_equal(codecs.decode_jpeg(enc[:-2] + com_da + b"\xff\xd9"), ref)


def test_gif_frame_rect_outside_screen_is_refused():
    """A frame descriptor whose left/top lies beyond the logical screen
    violates GIF89a; the decoder must refuse with the codec's
    UnsupportedImageError contract, not die in a numpy broadcast error.
    An exactly-at-edge (zero-area) frame stays decodable."""
    import struct as _struct

    import pytest as _pytest

    gct = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    head = b"GIF89a" + _struct.pack("<HH", 4, 4) + bytes([0x80 | 1, 0, 0]) + gct

    def frame(left, top, w, h, idx):
        desc = b"\x2c" + _struct.pack("<HHHH", left, top, w, h) + b"\x00"
        data = codecs._gif_lzw_encode_blocks(
            np.asarray(idx, dtype=np.int64).ravel(), 2
        )
        return desc + data

    # top beyond screen height -> negative clip -> refusal
    bad = head + frame(0, 7, 2, 2, [1, 1, 1, 1]) + b"\x3b"
    with _pytest.raises(codecs.UnsupportedImageError, match="outside"):
        codecs.decode_gif_frames(bad)
    with _pytest.raises(codecs.UnsupportedImageError, match="outside"):
        codecs.decode_gif(bad)
    # left beyond screen width -> refusal
    bad2 = head + frame(9, 0, 2, 2, [1, 1, 1, 1]) + b"\x3b"
    with _pytest.raises(codecs.UnsupportedImageError, match="outside"):
        codecs.decode_gif_frames(bad2)
    with _pytest.raises(codecs.UnsupportedImageError, match="outside"):
        codecs.decode_gif(bad2)
    # exactly at the edge: zero-area contribution, still decodes
    ok = head + frame(0, 0, 4, 4, [1] * 16) + frame(4, 4, 2, 2, [1] * 4) + b"\x3b"
    dec = codecs.decode_gif_frames(ok)
    assert len(dec) == 2


def _noise(shape, seed):
    return np.random.default_rng(seed).integers(0, 256, size=shape).astype(np.uint8)


# name -> encoder call; covers every encoder mode (subsampling, gray,
# restart intervals, every successive-approximation depth, the LZW
# dictionary reset, animation GCEs)
_PINNED_PAYLOADS = {
    "jpeg_444": lambda: codecs.encode_jpeg_baseline(_gradient_rgb(40, 56), 95, "444"),
    "jpeg_444_noise": lambda: codecs.encode_jpeg_baseline(_noise((23, 37, 3), 1), 50),
    "jpeg_420": lambda: codecs.encode_jpeg_baseline(_gradient_rgb(33, 41), 95, "420"),
    "jpeg_420_noise": lambda: codecs.encode_jpeg_baseline(_noise((19, 27, 3), 2), 75, "420"),
    "jpeg_gray": lambda: codecs.encode_jpeg_baseline((np.mgrid[0:24, 0:24][0] * 10).astype(np.uint8), 90),
    "jpeg_restart": lambda: codecs.encode_jpeg_baseline(_gradient_rgb(40, 40), 90, restart_interval=3),
    "jpeg_420_restart": lambda: codecs.encode_jpeg_baseline(_noise((35, 18, 3), 3), 85, "420", 2),
    "prog_al0": lambda: codecs.encode_jpeg_progressive(_noise((21, 21), 4), 90, al_levels=0),
    "prog_al1": lambda: codecs.encode_jpeg_progressive(_gradient_rgb(16, 16), 90, al_levels=1),
    "prog_al2": lambda: codecs.encode_jpeg_progressive(_noise((24, 17, 3), 5), 75, al_levels=2),
    "prog_al3": lambda: codecs.encode_jpeg_progressive(_noise((13, 30, 3), 6), 95, al_levels=3),
    "prog_restart": lambda: codecs.encode_jpeg_progressive(
        _noise((16, 48, 3), 7), 75, al_levels=3, restart_interval=1),
    "gif_palette": lambda: codecs.encode_gif(_noise((37, 53), 8) % 200),
    "gif_dict_reset": lambda: codecs.encode_gif(_noise((120, 130), 9)),
    "gif_rgb": lambda: codecs.encode_gif(
        np.array([[0, 0, 0], [255, 0, 0], [0, 9, 200]], dtype=np.uint8)[_noise((9, 11), 10) % 3]),
    "gif_animation": lambda: codecs.encode_gif_animation(
        [np.full((5, 7, 3), c, dtype=np.uint8) for c in (10, 80, 200)] + [_noise((5, 7), 11) % 7],
        [3, 5, 7, 0]),
}

_PINNED_BYTES = {
    "gif_animation": "2eb2044c0bac19583743ed38ebee1d069acc68ec077db596be8e96b4480afb4e",
    "gif_dict_reset": "5fd58bb5fb0917c108b3af3ba46bdf3a6e0af16a03a9e157ecc07c6e46386321",
    "gif_palette": "f544885234a62533045e8a610f0d75970df9220625c51b031f90a74ef2f17529",
    "gif_rgb": "3f61d4f8dc73c2e1e8d8ec14b28503790a8f841d2834bdf4ca4887b795b1ec90",
    "jpeg_420": "b60abbccb4ae86993246938f111e93915f759aed91de349b0909bcf7803fcd0a",
    "jpeg_420_noise": "a1d9c0d91a1337edec9120470d040acc6d7234fe352fddbea43533a082278b0f",
    "jpeg_420_restart": "4003a975d4e4aeb4ed00190f659c7280a77ab5973031fbe51c9264c8d606436e",
    "jpeg_444": "1136f0af2da36e5867f883355e2565174a46a61353abf55221368e68c751a1d8",
    "jpeg_444_noise": "5cabfee3902dbb89ed5a7a8969e2dbd3473ce03e4629f8bb641caf4f0327cea2",
    "jpeg_gray": "9c4601880cb3c26f3e417f036f7954c6d663edf458f6a31c130417b38772ff28",
    "jpeg_restart": "a218e57a76b6445be83383b01505867284cb41a8ef40e2e666a3e7654e903120",
    "prog_al0": "e67811a2f267d3bec30ced77d5f45772cdd0ffc3780f15349d7b6c57f24a260c",
    "prog_al1": "c353b241c5e7c10f1a673905e65ddb0138dd216d1116aef93f6074c42007873e",
    "prog_al2": "0f5e6e7ac984f550e1ea9ddb0fd01d4e5c775596d702105d4842b7a3265570df",
    "prog_al3": "1b3d1d7cbbdb5dc016c05bae83b5236616584d2ada697d6eb2bc9c7c185da66e",
    "prog_restart": "af23a40f95bc4b9e980fd144de5f3641517025b3162904a0fa3b55fdc008302e",
}

_PINNED_PIXELS = {
    "jpeg_420": "cc8787b37d0aa74136ca1c6f3055d55163fcc4f4f6602cafb214eca42a4406a5",
    "jpeg_420_noise": "ba2d6dea73f276118550cbbd183f061582341212d50865d58c9b08144fabae59",
    "jpeg_420_restart": "460e93304fa12225834d2266299cef828a82077a053ca74bb8254c7c25cb44a3",
    "jpeg_444": "a76b4b0a885d249c4fbcaaaa8ae0b6533f1847c5915d663966453b8b333e1549",
    "jpeg_444_noise": "aa0a2eb18ac6d83d2c987b485d4e64a6ed6327033662a3d78040f5cec49351f6",
    "jpeg_gray": "11db2475d9885c592dc43363dea5d060608d350f33e156fde7a7b2154fba0957",
    "jpeg_restart": "0ff408f2848e9987b716edb99892eb8467d06eb3cc438b63e21d955b5519c7ac",
    "prog_al0": "4470a472b5018d7688784182b4873821cc6089cf57bfa742eb8824812766f8f7",
    "prog_al1": "acc19a20d028202ea206f3e8f317593f04751e624909467311639f6f7b1fc78c",
    "prog_al2": "fbfddacb49f7d2ad8c78c4bb4397a7d7216b78cff3e83bf842dddde4828ea395",
    "prog_al3": "a23af465d83fa48015ff82451f77cd519bf51c9e2af48e9af86cbc1fb0a17531",
    "prog_restart": "e5c305025748a407f52da449a7c277d0e41930a2178eb6b516e64ba0c1792972",
}


@pytest.mark.parametrize("name", sorted(_PINNED_PAYLOADS))
def test_encoder_bytes_are_pinned(name):
    """Every encoder's output is byte-exact: a refactor of the shared
    coefficient head, block coder, palette or header code must not move
    one byte."""
    import hashlib

    assert hashlib.sha256(_PINNED_PAYLOADS[name]()).hexdigest() == _PINNED_BYTES[name]


@pytest.mark.parametrize("name", sorted(n for n in _PINNED_PAYLOADS if "gif" not in n))
def test_jpeg_decoded_pixels_are_pinned(name):
    """decode_jpeg's pixels for every pinned encoder payload, shape
    included: the one scan decoder must reproduce them exactly."""
    import hashlib

    px = codecs.decode_jpeg(_PINNED_PAYLOADS[name]())
    digest = hashlib.sha256(repr(px.shape).encode() + px.tobytes()).hexdigest()
    assert digest == _PINNED_PIXELS[name]


def test_gif_truncated_prefixes_decode_or_refuse():
    """Every prefix of an animation that keeps the GIF signature either
    decodes — a payload cut between blocks lacks only its trailer, and
    the frames read so far stand — or refuses with exactly
    UnsupportedImageError, never a bare struct, index or numpy error
    from a cut inside an extension, a descriptor or a color table."""
    frames = [np.full((5, 7, 3), c, dtype=np.uint8) for c in (10, 80, 200)]
    payload = codecs.encode_gif_animation(frames, [3, 5, 7])
    decoded = 0
    for k in range(6, len(payload)):
        try:
            dec = codecs.decode_gif_frames(payload[:k])
        except Exception as e:  # noqa: BLE001 - the type is the assertion
            assert type(e) is codecs.UnsupportedImageError, (k, repr(e))
        else:
            decoded += 1
            assert all(np.array_equal(f, g) for (_, f), g in zip(dec, frames))
    assert decoded
    assert len(codecs.decode_gif_frames(payload[:-1])) == 3


@pytest.mark.parametrize("name", ["jpeg_restart", "prog_restart"])
def test_jpeg_out_of_order_restart_marker_refuses(name):
    """A restart interval must end in the expected RSTm (m = restart
    count mod 8): rewriting the first RST0 to RST5 refuses instead of
    resynchronizing on whatever marker comes next."""
    payload = _PINNED_PAYLOADS[name]()
    rst = payload.index(b"\xff\xd0", payload.index(b"\xff\xda"))
    bad = payload[: rst + 1] + b"\xd5" + payload[rst + 2 :]
    with pytest.raises(codecs.UnsupportedImageError, match="RST0 expected"):
        codecs.decode_jpeg(bad)
