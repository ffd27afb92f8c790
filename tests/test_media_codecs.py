"""Pure-NumPy media codecs (operators/media_codecs.py): hand-built PPM
and BMP bytes decode to exact pixels, features match independent
arithmetic, the Spark mapInPandas plumbing runs them end to end, and
undecodable containers fail loudly naming the row."""

from __future__ import annotations

import numpy as np
import pytest

from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
    decode_bmp,
    decode_ppm,
    encode_ppm,
    numpy_image_decoder,
    numpy_resize_batch,
    sniff_format,
)
from data_pipeline_project_using_telegram_and_aws_spark.operators.multimodal import (
    extract_media_features,
    resize_media,
)

# a 2x2 image: red, green / blue, white (RGB rows top-down)
PIXELS = np.array(
    [
        [[255, 0, 0], [0, 255, 0]],
        [[0, 0, 255], [255, 255, 255]],
    ],
    dtype=np.uint8,
)


def _ppm_bytes() -> bytes:
    # hand-assembled, with a comment line the parser must skip
    return (
        b"P6\n# hand-built fixture\n2 2\n255\n" + PIXELS.tobytes()
    )


def _bmp_bytes() -> bytes:
    # 24bpp BI_RGB, stride 8 (2*3 padded to 4), rows bottom-up, BGR
    def row(px):
        return b"".join(bytes([b, g, r]) for r, g, b in px) + b"\x00\x00"

    body = row(PIXELS[1]) + row(PIXELS[0])  # bottom row first
    header = (
        b"BM"
        + (54 + len(body)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")  # pixel array offset
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER size
        + (2).to_bytes(4, "little", signed=True)  # width
        + (2).to_bytes(4, "little", signed=True)  # height (bottom-up)
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB
        + b"\x00" * 20
    )
    return header + body


def test_ppm_and_bmp_decode_to_identical_pixels():
    assert sniff_format(_ppm_bytes()) == "ppm"
    assert sniff_format(_bmp_bytes()) == "bmp"
    assert sniff_format(b"\xff\xd8\xff") == "jpeg"
    assert sniff_format(b"\x00\x11\x22") is None
    np.testing.assert_array_equal(decode_ppm(_ppm_bytes()), PIXELS)
    np.testing.assert_array_equal(decode_bmp(_bmp_bytes()), PIXELS)
    # encode→decode round trip is the identity
    np.testing.assert_array_equal(decode_ppm(encode_ppm(PIXELS)), PIXELS)


def test_decoder_failures_are_loud():
    with pytest.raises(ValueError, match="payload"):
        decode_ppm(b"P6\n2 2\n255\n\x00")  # truncated body
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")
    bad_bpp = bytearray(_bmp_bytes())
    bad_bpp[28] = 8
    with pytest.raises(ValueError, match="only 24-bit"):
        decode_bmp(bytes(bad_bpp))
    # the container dispatcher names the container it failed on, or
    # says it could not name one
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        _decode,
    )

    with pytest.raises(ValueError, match="jpeg"):
        _decode(b"\xff\xd8\xffcorrupt jpeg")
    with pytest.raises(ValueError, match="undecodable container"):
        _decode(b"OggS not an image at all")


def test_real_decoder_through_spark_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_ppm_bytes())), (2, bytearray(_bmp_bytes()))],
        "media_id long, media binary",
    )
    rows = {
        r.media_id: r
        for r in extract_media_features(
            df, decoder=numpy_image_decoder
        ).collect()
    }
    # identical pixels -> identical features across containers
    f = np.array(PIXELS.reshape(-1, 3), dtype=np.float64) / 255.0
    want_means = f.mean(axis=0)
    want_luma = round(
        0.299 * want_means[0] + 0.587 * want_means[1] + 0.114 * want_means[2],
        6,
    )
    for mid in (1, 2):
        r = rows[mid]
        assert (r.width, r.height, r.n_frames) == (2, 2, 1)
        assert r.feature[0] == pytest.approx(round(want_means[0], 6))
        assert r.feature[6] == pytest.approx(want_luma)
        assert r.feature[7] == pytest.approx(1.0)  # aspect
    assert rows[1].feature == rows[2].feature


def test_real_resize_through_spark_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_ppm_bytes()))], "media_id long, media binary"
    )
    out = resize_media(
        df, width=4, height=2, resizer=numpy_resize_batch
    ).collect()[0]
    assert (out.width, out.height) == (4, 2)
    resized = decode_ppm(bytes(out.resized))
    # nearest-neighbor doubling along x: each source column repeats
    want = PIXELS[:, [0, 0, 1, 1]]
    np.testing.assert_array_equal(resized, want)


def test_undecodable_row_fails_naming_the_id(spark):
    df = spark.createDataFrame(
        [(7, bytearray(b"OggS compressed"))],
        "media_id long, media binary",
    )
    with pytest.raises(Exception, match="media_id=7"):
        extract_media_features(df, decoder=numpy_image_decoder).collect()


# --------------------------------------------------------------- audio


def _wav_bytes(bits=16, rate=8000, channels=1, samples=None) -> bytes:
    import struct

    if samples is None:
        # one full period of a square wave at rate/8 Hz, 16 samples
        samples = ([0.5] * 4 + [-0.5] * 4) * 2
    if bits == 16:
        body = b"".join(
            struct.pack("<h", int(s * 32768)) for s in samples
            for _ in range(channels)
        )
    else:
        body = bytes(
            int(s * 128) + 128 for s in samples for _ in range(channels)
        )
    block = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, bits
    )
    chunks = (
        b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"LIST" + (4).to_bytes(4, "little") + b"INFO"  # skipped chunk
        + b"data" + len(body).to_bytes(4, "little") + body
    )
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_wav_decode_matches_hand_arithmetic():
    import numpy as np

    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        decode_wav,
    )

    rate, x = decode_wav(_wav_bytes())
    assert rate == 8000 and x.shape == (16, 1)
    np.testing.assert_allclose(
        x[:, 0], ([0.5] * 4 + [-0.5] * 4) * 2, atol=1e-3
    )
    # 8-bit unsigned path
    rate8, x8 = decode_wav(_wav_bytes(bits=8))
    np.testing.assert_allclose(
        x8[:, 0], ([0.5] * 4 + [-0.5] * 4) * 2, atol=1e-2
    )
    # stereo interleave
    _, x2 = decode_wav(_wav_bytes(channels=2))
    assert x2.shape == (16, 2)
    np.testing.assert_allclose(x2[:, 0], x2[:, 1])


def test_wav_failures_are_loud():
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        decode_wav,
    )

    with pytest.raises(ValueError, match="not a riff"):
        decode_wav(b"OggS compressed audio")
    # format tag 85 = mp3-in-wav: needs ffmpeg
    raw = bytearray(_wav_bytes())
    raw[20] = 85
    with pytest.raises(ValueError, match="only PCM"):
        decode_wav(bytes(raw))


def test_audio_features_through_spark_plumbing(spark):
    import math

    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        extract_audio_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(_wav_bytes()))], "media_id long, media binary"
    )
    r = extract_audio_features(df).collect()[0]
    assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, 16)
    assert r.duration_s == pytest.approx(16 / 8000)
    # square wave at ±0.5: rms ≈ 0.5, peak ≈ 0.5, dc ≈ 0,
    # 3 sign flips over 15 transitions
    assert r.feature[0] == pytest.approx(0.5, abs=1e-3)   # rms
    assert r.feature[1] == pytest.approx(0.5, abs=1e-3)   # peak
    assert r.feature[2] == pytest.approx(3 / 15, abs=1e-6)  # zcr
    assert abs(r.feature[3]) < 1e-3                        # dc
    assert r.feature[7] == 0.0                             # silence frac
    bad = spark.createDataFrame(
        [(9, bytearray(b"OggS..."))], "media_id long, media binary"
    )
    with pytest.raises(Exception, match="media_id=9"):
        extract_audio_features(bad).collect()


def test_audio_frame_energies_localize_silence(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        audio_frame_energies,
    )

    # 3 frames at 8000 Hz / 25 ms = 200 samples each: loud, SILENT, loud
    samples = [0.5] * 200 + [0.0] * 200 + [-0.5] * 200
    df = spark.createDataFrame(
        [(1, bytearray(_wav_bytes(samples=samples)))],
        "media_id long, media binary",
    )
    rows = sorted(
        audio_frame_energies(df, frame_ms=25).collect(),
        key=lambda r: r.frame_index,
    )
    assert [r.n_frames for r in rows] == [3, 3, 3]
    assert [r.start_s for r in rows] == [0.0, 0.025, 0.05]
    assert rows[0].rms == pytest.approx(0.5, abs=1e-3)
    assert rows[1].rms == pytest.approx(0.0, abs=1e-4)  # the silent frame
    assert rows[2].peak == pytest.approx(0.5, abs=1e-3)
    # the VAD-style composition: silence trimming is a plain filter
    kept = audio_frame_energies(df, frame_ms=25).filter("rms > 0.01")
    assert sorted(r.frame_index for r in kept.collect()) == [0, 2]
    with pytest.raises(ValueError, match="frame_ms"):
        audio_frame_energies(df, frame_ms=0)


# ----------------------------------------------------------------- png
# Oracle strategy: the tests implement the FORWARD filter pass (RFC
# 2083 §6) in independent pure Python and hand-assemble the chunk
# framing, so decode_png is checked against the spec, not against
# encode_png (which is itself pinned by a separate round trip).

import zlib as _zlib

from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
    decode_png,
    encode_png,
    to_rgb,
)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = _zlib.crc32(ctype + data) & 0xFFFFFFFF
    return (
        len(data).to_bytes(4, "big") + ctype + data + crc.to_bytes(4, "big")
    )


def _png_assemble(
    w, h, color_type, scanlines, *, depth=8, interlace=0,
    split_idat=False, plte=None, trns=None
) -> bytes:
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([depth, color_type, 0, 0, interlace])
    )
    z = _zlib.compress(scanlines)
    if split_idat:  # IDAT chunks must concatenate into ONE zlib stream
        mid = len(z) // 2
        idat = _png_chunk(b"IDAT", z[:mid]) + _png_chunk(b"IDAT", z[mid:])
    else:
        idat = _png_chunk(b"IDAT", z)
    aux = b""
    if plte is not None:
        aux += _png_chunk(b"PLTE", plte)
    if trns is not None:
        aux += _png_chunk(b"tRNS", trns)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + aux
        + idat
        + _png_chunk(b"IEND", b"")
    )


def _png_forward_filter(px: np.ndarray, ftypes) -> bytes:
    """Independent forward filter: pixels + per-row filter types →
    scanline bytes (filter byte + filtered row), pure-Python ints."""
    h, w, c = px.shape
    bpp = c
    out = bytearray()
    prev = [0] * (w * c)
    for y, t in zip(range(h), ftypes):
        raw = [int(v) for v in px[y].reshape(-1)]
        n = len(raw)
        if t == 0:
            filt = raw
        elif t == 1:
            filt = [
                (raw[x] - (raw[x - bpp] if x >= bpp else 0)) % 256
                for x in range(n)
            ]
        elif t == 2:
            filt = [(raw[x] - prev[x]) % 256 for x in range(n)]
        elif t == 3:
            filt = [
                (
                    raw[x]
                    - ((raw[x - bpp] if x >= bpp else 0) + prev[x]) // 2
                )
                % 256
                for x in range(n)
            ]
        else:  # 4, Paeth
            filt = []
            for x in range(n):
                a = raw[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                filt.append((raw[x] - pr) % 256)
        out += bytes([t]) + bytes(filt)
        prev = raw
    return bytes(out)


def test_png_hand_assembled_matches_ppm_twin():
    scan = _png_forward_filter(PIXELS, [0, 0])
    png = _png_assemble(2, 2, 2, scan)
    assert sniff_format(png) == "png"
    np.testing.assert_array_equal(decode_png(png), PIXELS)
    # the PPM twin of the same pixels decodes byte-identically
    np.testing.assert_array_equal(
        to_rgb(decode_png(png)), decode_ppm(_ppm_bytes())
    )
    # IDAT split across two chunks is still one zlib stream
    np.testing.assert_array_equal(
        decode_png(_png_assemble(2, 2, 2, scan, split_idat=True)), PIXELS
    )


def test_png_every_filter_type_against_forward_oracle():
    rng = np.random.default_rng(7)
    for channels, color_type in ((1, 0), (2, 4), (3, 2), (4, 6)):
        px = rng.integers(
            0, 256, size=(5, 4, channels), dtype=np.uint8
        )
        # one row per filter type, incl. Paeth after a real prev row
        scan = _png_forward_filter(px, [0, 1, 2, 3, 4])
        got = decode_png(_png_assemble(4, 5, color_type, scan))
        np.testing.assert_array_equal(got, px)


def test_png_encode_decode_roundtrip():
    rng = np.random.default_rng(11)
    for channels in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(3, 6, channels), dtype=np.uint8)
        np.testing.assert_array_equal(decode_png(encode_png(px)), px)
    # 2-D grayscale input normalizes to (h, w, 1)
    flat = rng.integers(0, 256, size=(3, 6), dtype=np.uint8)
    np.testing.assert_array_equal(
        decode_png(encode_png(flat)), flat[:, :, None]
    )


def test_png_failures_are_loud():
    scan = _png_forward_filter(PIXELS, [0, 0])
    good = _png_assemble(2, 2, 2, scan)
    # flip one byte inside IDAT payload -> crc mismatch naming the chunk
    idat_at = good.index(b"IDAT")
    corrupt = bytearray(good)
    corrupt[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="crc mismatch"):
        decode_png(bytes(corrupt))
    with pytest.raises(ValueError, match="interlace"):
        decode_png(_png_assemble(2, 2, 2, scan, interlace=2))
    # interlace=1 with non-interlaced body: pass-size bookkeeping fails
    with pytest.raises(ValueError, match="interlaced scanlines"):
        decode_png(_png_assemble(2, 2, 2, scan, interlace=1))
    # depth 16 is supported since round 11; an 8-bit-sized body under
    # a 16-bit header is now a loud size mismatch, and sub-byte
    # depths stay rejected by name
    with pytest.raises(ValueError, match="scanlines"):
        decode_png(_png_assemble(2, 2, 2, scan, depth=16))
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(_png_assemble(2, 2, 2, scan, depth=1))
    with pytest.raises(ValueError, match="palette"):
        decode_png(_png_assemble(2, 2, 3, scan))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-6])  # cut mid-IEND -> no terminator
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[: idat_at + 10])  # cut mid-IDAT payload
    # valid framing, garbage zlib stream
    bad_idat = (
        good[: idat_at - 4]
        + _png_chunk(b"IDAT", b"\xff\xfe\xfd\xfc")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflate"):
        decode_png(bad_idat)
    # scanline count disagrees with IHDR geometry
    with pytest.raises(ValueError, match="promises"):
        decode_png(_png_assemble(2, 3, 2, scan))
    # unknown filter type on a scanline
    bad_filter = bytes([9]) + scan[1 : 1 + 6] + scan[7:]
    with pytest.raises(ValueError, match="filter type"):
        decode_png(_png_assemble(2, 2, 2, bad_filter))


def test_png_through_spark_plumbing(spark):
    rgb = _png_assemble(2, 2, 2, _png_forward_filter(PIXELS, [0, 1]))
    # RGBA twin: same colors, varying alpha -> identical features
    # (alpha is a documented channel projection, not a blend)
    rgba_px = np.dstack(
        [PIXELS, np.array([[0, 64], [128, 255]], dtype=np.uint8)]
    )
    rgba = encode_png(rgba_px)
    gray_px = np.full((2, 2, 1), 77, dtype=np.uint8)
    gray = encode_png(gray_px)
    df = spark.createDataFrame(
        [
            (1, bytearray(_ppm_bytes())),
            (2, bytearray(rgb)),
            (3, bytearray(rgba)),
            (4, bytearray(gray)),
        ],
        "media_id long, media binary",
    )
    rows = {
        r.media_id: r
        for r in extract_media_features(
            df, decoder=numpy_image_decoder
        ).collect()
    }
    # containers with the same RGB pixels read the same features
    assert rows[1].feature == rows[2].feature == rows[3].feature
    # grayscale replicates: all three channel means equal 77/255
    g = rows[4]
    assert g.feature[0] == g.feature[1] == g.feature[2]
    assert g.feature[0] == pytest.approx(round(77 / 255.0, 6))
    # png rows resize through the shared resizer too (re-encoded as ppm)
    out = resize_media(
        df.where("media_id = 2"), width=1, height=1,
        resizer=numpy_resize_batch,
    ).collect()[0]
    np.testing.assert_array_equal(
        decode_ppm(bytes(out.resized)), PIXELS[1:2, 1:2]
    )


def test_png_palette_decodes_to_rgb_twin():
    """A palette PNG of the fixture colors decodes pixel-identical to
    the direct-RGB PNG twin; filters run over INDEX bytes (a Sub row
    on indices must survive the lookup); tRNS widens to RGBA with 255
    backfill for unlisted entries."""
    # palette: entry order deliberately scrambled vs pixel order
    palette = bytes(
        [0, 0, 255,  255, 255, 255,  255, 0, 0,  0, 255, 0]
    )  # blue, white, red, green
    # PIXELS rows: (red, green) / (blue, white) -> indices 2,3 / 0,1
    idx = np.array([[2, 3], [0, 1]], dtype=np.uint8)[:, :, None]
    scan = _png_forward_filter(idx, [0, 1])  # row 1 uses Sub on indices
    pal_png = _png_assemble(2, 2, 3, scan, plte=palette)
    np.testing.assert_array_equal(decode_png(pal_png), PIXELS)
    # tRNS: first two palette entries get explicit alpha, rest 255
    pal_trns = _png_assemble(
        2, 2, 3, scan, plte=palette, trns=bytes([10, 20])
    )
    got = decode_png(pal_trns)
    assert got.shape == (2, 2, 4)
    np.testing.assert_array_equal(got[:, :, :3], PIXELS)
    # alpha follows the palette INDEX, not pixel position
    np.testing.assert_array_equal(
        got[:, :, 3], np.array([[255, 255], [10, 20]], dtype=np.uint8)
    )
    # and the feature path reads the palette image like its RGB twin
    f_pal = numpy_image_decoder(
        __import__("pandas").DataFrame(
            {"media_id": [1], "media": [pal_png]}
        )
    )["feature"][0]
    f_rgb = numpy_image_decoder(
        __import__("pandas").DataFrame(
            {"media_id": [2], "media": [encode_png(PIXELS)]}
        )
    )["feature"][0]
    assert f_pal == f_rgb


def test_png_palette_failures_are_loud():
    idx = np.zeros((2, 2, 1), dtype=np.uint8)
    scan = _png_forward_filter(idx, [0, 0])
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(_png_assemble(2, 2, 3, scan))  # no palette at all
    with pytest.raises(ValueError, match="well-formed"):
        decode_png(_png_assemble(2, 2, 3, scan, plte=b"\x00\x01"))
    # index beyond the palette
    hot = np.full((2, 2, 1), 9, dtype=np.uint8)
    with pytest.raises(ValueError, match="out of range"):
        decode_png(
            _png_assemble(
                2, 2, 3, _png_forward_filter(hot, [0, 0]),
                plte=bytes(9),
            )
        )
    # tRNS longer than the palette
    with pytest.raises(ValueError, match="tRNS"):
        decode_png(
            _png_assemble(
                2, 2, 3, scan, plte=bytes(3), trns=bytes([1, 2])
            )
        )
    # tRNS on a non-palette image (16-bit transparency machinery)
    rgb_scan = _png_forward_filter(PIXELS, [0, 0])
    with pytest.raises(ValueError, match="tRNS"):
        decode_png(
            _png_assemble(2, 2, 2, rgb_scan, trns=bytes([0, 1]))
        )


# ----------------------------------------------------------------- gif
# Oracle strategy: the tests implement a REAL GIF-LZW compressor
# (growing dictionary, the spec's width-growth timing) independently in
# pure Python and hand-assemble the container, so decode_gif is checked
# against the spec — including dictionary growth across several width
# bumps — not against the module's naive fixture encoder (which is
# pinned separately by round trip).

from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
    decode_gif,
    encode_gif,
    numpy_gif_frame_sampler,
)


def _lzw_compress_real(min_code_size: int, indices) -> bytes:
    """Spec GIF-LZW: emit code for longest known prefix, add extended
    string, grow code width when next_code reaches 2**width + 1."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    codes = [(clear, width)]
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    prev = b""
    for v in indices:
        cur = prev + bytes([int(v)])
        if cur in table:
            prev = cur
            continue
        codes.append((table[prev], width))
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        prev = bytes([int(v)])
    codes.append((table[prev], width))
    codes.append((end, width))
    acc = nbits = 0
    out = bytearray()
    for c, wd in codes:
        acc |= c << nbits
        nbits += wd
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_frame_block(
    left, top, fw, fh, indices, min_code, *, interlace=False, gce=None
) -> bytes:
    out = bytearray()
    if gce is not None:
        packed, delay, tidx = gce
        out += bytes([0x21, 0xF9, 4, packed, delay & 0xFF,
                      delay >> 8, tidx, 0])
    out += bytes([0x2C])
    out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
    out += fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0, min_code])
    z = _lzw_compress_real(min_code, indices)
    for i in range(0, len(z), 255):
        chunk = z[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def _gif_assemble(w, h, palette: bytes, frame_blocks, trailer=True) -> bytes:
    n_pal = len(palette) // 3
    bits = n_pal.bit_length() - 2  # palettes here are powers of two
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | bits, 0, 0]) + palette
    for b in frame_blocks:
        out += b
    if trailer:
        out += b"\x3b"
    return bytes(out)


# palette: 0 black, 1 red, 2 green, 3 blue
_PAL4 = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])


def test_gif_lzw_dictionary_growth_against_real_compressor():
    """A 24x24 frame with enough structure to push the dictionary
    through several width bumps; decode must reproduce every index."""
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 4, size=(24, 24), dtype=np.uint8)
    gif = _gif_assemble(
        24, 24, _PAL4, [_gif_frame_block(0, 0, 24, 24, idx.reshape(-1), 2)]
    )
    assert sniff_format(gif) == "gif"
    frames, delays = decode_gif(gif)
    assert len(frames) == 1 and delays == [0]
    lut = np.frombuffer(_PAL4, dtype=np.uint8).reshape(4, 3)
    np.testing.assert_array_equal(frames[0][:, :, :3], lut[idx])
    assert (frames[0][:, :, 3] == 255).all()


def test_gif_animation_compositing_transparency_and_disposal():
    """Frame 2 is a partial rect whose transparent pixels must SHOW
    frame 1 underneath; disposal=2 then clears the rect so frame 3
    sees transparent holes, and disposal=3 restores what frame 3
    covered before frame 4."""
    f1 = np.ones((4, 4), dtype=np.uint8)  # all red
    # 2x2 rect at (1,1): green, transparent / transparent, blue
    rect = np.array([[2, 0], [0, 3]], dtype=np.uint8)
    blocks = [
        _gif_frame_block(0, 0, 4, 4, f1.reshape(-1), 2,
                         gce=(0x00, 10, 0)),
        # transparency flag on, transparent index 0, disposal 2
        _gif_frame_block(1, 1, 2, 2, rect.reshape(-1), 2,
                         gce=(0x01 | (2 << 2), 20, 0)),
        # full-canvas green with disposal 3 (restore previous)
        _gif_frame_block(0, 0, 4, 4,
                         np.full(16, 2, dtype=np.uint8), 2,
                         gce=(0x00 | (3 << 2), 30, 0)),
        # tiny corner dot after the disposal-3 restore
        _gif_frame_block(0, 0, 1, 1, np.array([3], dtype=np.uint8), 2),
    ]
    frames, delays = decode_gif(_gif_assemble(4, 4, _PAL4, blocks))
    assert delays == [10, 20, 30, 0]
    lut = np.frombuffer(_PAL4, dtype=np.uint8).reshape(4, 3)
    red, green, blue = lut[1], lut[2], lut[3]
    # frame 1: all red
    assert (frames[0][:, :, :3] == red).all()
    # frame 2: red canvas, green at (1,1), blue at (2,2); the rect's
    # transparent cells show the red underneath
    np.testing.assert_array_equal(frames[1][1, 1, :3], green)
    np.testing.assert_array_equal(frames[1][2, 2, :3], blue)
    np.testing.assert_array_equal(frames[1][1, 2, :3], red)
    np.testing.assert_array_equal(frames[1][0, 0, :3], red)
    # frame 3: disposal-2 cleared the rect -> then full green covers it
    assert (frames[2][:, :, :3] == green).all()
    # frame 4: disposal-3 restored the pre-frame-3 canvas (red with the
    # disposal-2 HOLE at the rect), then a blue dot at (0,0)
    np.testing.assert_array_equal(frames[3][0, 0, :3], blue)
    np.testing.assert_array_equal(frames[3][3, 3, :3], red)
    assert frames[3][1, 1, 3] == 0  # the hole stayed transparent


def test_gif_interlace_rows_deinterlaced():
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 4, size=(9, 3), dtype=np.uint8)
    # interlace pass order for 9 rows: 0,8 / 4 / 2,6 / 1,3,5,7
    order = [0, 8, 4, 2, 6, 1, 3, 5, 7]
    wire = idx[order]
    gif = _gif_assemble(
        3, 9, _PAL4,
        [_gif_frame_block(0, 0, 3, 9, wire.reshape(-1), 2, interlace=True)],
    )
    frames, _ = decode_gif(gif)
    lut = np.frombuffer(_PAL4, dtype=np.uint8).reshape(4, 3)
    np.testing.assert_array_equal(frames[0][:, :, :3], lut[idx])


def test_gif_encode_decode_roundtrip_and_feature_path():
    f1 = np.arange(16, dtype=np.uint8).reshape(4, 4) % 4
    f2 = (np.arange(16, dtype=np.uint8).reshape(4, 4) + 1) % 4
    gif = encode_gif([f1, f2], delays_cs=[7, 9])
    frames, delays = decode_gif(gif)
    assert len(frames) == 2 and delays == [7, 9]
    # encode_gif's synthesized palette entry i is (i, 2i, 3i)
    pal = np.array(
        [[i % 256, (2 * i) % 256, (3 * i) % 256] for i in range(4)],
        dtype=np.uint8,
    )
    np.testing.assert_array_equal(frames[0][:, :, :3], pal[f1])
    np.testing.assert_array_equal(frames[1][:, :, :3], pal[f2])
    # feature path: frame-0 features, REAL frame count reported
    feats = numpy_image_decoder(
        __import__("pandas").DataFrame({"media_id": [1], "media": [gif]})
    )
    assert feats["width"][0] == 4 and feats["n_frames"][0] == 2


def test_gif_failures_are_loud():
    idx = np.zeros(4, dtype=np.uint8)
    good = _gif_assemble(
        2, 2, _PAL4, [_gif_frame_block(0, 0, 2, 2, idx, 2)]
    )
    with pytest.raises(ValueError, match="not a gif"):
        decode_gif(b"GIF99a" + good[6:])
    with pytest.raises(ValueError, match="trailer"):
        decode_gif(good[:-1])
    with pytest.raises(ValueError, match="outside"):
        decode_gif(_gif_assemble(
            2, 2, _PAL4, [_gif_frame_block(1, 1, 2, 2, idx, 2)]
        ))
    with pytest.raises(ValueError, match="introducer"):
        decode_gif(good[:-1] + b"\x99\x3b")
    # corrupt LZW: flip bits inside the image data sub-block
    bad = bytearray(good)
    bad[-4] ^= 0xFF
    with pytest.raises(ValueError, match="lzw|index|sub-block"):
        decode_gif(bytes(bad))
    # palette index out of range (palette of 4, index 7)
    with pytest.raises(ValueError, match="out of range"):
        decode_gif(_gif_assemble(
            2, 2, _PAL4,
            [_gif_frame_block(0, 0, 2, 2,
                              np.array([7, 0, 0, 0], dtype=np.uint8), 3)],
        ))


def test_gif_frame_sampler_through_spark_plumbing(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.multimodal import (
        sample_frames,
    )

    frames = [
        (np.arange(16, dtype=np.uint8).reshape(4, 4) + k) % 4
        for k in range(6)
    ]
    gif = encode_gif(frames)
    df = spark.createDataFrame(
        [(1, bytearray(gif))], "media_id long, media binary"
    )
    rows = sample_frames(
        df, max_frames=3, frame_sampler=numpy_gif_frame_sampler
    ).collect()
    # 6 frames at stride 2 -> indices 0, 2, 4
    assert [(r.frame_index, r.n_frames) for r in rows] == [
        (0, 6), (2, 6), (4, 6),
    ]
    # frame hashes are content hashes of the composited canvases
    want = decode_gif(gif)[0]
    import hashlib as hl
    assert rows[0].frame_hash == hl.md5(want[0].tobytes()).hexdigest()
    assert rows[2].frame_hash == hl.md5(want[4].tobytes()).hexdigest()


_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def test_png_adam7_interlace_against_forward_oracle():
    """Forward-interlace in the test (independent pass extraction +
    per-pass forward filtering, every filter type exercised), decode
    must reassemble the original — including odd sizes where some
    passes are EMPTY and pass widths differ."""
    rng = np.random.default_rng(13)
    for (h, w), channels, color_type in (
        ((9, 9), 3, 2),    # pass widths 2/1/... with empties nowhere
        ((1, 1), 1, 0),    # only pass 1 is non-empty
        ((2, 3), 4, 6),    # passes 3,5 empty in one dimension
        ((16, 5), 2, 4),
    ):
        px = rng.integers(0, 256, size=(h, w, channels), dtype=np.uint8)
        body = b""
        for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
            sub = px[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            ftypes = [(pi + r) % 5 for r in range(sub.shape[0])]
            body += _png_forward_filter(sub, ftypes)
        png = _png_assemble(w, h, color_type, body, interlace=1)
        np.testing.assert_array_equal(decode_png(png), px, err_msg=f"{h}x{w}c{channels}")


def test_png_adam7_palette_and_feature_parity():
    """An interlaced palette PNG reads identically to its plain twin
    through the whole feature path."""
    rng = np.random.default_rng(17)
    idx = rng.integers(0, 4, size=(10, 7, 1), dtype=np.uint8)
    palette = bytes(range(12))
    body = b""
    for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
        sub = idx[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        body += _png_forward_filter(sub, [0] * sub.shape[0])
    inter = _png_assemble(7, 10, 3, body, interlace=1, plte=palette)
    plain = _png_assemble(
        7, 10, 3, _png_forward_filter(idx, [0] * 10), plte=palette
    )
    np.testing.assert_array_equal(decode_png(inter), decode_png(plain))


def _u16_byte_view(px16: np.ndarray) -> np.ndarray:
    """uint16 (h, w, c) → big-endian byte view (h, w, 2c) so the
    8-bit forward-filter oracle applies unchanged — RFC 2083 filters
    are byte-oriented regardless of sample depth, which is exactly
    the property this reuse pins."""
    h, w, c = px16.shape
    return px16.astype(">u2").view(np.uint8).reshape(h, w, 2 * c)


def test_png_16bit_every_filter_type_against_forward_oracle():
    rng = np.random.default_rng(23)
    for channels, color_type in ((1, 0), (3, 2), (2, 4), (4, 6)):
        px = rng.integers(
            0, 65536, size=(5, 4, channels), dtype=np.uint16
        )
        scan = _png_forward_filter(_u16_byte_view(px), [0, 1, 2, 3, 4])
        png = _png_assemble(4, 5, color_type, scan, depth=16)
        got = decode_png(png)
        assert got.dtype == np.uint16
        np.testing.assert_array_equal(got, px, err_msg=f"c{channels}")


def test_png_16bit_roundtrip_and_adam7():
    rng = np.random.default_rng(29)
    px = rng.integers(0, 65536, size=(9, 7, 4), dtype=np.uint16)
    got = decode_png(encode_png(px))
    assert got.dtype == np.uint16
    np.testing.assert_array_equal(got, px)
    # Adam7 at depth 16: per-pass forward filtering over byte views
    body = b""
    for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        body += _png_forward_filter(
            _u16_byte_view(sub), [(pi + r) % 5 for r in range(sub.shape[0])]
        )
    inter = _png_assemble(7, 9, 6, body, depth=16, interlace=1)
    np.testing.assert_array_equal(decode_png(inter), px)


def test_png_color_key_transparency_non_palette():
    """tRNS on gray/RGB names ONE transparent color (2-byte big-endian
    samples): output widens with alpha, never silently drops it."""
    # 8-bit RGB: pixel (10, 20, 30) is the key
    px = np.array(
        [[[10, 20, 30], [10, 20, 31]], [[0, 0, 0], [10, 20, 30]]],
        dtype=np.uint8,
    )
    scan = _png_forward_filter(px, [0, 0])
    trns = (10).to_bytes(2, "big") + (20).to_bytes(2, "big") + (30).to_bytes(2, "big")
    got = decode_png(_png_assemble(2, 2, 2, scan, trns=trns))
    assert got.shape == (2, 2, 4)
    np.testing.assert_array_equal(got[..., :3], px)
    np.testing.assert_array_equal(
        got[..., 3], [[0, 255], [255, 0]]
    )
    # 16-bit gray: key 0x1234
    g = np.array([[[0x1234], [0x1235]]], dtype=np.uint16)
    scan16 = _png_forward_filter(_u16_byte_view(g), [0])
    got16 = decode_png(
        _png_assemble(2, 1, 0, scan16, depth=16,
                      trns=(0x1234).to_bytes(2, "big"))
    )
    assert got16.dtype == np.uint16 and got16.shape == (1, 2, 2)
    np.testing.assert_array_equal(got16[..., 1], [[0, 65535]])
    # tRNS on an alpha type is invalid; wrong length is loud
    with pytest.raises(ValueError, match="invalid"):
        decode_png(_png_assemble(2, 2, 6,
                                 _png_forward_filter(
                                     np.zeros((2, 2, 4), np.uint8),
                                     [0, 0]),
                                 trns=b"\x00\x01"))
    with pytest.raises(ValueError, match="must be"):
        decode_png(_png_assemble(2, 2, 2, scan, trns=b"\x00\x01"))


def test_png_16bit_rejections_stay_loud():
    # palette cannot be 16-bit per spec
    idx = np.zeros((2, 2, 1), dtype=np.uint8)
    scan = _png_forward_filter(idx, [0, 0])
    with pytest.raises(ValueError, match="16-bit"):
        decode_png(
            _png_assemble(2, 2, 3, scan, depth=16, plte=bytes(range(6)))
        )
    # sub-byte depths still rejected loudly
    with pytest.raises(ValueError, match="depth 4"):
        decode_png(_png_assemble(2, 2, 0, scan, depth=4))


# ----------------------------------------------------------------- mp4

from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
    extract_video_metadata,
    probe_mp4,
)


def _box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def _mp4_bytes(*, largesize_mdat=False) -> bytes:
    # mvhd v0: flags(4) created(4) modified(4) timescale(4) duration(4)
    mvhd = _box(
        b"mvhd",
        bytes(4) + bytes(8) + (1000).to_bytes(4, "big")
        + (7500).to_bytes(4, "big") + bytes(80),
    )

    def tkhd(w, h):
        # v0: flags(4) created(4) modified(4) id(4) rsvd(4) dur(4)
        # rsvd(8) layer(2) group(2) vol(2) rsvd(2) matrix(36) w(4) h(4)
        body = bytes(4 + 12 + 8 + 8 + 8 + 36)
        body += (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
        return _box(b"tkhd", body)

    def trak(w, h, fourcc):
        entry = (16).to_bytes(4, "big") + fourcc + bytes(8)
        stsd = _box(
            b"stsd", bytes(4) + (1).to_bytes(4, "big") + entry
        )
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", minf)
        return _box(b"trak", tkhd(w, h) + mdia)

    moov = _box(
        b"moov",
        mvhd + trak(640, 360, b"avc1") + trak(0, 0, b"mp4a"),
    )
    ftyp = _box(b"ftyp", b"isom" + bytes(4) + b"isomavc1")
    payload = b"\x00" * 32
    if largesize_mdat:
        mdat = (
            (1).to_bytes(4, "big") + b"mdat"
            + (16 + len(payload)).to_bytes(8, "big") + payload
        )
    else:
        mdat = _box(b"mdat", payload)
    return ftyp + moov + mdat


def test_mp4_probe_reads_container_metadata():
    meta = probe_mp4(_mp4_bytes())
    assert meta == {
        "major_brand": "isom",
        "duration_s": 7.5,
        "n_tracks": 2,
        "width": 640,
        "height": 360,
        "codecs": ["avc1", "mp4a"],
    }
    # 64-bit largesize boxes parse too
    assert probe_mp4(_mp4_bytes(largesize_mdat=True))["n_tracks"] == 2


def test_mp4_probe_failures_are_loud():
    with pytest.raises(ValueError, match="not an mp4"):
        probe_mp4(b"\x00\x00\x00\x08free" + b"\x00" * 64)
    # box size overruns its container
    bad = bytearray(_mp4_bytes())
    moov_at = bad.index(b"moov") - 4
    bad[moov_at : moov_at + 4] = (2**31).to_bytes(4, "big")
    with pytest.raises(ValueError, match="overruns"):
        probe_mp4(bytes(bad))


def test_mp4_metadata_through_spark_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(_mp4_bytes()))], "media_id long, media binary"
    )
    r = extract_video_metadata(df).collect()[0]
    assert (r.duration_s, r.n_tracks, r.width, r.height) == (
        7.5, 2, 640, 360,
    )
    assert list(r.codecs) == ["avc1", "mp4a"]
    bad = spark.createDataFrame(
        [(9, bytearray(b"RIFFxxxxWEBP"))], "media_id long, media binary"
    )
    with pytest.raises(Exception, match="media_id=9"):
        extract_video_metadata(bad).collect()


# -------------------------------------------------------- image quality

from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
    image_quality_stats,
)


def test_image_quality_signals_separate_blank_noisy_gray(spark):
    """Hand-computable fixtures: a blank mid-gray image (contrast,
    sharpness, saturation all ~0), a checkerboard (max contrast +
    sharpness, zero saturation), a saturated flat red (saturation 1,
    sharpness 0), and a black frame (extreme_frac 1)."""
    rng = np.random.default_rng(19)
    blank = np.full((8, 8, 3), 128, dtype=np.uint8)
    checker = np.zeros((8, 8, 3), dtype=np.uint8)
    checker[(np.add.outer(np.arange(8), np.arange(8)) % 2) == 1] = 255
    red = np.zeros((8, 8, 3), dtype=np.uint8)
    red[:, :, 0] = 200
    black = np.zeros((8, 8, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_ppm(blank))),
            (2, bytearray(encode_png(checker))),   # via the PNG path
            (3, bytearray(encode_ppm(red))),
            (4, bytearray(encode_ppm(black))),
        ],
        "media_id long, media binary",
    )
    rows = {r.media_id: r for r in image_quality_stats(df).collect()}
    b, c, r3, k = rows[1], rows[2], rows[3], rows[4]
    assert b.brightness == pytest.approx(128 / 255, abs=1e-6)
    assert b.contrast == 0.0 and b.sharpness == 0.0
    assert b.saturation == 0.0 and b.extreme_frac == 0.0
    # checkerboard: half 0 half 255 -> contrast = 0.5, huge laplacian
    assert c.contrast == pytest.approx(0.5, abs=1e-6)
    assert c.sharpness > 1.0 and c.saturation == 0.0
    assert c.extreme_frac == 1.0  # all pixels at 0 or 255 luma
    # flat red: fully saturated, zero sharpness/contrast
    assert r3.saturation == 1.0 and r3.sharpness == 0.0
    assert k.extreme_frac == 1.0 and k.brightness == 0.0
    # the curation read: a plain filter drops blank/blurry rows
    kept = (
        image_quality_stats(df)
        .where("contrast > 0.05 and sharpness > 0.001")
        .collect()
    )
    assert {r.media_id for r in kept} == {2}
