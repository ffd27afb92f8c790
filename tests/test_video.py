"""Y4M / AVI video decode — containers built BY HAND here
(independent of the reader), pixels pinned against spec arithmetic:
BT.601 limited-range conversion recomputed scalar-side for Y4M, exact
BGR/stride round-trips for DIB-AVI, and the MJPEG missing-DHT splice
checked by stripping the tables from a frame encoded with the
independent test encoder (tests/test_jpeg.py) and asserting identical
pixels. The reference pipeline has no video surface; this is
north-star multimodal work, tested like the other codecs."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from data_pipeline_project_using_telegram_and_aws_spark.operators.video import (
    _K_LUM_AC,
    _K_LUM_DC,
    decode_avi_frames,
    decode_video_frames,
    decode_y4m,
    frames_decodable,
    numpy_video_frame_sampler,
    probe_avi,
    probe_video,
    probe_y4m,
    sample_frame_images,
    sniff_video,
)

# ------------------------------------------------------------ builders


def _y4m_bytes(frames_yuv, w, h, c="420jpeg", f="25:1", extra=""):
    """frames_yuv: list of (y, u, v) uint8 plane arrays (u/v None for
    mono)."""
    head = f"YUV4MPEG2 W{w} H{h} F{f} Ip A1:1 C{c}{extra}\x0a".encode()
    out = bytearray(head)
    for y, u, v in frames_yuv:
        out += b"FRAME\x0a" + y.astype(np.uint8).tobytes()
        if u is not None:
            out += u.astype(np.uint8).tobytes()
            out += v.astype(np.uint8).tobytes()
    return bytes(out)


def _avih(w, h, n_frames, n_streams, uspf=40000):
    body = struct.pack(
        "<14I", uspf, 0, 0, 0, n_frames, 0, n_streams, 0, w, h, 0, 0,
        0, 0,
    )
    return b"avih" + len(body).to_bytes(4, "little") + body


def _strh(fcc, handler, scale, rate, length):
    body = (
        fcc + handler
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, scale, rate, 0,
                      length, 0, 0, 0)
        + struct.pack("<4H", 0, 0, 0, 0)
    )
    return b"strh" + len(body).to_bytes(4, "little") + body


def _strf_vids(w, h, bits, compression):
    body = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, bits, compression, 0, 0, 0, 0, 0
    )
    return b"strf" + len(body).to_bytes(4, "little") + body


def _lst(ltype, body):
    return (
        b"LIST" + (len(body) + 4).to_bytes(4, "little") + ltype + body
    )


def _chunk(cid, body):
    pad = b"\x00" if len(body) & 1 else b""
    return cid + len(body).to_bytes(4, "little") + body + pad


def _avi_bytes(frame_chunks, w, h, compression, bits=24,
               rate=25, scale=1, audio_track=False, use_rec=False):
    strl_v = _lst(
        b"strl",
        _strh(b"vids", compression if compression != b"\x00" * 4 else b"DIB ",
              scale, rate, len(frame_chunks))
        + _strf_vids(w, h, bits, compression),
    )
    hdrl_body = _avih(w, h, len(frame_chunks),
                      2 if audio_track else 1) + strl_v
    if audio_track:
        # minimal audio strl ahead of nothing: stream 1, no data
        strl_a = _lst(
            b"strl",
            _strh(b"auds", b"\x00" * 4, 1, 8000, 0)
            + _chunk(b"strf", struct.pack("<HHIIHH", 1, 1, 8000,
                                          8000, 1, 8)[:16]),
        )
        hdrl_body += strl_a
    movi_chunks = b"".join(
        _chunk(b"00dc", fr) for fr in frame_chunks
    )
    if use_rec:
        movi_chunks = _lst(b"rec ", movi_chunks)
    body = _lst(b"hdrl", hdrl_body) + _lst(b"movi", movi_chunks)
    return b"RIFF" + (len(body) + 4).to_bytes(4, "little") + b"AVI " + body


def _bt601_rgb_scalar(y, u, v):
    """Independent scalar BT.601 limited-range conversion."""
    yf = (y - 16) * 255.0 / 219.0
    c = 255.0 / 224.0
    r = yf + c * 1.402 * (v - 128)
    g = (
        yf
        - c * (1.402 * 0.299 / 0.587) * (v - 128)
        - c * (1.772 * 0.114 / 0.587) * (u - 128)
    )
    b = yf + c * 1.772 * (u - 128)
    return [int(np.clip(round(x, 6), 0, 255)) for x in (r, g, b)]


# ------------------------------------------------------------- y4m


def test_y4m_solid_colors_match_scalar_bt601():
    w, h = 4, 2
    cases = [(16, 128, 128), (235, 128, 128), (81, 90, 240),
             (145, 54, 34), (41, 240, 110)]
    frames = [
        (np.full((h, w), y), np.full((h // 2, w // 2), u),
         np.full((h // 2, w // 2), v))
        for y, u, v in cases
    ]
    decoded, fps = decode_y4m(_y4m_bytes(frames, w, h))
    assert fps == 25.0 and len(decoded) == len(cases)
    for fr, (y, u, v) in zip(decoded, cases):
        want = _bt601_rgb_scalar(y, u, v)
        assert fr.shape == (h, w, 3)
        # every pixel of the solid frame equals the scalar conversion
        assert np.unique(fr.reshape(-1, 3), axis=0).tolist() == [want]


def test_y4m_chroma_geometry_and_upsample():
    # 422: chroma varies horizontally, each chroma sample covers 2 px
    w, h = 4, 2
    y = np.full((h, w), 128)
    u = np.tile(np.array([[64, 192]]), (h, 1))
    v = np.full((h, 2), 128)
    fr, _ = decode_y4m(_y4m_bytes([(y, u, v)], w, h, c="422"))
    row = fr[0][0]  # columns of the top row
    assert (row[0] == row[1]).all() and (row[2] == row[3]).all()
    assert not (row[0] == row[2]).all()
    # 444: full-resolution chroma
    u4 = np.zeros((h, w)) + np.arange(w) * 60 + 8
    fr4, _ = decode_y4m(
        _y4m_bytes([(y, u4, np.full((h, w), 128))], w, h, c="444")
    )
    row = fr4[0][0]
    assert len({tuple(p) for p in row}) == w
    # mono
    frm, _ = decode_y4m(
        _y4m_bytes([(np.full((h, w), 100), None, None)], w, h, c="mono")
    )
    want = _bt601_rgb_scalar(100, 128, 128)
    assert np.unique(frm[0].reshape(-1, 3), axis=0).tolist() == [want]


def test_y4m_framerate_and_probe():
    w, h = 2, 2
    frames = [(np.full((h, w), 80 + 10 * i),
               np.full((1, 1), 128), np.full((1, 1), 128))
              for i in range(5)]
    raw = _y4m_bytes(frames, w, h, f="30000:1001")
    meta = probe_y4m(raw)
    assert meta["width"] == 2 and meta["n_tracks"] == 1
    assert meta["duration_s"] == pytest.approx(5 * 1001 / 30000, abs=1e-5)
    assert meta["codecs"] == ["rawvideo/C420jpeg"]
    _, fps = decode_y4m(raw)
    assert fps == pytest.approx(30000 / 1001)


def test_y4m_failures_are_loud():
    w, h = 2, 2
    ok = _y4m_bytes(
        [(np.full((h, w), 80), np.full((1, 1), 128),
          np.full((1, 1), 128))], w, h
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(ok[:-2])
    with pytest.raises(ValueError, match="interlacing"):
        decode_y4m(ok.replace(b" Ip ", b" It "))
    with pytest.raises(ValueError, match="divisible"):
        _y4m = _y4m_bytes(
            [(np.full((3, 3), 80), np.full((1, 1), 128),
              np.full((1, 1), 128))], 3, 3
        )
        decode_y4m(_y4m)
    with pytest.raises(ValueError, match="not a y4m"):
        decode_y4m(b"MPEG4 something")
    with pytest.raises(ValueError, match="bad FRAME marker"):
        decode_y4m(ok.replace(b"FRAME", b"FRAMR"))


# ------------------------------------------------------------- avi


def _dib_frame(rgb: np.ndarray) -> bytes:
    """Independent DIB encoder: bottom-up, BGR, 4-byte row stride."""
    h, w = rgb.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    out = bytearray()
    for row in rgb[::-1]:
        line = bytearray()
        for px in row:
            line += bytes([px[2], px[1], px[0]])
        line += b"\x00" * (stride - len(line))
        out += line
    return bytes(out)


def test_avi_dib_frames_round_trip_exactly():
    rng = np.random.default_rng(7)
    frames = [
        rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
        for _ in range(4)
    ]
    raw = _avi_bytes(
        [_dib_frame(f) for f in frames], 5, 3, b"\x00" * 4,
        rate=30, scale=1,
    )
    decoded, fps = decode_avi_frames(raw)
    assert fps == 30.0 and len(decoded) == 4
    for got, want in zip(decoded, frames):
        assert (got == want).all()
    meta = probe_avi(raw)
    assert (meta["width"], meta["height"]) == (5, 3)
    assert meta["codecs"] == ["DIB"]
    assert meta["duration_s"] == pytest.approx(4 / 30, abs=1e-6)


def test_avi_rec_lists_and_audio_stream_skipped():
    fr = np.zeros((2, 2, 3), np.uint8) + 99
    raw = _avi_bytes(
        [_dib_frame(fr)] * 2, 2, 2, b"\x00" * 4,
        audio_track=True, use_rec=True,
    )
    decoded, _ = decode_avi_frames(raw)
    assert len(decoded) == 2 and (decoded[0] == 99).all()
    assert probe_avi(raw)["n_tracks"] == 2


def _mjpeg_frame(dc_val: int, with_tables: bool) -> bytes:
    """A flat 8x8 grayscale JPEG built by the INDEPENDENT test
    encoder, using the Annex K luminance tables so the module's
    DHT splice decodes it identically when the tables are omitted."""
    from tests.test_jpeg import _dc_block, _jpeg_bytes

    raw = _jpeg_bytes(
        8, 8, [(1, 1, 1, 0)], [[_dc_block(dc_val)]], {0: [16] * 64},
        dc_spec=(list(_K_LUM_DC[0]), list(_K_LUM_DC[1])),
        ac_spec=(list(_K_LUM_AC[0]), list(_K_LUM_AC[1])),
    )
    if with_tables:
        return raw
    # strip the DHT segment (marker 0xC4)
    pos = 2
    while pos + 4 <= len(raw):
        marker = raw[pos + 1]
        size = int.from_bytes(raw[pos + 2 : pos + 4], "big")
        if marker == 0xC4:
            return raw[:pos] + raw[pos + 2 + size :]
        pos += 2 + size
    raise AssertionError("encoder emitted no DHT?")


def test_avi_mjpeg_with_and_without_dht_decode_identically():
    from data_pipeline_project_using_telegram_and_aws_spark.operators.jpeg import (
        decode_jpeg,
    )

    full = _mjpeg_frame(8, with_tables=True)
    bare = _mjpeg_frame(8, with_tables=False)
    assert b"\xff\xc4" in full and b"\xff\xc4" not in bare
    want = decode_jpeg(full)  # flat field: dc 8 * q 16 / 8 + 128 = 144
    assert (want == 144).all()
    raw = _avi_bytes([bare, full], 8, 8, b"MJPG")
    decoded, _ = decode_avi_frames(raw)
    assert len(decoded) == 2
    assert (decoded[0] == decoded[1]).all()
    assert (decoded[0][:, :, 0] == 144).all()
    # grayscale JPEG frames widen to 3 channels for pipeline parity
    assert decoded[0].shape == (8, 8, 3)


def test_avi_unknown_codec_is_loud():
    raw = _avi_bytes([b"xxxx"], 2, 2, b"H264")
    with pytest.raises(ValueError, match="H264"):
        decode_avi_frames(raw)


# ----------------------------------------------- dispatch + spark


def test_sniff_and_probe_dispatch():
    y4m = _y4m_bytes(
        [(np.full((2, 2), 80), np.full((1, 1), 128),
          np.full((1, 1), 128))], 2, 2
    )
    avi = _avi_bytes(
        [_dib_frame(np.zeros((2, 2, 3), np.uint8))], 2, 2, b"\x00" * 4
    )
    assert sniff_video(y4m) == "y4m"
    assert sniff_video(avi) == "avi"
    assert sniff_video(b"\x00\x00\x00\x18ftypisom....") == "mp4"
    assert sniff_video(b"garbage") is None
    assert probe_video(y4m)["major_brand"] == "y4m"
    assert probe_video(avi)["major_brand"] == "avi"
    assert frames_decodable(y4m) and frames_decodable(avi)
    with pytest.raises(ValueError, match="avih"):
        probe_video(b"RIFF\x10\x00\x00\x00AVI corrupt")
    with pytest.raises(ValueError):
        probe_video(b"not video at all")
    with pytest.raises(ValueError):
        decode_video_frames(b"\x00\x00\x00\x18ftypisom")


def test_frame_sampler_through_spark(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.multimodal import (
        sample_frames,
    )

    w, h = 4, 2
    frames = [
        (np.full((h, w), 60 + 20 * i), np.full((1, 2), 128),
         np.full((1, 2), 128))
        for i in range(6)
    ]
    y4m = _y4m_bytes(frames, w, h)
    avi = _avi_bytes(
        [_dib_frame(np.full((h, w, 3), v, np.uint8)) for v in (10, 20)],
        w, h, b"\x00" * 4,
    )
    df = spark.createDataFrame(
        [(1, bytearray(y4m)), (2, bytearray(avi))],
        "media_id long, media binary",
    )
    rows = sample_frames(
        df, max_frames=3, frame_sampler=numpy_video_frame_sampler
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    # 6 y4m frames at max 3 → stride 2 → indices 0, 2, 4
    assert sorted(r.frame_index for r in by_id[1]) == [0, 2, 4]
    assert all(r.n_frames == 6 for r in by_id[1])
    assert sorted(r.frame_index for r in by_id[2]) == [0, 1]
    # distinct content → distinct hashes
    assert len({r.frame_hash for r in rows}) == 5


def test_frame_images_compose_with_image_pipeline(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        numpy_image_decoder,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.multimodal import (
        extract_media_features,
    )

    w, h = 4, 2
    avi = _avi_bytes(
        [_dib_frame(np.full((h, w, 3), v, np.uint8)) for v in (50, 200)],
        w, h, b"\x00" * 4,
    )
    df = spark.createDataFrame(
        [(9, bytearray(avi))], "media_id long, media binary"
    )
    frames = sample_frame_images(df, max_frames=4)
    feats = extract_media_features(
        frames.selectExpr(
            "media_id * 10 + frame_index as media_id",
            "frame_ppm as media",
        ),
        decoder=numpy_image_decoder,
    ).collect()
    assert {r.media_id for r in feats} == {90, 91}
    for r in feats:
        assert (r.width, r.height) == (w, h)
    # mean-channel feature reflects the flat frame values (50 vs 200)
    f = {r.media_id: r.feature[0] for r in feats}
    assert f[90] == pytest.approx(50 / 255, abs=0.01)
    assert f[91] == pytest.approx(200 / 255, abs=0.01)


def test_video_metadata_dispatch_through_spark(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        extract_video_metadata,
    )

    y4m = _y4m_bytes(
        [(np.full((2, 2), 80), np.full((1, 1), 128),
          np.full((1, 1), 128))], 2, 2
    )
    avi = _avi_bytes(
        [_dib_frame(np.zeros((4, 6, 3), np.uint8))], 6, 4, b"MJPG"
    )
    df = spark.createDataFrame(
        [(1, bytearray(y4m)), (2, bytearray(avi))],
        "media_id long, media binary",
    )
    rows = {r.media_id: r for r in extract_video_metadata(df).collect()}
    assert rows[1].major_brand == "y4m"
    assert rows[2].major_brand == "avi"
    assert rows[2].codecs == ["MJPG"]
    assert (rows[2].width, rows[2].height) == (6, 4)


def test_numpy_video_decoder_feature_rows(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.multimodal import (
        extract_media_features,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.video import (
        numpy_video_decoder,
    )

    w, h = 4, 2
    y4m = _y4m_bytes(
        [
            (np.full((h, w), 81), np.full((1, 2), 90),
             np.full((1, 2), 240)),                       # solid red
            (np.full((h, w), 145), np.full((1, 2), 54),
             np.full((1, 2), 34)),                        # solid green
        ],
        w, h, f="30:1",
    )
    df = spark.createDataFrame(
        [(5, bytearray(y4m))], "media_id long, media binary"
    )
    r = extract_media_features(df, decoder=numpy_video_decoder).collect()[0]
    assert (r.width, r.height, r.n_frames) == (w, h, 2)
    assert r.n_bytes == len(y4m)
    # feature: first-frame mean RGB (254,0,0)/255, last (0,255,0)/255,
    # fps/100, n_frames/100
    assert r.feature[0] == pytest.approx(254 / 255, abs=1e-5)
    assert r.feature[1] == 0.0 and r.feature[2] == 0.0
    assert r.feature[4] == pytest.approx(1.0, abs=1e-5)
    assert r.feature[6] == pytest.approx(0.3, abs=1e-6)
    assert r.feature[7] == pytest.approx(0.02, abs=1e-6)
    # loud on undecodable bytes, naming the id
    bad = spark.createDataFrame(
        [(7, bytearray(b"\x00\x00\x00\x18ftypisom"))],
        "media_id long, media binary",
    )
    with pytest.raises(Exception, match="media_id=7"):
        extract_media_features(bad, decoder=numpy_video_decoder).collect()


# --------------------------------- round-11 self-review regression pins


def test_avi_vids_without_strf_is_loud():
    strl_v = _lst(b"strl", _strh(b"vids", b"MJPG", 1, 25, 1))
    body = _lst(b"hdrl", _avih(8, 8, 1, 1) + strl_v) + _lst(
        b"movi", _chunk(b"00dc", b"\xff\xd8\xff\xd9")
    )
    raw = (
        b"RIFF" + (len(body) + 4).to_bytes(4, "little") + b"AVI " + body
    )
    with pytest.raises(ValueError, match="no strf"):
        decode_avi_frames(raw)


def test_avi_12bit_mjpeg_rejects_loudly_not_mod256():
    from tests.test_jpeg import _dc_block, _jpeg_bytes

    frame12 = _jpeg_bytes(
        8, 8, [(1, 1, 1, 0)], [[_dc_block(7616)]], {0: [1] * 64},
        sof_marker=0xC1, precision=12, dqt_16bit=True,
        dc_spec=([0, 0, 0, 12, 4] + [0] * 11, list(range(16))),
    )
    raw = _avi_bytes([frame12], 8, 8, b"MJPG")
    with pytest.raises(ValueError, match="12-bit"):
        decode_avi_frames(raw)


def test_y4m_high_bit_depth_colorspace_named_unsupported():
    from data_pipeline_project_using_telegram_and_aws_spark.operators.video import (
        frames_decodable,
    )

    raw = _y4m_bytes(
        [(np.full((2, 2), 80), np.full((1, 1), 128),
          np.full((1, 1), 128))], 2, 2,
    ).replace(b"C420jpeg", b"C420p10 ")
    # named as a colorspace limit, NOT a misleading bad-FRAME error
    with pytest.raises(ValueError, match="colorspace C420p10"):
        decode_y4m(raw)
    with pytest.raises(ValueError, match="colorspace C420p10"):
        probe_y4m(raw)
    assert not frames_decodable(raw)


def test_frames_decodable_mirrors_first_vids_stream():
    from data_pipeline_project_using_telegram_and_aws_spark.operators.video import (
        frames_decodable,
    )

    # first vids stream XVID, even with an MJPG-handler audio strl:
    # the flag must say False because decode_avi_frames will refuse
    strl_v = _lst(
        b"strl",
        _strh(b"vids", b"XVID", 1, 25, 1)
        + _strf_vids(8, 8, 24, b"XVID"),
    )
    strl_a = _lst(
        b"strl", _strh(b"auds", b"MJPG", 1, 8000, 0)
    )
    body = _lst(b"hdrl", _avih(8, 8, 1, 2) + strl_v + strl_a) + _lst(
        b"movi", _chunk(b"00dc", b"xxxx")
    )
    raw = (
        b"RIFF" + (len(body) + 4).to_bytes(4, "little") + b"AVI " + body
    )
    assert not frames_decodable(raw)
    with pytest.raises(ValueError, match="XVID"):
        decode_avi_frames(raw)
    # and a genuinely decodable DIB stream says True
    ok = _avi_bytes(
        [_dib_frame(np.zeros((2, 2, 3), np.uint8))], 2, 2, b"\x00" * 4
    )
    assert frames_decodable(ok)
    assert not frames_decodable(b"not a container")
