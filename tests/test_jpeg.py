"""Baseline JPEG decoder (operators/jpeg.py) against independently
hand-assembled JPEG streams: the tests build their own canonical
Huffman encoder, bit writer with byte stuffing, and segment framing,
choose the quantized coefficients directly, and check the decoded
pixels against EXACT arithmetic where the math is exact (DC-only
blocks: every pipeline layer except AC runs) and against an
independent closed-form cosine oracle (±1, the spec's own decoder
tolerance class) for AC coefficients."""

from __future__ import annotations

import numpy as np
import pytest

from data_pipeline_project_using_telegram_and_aws_spark.operators.jpeg import (
    _ZIGZAG,
    decode_jpeg,
)

# the published zigzag table: scan position -> raster index (row*8+col)
ZIGZAG_INDEX = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def test_zigzag_matches_published_table():
    assert [r * 8 + c for r, c in _ZIGZAG] == ZIGZAG_INDEX


# ---------------------------------------------------------- test encoder


def _canon_encode_table(counts, symbols):
    """Annex C canonical codes, symbol -> (code, length) — the
    encoder-side twin, written independently of the module."""
    m = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            m[symbols[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return m


class _Writer:
    def __init__(self):
        self.bits = []

    def put(self, val, n):
        for i in range(n):
            self.bits.append((val >> (n - 1 - i)) & 1)

    def entropy_bytes(self):
        bits = list(self.bits)
        while len(bits) % 8:
            bits.append(1)  # pad with 1s per the spec
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
            if b == 0xFF:
                out.append(0x00)  # byte stuffing
        return bytes(out)


def _category(v):
    return abs(v).bit_length()


def _put_coef_bits(wtr, v, t):
    if t:
        wtr.put(v if v > 0 else v + (1 << t) - 1, t)


def _encode_block(wtr, zz_coefs, pred, dc_map, ac_map):
    """zz_coefs: 64 quantized values in ZIGZAG order."""
    diff = zz_coefs[0] - pred
    t = _category(diff)
    code, ln = dc_map[t]
    wtr.put(code, ln)
    _put_coef_bits(wtr, diff, t)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz_coefs[k]), default=0)
    for k in range(1, last_nz + 1):
        v = zz_coefs[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_map[0xF0]  # ZRL
            wtr.put(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_map[(run << 4) | s]
        wtr.put(code, ln)
        _put_coef_bits(wtr, v, s)
        run = 0
    if last_nz != 63:
        code, ln = ac_map[0x00]  # EOB
        wtr.put(code, ln)
    return zz_coefs[0]


def _seg(marker, body):
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


# generous generic tables: DC categories 0-11 at 4 bits, every AC
# (run, size) symbol at 9 bits plus EOB/ZRL at 2 — lengths chosen to
# satisfy Kraft (2/4 + 160/512 <= 1; the old 8-bit layout was overfull
# past symbol 130 and the decoder now rejects overfull tables loudly)
_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_AC_COUNTS = [0, 2, 0, 0, 0, 0, 0, 0, 160] + [0] * 7


def _jpeg_bytes(
    h, w, comps, blocks_by_comp, qtables, *, restart_interval=0,
    sof_marker=0xC0, dc_spec=None, ac_spec=None, precision=8,
    dqt_16bit=False
):
    """comps: [(cid, hs, vs, tq)]; blocks_by_comp[ci] = list of
    zigzag-order 64-int arrays in MCU scan order."""
    dc_counts, dc_syms = dc_spec or (_DC_COUNTS, _DC_SYMBOLS)
    ac_counts, ac_syms = ac_spec or (_AC_COUNTS, _AC_SYMBOLS)
    dc_map = _canon_encode_table(dc_counts, dc_syms)
    ac_map = _canon_encode_table(ac_counts, ac_syms)
    out = bytearray(b"\xff\xd8")
    for tq, table in qtables.items():
        if dqt_16bit:
            out += _seg(0xDB, bytes([0x10 | tq]) + b"".join(
                int(x).to_bytes(2, "big") for x in table
            ))
        else:
            out += _seg(0xDB, bytes([tq]) + bytes(int(x) for x in table))
    sof_body = (
        bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    )
    sof_body += bytes([len(comps)])
    for cid, hs, vs, tq in comps:
        sof_body += bytes([cid, (hs << 4) | vs, tq])
    out += _seg(sof_marker, sof_body)
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms)
        + bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms),
    )
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos_body = bytes([len(comps)])
    for cid, *_ in comps:
        sos_body += bytes([cid, 0x00])  # dc table 0, ac table 0
    sos_body += bytes([0, 63, 0])
    out += _seg(0xDA, sos_body)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    preds = [0] * len(comps)
    wtr = _Writer()
    block_iters = [iter(b) for b in blocks_by_comp]
    rst_m = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            out += wtr.entropy_bytes()
            out += bytes([0xFF, 0xD0 + rst_m])
            rst_m = (rst_m + 1) % 8
            preds = [0] * len(comps)
            wtr = _Writer()
        for ci, (cid, hs, vs, tq) in enumerate(comps):
            for _ in range(hs * vs):
                preds[ci] = _encode_block(
                    wtr, next(block_iters[ci]), preds[ci], dc_map, ac_map
                )
    out += wtr.entropy_bytes()
    out += b"\xff\xd9"
    return bytes(out)


def _dc_block(dc):
    b = [0] * 64
    b[0] = dc
    return b


Q16 = [16] * 64
Q1 = [1] * 64


# ----------------------------------------------------------------- tests


def test_flat_gray_blocks_are_exact():
    """DC-only blocks decode EXACTLY: pixel = round(dc·q/8) + 128.
    Exercises framing, huffman, EXTEND, dequant, zigzag, IDCT scaling,
    level shift — everything but AC runs."""
    for dc, q, want in ((4, Q16, 136), (-8, Q16, 112), (0, Q16, 128)):
        raw = _jpeg_bytes(
            8, 8, [(1, 1, 1, 0)], [[_dc_block(dc)]], {0: q}
        )
        px = decode_jpeg(raw)
        assert px.shape == (8, 8, 1)
        assert (px == want).all(), (dc, px[0, 0, 0], want)


def test_dc_prediction_chains_across_blocks():
    """Stored DC values are DIFFS: the test encoder takes ABSOLUTE
    DCs (6 then 4) and stores diffs (+6, -2); the decoder must chain
    the prediction back to 140 | 136."""
    blocks = [_dc_block(6), _dc_block(4)]
    raw = _jpeg_bytes(8, 16, [(1, 1, 1, 0)], [blocks], {0: Q16})
    px = decode_jpeg(raw)[:, :, 0]
    assert (px[:, :8] == 128 + 6 * 2).all()   # dc 6 -> 12 + 128
    assert (px[:, 8:] == 128 + 4 * 2).all()   # dc 6-2=4 -> 8 + 128


def test_single_ac_coefficient_matches_cosine_oracle():
    """One AC coefficient -> closed-form cosine field, computed
    independently here; ±1 = the spec's decoder-tolerance class."""
    for zz_pos, val, q in ((1, 12, 16), (5, -9, 16), (20, 7, 8)):
        zz = [0] * 64
        zz[0] = 2
        zz[zz_pos] = val
        qt = [16] + [q] * 63
        raw = _jpeg_bytes(8, 8, [(1, 1, 1, 0)], [[zz]], {0: qt})
        px = decode_jpeg(raw)[:, :, 0].astype(np.float64)
        ridx = ZIGZAG_INDEX[zz_pos]
        u, v = divmod(ridx, 8)
        cu = np.sqrt(0.5) if u == 0 else 1.0
        cv = np.sqrt(0.5) if v == 0 else 1.0
        m = np.arange(8)
        want = (
            128.0
            + 2 * 16 / 8.0
            + (cu * cv / 4.0)
            * (val * q)
            * np.cos((2 * m[:, None] + 1) * u * np.pi / 16)
            * np.cos((2 * m[None, :] + 1) * v * np.pi / 16)
        )
        want = np.clip(np.round(want), 0, 255)
        assert np.abs(px - want).max() <= 1, (zz_pos, val, q)


def test_color_420_flat_matches_ycbcr_conversion():
    """16x16 4:2:0: one MCU, four Y blocks + one Cb + one Cr, all
    DC-only -> one flat RGB color, exact through BT.601."""
    ydc, cbdc, crdc = 6, -4, 5  # quantized DCs at q=16
    yblocks = [_dc_block(ydc) for _ in range(4)]
    raw = _jpeg_bytes(
        16, 16,
        [(1, 2, 2, 0), (2, 1, 1, 0), (3, 1, 1, 0)],
        [yblocks, [_dc_block(cbdc)], [_dc_block(crdc)]],
        {0: Q16},
    )
    px = decode_jpeg(raw)
    assert px.shape == (16, 16, 3)
    y = 128 + ydc * 2
    cb = 128 + cbdc * 2
    cr = 128 + crdc * 2
    want = np.clip(
        np.round(
            [
                y + 1.402 * (cr - 128),
                y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128),
                y + 1.772 * (cb - 128),
            ]
        ),
        0,
        255,
    ).astype(np.uint8)
    assert (px == want[None, None, :]).all(), (px[0, 0], want)


def test_422_and_cropping_non_multiple_dimensions():
    """12x10 4:2:2 flat color: the MCU grid overshoots to 16x16 and
    must crop back; chroma replicates 2x horizontally."""
    # 4:2:2 -> MCU 16x8; a 12x10 image needs 1x2 MCUs = 4 Y blocks
    yb = [_dc_block(4) for _ in range(4)]
    raw = _jpeg_bytes(
        10, 12,
        [(1, 2, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)],
        [yb, [_dc_block(2), _dc_block(2)], [_dc_block(-3), _dc_block(-3)]],
        {0: Q16},
    )
    px = decode_jpeg(raw)
    assert px.shape == (10, 12, 3)
    assert (px == px[0, 0]).all()  # flat everywhere after crop


def test_restart_markers_reset_dc_prediction():
    """DRI=1 with two MCUs: the same stored diff decodes to the same
    DC in both blocks (no reset would double the second)."""
    raw = _jpeg_bytes(
        8, 16, [(1, 1, 1, 0)], [[_dc_block(5), _dc_block(5)]],
        {0: Q16}, restart_interval=1,
    )
    assert b"\xff\xd0" in raw  # the RST0 marker is really in there
    px = decode_jpeg(raw)[:, :, 0]
    assert (px[:, :8] == px[:, 8:]).all()
    assert (px == 128 + 5 * 2).all()


def test_byte_stuffing_roundtrip():
    """A DC category-10 code of all-ones followed by value bits of
    all-ones forces a raw 0xFF entropy byte; the writer stuffs it and
    the reader must unstuff."""
    dc_spec = ([1, 2] + [0] * 14, [0, 9, 10])  # codes: 0, 10, 11
    ac_spec = ([1] + [0] * 15, [0x00])  # EOB = single 0 bit
    raw = _jpeg_bytes(
        8, 8, [(1, 1, 1, 0)], [[_dc_block(1023)]], {0: Q1},
        dc_spec=dc_spec, ac_spec=ac_spec,
    )
    assert b"\xff\x00" in raw  # stuffing genuinely exercised
    px = decode_jpeg(raw)[:, :, 0]
    assert (px == 255).all()  # 1023/8 + 128 clips to 255


def test_jpeg_failures_are_loud():
    good = _jpeg_bytes(8, 8, [(1, 1, 1, 0)], [[_dc_block(4)]], {0: Q16})
    with pytest.raises(ValueError, match="not a jpeg"):
        decode_jpeg(b"PNGish")
    # SOF0/1/2 are supported green paths since round 11 — lossless
    # (SOF3) stays loudly rejected
    with pytest.raises(ValueError, match="SOF 0xc3"):
        decode_jpeg(
            _jpeg_bytes(8, 8, [(1, 1, 1, 0)], [[_dc_block(4)]],
                        {0: Q16}, sof_marker=0xC3)
        )
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(good[: len(good) // 2])
    with pytest.raises(ValueError, match="no decodable scan"):
        decode_jpeg(b"\xff\xd8\xff\xd9")
    # flipping pq=1 on an 8-bit-sized DQT segment promises 128 bytes
    # the segment does not hold — truncation, loudly
    bad = bytearray(good)
    dqt_at = bad.index(b"\xff\xdb")
    bad[dqt_at + 4] = 0x10
    with pytest.raises(ValueError, match="DQT segment truncated"):
        decode_jpeg(bytes(bad))
    # precision 10 exists in no standard profile - rejected
    with pytest.raises(ValueError, match="precision 10"):
        decode_jpeg(
            _jpeg_bytes(8, 8, [(1, 1, 1, 0)], [[_dc_block(4)]],
                        {0: Q16}, precision=10)
        )
    # truncated DHT: counts promise 5 symbols, segment ships 2 — must
    # be ValueError naming the defect, not an IndexError from reading
    # past the segment
    trunc_dht = (
        b"\xff\xd8"
        + b"\xff\xc4" + (2 + 1 + 16 + 2).to_bytes(2, "big")
        + b"\x00" + bytes([5] + [0] * 15) + b"\x01\x02"
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="DHT segment truncated"):
        decode_jpeg(trunc_dht)
    # truncated DQT (segment length cuts the 64-entry table short)
    trunc_dqt = (
        b"\xff\xd8"
        + b"\xff\xdb" + (2 + 1 + 10).to_bytes(2, "big")
        + b"\x00" + bytes(10)
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="DQT segment truncated"):
        decode_jpeg(trunc_dqt)


def test_jpeg_through_spark_plumbing(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        numpy_image_decoder,
        sniff_format,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.multimodal import (
        extract_media_features,
    )

    raw = _jpeg_bytes(8, 8, [(1, 1, 1, 0)], [[_dc_block(4)]], {0: Q16})
    assert sniff_format(raw) == "jpeg"
    df = spark.createDataFrame(
        [(1, bytearray(raw))], "media_id long, media binary"
    )
    r = extract_media_features(df, decoder=numpy_image_decoder).collect()[0]
    assert (r.width, r.height) == (8, 8)
    # flat gray 136: every channel mean is 136/255 (grayscale
    # replicates through to_rgb)
    assert r.feature[0] == r.feature[1] == r.feature[2]
    assert r.feature[0] == pytest.approx(round(136 / 255, 6))


# ------------------------------------------- real-world encoder output
# De-correlation evidence: files produced by REAL encoders (libjpeg
# with the standard Annex K tables; real PNG encoders with adaptive
# per-row filters), shipped by packages in this environment. Skipped
# gracefully where absent — the hand-assembled differentials above are
# the portable oracle; these pin "works on bytes we didn't craft".

import os

_IPYTHON_JPG = (
    "/root/.pyenv/versions/3.11.7/lib/python3.11/site-packages/"
    "IPython/core/tests/2x2.jpg"
)
_WERKZEUG_PNGS = [
    "/root/.pyenv/versions/3.11.7/lib/python3.11/site-packages/"
    f"werkzeug/debug/shared/{f}"
    for f in ("less.png", "console.png", "more.png")
]
_DEBIAN_PNG = "/usr/share/pixmaps/debian-logo.png"


@pytest.mark.skipif(
    not os.path.exists(_IPYTHON_JPG), reason="fixture not installed"
)
def test_real_libjpeg_file_decodes():
    raw = open(_IPYTHON_JPG, "rb").read()
    px = decode_jpeg(raw)
    # known fixture: 2x2 single-component mid-gray, standard tables
    assert px.shape == (2, 2, 1)
    assert (px == 128).all()


@pytest.mark.skipif(
    not all(os.path.exists(p) for p in _WERKZEUG_PNGS + [_DEBIAN_PNG]),
    reason="fixtures not installed",
)
def test_real_png_encoder_files_decode():
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        decode_png,
    )

    shapes = {
        _WERKZEUG_PNGS[0]: (11, 11, 4),
        _WERKZEUG_PNGS[1]: (16, 16, 4),
        _WERKZEUG_PNGS[2]: (11, 11, 4),
        _DEBIAN_PNG: (48, 48, 4),
    }
    for path, want in shapes.items():
        px = decode_png(open(path, "rb").read())
        assert px.shape == want, path
        assert px.dtype == np.uint8


def test_full_block_and_zrl_runs():
    """A block with all 64 coefficients nonzero (no EOB emitted) and a
    block whose lone AC sits after 17 zeros (forcing a ZRL symbol)
    both decode against the cosine-sum oracle."""
    rng = np.random.default_rng(31)
    full = [int(v) for v in rng.integers(1, 5, 64)]  # all nonzero
    lone = [0] * 64
    lone[0] = 3
    lone[18] = -6  # 17 zeros between index 0 and 18 -> ZRL + run 1
    for zz in (full, lone):
        raw = _jpeg_bytes(8, 8, [(1, 1, 1, 0)], [[list(zz)]], {0: Q1})
        px = decode_jpeg(raw)[:, :, 0].astype(np.float64)
        # independent oracle: sum the cosine basis over all coefs
        m = np.arange(8)
        want = np.full((8, 8), 128.0)
        for pos in range(64):
            if zz[pos] == 0:
                continue
            ridx = ZIGZAG_INDEX[pos]
            u, v = divmod(ridx, 8)
            cu = np.sqrt(0.5) if u == 0 else 1.0
            cv = np.sqrt(0.5) if v == 0 else 1.0
            want += (
                (cu * cv / 4.0)
                * zz[pos]
                * np.cos((2 * m[:, None] + 1) * u * np.pi / 16)
                * np.cos((2 * m[None, :] + 1) * v * np.pi / 16)
            )
        want = np.clip(np.round(want), 0, 255)
        assert np.abs(px - want).max() <= 1


# --------------------------------------------- 12-bit precision (SOF1)

_DC16_COUNTS = [0, 0, 0, 12, 4] + [0] * 11  # categories 0..15
_DC16_SYMBOLS = list(range(16))


def test_12bit_flat_gray_exact():
    """Extended sequential (SOF1), 12-bit samples, 16-bit DQT with
    q=1: a flat block with DC=7616 must decode to exactly
    7616/8 + 2048 = 3000 at every pixel, as uint16."""
    raw = _jpeg_bytes(
        8, 8, [(1, 1, 1, 0)], [[_dc_block(7616)]], {0: Q1},
        sof_marker=0xC1, precision=12, dqt_16bit=True,
        dc_spec=(_DC16_COUNTS, _DC16_SYMBOLS),
    )
    px = decode_jpeg(raw)
    assert px.dtype == np.uint16 and px.shape == (8, 8, 1)
    assert (px == 3000).all()


def test_12bit_16bit_dqt_large_entries():
    """A quantizer entry above 255 (only representable in the pq=1
    form) scales the DC exactly: q=300, DC=8 → 300*8/8 + 2048 =
    2348."""
    raw = _jpeg_bytes(
        8, 8, [(1, 1, 1, 0)], [[_dc_block(8)]], {0: [300] * 64},
        sof_marker=0xC1, precision=12, dqt_16bit=True,
        dc_spec=(_DC16_COUNTS, _DC16_SYMBOLS),
    )
    px = decode_jpeg(raw)
    assert (px == 2348).all()


def test_12bit_color_conversion_centers_on_2048():
    """4:4:4 color at 12-bit: flat Y/Cb/Cr planes convert with the
    2048 chroma center (the 8-bit formulas' 128, scaled) — checked
    against independently computed float expressions."""
    y_v, cb_v, cr_v = 2600, 2300, 1800
    blocks = [
        [_dc_block((y_v - 2048) * 8)],
        [_dc_block((cb_v - 2048) * 8)],
        [_dc_block((cr_v - 2048) * 8)],
    ]
    raw = _jpeg_bytes(
        8, 8, [(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)], blocks,
        {0: Q1}, sof_marker=0xC1, precision=12, dqt_16bit=True,
        dc_spec=(_DC16_COUNTS, _DC16_SYMBOLS),
    )
    px = decode_jpeg(raw)
    assert px.dtype == np.uint16 and px.shape == (8, 8, 3)
    r = round(y_v + 1.402 * (cr_v - 2048))
    g = round(y_v - 0.344136 * (cb_v - 2048) - 0.714136 * (cr_v - 2048))
    b = round(y_v + 1.772 * (cb_v - 2048))
    want = [min(max(v, 0), 4095) for v in (r, g, b)]
    assert px[0, 0].tolist() == want
    assert (px == np.array(want, dtype=np.uint16)).all()


def test_sof1_8bit_decodes_like_baseline():
    """SOF1 at 8-bit is byte-identical entropy coding to SOF0 — the
    two markers must decode to the same pixels."""
    base = _jpeg_bytes(8, 8, [(1, 1, 1, 0)], [[_dc_block(64)]], {0: Q16})
    ext = _jpeg_bytes(
        8, 8, [(1, 1, 1, 0)], [[_dc_block(64)]], {0: Q16},
        sof_marker=0xC1,
    )
    assert (decode_jpeg(base) == decode_jpeg(ext)).all()
    assert decode_jpeg(ext).dtype == np.uint8
