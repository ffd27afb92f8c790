"""FLAC decoder (operators/flac.py) against independently
hand-assembled streams: the tests carry their own MSB-first bit
writer, rice coder, subframe/frame/STREAMINFO builders, and CRC
implementations (anchored to the published check values so the CRC
pair is de-correlated from the module's). FLAC is lossless integer
arithmetic, so every round trip demands EXACT sample equality."""

from __future__ import annotations

import numpy as np
import pytest

from data_pipeline_project_using_telegram_and_aws_spark.operators.flac import (
    _crc8,
    _crc16,
    decode_flac,
)


def test_crc_implementations_match_published_check_values():
    # CRC-8 (poly 0x07, init 0) and CRC-16/BUYPASS (poly 0x8005,
    # init 0, unreflected): the standard "123456789" check values.
    assert _crc8(b"123456789") == 0xF4
    assert _crc16(b"123456789") == 0xFEE8


# ---------------------------------------------------------- test encoder


class _W:
    def __init__(self):
        self.bits = []

    def u(self, v, n):
        for i in range(n):
            self.bits.append((v >> (n - 1 - i)) & 1)

    def s(self, v, n):
        self.u(v & ((1 << n) - 1), n)

    def unary(self, q):
        self.bits += [0] * q + [1]

    def align(self):
        while len(self.bits) % 8:
            self.bits.append(0)

    def to_bytes(self):
        assert len(self.bits) % 8 == 0
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _crc8_t(data):  # independent table-free twin (anchored above)
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_t(data):
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _streaminfo(rate, channels, bps, total):
    w = _W()
    w.u(16, 16)
    w.u(65535, 16)
    w.u(0, 24)
    w.u(0, 24)
    w.u(rate, 20)
    w.u(channels - 1, 3)
    w.u(bps - 1, 5)
    w.u(total, 36)
    body = w.to_bytes() + bytes(16)  # md5 zeros
    assert len(body) == 34
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _rice(w, residuals, param):
    for v in residuals:
        u = (v << 1) if v >= 0 else (-v << 1) - 1
        w.unary(u >> param)
        if param:
            w.u(u & ((1 << param) - 1), param)


def _residual_section(w, residuals, order, blocksize, *, param=3,
                      part_order=0, escape_raw_bits=None):
    w.u(0, 2)  # rice method 0 (4-bit params)
    w.u(part_order, 4)
    n_parts = 1 << part_order
    idx = 0
    for p in range(n_parts):
        n = blocksize // n_parts - (order if p == 0 else 0)
        chunk = residuals[idx : idx + n]
        idx += n
        if escape_raw_bits is not None and p == n_parts - 1:
            w.u(0xF, 4)
            w.u(escape_raw_bits, 5)
            for v in chunk:
                w.s(v, escape_raw_bits)
        else:
            w.u(param, 4)
            _rice(w, chunk, param)
    assert idx == len(residuals)


_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _sub_constant(w, v, bps):
    w.u(0, 1)
    w.u(0, 6)
    w.u(0, 1)
    w.s(v, bps)


def _sub_verbatim(w, vals, bps):
    w.u(0, 1)
    w.u(1, 6)
    w.u(0, 1)
    for v in vals:
        w.s(v, bps)


def _sub_fixed(w, samples, order, bps, *, wasted=0, param=3,
               part_order=0, escape_raw_bits=None):
    w.u(0, 1)
    w.u(8 + order, 6)
    if wasted:
        w.u(1, 1)
        w.unary(wasted - 1)
    else:
        w.u(0, 1)
    eff = bps - wasted
    coded = [v >> wasted for v in samples]
    for v in coded[:order]:
        w.s(v, eff)
    res = [
        coded[i] - sum(c * coded[i - 1 - j] for j, c in enumerate(_FIXED[order]))
        for i in range(order, len(coded))
    ]
    _residual_section(
        w, res, order, len(samples), param=param, part_order=part_order,
        escape_raw_bits=escape_raw_bits,
    )


def _sub_lpc(w, samples, coefs, shift, precision, bps):
    order = len(coefs)
    w.u(0, 1)
    w.u(32 + order - 1, 6)
    w.u(0, 1)
    for v in samples[:order]:
        w.s(v, bps)
    w.u(precision - 1, 4)
    w.s(shift, 5)
    for c in coefs:
        w.s(c, precision)
    res = [
        samples[i]
        - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
        for i in range(order, len(samples))
    ]
    _residual_section(w, res, order, len(samples))


def _frame(subframe_writers, blocksize, chan_code, frame_no=0):
    """subframe_writers: callables taking the writer."""
    w = _W()
    w.u(0b11111111111110, 14)
    w.u(0, 1)
    w.u(0, 1)
    w.u(6, 4)  # blocksize code 6: 8-bit blocksize-1 follows
    w.u(0, 4)  # rate: from STREAMINFO
    w.u(chan_code, 4)
    w.u(0, 3)  # depth: from STREAMINFO
    w.u(0, 1)
    w.u(frame_no, 8)  # coded number, single byte
    w.u(blocksize - 1, 8)
    hdr = w.to_bytes()
    hdr += bytes([_crc8_t(hdr)])
    body = _W()
    for sub in subframe_writers:
        sub(body)
    body.align()
    frame = hdr + body.to_bytes()
    return frame + _crc16_t(frame).to_bytes(2, "big")


def _flac(rate, channels, bps, frames, total):
    return _streaminfo(rate, channels, bps, total) + b"".join(frames)


# ----------------------------------------------------------------- tests


def _ints(x, bps=16):
    return np.round(x * (1 << (bps - 1))).astype(np.int64)


def test_constant_and_verbatim_roundtrip_exact():
    vals = [100, -100, 32767, -32768, 0, 1, -1, 7] * 2
    f1 = _frame([lambda w: _sub_constant(w, -1234, 16)], 16, 0, 0)
    f2 = _frame([lambda w: _sub_verbatim(w, vals, 16)], 16, 0, 1)
    rate, x = decode_flac(_flac(8000, 1, 16, [f1, f2], 32))
    assert rate == 8000 and x.shape == (32, 1)
    got = _ints(x)[:, 0]
    assert (got[:16] == -1234).all()
    np.testing.assert_array_equal(got[16:], vals)


@pytest.mark.parametrize("order", [0, 1, 2, 3, 4])
def test_fixed_predictors_roundtrip_exact(order):
    # a cubic-ish integer signal exercises all warmup/residual paths
    n = 24
    samples = [((i**3 - 7 * i * i + 3 * i) % 4001) - 2000 for i in range(n)]
    f = _frame([lambda w: _sub_fixed(w, samples, order, 16)], n, 0)
    _, x = decode_flac(_flac(16000, 1, 16, [f], n))
    np.testing.assert_array_equal(_ints(x)[:, 0], samples)


def test_lpc_roundtrip_exact():
    rng = np.random.default_rng(23)
    n = 32
    samples = [int(v) for v in rng.integers(-3000, 3000, n)]
    f = _frame(
        [lambda w: _sub_lpc(w, samples, [3, -2], 1, 6, 16)], n, 0
    )
    _, x = decode_flac(_flac(44100, 1, 16, [f], n))
    np.testing.assert_array_equal(_ints(x)[:, 0], samples)


def test_stereo_decorrelations_roundtrip_exact():
    rng = np.random.default_rng(29)
    n = 16
    left = [int(v) for v in rng.integers(-2000, 2000, n)]
    right = [int(v) for v in rng.integers(-2000, 2000, n)]
    side = [l - r for l, r in zip(left, right)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]
    cases = {
        # independent
        1: [lambda w: _sub_verbatim(w, left, 16),
            lambda w: _sub_verbatim(w, right, 16)],
        # left/side: side gets bps+1
        8: [lambda w: _sub_verbatim(w, left, 16),
            lambda w: _sub_verbatim(w, side, 17)],
        # right/side
        9: [lambda w: _sub_verbatim(w, side, 17),
            lambda w: _sub_verbatim(w, right, 16)],
        # mid/side
        10: [lambda w: _sub_verbatim(w, mid, 16),
             lambda w: _sub_verbatim(w, side, 17)],
    }
    for chan_code, subs in cases.items():
        f = _frame(subs, n, chan_code)
        _, x = decode_flac(_flac(8000, 2, 16, [f], n))
        got = _ints(x)
        np.testing.assert_array_equal(got[:, 0], left, err_msg=str(chan_code))
        np.testing.assert_array_equal(got[:, 1], right, err_msg=str(chan_code))


def test_partitions_escapes_and_wasted_bits():
    n = 32
    # all-even samples -> one wasted bit
    samples = [2 * (((i * 37) % 500) - 250) for i in range(n)]
    f = _frame(
        [lambda w: _sub_fixed(w, samples, 1, 16, wasted=1,
                              part_order=2, escape_raw_bits=14)],
        n, 0,
    )
    _, x = decode_flac(_flac(8000, 1, 16, [f], n))
    np.testing.assert_array_equal(_ints(x)[:, 0], samples)


def test_flac_failures_are_loud():
    n = 8
    good_frame = _frame(
        [lambda w: _sub_constant(w, 5, 16)], n, 0
    )
    good = _flac(8000, 1, 16, [good_frame], n)
    with pytest.raises(ValueError, match="not a flac"):
        decode_flac(b"OggSwhatever")
    with pytest.raises(ValueError, match="missing STREAMINFO"):
        decode_flac(b"fLaC" + bytes([0x81]) + (1).to_bytes(3, "big") + b"x")
    # flip a bit inside the frame body -> crc16 mismatch
    bad = bytearray(good)
    bad[-3] ^= 0x40
    with pytest.raises(ValueError, match="crc"):
        decode_flac(bytes(bad))
    # frame channel count disagrees with STREAMINFO
    stereo_frame = _frame(
        [lambda w: _sub_constant(w, 5, 16),
         lambda w: _sub_constant(w, 6, 16)], n, 1,
    )
    with pytest.raises(ValueError, match="STREAMINFO promises"):
        decode_flac(_flac(8000, 1, 16, [stereo_frame], n))
    # the audio container dispatcher keeps both decoders' raises
    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        _decode_audio,
    )

    with pytest.raises(ValueError, match="truncated"):
        _decode_audio(b"fLaC" + bytes(10))
    with pytest.raises(ValueError, match="not a riff"):
        _decode_audio(b"ID3 not a wav")


def test_flac_and_wav_read_identically_through_spark(spark):
    """The same samples through both audio containers produce the
    same features — the container-agnostic contract of
    `_decode_audio`."""
    import struct

    from data_pipeline_project_using_telegram_and_aws_spark.operators.media_codecs import (
        extract_audio_features,
    )

    samples = ([12000] * 4 + [-12000] * 4) * 2  # square wave, 16 samples
    f = _frame([lambda w: _sub_verbatim(w, samples, 16)], 16, 0)
    flac_bytes = _flac(8000, 1, 16, [f], 16)
    body = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav_bytes = (
        b"RIFF" + (28 + len(body)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt
        + b"data" + len(body).to_bytes(4, "little") + body
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav_bytes)), (2, bytearray(flac_bytes))],
        "media_id long, media binary",
    )
    rows = {r.media_id: r for r in extract_audio_features(df).collect()}
    assert rows[1].sample_rate == rows[2].sample_rate == 8000
    assert rows[1].n_samples == rows[2].n_samples == 16
    assert rows[1].feature == rows[2].feature


def test_rice2_method_and_other_bit_depths():
    """Residual method 1 (5-bit rice2 params) and 8/24-bit sample
    depths round-trip exactly."""
    n = 16
    samples = [((i * 97) % 199) - 99 for i in range(n)]

    def sub_fixed_rice2(w, vals, bps):
        w.u(0, 1)
        w.u(8 + 1, 6)  # fixed order 1
        w.u(0, 1)
        w.s(vals[0], bps)
        res = [vals[i] - vals[i - 1] for i in range(1, n)]
        w.u(1, 2)  # method 1: rice2
        w.u(0, 4)  # one partition
        w.u(4, 5)  # 5-bit param
        _rice(w, res, 4)

    for bps in (8, 16, 24):
        scale = 1 if bps == 8 else (1 << (bps - 16)) * 100
        vals = [max(min(s * scale, (1 << (bps - 1)) - 1),
                    -(1 << (bps - 1))) for s in samples]
        f = _frame([lambda w, v=vals, b=bps: sub_fixed_rice2(w, v, b)],
                   n, 0)
        _, x = decode_flac(_flac(8000, 1, bps, [f], n))
        got = np.round(x[:, 0] * (1 << (bps - 1))).astype(np.int64)
        np.testing.assert_array_equal(got, vals, err_msg=f"bps={bps}")
