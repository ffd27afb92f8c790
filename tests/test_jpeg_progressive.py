"""Progressive JPEG (SOF2) decode against an independently written
progressive ENCODER: the tests build multi-scan streams (spectral
selection bands, successive-approximation bit planes, EOB runs,
refinement correction bits per T.81 Annex G / the libjpeg encoder
semantics) from the same quantized coefficients as a baseline (SOF0)
single-scan encoding of the identical image — the decoded pixels must
be EXACTLY equal, because both paths feed the same coefficients into
the same IDCT. Plus the two real libjpeg progressive files shipped in
this environment (/usr/share/doc/nodejs)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from data_pipeline_project_using_telegram_and_aws_spark.operators.jpeg import decode_jpeg

from tests.test_jpeg import (
    _canon_encode_table,
    _category,
    _dc_block,
    _jpeg_bytes,
    _put_coef_bits,
    _seg,
    _Writer,
    Q1,
    Q16,
)

# tables with EOBn symbols (run<<4 | 0 for run 0..10) on top of the
# shared generic layout: every symbol we can emit at a fixed length
_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = (
    [0xF0]
    + [(r << 4) | 0 for r in range(11)]  # EOB0..EOB10
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_AC_COUNTS = [0, 0, 0, 0, 0, 0, 0, 172] + [0] * 8
_DC_MAP = _canon_encode_table(_DC_COUNTS, _DC_SYMBOLS)
_AC_MAP = _canon_encode_table(_AC_COUNTS, _AC_SYMBOLS)


# ------------------------------------------ progressive test encoder


class _ScanState:
    """Cross-block entropy state for one scan: the EOB run counter and
    the correction bits buffered while inside it."""

    def __init__(self):
        self.eobrun = 0
        self.pending: list[int] = []


def _emit_eobrun(wtr, state):
    if state.eobrun > 0:
        r = state.eobrun.bit_length() - 1
        code, ln = _AC_MAP[(r << 4) | 0]
        wtr.put(code, ln)
        if r:
            wtr.put(state.eobrun - (1 << r), r)
        state.eobrun = 0
    for b in state.pending:
        wtr.put(b, 1)
    state.pending = []


def _enc_dc_first(wtr, zz, pred, al):
    v = int(zz[0]) >> al  # DC point transform: arithmetic shift
    diff = v - pred
    t = _category(diff)
    code, ln = _DC_MAP[t]
    wtr.put(code, ln)
    _put_coef_bits(wtr, diff, t)
    return v


def _enc_dc_refine(wtr, zz, al):
    wtr.put((int(zz[0]) >> al) & 1, 1)


def _enc_ac_first(wtr, zz, ss, se, al, state):
    # AC point transform: magnitude shift (truncation toward zero)
    vals = []
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = abs(v) >> al
        vals.append(t if v >= 0 else -t)
    if not any(vals):
        state.eobrun += 1
        if state.eobrun == 0x7FFF:
            _emit_eobrun(wtr, state)
        return
    _emit_eobrun(wtr, state)
    run = 0
    last_nz = max(i for i, v in enumerate(vals) if v)
    for i in range(last_nz + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _AC_MAP[0xF0]
            wtr.put(code, ln)
            run -= 16
        s = _category(v)
        code, ln = _AC_MAP[(run << 4) | s]
        wtr.put(code, ln)
        _put_coef_bits(wtr, v, s)
        run = 0
    if last_nz != se - ss:
        state.eobrun += 1


def _enc_ac_refine(wtr, zz, ss, se, al, state):
    """libjpeg encode_mcu_AC_refine semantics: newly-nonzero (plane
    magnitude 1) coefficients are coded with zero-HISTORY runs + sign
    bit; already-nonzero history gets one correction bit each, buffered
    and flushed after the next code (or into the EOB-run store)."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    sign = [1 if int(zz[k]) > 0 else 0 for k in range(ss, se + 1)]
    eob = -1
    for i, t in enumerate(absv):
        if t == 1:
            eob = i
    run = 0
    br: list[int] = []
    for i, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        while run > 15 and i <= eob:
            _emit_eobrun(wtr, state)
            code, ln = _AC_MAP[0xF0]
            wtr.put(code, ln)
            run -= 16
            for b in br:
                wtr.put(b, 1)
            br = []
        if t > 1 or i > eob:
            br.append(t & 1)
            continue
        _emit_eobrun(wtr, state)
        code, ln = _AC_MAP[(run << 4) | 1]
        wtr.put(code, ln)
        wtr.put(sign[i], 1)
        for b in br:
            wtr.put(b, 1)
        br = []
        run = 0
    if run > 0 or br:
        state.eobrun += 1
        state.pending.extend(br)


def _block_grid(comps, blocks_by_comp, h, w):
    """MCU-order per-component block lists → per-component 2-D grids,
    the layout both scan orders index into."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    grids = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        grid = [
            [None] * (mcux * hs) for _ in range(mcuy * vs)
        ]
        it = iter(blocks_by_comp[ci])
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            for by in range(vs):
                for bx in range(hs):
                    grid[my * vs + by][mx * hs + bx] = next(it)
        # zero-pad any slot never fed (shouldn't happen in tests)
        for row in grid:
            for i, b in enumerate(row):
                if b is None:
                    row[i] = [0] * 64
        grids.append(grid)
    return grids, mcux, mcuy


def _progressive_jpeg_bytes(
    h, w, comps, blocks_by_comp, qtables, scans, *, restart_interval=0,
    precision=8
):
    """comps: [(cid, hs, vs, tq)]; blocks_by_comp[ci]: zigzag blocks in
    MCU order (same convention as the baseline builder); scans: list of
    (comp_indices, ss, se, ah, al). Emits DQT/SOF2/DHT then one SOS per
    scan entry."""
    out = bytearray(b"\xff\xd8")
    for tq, table in qtables.items():
        out += _seg(0xDB, bytes([tq]) + bytes(int(x) for x in table))
    sof = (
        bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    )
    sof += bytes([len(comps)])
    for cid, hs, vs, tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += _seg(0xC2, sof)
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMBOLS)
        + bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMBOLS),
    )
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    grids, mcux, mcuy = _block_grid(comps, blocks_by_comp, h, w)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for comp_indices, ss, se, ah, al in scans:
        sos = bytes([len(comp_indices)])
        for ci in comp_indices:
            sos += bytes([comps[ci][0], 0x00])  # dc table 0 / ac table 0
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        wtr = _Writer()
        state = _ScanState()
        preds = {ci: 0 for ci in comp_indices}
        if len(comp_indices) == 1:
            ci = comp_indices[0]
            cid, hs, vs, tq = comps[ci]
            cbw = -(-(-(-w * hs // hmax)) // 8)
            cbh = -(-(-(-h * vs // vmax)) // 8)
            units = [
                [(ci, by, bx)]
                for by in range(cbh)
                for bx in range(cbw)
            ]
        else:
            units = []
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                blocks = []
                for ci in comp_indices:
                    cid, hs, vs, tq = comps[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            blocks.append(
                                (ci, my * vs + by, mx * hs + bx)
                            )
                units.append(blocks)
        rst_m = 0
        for m, unit in enumerate(units):
            if restart_interval and m and m % restart_interval == 0:
                _emit_eobrun(wtr, state)
                out += wtr.entropy_bytes()
                out += bytes([0xFF, 0xD0 + rst_m])
                rst_m = (rst_m + 1) % 8
                wtr = _Writer()
                state = _ScanState()
                preds = {ci: 0 for ci in comp_indices}
            for ci, by, bx in unit:
                zz = grids[ci][by][bx]
                if ss == 0 and ah == 0:
                    preds[ci] = _enc_dc_first(wtr, zz, preds[ci], al)
                elif ss == 0:
                    _enc_dc_refine(wtr, zz, al)
                elif ah == 0:
                    _enc_ac_first(wtr, zz, ss, se, al, state)
                else:
                    _enc_ac_refine(wtr, zz, ss, se, al, state)
        _emit_eobrun(wtr, state)
        out += wtr.entropy_bytes()
    out += b"\xff\xd9"
    return bytes(out)


def _baseline_twin(h, w, comps, blocks_by_comp, qtables):
    return _jpeg_bytes(h, w, comps, blocks_by_comp, qtables)


def _rng_blocks(rng, n_blocks, max_cat=6, density=0.2):
    """Random zigzag blocks with controlled magnitude (categories stay
    within the encoder tables at every bit plane)."""
    blocks = []
    for _ in range(n_blocks):
        b = [0] * 64
        b[0] = int(rng.integers(-60, 61))
        for k in range(1, 64):
            if rng.random() < density:
                v = int(rng.integers(1, 1 << max_cat))
                b[k] = v if rng.random() < 0.5 else -v
        blocks.append(b)
    return blocks


# ---------------------------------------------------------------- tests


def test_spectral_selection_matches_baseline():
    rng = np.random.default_rng(7)
    blocks = _rng_blocks(rng, 4)
    comps = [(1, 1, 1, 0)]
    scans = [
        ([0], 0, 0, 0, 0),   # DC
        ([0], 1, 5, 0, 0),   # low AC band
        ([0], 6, 63, 0, 0),  # high AC band
    ]
    prog = _progressive_jpeg_bytes(16, 16, comps, [blocks], {0: Q1}, scans)
    base = _baseline_twin(16, 16, comps, [blocks], {0: Q1})
    assert (decode_jpeg(prog) == decode_jpeg(base)).all()


def test_successive_approximation_matches_baseline():
    rng = np.random.default_rng(11)
    blocks = _rng_blocks(rng, 4, max_cat=7)
    comps = [(1, 1, 1, 0)]
    # first scans at bit plane Al=2, then refinement scans walking the
    # planes down 2 -> 1 -> 0 for DC and AC alike
    scans = [
        ([0], 0, 0, 0, 2),
        ([0], 1, 63, 0, 2),
        ([0], 0, 0, 2, 1),
        ([0], 1, 63, 2, 1),
        ([0], 0, 0, 1, 0),
        ([0], 1, 63, 1, 0),
    ]
    prog = _progressive_jpeg_bytes(16, 16, comps, [blocks], {0: Q1}, scans)
    base = _baseline_twin(16, 16, comps, [blocks], {0: Q1})
    assert (decode_jpeg(prog) == decode_jpeg(base)).all()


def test_eob_runs_and_zrl_matches_baseline():
    # 16 blocks, most with empty high band -> multi-block EOB runs;
    # one block with an isolated coefficient at k=50 -> ZRL path
    blocks = [_dc_block(5) for _ in range(16)]
    blocks[3][50] = 9
    blocks[9][1] = -3
    blocks[9][40] = 7  # long zero run inside one block
    comps = [(1, 1, 1, 0)]
    scans = [
        ([0], 0, 0, 0, 0),
        ([0], 1, 63, 0, 0),
    ]
    prog = _progressive_jpeg_bytes(32, 32, comps, [blocks], {0: Q1}, scans)
    base = _baseline_twin(32, 32, comps, [blocks], {0: Q1})
    assert (decode_jpeg(prog) == decode_jpeg(base)).all()


def test_refinement_correction_bits_match_baseline():
    # history coefficients (|v| >= 2 at the refined plane) interleaved
    # with newly-nonzero ones and EOB-run pending bits — the
    # G.1.2.3 hard paths
    blocks = [_dc_block(0) for _ in range(8)]
    blocks[0][1] = 5    # history (5>>1=2 at plane 1, corrected to 5)
    blocks[0][2] = 1    # appears only at plane 0 (newly-nonzero late)
    blocks[0][17] = -6  # negative history
    blocks[1][30] = 3   # becomes 1 at plane 1 (newly-nonzero early)
    blocks[4][63] = -1  # newly-nonzero at plane 0, band tail
    blocks[6][5] = 2
    comps = [(1, 1, 1, 0)]
    scans = [
        ([0], 0, 0, 0, 1),
        ([0], 1, 63, 0, 1),
        ([0], 0, 0, 1, 0),
        ([0], 1, 63, 1, 0),
    ]
    prog = _progressive_jpeg_bytes(32, 16, comps, [blocks], {0: Q1}, scans)
    base = _baseline_twin(32, 16, comps, [blocks], {0: Q1})
    assert (decode_jpeg(prog) == decode_jpeg(base)).all()


def test_progressive_420_color_matches_baseline():
    # 3-component 4:2:0: interleaved DC scan over all comps, then the
    # spec-mandated single-component AC scans (luma covers a 2x2 block
    # grid per MCU; chroma 1x1)
    rng = np.random.default_rng(23)
    y_blocks = _rng_blocks(rng, 4, max_cat=5)
    cb_blocks = _rng_blocks(rng, 1, max_cat=4)
    cr_blocks = _rng_blocks(rng, 1, max_cat=4)
    comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    qts = {0: Q1, 1: Q1}
    scans = [
        ([0, 1, 2], 0, 0, 0, 1),  # interleaved DC first, plane 1
        ([0], 1, 63, 0, 0),
        ([1], 1, 63, 0, 0),
        ([2], 1, 63, 0, 0),
        ([0, 1, 2], 0, 0, 1, 0),  # interleaved DC refinement
    ]
    prog = _progressive_jpeg_bytes(
        16, 16, comps, [y_blocks, cb_blocks, cr_blocks], qts, scans
    )
    base = _baseline_twin(
        16, 16, comps, [y_blocks, cb_blocks, cr_blocks], qts
    )
    assert (decode_jpeg(prog) == decode_jpeg(base)).all()


def test_progressive_restart_interval():
    rng = np.random.default_rng(31)
    blocks = _rng_blocks(rng, 8, max_cat=5)
    comps = [(1, 1, 1, 0)]
    scans = [
        ([0], 0, 0, 0, 0),
        ([0], 1, 63, 0, 0),
    ]
    prog = _progressive_jpeg_bytes(
        8, 64, comps, [blocks], {0: Q1}, scans, restart_interval=3
    )
    base = _baseline_twin(8, 64, comps, [blocks], {0: Q1})
    assert (decode_jpeg(prog) == decode_jpeg(base)).all()


def test_progressive_failures_are_loud():
    blocks = [_dc_block(4)]
    comps = [(1, 1, 1, 0)]
    # multi-component AC scan is spec-invalid
    bad = _progressive_jpeg_bytes(
        8, 8, [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)],
        [[_dc_block(4)], [_dc_block(4)], [_dc_block(4)]],
        {0: Q16, 1: Q16},
        [([0, 1, 2], 0, 0, 0, 0), ([0, 1], 1, 63, 0, 0)],
    )
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg(bad)
    # truncated after the first scan: no usable reconstruction is NOT
    # an error (progressive decoders render partial data) — but a
    # stream with zero scans still raises
    only_headers = _progressive_jpeg_bytes(
        8, 8, comps, [blocks], {0: Q16}, []
    )
    with pytest.raises(ValueError, match="no decodable scan"):
        decode_jpeg(only_headers)


def test_progressive_partial_scans_decode():
    """DC-only progressive data renders the DC approximation — the
    defining property of the format (partial data = coarse image)."""
    blocks = [_dc_block(8)]
    comps = [(1, 1, 1, 0)]
    prog = _progressive_jpeg_bytes(
        8, 8, comps, [blocks], {0: Q16}, [([0], 0, 0, 0, 0)]
    )
    px = decode_jpeg(prog)[:, :, 0]
    assert (px == 128 + 8 * 16 // 8).all()  # 8*16/8 = DC*q/8 level


# ------------------------------------------------- real encoder output

_NODE_PROGRESSIVE = [
    "/usr/share/doc/nodejs/thin-white-stripe.jpg",
    "/usr/share/doc/nodejs/full-white-stripe.jpg",
]


@pytest.mark.skipif(
    not all(os.path.exists(p) for p in _NODE_PROGRESSIVE),
    reason="fixtures not installed",
)
def test_real_progressive_files_decode():
    """Real progressive JPEGs produced by a real encoder (shipped with
    the nodejs docs). De-correlation evidence: bytes we did not craft,
    with optimized per-image Huffman tables and multi-plane scan
    scripts. Both images are near-uniform stripes; pin shape, dtype,
    and the documented content (white stripe on white/background)."""
    for path in _NODE_PROGRESSIVE:
        raw = open(path, "rb").read()
        px = decode_jpeg(raw)
        assert px.dtype == np.uint8
        assert px.ndim == 3 and px.shape[2] in (1, 3)
        h, w = px.shape[:2]
        assert h >= 8 and w >= 8
        # stripes are bright: the global mean must sit in the upper
        # half of the range (a garbled decode lands near 0 or noise)
        assert px.mean() > 128, (path, px.mean())
        # a copy torn mid-scan is a loud defect, not a partial image
        with pytest.raises(ValueError, match="truncated"):
            decode_jpeg(raw[: len(raw) // 3])


def test_progressive_12bit_dc_then_ac():
    """Progressive at 12-bit precision: a DC-first + AC-first scan
    pair reconstructs with the 2048 level shift and uint16 output —
    the shared `_reconstruct` tail, exercised through the SOF2
    path."""
    import numpy as np

    blocks = [[0] * 64]
    blocks[0][0] = 7616  # DC: 7616/8 + 2048 = 3000 flat
    # DC-first at Al=3 keeps the sent magnitude in the encoder's
    # category range; the decoder stores 952<<3 = 7616 directly
    raw = _progressive_jpeg_bytes(
        8, 8, [(1, 1, 1, 0)], [blocks], {0: [1] * 64},
        [([0], 0, 0, 0, 3), ([0], 1, 63, 0, 0)],
        precision=12,
    )
    px = decode_jpeg(raw)
    assert px.dtype == np.uint16 and (px == 3000).all()
