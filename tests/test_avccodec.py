"""H.264/AVC baseline I-frame codec tests (multimodal/avccodec.py).

No reference decoder exists in this container, so conformance is
verified the way the r9 verdict's codec-family precedent established:
(a) structural validation of every transcribed VLC table (prefix-
freeness; Kraft completeness where the spec's code is complete),
(b) randomized bit-exact round-trips through the independently written
CAVLC encode and decode paths across every nC table class, and
(c) full-frame decodes that must be BIT-EXACT against the encoder's
in-loop reconstruction (the encoder reconstructs through the same
dequant/inverse-transform path a conformant decoder uses, so any
bitstream/bookkeeping drift between the two paths breaks equality)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from stream_processing_platform_spark.multimodal import avccodec as A


def _check_prefix_free(pairs, name, kraft_complete=False):
    for i, (l1, c1) in enumerate(pairs):
        for j, (l2, c2) in enumerate(pairs):
            if i != j and l1 <= l2 and (c2 >> (l2 - l1)) == c1:
                raise AssertionError(
                    f"{name}: ({l1},{c1:0{l1}b}) prefixes ({l2},{c2:0{l2}b})"
                )
    if kraft_complete:
        s = sum(2.0**-l for l, _ in pairs)
        assert 0.99 < s <= 1.0 + 1e-12, (name, s)


def test_vlc_tables_structurally_valid():
    for cls in (0, 1, 2, -1):
        pairs = [
            (A._CT_LEN[cls][t][o], A._CT_CODE[cls][t][o])
            for t in range(len(A._CT_LEN[cls]))
            for o in range(len(A._CT_LEN[cls][t]))
        ]
        _check_prefix_free(pairs, f"coeff_token cls {cls}")
    for tc in range(15):
        _check_prefix_free(
            list(zip(A._TZ_LEN[tc], A._TZ_CODE[tc])), f"tz tc={tc + 1}",
            kraft_complete=True,
        )
    for tc in range(3):
        _check_prefix_free(
            list(zip(A._TZC_LEN[tc], A._TZC_CODE[tc])), f"tzc tc={tc + 1}",
            kraft_complete=True,
        )
    for zl in range(6):
        _check_prefix_free(
            list(zip(A._RB_LEN[zl], A._RB_CODE[zl])), f"rb zl={zl + 1}",
            kraft_complete=True,
        )
    _check_prefix_free(list(zip(A._RB_LEN[6], A._RB_CODE[6])), "rb zl>=7")


def test_cavlc_residual_roundtrip_all_nc_classes():
    rng = random.Random(42)
    for _ in range(3000):
        max_c = rng.choice([4, 15, 16])
        nC = -1 if max_c == 4 else rng.choice([0, 1, 2, 3, 4, 5, 7, 8, 16])
        coeffs = [0] * max_c
        for p in rng.sample(range(max_c), rng.randint(0, max_c)):
            coeffs[p] = rng.choice([1, 1, 1, 2, 3, 5, 17, 200, 2000]) * rng.choice(
                [1, -1]
            )
        bw = A.BitWriter()
        A.encode_residual_block(bw, coeffs, nC, max_c)
        bw.u(1, 1)
        bw.align_zero()
        got = A.decode_residual_block(A.BitReader(bw.getvalue()), nC, max_c)
        assert got == coeffs, (nC, max_c, coeffs, got)


def test_level_prefix_overflow_raises():
    """A level_prefix longer than 32 zero bits is not a valid CAVLC
    code: 32 zeros (two all-zero 16-bit peeks) followed by a 15-zero
    run and its stop bit must raise, not decode a 2^44-scale level."""
    bw = A.BitWriter()
    A._write_coeff_token(bw, 0, 1, 0)  # TotalCoeff=1, TrailingOnes=0
    bw.u(0, 32)
    bw.u(1, 16)  # 15 more zeros, then the stop bit: prefix 47
    bw.u(0xFFFFFFFF, 32)  # room for any suffix the decoder would read
    bw.align_zero()
    with pytest.raises(ValueError, match="level prefix overflow"):
        A.decode_residual_block(A.BitReader(bw.getvalue()), 0, 16)


def test_exp_golomb_and_rbsp_escaping():
    bw = A.BitWriter()
    vals = [0, 1, 2, 7, 255, 100000]
    svals = [0, 1, -1, 3, -7, 2047, -100000]
    for v in vals:
        bw.ue(v)
    for v in svals:
        bw.se(v)
    bw.rbsp_trailing()
    br = A.BitReader(bw.getvalue())
    assert [br.ue() for _ in vals] == vals
    assert [br.se() for _ in svals] == svals
    raw = b"\x00\x00\x00\x00\x01\x00\x00\x02\x00\x00\x03ab\x00\x00"
    esc = A.rbsp_escape(raw)
    assert b"\x00\x00\x00" not in esc and b"\x00\x00\x01" not in esc[:-1]
    assert A.rbsp_unescape(esc) == raw


def _mkframe(w, h, kind, seed=11):
    rng = np.random.default_rng(seed)
    ys, xs = np.mgrid[0:h, 0:w]
    if kind == "gradient":
        y = ((xs * 255 // max(1, w - 1)) + (ys * 80 // max(1, h - 1))) % 256
    elif kind == "noise":
        y = rng.integers(0, 256, (h, w))
    elif kind == "flat":
        y = np.full((h, w), 128)
    else:
        y = ((np.sin(xs / 7.0) + np.cos(ys / 5.0)) * 60 + 128).astype(int)
    cb = ((xs[::2, ::2] * 200 // max(1, w - 1)) + 30) % 256
    cr = np.full((h // 2, w // 2), 96) + (ys[::2, ::2] % 32)
    return y.astype(np.uint8), cb.astype(np.uint8), cr.astype(np.uint8)


@pytest.mark.parametrize("kind", ["flat", "gradient", "waves", "noise"])
@pytest.mark.parametrize("qp", [8, 20, 30])
def test_iframe_decode_bitexact_vs_encoder_recon(kind, qp):
    y, cb, cr = _mkframe(64, 48, kind)
    nals = A.encode_iframe(y, cb, cr, qp=qp)
    ery, ecb, ecr = A.encode_iframe.last_recon
    dy, dcb, dcr = A.decode_iframe(nals)
    assert np.array_equal(ery, dy)
    assert np.array_equal(ecb, dcb)
    assert np.array_equal(ecr, dcr)
    # reconstruction tracks the source within the quantizer's reach
    bound = {8: 4, 20: 12, 30: 40}[qp]
    assert np.abs(dy.astype(int) - y.astype(int)).max() <= bound


def test_low_qp_flat_regions_exact_and_rate_ordering():
    y, cb, cr = _mkframe(64, 48, "flat")
    nals = A.encode_iframe(y, cb, cr, qp=8)
    dy, _, _ = A.decode_iframe(nals)
    assert np.array_equal(dy, y)  # flat content survives losslessly
    sizes = {}
    for qp in (8, 20, 30):
        yn, cbn, crn = _mkframe(64, 48, "noise")
        sizes[qp] = sum(len(n) for n in A.encode_iframe(yn, cbn, crn, qp=qp))
    assert sizes[8] > sizes[20] > sizes[30]  # rate falls with QP


def test_ipcm_lossless():
    y, cb, cr = _mkframe(48, 32, "noise")
    dy, dcb, dcr = A.decode_iframe(A.encode_iframe(y, cb, cr, mode="pcm"))
    assert np.array_equal(dy, y)
    assert np.array_equal(dcb, cb)
    assert np.array_equal(dcr, cr)


def test_stream_helpers_roundtrip():
    y, cb, cr = _mkframe(32, 32, "gradient")
    nals = A.encode_iframe(y, cb, cr, qp=20)
    assert A.from_annexb(A.to_annexb(nals)) == nals
    assert A.from_avcc_sample(A.to_avcc_sample(nals)) == nals
    sps_l, pps_l, ls = A.parse_avcc(A.build_avcc(nals[0], nals[1]))
    assert sps_l == [nals[0]] and pps_l == [nals[1]] and ls == 4


def test_honest_gates():
    y, cb, cr = _mkframe(32, 32, "gradient")
    nals = A.encode_iframe(y, cb, cr, qp=20)
    # CABAC gate: a PPS with entropy_coding_mode_flag = 1
    bw = A.BitWriter()
    bw.ue(0)  # pps_id
    bw.ue(0)  # sps_id
    bw.u(1, 1)  # entropy_coding_mode = CABAC
    bw.rbsp_trailing()
    with pytest.raises(NotImplementedError, match="CABAC"):
        A.parse_pps(bw.getvalue())
    # P-slice gate: nal_unit_type 1
    with pytest.raises(NotImplementedError, match="non-IDR"):
        A.decode_iframe([nals[0], nals[1], bytes([0x61]) + nals[2][1:]])
    with pytest.raises(ValueError, match="need SPS"):
        A.decode_iframe([nals[0]])
    with pytest.raises(NotImplementedError, match="MB-aligned"):
        A.write_sps(30, 30)


def test_avc_in_mp4_timeline_decode():
    from stream_processing_platform_spark.multimodal import mp4codec as M
    from stream_processing_platform_spark.multimodal.codecs import (
        decode_frame_timeline,
    )

    payloads, recons = [], []
    sps = pps = None
    for i in range(3):
        ys, xs = np.mgrid[0:32, 0:48]
        y = ((xs * 3 + ys * 2 + i * 40) % 256).astype(np.uint8)
        cb = np.full((16, 24), 100 + i * 10, np.uint8)
        cr = np.full((16, 24), 140 - i * 10, np.uint8)
        nals = A.encode_iframe(y, cb, cr, qp=12)
        sps, pps = nals[0], nals[1]
        payloads.append(A.to_avcc_sample(nals[2:]))
        recons.append(A.encode_iframe.last_recon[0])
    rec = A.build_avcc(sps, pps)
    avcc_box = (len(rec) + 8).to_bytes(4, "big") + b"avcC" + rec
    mp4 = M.encode_mp4(
        payloads, [100, 100, 100], 48, 32, codec="avc1",
        sample_entry_extra=avcc_box,
    )
    track = M.parse_mp4(mp4).video_tracks()[0]
    assert track.codec == "avc1" and track.avcc == rec
    frames, starts = decode_frame_timeline(mp4)
    assert starts == [0, 100, 200, 300]
    for i in range(3):
        assert np.array_equal(frames[i], recons[i])


@pytest.mark.parametrize("kind", ["gradient", "edges", "waves", "noise"])
@pytest.mark.parametrize("qp", [10, 22, 32])
def test_i4x4_decode_bitexact_vs_encoder_recon(kind, qp):
    rng = np.random.default_rng(5)
    ys, xs = np.mgrid[0:48, 0:64]
    y = {
        "gradient": (xs * 5 + ys * 3) % 256,
        "edges": ((xs // 8 + ys // 8) % 2) * 200 + 28,
        "waves": ((np.sin(xs / 3.0) * np.cos(ys / 4.0)) * 100 + 128).astype(int),
        "noise": rng.integers(0, 256, (48, 64)),
    }[kind].astype(np.uint8)
    cb = ((xs[::2, ::2] * 7) % 256).astype(np.uint8)
    cr = ((ys[::2, ::2] * 11) % 256).astype(np.uint8)
    nals = A.encode_iframe(y, cb, cr, qp=qp, mode="i4x4")
    ery, ecb, ecr = A.encode_iframe.last_recon
    dy, dcb, dcr = A.decode_iframe(nals)
    assert np.array_equal(ery, dy)
    assert np.array_equal(ecb, dcb)
    assert np.array_equal(ecr, dcr)


def test_i4x4_exercises_all_nine_pred_modes():
    """The SAD-chooser must reach every Intra_4x4 mode across the four
    content classes — otherwise the per-mode decode formulas are dead
    code the round-trip can't vouch for."""
    import collections

    seen = collections.Counter()
    orig = A._pred4

    def spy(mode, top, left, corner):
        seen[mode] += 1
        return orig(mode, top, left, corner)

    A._pred4 = spy
    try:
        rng = np.random.default_rng(5)
        ys, xs = np.mgrid[0:48, 0:64]
        for y in (
            (xs * 5 + ys * 3) % 256,
            ((xs // 8 + ys // 8) % 2) * 200 + 28,
            ((np.sin(xs / 3.0) * np.cos(ys / 4.0)) * 100 + 128).astype(int),
            rng.integers(0, 256, (48, 64)),
        ):
            cb = ((xs[::2, ::2] * 7) % 256).astype(np.uint8)
            cr = ((ys[::2, ::2] * 11) % 256).astype(np.uint8)
            A.encode_iframe(y.astype(np.uint8), cb, cr, qp=22, mode="i4x4")
    finally:
        A._pred4 = orig
    assert set(seen) == set(range(9)), sorted(seen)


def test_cbp_intra_table_is_permutation():
    assert sorted(A._CBP_INTRA) == list(range(48))
    assert all(A._CBP_INTRA[A._CBP_INTRA_INV[c]] == c for c in range(48))


def _moving_seq(n=5, w=64, h=48, scene_change_at=3):
    ys, xs = np.mgrid[0:h, 0:w]
    frames = []
    for k in range(n):
        y = ((xs * 4 + ys * 2 + k * 8) % 256).astype(np.uint8)  # 2 px/frame pan
        if k == scene_change_at:
            y = ((xs // 4 * 31 + ys // 4 * 17) % 256).astype(np.uint8)
        cb = np.full((h // 2, w // 2), 90 + k, np.uint8)
        cr = ((xs[::2, ::2] + k * 3) % 256).astype(np.uint8)
        frames.append((y, cb, cr))
    return frames


def test_gop_pframes_bitexact_and_rate_signature():
    """IDR+P decode must be bit-exact vs the encoders' in-loop recons,
    and the rate must carry the P-frame signature: tiny P frames on a
    pure pan (P_Skip + small mvd), a burst at the scene change
    (intra-in-P), always far below the IDR cost."""
    frames = _moving_seq()
    aus, syncs = A.encode_gop(frames, qp=20, gop_size=8)
    assert syncs == [True, False, False, False, False]
    sizes = [sum(len(n) for n in au) for au in aus]
    assert sizes[1] < sizes[0] / 4 and sizes[2] < sizes[0] / 4  # pan ~ skips
    assert sizes[3] > sizes[1] * 3  # scene change costs more
    dec = A.decode_stream([n for au in aus for n in au])
    assert len(dec) == len(frames)
    prev = None
    for i, (fy, fcb, fcr) in enumerate(frames):
        if i == 0:
            A.encode_iframe(fy, fcb, fcr, qp=20)
            rec = A.encode_iframe.last_recon
        else:
            A.encode_pframe(fy, fcb, fcr, prev, qp=20, frame_num=i % 16)
            rec = A.encode_pframe.last_recon
        prev = rec
        for c in range(3):
            assert np.array_equal(rec[c], dec[i][c]), (i, c)


def test_pframe_static_content_is_all_skip():
    y, cb, cr = _mkframe(64, 48, "gradient")
    A.encode_iframe(y, cb, cr, qp=20)
    ref = A.encode_iframe.last_recon
    nal = A.encode_pframe(ref[0], ref[1], ref[2], ref, qp=20, frame_num=1)
    # a P frame of the reference itself is one slice header + one
    # skip run covering every MB — a few bytes
    assert len(nal) < 16, len(nal)
    dec = A.decode_stream(
        A.encode_iframe(y, cb, cr, qp=20) + [nal]
    )
    assert np.array_equal(dec[1][0], ref[0])


def test_mc_interpolator_properties():
    rng = np.random.default_rng(2)
    ref = rng.integers(0, 256, (64, 80)).astype(np.int64)
    # integer mv == direct slice
    assert np.array_equal(
        A.mc_luma_block(ref, 16, 8, 12, -8), ref[6:22, 19:35]
    )
    # constant image invariant at every fractional position
    const = np.full((40, 40), 77, dtype=np.int64)
    for fx in range(4):
        for fy in range(4):
            assert np.all(A.mc_luma_block(const, 10, 10, fx, fy, 8, 8) == 77)
            assert np.all(A.mc_chroma_block(const, 5, 5, fx * 2 + fy, fy, 4, 4) == 77)
    # edge clamping far outside the frame
    assert np.all(A.mc_luma_block(ref, 0, 0, -400, -400) == ref[0, 0])


def test_mixed_gop_mp4_timeline_decode():
    from stream_processing_platform_spark.multimodal import mp4codec as M
    from stream_processing_platform_spark.multimodal.codecs import (
        decode_frame_timeline,
    )

    frames = _moving_seq(4, 48, 32, scene_change_at=2)
    aus, syncs = A.encode_gop(frames, qp=18, gop_size=8)
    sps, pps = aus[0][0], aus[0][1]
    payloads = [A.to_avcc_sample(au if not syncs[i] else au[2:])
                for i, au in enumerate(aus)]
    rec = A.build_avcc(sps, pps)
    avcc_box = (len(rec) + 8).to_bytes(4, "big") + b"avcC" + rec
    mp4 = M.encode_mp4(
        payloads, [100] * 4, 48, 32, codec="avc1",
        sample_entry_extra=avcc_box, keyframe_every=5,  # only sample 1 sync
    )
    track = M.parse_mp4(mp4).video_tracks()[0]
    assert track.sync == [True, False, False, False]
    decoded, starts = decode_frame_timeline(mp4)
    assert len(decoded) == 4 and starts[-1] == 400
    ref_frames = A.decode_stream([n for au in aus for n in au])
    for i in range(4):
        assert np.array_equal(decoded[i], ref_frames[i][0]), i


def test_pframe_honest_gates():
    # B-slice gate: craft a slice header with slice_type 1 (B)
    y, cb, cr = _mkframe(32, 32, "gradient")
    nals = A.encode_iframe(y, cb, cr, qp=20)
    bw = A.BitWriter()
    bw.ue(0)  # first_mb
    bw.ue(1)  # slice_type B
    bw.ue(0)  # pps
    bw.rbsp_trailing()
    with pytest.raises(NotImplementedError, match="AVC"):
        A.decode_stream([nals[0], nals[1], bytes([0x41]) + A.rbsp_escape(bw.getvalue())])
    # P slice with no reference
    pn = A.encode_pframe(y, cb, cr, (y, cb, cr), qp=20)
    with pytest.raises(ValueError, match="no reference"):
        A.decode_stream([nals[0], nals[1], pn])
