"""Arithmetic-coded JPEG (operators/jpeg_arith.py): QM-coder
self-consistency, Table D.3 structural invariants, wire-format
invariants, and the byte-equality oracle against the Huffman baseline
(same forward path => identical quantized coefficients => identical
pixels)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from mergermetrics_lakehouse_pipeline_spark.operators.jpeg import (
    jpeg_color_decode,
    jpeg_color_encode,
    jpeg_frame_marker,
    jpeg_gray_decode,
    jpeg_gray_encode,
    jpeg_sof_components,
)
from mergermetrics_lakehouse_pipeline_spark.operators.jpeg_arith import (
    _AC_STAT_BINS,
    _DC_STAT_BINS,
    _decode_ac,
    _decode_dc,
    _encode_ac,
    _encode_dc,
    AC_KX_DEFAULT,
    DC_L_DEFAULT,
    DC_U_DEFAULT,
    jpeg_arith_decode,
    jpeg_color_encode_arith,
    jpeg_gray_encode_arith,
    QE_TABLE,
    QMDecoder,
    QMEncoder,
)


# ---------------------------------------------------------------------------
# Table D.3 structural invariants
# ---------------------------------------------------------------------------


def test_qe_table_shape_and_ranges():
    assert len(QE_TABLE) == 114  # 113 adaptive states + the fixed state
    for i, (qe, nlps, nmps, switch) in enumerate(QE_TABLE):
        assert 0 < qe <= 0x5B12, i
        assert 0 <= nlps <= 113 and 0 <= nmps <= 113, i
        assert switch in (0, 1), i


def test_qe_table_nmps_never_increases_qe():
    """MPS observations move the estimate toward MORE skew (smaller
    Qe) — a strictly structural property of the estimation chains."""
    for i, (qe, _nl, nmps, _sw) in enumerate(QE_TABLE[:113]):
        assert QE_TABLE[nmps][0] <= qe, (i, hex(qe), hex(QE_TABLE[nmps][0]))


def test_qe_table_switch_only_near_half():
    """SWITCH=1 only at chain heads where Qe ~ 0.5 (the MPS sense flips
    when the LPS is almost as likely as the MPS)."""
    for i, (qe, _nl, _nm, switch) in enumerate(QE_TABLE[:113]):
        if switch:
            assert qe > 0x5000, (i, hex(qe))


def test_qe_table_fixed_state_is_terminal():
    qe, nlps, nmps, switch = QE_TABLE[113]
    assert (nlps, nmps, switch) == (113, 113, 0)
    assert qe == 0x5A1D  # ~0.5, non-adapting: AC sign bins


# ---------------------------------------------------------------------------
# QM-coder self-consistency
# ---------------------------------------------------------------------------


def test_qm_roundtrip_randomized_contexts():
    random.seed(20260816)
    for _trial in range(40):
        n_ctx = random.randint(1, 16)
        bias = [random.random() for _ in range(n_ctx)]
        seq = []
        for _ in range(random.randint(1, 3000)):
            ctx = random.randrange(n_ctx)
            seq.append((ctx, 1 if random.random() < bias[ctx] else 0))
        enc = QMEncoder()
        est = bytearray(n_ctx)
        for ctx, bit in seq:
            enc.encode(est, ctx, bit)
        data = enc.finish()
        dec = QMDecoder(data)
        dst = bytearray(n_ctx)
        for ctx, bit in seq:
            assert dec.decode(dst, ctx) == bit


def test_qm_roundtrip_fixed_bin_mixed():
    random.seed(7)
    seq = [random.getrandbits(1) for _ in range(4000)]
    enc = QMEncoder()
    st = bytearray(1)
    for i, bit in enumerate(seq):
        if i % 3 == 0:
            enc.encode_fixed(bit)
        else:
            enc.encode(st, 0, bit)
    data = enc.finish()
    dec = QMDecoder(data)
    dst = bytearray(1)
    for i, bit in enumerate(seq):
        got = dec.decode_fixed() if i % 3 == 0 else dec.decode(dst, 0)
        assert got == bit, i


def test_qm_wire_every_ff_followed_by_zero():
    """B.1.1.5: the entropy segment may never contain 0xFF followed by
    a non-zero byte (that would be a marker)."""
    random.seed(99)
    for _t in range(60):
        enc = QMEncoder()
        st = bytearray(4)
        for _ in range(random.randint(1, 5000)):
            enc.encode(st, random.randrange(4), random.getrandbits(1))
        data = enc.finish()
        for i, b in enumerate(data):
            if b == 0xFF:
                assert i + 1 < len(data) and data[i + 1] == 0x00, data.hex()


def test_qm_compresses_skewed_input():
    """Sanity: 10k heavily-skewed decisions must compress far below
    10k/8 bytes — the estimator is actually adapting."""
    enc = QMEncoder()
    st = bytearray(1)
    for i in range(10000):
        enc.encode(st, 0, 1 if i % 100 == 0 else 0)
    data = enc.finish()
    assert len(data) < 400, len(data)


# ---------------------------------------------------------------------------
# Annex F statistical models
# ---------------------------------------------------------------------------


def test_dc_ac_block_model_roundtrip():
    random.seed(5)
    lo, hi = (1 << DC_L_DEFAULT) >> 1, (1 << DC_U_DEFAULT) >> 1
    for _t in range(20):
        blocks = []
        for _ in range(random.randint(1, 30)):
            zz = [0] * 64
            zz[0] = random.randint(-2047, 2047)
            for k in random.sample(range(1, 64), random.randint(0, 24)):
                zz[k] = random.choice(
                    [1, -1, 3, -7, 255, -255, 1023, -1023]
                )
            blocks.append(zz)
        enc = QMEncoder()
        dcs, acs = bytearray(_DC_STAT_BINS), bytearray(_AC_STAT_BINS)
        ctx = prev = 0
        for zz in blocks:
            ctx = _encode_dc(enc, dcs, ctx, zz[0] - prev, lo, hi)
            prev = zz[0]
            _encode_ac(enc, acs, zz, AC_KX_DEFAULT)
        dec = QMDecoder(enc.finish())
        dcs2, acs2 = bytearray(_DC_STAT_BINS), bytearray(_AC_STAT_BINS)
        ctx2 = prev2 = 0
        for zz in blocks:
            diff, ctx2 = _decode_dc(dec, dcs2, ctx2, lo, hi)
            prev2 += diff
            got = _decode_ac(dec, acs2, AC_KX_DEFAULT)
            got[0] = prev2
            assert got == zz


# ---------------------------------------------------------------------------
# full streams: byte-equality vs the Huffman baseline
# ---------------------------------------------------------------------------


def test_gray_arith_equals_huffman_decode():
    rng = np.random.default_rng(11)
    for _t in range(12):
        h, w = int(rng.integers(8, 80)), int(rng.integers(8, 80))
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        d_h = jpeg_gray_decode(jpeg_gray_encode(img))[2]
        stream = jpeg_gray_encode_arith(img)
        w2, h2, d_a = jpeg_arith_decode(stream)
        assert (w2, h2) == (w, h)
        assert np.array_equal(d_h, d_a)


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_color_arith_equals_huffman_decode(sub):
    rng = np.random.default_rng(13 + ord(sub[1]))
    for _t in range(5):
        h, w = int(rng.integers(8, 56)), int(rng.integers(8, 56))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        d_h = jpeg_color_decode(jpeg_color_encode(img, subsampling=sub))[2]
        d_a = jpeg_arith_decode(
            jpeg_color_encode_arith(img, subsampling=sub)
        )[2]
        assert np.array_equal(d_h, d_a)


def test_gray_arith_nondefault_conditioning():
    """Non-default DAC parameters change the context allocation on both
    sides — decode reads L/U/Kx from the DAC segment, not constants."""
    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
    d_h = jpeg_gray_decode(jpeg_gray_encode(img))[2]
    for dc_l, dc_u, kx in [(1, 3, 20), (2, 2, 1), (0, 15, 63)]:
        stream = jpeg_gray_encode_arith(img, dc_l=dc_l, dc_u=dc_u, kx=kx)
        assert np.array_equal(jpeg_arith_decode(stream)[2], d_h)
    with pytest.raises(ValueError):
        jpeg_gray_encode_arith(img, dc_l=3, dc_u=1)
    with pytest.raises(ValueError):
        jpeg_gray_encode_arith(img, kx=0)


def test_gray_constant_and_ramp_images():
    img = np.full((24, 24), 128, dtype=np.uint8)
    assert np.array_equal(
        jpeg_arith_decode(jpeg_gray_encode_arith(img))[2],
        jpeg_gray_decode(jpeg_gray_encode(img))[2],
    )
    yy, xx = np.mgrid[0:48, 0:33]
    ramp = ((yy * 2 + xx * 3) % 200 + 20).astype(np.uint8)
    assert np.array_equal(
        jpeg_arith_decode(jpeg_gray_encode_arith(ramp))[2],
        jpeg_gray_decode(jpeg_gray_encode(ramp))[2],
    )


def test_arith_typically_smaller_than_huffman():
    """The whole point of arithmetic coding: on natural-ish content it
    beats the fixed Annex-K Huffman tables. Pin it on a textured image
    (not an adversarial requirement — one fixed seed, gray + color)."""
    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    assert len(jpeg_gray_encode_arith(img)) < len(jpeg_gray_encode(img))
    rgbimg = rng.integers(0, 256, size=(48, 48, 3), dtype=np.uint8)
    assert len(jpeg_color_encode_arith(rgbimg)) < len(
        jpeg_color_encode(rgbimg)
    )


# ---------------------------------------------------------------------------
# marker syntax & routing
# ---------------------------------------------------------------------------


def test_sof9_frame_marker_and_components():
    rng = np.random.default_rng(29)
    g = jpeg_gray_encode_arith(
        rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    )
    assert jpeg_frame_marker(g) == 0xC9
    assert jpeg_sof_components(g) == 1
    c = jpeg_color_encode_arith(
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    )
    assert jpeg_frame_marker(c) == 0xC9
    assert jpeg_sof_components(c) == 3
    # DAC segment present, no DHT
    assert b"\xff\xcc" in g and b"\xff\xc4" not in g[:200]


def test_huffman_decoders_reject_arith_streams():
    rng = np.random.default_rng(31)
    g = jpeg_gray_encode_arith(
        rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    )
    with pytest.raises(ValueError, match="arithmetic"):
        jpeg_gray_decode(g)
    c = jpeg_color_encode_arith(
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    )
    with pytest.raises(ValueError, match="arithmetic"):
        jpeg_color_decode(c)


def test_arith_decoder_rejects_huffman_streams():
    rng = np.random.default_rng(37)
    h = jpeg_gray_encode(rng.integers(0, 256, size=(16, 16), dtype=np.uint8))
    with pytest.raises(ValueError, match="arithmetic"):
        jpeg_arith_decode(h)


def test_multimodal_router_dispatches_sof9():
    from mergermetrics_lakehouse_pipeline_spark.operators.multimodal import (
        _decode_jpeg,
    )

    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
    out = _decode_jpeg(jpeg_gray_encode_arith(img))
    assert out["decoder"] == "jpeg"
    assert (out["dec_width"], out["dec_height"]) == (32, 24)
    # same pixels as the Huffman stream -> same perceptual hash
    ref = _decode_jpeg(jpeg_gray_encode(img))
    assert out["phash"] == ref["phash"]


# ---------------------------------------------------------------------------
# restart markers (DRI/RSTn) — F.1.4: fresh coder + fresh statistics
# ---------------------------------------------------------------------------


def test_gray_restart_intervals_bit_identical():
    rng = np.random.default_rng(55)
    img = rng.integers(0, 256, size=(56, 72), dtype=np.uint8)
    base = jpeg_arith_decode(jpeg_gray_encode_arith(img))[2]
    huff = jpeg_gray_decode(jpeg_gray_encode(img))[2]
    assert np.array_equal(base, huff)
    for ri in (1, 2, 3, 5, 9, 63):
        stream = jpeg_gray_encode_arith(img, restart_interval=ri)
        assert b"\xff\xdd" in stream  # DRI present
        assert np.array_equal(jpeg_arith_decode(stream)[2], base)


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_color_restart_intervals_bit_identical(sub):
    rng = np.random.default_rng(60 + ord(sub[2]))
    img = rng.integers(0, 256, size=(40, 48, 3), dtype=np.uint8)
    base = jpeg_arith_decode(jpeg_color_encode_arith(img, sub))[2]
    for ri in (1, 2, 4):
        got = jpeg_arith_decode(
            jpeg_color_encode_arith(img, sub, restart_interval=ri)
        )[2]
        assert np.array_equal(base, got)


def test_restart_marker_out_of_sequence_raises():
    rng = np.random.default_rng(71)
    img = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    stream = bytearray(jpeg_gray_encode_arith(img, restart_interval=1))
    # find the first RST0 and corrupt its modulo index
    i = stream.find(b"\xff\xd0")
    assert i > 0
    stream[i + 1] = 0xD5
    with pytest.raises(ValueError, match="restart marker"):
        jpeg_arith_decode(bytes(stream))


# ---------------------------------------------------------------------------
# property tests (hypothesis): the coder pair under adversarial inputs
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 7), st.integers(0, 1)),
            min_size=1,
            max_size=1500,
        )
    )
    def test_qm_roundtrip_property(seq):
        enc = QMEncoder()
        est = bytearray(8)
        for ctx, bit in seq:
            enc.encode(est, ctx, bit)
        dec = QMDecoder(enc.finish())
        dst = bytearray(8)
        for ctx, bit in seq:
            assert dec.decode(dst, ctx) == bit

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.integers(-1023, 1023), min_size=1, max_size=80))
    def test_dc_chain_roundtrip_property(dcs):
        """Arbitrary DC sequences (every context-classification path)
        roundtrip through the Annex-F DC model."""
        lo, hi = (1 << DC_L_DEFAULT) >> 1, (1 << DC_U_DEFAULT) >> 1
        enc = QMEncoder()
        stats = bytearray(_DC_STAT_BINS)
        ctx = prev = 0
        for dc in dcs:
            ctx = _encode_dc(enc, stats, ctx, dc - prev, lo, hi)
            prev = dc
        dec = QMDecoder(enc.finish())
        stats2 = bytearray(_DC_STAT_BINS)
        ctx2 = prev2 = 0
        out = []
        for _ in dcs:
            diff, ctx2 = _decode_dc(dec, stats2, ctx2, lo, hi)
            prev2 += diff
            out.append(prev2)
        assert out == dcs

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_truncated_stream_never_hangs():
    """Arithmetic streams are marker-terminated, so truncation is not
    generally detectable (the decoder zero-feeds) — but decode must
    TERMINATE for every prefix: either a ValueError from a model
    guard or a full-size (wrong-pixel) image, never a hang/crash."""
    rng = np.random.default_rng(83)
    img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
    stream = jpeg_gray_encode_arith(img)
    sos_end = stream.find(b"\xff\xda") + 14  # past the SOS header
    for cut in range(sos_end, len(stream) - 2, 7):
        trunc = stream[:cut] + b"\xff\xd9"
        try:
            w, h, dec = jpeg_arith_decode(trunc)
            assert (w, h) == (32, 24) and dec.shape == (24, 32)
        except ValueError:
            pass  # a model guard fired — fine


def test_decode_dc_magnitude_overflow_raises_valueerror():
    """A corrupt stream whose magnitude-category run reaches m == 1<<15
    must raise the model's ValueError (IJG's 0x8000 check), never an
    IndexError from the mantissa bin st+14 == 49 running past the
    49-entry DC stats area (round-11 review)."""
    enc = QMEncoder()
    est = bytearray(64)
    enc.encode(est, 0, 1)  # nonzero
    enc.encode(est, 1, 0)  # positive -> st = 2
    enc.encode(est, 2, 1)  # m = 1, jump to the X bins at 20
    for st in range(20, 35):  # 15 widenings: m reaches exactly 1<<15
        enc.encode(est, st, 1)
    enc.encode(est, 35, 0)  # loop would EXIT here -> mantissa bin 49
    dec = QMDecoder(enc.finish())
    with pytest.raises(ValueError, match="overflow"):
        _decode_dc(dec, bytearray(_DC_STAT_BINS), 0, DC_L_DEFAULT,
                   DC_U_DEFAULT)


def test_strict_decode_takes_arithmetic_jpeg_and_names_only_missing_codecs():
    """Strict mode decodes an arithmetic-coded JPEG for real; a payload
    that does need a codec library is refused with a message that lists
    only formats the engine cannot decode."""
    from mergermetrics_lakehouse_pipeline_spark.operators.multimodal import (
        _decode_payload,
    )

    img = np.random.default_rng(11).integers(0, 256, (16, 24), dtype=np.uint8)
    out = _decode_payload(jpeg_gray_encode_arith(img), strict=True)
    assert (out["dec_width"], out["dec_height"]) == (24, 16)
    assert out["decoder"] != "stub"
    mp4 = b"\x00\x00\x00\x18ftypmp42" + bytes(16)
    with pytest.raises(NotImplementedError) as err:
        _decode_payload(mp4, strict=True)
    assert "MP4" in str(err.value)
    assert "arithmetic" not in str(err.value)
