"""Arithmetic-coded JPEG (ITU-T T.81 Annex D QM-coder + Annex F
statistical models): the entropy coder of SOF9 streams (extended
sequential DCT, arithmetic coding, DAC conditioning segments), encode
and decode, for single-component (luminance) and 3-component YCbCr
streams, no codec libraries. The forward path, framing, marker walk,
data-unit order and pixel rebuild are jpeg.py's, so an arithmetic-coded
stream carries the same quantized coefficients as the Huffman baseline
and decodes BYTE-EQUAL to it.

What is implemented from the public spec:

- The QM-coder (Annex D): MPS/LPS interval subdivision with
  conditional exchange, the 113-state probability-estimation table
  (Table D.3) plus the non-adapting "fixed" state used for AC signs,
  encoder renormalization with carry propagation through stacked 0xFF
  bytes, 0x00 byte stuffing after every data 0xFF (B.1.1.5), and the
  trailing-zero-suppressing flush (D.1.8-D.1.9). The decoder feeds
  zero bits once the terminating marker is reached (F.2.2.5 note) —
  exactly the convention the encoder's dropped trailing zeros assume.
- The sequential statistical models (F.1.4): DC differences
  conditioned on the previous difference's five-way classification
  (zero/small+/small-/large+/large-, bounds from the DAC segment's
  L/U parameters, 49 bins per conditioning table), AC coefficients
  conditioned per zigzag index k (SE end-of-block / S0 significance /
  shared X1-X2 magnitude bins, 3 per k, plus the two 28-bin
  low/high-spectrum magnitude regions split at Kx — 245 bins), and
  the fixed near-0.5 state for AC signs.
- Marker syntax (B.2/B.2.4.3): SOF9 (extended sequential, arithmetic),
  DAC with Cs = (U<<4)|L for DC tables and Cs = Kx for AC tables; no
  DHT segments.

The probability-estimation table was reconstructed from the public
spec (T.81 Table D.3, identical to T.82/JBIG); tests/test_jpeg_arith.py
pins its structural invariants (chain monotonicity, switch placement)
and the codec's self-consistency over randomized decision sequences,
and the roundtrip oracle (media_jpeg_arith_roundtrip) pins the decode
byte-equal to the Huffman baseline. Cross-implementation byte-level
interop is unverifiable in this container (no libjpeg/PIL present).
"""

from __future__ import annotations

import numpy as np

from .jpeg import (
    _grids_to_pixels,
    _parse_frame,
    _seg,
    _sequential_encode,
    _sequential_grids,
)

# ---------------------------------------------------------------------------
# Annex D: the QM-coder
# ---------------------------------------------------------------------------

#: T.81 Table D.3 probability-estimation state machine, reconstructed
#: from the public spec: (Qe, NLPS, NMPS, SWITCH) per state. Index 113
#: is the non-adapting ~0.5 state (NMPS = NLPS = 113) used for AC
#: signs (F.1.4.3.1).
QE_TABLE: list[tuple[int, int, int, int]] = [
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
]

#: statistics bin = (state_index & 0x7F) | (MPS << 7), IJG-compact form
_FIXED_STATE = 113


class QMEncoder:
    """Annex D.1 encoder: interval register A, code register C (28
    significant bits: 16-bit fraction aligned with A, output window at
    bits 19-26, carry at 27), CT bits-to-next-byteout counter, and the
    pending-byte machinery (buffer/stacked-0xFF/deferred-zeros) that
    lets a late carry rewrite bytes already extracted but not yet
    final."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11  # D.1.7 INITENC: 3 spare carry bits over the first byte
        self.buffer = -1  # last extracted byte, may still take a carry
        self.sc = 0  # pending 0xFF bytes (a carry turns them into 0x00)
        self.zc = 0  # deferred 0x00 bytes (dropped if trailing at flush)
        self.out = bytearray()

    # -- byte layer ---------------------------------------------------

    def _emit(self, b: int) -> None:
        """Write one final byte: flush deferred zeros first, stuff a
        0x00 after a data 0xFF (B.1.1.5)."""
        if self.zc:
            self.out.extend(b"\x00" * self.zc)
            self.zc = 0
        self.out.append(b & 0xFF)
        if (b & 0xFF) == 0xFF:
            self.out.append(0x00)

    def _byteout(self) -> None:
        t = self.c >> 19
        self.c &= 0x7FFFF
        self.ct = 8
        if t > 0xFF:
            # carry: propagates through every stacked 0xFF (they
            # become 0x00) into the buffered byte
            if self.buffer < 0:
                raise ValueError("QM carry out of the code value")
            self._emit(self.buffer + 1)
            self.zc += self.sc
            self.sc = 0
            self.buffer = t & 0xFF
        elif t == 0xFF:
            self.sc += 1  # defer — a later carry may rewrite it
        else:
            # t <= 0xFE absorbs any later carry: everything pending is
            # final now
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._emit(self.buffer)
            while self.sc:
                self._emit(0xFF)  # _emit appends the stuffed 0x00
                self.sc -= 1
            self.buffer = t

    def _renorm(self) -> None:
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    # -- decision layer -----------------------------------------------

    def encode(self, stats: bytearray, i: int, bit: int) -> None:
        """Code one binary decision against context bin ``stats[i]``
        (D.1.4/D.1.5 with conditional exchange + estimation update).
        MPS owns the lower subinterval [0, A-Qe), LPS the upper."""
        sv = stats[i]
        qe, nlps, nmps, switch = QE_TABLE[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if bit == mps:
            if self.a & 0x8000:
                return  # short MPS path: no renorm, no estimation
            if self.a < qe:  # conditional exchange: MPS takes the top
                self.c += self.a
                self.a = qe
            stats[i] = (mps << 7) | nmps
        else:
            if self.a >= qe:  # no exchange: LPS takes the top
                self.c += self.a
                self.a = qe
            # else exchange: LPS keeps the (smaller) lower interval
            if switch:
                mps ^= 1
            stats[i] = (mps << 7) | nlps
        self._renorm()

    def encode_fixed(self, bit: int) -> None:
        """Non-adapting ~0.5 decision (state 113, MPS = 0): AC signs."""
        st = bytearray((_FIXED_STATE,))
        self.encode(st, 0, bit)

    def finish(self) -> bytes:
        """D.1.8-D.1.9 FLUSH: pick the in-interval value with the most
        trailing zero bits, push the remaining significant bytes, drop
        trailing zeros (the decoder zero-feeds past the marker)."""
        t = (self.c + self.a - 1) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            if self.buffer < 0:
                raise ValueError("QM flush carry out of the code value")
            self._emit(self.buffer + 1)
            self.zc += self.sc
            self.sc = 0
            self.c &= 0x7FFFFFF
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._emit(self.buffer)
            while self.sc:
                self._emit(0xFF)
                self.sc -= 1
        self.buffer = -1
        if self.c & 0x7FFF800:  # any significant bits left?
            self._emit((self.c >> 19) & 0xFF)
            if self.c & 0x7F800:
                self._emit((self.c >> 11) & 0xFF)
        return bytes(self.out)


class QMDecoder:
    """Annex D.2/F.2 decoder: interval A, 16-bit code-fraction window
    CF fed MSB-first from the unstuffed byte stream; once the
    terminating marker is seen the feed supplies zero bits (the
    encoder's dropped trailing zeros)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.hit_marker = False
        self.next_marker = -1  # marker byte value once hit (e.g. 0xD0)
        self.marker_end = -1  # index just past the marker byte
        self.cur = 0
        self.nb = 0
        self.a = 0x10000
        self.cf = (self._byte() << 8) | self._byte()

    def _byte(self) -> int:
        if self.hit_marker or self.pos >= len(self.data):
            self.hit_marker = True
            return 0
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            # B.1.1.2 fill bytes, then: 0x00 = stuffed (data byte is
            # 0xFF), anything else = marker -> zero-feed from here on
            while self.pos < len(self.data) and self.data[self.pos] == 0xFF:
                self.pos += 1
            if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                self.pos += 1
                return 0xFF
            self.hit_marker = True
            if self.pos < len(self.data):
                self.next_marker = self.data[self.pos]
                self.marker_end = self.pos + 1
            return 0
        return b

    def find_marker(self) -> tuple[int, int]:
        """(marker byte, index past it) for the next marker at/after the
        current read position — the RSTn lookup at a restart boundary.
        Decoding may not have consumed every byte of the finished
        segment (the coder reads lazily), so unread data bytes before
        the marker are skipped; 0xFF 0x00 is data, never a marker."""
        if self.hit_marker and self.next_marker >= 0:
            return self.next_marker, self.marker_end
        i = self.pos
        data = self.data
        while i < len(data):
            if data[i] != 0xFF:
                i += 1
                continue
            j = i + 1
            while j < len(data) and data[j] == 0xFF:
                j += 1
            if j < len(data) and data[j] != 0x00:
                return data[j], j + 1
            i = j + 1  # stuffed data byte, keep scanning
        raise ValueError("expected a marker in the entropy stream")

    def _bit(self) -> int:
        if self.nb == 0:
            self.cur = self._byte()
            self.nb = 8
        self.nb -= 1
        return (self.cur >> self.nb) & 1

    def _renorm(self) -> None:
        while self.a < 0x8000:
            self.a <<= 1
            self.cf = ((self.cf << 1) | self._bit()) & 0x1FFFF
            if self.cf >= 0x10000:
                # cf must stay below a (<= 0x10000); a 17th bit means
                # corrupt input
                raise ValueError("QM decoder code value out of range")

    def decode(self, stats: bytearray, i: int) -> int:
        """Decode one decision against ``stats[i]`` (F.2.4 DECODE with
        MPS_EXCHANGE/LPS_EXCHANGE), the inverse of QMEncoder.encode."""
        sv = stats[i]
        qe, nlps, nmps, switch = QE_TABLE[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if self.cf < self.a:
            # lower subinterval
            if self.a & 0x8000:
                return mps  # short MPS path
            if self.a < qe:  # exchange: lower belongs to LPS
                bit = mps ^ 1
                if switch:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            else:
                bit = mps
                stats[i] = (mps << 7) | nmps
        else:
            # upper subinterval
            self.cf -= self.a
            if self.a < qe:  # exchange: upper belongs to MPS
                bit = mps
                stats[i] = (mps << 7) | nmps
            else:
                bit = mps ^ 1
                if switch:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            self.a = qe
        self._renorm()
        return bit

    def decode_fixed(self) -> int:
        st = bytearray((_FIXED_STATE,))
        return self.decode(st, 0)


# ---------------------------------------------------------------------------
# Annex F.1.4: sequential DC/AC statistical models
# ---------------------------------------------------------------------------

#: DC conditioning (B.2.4.3 defaults): Cs = (U << 4) | L
DC_L_DEFAULT = 0
DC_U_DEFAULT = 1
#: AC conditioning default: Kx
AC_KX_DEFAULT = 5

_DC_STAT_BINS = 49  # 5 contexts x 4 + X1..X15 + M2..M15 (F.1.4.4.1.3)
_AC_STAT_BINS = 245  # 63 x (SE,S0,X1X2) + 2 x 28 magnitude regions


def _classify_dc(m: int, diff: int, lo: int, hi: int) -> int:
    """F.1.4.4.1.2: conditioning context for the NEXT block from this
    block's difference: 0 zero, 4/8 small +/-, 12/16 large +/-.
    ``m`` is the magnitude-category leading power-of-two VALUE (0 for
    |diff| = 1); ``lo``/``hi`` are (1<<L)>>1 and (1<<U)>>1 from the
    DAC conditioning byte."""
    if diff == 0:
        return 0
    base = 4 if diff > 0 else 8
    if m < lo:
        return 0
    if m > hi:
        return base + 8
    return base


def _encode_dc(
    enc: QMEncoder, stats: bytearray, ctx: int, diff: int, lo: int, hi: int
) -> int:
    """Encode one DC difference (F.1.4.1); returns the next context."""
    st = ctx
    if diff == 0:
        enc.encode(stats, st, 0)
        return 0
    enc.encode(stats, st, 1)
    if diff > 0:
        enc.encode(stats, st + 1, 0)
        st += 2  # SP
        v = diff - 1
    else:
        enc.encode(stats, st + 1, 1)
        st += 3  # SN
        v = -diff - 1
    m = 0
    if v:
        enc.encode(stats, st, 1)
        m = 1
        st = 20  # X1
        v2 = v
        while v2 >> 1:
            v2 >>= 1
            enc.encode(stats, st, 1)
            m <<= 1
            st += 1
    enc.encode(stats, st, 0)
    # mantissa bits below the leading 1
    mst = st + 14
    mm = m >> 1
    while mm:
        enc.encode(stats, mst, 1 if (v & mm) else 0)
        mm >>= 1
    return _classify_dc(m, diff, lo, hi)


def _decode_dc(
    dec: QMDecoder, stats: bytearray, ctx: int, lo: int, hi: int
) -> tuple[int, int]:
    """Decode one DC difference; returns (diff, next context)."""
    st = ctx
    if dec.decode(stats, st) == 0:
        return 0, 0
    negative = dec.decode(stats, st + 1)
    st += 3 if negative else 2
    m = 0
    if dec.decode(stats, st):
        m = 1
        st = 20
        while dec.decode(stats, st):
            m <<= 1
            st += 1
            # IJG's 0x8000 check: m == 1<<15 would index mantissa bin
            # st+14 == 49, past the 49-entry DC stats area — corrupt
            # stream, not a larger category.
            if m >= (1 << 15):
                raise ValueError("DC magnitude category overflow")
    v = m
    mst = st + 14
    mm = m >> 1
    while mm:
        if dec.decode(stats, mst):
            v |= mm
        mm >>= 1
    mag = v + 1
    diff = -mag if negative else mag
    return diff, _classify_dc(m, diff, lo, hi)


def _encode_ac(
    enc: QMEncoder, stats: bytearray, zz: list[int], kx: int
) -> None:
    """Encode the 63 AC coefficients of one zigzagged block
    (F.1.4.2): per-k SE/S0/X1X2 triplets, fixed-state signs, the
    low/high magnitude regions split at Kx."""
    ke = 0
    for k in range(63, 0, -1):
        if zz[k]:
            ke = k
            break
    k = 1
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)  # SE: not end-of-block
        while zz[k] == 0:
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        enc.encode(stats, st + 1, 1)
        v = zz[k]
        if v > 0:
            enc.encode_fixed(0)
        else:
            enc.encode_fixed(1)
            v = -v
        st += 2  # shared X1/X2 bin for this k
        v -= 1
        m = 0
        if v:
            enc.encode(stats, st, 1)  # X1
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(stats, st, 1)  # X2, same bin
                m <<= 1
                st = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(stats, st, 1)
                    m <<= 1
                    st += 1
        enc.encode(stats, st, 0)
        mst = st + 14
        mm = m >> 1
        while mm:
            enc.encode(stats, mst, 1 if (v & mm) else 0)
            mm >>= 1
        k += 1
    if ke < 63:
        enc.encode(stats, 3 * (ke + 1 - 1), 1)  # SE: end-of-block


def _decode_ac(dec: QMDecoder, stats: bytearray, kx: int) -> list[int]:
    """Decode 63 AC coefficients into zz[1..63]."""
    zz = [0] * 64
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            break  # end-of-block
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("AC significance run past block end")
        negative = dec.decode_fixed()
        st += 2
        m = 0
        if dec.decode(stats, st):
            m = 1
            if dec.decode(stats, st):
                m = 2
                st = 189 if k <= kx else 217
                while dec.decode(stats, st):
                    m <<= 1
                    st += 1
                    if m > (1 << 15):
                        raise ValueError("AC magnitude category overflow")
        v = m
        mst = st + 14
        mm = m >> 1
        while mm:
            if dec.decode(stats, mst):
                v |= mm
            mm >>= 1
        mag = v + 1
        zz[k] = -mag if negative else mag
        k += 1
    return zz


# ---------------------------------------------------------------------------
# frame layer: SOF9 streams (B.2 marker syntax, DAC conditioning)
# ---------------------------------------------------------------------------


class _ArithEncoder:
    """QM-coder entropy encoder of one sequential scan: statistics per
    conditioning table, DC predictor and context per component. Per
    F.1.4 a restart REINITIALIZES the coder and resets every statistics
    area (Huffman restarts only reset DC predictors)."""

    def __init__(self, tqs: list[int], dc_l: int, dc_u: int, kx: int):
        self.tqs, self.dc_l, self.dc_u, self.kx = tqs, dc_l, dc_u, kx
        self.lo, self.hi = (1 << dc_l) >> 1, (1 << dc_u) >> 1
        self.parts: list[bytes] = []
        self._reset()

    def _reset(self) -> None:
        self.enc = QMEncoder()
        self.dc = {tq: bytearray(_DC_STAT_BINS) for tq in self.tqs}
        self.ac = {tq: bytearray(_AC_STAT_BINS) for tq in self.tqs}
        self.prev: dict[int, int] = {}
        self.ctx: dict[int, int] = {}

    def block(self, comp: tuple, zz: list[int]) -> None:
        cid, tq = comp[0], comp[3]
        self.ctx[cid] = _encode_dc(
            self.enc, self.dc[tq], self.ctx.get(cid, 0),
            zz[0] - self.prev.get(cid, 0), self.lo, self.hi,
        )
        self.prev[cid] = zz[0]
        _encode_ac(self.enc, self.ac[tq], zz, self.kx)

    def restart(self, m: int) -> None:
        self.parts += [self.enc.finish(), bytes([0xFF, 0xD0 | m])]
        self._reset()

    def tables(self) -> bytes:
        """One DAC segment: (Tc<<4|Tb, Cs) per DC and AC table."""
        cs_dc = (self.dc_u << 4) | self.dc_l
        return _seg(0xFFCC, bytes(
            b for tq in self.tqs for b in (tq, cs_dc, 0x10 | tq, self.kx)
        ))

    def finish(self) -> bytes:
        return b"".join(self.parts) + self.enc.finish()


class _ArithDecoder:
    """QM-coder entropy decoder of one sequential scan; conditioning
    from the scan's DAC entries, spec defaults for tables without one."""

    def __init__(self, scan: dict):
        self.data = scan["data"]
        self.bounds: dict[int, tuple[int, int]] = {}
        self.kx: dict[int, int] = {}
        for _cid, td, ta in scan["comps"]:
            cs = scan["cond"].get((0, td), (DC_U_DEFAULT << 4) | DC_L_DEFAULT)
            self.bounds[td] = ((1 << (cs & 0x0F)) >> 1, (1 << (cs >> 4)) >> 1)
            self.kx[ta] = scan["cond"].get((1, ta), AC_KX_DEFAULT)
        self._reset(0)

    def _reset(self, pos: int) -> None:
        self.dec = QMDecoder(self.data, pos)
        self.dc = {td: bytearray(_DC_STAT_BINS) for td in self.bounds}
        self.ac = {ta: bytearray(_AC_STAT_BINS) for ta in self.kx}
        self.pred: dict[int, int] = {}
        self.ctx: dict[int, int] = {}

    def block(self, cid: int, td: int, ta: int) -> list[int]:
        diff, self.ctx[cid] = _decode_dc(
            self.dec, self.dc[td], self.ctx.get(cid, 0), *self.bounds[td]
        )
        self.pred[cid] = self.pred.get(cid, 0) + diff
        zz = _decode_ac(self.dec, self.ac[ta], self.kx[ta])
        zz[0] = self.pred[cid]
        return zz

    def restart(self, m: int) -> None:
        mk, end = self.dec.find_marker()
        if not (0xD0 <= mk <= 0xD7) or (mk & 7) != m:
            raise ValueError(f"restart marker out of sequence: {hex(mk)}")
        self._reset(end)


def _arith_grids(hdr: dict) -> dict[int, np.ndarray]:
    return _sequential_grids(hdr, _ArithDecoder)


def jpeg_gray_encode_arith(
    pixels: np.ndarray,
    dc_l: int = DC_L_DEFAULT,
    dc_u: int = DC_U_DEFAULT,
    kx: int = AC_KX_DEFAULT,
    restart_interval: int = 0,
) -> bytes:
    """Encode an HxW uint8 grayscale matrix as an SOF9 (extended
    sequential, arithmetic-coded) JFIF stream. The quantized
    coefficients — and therefore the decoded pixels — are IDENTICAL to
    jpeg_gray_encode's; only the entropy layer differs. ``dc_l``/``dc_u``
    (0 <= L <= U <= 15) and ``kx`` (1-63) are the DAC conditioning
    parameters — non-default values change the context allocation on
    BOTH sides, so they exercise the DAC segment for real.
    ``restart_interval`` > 0 emits DRI + RSTm markers every that-many
    MCUs."""
    if not (0 <= dc_l <= dc_u <= 15):
        raise ValueError("DC conditioning requires 0 <= L <= U <= 15")
    if not (1 <= kx <= 63):
        raise ValueError("AC conditioning requires 1 <= Kx <= 63")
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("jpeg_gray_encode_arith expects an HxW array")
    return _sequential_encode(
        px, "444", restart_interval, 0xFFC9,
        lambda tqs: _ArithEncoder(tqs, dc_l, dc_u, kx),
    )


def jpeg_color_encode_arith(
    rgb: np.ndarray, subsampling: str = "420", restart_interval: int = 0
) -> bytes:
    """Encode an HxWx3 uint8 RGB image as a 3-component YCbCr SOF9
    arithmetic-coded stream (4:2:0 / 4:2:2 / 4:4:4) with the quantized
    coefficients of jpeg_color_encode; conditioning table 0 for luma,
    table 1 for chroma, both at the default conditioning."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("jpeg_color_encode_arith expects HxWx3 RGB")
    return _sequential_encode(
        rgb, subsampling, restart_interval, 0xFFC9,
        lambda tqs: _ArithEncoder(
            tqs, DC_L_DEFAULT, DC_U_DEFAULT, AC_KX_DEFAULT
        ),
    )


def jpeg_arith_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode an SOF9 arithmetic-coded sequential JPEG (1 or 3
    components, sampling factors 1-2 per axis); returns (width, height,
    HxW uint8 matrix) for single-component streams and (width, height,
    HxWx3 uint8 RGB) for colour. Restart intervals (DRI/RSTn) decode
    with the modulo-8 sequence verified; per F.1.4 each interval gets
    a fresh coder AND fresh statistics areas."""
    hdr = _parse_frame(payload, 0xC9)
    return _grids_to_pixels(hdr, _arith_grids(hdr))
