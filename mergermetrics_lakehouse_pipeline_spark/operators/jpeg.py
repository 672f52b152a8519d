"""JPEG codec from the public spec (ITU-T T.81 / ISO 10918-1), no codec
libraries: the pipeline stages every JPEG process has in common, plus
the Huffman sequential (baseline, SOF0) entropy coder.

The three processes the engine reads and writes differ only in their
entropy coder: Huffman sequential here, Huffman progressive (SOF2) in
jpeg_progressive.py, the QM arithmetic coder (SOF9) in jpeg_arith.py.
Everything else is one function each, in this module:

    forward:  _comp_grids — pixels -> YCbCr planes (4:4:4 / 4:2:2 /
              4:2:0, box-filtered chroma) -> edge-padded 8x8 blocks ->
              FDCT -> quantize (Annex-K tables) -> zigzag grids.
    framing:  _seg / _frame_header / _sos — SOI, APP0 (JFIF), DQT, SOFn,
              the coder's DHT or DAC segments, DRI and SOS.
    parse:    _parse_headers — the marker walk (_segments), returning
              the frame header and every scan with its entropy-coded
              bytes and the tables in force when it starts.
    order:    _scan_units — the data-unit order of a scan (A.2),
              interleaved MCUs or one component's own block grid, with
              the RSTm index due before each restart interval.
    rebuild:  _grids_to_pixels — dequantize -> IDCT -> level shift and
              clamp -> chroma upsample (pixel replication) -> crop ->
              RGB pass-through (APP14 transform 0 or component ids
              'R','G','B'), JFIF/BT.601 YCbCr inverse, or YCCK reject.

jpeg_decode decodes any of the three; operators/multimodal.py routes
the FFD8 magic to it. Everything is numpy-vectorized outside the entropy
coders and runs executor-side inside the multimodal Arrow batches,
deterministic for a given payload.
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K.1 luminance quantization table, raster order
STD_LUMA_QUANT = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

# Annex K.2 chrominance quantization table, raster order
STD_CHROMA_QUANT = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

#: zigzag scan order: ZIGZAG[k] = (row, col) of the k-th coefficient
def _zigzag_order() -> list[tuple[int, int]]:
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(s + 1) if i < 8 and s - i < 8]
        order.extend(diag if s % 2 else diag[::-1])
    return order


ZIGZAG = _zigzag_order()

# Annex K.3.1: luminance DC Huffman spec (BITS, HUFFVAL)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
# Annex K.3.2: luminance AC Huffman spec
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Annex K.3.2.1: chrominance DC Huffman spec (BITS, HUFFVAL)
DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_VALS_C = list(range(12))
# Annex K.3.2.2: chrominance AC Huffman spec
AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


#: Annex-K tables by table id: 0 = luminance, 1 = chrominance
_STD_QUANT = (STD_LUMA_QUANT, STD_CHROMA_QUANT)
_STD_HUFFMAN = (
    ((DC_BITS, DC_VALS), (AC_BITS, AC_VALS)),
    ((DC_BITS_C, DC_VALS_C), (AC_BITS_C, AC_VALS_C)),
)

#: chroma subsampling -> luma (h, v) sampling factors
_SUBSAMPLING = {"420": (2, 2), "422": (2, 1), "444": (1, 1)}

#: the frame types the engine decodes; every other SOFn raises
_FRAMES = {
    0xC0: "baseline (SOF0)",
    0xC2: "progressive (SOF2)",
    0xC9: "arithmetic-coded (SOF9)",
}
_FRAME_DECODERS = {
    0xC0: "jpeg_gray_decode / jpeg_color_decode",
    0xC2: "jpeg_progressive.jpeg_progressive_decode",
    0xC9: "jpeg_arith.jpeg_arith_decode",
}


def _ceil(a: int, b: int) -> int:
    return -(-a // b)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) per the spec's canonical assignment
    (C.2: codes of each length are consecutive, lengths ascending)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for u in range(8):
        c = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16)
    return m


_DCT_M = _dct_matrix()

#: zigzag order as parallel index arrays for vectorized gather/scatter
_ZZ_ROWS = np.array([r for r, _c in ZIGZAG])
_ZZ_COLS = np.array([c for _r, c in ZIGZAG])


def _dct_blocks(blocks: np.ndarray, ncomp: int, inverse: bool) -> np.ndarray:
    """2-D DCT (or its inverse) of every block of an (nby, nbx, 8, 8)
    stack. A 1-component frame takes the per-block matrix form, a colour
    frame one batched einsum. The two sum in different orders, so they
    can differ in the last ulp and rint a borderline value differently;
    keeping the choice here keeps every encoder's coefficients and every
    decoder's pixels identical for the same frame."""
    if ncomp != 1:
        spec = "ux,nbuv,vy->nbxy" if inverse else "ux,nbxy,vy->nbuv"
        return np.einsum(spec, _DCT_M, blocks, _DCT_M)
    left, right = (_DCT_M.T, _DCT_M) if inverse else (_DCT_M, _DCT_M.T)
    out = np.empty(blocks.shape)
    for by, bx in np.ndindex(*blocks.shape[:2]):
        out[by, bx] = left @ np.ascontiguousarray(blocks[by, bx]) @ right
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (B.1.1.5)
                self.out.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec

    def emit_restart(self, m: int) -> None:
        """Byte-align and write RSTm (E.1.4) — markers are raw bytes,
        never stuffed."""
        self.flush()
        self.out.append(0xFF)
        self.out.append(0xD0 | (m & 7))


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _amplitude_bits(v: int, size: int) -> int:
    # positive: the value itself; negative: one's complement (F.1.2.1)
    return v if v >= 0 else v + (1 << size) - 1


def _encode_block(
    writer: _BitWriter,
    zz: list[int],
    prev_dc: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-encode one zigzagged quantized block (F.1.2: DC
    difference category + AC run/size with ZRL and EOB); returns the
    block's DC for the component's predictor."""
    diff = zz[0] - prev_dc
    size = _category(diff)
    code, length = dc_codes[size]
    writer.put(code, length)
    writer.put(_amplitude_bits(diff, size), size)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k] != 0), default=0)
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            zcode, zlen = ac_codes[0xF0]  # ZRL
            writer.put(zcode, zlen)
            run -= 16
        size = _category(v)
        code, length = ac_codes[(run << 4) | size]
        writer.put(code, length)
        writer.put(_amplitude_bits(v, size), size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        writer.put(code, length)
    return zz[0]


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream underrun")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("unexpected marker in entropy data")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> int:
        """Consume an RSTm marker at the current byte boundary (E.1.4):
        drop any partial bits (the encoder 1-padded to align), expect
        0xFF 0xD0..0xD7, return m."""
        self.acc = 0
        self.n = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError(
                f"expected restart marker at byte {self.pos}"
            )
        m = self.data[self.pos + 1] & 7
        self.pos += 2
        return m


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value decoding map."""
    out: dict[tuple[int, int], int] = {}
    for v, (code, length) in _canonical_codes(bits, vals).items():
        out[(length, code)] = v
    return out


def _read_huff(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    # F.2.2.1 EXTEND: map the size-bit amplitude back to signed
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_block_zz(
    reader: _BitReader,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    dc_pred: int,
) -> tuple[list[int], int]:
    """Entropy-decode one block into its zigzag coefficient list
    (F.2.2: DC difference + AC run/size with ZRL and EOB); returns
    (zz, new DC predictor)."""
    zz = [0] * 64
    size = _read_huff(reader, dc_tab)
    dc_pred += _extend(reader.bits(size), size)
    zz[0] = dc_pred
    k = 1
    while k < 64:
        rs = _read_huff(reader, ac_tab)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        if k > 63:
            raise ValueError("AC run past block end")
        zz[k] = _extend(reader.bits(rs & 0x0F), rs & 0x0F)
        k += 1
    return zz, dc_pred


def _rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """JFIF full-range BT.601 forward transform, float64 planes."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601 inverse transform -> HxWx3 uint8."""
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


# ---------------------------------------------------------------------------
# forward path and framing (every encoder)
# ---------------------------------------------------------------------------


def _comp_grids(img: np.ndarray, subsampling: str) -> tuple[dict, dict]:
    """Pixels -> quantized zigzag coefficient grids. An HxW uint8 image
    is one luminance component; an HxWx3 RGB image becomes Y, Cb, Cr
    with the chroma box-filtered per ``subsampling``. Edges pad by
    replication to whole MCUs. Returns (frame, grids): frame holds
    width, height and comps [(cid, h, v, tq)] as _parse_headers reports
    them, grids maps cid -> (rows, cols, 64) int64."""
    if img.ndim == 2:
        hs = vs = 1
    elif subsampling in _SUBSAMPLING:
        hs, vs = _SUBSAMPLING[subsampling]
    else:
        raise ValueError("subsampling must be '420', '422' or '444'")
    h, w = img.shape[:2]
    ph, pw = _ceil(h, 8 * vs) * 8 * vs, _ceil(w, 8 * hs) * 8 * hs
    pad = ((0, ph - h), (0, pw - w)) + ((0, 0),) * (img.ndim - 2)
    padded = np.pad(img, pad, mode="edge")
    if img.ndim == 2:
        planes = [padded.astype(np.float64)]
    else:
        y, cb, cr = _rgb_to_ycbcr(padded)
        if hs == 2 or vs == 2:
            # box-filter downsample (the standard's suggested filter):
            # 2x2 for 4:2:0, horizontal-only for 4:2:2
            cb = cb.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
            cr = cr.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))
        planes = [y, cb, cr]
    comps = [(1, hs, vs, 0), (2, 1, 1, 1), (3, 1, 1, 1)][: len(planes)]
    grids = {}
    for (cid, _hf, _vf, tq), plane in zip(comps, planes):
        nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
        blocks = plane.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
        coeffs = _dct_blocks(blocks, len(comps), inverse=False)
        quant = np.rint(coeffs / _STD_QUANT[tq].astype(np.float64))
        grids[cid] = quant.astype(np.int64)[..., _ZZ_ROWS, _ZZ_COLS]
    return {"width": w, "height": h, "comps": comps}, grids


def _seg(marker: int, body: bytes) -> bytes:
    """One marker segment: marker, length (counting itself), body."""
    return struct.pack(">HH", marker, len(body) + 2) + body


def _dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return _seg(0xFFC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))


def _sos(
    selectors: list[tuple[int, int]], ss: int = 0, se: int = 63,
    ah: int = 0, al: int = 0,
) -> bytes:
    """SOS header: (component id, Td<<4|Ta) per scan component, then
    the spectral band and successive-approximation bits."""
    body = bytes([len(selectors)])
    for cid, tables in selectors:
        body += bytes([cid, tables])
    return _seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))


def _frame_header(
    sof: int, frame: dict, tables: bytes = b"", restart_interval: int = 0
) -> bytes:
    """SOI through DRI: APP0 (JFIF), one DQT per quantization table the
    components use, the SOFn frame header, the entropy coder's DHT or
    DAC segments, and DRI when restarts are on."""
    comps = frame["comps"]
    out = b"\xff\xd8" + _seg(
        0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for tq in sorted({c[3] for c in comps}):
        zz = bytes(int(_STD_QUANT[tq][r][c]) for r, c in ZIGZAG)
        out += _seg(0xFFDB, bytes([tq]) + zz)
    sof_body = struct.pack(
        ">BHHB", 8, frame["height"], frame["width"], len(comps)
    )
    for cid, hf, vf, tq in comps:
        sof_body += bytes([cid, (hf << 4) | vf, tq])
    out += _seg(sof, sof_body) + tables
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    return out


def _scan_units(frame: dict, members: list, restart_interval: int = 0):
    """The data-unit order of one scan (T.81 A.2), for encoders and
    decoders alike. Yields (rst, comp, row, col): the scan component,
    the block position in its grid, and the RSTm index due before this
    unit (None except at the first unit of a new restart interval).
    A one-component scan walks that component's own ceil(size / 8)
    block grid, one unit per MCU; an interleaved scan walks MCUs of
    h x v units per component, in scan order."""
    comps = frame["comps"]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(members) == 1:
        _cid, hf, vf, _tq = members[0]
        layout = [(members[0], 1, 1)]
        mcuy = _ceil(_ceil(frame["height"] * vf, vmax), 8)
        mcux = _ceil(_ceil(frame["width"] * hf, hmax), 8)
    else:
        layout = [(c, c[1], c[2]) for c in members]
        mcuy = _ceil(frame["height"], 8 * vmax)
        mcux = _ceil(frame["width"], 8 * hmax)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            rst = None
            if restart_interval and mcu and mcu % restart_interval == 0:
                rst = (mcu // restart_interval - 1) & 7
            mcu += 1
            for comp, hf, vf in layout:
                for by in range(vf):
                    for bx in range(hf):
                        yield rst, comp, my * vf + by, mx * hf + bx
                        rst = None


def _sequential_encode(
    img: np.ndarray, subsampling: str, restart_interval: int, sof: int,
    make_coder,
) -> bytes:
    """A sequential stream around one interleaved scan. ``make_coder``
    takes the table ids in use and returns the entropy coder:
    ``block(comp, zz)`` codes one data unit, ``restart(m)`` ends a
    restart interval with RSTm, ``tables()`` gives its DHT or DAC
    segments and ``finish()`` the entropy-coded bytes."""
    frame, grids = _comp_grids(img, subsampling)
    comps = frame["comps"]
    coder = make_coder(sorted({c[3] for c in comps}))
    for rst, comp, r, c in _scan_units(frame, comps, restart_interval):
        if rst is not None:
            coder.restart(rst)
        coder.block(comp, grids[comp[0]][r, c].tolist())
    return (
        _frame_header(sof, frame, coder.tables(), restart_interval)
        + _sos([(cid, 0x11 * tq) for cid, _hf, _vf, tq in comps])
        + coder.finish()
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# marker walk and pixel rebuild (every decoder)
# ---------------------------------------------------------------------------


def _entropy_end(payload: bytes, pos: int) -> int:
    """Index of the marker that ends the entropy-coded data starting at
    ``pos``: the first 0xFF (plus any fill bytes) followed by neither a
    stuffed 0x00 nor an RSTn marker."""
    while True:
        pos = payload.find(b"\xff", pos)
        if pos < 0:
            return len(payload)
        nxt = pos + 1
        while nxt < len(payload) and payload[nxt] == 0xFF:
            nxt += 1
        if nxt < len(payload) and (
            payload[nxt] == 0x00 or 0xD0 <= payload[nxt] <= 0xD7
        ):
            pos = nxt + 1
            continue
        return pos


def _segments(payload: bytes):
    """The marker walk: yields (marker, body, data) per segment up to
    EOI, where data is an SOS segment's entropy-coded bytes (None for
    other segments). Any number of 0xFF fill bytes may precede a marker
    (B.1.1.2)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        while pos + 2 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:
            return
        (length,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        body = payload[pos + 4:pos + 2 + length]
        pos += 2 + length
        if marker != 0xDA:
            yield marker, body, None
            continue
        end = _entropy_end(payload, pos)
        yield marker, body, payload[pos:end]
        pos = end


def _parse_headers(payload: bytes) -> dict:
    """Frame and scan headers of a baseline, progressive or arithmetic
    sequential stream. Returns {frame (the SOFn byte), width, height,
    comps: [(cid, h, v, tq)], quant, restart_interval, adobe_transform,
    scans}. Each scan is {comps: [(cid, td, ta)], ss, se, ah, al, data,
    huff, cond}: its entropy-coded bytes and the Huffman tables and
    arithmetic conditioning (DAC) in force when it starts.
    ``adobe_transform`` is the APP14 colour-transform flag (None when
    absent): 0 = components are straight R,G,B (Photoshop-style
    streams), 1 = YCbCr. A 1-component frame is stored with 1x1
    sampling: its MCU is one data unit whatever the SOF says (A.2.2)."""
    hdr: dict = {
        "frame": None, "width": None, "height": None, "comps": [],
        "quant": {}, "restart_interval": 0, "adobe_transform": None,
        "scans": [],
    }
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    cond: dict[tuple[int, int], int] = {}
    for marker, body, data in _segments(payload):
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros((8, 8), dtype=np.int32)
                for k, (r, c) in enumerate(ZIGZAG):
                    tbl[r, c] = body[i + 1 + k]
                hdr["quant"][tq] = tbl
                i += 65
        elif marker in _FRAMES:
            hdr["frame"] = marker
            _prec, hdr["height"], hdr["width"], ncomp = struct.unpack(
                ">BHHB", body[:6]
            )
            if ncomp not in (1, 3):
                raise ValueError(f"{ncomp}-component frames unsupported")
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci:9 + 3 * ci]
                hf, vf = hv >> 4, hv & 0x0F
                if not (1 <= hf <= 2 and 1 <= vf <= 2):
                    raise ValueError(
                        f"sampling factor {hf}x{vf} out of the 1-2 range"
                    )
                hdr["comps"].append(
                    (cid, hf, vf, tq) if ncomp > 1 else (cid, 1, 1, tq)
                )
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                "only baseline (SOF0), progressive (SOF2) and arithmetic "
                f"sequential (SOF9) frames supported, got SOF{marker - 0xC0}"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                huff[(tc, th)] = _decode_table(bits, list(body[i + 17:i + 17 + n]))
                i += 17 + n
        elif marker == 0xCC:  # DAC (B.2.4.3, arithmetic conditioning)
            for i in range(0, len(body) - 1, 2):
                cond[(body[i] >> 4, body[i] & 0x0F)] = body[i + 1]
        elif marker == 0xDD:  # DRI
            (hdr["restart_interval"],) = struct.unpack(">H", body[:2])
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            hdr["adobe_transform"] = body[11]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
            hdr["scans"].append({
                "comps": [
                    (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                    for i in range(ns)
                ],
                "ss": ss, "se": se, "ah": ahal >> 4, "al": ahal & 0x0F,
                "data": data, "huff": dict(huff), "cond": dict(cond),
            })
    if hdr["frame"] is None or not hdr["scans"]:
        raise ValueError("missing SOF/SOS")
    return hdr


def _parse_frame(payload: bytes, frame: int) -> dict:
    """_parse_headers for a decoder of one frame type: any other type
    raises, naming the decoder that reads it."""
    hdr = _parse_headers(payload)
    if hdr["frame"] != frame:
        raise ValueError(
            f"{_FRAMES[hdr['frame']]} stream, not {_FRAMES[frame]}: use "
            f"{_FRAME_DECODERS[hdr['frame']]}"
        )
    return hdr


def _coef_grids(hdr: dict) -> dict[int, np.ndarray]:
    """Zeroed zigzag coefficient grids per component at MCU-padded size."""
    comps = hdr["comps"]
    mcuy = _ceil(hdr["height"], 8 * max(c[2] for c in comps))
    mcux = _ceil(hdr["width"], 8 * max(c[1] for c in comps))
    return {
        cid: np.zeros((mcuy * vf, mcux * hf, 64), dtype=np.int32)
        for cid, hf, vf, _tq in comps
    }


def _sequential_grids(hdr: dict, make_coder) -> dict[int, np.ndarray]:
    """Coefficient grids of a sequential frame's one interleaved scan.
    ``make_coder(scan)`` returns the entropy decoder: ``block(cid, td,
    ta)`` gives the next data unit's zigzag coefficients with the DC
    prediction undone, ``restart(m)`` consumes RSTm and resets the
    coder's state."""
    scans = hdr["scans"]
    if len(scans) != 1 or len(scans[0]["comps"]) != len(hdr["comps"]):
        raise ValueError("non-interleaved multi-scan unsupported")
    by_cid = {c[0]: c for c in hdr["comps"]}
    tables = {cid: (td, ta) for cid, td, ta in scans[0]["comps"]}
    members = [by_cid[cid] for cid in tables]
    coder = make_coder(scans[0])
    grids = _coef_grids(hdr)
    for rst, comp, r, c in _scan_units(hdr, members, hdr["restart_interval"]):
        if rst is not None:
            coder.restart(rst)
        grids[comp[0]][r, c] = coder.block(comp[0], *tables[comp[0]])
    return grids


def _grids_to_pixels(hdr: dict, grids: dict) -> tuple[int, int, np.ndarray]:
    """Coefficient grids -> (width, height, pixels), for every decoder:
    dequantize, IDCT, level shift and clamp, replicate subsampled chroma
    up to full resolution, crop. A 1-component frame returns HxW uint8.
    A 3-component frame returns HxWx3 uint8 RGB: planes pass through
    when APP14 says transform 0 or the component ids spell 'R','G','B',
    APP14 YCCK raises, and anything else is JFIF YCbCr."""
    comps = hdr["comps"]
    width, height = hdr["width"], hdr["height"]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for cid, hf, vf, tq in comps:
        coeffs = np.zeros(grids[cid].shape[:2] + (8, 8))
        coeffs[..., _ZZ_ROWS, _ZZ_COLS] = grids[cid]
        q = hdr["quant"][tq].astype(np.float64)
        blocks = _dct_blocks(coeffs * q, len(comps), inverse=True)
        nby, nbx = blocks.shape[:2]
        plane = np.clip(
            np.rint(blocks + 128.0), 0, 255
        ).transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        plane = np.repeat(
            np.repeat(plane, vmax // vf, axis=0), hmax // hf, axis=1
        )
        planes.append(plane[:height, :width])
    if len(planes) == 1:
        return width, height, planes[0].astype(np.uint8)
    if hdr["adobe_transform"] == 2:
        raise ValueError("APP14 YCCK transform unsupported")
    ids = tuple(c[0] for c in comps)
    if hdr["adobe_transform"] == 0 or ids == (0x52, 0x47, 0x42):
        return width, height, np.stack(planes, axis=-1).astype(np.uint8)
    return width, height, _ycbcr_to_rgb(*planes)


def _sof_probe(payload: bytes) -> tuple[int, int]:
    """(SOFn marker byte, component count) of the first frame header,
    without building tables or touching entropy data."""
    for marker, body, _data in _segments(payload):
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return marker, body[5]
        if marker == 0xDA:
            break
    raise ValueError("no SOF header found")


def jpeg_frame_marker(payload: bytes) -> int:
    """The stream's SOFn marker byte (0xC0 baseline, 0xC2 progressive,
    ...) — read without decoding."""
    return _sof_probe(payload)[0]


def jpeg_sof_components(payload: bytes) -> int:
    """Component count from the SOF header — read without decoding."""
    return _sof_probe(payload)[1]


def jpeg_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline, progressive or arithmetic-coded sequential
    JPEG: (width, height, HxW uint8) for 1 component, (width, height,
    HxWx3 uint8 RGB) for 3."""
    hdr = _parse_headers(payload)
    if hdr["frame"] == 0xC2:
        from .jpeg_progressive import _progressive_grids as grids_of
    elif hdr["frame"] == 0xC9:
        from .jpeg_arith import _arith_grids as grids_of
    else:
        grids_of = _huffman_grids
    return _grids_to_pixels(hdr, grids_of(hdr))


# ---------------------------------------------------------------------------
# Huffman sequential (baseline) entropy coder
# ---------------------------------------------------------------------------


class _HuffmanEncoder:
    """Annex-K Huffman tables, one DC predictor per component (F.1.2)."""

    def __init__(self, tqs: list[int]):
        self.tqs = tqs
        self.codes = {
            tq: tuple(_canonical_codes(*spec) for spec in _STD_HUFFMAN[tq])
            for tq in tqs
        }
        self.writer = _BitWriter()
        self.pred: dict[int, int] = {}

    def block(self, comp: tuple, zz: list[int]) -> None:
        cid, tq = comp[0], comp[3]
        self.pred[cid] = _encode_block(
            self.writer, zz, self.pred.get(cid, 0), *self.codes[tq]
        )

    def restart(self, m: int) -> None:
        self.writer.emit_restart(m)
        self.pred = {}

    def tables(self) -> bytes:
        return b"".join(
            _dht(tc, tq, *_STD_HUFFMAN[tq][tc]) for tq in self.tqs for tc in (0, 1)
        )

    def finish(self) -> bytes:
        self.writer.flush()
        return bytes(self.writer.out)


class _HuffmanDecoder:
    """Huffman entropy decoder of one sequential scan (F.2.2)."""

    def __init__(self, scan: dict):
        self.reader = _BitReader(scan["data"])
        self.huff = scan["huff"]
        self.pred: dict[int, int] = {}

    def block(self, cid: int, td: int, ta: int) -> list[int]:
        zz, self.pred[cid] = _decode_block_zz(
            self.reader, self.huff[(0, td)], self.huff[(1, ta)],
            self.pred.get(cid, 0),
        )
        return zz

    def restart(self, m: int) -> None:
        got = self.reader.restart()
        if got != m:
            raise ValueError(f"restart marker out of sequence: RST{got}")
        self.pred = {}


def _huffman_grids(hdr: dict) -> dict[int, np.ndarray]:
    return _sequential_grids(hdr, _HuffmanDecoder)


def jpeg_gray_encode(
    pixels: np.ndarray, restart_interval: int = 0
) -> bytes:
    """Encode an HxW uint8 grayscale matrix as a baseline JFIF JPEG
    (single luminance component, Annex-K quant + Huffman tables).
    Blocks on the right/bottom edge pad by edge replication.
    ``restart_interval`` > 0 emits a DRI segment and an RSTm marker
    every that-many MCUs (camera streams use them for error
    resilience); the DC predictor resets at each marker."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("jpeg_gray_encode expects an HxW array")
    return _sequential_encode(
        px, "444", restart_interval, 0xFFC0, _HuffmanEncoder
    )


def jpeg_color_encode(
    rgb: np.ndarray, subsampling: str = "420", restart_interval: int = 0
) -> bytes:
    """Encode an HxWx3 uint8 RGB image as a baseline 3-component YCbCr
    JFIF JPEG. ``subsampling`` is ``"420"`` (2x2 luma blocks per MCU,
    box-filtered chroma — the dominant real-corpus layout), ``"422"``
    (horizontal-only chroma subsampling, the camera/video favorite) or
    ``"444"`` (full-resolution chroma). Luma uses the Annex-K K.1/K.3.1
    tables, chroma the K.2/K.3.2 tables; edges pad by replication."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("jpeg_color_encode expects an HxWx3 RGB array")
    return _sequential_encode(
        rgb, subsampling, restart_interval, 0xFFC0, _HuffmanEncoder
    )


def jpeg_gray_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline single-component JPEG; returns
    (width, height, HxW uint8 matrix). Raises on multi-component
    (use jpeg_color_decode), progressive, or arithmetic-coded streams."""
    hdr = _parse_frame(payload, 0xC0)
    if len(hdr["comps"]) != 1:
        raise ValueError("multi-component stream: use jpeg_color_decode")
    return _grids_to_pixels(hdr, _huffman_grids(hdr))


def jpeg_color_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline 3-component JPEG (sampling factors 1-2 per
    axis, so 4:4:4, 4:2:2 and 4:2:0); returns (width, height, HxWx3
    uint8 RGB). Restart markers (DRI/RSTn) decode with the modulo-8
    sequence verified; progressive and arithmetic-coded streams raise."""
    hdr = _parse_frame(payload, 0xC0)
    if len(hdr["comps"]) != 3:
        raise ValueError(
            f"{len(hdr['comps'])}-component stream: use jpeg_gray_decode "
            "for single-component baselines"
        )
    return _grids_to_pixels(hdr, _huffman_grids(hdr))
