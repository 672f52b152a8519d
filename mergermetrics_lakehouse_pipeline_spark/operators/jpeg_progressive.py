"""Progressive JPEG (ITU-T T.81 Annex G, Huffman coding): the entropy
coder of SOF2 streams, encode and decode, pure numpy. Real web corpora
are full of progressive streams (libjpeg's default scan script).

Both spectral selection AND successive approximation are implemented:

    decode: per-scan entropy decode (DC first/refine, AC first with EOB
            runs, AC refinement with correction bits — the
            G.1.2.2/G.1.2.3 algorithms) into per-component coefficient
            grids; jpeg.py parses the scans and rebuilds the pixels.
    encode: the libjpeg-style scan script (DC Al=1 interleaved, AC
            bands at Al=2/1, then DC/AC refinement passes down to
            Al=0), two passes per scan — a statistics pass builds a
            canonical Huffman table over exactly the symbols the scan
            emits (the Annex-K tables lack the EOBn symbols progressive
            needs), then the emission pass writes DHT+SOS+entropy.

The coefficients come from jpeg.py's forward path, and successive
approximation transmits them in full by the final Al=0 passes, so a
progressive round trip reconstructs EXACTLY the coefficients the
sequential baseline codec produces for the same image — the test suite
pins progressive-decode output equal, byte-for-byte, to the baseline
decoder's.

Out of scope (loud errors): restart markers, arithmetic coding,
12-bit precision.
"""

from __future__ import annotations

import numpy as np

from .jpeg import (
    _amplitude_bits,
    _BitReader,
    _BitWriter,
    _canonical_codes,
    _category,
    _coef_grids,
    _comp_grids,
    _dht,
    _extend,
    _frame_header,
    _grids_to_pixels,
    _parse_frame,
    _read_huff,
    _scan_units,
    _sos,
)

# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


class _SymbolCounter:
    """Statistics-pass sink: counts Huffman symbols, ignores raw bits."""

    def __init__(self):
        self.counts: dict[int, int] = {}

    def symbol(self, sym: int) -> None:
        self.counts[sym] = self.counts.get(sym, 0) + 1

    def bits(self, value: int, length: int) -> None:  # noqa: ARG002
        pass


class _SymbolWriter:
    """Emission-pass sink: Huffman-codes symbols into the bit writer."""

    def __init__(self, writer: _BitWriter, codes: dict[int, tuple[int, int]]):
        self.writer = writer
        self.codes = codes

    def symbol(self, sym: int) -> None:
        code, length = self.codes[sym]
        self.writer.put(code, length)

    def bits(self, value: int, length: int) -> None:
        if length:
            self.writer.put(value, length)


def _balanced_table(symbols: list[int]) -> tuple[list[int], list[int]]:
    """(BITS, HUFFVAL) for a fixed-length canonical table over exactly
    ``symbols``: every code gets length L = ceil(log2(n+1)), which
    keeps the all-ones code of length L unassigned (T.81 C.2 reserves
    it so marker-alignment padding can never alias a code). Compression
    is secondary to correctness here; a decoder sees a perfectly
    ordinary DHT."""
    syms = sorted(set(symbols))
    n = len(syms)
    if n == 0:
        syms, n = [0], 1  # a scan may emit no symbols; DHT must be valid
    length = max(1, (n + 1 - 1).bit_length())
    while (1 << length) - 1 < n:  # need n codes, all-ones reserved
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    return bits, syms


def _positions(frame: dict, comp: tuple) -> list[tuple[int, int]]:
    """Block positions of a one-component (AC) scan, in scan order."""
    return [(r, c) for _rst, _comp, r, c in _scan_units(frame, [comp])]


def _dc_scan(sink, frame, members, grids, ah, al):
    """A DC scan: the first pass (Ah=0) codes the predicted DC >> Al,
    a refinement (Ah>0) sends bit Al of each DC as one raw bit."""
    preds: dict[int, int] = {}
    for _rst, comp, r, c in _scan_units(frame, members):
        dc = int(grids[comp[0]][r, c, 0])
        if ah:
            sink.bits((abs(dc) >> al) & 1, 1)
            continue
        diff = (dc >> al) - preds.get(comp[0], 0)
        preds[comp[0]] = dc >> al
        size = _category(diff)
        sink.symbol(size)
        sink.bits(_amplitude_bits(diff, size), size)


def _ac_first_scan(sink, grid, positions, ss, se, al):
    state = {"eobrun": 0}

    def flush_eob():
        if state["eobrun"]:
            e = state["eobrun"].bit_length() - 1
            sink.symbol(e << 4)
            sink.bits(state["eobrun"] & ((1 << e) - 1), e)
            state["eobrun"] = 0

    for by, bx in positions:
        zz = grid[by, bx]
        band = []
        for k in range(ss, se + 1):
            v = int(zz[k])
            band.append(
                (v >> al) if v >= 0 else -((-v) >> al)
            )  # G.1.2.1: AC point transform truncates toward zero
        last = max(
            (i for i, v in enumerate(band) if v != 0), default=-1
        )
        if last < 0:
            state["eobrun"] += 1
            if state["eobrun"] == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        r = 0
        for i in range(last + 1):
            v = band[i]
            if v == 0:
                r += 1
                continue
            while r > 15:
                sink.symbol(0xF0)  # ZRL
                r -= 16
            size = _category(v)
            sink.symbol((r << 4) | size)
            sink.bits(_amplitude_bits(v, size), size)
            r = 0
        if last < se - ss:
            state["eobrun"] += 1
            if state["eobrun"] == 0x7FFF:
                flush_eob()
    flush_eob()


def _ac_refine_scan(sink, grid, positions, ss, se, al):
    """G.1.2.3 — newly-significant coefficients plus correction bits
    for history, buffered across EOB runs (the jcphuff algorithm)."""
    state = {"eobrun": 0, "be": []}

    def flush_eob():
        if state["eobrun"]:
            e = state["eobrun"].bit_length() - 1
            sink.symbol(e << 4)
            sink.bits(state["eobrun"] & ((1 << e) - 1), e)
            state["eobrun"] = 0
        for b in state["be"]:
            sink.bits(b, 1)
        state["be"] = []

    for by, bx in positions:
        zz = grid[by, bx]
        coefs = [int(zz[k]) for k in range(ss, se + 1)]
        mags = [abs(c) >> al for c in coefs]
        eob = max((i for i, m in enumerate(mags) if m == 1), default=-1)
        r = 0
        br: list[int] = []
        for i, c in enumerate(coefs):
            m = mags[i]
            if m == 0:
                r += 1
                continue
            # pending ZRLs flush at EVERY nonzero-magnitude position
            # (corrections included) so the wire keeps the decoder
            # walk's positional order: ZRL, then the correction bits
            # of the span it covers, in coefficient order
            while r > 15 and i <= eob:
                flush_eob()
                sink.symbol(0xF0)
                r -= 16
                for b in br:
                    sink.bits(b, 1)
                br = []
            if m > 1:
                br.append((abs(c) >> al) & 1)
                continue
            # newly significant (magnitude becomes 1 at this Al)
            flush_eob()
            sink.symbol((r << 4) | 1)
            sink.bits(1 if c >= 0 else 0, 1)
            for b in br:
                sink.bits(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            state["eobrun"] += 1
            state["be"].extend(br)
            if state["eobrun"] == 0x7FFF:
                flush_eob()
    flush_eob()


def _scan_bytes(members, ss, se, ah, al, encode) -> bytes:
    """One scan: DHT + SOS + entropy-coded data. ``encode(sink)`` must
    be deterministic: it runs twice, a statistics pass that builds the
    table and the emission pass. A DC refinement codes raw bits only,
    so it runs once and carries no DHT."""
    writer = _BitWriter()
    dht = b""
    if ss or not ah:
        counter = _SymbolCounter()
        encode(counter)
        bits, vals = _balanced_table(list(counter.counts))
        dht = _dht(0 if ss == 0 else 1, 0, bits, vals)
        encode(_SymbolWriter(writer, _canonical_codes(bits, vals)))
    else:
        encode(_SymbolWriter(writer, {}))
    writer.flush()
    # every scan redefines table 0 of its class just before its SOS
    selectors = [(c[0], 0x00) for c in members]
    return dht + _sos(selectors, ss, se, ah, al) + bytes(writer.out)


def jpeg_progressive_encode(
    img: np.ndarray, subsampling: str = "420", dc_scans: str = "interleaved"
) -> bytes:
    """Encode a grayscale HxW or RGB HxWx3 uint8 image as a PROGRESSIVE
    JPEG (SOF2) with the libjpeg-style scan script: interleaved DC at
    Al=1, AC bands per component at Al=2 (luma) / Al=1 (chroma), an AC
    luma refinement to Al=1, then DC and AC refinements down to Al=0.
    The quantized coefficients are identical to the sequential
    encoder's, so a full decode reconstructs the same image bytes.
    ``dc_scans="per-component"`` emits the mozjpeg-style variant — one
    non-interleaved DC scan (and refinement) per component over its own
    block grid — exercising the other legal G.1 traversal."""
    if dc_scans not in ("interleaved", "per-component"):
        raise ValueError("dc_scans must be 'interleaved' or 'per-component'")
    frame, grids = _comp_grids(np.asarray(img, dtype=np.uint8), subsampling)
    comps = frame["comps"]
    dc_groups = [[c] for c in comps] if dc_scans == "per-component" else [comps]

    def dc(ah, al):
        return b"".join(
            _scan_bytes(
                group, 0, 0, ah, al,
                lambda sink, g=group: _dc_scan(sink, frame, g, grids, ah, al),
            )
            for group in dc_groups
        )

    def ac(comp, ss, se, ah, al):
        fn = _ac_first_scan if ah == 0 else _ac_refine_scan
        positions = _positions(frame, comp)
        return _scan_bytes(
            [comp], ss, se, ah, al,
            lambda sink: fn(sink, grids[comp[0]], positions, ss, se, al),
        )

    luma, chroma = comps[0], comps[1:]
    out = _frame_header(0xFFC2, frame) + dc(0, 1) + ac(luma, 1, 5, 0, 2)
    out += b"".join(ac(c, 1, 63, 0, 1) for c in chroma)
    out += ac(luma, 6, 63, 0, 2)
    out += ac(luma, 1, 63, 2, 1)  # luma AC refine 2 -> 1
    out += dc(1, 0)  # DC refinement Ah=1 -> Al=0 (raw bits)
    out += b"".join(ac(c, 1, 63, 1, 0) for c in chroma)
    out += ac(luma, 1, 63, 1, 0)
    return out + b"\xff\xd9"


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _decode_ac_first(scan, grid, positions):
    reader = _BitReader(scan["data"])
    ss, se, al = scan["ss"], scan["se"], scan["al"]
    _cid, _td, ta = scan["comps"][0]
    ac_tab = scan["huff"][(1, ta)]
    eobrun = 0
    for by, bx in positions:
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = _read_huff(reader, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.bits(r)
                break
            k += r
            if k > se:
                raise ValueError("AC run past band end")
            grid[by, bx, k] = _extend(reader.bits(s), s) << al
            k += 1


def _decode_ac_refine(scan, grid, positions):
    """G.1.2.3 / jdphuff: corrections to already-nonzero coefficients,
    insertions of newly-significant ±1<<Al."""
    reader = _BitReader(scan["data"])
    ss, se, al = scan["ss"], scan["se"], scan["al"]
    _cid, _td, ta = scan["comps"][0]
    ac_tab = scan["huff"][(1, ta)]
    p1, m1 = 1 << al, -1 << al
    eobrun = 0

    def correct(by, bx, k):
        c = int(grid[by, bx, k])
        if reader.bit() and (abs(c) >> al) & 1 == 0:
            grid[by, bx, k] = c + (p1 if c >= 0 else m1)

    for by, bx in positions:
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _read_huff(reader, ac_tab)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s:
                    if s != 1:
                        raise ValueError(
                            "refinement scan with size > 1"
                        )
                    newval = p1 if reader.bit() else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    break
                # advance over r zero-history positions (with
                # corrections for nonzero-history ones passed)
                while k <= se:
                    if int(grid[by, bx, k]) != 0:
                        correct(by, bx, k)
                    else:
                        if r == 0:
                            if newval:
                                grid[by, bx, k] = newval
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun > 0:
            while k <= se:
                if int(grid[by, bx, k]) != 0:
                    correct(by, bx, k)
                k += 1
            eobrun -= 1


def _decode_dc_scan(scan, hdr, members, grids):
    """DC scan walk over _scan_units: an interleaved scan walks MCUs, a
    one-component scan the component's own ceil(size / 8) block grid
    (mozjpeg-style scan scripts emit per-component DC scans, and the
    MCU-padded grid is bigger for subsampled layouts)."""
    reader = _BitReader(scan["data"])
    al, ah = scan["al"], scan["ah"]
    if ah == 0:
        tabs = {cid: scan["huff"][(0, td)] for cid, td, _ta in scan["comps"]}
    preds: dict[int, int] = {}
    for _rst, (cid, *_rest), r, c in _scan_units(hdr, members):
        if ah == 0:
            size = _read_huff(reader, tabs[cid])
            preds[cid] = preds.get(cid, 0) + _extend(reader.bits(size), size)
            grids[cid][r, c, 0] = preds[cid] << al
        elif reader.bit():
            grids[cid][r, c, 0] |= 1 << al


def _progressive_grids(hdr: dict) -> dict[int, np.ndarray]:
    """Coefficient grids of an SOF2 frame, accumulated scan by scan."""
    if hdr["restart_interval"]:
        raise ValueError("restart markers unsupported")
    by_cid = {c[0]: c for c in hdr["comps"]}
    grids = _coef_grids(hdr)
    for scan in hdr["scans"]:
        members = [by_cid[cid] for cid, _td, _ta in scan["comps"]]
        if scan["ss"] == 0:
            if scan["se"] != 0:
                raise ValueError("scan mixing DC and AC bands")
            _decode_dc_scan(scan, hdr, members, grids)
            continue
        if len(members) != 1:
            raise ValueError("interleaved AC scan is not legal progressive")
        fn = _decode_ac_first if scan["ah"] == 0 else _decode_ac_refine
        fn(scan, grids[members[0][0]], _positions(hdr, members[0]))
    return grids


def jpeg_progressive_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a progressive (SOF2, Huffman) JPEG; returns
    (width, height, HxW uint8) for single-component streams or
    (width, height, HxWx3 uint8 RGB) for 3-component ones."""
    hdr = _parse_frame(payload, 0xC2)
    return _grids_to_pixels(hdr, _progressive_grids(hdr))
