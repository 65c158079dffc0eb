"""Progressive JPEG (ITU-T T.81 SOF2, 8-bit Huffman): the entropy
coder for spectral selection and successive approximation, decoding
and encoding. functions/jpeg.py owns everything around it: the marker
reader hands each SOF2 scan to _decode_prog_scan, which only fills
coefficients, and the frame is reconstructed at EOI; the encoder uses
jpeg.py's front end and header writers.

Progressive streams carry the SAME quantized DCT coefficients as
baseline, split across multiple scans: spectral selection (a scan
covers one zigzag band [Ss..Se] of one component; DC scans may
interleave components) and successive approximation (a first scan
delivers each coefficient divided by 2^Al, later scans refine one bit
at a time, Ah = the previous scan's Al). Most JPEGs on the public web
are SOF2, so a consumer bringing real files needs this path.

Decoder scope: interleaved DC scans, per-component AC scans,
successive-approximation refinement (including EOB-run correction
bits), restart intervals; table redefinition between scans is the
marker reader's.

Encoder scope: greyscale and RGB (4:4:4 / 4:2:0) with libjpeg's
default progressive scan script (DC first at Al=1, banded AC firsts,
one-bit AC refinements, DC refinement). DC scans use the Annex K DC
tables; AC scans use a flat 8-bit canonical table (every AC symbol
including the EOBn run-length codes at code length 8 — Kraft-valid,
deliberately simple: the encoder exists to produce spec-correct
streams for the decoder and tests, not to win a size contest; note
Annex K's AC tables cannot express EOBn for n>0 at all). Decoded
pixels are BIT-IDENTICAL to the baseline path's: both encoders share
jpeg.py's front end, so the coefficient arrays agree exactly and only
the scan packaging differs (pinned by tests/test_jpeg.py round-trips).

Algorithm structure for the refinement scans follows T.81 G.1.2.3
(decoding: G.2; the same logic libjpeg implements in jdphuff.c, which
is the de-facto conformance reference for successive approximation).
"""

from __future__ import annotations

import numpy as np

from streams_spark.functions.jpeg import (
    _BitReader,
    _BitWriter,
    _DC_CHROMA,
    _DC_LUMA,
    _MarkerHit,
    _canonical_codes,
    _dht,
    _encode_front,
    _extend,
    _frame_header,
    _magnitude,
    _mcus,
    _next_marker,
    _read_symbol,
    _sos,
)

# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _decode_prog_scan(data, pos, frame, scan, tables):
    """Decode one progressive scan into the coefficient arrays; return
    the stream position of the next marker."""
    ss, se, ah, al = scan.ss, scan.se, scan.ah, scan.al
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        dc = [tables.huffman(0, t) for t in scan.td] if ah == 0 else None
    else:
        if len(scan.comps) != 1:
            raise ValueError("progressive AC scan must be single-component")
        if not ss <= se <= 63:
            raise ValueError("bad spectral band")
        ac_tab = tables.huffman(1, scan.ta[0])
        decode_ac = _decode_ac_first if ah == 0 else _decode_ac_refine
    reader = _BitReader(data, pos)
    state = {"eobrun": 0}
    preds = [0] * len(scan.comps)
    dri = tables.dri
    try:
        for n, mcu in enumerate(_mcus(frame, scan.comps)):
            if n and dri and n % dri == 0:
                reader.restart()
                state["eobrun"] = 0
                preds = [0] * len(preds)
            for si, blk in mcu:
                if ss:
                    decode_ac(reader, blk, ss, se, al, ac_tab, state)
                elif ah == 0:  # first DC scan: Huffman-coded diffs
                    size = _read_symbol(reader, dc[si])
                    preds[si] += _extend(reader.bits(size), size)
                    blk[0] = preds[si] << al
                elif reader.bit():  # DC refinement: one raw bit per block
                    blk[0] |= 1 << al
    except _MarkerHit as hit:
        raise ValueError(
            f"marker {hit.marker:#x} interrupted progressive scan"
        ) from None
    return _next_marker(data, reader.pos)


def _decode_ac_first(reader, blk, ss, se, al, ac_tab, state):
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _read_symbol(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.bits(r)
                state["eobrun"] = eobrun - 1  # this block ends now
                break
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("AC run past end of band")
            blk[k] = _extend(reader.bits(s), s) << al
            k += 1


def _decode_ac_refine(reader, blk, ss, se, al, ac_tab, state):
    # T.81 G.2 / jdphuff.c decode_mcu_AC_refine: correction bits for
    # already-nonzero coefficients interleave with the run-length codes
    # that place newly-significant +-1<<Al coefficients.
    p1 = 1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _read_symbol(reader, ac_tab)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    state["eobrun"] = eobrun
                    break  # correction-bit tail below handles the rest
                # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("refinement scan size must be 1")
                newval = p1 if reader.bit() else -p1
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if reader.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            c = int(blk[k])
            if c != 0 and reader.bit() and (c & p1) == 0:
                blk[k] = c + (p1 if c >= 0 else -p1)
            k += 1
        state["eobrun"] -= 1


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

# Flat 8-bit canonical AC table for progressive scans: every (run, size)
# symbol with size 0..10 PLUS the EOBn codes (r<<4 for r=0..14) that
# Annex K's AC tables cannot express. 176 symbols of length 8 satisfy
# Kraft (176 <= 256) and never produce the all-ones code.
_AC_PROG_SYMBOLS = sorted(
    {(r << 4) | s for r in range(16) for s in range(1, 11)}
    | {r << 4 for r in range(15)}
    | {0xF0}
)
_AC_PROG = ([0] * 7 + [len(_AC_PROG_SYMBOLS)] + [0] * 8, _AC_PROG_SYMBOLS)

_EOB_CAP = 0x7FFF  # largest run expressible by EOB14 + 14 bits


class _ScanWriter:
    """Per-scan entropy writer holding the cross-block EOB-run and
    buffered-correction-bit state of a progressive AC scan."""

    def __init__(self, ac_codes) -> None:
        self.w = _BitWriter()
        self.ac = ac_codes
        self.eobrun = 0
        self.bebuf: list[int] = []  # correction bits riding the next flush

    def sym(self, symbol: int) -> None:
        code, length = self.ac[symbol]
        self.w.write(code, length)

    def emit_buffered(self) -> None:
        for b in self.bebuf:
            self.w.write(b, 1)
        self.bebuf = []

    def flush_eob(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.sym(r << 4)
            if r:
                self.w.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        self.emit_buffered()

    def finish(self) -> bytes:
        self.flush_eob()
        return self.w.flush()


def _encode_dc_first(sw, blocks_iter, al, dc_codes):
    preds = [0] * len(dc_codes)
    for si, blk in blocks_iter:
        v = int(blk[0]) >> al
        diff = v - preds[si]
        preds[si] = v
        size, bits = _magnitude(diff)
        code, length = dc_codes[si][size]
        sw.w.write(code, length)
        if size:
            sw.w.write(bits, size)


def _encode_dc_refine(sw, blocks_iter, al):
    for _ci, blk in blocks_iter:
        sw.w.write((int(blk[0]) >> al) & 1, 1)


def _encode_ac_first(sw, blk, ss, se, al):
    band = [int(v) for v in blk[ss : se + 1]]
    shifted = [
        (v >> al) if v >= 0 else -((-v) >> al) for v in band
    ]
    last = -1
    for i, v in enumerate(shifted):
        if v:
            last = i
    if last < 0:
        sw.eobrun += 1
        if sw.eobrun == _EOB_CAP:
            sw.flush_eob()
        return
    sw.flush_eob()
    r = 0
    for i in range(last + 1):
        v = shifted[i]
        if v == 0:
            r += 1
            continue
        while r > 15:
            sw.sym(0xF0)
            r -= 16
        size, bits = _magnitude(v)
        sw.sym((r << 4) | size)
        sw.w.write(bits, size)
        r = 0
    if last < se - ss:
        sw.eobrun += 1
        if sw.eobrun == _EOB_CAP:
            sw.flush_eob()


def _encode_ac_refine(sw, blk, ss, se, al):
    # jcphuff.c encode_mcu_AC_refine: runs count zero-history positions
    # only; old-nonzero positions contribute a buffered correction bit.
    band = [int(v) for v in blk[ss : se + 1]]
    absv = [(-v if v < 0 else v) >> al for v in band]
    # EOB = past the LAST newly-significant coefficient (absv == 1);
    # everything beyond it rides the EOB run. Old-nonzero positions
    # (absv > 1) contribute one buffered correction bit wherever they
    # sit; zero-history positions count into r even past the EOB
    # (they are what forces the EOB-run emission the decoder expects).
    eobpos = -1
    for i, a in enumerate(absv):
        if a == 1:
            eobpos = i
    if eobpos < 0:  # nothing newly significant: whole band rides EOB
        sw.eobrun += 1
        sw.bebuf.extend(a & 1 for a in absv if a > 1)
        if sw.eobrun == _EOB_CAP or len(sw.bebuf) > 900:
            sw.flush_eob()
        return
    sw.flush_eob()
    r = 0
    pend: list[int] = []
    for i, a in enumerate(absv):
        if a == 0:
            r += 1
            continue
        while r > 15 and i <= eobpos:
            sw.sym(0xF0)
            for b in pend:
                sw.w.write(b, 1)
            pend = []
            r -= 16
        if a > 1:  # old nonzero: correction bit after the next symbol
            pend.append(a & 1)
            continue
        sw.sym((r << 4) | 1)
        sw.w.write(1 if band[i] >= 0 else 0, 1)
        for b in pend:
            sw.w.write(b, 1)
        pend = []
        r = 0
    if r > 0 or pend:
        sw.eobrun += 1
        sw.bebuf.extend(pend)
        if sw.eobrun == _EOB_CAP or len(sw.bebuf) > 900:
            sw.flush_eob()


def _default_script(ncomp: int) -> list[tuple]:
    """libjpeg's default progressive scan script: (comps, Ss, Se, Ah,
    Al) tuples — DC first at Al=1, banded AC firsts, one-bit AC
    refinements, DC refinement."""
    if ncomp == 1:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


def jpeg_encode_progressive(
    arr: np.ndarray, quality: int = 50, subsampling: str = "4:2:0"
) -> bytes:
    """Encode uint8 (h, w) greyscale or (h, w, 3) RGB as a progressive
    (SOF2) JFIF JPEG using the default scan script. The quantized
    coefficients are exactly jpeg_encode's (shared front end), so the
    decoded image is bit-identical to the baseline round-trip."""
    frame = _encode_front(arr, quality, subsampling)
    tables = [(0x00, _DC_LUMA), (0x10, _AC_PROG)]
    if len(frame.comps) > 1:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_PROG)]
    out = _frame_header(frame, 0xC2) + _dht(tables)
    dc_l = _canonical_codes(*_DC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_prog = _canonical_codes(*_AC_PROG)
    for comp_list, ss, se, ah, al in _default_script(len(frame.comps)):
        comps = [frame.comps[i] for i in comp_list]
        out += _sos(comps, ss, se, ah, al)
        sw = _ScanWriter(ac_prog)
        blocks = (blk for mcu in _mcus(frame, comps) for blk in mcu)
        if ss == 0 and ah == 0:
            _encode_dc_first(
                sw, blocks, al, [dc_c if c.tq else dc_l for c in comps]
            )
        elif ss == 0:
            _encode_dc_refine(sw, blocks, al)
        else:
            encode_ac = _encode_ac_first if ah == 0 else _encode_ac_refine
            for _si, blk in blocks:
                encode_ac(sw, blk, ss, se, al)
        out += sw.finish()
    out += b"\xff\xd9"
    return bytes(out)
