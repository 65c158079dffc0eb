"""Dependency-free ARITHMETIC-coded JPEG codec (ITU-T T.81 SOF10,
8-bit sequential DCT): the QM binary arithmetic coder of Annex D plus
the DC/AC statistical conditioning models of Annex F, in pure Python +
numpy, standard library only.

SOF10 swaps the Huffman entropy layer of baseline and progressive JPEG
for the adaptive QM coder while keeping the identical DCT/quantization
pipeline. This module holds only that entropy layer, for decoding and
encoding: functions/jpeg.py's marker reader parses the tables
(including DAC) and the frame, hands each SOF10 scan to
_decode_scan_arith, which only fills coefficients, and reconstructs
the frame at EOI; the encoder uses jpeg.py's front end and header
writers. jpeg_decode_arith is jpeg_decode restricted to SOF10 frames.

Scope and honesty:
- The encoder shares its front end (and the Annex K quantization
  tables) with the Huffman encoders, so the block-constant
  bit-exactness argument (see jpeg.py docstring) holds verbatim for
  SOF10 wire bytes — that is what lets the m_jpeg_arith DuckDB oracle
  predict decoded pixels of a lossy format in closed form while the
  bytes are genuinely arithmetic-coded (adaptive contexts, carry
  propagation, 0xFF byte stuffing and all).
- Entropy coding is lossless, so for ANY image
  decode_arith(encode_arith(img)) must equal decode(encode(img))
  bit-for-bit; tests enforce that equivalence on random images, which
  pins this module's entropy layer to the proven Huffman pipeline's
  coefficients without needing an external corpus.
- The probability-state table below is transcribed from T.81
  Table D.3 (the same 113 rows every public QM implementation ships,
  e.g. libjpeg's jaricom.c). Guard rails against a transcription slip:
  anchor-row asserts, structural checks (index ranges, switch rows,
  fast-attack chain), and a coding-efficiency test (biased Bernoulli
  streams must compress to within a few percent of entropy — a
  corrupted table cannot). What CANNOT be tested in this container is
  interop with externally-produced SOF10 files, because none exist
  here (they are near-absent from the web; ISO/IEC 10918-2 compliance
  vectors are not available offline). Round-trip, Huffman-equivalence,
  carry/stuffing, restart, and corrupt-stream behavior are all tested.

Wire format notes (Annexes B/D/F):
- SOF10 marker 0xFFCA, frame header identical to SOF0's layout.
- DAC (0xFFCC) carries conditioning: DC tables get (U<<4)|L bounds
  (defaults L=0, U=1), AC tables get Kx (default 5).
- In the entropy stream a data byte 0xFF is followed by a stuffed
  0x00; 0xFF followed by a nonzero byte is a marker, and the decoder
  must then complete the scan by feeding zero bytes (T.81 convention —
  unlike the Huffman path, hitting a marker mid-scan is legal here,
  which is also why the encoder may suppress trailing zero bytes).
- Restart intervals terminate the arithmetic segment (flush), emit
  RSTn, and reset the coder, every statistics bin, and the DC
  predictors/contexts.
"""

from __future__ import annotations

import struct

import numpy as np

from streams_spark.functions.jpeg import (
    _decode_frame,
    _encode_front,
    _frame_header,
    _mcus,
    _next_marker,
    _sos,
)

# ---------------------------------------------------------------------------
# T.81 Table D.3: Qe value and probability estimation state machine.
# Row k: (Qe, Next_Index_LPS, Next_Index_MPS, Switch_MPS). Row 113 is
# the fixed ~0.5 bin used for AC sign decisions (F.1.4.4.1.2): it
# points at itself both ways, so it never adapts.
# ---------------------------------------------------------------------------
_STATE_ROWS = (
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
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1),
    # 113: fixed ~equiprobable bin (never adapts)
    (0x5A1D, 113, 113, 0),
)
QE = tuple(r[0] for r in _STATE_ROWS)
NLPS = tuple(r[1] for r in _STATE_ROWS)
NMPS = tuple(r[2] for r in _STATE_ROWS)
SWITCH = tuple(r[3] for r in _STATE_ROWS)
FIXED_BIN = 113

assert len(_STATE_ROWS) == 114
assert all(0 < q < 0x8000 for q in QE)
assert all(0 <= n <= 113 for n in NLPS + NMPS)


class _Stats:
    """A bank of adaptive binary contexts: per bin, a state-table index
    and the current MPS sense. One _Stats per DC/AC conditioning table
    (64 and 256 bins respectively, T.81 Tables F.4/F.5)."""

    __slots__ = ("idx", "mps")

    def __init__(self, n: int) -> None:
        self.idx = bytearray(n)
        self.mps = bytearray(n)

    def reset(self) -> None:
        for i in range(len(self.idx)):
            self.idx[i] = 0
            self.mps[i] = 0


class _ArithEncoder:
    """QM encoder per T.81 D.1: 16-bit interval register A, code
    register C with a 19-bit fraction below the output byte, carry
    resolution via a pending byte + stacked-0xFF + deferred-zero
    scheme, 0xFF data bytes followed by a stuffed 0x00."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11  # 3 spacer bits in the first output byte (D.1.3)
        self.pending = -1  # last byte not yet safe from carry (-1: none)
        self.stacked_ff = 0  # run of 0xFF bytes that a carry would flip
        self.zeros = 0  # deferred 0x00 bytes (suppressed if trailing)
        self.out = bytearray()

    def encode(self, stats: _Stats, i: int, bit: int) -> None:
        idx = stats.idx[i]
        mps = stats.mps[i]
        qe = QE[idx]
        a = self.a - qe
        if bit == mps:
            if a >= 0x8000:
                self.a = a
                return  # no renormalization -> no state transition
            if a < qe:  # conditional exchange: MPS takes the top region
                self.c += a
                a = qe
            stats.idx[i] = NMPS[idx]
        else:
            if a >= qe:  # LPS takes the top region of size qe
                self.c += a
                a = qe
            # else conditional exchange: LPS keeps the bottom (size a)
            if SWITCH[idx]:
                stats.mps[i] = mps ^ 1
            stats.idx[i] = NLPS[idx]
        # renormalize (D.1.6): shift out whole bytes as they complete
        c, ct = self.c, self.ct
        while True:
            a <<= 1
            c <<= 1
            ct -= 1
            if ct == 0:
                self._byte_out(c >> 19)
                c &= 0x7FFFF
                ct = 8
            if a >= 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct

    def _byte_out(self, t: int) -> None:
        # Pending layout, oldest first: [zeros x 0x00][pending][stacked
        # 0xFF...]; `t` is the newest byte, possibly carrying out.
        if t > 0xFF:
            # Carry ripples through every stacked 0xFF (each becomes
            # 0x00) into the pending byte, which is now final.
            if self.pending >= 0:
                self._flush_zeros()
                self.out.append(self.pending + 1)
                if self.pending + 1 == 0xFF:
                    self.out.append(0x00)  # stuff after a data 0xFF
            self.zeros += self.stacked_ff
            self.stacked_ff = 0
            # The 3 spacer bits guarantee t & 0xFF != 0xFF after a
            # carry, so the new pending byte can't need stacking now.
            self.pending = t & 0xFF
        elif t == 0xFF:
            self.stacked_ff += 1  # might still be flipped by a carry
        else:
            # No carry can reach the pending byte or the stacked run
            # any more: emit them (0xFF data bytes get stuffed zeros).
            if self.pending == 0:
                self.zeros += 1  # defer: trailing zeros are suppressed
            elif self.pending > 0:
                self._flush_zeros()
                self.out.append(self.pending)
            if self.stacked_ff:
                self._flush_zeros()
                for _ in range(self.stacked_ff):
                    self.out += b"\xff\x00"
                self.stacked_ff = 0
            self.pending = t
        # (t <= 0xFF falls through with t as the new pending byte)

    def _flush_zeros(self) -> None:
        if self.zeros:
            self.out += b"\x00" * self.zeros
            self.zeros = 0

    def flush(self) -> bytes:
        """Terminate per D.1.8: pick the codepoint in the final
        interval with the most trailing zeros, emit what remains,
        suppressing trailing zero bytes (the decoder zero-fills at the
        next marker)."""
        t = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # final carry into the pending structure
            if self.pending >= 0:
                self._flush_zeros()
                self.out.append(self.pending + 1)
                if self.pending + 1 == 0xFF:
                    self.out.append(0x00)
            self.zeros += self.stacked_ff
            self.stacked_ff = 0
        else:
            if self.pending == 0:
                self.zeros += 1
            elif self.pending > 0:
                self._flush_zeros()
                self.out.append(self.pending)
            if self.stacked_ff:
                self._flush_zeros()
                for _ in range(self.stacked_ff):
                    self.out += b"\xff\x00"
                self.stacked_ff = 0
        self.pending = -1
        # top two fraction bytes, only while nonzero bits remain
        if self.c & 0x7FFF800:
            self._flush_zeros()
            b = (self.c >> 19) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self.out.append(b)
                if b == 0xFF:
                    self.out.append(0x00)
        self.zeros = 0  # trailing zeros suppressed by convention
        return bytes(self.out)


class _ArithDecoder:
    """QM decoder per T.81 D.2, with the JPEG byte-feed convention:
    0xFF 0x00 is a stuffed data byte, 0xFF + nonzero is a marker after
    which the scan completes on zero-fill (markers mid-scan are LEGAL
    in arithmetic coding — the encoder suppresses trailing zeros)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.marker: int | None = None
        self.c = (self._in() << 8) | self._in()
        self.a = 0x10000
        self.ct = 0

    def _in(self) -> int:
        if self.marker is not None:
            return 0
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated arithmetic scan")
        b = d[self.pos]
        self.pos += 1
        if b != 0xFF:
            return b
        # swallow 0xFF fill bytes, then classify: stuffed zero => data
        # byte 0xFF; anything else => marker, zero-fill from here on
        while True:
            if self.pos >= len(d):
                raise ValueError("truncated arithmetic scan")
            nxt = d[self.pos]
            self.pos += 1
            if nxt != 0xFF:
                break
        if nxt == 0x00:
            return 0xFF
        self.marker = 0xFF00 | nxt
        return 0

    def decode(self, stats: _Stats, i: int) -> int:
        a, c, ct = self.a, self.c, self.ct
        while a < 0x8000:  # renormalize before the decision (D.2.6)
            if ct == 0:
                c = (c << 8) | self._in()
                ct = 8
            a <<= 1
            ct -= 1
        idx = stats.idx[i]
        mps = stats.mps[i]
        qe = QE[idx]
        a -= qe
        t = a << ct
        if c >= t:
            # value in the top region (size qe): LPS unless exchanged
            c -= t
            if a < qe:  # conditional exchange: top region is MPS
                bit = mps
                stats.idx[i] = NMPS[idx]
            else:
                bit = mps ^ 1
                if SWITCH[idx]:
                    stats.mps[i] = mps ^ 1
                stats.idx[i] = NLPS[idx]
            a = qe
        elif a < 0x8000:
            if a < qe:  # conditional exchange: bottom region is LPS
                bit = mps ^ 1
                if SWITCH[idx]:
                    stats.mps[i] = mps ^ 1
                stats.idx[i] = NLPS[idx]
            else:
                bit = mps
                stats.idx[i] = NMPS[idx]
        else:
            bit = mps  # no renormalization -> no state transition
        self.a, self.c, self.ct = a, c, ct
        return bit


# ---------------------------------------------------------------------------
# Statistical models, T.81 F.1.4 (encode) / F.2 (decode).
# DC bank layout (Table F.4): contexts 0/4/8/12/16 hold S0,SS,SP,SN
# quads; X1..X15 at 20..34; magnitude bins at +14 from the category
# terminator. AC bank layout (Table F.5): 3 bins (SE,S0,S1) per k at
# 3*(k-1); X2 chains at 189 (k <= Kx) or 217 (k > Kx); magnitude at
# +14; the sign uses the fixed bin.
# ---------------------------------------------------------------------------


def _encode_dc(enc, stats, last, ctx, ci, dc, lo, up):
    v = dc - last[ci]
    last[ci] = dc
    s0 = ctx[ci]
    if v == 0:
        enc.encode(stats, s0, 0)
        ctx[ci] = 0
        return
    enc.encode(stats, s0, 1)
    if v > 0:
        enc.encode(stats, s0 + 1, 0)
        st = s0 + 2  # SP
        ctx[ci] = 4
    else:
        v = -v
        enc.encode(stats, s0 + 1, 1)
        st = s0 + 3  # SN
        ctx[ci] = 8
    m = 0
    v -= 1
    if v:
        enc.encode(stats, st, 1)
        m = 1
        st = 20  # X1
        w = v
        while w > 1:
            enc.encode(stats, st, 1)
            m <<= 1
            st += 1
            w >>= 1
    enc.encode(stats, st, 0)
    if m < (1 << lo) >> 1:
        ctx[ci] = 0
    elif m > (1 << up) >> 1:
        ctx[ci] += 8  # large diff category (12 / 16)
    st += 14
    mm = m >> 1
    while mm:
        enc.encode(stats, st, 1 if (v & mm) else 0)
        mm >>= 1


def _decode_dc(dec, stats, last, ctx, ci, lo, up):
    s0 = ctx[ci]
    if dec.decode(stats, s0) == 0:
        ctx[ci] = 0
        return last[ci]
    sign = dec.decode(stats, s0 + 1)
    st = s0 + 2 + sign
    m = dec.decode(stats, st)
    if m:
        st = 20  # X1
        while dec.decode(stats, st):
            m <<= 1
            if m == 0x8000:
                raise ValueError("corrupt arithmetic scan: DC magnitude")
            st += 1
    if m < (1 << lo) >> 1:
        ctx[ci] = 0
    elif m > (1 << up) >> 1:
        ctx[ci] = 12 + 4 * sign
    else:
        ctx[ci] = 4 + 4 * sign
    v = m
    st += 14
    mm = m >> 1
    while mm:
        if dec.decode(stats, st):
            v |= mm
        mm >>= 1
    v += 1
    last[ci] += -v if sign else v
    return last[ci]


def _encode_ac(enc, stats, fixed, zz, kx):
    ke = 63
    while ke >= 1 and zz[ke] == 0:
        ke -= 1
    k = 1
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)  # not EOB
        while zz[k] == 0:
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        enc.encode(stats, st + 1, 1)
        v = int(zz[k])
        if v > 0:
            enc.encode(fixed, 0, 0)  # sign +, fixed ~0.5 bin
        else:
            v = -v
            enc.encode(fixed, 0, 1)  # sign -
        st += 2
        m = 0
        v -= 1
        if v:
            enc.encode(stats, st, 1)
            m = 1
            w = v
            if w > 1:
                enc.encode(stats, st, 1)
                m = 2
                st = 189 if k <= kx else 217
                w >>= 1
                while w > 1:
                    enc.encode(stats, st, 1)
                    m <<= 1
                    st += 1
                    w >>= 1
        enc.encode(stats, st, 0)
        st += 14
        mm = m >> 1
        while mm:
            enc.encode(stats, st, 1 if (v & mm) else 0)
            mm >>= 1
        k += 1
    if ke < 63:
        enc.encode(stats, 3 * (ke + 1 - 1), 1)  # EOB decision at k=ke+1


def _decode_ac(dec, stats, fixed, zz, kx):
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return  # EOB
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("corrupt arithmetic scan: AC run")
        sign = dec.decode(fixed, 0)
        st += 2
        m = dec.decode(stats, st)
        if m:
            if dec.decode(stats, st):
                m = 2
                st = 189 if k <= kx else 217
                while dec.decode(stats, st):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError(
                            "corrupt arithmetic scan: AC magnitude"
                        )
                    st += 1
        v = m
        st += 14
        mm = m >> 1
        while mm:
            if dec.decode(stats, st):
                v |= mm
            mm >>= 1
        v += 1
        zz[k] = -v if sign else v
        k += 1


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def jpeg_encode_arith(
    arr: np.ndarray,
    quality: int = 50,
    subsampling: str = "4:2:0",
    restart_interval: int = 0,
    kx: int = 5,
) -> bytes:
    """Encode uint8 (h, w) greyscale or (h, w, 3) RGB as an
    arithmetic-coded (SOF10) JFIF JPEG. Shares the front end with
    jpeg_encode, so the coefficients — and therefore the decoded
    pixels — are identical to the Huffman pipeline's at equal quality;
    only the entropy layer differs. `kx` is the AC conditioning bound
    written to DAC (T.81 default 5)."""
    if not 1 <= kx <= 63:
        raise ValueError("kx must be 1..63")
    frame = _encode_front(arr, quality, subsampling)
    ncomp = len(frame.comps)
    ntab = 1 if ncomp == 1 else 2
    out = _frame_header(frame, 0xCA)
    # DAC: DC conditioning (U<<4)|L per table, AC conditioning Kx
    dac = [(0x00, (1 << 4) | 0), (0x10, kx)]
    if ncomp > 1:
        dac += [(0x01, (1 << 4) | 0), (0x11, kx)]
    out += b"\xff\xcc" + struct.pack(">H", 2 + 2 * len(dac))
    for tc_tb, cs in dac:
        out += struct.pack("BB", tc_tb, cs)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += _sos(frame.comps, 0, 63, 0, 0)

    # --- arithmetic-coded scan ---
    dc_stats = [_Stats(64) for _ in range(ntab)]
    ac_stats = [_Stats(256) for _ in range(ntab)]
    fixed = _Stats(1)
    fixed.idx[0] = FIXED_BIN

    def fresh() -> "_ArithEncoder":
        for s in dc_stats + ac_stats:
            s.reset()
        return _ArithEncoder()

    enc = fresh()
    last = [0] * ncomp
    ctx = [0] * ncomp
    rst = 0
    for n_mcu, mcu in enumerate(_mcus(frame, frame.comps)):
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            out += enc.flush()
            out += bytes((0xFF, 0xD0 + rst))
            rst = (rst + 1) & 7
            enc = fresh()
            last = [0] * ncomp
            ctx = [0] * ncomp
        for si, zz in mcu:
            tbl = frame.comps[si].tq
            _encode_dc(enc, dc_stats[tbl], last, ctx, si, int(zz[0]), 0, 1)
            _encode_ac(enc, ac_stats[tbl], fixed, zz, kx)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def jpeg_decode_arith(data: bytes) -> np.ndarray:
    """jpeg_decode restricted to arithmetic-coded (SOF10) frames."""
    return _decode_frame(data, (0xCA,))


def _marker_at(dec: _ArithDecoder) -> int:
    """Position of the marker ending the decoder's segment: the one it
    hit (zero-filling since), else the next one past its position."""
    if dec.marker is not None:
        return dec.pos - 2
    return _next_marker(dec.data, dec.pos)


def _decode_scan_arith(data, pos, frame, scan, tables):
    """Decode one sequential arithmetic-coded scan into the coefficient
    arrays; return the stream position of the next marker. Statistics
    start fresh at the scan and at every restart interval."""
    dc_stats = {t: _Stats(64) for t in scan.td}
    ac_stats = {t: _Stats(256) for t in scan.ta}
    fixed = _Stats(1)
    fixed.idx[0] = FIXED_BIN
    ns = len(scan.comps)
    dec = _ArithDecoder(data, pos)
    last = [0] * ns
    ctx = [0] * ns
    for n_mcu, mcu in enumerate(_mcus(frame, scan.comps)):
        if n_mcu and tables.dri and n_mcu % tables.dri == 0:
            mpos = _marker_at(dec)
            if not 0xD0 <= data[mpos + 1] <= 0xD7:
                raise ValueError("expected restart marker")
            for s in (*dc_stats.values(), *ac_stats.values()):
                s.reset()
            dec = _ArithDecoder(data, mpos + 2)
            last = [0] * ns
            ctx = [0] * ns
        for si, zz in mcu:
            td, ta = scan.td[si], scan.ta[si]
            lo, up = tables.dc_cond[td]
            zz[0] = _decode_dc(dec, dc_stats[td], last, ctx, si, lo, up)
            _decode_ac(dec, ac_stats[ta], fixed, zz, tables.ac_cond[ta])
    return _marker_at(dec)
