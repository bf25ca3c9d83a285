"""JPEG codec — pure numpy + stdlib, no image libraries.

Implements the huffman-coded subset of the public JPEG spec (ITU-T
T.81 / ISO 10918-1): sequential baseline (SOF0/1) AND progressive
(SOF2) — spectral selection, successive approximation, DC/AC first
and refinement scans, EOB runs per Annex G — over 8×8 DCT blocks,
8-bit or 12-bit samples (extended sequential SOF1 for 12-bit),
grayscale or YCbCr color at ANY T.81 sampling-factor combination —
4:4:4, 4:2:2, 4:2:0 and non-integer ratios like luma 3×1 / chroma 2×1
(MCU interleave per A.2.3, nearest index-map upsample, which reduces
to replication for integer ratios), optional restart intervals. The encoders and the decoder share every table-construction
helper (zigzag, canonical huffman, DCT basis), so the bytes on the
wire are real JPEG structure — SOI/DQT/SOF/DHT/SOS/EOI segments a
third-party decoder would accept — while the pairs stay
self-consistent by construction; `encode_jpeg_progressive` encodes the
SAME quantized coefficients as `encode_jpeg`, so baseline and
progressive decodes of one image are pixel-identical (the test
contract).

What is honestly NOT here (documented NotImplementedError gates, same
policy as the BMP/PNG/WAV codecs in operators/multimodal.py):
arithmetic-coded, lossless, and hierarchical JPEGs, and 16-bit
precision.

Exactness contract used by the oracle query (multimodal_jpeg_decode):
with the all-ones quantization table, an image whose every 8×8 block is
a CONSTANT gray value decodes bit-exactly — a constant block has only a
DC coefficient (8·(c−128), an exact integer), quantization at step 1 is
lossless on integers, and the inverse DCT of a DC-only block is the
constant back. General images round-trip within a small tolerance
(lossy by design); tests pin both properties.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------


def zigzag_order() -> list[tuple[int, int]]:
    """The spec's zigzag scan: diagonals of i+j, alternating direction."""
    return sorted(
        ((i, j) for i in range(8) for j in range(8)),
        key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else -p[0]),
    )


_ZIGZAG = zigzag_order()

# Typical huffman tables from the spec's Annex K (DC/AC luminance).
# Validity does not depend on matching Annex K digit-for-digit: the
# tables ride in DHT segments, so ANY canonical prefix code is a legal
# JPEG — but these are the published ones.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a canonical huffman table given the
    per-length code counts (the DHT wire format)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the inverse of _canonical_codes."""
    return {
        (length, code): sym for sym, (code, length) in _canonical_codes(bits, vals).items()
    }


# Orthonormal 8-point DCT basis: fdct(B) = C @ B @ C.T matches the
# spec's FDCT (DC of a constant-c block is exactly 8c).
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else 0.5) * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


# ---------------------------------------------------------------------------
# bit IO with 0xFF byte stuffing
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None  # pending RST/EOI marker

    def _fill(self) -> None:
        if self.marker is not None:
            raise EOFError("hit marker while reading entropy data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed FF
            else:
                self.marker = nxt
                self.pos += 1
                raise EOFError("marker in entropy stream")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_after_marker(self) -> int:
        """Consume the pending marker (RSTn), reset bit state."""
        # discard any partial bits already buffered
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            # marker not yet consumed from the byte stream — scan to it
            while True:
                b = self.data[self.pos]
                self.pos += 1
                if b == 0xFF and self.data[self.pos] != 0x00:
                    self.marker = self.data[self.pos]
                    self.pos += 1
                    break
        m, self.marker = self.marker, None
        return m


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | r.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in entropy stream")


def _extend(v: int, ssss: int) -> int:
    """RECEIVE/EXTEND (spec F.2.2.1): map magnitude bits to signed."""
    if ssss == 0:
        return 0
    return v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _encode_block(
    w: _BitWriter,
    block: np.ndarray,
    quant: np.ndarray,
    dc_pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    level: float = 128.0,
) -> int:
    coef = np.round(_fdct(block.astype(np.float64) - level) / quant).astype(np.int64)
    zz = [int(coef[i, j]) for i, j in _ZIGZAG]
    diff = zz[0] - dc_pred
    s = _category(diff)
    c, ln = dc_codes[s]
    w.write(c, ln)
    if s:
        w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c, ln = ac_codes[0xF0]  # ZRL
            w.write(c, ln)
            run -= 16
        s = _category(v)
        c, ln = ac_codes[(run << 4) | s]
        w.write(c, ln)
        w.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        w.write(c, ln)
    return zz[0]


def encode_jpeg(
    pixels: np.ndarray,
    quant_value: int = 1,
    restart_interval: int = 0,
    subsampling: tuple[int, int] = (1, 1),
    precision: int = 8,
    chroma_sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """(H, W) uint8 grayscale or (H, W, 3) uint8 RGB → baseline JPEG
    (flat quantization table of ``quant_value``, Annex-K typical
    huffman tables, optional DRI restart interval in MCUs).
    ``subsampling`` = luma sampling factors (h, v): (1, 1) is 4:4:4,
    (2, 2) is 4:2:0, (2, 1) is 4:2:2 — chroma is box-averaged down and
    each MCU interleaves h×v luma blocks with one block per chroma
    component (spec A.2.3). ``chroma_sampling`` lifts the implicit
    (1, 1) chroma factors: e.g. luma (3, 1) + chroma (2, 1) produces a
    NON-INTEGER 3:2 luma:chroma ratio (T.81 allows any 1-4 factors);
    fractional ratios downsample by nearest-sample index map, integer
    ratios keep the box average."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    planes, samps, h, w, mcuy, mcux = _component_planes(
        pixels, subsampling, precision, chroma_sampling
    )
    level = float(1 << (precision - 1))
    ncomp = len(planes)
    quant = np.full((8, 8), quant_value, dtype=np.float64)
    qz = bytes(int(quant[i, j]) for i, j in _ZIGZAG)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xDB, b"\x00" + qz)  # DQT, table 0, 8-bit
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        hi, vi = samps[cid - 1]
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, 0)  # quant 0
    # 12-bit is SOF1 extended sequential (baseline is 8-bit-only by A.1)
    out += _seg(0xC0 if precision == 8 else 0xC1, sof)
    dc_b, dc_v = (_DC_BITS, _DC_VALS) if precision == 8 else (
        _EXT_DC_BITS, _EXT_DC_VALS)
    ac_b, ac_v = (_AC_BITS, _AC_VALS) if precision == 8 else (
        _EXT_AC_BITS, _EXT_AC_VALS)
    out += _seg(0xC4, b"\x00" + bytes(dc_b) + bytes(dc_v))  # DHT DC 0
    out += _seg(0xC4, b"\x10" + bytes(ac_b) + bytes(ac_v))  # DHT AC 0
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    out += _seg(0xDA, sos)

    dc_codes = _canonical_codes(dc_b, dc_v)
    ac_codes = _canonical_codes(ac_b, ac_v)
    bw = _BitWriter()
    preds = [0] * ncomp
    mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += bw.flush()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0] * ncomp
            for ci, plane in enumerate(planes):
                hi, vi = samps[ci]
                for v in range(vi):
                    for u in range(hi):
                        by, bx = my * vi + v, mx * hi + u
                        block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                        preds[ci] = _encode_block(
                            bw, block, quant, preds[ci], dc_codes,
                            ac_codes, level,
                        )
            mcu += 1
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _component_planes(
    pixels: np.ndarray,
    subsampling: tuple[int, int],
    precision: int = 8,
    chroma_sampling: tuple[int, int] = (1, 1),
) -> tuple[list[np.ndarray], list[tuple[int, int]], int, int, int, int]:
    """Shared encoder front half before the DCT: color transform,
    chroma downsampling (box average over the sampling tile for integer
    luma:chroma ratios, nearest-sample index map for fractional ones),
    and edge padding of every component plane to its MCU-aligned block
    grid. Returns (planes, per-comp (h_i, v_i), h, w, mcuy, mcux) —
    plane[ci] has shape (mcuy*v_i*8, mcux*h_i*8)."""
    gray = pixels.ndim == 2
    h, w = pixels.shape[:2]
    sh, sv = (1, 1) if gray else subsampling
    ch, cv = (1, 1) if gray else chroma_sampling
    # T.81 B.2.2: sampling factors Hi/Vi live in [1, 4]. Validate BOTH
    # tuples up front — (5, 1) would emit a stream the decoder rejects,
    # (0, 1) a degenerate empty-plane/div-by-zero path.
    for fac in (sh, sv, ch, cv):
        if not 1 <= fac <= 4:
            raise ValueError(
                f"JPEG sampling factors must be in 1..4 (T.81 B.2.2), "
                f"got luma {subsampling}, chroma {chroma_sampling}"
            )
    if ch > sh or cv > sv:
        raise ValueError("chroma sampling factors must not exceed luma's")
    if gray:
        planes = [pixels.astype(np.float64)]
        samps = [(1, 1)]
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        center = float(1 << (precision - 1))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + center
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + center
        if (sh, sv) != (ch, cv):
            if sh % ch == 0 and sv % cv == 0:
                # integer ratio: pad to the tile multiple, then
                # box-average each (sv/cv)×(sh/ch) tile
                tv, tu = sv // cv, sh // ch
                th, tw = -(-h // tv) * tv, -(-w // tu) * tu

                def down(p):
                    p = np.pad(p, ((0, th - h), (0, tw - w)), mode="edge")
                    return p.reshape(th // tv, tv, tw // tu, tu).mean(
                        axis=(1, 3)
                    )
            else:
                # fractional ratio (e.g. 3:2): nearest-sample subsample —
                # chroma sample (y, x) reads full-res (y·sv/cv, x·sh/ch)
                # floored; the decoder's index-map upsample is its exact
                # inverse on content constant over the sampling tile
                rows = np.arange(-(-h * cv // sv)) * sv // cv
                cols = np.arange(-(-w * ch // sh)) * sh // ch

                def down(p):
                    return p[np.ix_(rows, cols)]

            cb, cr = down(cb), down(cr)
        planes = [y, cb, cr]
        samps = [(sh, sv), (ch, cv), (ch, cv)]
    mcux = -(-w // (8 * sh))
    mcuy = -(-h // (8 * sv))
    out = []
    for p, (hi, vi) in zip(planes, samps):
        th, tw = mcuy * vi * 8, mcux * hi * 8
        ph_, pw_ = p.shape
        out.append(np.pad(p, ((0, th - ph_), (0, tw - pw_)), mode="edge"))
    return out, samps, h, w, mcuy, mcux


def _quantized_planes(
    pixels: np.ndarray,
    quant_value: int,
    subsampling: tuple[int, int] = (1, 1),
    precision: int = 8,
) -> tuple[list[np.ndarray], list[tuple[int, int]], int, int, int, int]:
    """Encoder front half through quantization. Returns (per-comp
    [aby, abx, 64] zigzag int arrays over the MCU-padded block grid,
    per-comp sampling, h, w, mcuy, mcux)."""
    planes, samps, h, w, mcuy, mcux = _component_planes(
        pixels, subsampling, precision
    )
    level = float(1 << (precision - 1))
    quant = np.full((8, 8), float(quant_value))
    out = []
    for p, (hi, vi) in zip(planes, samps):
        nby, nbx = mcuy * vi, mcux * hi
        q = np.zeros((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                # bit-identical to _encode_block's quantization (same
                # matmul order — an einsum variant rounds differently
                # at exact .5 boundaries)
                coef = np.round(
                    _fdct(p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                          - level) / quant
                ).astype(np.int64)
                q[by, bx] = [coef[i, j] for i, j in _ZIGZAG]
        out.append(q)
    return out, samps, h, w, mcuy, mcux


def _emit_eobrun(bw: _BitWriter, eobrun: int, ac_codes: dict) -> None:
    if eobrun:
        rb = eobrun.bit_length() - 1
        c, ln = ac_codes[rb << 4]
        bw.write(c, ln)
        if rb:
            bw.write(eobrun - (1 << rb), rb)


def _emit_ac_first_scan(
    bw: _BitWriter, blocks: list, k1: int, k2: int, al: int, ac_codes: dict
) -> None:
    """AC first scan of a band (G.1.2.2): values point-transformed by
    integer divide toward zero; blocks ending in zeros join EOB runs."""
    eobrun = 0
    for zz in blocks:
        t = [
            (int(v) >> al) if v >= 0 else -((-int(v)) >> al)
            for v in zz[k1 : k2 + 1]
        ]
        last_nz = max((i for i, v in enumerate(t) if v), default=-1)
        if last_nz < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(bw, eobrun, ac_codes)
                eobrun = 0
            continue
        _emit_eobrun(bw, eobrun, ac_codes)
        eobrun = 0
        run = 0
        for idx in range(last_nz + 1):
            v = t[idx]
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]
                bw.write(c, ln)
                run -= 16
            s = _category(v)
            c, ln = ac_codes[(run << 4) | s]
            bw.write(c, ln)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < k2 - k1:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(bw, eobrun, ac_codes)
                eobrun = 0
    _emit_eobrun(bw, eobrun, ac_codes)


def _emit_ac_refine_scan(
    bw: _BitWriter, blocks: list, k1: int, k2: int, al: int, ac_codes: dict
) -> None:
    """AC refinement scan (G.1.2.3), mirroring the decoder's walk
    exactly: corrections for history-nonzero coefficients are emitted
    in the position order the decoder consumes them — after the ZRL or
    RS code whose advance passes them, and after the EOBn code for the
    run's tail/whole-block corrections."""
    eobrun = 0
    pending: list[int] = []

    def flush() -> None:
        nonlocal eobrun, pending
        _emit_eobrun(bw, eobrun, ac_codes)
        for b in pending:
            bw.write(b, 1)
        eobrun = 0
        pending = []

    for zz in blocks:
        band = [int(v) for v in zz[k1 : k2 + 1]]
        T = [abs(v) >> al for v in band]
        newly = [i for i, t in enumerate(T) if t == 1]
        if newly:
            flush()
        k = 0
        for pos in newly:
            run = sum(1 for i in range(k, pos) if T[i] == 0)
            while run > 15:
                c, ln = ac_codes[0xF0]
                bw.write(c, ln)
                cnt = 0
                while cnt < 16:  # corrections inside THIS ZRL's span only
                    if T[k] > 1:
                        bw.write(T[k] & 1, 1)
                    else:
                        cnt += 1
                    k += 1
                run -= 16
            c, ln = ac_codes[(run << 4) | 1]
            bw.write(c, ln)
            bw.write(1 if band[pos] > 0 else 0, 1)  # sign precedes advance
            while k < pos:
                if T[k] > 1:
                    bw.write(T[k] & 1, 1)
                k += 1
            k = pos + 1
        if k <= k2 - k1:  # band tail exists: block joins an EOB run
            eobrun += 1
            pending.extend(T[i] & 1 for i in range(k, k2 - k1 + 1) if T[i] > 1)
            if eobrun == 0x7FFF:
                flush()
    flush()


# 12-bit precision needs DC categories up to 15 and wider AC sizes
# than Annex K's 8-bit tables define; flat canonical tables (DHT rides
# in the stream) cover them — 16 DC symbols at length 5, and all 256
# (run, size) AC symbols split 128/128 across lengths 9 and 10 (a DHT
# count byte caps at 255 per length); the all-ones code stays unused.
_EXT_DC_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_EXT_DC_VALS = list(range(16))
_EXT_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0]
_EXT_AC_VALS = [(r << 4) | s2 for r in range(16) for s2 in range(16)]

# Progressive AC scans need EOBn symbols (r<<4 for r=1..14), which the
# sequential Annex-K table does not define. A flat canonical table of
# every (run, size) symbol with size <= 10 — 176 codes, all length 8 —
# is legal (DHT rides in the stream; 176 < 256 leaves the all-ones
# code unused as the spec requires) and covers EOB0..EOB14 + ZRL.
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quant_value: int = 1,
    al: int = 1,
    band_split: int = 6,
    subsampling: tuple[int, int] = (1, 1),
    precision: int = 8,
) -> bytes:
    """(H, W) uint8 grayscale or (H, W, 3) uint8 RGB → PROGRESSIVE JPEG
    (SOF2, flat quantization table): a DC-first scan with successive
    approximation Al=``al``, DC refinement scans down to bit 0, then
    per component two spectral AC bands (1..band_split-1 and
    band_split..63) each sent first-at-Al then refined per bit —
    exercising every progressive scan kind the decoder implements.
    ``subsampling`` works as in encode_jpeg: the DC scans interleave
    h×v luma blocks per MCU; AC scans are non-interleaved over each
    component's own unpadded block grid (spec G.1 requires ns=1).
    Encodes the SAME quantized coefficients as ``encode_jpeg``, so the
    two decodes are pixel-identical by construction."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    coefs, samps, h, w, mcuy, mcux = _quantized_planes(
        pixels, quant_value, subsampling, precision
    )
    ncomp = len(coefs)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    quant = np.full((8, 8), quant_value, dtype=np.float64)
    qz = bytes(int(quant[i, j]) for i, j in _ZIGZAG)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + qz)
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        hi, vi = samps[cid - 1]
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, 0)
    out += _seg(0xC2, sof)  # SOF2 progressive
    dc_b, dc_v = (_DC_BITS, _DC_VALS) if precision == 8 else (
        _EXT_DC_BITS, _EXT_DC_VALS)
    # the extended AC table already contains every EOBn/(run,size) symbol
    ac_b, ac_v = (_PROG_AC_BITS, _PROG_AC_VALS) if precision == 8 else (
        _EXT_AC_BITS, _EXT_AC_VALS)
    out += _seg(0xC4, b"\x00" + bytes(dc_b) + bytes(dc_v))
    out += _seg(0xC4, b"\x10" + bytes(ac_b) + bytes(ac_v))
    dc_codes = _canonical_codes(dc_b, dc_v)
    ac_codes = _canonical_codes(ac_b, ac_v)

    def sos(scomps: list[int], ss: int, se: int, ah: int, a_l: int) -> bytes:
        body = bytes([len(scomps)])
        for cid in scomps:
            body += bytes([cid, 0x00])  # DC table 0, AC table 0
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | a_l]))

    def dc_units():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    hi, vi = samps[ci]
                    for v in range(vi):
                        for u in range(hi):
                            yield ci, my * vi + v, mx * hi + u

    # scan 1: interleaved DC first at Al=al
    out += sos(list(range(1, ncomp + 1)), 0, 0, 0, al)
    bw = _BitWriter()
    preds = [0] * ncomp
    for ci, by, bx in dc_units():
        v = int(coefs[ci][by, bx, 0]) >> al  # arithmetic shift (A.4)
        diff = v - preds[ci]
        preds[ci] = v
        s = _category(diff)
        c, ln = dc_codes[s]
        bw.write(c, ln)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    out += bw.flush()
    # DC refinement scans: one raw bit per block per level
    for lvl in range(al - 1, -1, -1):
        out += sos(list(range(1, ncomp + 1)), 0, 0, lvl + 1, lvl)
        bw = _BitWriter()
        for ci, by, bx in dc_units():
            bw.write((int(coefs[ci][by, bx, 0]) >> lvl) & 1, 1)
        out += bw.flush()
    # AC scans: per component, two spectral bands, first then refined —
    # non-interleaved, so each component covers its OWN unpadded grid
    bands = [(1, band_split - 1), (band_split, 63)]
    blocks_of = []
    for ci in range(ncomp):
        hi, vi = samps[ci]
        bby = -(-(-(-h * vi // vmax)) // 8)
        bbx = -(-(-(-w * hi // hmax)) // 8)
        blocks_of.append(
            [coefs[ci][by, bx] for by in range(bby) for bx in range(bbx)]
        )
    for ci in range(ncomp):
        for k1, k2 in bands:
            out += sos([ci + 1], k1, k2, 0, al)
            bw = _BitWriter()
            _emit_ac_first_scan(bw, blocks_of[ci], k1, k2, al, ac_codes)
            out += bw.flush()
    for ci in range(ncomp):
        for k1, k2 in bands:
            for lvl in range(al - 1, -1, -1):
                out += sos([ci + 1], k1, k2, lvl + 1, lvl)
                bw = _BitWriter()
                _emit_ac_refine_scan(bw, blocks_of[ci], k1, k2, lvl, ac_codes)
                out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG → (H, W, 3) uint8 RGB (grayscale replicated to 3 channels —
    same convention as decode_png). Supports sequential baseline
    (SOF0/1) AND progressive (SOF2: spectral selection + successive
    approximation, DC/AC first and refinement scans, EOB runs — T.81
    Annex G), 8-bit or 12-bit precision (12-bit scales to the uint8
    output by its high byte), grayscale or color at ANY sampling-factor
    combination (4:4:4/4:2:2/4:2:0 and non-integer ratios), restart
    markers; raises NotImplementedError for arithmetic-coded/
    hierarchical/lossless streams. Truncated payloads raise ValueError
    (the codecs' honest-gate contract), never a bare IndexError."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    try:
        return _decode_jpeg_inner(payload)
    except (IndexError, struct.error, EOFError) as e:
        raise ValueError(f"truncated JPEG payload: {e}") from e


def _decode_ac_first(r, ac, zz, k1, k2, al, eobrun):
    """AC coefficients, first scan of a band (T.81 G.1.2.2). Works for
    the baseline full-band scan too (there EOBn is always EOB0)."""
    if eobrun > 0:
        return eobrun - 1
    k = k1
    while k <= k2:
        rs = _huff_decode(r, ac)
        rr, s = rs >> 4, rs & 0xF
        if s == 0:
            if rr == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << rr) - 1
            if rr:
                eobrun += r.read_bits(rr)
            break
        k += rr
        if k > k2:
            raise ValueError("AC run past band end")
        zz[k] = _extend(r.read_bits(s), s) << al
        k += 1
    return eobrun


def _refine_nonzero(r, zz, k, p1):
    """Correction bit for a history-nonzero coefficient (G.1.2.3):
    move its magnitude up by 2^Al when the transmitted bit is 1."""
    if r.read_bit():
        if int(abs(zz[k])) & p1 == 0:
            zz[k] += p1 if zz[k] > 0 else -p1


def _decode_ac_refine(r, ac, zz, k1, k2, al, eobrun):
    """AC refinement scan (T.81 G.1.2.3): the run in RS counts only
    ZERO-history coefficients; history-nonzero ones passed during any
    advance are 'transparent' and each consumes one correction bit."""
    p1 = 1 << al
    k = k1
    if eobrun > 0:
        # block lies wholly inside an ongoing EOB run: every history
        # coefficient in the band carries a correction bit; the run
        # count decrements by this block
        while k <= k2:
            if zz[k] != 0:
                _refine_nonzero(r, zz, k, p1)
            k += 1
        return eobrun - 1
    tail = False
    while k <= k2:
        rs = _huff_decode(r, ac)
        rr, s = rs >> 4, rs & 0xF
        newval = 0
        if s:
            if s != 1:
                raise ValueError("refinement scan requires s == 1")
            newval = p1 if r.read_bit() else -p1
        elif rr != 15:  # EOBn: value counts ADDITIONAL whole blocks
            eobrun = (1 << rr) - 1
            if rr:
                eobrun += r.read_bits(rr)
            tail = True
            break
        # advance: skip rr zero-history positions, correcting the
        # nonzero-history coefficients passed along the way
        while k <= k2:
            if zz[k] != 0:
                _refine_nonzero(r, zz, k, p1)
            else:
                if rr == 0:
                    break
                rr -= 1
            k += 1
        if s and k <= k2:
            zz[k] = newval
        k += 1
    if tail:
        # EOBn decoded mid-block (even EOB0): the CURRENT block's
        # remaining history coefficients still carry correction bits —
        # this does NOT consume a unit of the run count
        while k <= k2:
            if zz[k] != 0:
                _refine_nonzero(r, zz, k, p1)
            k += 1
    return eobrun


def _run_scan(payload: bytes, pos: int, body: bytes, st: dict) -> int:
    """Decode one SOS entropy-coded segment into the coefficient store.
    Handles baseline full-band scans and all four progressive scan
    kinds (DC/AC × first/refinement). Returns the position of the next
    marker's 0xFF byte."""
    ns = body[0]
    cid_index = {cid: i for i, (cid, _) in enumerate(st["comps"])}
    scomps = []
    for c in range(ns):
        cid, tt = body[1 + 2 * c : 3 + 2 * c]
        scomps.append((cid_index[cid], tt >> 4, tt & 0xF))
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ahal = body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    if not st["progressive"]:
        ss, se, ah, al = 0, 63, 0, 0
    if st["progressive"] and ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se == 0")
    if ss > 0 and ns != 1:
        raise ValueError("AC scans must be single-component")

    if ns == 1:
        # non-interleaved: iterate the component's OWN unpadded block
        # grid in raster order (spec A.2.2)
        ci = scomps[0][0]
        bby, bbx = st["blocks"][ci]
        mcus = [[(ci, by, bx)] for by in range(bby) for bx in range(bbx)]
    else:
        # interleaved: each MCU carries h_i × v_i blocks per component
        # in component order, left-to-right then top-to-bottom (A.2.3)
        mcus = []
        for my in range(st["mcuy"]):
            for mx in range(st["mcux"]):
                units = []
                for ci, _, _ in scomps:
                    hi, vi = st["samp"][ci]
                    for v in range(vi):
                        for u in range(hi):
                            units.append((ci, my * vi + v, mx * hi + u))
                mcus.append(units)
    tbl = {ci: (d, a) for ci, d, a in scomps}
    r = _BitReader(payload, pos)
    preds = {ci: 0 for ci, _, _ in scomps}
    eobrun = 0
    ri = st["restart_interval"]
    for m_i, units in enumerate(mcus):
        if ri and m_i and m_i % ri == 0:
            m = r.align_after_marker()
            if not (0xD0 <= m <= 0xD7):
                raise ValueError(f"expected RST marker, got {m:#x}")
            preds = {ci: 0 for ci, _, _ in scomps}
            eobrun = 0
        for ci, by, bx in units:
            zz = st["coefs"][ci][by, bx]
            dcid, acid = tbl[ci]
            if ss == 0:
                if ah == 0:  # DC first (baseline or progressive)
                    s = _huff_decode(r, st["dc"][dcid])
                    diff = _extend(r.read_bits(s), s) if s else 0
                    preds[ci] += diff
                    zz[0] = preds[ci] << al
                else:  # DC refinement: one raw bit per block
                    if r.read_bit():
                        zz[0] = int(zz[0]) | (1 << al)
                if se > 0:  # baseline sequential: AC follows in-block
                    eobrun = _decode_ac_first(
                        r, st["ac"][acid], zz, 1, se, 0, eobrun
                    )
            elif ah == 0:
                eobrun = _decode_ac_first(
                    r, st["ac"][acid], zz, ss, se, al, eobrun
                )
            else:
                eobrun = _decode_ac_refine(
                    r, st["ac"][acid], zz, ss, se, al, eobrun
                )
    if r.marker is not None:
        return r.pos - 2
    p = r.pos
    while p + 1 < len(payload):
        if payload[p] == 0xFF and payload[p + 1] not in (
            0x00, *range(0xD0, 0xD8),
        ):
            return p
        p += 1
    return p


def _decode_jpeg_inner(payload: bytes) -> np.ndarray:
    pos = 2
    quants: dict[int, np.ndarray] = {}
    st: dict = {
        "dc": {},
        "ac": {},
        "comps": [],  # (component id, quant id)
        "coefs": None,  # per-comp int32 [aby, abx, 64] zigzag coefficients
        "restart_interval": 0,
        "progressive": False,
        "prec": 8,
        "samp": [],    # per-comp (h_i, v_i) sampling factors
        "dims": [],    # per-comp (height, width) at component resolution
        "blocks": [],  # per-comp UNPADDED block grid (for ns==1 scans)
        "mcuy": 0,
        "mcux": 0,
    }
    h = w = 0
    saw_scan = False
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                tbl = np.zeros((8, 8))
                for k, (i, j) in enumerate(_ZIGZAG):
                    tbl[i, j] = body[o + 1 + k]
                quants[tq] = tbl
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1 : o + 17])
                n = sum(bits)
                vals = list(body[o + 17 : o + 17 + n])
                (st["dc"] if tc == 0 else st["ac"])[th] = _decode_table(bits, vals)
                o += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            st["progressive"] = marker == 0xC2
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec not in (8, 12):
                raise NotImplementedError(f"{prec}-bit JPEG unsupported")
            st["prec"] = prec
            samps = []
            for c in range(ncomp):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 0xF
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError("invalid JPEG sampling factors")
                st["comps"].append((cid, tq))
                samps.append((hi, vi))
            hmax = max(s[0] for s in samps)
            vmax = max(s[1] for s in samps)
            st["samp"] = samps
            st["mcux"] = -(-w // (8 * hmax))
            st["mcuy"] = -(-h // (8 * vmax))
            st["dims"] = [
                (-(-h * vi // vmax), -(-w * hi // hmax)) for hi, vi in samps
            ]
            # interleaved scans code whole MCUs, so allocate the
            # MCU-padded block grid; non-interleaved scans iterate only
            # the unpadded per-component grid below
            st["blocks"] = [
                (-(-ch_i // 8), -(-cw_i // 8)) for ch_i, cw_i in st["dims"]
            ]
            st["coefs"] = [
                np.zeros(
                    (st["mcuy"] * vi, st["mcux"] * hi, 64), dtype=np.int32
                )
                for hi, vi in samps
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} (lossless/arithmetic/"
                "hierarchical) unsupported — SOF0/1/2 only"
            )
        elif marker == 0xDD:  # DRI
            (st["restart_interval"],) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — decode this scan, keep parsing after
            if st["coefs"] is None:
                raise ValueError("SOS before SOF")
            pos = _run_scan(payload, pos, body, st)
            saw_scan = True
        # APPn / COM / others: skipped via seglen
    if not saw_scan or not st["comps"]:
        raise ValueError("JPEG missing SOS/SOF")

    # reconstruction: dequantize + IDCT every block of every component,
    # crop to the component's own dimensions, then replicate-upsample
    # subsampled components back to full resolution
    ncomp = len(st["comps"])
    prec = st["prec"]
    center = float(1 << (prec - 1))
    maxval = (1 << prec) - 1
    hmax = max(s[0] for s in st["samp"])
    vmax = max(s[1] for s in st["samp"])
    zz_nat = np.array([i * 8 + j for i, j in _ZIGZAG])
    planes = []
    for ci, (_cid, tq) in enumerate(st["comps"]):
        q = quants[tq]
        nby, nbx = st["coefs"][ci].shape[:2]
        cf = np.zeros((nby, nbx, 64))
        cf[:, :, zz_nat] = st["coefs"][ci]
        cf = cf.reshape(nby, nbx, 8, 8) * q
        blocks = np.einsum("ai,yxij,jb->yxab", _C.T, cf, _C) + center
        plane = blocks.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        ch_i, cw_i = st["dims"][ci]
        plane = plane[:ch_i, :cw_i]
        hi, vi = st["samp"][ci]
        if (hi, vi) != (hmax, vmax):
            # nearest-neighbor upsample by index map: output pixel (y, x)
            # reads component sample (y·v_i/vmax, x·h_i/hmax) floored —
            # for integer ratios r this is exactly np.repeat(plane, r)
            # (y·v_i//(r·v_i) = y//r), and it generalizes to NON-INTEGER
            # sampling ratios (e.g. luma 3×1 with chroma 2×1 → 3/2): the
            # map is monotone and lands in-bounds because the component
            # dimension is ⌈full·v_i/vmax⌉ (A.1.1), so (full−1)·v_i//vmax
            # ≤ comp_dim − 1 always
            plane = plane[
                np.ix_(
                    np.arange(h) * vi // vmax, np.arange(w) * hi // hmax
                )
            ]
        planes.append(plane[:h, :w])
    # output contract stays (H, W, 3) uint8: 12-bit samples scale down
    # by their high 8 bits (>> 4), same convention as 16-bit PNG
    shift = prec - 8
    if ncomp == 1:
        g = np.clip(np.round(planes[0]), 0, maxval).astype(np.int64)
        return np.repeat((g >> shift).astype(np.uint8)[:, :, None], 3, axis=2)
    y, cb, cr = planes
    rch = y + 1.402 * (cr - center)
    gch = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
    bch = y + 1.772 * (cb - center)
    rgb = np.stack([rch, gch, bch], axis=2)
    out = np.clip(np.round(rgb), 0, maxval).astype(np.int64)
    return (out >> shift).astype(np.uint8)
