"""Pure-stdlib baseline-sequential JPEG codec (VERDICT r4 #5 — the main
lossy-codec stub tier).

Decoder: a REAL ISO/IEC 10918-1 baseline decoder — segment walk (DQT /
SOF0 / DHT / SOS / RSTn), canonical Huffman decode of the entropy stream
(with 0xFF00 byte-unstuffing), DC-prediction, dequantization, full 2-D
float IDCT with round+clamp, and level shift. Supported tier: 8-bit
baseline, any number of Huffman/quant tables, grayscale and 4:4:4 color
(all sampling factors 1); chroma-subsampled (4:2:0/4:2:2) and progressive
streams raise ``ValueError`` — the remaining declared codec boundary.

Encoder: a deliberately-minimal fixture generator (DC-only blocks, flat
8x8 tiles) — NOT a general encoder. DC-only blocks make the lossy
pipeline closed-form: a block whose only coefficient is DC decodes to the
flat value ``round(dc * q0 / 8) + 128`` under ANY correct IDCT, so the
decoded pixel checksum has an exact SQL oracle twin even though JPEG is
lossy. The decoder still has to run the entire real path (Huffman, DC
prediction, dequant, IDCT) to produce it, and the full-AC path is
exercised in pytest against an independent reference IDCT.

Everything here is driver/executor-side plain Python invoked from
Arrow-batched ``mapInPandas`` — per-image cost is bounded by fixture size,
and the Spark plumbing (schema, batching, partitioning) is identical to
what a libjpeg-backed UDF would use.
"""

from __future__ import annotations

import math
import struct
from functools import lru_cache

# ---------------------------------------------------------------------------
# shared: canonical Huffman construction
# ---------------------------------------------------------------------------


def _canonical_codes(counts: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical JPEG algorithm
    (ISO 10918-1 Annex C)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# ---------------------------------------------------------------------------
# encoder (fixture generator): grayscale baseline JPEG
# ---------------------------------------------------------------------------

_ENC_Q0 = 16  # DC quant step: dc*16/8 = 2*dc -> exact integer pixels


def _fixed_length_table(symbols: list[int]) -> tuple[list[int], list[int]]:
    """Huffman spec (counts, symbols) giving every symbol the same code
    length L with 2^L > len(symbols), so the all-ones codeword (reserved
    by the spec) is never assigned. Tiny but legal."""
    syms = sorted(set(symbols))
    length = max(1, (len(syms)).bit_length())
    if (1 << length) <= len(syms):
        length += 1
    counts = [0] * 16
    counts[length - 1] = len(syms)
    return counts, syms


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        while self._n:
            self.write(1, 1)  # pad with 1-bits per the spec


def encode_jpeg_gray_coeffs(
    width: int, height: int, blocks: list[list[int]], qtable: list[int] | None = None
) -> bytes:
    """Encode a grayscale baseline JPEG from QUANTIZED natural-order 8x8
    coefficient blocks (row-major block order) — the full entropy path:
    DC prediction + category bits, AC run-length coding with ZRL and EOB,
    Huffman tables sized to the symbols actually used, byte stuffing.

    A fixture generator, not a rate optimizer: tables are fixed-length
    codes, and the caller controls the exact dequantized spectrum
    (``coeff * qtable[i]``), which is what makes decode outputs
    predictable for oracles/tests."""
    if width % 8 or height % 8:
        raise ValueError("fixture encoder requires multiple-of-8 dimensions")
    bw, bh = width // 8, height // 8
    if len(blocks) != bw * bh:
        raise ValueError("need one 64-coeff block per 8x8 tile")
    if qtable is None:
        qtable = [_ENC_Q0] + [16] * 63  # natural order

    def category(v: int) -> int:
        return v.bit_length() if v >= 0 else (-v).bit_length()

    # first pass: collect the entropy symbols each block will emit
    dc_syms: list[int] = []
    ac_syms: list[int] = []
    coded: list[tuple[int, list[tuple[int, int]]]] = []  # (dcdiff, [(rs, val)])
    pred = 0
    for nat in blocks:
        if len(nat) != 64:
            raise ValueError("blocks must be 64 natural-order coefficients")
        zz = [nat[ZIGZAG[z]] for z in range(64)]
        diff = zz[0] - pred
        pred = zz[0]
        dc_syms.append(category(diff))
        runs: list[tuple[int, int]] = []
        zero_run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                zero_run += 1
                continue
            while zero_run > 15:
                runs.append((0xF0, 0))  # ZRL
                zero_run -= 16
            runs.append(((zero_run << 4) | category(zz[k]), zz[k]))
            zero_run = 0
        if zero_run:
            # EOB closes the block; when the spectrum ends exactly at k=63
            # with a nonzero, no EOB is needed (or allowed) per the spec
            runs.append((0x00, 0))
        coded.append((diff, runs))
        ac_syms.extend(rs for rs, _ in runs)
    if not ac_syms:
        ac_syms = [0x00]

    dc_counts, dc_symbols = _fixed_length_table(dc_syms)
    ac_counts, ac_symbols = _fixed_length_table(ac_syms)
    dc_codes = _canonical_codes(dc_counts, dc_symbols)
    ac_codes = _canonical_codes(ac_counts, ac_symbols)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_q = bytes(qtable[ZIGZAG[z]] for z in range(64))
    dqt = seg(0xDB, bytes([0x00]) + zz_q)
    sof0 = seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(dc_counts) + bytes(dc_symbols)
        + bytes([0x10]) + bytes(ac_counts) + bytes(ac_symbols),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))

    bits = _BitWriter()
    for diff, runs in coded:
        t = category(diff)
        code, length = dc_codes[t]
        bits.write(code, length)
        if t:
            bits.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        for rs, val in runs:
            code, length = ac_codes[rs]
            bits.write(code, length)
            s = rs & 0x0F
            if s:
                bits.write(val if val >= 0 else val + (1 << s) - 1, s)
    bits.flush()

    return b"\xff\xd8" + dqt + sof0 + dht + sos + bytes(bits.out) + b"\xff\xd9"


def encode_jpeg_gray_blocks(width: int, height: int, block_dcs: list[int]) -> bytes:
    """Encode a grayscale baseline JPEG whose 8x8 blocks are flat tiles:
    block b carries only a DC coefficient ``block_dcs[b]`` (row-major
    block order; ``|dc| <= 63`` keeps the decoded value in range). The
    decoded pixel value of every sample in block b is exactly
    ``2 * block_dcs[b] + 128`` (q0=16 -> dc*16/8 + 128) — the closed form
    that gives the lossy pipeline an exact SQL oracle."""
    if any(not -64 <= d <= 63 for d in block_dcs):
        raise ValueError("dc must be in [-64, 63] for in-range pixels")
    return encode_jpeg_gray_coeffs(
        width, height, [[dc] + [0] * 63 for dc in block_dcs]
    )


# ---------------------------------------------------------------------------
# decoder: real baseline-sequential JPEG
# ---------------------------------------------------------------------------

#: zig-zag index -> natural (row-major) index (ISO 10918-1 Figure A.6)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


@lru_cache(maxsize=1)  # one constant table, session-free
def _idct_basis() -> list[list[float]]:
    """basis[u][x] = C(u)/2 * cos((2x+1) u pi / 16) — separable 1-D IDCT
    factors; the 2-D IDCT is basis^T S basis."""
    basis = []
    for u in range(8):
        c = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        basis.append([(c / 2.0) * math.cos((2 * x + 1) * u * math.pi / 16.0) for x in range(8)])
    return basis


def idct_8x8(coeffs: list[int | float]) -> list[int]:
    """Float 2-D IDCT of one natural-order 8x8 block + level shift + clamp.
    Returns 64 row-major samples in [0, 255]."""
    basis = _idct_basis()
    # rows first: tmp[u][x] = sum_v S[u][v] * basis[v][x]
    tmp = [[0.0] * 8 for _ in range(8)]
    for u in range(8):
        row = coeffs[u * 8 : u * 8 + 8]
        if not any(row):
            continue
        for x in range(8):
            tmp[u][x] = sum(row[v] * basis[v][x] for v in range(8) if row[v])
    out = []
    for y in range(8):
        col_b = [basis[u][y] for u in range(8)]
        for x in range(8):
            s = sum(col_b[u] * tmp[u][x] for u in range(8))
            v = int(round(s)) + 128
            out.append(0 if v < 0 else 255 if v > 255 else v)
    return out


class _BitReader:
    """Entropy-stream bit reader with 0xFF00 unstuffing; stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1
            else:
                self.marker = nxt
                raise _MarkerReached()
        self._acc = (self._acc << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        self._n = 0
        self._acc = 0


class _MarkerReached(Exception):
    pass


def _extend(v: int, t: int) -> int:
    """EXTEND (ISO 10918-1 F.2.2.1): map t received bits to a signed value."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def decode_jpeg_pixels(blob: bytes) -> dict:
    """Decode a baseline-sequential JPEG to pixels.

    Returns ``{width, height, n_channels, pixels: bytes}`` — pixels
    row-major, interleaved for color (RGB after YCbCr conversion).
    Raises ``ValueError`` for the declared boundary: progressive,
    12-bit, arithmetic-coded, or chroma-subsampled streams."""
    data = bytes(blob)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG signature")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("segment desync")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen

        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                if prec != 0:
                    raise ValueError("16-bit quant tables need a codec")
                zz = list(body[i + 1 : i + 65])
                nat = [0] * 64
                for z, q in enumerate(zz):
                    nat[ZIGZAG[z]] = q
                qtables[tid] = nat
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                counts = list(body[i + 1 : i + 17])
                n = sum(counts)
                symbols = list(body[i + 17 : i + 17 + n])
                codes = _canonical_codes(counts, symbols)
                htables[(cls, tid)] = {(c, l): s for s, (c, l) in codes.items()}
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1: baseline
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError("only 8-bit baseline supported")
            comps = []
            for c in range(ncomp):
                cid, sampling, qid = body[6 + c * 3 : 9 + c * 3]
                if sampling != 0x11:
                    raise ValueError("chroma-subsampled JPEG needs a codec")
                comps.append({"id": cid, "qid": qid})
            frame = {"w": width, "h": height, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline (progressive/arithmetic) JPEG needs a codec")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            if ns != len(frame["comps"]):
                # a legal baseline variant (one scan per component) whose
                # reconstruction we don't implement — must be the declared
                # boundary, never a silent single-plane mis-decode
                raise ValueError(
                    "non-interleaved (multi-scan) JPEG needs a codec"
                )
            scan = []
            for c in range(ns):
                cid, tids = body[1 + c * 2], body[2 + c * 2]
                comp = next(cc for cc in frame["comps"] if cc["id"] == cid)
                scan.append({"comp": comp, "dc": tids >> 4, "ac": tids & 0x0F})
            pixels = _decode_scan(data, pos, frame, scan, qtables, htables, restart_interval)
            n_channels = len(frame["comps"])
            return {
                "width": frame["w"],
                "height": frame["h"],
                "n_channels": n_channels,
                "pixels": pixels,
            }
        # APPn/COM/etc: skipped
    raise ValueError("no SOS segment found")


def _decode_scan(data, pos, frame, scan, qtables, htables, restart_interval) -> bytes:
    w, h = frame["w"], frame["h"]
    bw, bh = (w + 7) // 8, (h + 7) // 8
    ncomp = len(scan)
    planes = [bytearray(bw * 8 * bh * 8) for _ in range(ncomp)]
    reader = _BitReader(data, pos)
    preds = [0] * ncomp
    mcu = 0
    try:
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    reader.align()
                    # skip the RSTn marker bytes
                    while reader.pos + 1 < len(reader.data) and reader.data[reader.pos] == 0xFF \
                            and 0xD0 <= reader.data[reader.pos + 1] <= 0xD7:
                        reader.pos += 2
                    preds = [0] * ncomp
                mcu += 1
                for ci, sc in enumerate(scan):
                    dc_tab = htables[(0, sc["dc"])]
                    ac_tab = htables[(1, sc["ac"])]
                    q = qtables[sc["comp"]["qid"]]
                    zz = [0] * 64
                    t = _decode_symbol(reader, dc_tab)
                    diff = _extend(reader.receive(t), t) if t else 0
                    preds[ci] += diff
                    zz[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = _decode_symbol(reader, ac_tab)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC index overflow")
                        zz[k] = _extend(reader.receive(s), s)
                        k += 1
                    nat = [0] * 64
                    for z, v in enumerate(zz):
                        if v:
                            nat[ZIGZAG[z]] = v * q[ZIGZAG[z]]
                    samples = idct_8x8(nat)
                    plane = planes[ci]
                    stride = bw * 8
                    base = by * 8 * stride + bx * 8
                    for yy in range(8):
                        row = base + yy * stride
                        plane[row : row + 8] = bytes(samples[yy * 8 : yy * 8 + 8])
    except _MarkerReached:
        raise ValueError("entropy stream ended early at marker") from None

    stride = bw * 8
    if ncomp == 1:
        out = bytearray(w * h)
        for y in range(h):
            out[y * w : (y + 1) * w] = planes[0][y * stride : y * stride + w]
        return bytes(out)
    if ncomp == 3:
        out = bytearray(w * h * 3)
        py, pcb, pcr = planes
        for y in range(h):
            for x in range(w):
                i = y * stride + x
                yy, cb, cr = py[i], pcb[i] - 128, pcr[i] - 128
                r = int(round(yy + 1.402 * cr))
                g = int(round(yy - 0.344136 * cb - 0.714136 * cr))
                b = int(round(yy + 1.772 * cb))
                o = (y * w + x) * 3
                out[o] = 0 if r < 0 else 255 if r > 255 else r
                out[o + 1] = 0 if g < 0 else 255 if g > 255 else g
                out[o + 2] = 0 if b < 0 else 255 if b > 255 else b
        return bytes(out)
    raise ValueError(f"unsupported component count {ncomp}")
