"""Pure-stdlib baseline JPEG codec: marker parse + huffman entropy
decode + dequantize + numpy IDCT — no imaging libraries (VERDICT r12 #7:
JPEG is the dominant real-corpus image format; the pHash tier should
cover it through the same decode seam PNG uses).

Derived entirely from the public JPEG specification (ITU-T T.81 /
ISO 10918-1) and the JFIF convention. Supported surface — the baseline
a corpus pipeline actually meets, everything else rejects LOUDLY rather
than decoding garbage:

* SOF0 baseline sequential DCT, 8-bit precision, 1 (grayscale) or
  3 (YCbCr) components, sampling factors 1-2 (4:4:4 / 4:2:2 / 4:2:0)
* SOF2 PROGRESSIVE (huffman) — spectral selection AND successive
  approximation, DC+AC refinement scans, EOB runs, interleaved DC /
  non-interleaved AC scan shapes, per-scan restart intervals (the
  Annex G decode path; VERDICT r13 #4 — a large share of web-corpus
  JPEGs are progressive)
* DQT 8-bit tables, DHT baseline huffman, DRI restart intervals,
  0xFF fill bytes before markers and standalone TEM/RSTn markers
  (T.81-legal streams some encoders emit; ADVICE r13 #3)
* every other SOF variant rejects with the frame type named;
  arithmetic coding (DAC), 12-bit precision, and 16-bit quantization
  tables reject likewise.

The encoder exists to synthesize deterministic fixtures: grayscale
4:4:4 baseline with the spec's Annex K luminance huffman tables and a
caller-chosen quantization table (all-ones by default, so fixture block
means survive the round trip to within IDCT rounding — what the aHash
gate construction needs).

Scale shape: identical to the PNG codec — decode runs inside
Arrow-batched ``mapInPandas`` (``operators.multimodal.image_features``),
one task streams batches, the driver never sees pixel data. The
per-block Python loop is fine at thumbnail scale; genuinely large media
would ship a native codec through the same seam.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegFormatError(ValueError):
    """Malformed or out-of-scope JPEG payload."""


_SOI = b"\xff\xd8"

# zigzag scan order: index i of the scan -> (row, col) flat index
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal 8x8 DCT-II matrix: block = _DCT.T @ coeff @ _DCT
_DCT = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * \
            (np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8))

# Annex K (T.81 tables K.3/K.5) luminance huffman specs: (bits, values)
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_SOF_NAMES = {
    0xC1: "extended sequential", 0xC2: "progressive", 0xC3: "lossless",
    0xC5: "differential sequential", 0xC6: "differential progressive",
    0xC7: "differential lossless", 0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive", 0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential",
    0xCE: "differential arithmetic progressive",
    0xCF: "differential arithmetic lossless",
}


def _build_huffman(bits: list[int], vals: list[int]) -> dict:
    """(lengths histogram, symbols) -> {(length, code): symbol}, canonical
    code assignment per T.81 C.2."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _encode_lengths(bits: list[int], vals: list[int]) -> dict:
    """Inverse of _build_huffman: {symbol: (length, code)} for encoding."""
    return {sym: lc for lc, sym in _build_huffman(bits, vals).items()}


def _build_symbol_lut(table: dict) -> list:
    """8-bit first-level decode table (r14 batch 13): entry ``w`` holds
    ``(symbol, length)`` for the unique code of length <= 8 that prefixes
    the 8-bit window ``w``, else None (code is 9-16 bits — slow path).
    Canonical Huffman codes are prefix-free, so the fill is exact."""
    lut: list = [None] * 256
    for key, sym in table.items():
        if not isinstance(key, tuple):
            continue  # e.g. a memoized '_lut' entry — not a code
        length, code = key
        if not isinstance(length, int) or length > 8:
            continue
        base = code << (8 - length)
        for w in range(base, base + (1 << (8 - length))):
            lut[w] = (sym, length)
    return lut


def _build_long_decode(table: dict) -> list:
    """Canonical-range decode entries for the 9-16-bit codes (r15): the
    T.81 F.16 DECODE shape — per length, canonical codes are CONSECUTIVE
    integers, so membership is one range check and the symbol an indexed
    list lookup. Replaces the per-length dict probe (tuple alloc + hash
    per candidate length) on the LUT-miss path. Returns a sorted list of
    ``(length, mincode, maxcode, symbols)``; prefix-freeness guarantees
    at most one length matches a given window."""
    per: dict[int, list] = {}
    for key, sym in table.items():
        if not isinstance(key, tuple):
            continue
        length, code = key
        if not isinstance(length, int) or length <= 8:
            continue
        per.setdefault(length, []).append((code, sym))
    out = []
    for length in sorted(per):
        items = sorted(per[length])
        if items[-1][0] - items[0][0] + 1 != len(items):
            # not canonical-consecutive (never produced by _build_huffman)
            # — signal the caller to keep the exact dict-probe path
            return None
        out.append((length, items[0][0], items[-1][0],
                    [s for _, s in items]))
    return out


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 byte unstuffing and
    restart-marker awareness.

    Bulk-decode shape (r14 batch 13 — the "not yet optimized" media
    kernel item): the accumulator buffers up to ~3 unstuffed bytes, so
    ``decode_symbol`` resolves most symbols with ONE 8-bit table lookup
    (plus a bounded 9-16-bit walk for long codes) and ``receive`` grabs
    its bit-field in one shift/mask instead of a per-bit loop. The
    original per-bit path remains and serves the segment tail, where
    T.81 F.2.2.5 1-padding past the terminating marker applies — the
    consumed bit sequence is IDENTICAL to the per-bit reader's in every
    state (same unstuffing, same marker rewind, same padding), so
    decoded coefficients are bit-for-bit unchanged (pinned by the exact
    phash gate oracles and the codec roundtrip tests)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.at_marker = False

    def _next_byte(self) -> int:
        if self.pos >= len(self.data):
            raise JpegFormatError("truncated entropy-coded segment")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise JpegFormatError("truncated after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1                 # stuffed byte
            else:
                # a real marker inside entropy data: rewind and pad with
                # 1-bits (T.81 F.2.2.5 allows padding at segment end)
                self.pos -= 1
                return -1
        return b

    def _refill(self) -> None:
        """Buffer unstuffed bytes into the accumulator (low ``nbits``
        bits = unconsumed) until >= 32 bits or the segment's marker —
        the unstuffing loop is inlined (identical to ``_next_byte``) so
        the amortized cost is one bounds check + one shift per byte."""
        if self.at_marker:
            return
        data = self.data
        n = len(data)
        pos = self.pos
        nbits = self.nbits
        acc = self.acc & ((1 << nbits) - 1)   # machine-word invariant
        while nbits < 32:
            if pos >= n:
                self.pos, self.acc, self.nbits = pos, acc, nbits
                raise JpegFormatError("truncated entropy-coded segment")
            b = data[pos]
            if b == 0xFF:
                if pos + 1 >= n:
                    self.pos, self.acc, self.nbits = pos, acc, nbits
                    raise JpegFormatError("truncated after 0xFF")
                if data[pos + 1] != 0x00:
                    self.at_marker = True     # real marker: stop, pad
                    break
                pos += 2                      # stuffed 0xFF00 -> 0xFF
            else:
                pos += 1
            acc = (acc << 8) | b
            nbits += 8
        self.pos, self.acc, self.nbits = pos, acc, nbits

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.at_marker:
                return 1                      # pad past segment end
            b = self._next_byte()
            if b < 0:
                self.at_marker = True
                return 1
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        if self.nbits < n and not self.at_marker:
            self._refill()
        if self.nbits >= n:
            self.nbits -= n
            return (self.acc >> self.nbits) & ((1 << n) - 1)
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_expect_rst(self, n: int) -> None:
        """Byte-align and consume the RSTn marker at a restart boundary.
        Any buffered bits are the interval's <= 7 pad bits (the reader
        never buffers past a marker, and a conforming stream has no full
        data bytes between the last symbol and its restart marker)."""
        if self.nbits >= 8:
            # >= one whole buffered byte of entropy data before the
            # marker: junk bytes in a non-conforming stream. The bulk
            # _refill would otherwise discard them silently where the
            # per-bit reader raised (ADVICE r14).
            raise JpegFormatError(
                "unexpected data bytes before restart marker")
        self.nbits = 0
        self.at_marker = False
        if self.pos + 2 > len(self.data) or \
                self.data[self.pos] != 0xFF or \
                self.data[self.pos + 1] != 0xD0 + (n & 7):
            raise JpegFormatError(
                f"expected RST{n & 7} marker at restart boundary")
        self.pos += 2

    def decode_symbol(self, table: dict) -> int:
        if self.nbits < 16 and not self.at_marker:
            self._refill()
        if self.nbits >= 16:
            lut = table.get("_lut")
            if lut is None:
                lut = _build_symbol_lut(table)
                table["_lut"] = lut
                table["_long"] = _build_long_decode(table)
            window = (self.acc >> (self.nbits - 16)) & 0xFFFF
            hit = lut[window >> 8]
            if hit is not None:
                sym, length = hit
                self.nbits -= length
                return sym
            longd = table.get("_long")
            if longd is not None:
                # canonical range decode (r15): prefix-freeness means at
                # most one length's consecutive code range contains the
                # window prefix — same symbol the dict probe returned
                for length, lo, hi, syms in longd:
                    code = window >> (16 - length)
                    if lo <= code <= hi:
                        self.nbits -= length
                        return syms[code - lo]
                raise JpegFormatError("invalid huffman code (>16 bits)")
            code = window >> 8
            for length in range(9, 17):
                code = (code << 1) | ((window >> (16 - length)) & 1)
                sym = table.get((length, code))
                if sym is not None:
                    self.nbits -= length
                    return sym
            raise JpegFormatError("invalid huffman code (>16 bits)")
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise JpegFormatError("invalid huffman code (>16 bits)")


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2, huffman) JPEG bytes ->
    uint8 pixel array: (H, W) for grayscale, (H, W, 3) RGB for YCbCr.
    Arithmetic / 12-bit / differential inputs raise ``JpegFormatError``
    naming the unsupported frame type.

    Architecture: every entropy scan decodes into a per-component
    COEFFICIENT STORE (zigzag order, int32) — baseline's single scan
    and progressive's DC/AC first+refinement scans all write the same
    store — then one vectorized dequantize+IDCT reconstructs pixels."""
    if data[:2] != _SOI:
        raise JpegFormatError("missing SOI marker")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame: dict | None = None
    coefs: dict[int, np.ndarray] = {}
    restart_interval = 0
    saw_scan = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at byte {pos}")
        # T.81-legal 0xFF FILL BYTES before a marker (ADVICE r13 #3):
        # any number of 0xFF bytes may pad ahead of the marker byte
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            break
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:                                   # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (TEM, stray RSTn): no length field
            continue
        if pos + 2 > len(data):
            raise JpegFormatError(
                f"truncated marker segment 0x{marker:02X}")
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        if pos + seglen > len(data):
            raise JpegFormatError(
                f"truncated marker segment 0x{marker:02X}")
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:                                   # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0xF
                if pq != 0:
                    raise JpegFormatError(
                        "16-bit quantization tables not supported")
                tbl = np.zeros(64, np.int32)
                tbl[_ZIGZAG] = np.frombuffer(seg, np.uint8, 64, off + 1)
                qt[tq] = tbl.reshape(8, 8)
                off += 65
        elif marker == 0xC4:                                 # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0xF
                bits = list(seg[off + 1:off + 17])
                n = sum(bits)
                vals = list(seg[off + 17:off + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _build_huffman(bits, vals)
                off += 17 + n
        elif marker in (0xC0, 0xC2):                   # SOF0 / SOF2
            if frame is not None:
                raise JpegFormatError("multiple SOF markers")
            frame = _parse_sof(seg, progressive=(marker == 0xC2))
            coefs = {c["id"]: np.zeros(
                (frame["mcuy"] * c["v"], frame["mcux"] * c["h"], 64),
                np.int32) for c in frame["comps"]}
        elif marker in _SOF_NAMES:
            raise JpegFormatError(
                f"unsupported frame type: {_SOF_NAMES[marker]} "
                f"(SOF{marker - 0xC0}) — baseline sequential (SOF0) "
                f"and huffman progressive (SOF2) only")
        elif marker == 0xCC:
            raise JpegFormatError("arithmetic coding (DAC) not supported")
        elif marker == 0xDD:                                 # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:                                 # SOS
            if frame is None:
                raise JpegFormatError("SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i:3 + 2 * i]
                comp = next((c for c in frame["comps"]
                             if c["id"] == cs), None)
                if comp is None:
                    raise JpegFormatError(f"scan component {cs} not in "
                                          f"the frame")
                scan.append({**comp, "td": tdta >> 4, "ta": tdta & 0xF})
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            spec = (ss, se, ahal >> 4, ahal & 0xF)
            if not frame["progressive"] and spec != (0, 63, 0, 0):
                raise JpegFormatError(
                    f"sequential scan with progressive parameters "
                    f"Ss={ss} Se={se} Ah={spec[2]} Al={spec[3]}")
            pos = _decode_scan(data, pos + seglen, frame, scan, spec,
                               coefs, huff_dc, huff_ac,
                               restart_interval)
            saw_scan = True
            continue
        pos += seglen
    if frame is None or not saw_scan:
        raise JpegFormatError("no SOS marker (empty scan)")
    return _reconstruct(frame, coefs, qt)


def _parse_sof(seg: bytes, progressive: bool) -> dict:
    precision = seg[0]
    if precision != 8:
        raise JpegFormatError(
            f"{precision}-bit precision not supported (8 only)")
    h, w = struct.unpack(">HH", seg[1:5])
    ncomp = seg[5]
    if ncomp not in (1, 3):
        raise JpegFormatError(
            f"{ncomp}-component frames not supported (1 or 3)")
    comps = []
    for i in range(ncomp):
        cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
        comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                      "tq": tq})
    for c in comps:
        if not (1 <= c["h"] <= 2 and 1 <= c["v"] <= 2):
            raise JpegFormatError(
                f"sampling factor {c['h']}x{c['v']} out of the "
                f"supported 1-2 range")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    frame = {"h": h, "w": w, "comps": comps, "hmax": hmax,
             "vmax": vmax, "mcux": -(-w // (8 * hmax)),
             "mcuy": -(-h // (8 * vmax)), "progressive": progressive}
    for c in comps:
        # non-interleaved (single-component) scans cover only the
        # component's OWN block grid, not the MCU-padded one (T.81
        # A.2.2) — precompute both extents
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        c["bw"] = -(-cw // 8)
        c["bh"] = -(-ch // 8)
    return frame


def _decode_scan(data: bytes, pos: int, frame: dict, scan: list[dict],
                 spec: tuple, coefs: dict, huff_dc: dict, huff_ac: dict,
                 restart_interval: int) -> int:
    """Decode ONE entropy-coded scan into the coefficient store and
    return the byte offset of the next marker. Handles all four
    progressive scan shapes (DC/AC x first/refinement) plus the
    sequential full-band scan, interleaved (ns > 1: MCU order) and
    non-interleaved (ns == 1: the component's own block raster)."""
    ss, se, ah, al = spec
    if frame["progressive"]:
        if ss == 0 and se != 0:
            raise JpegFormatError("progressive DC scan must have Se=0")
        if ss > 0 and len(scan) != 1:
            raise JpegFormatError(
                "progressive AC scan must be single-component")
        if se > 63 or ss > se:
            raise JpegFormatError(f"bad spectral band {ss}..{se}")
    dc_scan = ss == 0
    refine = ah != 0
    r = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in scan}
    state = {"eobrun": 0}

    def check_tables(c: dict) -> tuple:
        dc_tbl = huff_dc.get(c["td"]) if dc_scan and not refine else None
        ac_tbl = huff_ac.get(c["ta"]) if not dc_scan else None
        if dc_scan and not refine and dc_tbl is None:
            raise JpegFormatError(
                f"scan references undefined DC table {c['td']}")
        if not dc_scan and ac_tbl is None:
            raise JpegFormatError(
                f"scan references undefined AC table {c['ta']}")
        return dc_tbl, ac_tbl

    tables = {c["id"]: check_tables(c) for c in scan}

    def decode_block(c: dict, zz: np.ndarray) -> None:
        dc_tbl, ac_tbl = tables[c["id"]]
        if dc_scan:
            if not refine:
                size = r.decode_symbol(dc_tbl)
                diff = _extend(r.receive(size), size)
                pred[c["id"]] += diff
                zz[0] = pred[c["id"]] << al
            elif r.read_bit():
                zz[0] |= 1 << al
            if not frame["progressive"]:
                _ac_first(r, ac_tbl, zz, 1, 63, 0, state)
        else:
            if not refine:
                _ac_first(r, ac_tbl, zz, ss, se, al, state)
            else:
                _ac_refine(r, ac_tbl, zz, ss, se, al, state)

    if not frame["progressive"]:
        # sequential: DC+AC per block, needs both tables
        for c in scan:
            if huff_ac.get(c["ta"]) is None:
                raise JpegFormatError(
                    f"scan references undefined AC table {c['ta']}")
            tables[c["id"]] = (tables[c["id"]][0], huff_ac[c["ta"]])

    # a single-component scan is NON-INTERLEAVED: it covers the
    # component's own block grid in raster order, one block per MCU
    # (T.81 A.2.2) — sequential and progressive alike
    interleaved = len(scan) > 1
    n_units = (frame["mcux"] * frame["mcuy"] if interleaved
               else scan[0]["bh"] * scan[0]["bw"])
    rst_n = 0
    for unit in range(n_units):
        if restart_interval and unit and unit % restart_interval == 0:
            r.align_and_expect_rst(rst_n)
            rst_n = (rst_n + 1) & 7
            for c in scan:
                pred[c["id"]] = 0
            state["eobrun"] = 0
        if interleaved:
            my, mx = divmod(unit, frame["mcux"])
            for c in scan:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        decode_block(
                            c, coefs[c["id"]][my * c["v"] + by,
                                              mx * c["h"] + bx])
        else:
            c = scan[0]
            by, bx = divmod(unit, c["bw"])
            decode_block(c, coefs[c["id"]][by, bx])
    # skip to the next marker (possible 1-bit padding, then 0xFF xx
    # with stuffed 0xFF00 and RSTn belonging to the entropy stream)
    p = r.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 \
                and not 0xD0 <= data[p + 1] <= 0xD7:
            break
        p += 1
    return p


def _ac_first(r: _BitReader, ac_tbl: dict, zz: np.ndarray,
              ss: int, se: int, al: int, state: dict) -> None:
    """AC coefficients of one block, first pass (Ah=0): baseline's EOB
    is the degenerate EOBRUN (run=0 -> 1 block); progressive EOB runs
    span blocks via ``state['eobrun']``."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = r.decode_symbol(ac_tbl)
        run, size = rs >> 4, rs & 0xF
        if size == 0:
            if run == 15:                    # ZRL
                k += 16
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += r.receive(run)
            state["eobrun"] = eobrun
            break                            # EOBn
        k += run
        if k > se:
            raise JpegFormatError("AC run past band end")
        zz[k] = _extend(r.receive(size), size) << al
        k += 1


def _ac_refine(r: _BitReader, ac_tbl: dict, zz: np.ndarray,
               ss: int, se: int, al: int, state: dict) -> None:
    """AC successive-approximation refinement (T.81 G.1.2.3): already
    nonzero coefficients receive a correction bit; newly nonzero ones
    arrive as +-1 << Al; EOB runs still correct the nonzero history."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = r.decode_symbol(ac_tbl)
            run, size = rs >> 4, rs & 0xF
            newval = 0
            if size == 0:
                if run < 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += r.receive(run)
                    state["eobrun"] = eobrun
                    break
                # run == 15: skip 16 zero-history positions
            else:
                if size != 1:
                    raise JpegFormatError(
                        "invalid AC refinement magnitude (must be 1)")
                newval = p1 if r.read_bit() else m1
            while k <= se:
                c = int(zz[k])
                if c != 0:
                    if r.read_bit() and (c & p1) == 0:
                        zz[k] = c + (p1 if c >= 0 else m1)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if k <= se and newval != 0:
                zz[k] = newval
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            c = int(zz[k])
            if c != 0 and r.read_bit() and (c & p1) == 0:
                zz[k] = c + (p1 if c >= 0 else m1)
            k += 1
        state["eobrun"] -= 1


def _reconstruct(frame: dict, coefs: dict, qt: dict) -> np.ndarray:
    """Coefficient store -> pixels: vectorized dequantize + IDCT per
    component (einsum over all blocks at once), chroma upsample, crop,
    YCbCr->RGB for 3-component frames."""
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    out_planes = []
    for c in frame["comps"]:
        q = qt.get(c["tq"])
        if q is None:
            raise JpegFormatError(
                f"frame references undefined quantization table "
                f"{c['tq']}")
        zzs = coefs[c["id"]]                     # (bh, bw, 64) zigzag
        bh, bw = zzs.shape[:2]
        nat = np.zeros((bh, bw, 64), np.float64)
        nat[..., _ZIGZAG] = zzs
        blocks = nat.reshape(bh, bw, 8, 8) * q
        px = np.einsum("ij,abjk,kl->abil", _DCT.T, blocks, _DCT)
        plane = px.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        out_planes.append(np.clip(plane[:h, :w], 0, 255))
    if len(out_planes) == 1:
        return np.rint(out_planes[0]).astype(np.uint8)
    y, cb, cr = out_planes
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r_, g_, b_], axis=2)
    return np.rint(np.clip(rgb, 0, 255)).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        # bulk form (r15): append the whole bit-field to the accumulator
        # and emit complete bytes with 0xFF00 stuffing — the emitted BIT
        # sequence is identical to the per-bit loop this replaces (the
        # encoder's dominant cost at ~80k calls per 32x32 fixture).
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        nbits = self.nbits + length
        out = self.out
        while nbits >= 8:
            nbits -= 8
            b = (self.acc >> nbits) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)                # byte stuffing
        self.nbits = nbits
        self.acc &= (1 << nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def encode_jpeg_gray(arr: np.ndarray,
                     quant: np.ndarray | None = None,
                     restart_interval: int = 0) -> bytes:
    """uint8 (H, W) grayscale -> baseline JFIF bytes (one component,
    4:4:4, Annex K luminance huffman tables). ``quant`` is the 8x8
    quantization table in natural order; the all-ones default keeps
    fixture block means exact to IDCT rounding. Dimensions pad to
    multiples of 8 by edge replication (decoders crop back via SOF0's
    true height/width). ``restart_interval`` > 0 emits a DRI segment
    and an RSTn marker (byte-aligned, DC predictor reset) every that
    many MCUs — the resync structure real camera JPEGs carry."""
    a = np.asarray(arr, np.uint8)
    if a.ndim != 2:
        raise ValueError("encode_jpeg_gray takes a (H, W) grayscale array")
    h, w = a.shape
    q = (np.ones((8, 8), np.int32) if quant is None
         else np.asarray(quant, np.int32).reshape(8, 8))
    if (q < 1).any() or (q > 255).any():
        raise ValueError("quantization entries must be in 1..255")
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(a, ((0, ph - h), (0, pw - w)), mode="edge") \
        .astype(np.float64) - 128.0

    dc_codes = _encode_lengths(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_codes = _encode_lengths(_AC_LUM_BITS, _AC_LUM_VALS)
    # batched transform (r15): every block's DCT/quantize/zigzag in three
    # stacked numpy ops instead of per-block matmuls inside the bit loop.
    # np.matmul on a stacked (nb, 8, 8) operand runs the SAME per-slice
    # dgemm as the per-block ``_DCT @ block @ _DCT.T`` it replaces, in the
    # same association order, so every float — and hence every rint
    # boundary — is bit-identical (pinned by the md5 roundtrip tests).
    nby, nbx = ph // 8, pw // 8
    blocks = (padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
              .reshape(nby * nbx, 8, 8))
    coeff = (_DCT @ blocks) @ _DCT.T
    zq = np.rint(coeff / q).astype(np.int64)
    zzs = zq.reshape(-1, 64)[:, _ZIGZAG]
    # last nonzero index per block, vectorized (0 when the tail is empty)
    nz_tail = zzs[:, 1:] != 0
    last_nzs = np.where(nz_tail.any(axis=1),
                        63 - np.argmax(zzs[:, ::-1] != 0, axis=1), 0)
    zz_rows = zzs.tolist()                  # plain ints for the bit loop
    last_nz_row = last_nzs.tolist()
    bw = _BitWriter()
    write = bw.write
    pred = 0
    rst = 0
    for mcu, zz in enumerate(zz_rows):
        if restart_interval and mcu and mcu % restart_interval == 0:
            # byte-align (1-padding), emit RSTn, reset the predictor
            if bw.nbits:
                write((1 << (8 - bw.nbits)) - 1, 8 - bw.nbits)
            bw.out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst = (rst + 1) & 7
            pred = 0
        diff = zz[0] - pred
        pred = zz[0]
        size = _category(diff)
        ln, code = dc_codes[size]
        write(code, ln)
        if size:
            write(diff if diff > 0 else diff + (1 << size) - 1,
                  size)
        run = 0
        last_nz = last_nz_row[mcu]
        for k in range(1, 64):
            v = zz[k]
            if k > last_nz:
                ln, code = ac_codes[0x00]        # EOB
                write(code, ln)
                break
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_codes[0xF0]        # ZRL
                write(code, ln)
                run -= 16
            size = _category(v)
            ln, code = ac_codes[(run << 4) | size]
            write(code, ln)
            write(v if v > 0 else v + (1 << size) - 1, size)
            run = 0
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload

    zz_q = np.zeros(64, np.uint8)
    zz_q[np.arange(64)] = q.reshape(-1)[_ZIGZAG]
    dht_dc = bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
    dht_ac = bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS)
    dri = (seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    return (_SOI
            + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xDB, bytes([0x00]) + zz_q.tobytes())
            + seg(0xC0, struct.pack(">BHHB", 8, h, w, 1)
                  + bytes([1, 0x11, 0]))
            + seg(0xC4, dht_dc) + seg(0xC4, dht_ac) + dri
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + entropy + b"\xff\xd9")


# progressive AC entropy coding needs EOBn symbols (run<<4, size=0 for
# run 1..14) that the baseline Annex K AC table does not define; the
# fixture encoder uses a FLAT custom table instead: 255 symbols, all
# 9 bits (valid canonical huffman — the all-ones code never occurs),
# covering every (run, size) pair progressive scans can emit
_AC_PROG_BITS = [0] * 8 + [255] + [0] * 7
_AC_PROG_VALS = list(range(255))


class _ProgScanWriter:
    """Entropy state for ONE progressive scan: EOB-run accumulation
    with buffered correction bits (the T.81 G.1.2.3 encoder shape)."""

    def __init__(self, bw: _BitWriter, ac_codes: dict):
        self.bw = bw
        self.ac = ac_codes
        self.eobrun = 0
        self.corr: list[int] = []

    def sym(self, s: int) -> None:
        ln, code = self.ac[s]
        self.bw.write(code, ln)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.bw.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0
        for b in self.corr:
            self.bw.write(b, 1)
        self.corr = []

    def bump_eobrun(self) -> None:
        self.eobrun += 1
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()


def encode_jpeg_gray_progressive(
        arr: np.ndarray, quant: np.ndarray | None = None,
        scans: tuple = ((0, 0, 0, 1), (0, 0, 1, 0), (1, 5, 0, 2),
                        (6, 63, 0, 2), (1, 63, 2, 1), (1, 63, 1, 0)),
        ) -> bytes:
    """uint8 (H, W) grayscale -> PROGRESSIVE (SOF2) JFIF bytes. The
    default scan script exercises every progressive decode shape:
    DC first at Al=1, DC refinement, spectral-selection AC first scans
    (two bands) at Al=2, then two successive-approximation AC
    refinement scans down to Al=0 — so with the all-ones default
    ``quant`` the decode equals the baseline encoding of the same
    pixels exactly. ``scans`` entries are (Ss, Se, Ah, Al)."""
    a = np.asarray(arr, np.uint8)
    if a.ndim != 2:
        raise ValueError(
            "encode_jpeg_gray_progressive takes a (H, W) array")
    h, w = a.shape
    q = (np.ones((8, 8), np.int32) if quant is None
         else np.asarray(quant, np.int32).reshape(8, 8))
    if (q < 1).any() or (q > 255).any():
        raise ValueError("quantization entries must be in 1..255")
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(a, ((0, ph - h), (0, pw - w)), mode="edge") \
        .astype(np.float64) - 128.0
    # all blocks' zigzag coefficients, raster order
    blocks: list[np.ndarray] = []
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            coeff = _DCT @ padded[y0:y0 + 8, x0:x0 + 8] @ _DCT.T
            zq = np.rint(coeff / q).astype(np.int64)
            blocks.append(zq.reshape(-1)[_ZIGZAG])

    dc_codes = _encode_lengths(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_codes = _encode_lengths(_AC_PROG_BITS, _AC_PROG_VALS)
    scan_payloads: list[bytes] = []
    for ss, se, ah, al in scans:
        bw = _BitWriter()
        if ss == 0:                                   # DC scan
            if se != 0:
                raise ValueError("DC scan needs Se=0")
            if ah == 0:                               # first pass
                pred = 0
                for zz in blocks:
                    v = int(zz[0]) >> al
                    diff = v - pred
                    pred = v
                    size = _category(diff)
                    ln, code = dc_codes[size]
                    bw.write(code, ln)
                    if size:
                        bw.write(diff if diff > 0
                                 else diff + (1 << size) - 1, size)
            else:                                     # refinement
                for zz in blocks:
                    bw.write((int(zz[0]) >> al) & 1, 1)
        elif ah == 0:                                 # AC first pass
            ps = _ProgScanWriter(bw, ac_codes)
            for zz in blocks:
                run = 0
                emitted = False
                for k in range(ss, se + 1):
                    c = int(zz[k])
                    t = (abs(c) >> al) * (1 if c >= 0 else -1)
                    if t == 0:
                        run += 1
                        continue
                    ps.flush_eobrun()
                    while run > 15:
                        ps.sym(0xF0)                  # ZRL
                        run -= 16
                    size = _category(t)
                    ps.sym((run << 4) | size)
                    bw.write(t if t > 0 else t + (1 << size) - 1, size)
                    run = 0
                    emitted = True
                if run > 0 or not emitted:
                    ps.bump_eobrun()
            ps.flush_eobrun()
        else:                                         # AC refinement
            ps = _ProgScanWriter(bw, ac_codes)
            for zz in blocks:
                absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
                eob = 0                # 1 past the last newly-nonzero
                for i, t in enumerate(absv):
                    if t == 1:
                        eob = i + 1
                run = 0
                pend: list[int] = []
                for i, t in enumerate(absv):
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and i < eob:
                        ps.flush_eobrun()
                        ps.sym(0xF0)
                        for b in pend:
                            bw.write(b, 1)
                        pend = []
                        run -= 16
                    if t > 1:          # history-nonzero: correction bit
                        pend.append(t & 1)
                        continue
                    ps.flush_eobrun()  # newly nonzero: (run, 1) + sign
                    ps.sym((run << 4) | 1)
                    bw.write(0 if int(zz[ss + i]) < 0 else 1, 1)
                    for b in pend:
                        bw.write(b, 1)
                    pend = []
                    run = 0
                if run > 0 or pend:
                    ps.eobrun += 1
                    ps.corr.extend(pend)
                    if ps.eobrun == 0x7FFF:
                        ps.flush_eobrun()
            ps.flush_eobrun()
        scan_payloads.append(bw.flush())

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload

    zz_q = np.zeros(64, np.uint8)
    zz_q[np.arange(64)] = q.reshape(-1)[_ZIGZAG]
    dht_dc = bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
    dht_ac = bytes([0x10]) + bytes(_AC_PROG_BITS) + bytes(_AC_PROG_VALS)
    out = bytearray(_SOI)
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    out += seg(0xC2, struct.pack(">BHHB", 8, h, w, 1)
               + bytes([1, 0x11, 0]))
    out += seg(0xC4, dht_dc) + seg(0xC4, dht_ac)
    for (ss, se, ah, al), payload in zip(scans, scan_payloads):
        out += seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out += payload
    out += b"\xff\xd9"
    return bytes(out)
