"""Pure-NumPy JPEG (JFIF) codec: baseline sequential AND progressive.

The reference decodes images with ``cv2.imdecode``
(``toddleocr/engine.py:214-216``), which in the wild sees JPEG first.
No codec library ships in this environment, so — like the repo's PNG /
BMP / PPM / GIF decoders — the format is implemented from the public
spec (ITU-T T.81):

- marker parse: DQT (8/16-bit tables), DHT (canonical Huffman from
  counts+symbols), SOF0/SOF2 (components + h/v subsampling), SOS
  (one per scan — multi-scan files loop back to the marker parser),
  DRI
- entropy decode: byte-unstuffed MSB-first bit reader, Huffman DC
  category + extend, AC run/size with EOB and ZRL, restart-marker
  resync (DC predictors + EOB run + bit buffer reset)
- scan kinds (T.81 §G.2): sequential interleaved MCUs, sequential
  non-interleaved (one scan per component, block-raster order over
  the component's own ceil geometry), progressive DC first
  (point-transformed diffs, interleaved or not), progressive DC
  refinement (one raw bit per block), progressive AC first (spectral
  band [Ss, Se] with EOB runs), progressive AC refinement (the
  correction-bit algorithm of G.1.2.3 — newly-nonzero insertion while
  emitting history-coefficient corrections, EOB runs carrying the
  buffered bits)
- block reconstruction: coefficients accumulate across scans in
  zigzag order, then dequantize, de-zigzag, batched 8×8 IDCT
  (one einsum over all blocks of a component — the vectorized part),
  chroma upsample by sample replication, YCbCr→BGR (BT.601 / JFIF)

Out of scope (explicit errors, not wrong pixels): arithmetic coding,
lossless/hierarchical modes, 12-bit precision, CMYK. The Huffman bit
loop is sequential Python — inherent to the format's entropy coding;
at scale each image decodes inside one mapInArrow task, so the
sequential part parallelizes across media exactly like the
reference's per-image loop.

``encode_jpeg`` is the test-fixture twin: baseline or progressive
(``progressive=True`` emits a libjpeg-style scan script — DC first at
Al=1, split-band AC first scans at Al=1, then DC and AC refinement
scans to Al=0, so every progressive decode path is exercised),
4:4:4/4:2:2/4:2:0 or grayscale, with self-describing canonical
Huffman tables (all-DC-symbols length 4, all-AC-symbols length 8 — a
valid, intentionally simple code), so decoder tests are a genuine
two-party interop check on the wire format, not a shared-helper
round-trip.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg"]

# zigzag scan order: index i of the scan holds block position ZZ[i]
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8-point DCT-II basis: C[k, n] = s(k) cos((2n+1)kπ/16)
_N = np.arange(8)
_DCT = np.cos((2 * _N[None, :] + 1) * _N[:, None] * np.pi / 16)
_DCT[0] *= 1 / np.sqrt(2)
_DCT *= 0.5


def _build_huffman(counts, symbols):
    """Canonical Huffman per T.81 Annex C: {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first reader over entropy-coded bytes (already unstuffed)."""

    def __init__(self, data: bytes, pos: int = 0):
        # `pos` lets restart resync re-aim the reader INTO the shared
        # unstuffed buffer — re-slicing bytes(ecs[next_restart:]) per
        # restart was O(restarts x stream) memcpy on scanned pages
        self.data = data
        self.pos = pos
        self.bit = 0

    def read_bit(self) -> int:
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

    def decode_symbol(self, table) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 sign extension of a SIZE-bit magnitude."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _idct_blocks(coefs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients → (n, 8, 8) float samples."""
    return np.einsum("ki,nkl,lj->nij", _DCT, coefs, _DCT)


def _unstuff(data: bytes, i: int):
    """Entropy-coded bytes from offset ``i`` → (bytes, restart offsets,
    position of the next marker's 0xFF)."""
    ecs = bytearray()
    restarts = []  # unstuffed offsets where a RSTn occurred
    p = i
    n = len(data)
    while p < n - 1:
        b = data[p]
        if b == 0xFF:
            nxt = data[p + 1]
            if nxt == 0x00:
                ecs.append(0xFF)
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                restarts.append(len(ecs))
                p += 2
                continue
            break  # EOI or next marker
        ecs.append(b)
        p += 1
    # a truncated stream can end on a lone final entropy byte with no
    # trailing marker: include it so the bit reader sees every coded
    # bit instead of failing later with a confusing Huffman error
    if p == n - 1 and data[p] != 0xFF:
        ecs.append(data[p])
        p += 1
    return bytes(ecs), restarts, p


def _decode_scan(frame, scan, huff, planes, ecs, restarts,
                 restart_interval):
    """Decode one scan's entropy data into the zigzag-order coefficient
    planes. Handles all six scan kinds (module docstring)."""
    by_id = {c["id"]: c for c in frame["comps"]}
    scomps = scan["comps"]
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    reader = _BitReader(ecs)
    restart_iter = iter(restarts)
    next_restart = next(restart_iter, None)
    pred = {sc["id"]: 0 for sc in scomps}
    eobrun = 0

    def _resync():
        # re-aim the reader at the recorded restart boundary (no
        # per-restart tail copy); DC predictors and EOB run reset
        nonlocal reader, pred, eobrun, next_restart
        if next_restart is None:
            raise ValueError("missing JPEG restart marker")
        reader = _BitReader(ecs, next_restart)
        next_restart = next(restart_iter, None)
        pred = {sc["id"]: 0 for sc in scomps}
        eobrun = 0

    def _unit_seq(blk, sc):
        size = reader.decode_symbol(huff[(0, sc["dc"])])
        diff = _extend(reader.read_bits(size), size)
        pred[sc["id"]] += diff
        blk[0] = pred[sc["id"]]
        act = huff[(1, sc["ac"])]
        k = 1
        while k < 64:
            rs = reader.decode_symbol(act)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            blk[k] = _extend(reader.read_bits(s), s)
            k += 1

    def _unit_dc_first(blk, sc):
        # G.1.2.1: diffs of the point-transformed DC; the predictor
        # accumulates pre-shift values, output is shifted by Al
        size = reader.decode_symbol(huff[(0, sc["dc"])])
        diff = _extend(reader.read_bits(size), size)
        pred[sc["id"]] += diff
        blk[0] = pred[sc["id"]] << al

    def _unit_dc_refine(blk, sc):
        # one raw bit per block: the next lower bit of the DC value
        # (two's-complement OR, negative values included — the
        # encoder's arithmetic right shift is its exact inverse)
        if reader.read_bit():
            blk[0] |= 1 << al

    def _unit_ac_first(blk, sc):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        act = huff[(1, sc["ac"])]
        k = ss
        while k <= se:
            rs = reader.decode_symbol(act)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                # EOB run of (1<<r)+extra blocks; this block is one
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read_bits(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient outside band")
            blk[k] = _extend(reader.read_bits(s), s) << al
            k += 1

    def _unit_ac_refine(blk, sc):
        # G.1.2.3 correction-bit algorithm (the libjpeg-equivalent
        # control flow): newly-nonzero coefficients arrive as ±1<<Al;
        # every already-nonzero coefficient passed over — including
        # during ZRL skips and EOB runs — consumes one correction bit
        nonlocal eobrun
        p1, m1 = 1 << al, -(1 << al)
        act = huff[(1, sc["ac"])]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.decode_symbol(act)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) + (reader.read_bits(r)
                                             if r else 0)
                        break  # rest of block handled by the run path
                    # else ZRL: skip 16 zero-history coefficients
                else:
                    # s == 1 by spec: sign bit of the new coefficient
                    val = p1 if reader.read_bit() else m1
                while k <= se:
                    c = blk[k]
                    if c != 0:
                        if reader.read_bit() and not (c & p1):
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break  # target zero-history position
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if eobrun:
            # this block belongs to an EOB run: correction bits for
            # every nonzero-history coefficient from k (where the EOB
            # was decoded, or Ss for later run members) through Se
            while k <= se:
                c = blk[k]
                if c != 0 and reader.read_bit() and not (c & p1):
                    blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1

    if not frame["progressive"]:
        unit = _unit_seq
    elif ss == 0:
        unit = _unit_dc_first if ah == 0 else _unit_dc_refine
    else:
        if len(scomps) != 1:
            raise ValueError("progressive AC scan must be "
                             "non-interleaved (T.81 B.2.3)")
        unit = _unit_ac_first if ah == 0 else _unit_ac_refine

    if len(scomps) > 1:
        # interleaved: MCU order, every scan component's h*v blocks
        mcus_x, mcus_y = frame["mcus_x"], frame["mcus_y"]
        for m in range(mcus_x * mcus_y):
            if restart_interval and m and m % restart_interval == 0:
                _resync()
            my, mx = divmod(m, mcus_x)
            for sc in scomps:
                comp = by_id[sc["id"]]
                pl = planes[sc["id"]]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        unit(pl[my * comp["v"] + by,
                                mx * comp["h"] + bx], sc)
    else:
        # non-interleaved: block raster over the component's own ceil
        # geometry (T.81 A.2.2 — NOT the MCU-padded plane); the
        # restart interval counts data units here
        sc = scomps[0]
        comp = by_id[sc["id"]]
        pl = planes[sc["id"]]
        nx, ny = comp["nx"], comp["ny"]
        for m in range(ny * nx):
            if restart_interval and m and m % restart_interval == 0:
                _resync()
            by, bx = divmod(m, nx)
            unit(pl[by, bx], sc)


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes → (H, W, 3) uint8 BGR (gray replicates to 3ch)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None
    planes = None
    restart_interval = 0
    saw_scan = False
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError("marker expected")
        # T.81 B.1.1.2: a marker may be preceded by any number of
        # 0xFF fill bytes — treating a fill byte as the marker would
        # read a garbage segment length from the real marker byte
        while data[i + 1] == 0xFF:
            i += 1
        marker = data[i + 1]
        i += 2
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[i:i + 2])
        seg = data[i + 2:i + seglen]
        i += seglen
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 15
                p += 1
                if prec:
                    tbl = np.frombuffer(seg[p:p + 128], ">u2").astype(
                        np.int64)
                    p += 128
                else:
                    tbl = np.frombuffer(seg[p:p + 64], np.uint8).astype(
                        np.int64)
                    p += 64
                qt[tid] = tbl
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1:p + 17])
                n = sum(counts)
                symbols = list(seg[p + 17:p + 17 + n])
                huff[(cls, tid)] = _build_huffman(counts, symbols)
                p += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            if nc == 1:
                # T.81 A.2: a single-component frame scans
                # non-interleaved — the MCU is one 8x8 data unit and
                # the component's effective sampling is full
                # resolution (x_i = ceil(w*h_i/hmax) = w when the
                # frame has one component). Grayscale files commonly
                # carry hv=0x22 (libjpeg's default); decoding them
                # with interleaved 4-blocks-per-16x16-MCU geometry
                # would consume blocks in the wrong order/count.
                comps = [{**comps[0], "h": 1, "v": 1}]
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            frame = {"h": h, "w": w, "comps": comps, "scanned": set(),
                     "progressive": marker == 0xC2,
                     "hmax": hmax, "vmax": vmax,
                     "mcus_x": -(-w // (8 * hmax)),
                     "mcus_y": -(-h // (8 * vmax))}
            planes = {}
            for c in comps:
                # non-interleaved block geometry: ceil(comp size / 8)
                comp_w = -(-w * c["h"] // hmax)  # ceil(w*h_i/hmax)
                comp_h = -(-h * c["v"] // vmax)
                c["nx"] = -(-comp_w // 8)
                c["ny"] = -(-comp_h // 8)
                # coefficient plane in block units, zigzag order,
                # MCU-padded (>= the non-interleaved block counts);
                # scans ACCUMULATE into it (progressive refinement)
                planes[c["id"]] = np.zeros(
                    (frame["mcus_y"] * c["v"], frame["mcus_x"] * c["h"],
                     64), dtype=np.int64)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline (SOF0) and progressive "
                             "(SOF2) Huffman JPEG supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — decode this scan, keep parsing
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid, tids = seg[1 + 2 * c:3 + 2 * c]
                scomps.append({"id": cid, "dc": tids >> 4,
                               "ac": tids & 15})
            ahal = seg[3 + 2 * ns]
            scan = {"comps": scomps, "ss": seg[1 + 2 * ns],
                    "se": seg[2 + 2 * ns], "ah": ahal >> 4,
                    "al": ahal & 15}
            ecs, restarts, i = _unstuff(data, i)
            _decode_scan(frame, scan, huff, planes, ecs, restarts,
                         restart_interval)
            saw_scan = True
            frame["scanned"].update(sc["id"] for sc in scomps)
    if frame is None or not saw_scan:
        raise ValueError("truncated JPEG (no SOF/SOS)")
    if any(c["id"] not in frame["scanned"] for c in frame["comps"]):
        # a legal multi-scan file must cover every frame component;
        # rendering the covered subset would mis-color the image
        raise ValueError("JPEG frame component received no scan")

    # dequantize (zigzag-aligned), de-zigzag, IDCT all blocks of each
    # component at once, assemble, upsample
    comps = frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    out_ch = []
    for c in comps:
        pl = planes[c["id"]]
        by, bx = pl.shape[:2]
        deq = pl.reshape(-1, 64) * qt[c["tq"]]  # both zigzag order
        nat = np.zeros_like(deq)
        nat[:, ZIGZAG] = deq
        pix = _idct_blocks(nat.reshape(-1, 8, 8)) + 128.0
        pix = (pix.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
               .reshape(by * 8, bx * 8))
        pix = np.repeat(np.repeat(pix, vmax // c["v"], axis=0),
                        hmax // c["h"], axis=1)
        out_ch.append(pix[:frame["h"], :frame["w"]])
    if len(out_ch) == 1:
        y = np.clip(np.round(out_ch[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = out_ch[0], out_ch[1] - 128.0, out_ch[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    bgr = np.stack([b, g, r], axis=2)
    return np.clip(np.round(bgr), 0, 255).astype(np.uint8)


# --- encoder (test-fixture twin) --------------------------------------

# DC: 12 symbols, all code length 4 (12/16 Kraft-valid); AC: every
# (run 0-15, size 0-10) pair, all code length 8 (176/256) — size 0
# covers EOB (0x00), ZRL (0xF0) and the progressive EOB-run symbols
# (r<<4 encodes a run of (1<<r)+extra end-of-band blocks).
_DC_SYMS = list(range(12))
_AC_SYMS = [r * 16 + s for r in range(16) for s in range(11)]


def _canonical_codes(counts, symbols):
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_AC_COUNTS = [0] * 7 + [len(_AC_SYMS)] + [0] * 8
_DC_CODES = _canonical_codes(_DC_COUNTS, _DC_SYMS)
_AC_CODES = _canonical_codes(_AC_COUNTS, _AC_SYMS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.write(1, 1)  # pad with 1-bits per spec


def _size_of(v: int) -> int:
    return 0 if v == 0 else int(v).bit_length() if v > 0 \
        else int(-v).bit_length()


def _encode_block(w: _BitWriter, zz: np.ndarray, pred: int) -> int:
    diff = int(zz[0]) - pred
    size = _size_of(diff)
    length, code = _DC_CODES[size]
    w.write(code, length)
    if size:
        w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0].max()) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = _AC_CODES[0xF0]
            w.write(code, length)
            run -= 16
        size = _size_of(v)
        length, code = _AC_CODES[run * 16 + size]
        w.write(code, length)
        w.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        length, code = _AC_CODES[0x00]
        w.write(code, length)
    return int(zz[0])


def _prog_dc_first(comps, zzv, mcus_x, mcus_y, al) -> bytes:
    """Progressive DC first scan (interleaved MCU order): Huffman-coded
    diffs of the point-transformed (>> Al, arithmetic) DC values."""
    w = _BitWriter()
    pred = {c["id"]: 0 for c in comps}
    for m in range(mcus_x * mcus_y):
        my, mx = divmod(m, mcus_x)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    dc = int(zzv[c["id"]][my * c["v"] + by,
                                          mx * c["h"] + bx, 0]) >> al
                    diff = dc - pred[c["id"]]
                    pred[c["id"]] = dc
                    size = _size_of(diff)
                    length, code = _DC_CODES[size]
                    w.write(code, length)
                    if size:
                        w.write(diff if diff >= 0
                                else diff + (1 << size) - 1, size)
    w.flush()
    return bytes(w.out)


def _prog_dc_refine(comps, zzv, mcus_x, mcus_y, al) -> bytes:
    """Progressive DC refinement: one raw bit per block — bit Al of the
    (two's-complement) DC value, same MCU order as the first scan."""
    w = _BitWriter()
    for m in range(mcus_x * mcus_y):
        my, mx = divmod(m, mcus_x)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    dc = int(zzv[c["id"]][my * c["v"] + by,
                                          mx * c["h"] + bx, 0])
                    w.write((dc >> al) & 1, 1)
    w.flush()
    return bytes(w.out)


def _prog_ac_first(zzv_c, ny, nx, ss, se, al) -> bytes:
    """Progressive AC first scan over one component's non-interleaved
    block raster: run/size pairs of point-transformed magnitudes with
    cross-block EOB runs (G.1.2.2)."""
    w = _BitWriter()
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            length, code = _AC_CODES[nb << 4]
            w.write(code, length)
            if nb:
                w.write(eobrun - (1 << nb), nb)
            eobrun = 0

    for m in range(ny * nx):
        by, bx = divmod(m, nx)
        zz = zzv_c[by, bx]
        r = 0
        for k in range(ss, se + 1):
            a = int(zz[k])
            t = (a if a >= 0 else -a) >> al
            if t == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                length, code = _AC_CODES[0xF0]
                w.write(code, length)
                r -= 16
            s = t.bit_length()
            sv = t if a >= 0 else -t
            length, code = _AC_CODES[(r << 4) | s]
            w.write(code, length)
            w.write(sv if sv > 0 else sv + (1 << s) - 1, s)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    w.flush()
    return bytes(w.out)


def _prog_ac_refine(zzv_c, ny, nx, ss, se, al) -> bytes:
    """Progressive AC refinement (G.1.2.3, the libjpeg-equivalent
    control flow): newly-nonzero coefficients (|coef|>>Al == 1) emit
    (run<<4)|1 + a sign bit; already-nonzero coefficients buffer one
    correction bit each, flushed after the next emitted symbol; blocks
    with no new nonzeros extend the EOB run, their correction bits
    carried and flushed with the run's EOB code."""
    w = _BitWriter()
    eobrun = 0
    carried = []  # correction bits owned by the pending EOB run

    def flush_eob():
        nonlocal eobrun, carried
        if eobrun:
            nb = eobrun.bit_length() - 1
            length, code = _AC_CODES[nb << 4]
            w.write(code, length)
            if nb:
                w.write(eobrun - (1 << nb), nb)
            eobrun = 0
        for b in carried:
            w.write(b, 1)
        carried = []

    for m in range(ny * nx):
        by, bx = divmod(m, nx)
        zz = zzv_c[by, bx]
        absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        # index of the last newly-nonzero coefficient: ZRLs beyond it
        # fold into the EOB run instead of being emitted
        eob = ss - 1
        for k in range(ss, se + 1):
            if absv[k - ss] == 1:
                eob = k
        r = 0
        cur = []  # correction bits since the last emitted symbol
        for k in range(ss, se + 1):
            t = absv[k - ss]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                flush_eob()
                length, code = _AC_CODES[0xF0]
                w.write(code, length)
                r -= 16
                for b in cur:
                    w.write(b, 1)
                cur = []
            if t > 1:
                # nonzero history: next lower magnitude bit
                cur.append(t & 1)
                continue
            # newly nonzero at this precision
            flush_eob()
            length, code = _AC_CODES[(r << 4) | 1]
            w.write(code, length)
            w.write(1 if int(zz[k]) >= 0 else 0, 1)
            for b in cur:
                w.write(b, 1)
            cur = []
            r = 0
        if r > 0 or cur:
            eobrun += 1
            carried.extend(cur)
            if eobrun == 0x7FFF or len(carried) > 930 * 8:
                flush_eob()
    flush_eob()
    w.flush()
    return bytes(w.out)


def encode_jpeg(img: np.ndarray, quant: int = 1,
                subsampling: str = "444",
                restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """(H, W, 3) uint8 BGR or (H, W) gray → JFIF bytes.

    ``quant`` is a flat quantization value (1 = near-lossless, only
    DCT rounding); ``subsampling`` is "444", "422" or "420" (color
    only); ``restart_interval`` > 0 writes DRI + RSTn markers every
    that many MCUs (exercises the decoder's resync path; baseline
    only). ``progressive`` emits SOF2 with a libjpeg-style scan
    script: DC first at Al=1, per-component split-band AC first scans
    at Al=1, then DC and AC refinement scans down to Al=0 — the
    coefficients are identical to the baseline encoding, so a
    progressive file decodes bit-equal to its baseline twin."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qtab = np.full(64, quant, dtype=np.int64)
    if gray:
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0,
                  "plane": img.astype(np.float64) - 128.0}]
    else:
        b, g, r = (img[:, :, k].astype(np.float64) for k in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsampling == "420":
            def down(p):
                hh, ww = -(-p.shape[0] // 2) * 2, -(-p.shape[1] // 2) * 2
                q = np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])),
                           mode="edge")
                return (q[0::2, 0::2] + q[1::2, 0::2] + q[0::2, 1::2]
                        + q[1::2, 1::2]) / 4.0
            comps = [{"id": 1, "h": 2, "v": 2, "tq": 0, "plane": y - 128.0},
                     {"id": 2, "h": 1, "v": 1, "tq": 0,
                      "plane": down(cb) - 128.0},
                     {"id": 3, "h": 1, "v": 1, "tq": 0,
                      "plane": down(cr) - 128.0}]
        elif subsampling == "422":
            # horizontal-only chroma downsample (scanner default)
            def down_h(p):
                ww = -(-p.shape[1] // 2) * 2
                q = np.pad(p, ((0, 0), (0, ww - p.shape[1])), mode="edge")
                return (q[:, 0::2] + q[:, 1::2]) / 2.0
            comps = [{"id": 1, "h": 2, "v": 1, "tq": 0, "plane": y - 128.0},
                     {"id": 2, "h": 1, "v": 1, "tq": 0,
                      "plane": down_h(cb) - 128.0},
                     {"id": 3, "h": 1, "v": 1, "tq": 0,
                      "plane": down_h(cr) - 128.0}]
        else:
            comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "plane": y - 128.0},
                     {"id": 2, "h": 1, "v": 1, "tq": 0, "plane": cb - 128.0},
                     {"id": 3, "h": 1, "v": 1, "tq": 0, "plane": cr - 128.0}]

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    if progressive and restart_interval:
        raise ValueError("encoder does not emit restart markers inside "
                         "progressive scans (decoder supports them)")
    # pad planes to whole MCUs and forward-DCT every block up front;
    # zzv holds each block's 64 coefficients in zigzag-scan order
    zzv = {}
    for c in comps:
        p = c["plane"]
        ph, pw = mcus_y * c["v"] * 8, mcus_x * c["h"] * 8
        p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                   mode="edge")
        blocks = (p.reshape(ph // 8, 8, pw // 8, 8)
                  .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
        # forward 2-D DCT F = C f C^T (the decoder inverts with
        # f = C^T F C over the same orthonormal basis)
        coefs = np.einsum("ik,nkl,jl->nij", _DCT, blocks, _DCT)
        q = np.round(coefs / qtab.reshape(8, 8)).astype(np.int64)
        zzv[c["id"]] = q.reshape(ph // 8, pw // 8, 64)[:, :, ZIGZAG]
    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    dq = bytes([0]) + bytes(int(qtab[i]) for i in range(64))
    seg(0xDB, dq)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], 0])
    seg(0xC2 if progressive else 0xC0, sof)
    dht = bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMS)
    seg(0xC4, dht)
    dht = bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMS)
    seg(0xC4, dht)
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))

    def sos(scomps, ss, se, ah, al, body):
        hdr = bytes([len(scomps)])
        for c in scomps:
            hdr += bytes([c["id"], 0x00])
        hdr += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, hdr)
        out.extend(body)

    if progressive:
        # non-interleaved AC geometry: ceil of the component's own size
        for c in comps:
            comp_w = -(-w * c["h"] // hmax)
            comp_h = -(-h * c["v"] // vmax)
            c["nx"], c["ny"] = -(-comp_w // 8), -(-comp_h // 8)
        # the first component's AC splits into two spectral bands so
        # band-by-band assembly is exercised, not just Al refinement
        bands = {c["id"]: ([(1, 5), (6, 63)] if ci == 0 else [(1, 63)])
                 for ci, c in enumerate(comps)}
        sos(comps, 0, 0, 0, 1,
            _prog_dc_first(comps, zzv, mcus_x, mcus_y, 1))
        for c in comps:
            for bs, be in bands[c["id"]]:
                sos([c], bs, be, 0, 1,
                    _prog_ac_first(zzv[c["id"]], c["ny"], c["nx"],
                                   bs, be, 1))
        sos(comps, 0, 0, 1, 0,
            _prog_dc_refine(comps, zzv, mcus_x, mcus_y, 0))
        for c in comps:
            for bs, be in bands[c["id"]]:
                sos([c], bs, be, 1, 0,
                    _prog_ac_refine(zzv[c["id"]], c["ny"], c["nx"],
                                    bs, be, 0))
        out.extend(b"\xff\xd9")
        return bytes(out)

    # baseline: single interleaved SOS, then the entropy body
    wtr = _BitWriter()
    pred = {c["id"]: 0 for c in comps}
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            wtr.flush()
            rst = 0xD0 + ((m // restart_interval - 1) % 8)
            wtr.out.extend(bytes([0xFF, rst]))
            pred = {c["id"]: 0 for c in comps}
        my, mx = divmod(m, mcus_x)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    zz = zzv[c["id"]][my * c["v"] + by, mx * c["h"] + bx]
                    pred[c["id"]] = _encode_block(wtr, zz, pred[c["id"]])
    wtr.flush()
    sos(comps, 0, 63, 0, 0, wtr.out)
    out.extend(b"\xff\xd9")
    return bytes(out)
