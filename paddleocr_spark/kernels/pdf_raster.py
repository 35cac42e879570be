"""Pure-NumPy PDF vector-content rasterizer.

The reference renders EVERY PDF page with fitz at a 2x matrix
(``toddleocr/utils/utility.py:105-123``). This repo splits the format
by shape: scanned image-XObject pages decode losslessly
(``kernels/pdf.py``), born-digital text reads straight from content
streams (``kernels/pdf_text.py``), and this module covers the third
shape — pages whose content is vector GRAPHICS (ruled tables, charts,
diagrams, form overlays) — by rasterizing the content stream's path
and image operators the way fitz would:

- path construction: ``m l c v y h re`` (cubic Béziers flattened to
  line segments), points transformed by the CTM at construction time
- painting: ``f F f* B B* b b*`` scanline polygon fill with BOTH
  winding rules (nonzero and even-odd), ``S s`` strokes approximated
  as per-segment quads of the CTM-scaled line width (joins/caps are
  square — documented approximation), ``n`` ends a path invisibly
- clipping: ``W / W*`` intersect the active raster clip mask with the
  current path's coverage, honored by every later paint and image
- graphics state: full ``q/Q`` stack, ``cm`` concatenation, ``w``
  line width, colors ``g G rg RG k K`` (CMYK via the ISO 32000-1
  §8.6.4.4 conversion) plus numeric ``sc/scn/SC/SCN`` by operand
  count; ``gs`` soft-mask/alpha state is ignored (opaque rendering)
- XObjects via ``Do``: /Image streams (decoded by ``kernels/pdf.py``)
  drawn through the CTM's unit-square mapping with nearest-neighbor
  sampling and clip respected; /Form streams recurse with composed
  CTM + the form's own /Resources (depth-capped)
- text operators are consumed and IGNORED: glyph rendering needs font
  programs; born-digital text is extracted (not drawn) by
  ``kernels/pdf_text.py`` — the page image a downstream OCR stage
  sees simply lacks glyph ink, which is the honest split, not a wrong
  approximation of it
- inline images (``BI``/``ID``/``EI``, §8.9.7): extracted from the
  stream BEFORE tokenization (the sample bytes must never reach the
  tokenizer), abbreviated and full dictionary keys, raw / ``Fl`` /
  ``AHx`` data, 8-bit Gray/RGB/CMYK (§8.6.4.4 conversion), 1-bit
  gray, and ``/ImageMask``
  stencils of the current fill color with ``/Decode`` inversion;
  placed through the CTM exactly like image XObjects
- ``sh`` shadings (§8.7.4.5): AXIAL (type 2) and RADIAL (type 3)
  gradients across the current clip, pixel centers inverse-mapped to
  user space, /Extend honored (clamp or leave unpainted), colors from
  /Function types 2 (exponential interpolation) and 3 (stitching),
  DeviceRGB/DeviceGray; other shading/function types raise

Device space follows the reference's fitz call: ``scale``x the
MediaBox (default 2.0), y flipped so row 0 is the page top. Output is
(H, W, 3) uint8 BGR like every other decoder in the repo.

``encode_vector_pdf`` is the writer twin: structurally valid PDFs
whose pages carry rectangle fills / polygon fills / strokes / clips /
placed images with ANALYTIC pixel coverage (integer user coordinates
land on exact device pixels at integer scales), so fixture means are
derivable by hand and the DuckDB oracle never runs the rasterizer.
"""

from __future__ import annotations

import re

import numpy as np

from paddleocr_spark.kernels.pdf import (
    _decode_image_xobject,
    _doc_root,
    _ref,
    _scan_objects,
    _walk_pages,
    is_pdf,
)
from paddleocr_spark.kernels.pdf_text import _page_streams, _tokenize

__all__ = ["rasterize_pdf_pages", "encode_vector_pdf"]

_BEZIER_STEPS = 16
_MAX_FORM_DEPTH = 8


def _mat_mul(a, b):
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (a0 * b0 + a1 * b2, a0 * b1 + a1 * b3,
            a2 * b0 + a3 * b2, a2 * b1 + a3 * b3,
            a4 * b0 + a5 * b2 + b4, a4 * b1 + a5 * b3 + b5)


def _apply(m, x, y):
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


def _fill_mask(subpaths, h: int, w: int, evenodd: bool) -> np.ndarray:
    """Scanline coverage of closed subpaths (device coords, y down):
    a pixel is inside when its CENTER (x+.5, y+.5) is, under the
    requested winding rule. Vectorized per edge over all scanlines."""
    mask = np.zeros((h, w), dtype=bool)
    ys = np.arange(h) + 0.5
    crossings: list[list[tuple[float, int]]] = [[] for _ in range(h)]
    any_edge = False
    for sp in subpaths:
        if len(sp) < 3:
            continue
        pts = sp if sp[0] == sp[-1] else sp + [sp[0]]
        for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
            if y0 == y1:
                continue
            any_edge = True
            direction = 1 if y1 > y0 else -1
            lo, hi = (y0, y1) if y0 < y1 else (y1, y0)
            # scanlines whose center falls in [lo, hi)
            sel = np.nonzero((ys >= lo) & (ys < hi))[0]
            if sel.size == 0:
                continue
            xs = x0 + (ys[sel] - y0) * (x1 - x0) / (y1 - y0)
            for row, x in zip(sel, xs):
                crossings[row].append((x, direction))
    if not any_edge:
        return mask
    for row, cr in enumerate(crossings):
        if not cr:
            continue
        cr.sort()
        if evenodd:
            for i in range(0, len(cr) - 1, 2):
                a = max(0, int(np.ceil(cr[i][0] - 0.5)))
                b = min(w, int(np.ceil(cr[i + 1][0] - 0.5)))
                if b > a:
                    mask[row, a:b] = True
        else:
            wind = 0
            for (xa, d), (xb, _) in zip(cr, cr[1:]):
                wind += d
                if wind != 0:
                    a = max(0, int(np.ceil(xa - 0.5)))
                    b = min(w, int(np.ceil(xb - 0.5)))
                    if b > a:
                        mask[row, a:b] = True
    return mask


def _stroke_mask(subpaths, closed_flags, lw: float, h: int,
                 w: int) -> np.ndarray:
    """Stroke coverage: each segment becomes a quad of width ``lw``
    centered on it (square caps/joins)."""
    lw = max(lw, 1.0)
    quads = []
    for sp, closed in zip(subpaths, closed_flags):
        pts = sp + [sp[0]] if closed and sp[0] != sp[-1] else sp
        for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
            dx, dy = x1 - x0, y1 - y0
            n = (dx * dx + dy * dy) ** 0.5
            if n == 0:
                continue
            ux, uy = dx / n, dy / n
            px, py = -uy * lw / 2, ux * lw / 2
            quads.append([(x0 + px, y0 + py), (x1 + px, y1 + py),
                          (x1 - px, y1 - py), (x0 - px, y0 - py)])
    out = np.zeros((h, w), dtype=bool)
    for q in quads:
        out |= _fill_mask([q], h, w, evenodd=False)
    return out


def _cmyk_to_rgb(c, m, y, k):
    return (255.0 * (1 - min(1.0, c + k)),
            255.0 * (1 - min(1.0, m + k)),
            255.0 * (1 - min(1.0, y + k)))


def _media_box(objects, page: int) -> tuple[float, float, float, float]:
    """/MediaBox of the page, inherited from ancestor /Pages nodes
    (walk up via /Parent); letter-size default."""
    node = page
    for _ in range(32):
        head = objects[node][0]
        m = re.search(
            rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)"
            rb"\s+([\d.+-]+)", head)
        if m:
            return tuple(float(m.group(i)) for i in range(1, 5))
        parent = _ref(head, b"/Parent")
        if parent is None:
            break
        node = parent
    return (0.0, 0.0, 612.0, 792.0)


def _xobjects_of(head: bytes) -> dict[bytes, int]:
    xm = re.search(rb"/XObject\s*<<(.*?)>>", head, re.DOTALL)
    if not xm:
        return {}
    return {name: int(num) for name, num in
            re.findall(rb"/(\w+)\s+(\d+)\s+\d+\s+R", xm.group(1))}


_SHOW_OPS = {b"Tj", b"TJ", b"'", b'"'}
_TEXT_OPS = {b"BT", b"ET", b"Td", b"TD", b"Tm", b"T*", b"TL", b"Tf",
             b"Tc", b"Tw", b"Tz", b"Ts", b"Tr"}


# --- shading patterns (sh, ISO 32000-1 §8.7.4.5) ---------------------

_DICT_WS = b"\x00\t\n\x0c\r "


def _parse_pdf_value(b: bytes, i: int):
    """Minimal recursive PDF object parser for shading/function dicts:
    numbers, names, booleans, arrays, nested dicts, indirect refs.
    Returns (value, next_index)."""
    n = len(b)
    while i < n and b[i] in _DICT_WS:
        i += 1
    if b[i:i + 2] == b"<<":
        d = {}
        i += 2
        while True:
            while i < n and b[i] in _DICT_WS:
                i += 1
            if b[i:i + 2] == b">>":
                return d, i + 2
            if b[i] != 0x2F:
                raise ValueError("malformed PDF dictionary")
            m = re.match(rb"/([A-Za-z0-9.#_-]+)", b[i:])
            key = m.group(1)
            i += m.end()
            val, i = _parse_pdf_value(b, i)
            d[key] = val
    if b[i] == 0x5B:  # [ array
        arr = []
        i += 1
        while True:
            while i < n and b[i] in _DICT_WS:
                i += 1
            if b[i] == 0x5D:
                return arr, i + 1
            val, i = _parse_pdf_value(b, i)
            arr.append(val)
    if b[i] == 0x2F:  # /Name
        m = re.match(rb"/([A-Za-z0-9.#_-]+)", b[i:])
        return ("name", m.group(1)), i + m.end()
    if b[i:i + 4] == b"true":
        return True, i + 4
    if b[i:i + 5] == b"false":
        return False, i + 5
    m = re.match(rb"([+-]?\d+)\s+(\d+)\s+R(?![A-Za-z])", b[i:])
    if m:
        return ("ref", int(m.group(1))), i + m.end()
    m = re.match(rb"[+-]?(?:\d+\.?\d*|\.\d+)", b[i:])
    if m:
        return float(m.group(0)), i + m.end()
    raise ValueError("unsupported PDF value in shading dictionary")


def _resolve_dict(val, objects):
    """A dict value or a ('ref', n) to an object whose head is a
    dict -> parsed dict."""
    if isinstance(val, tuple) and val[0] == "ref":
        head = objects[val[1]][0]
        parsed, _ = _parse_pdf_value(head, head.index(b"<<"))
        return parsed
    if isinstance(val, dict):
        return val
    raise ValueError("expected PDF dictionary")


def _eval_function(fn: dict, objects, t: np.ndarray) -> np.ndarray:
    """Evaluate a PDF function (§7.10) at sample array ``t`` ->
    (len(t), n_out) float components in [0, 1]. Types 2 (exponential
    interpolation) and 3 (stitching of subfunctions) supported."""
    ftype = int(fn.get(b"FunctionType", -1))
    dom = [float(x) for x in fn.get(b"Domain", [0.0, 1.0])]
    x = np.clip(t, dom[0], dom[1])
    if ftype == 2:
        c0 = np.asarray([float(v) for v in fn.get(b"C0", [0.0])])
        c1 = np.asarray([float(v) for v in fn.get(b"C1", [1.0])])
        nexp = float(fn.get(b"N", 1.0))
        return c0[None, :] + (x[:, None] ** nexp) * (c1 - c0)[None, :]
    if ftype == 3:
        subs = [_resolve_dict(f, objects) for f in fn[b"Functions"]]
        bounds = [float(b_) for b_ in fn.get(b"Bounds", [])]
        enc = [float(e) for e in
               fn.get(b"Encode", [v for _ in subs for v in (0.0, 1.0)])]
        edges = [dom[0]] + bounds + [dom[1]]
        out = None
        for k, sub in enumerate(subs):
            lo, hi = edges[k], edges[k + 1]
            # §7.10.4: half-open subdomains, last one closed
            sel = (x >= lo) & ((x < hi) if k < len(subs) - 1
                               else (x <= hi))
            if not sel.any():
                continue
            span = (hi - lo) or 1.0
            xk = enc[2 * k] + (x[sel] - lo) / span \
                * (enc[2 * k + 1] - enc[2 * k])
            vals = _eval_function(sub, objects, xk)
            if out is None:
                out = np.zeros((len(x), vals.shape[1]))
            out[sel] = vals
        if out is None:
            raise ValueError("stitching function with empty domain")
        return out
    raise ValueError(f"unsupported PDF function type {ftype}")


def _shading_components(sh: dict) -> int:
    cs = sh.get(b"ColorSpace")
    name = cs[1] if isinstance(cs, tuple) else None
    if name == b"DeviceRGB":
        return 3
    if name == b"DeviceGray":
        return 1
    raise ValueError("unsupported shading color space %r" % (name,))


def _draw_shading(canvas, clip, ctm, sh: dict, objects) -> None:
    """Paint an axial (type 2) or radial (type 3) shading across the
    current clip (§8.7.4.5.3-4): pixel centers are mapped back to user
    space through the inverse CTM, the parametric coordinate s is
    solved per pixel, /Extend clamps or leaves unpainted, and the
    /Function turns t into color."""
    h, w = canvas.shape[:2]
    stype = int(sh.get(b"ShadingType", -1))
    if stype not in (2, 3):
        raise ValueError(
            f"unsupported shading type {stype} (axial/radial only)")
    coords = [float(c) for c in sh.get(b"Coords", [])]
    dom = [float(x) for x in sh.get(b"Domain", [0.0, 1.0])]
    ext = sh.get(b"Extend", [False, False])
    ncomp = _shading_components(sh)
    fn = _resolve_dict(sh[b"Function"], objects)

    a, b, c, d, e, f = ctm
    det = a * d - b * c
    if det == 0:
        return
    ia, ib, ic, id_ = d / det, -b / det, -c / det, a / det
    ie = -(e * ia + f * ic)
    if_ = -(e * ib + f * id_)
    gy, gx = np.mgrid[0:h, 0:w]
    px = gx + 0.5
    py = gy + 0.5
    ux = px * ia + py * ic + ie
    uy = px * ib + py * id_ + if_

    ext0 = bool(ext and ext[0])
    ext1 = bool(ext and len(ext) > 1 and ext[1])

    def in_domain(s):
        # /Extend leaves s < 0 (> 1) painted with the end color
        return (ext0 | (s >= 0)) & (ext1 | (s <= 1))

    if stype == 2:
        x0, y0, x1, y1 = coords
        dx, dy = x1 - x0, y1 - y0
        den = dx * dx + dy * dy
        if den == 0:
            return
        s = ((ux - x0) * dx + (uy - y0) * dy) / den
        defined = in_domain(s)
    elif stype == 3:
        x0, y0, r0, x1, y1, r1 = coords
        cdx, cdy, dr = x1 - x0, y1 - y0, r1 - r0
        fx = ux - x0
        fy = uy - y0
        A = cdx * cdx + cdy * cdy - dr * dr
        B = fx * cdx + fy * cdy + r0 * dr
        C = fx * fx + fy * fy - r0 * r0
        with np.errstate(invalid="ignore", divide="ignore"):
            if abs(A) < 1e-12:
                roots = [(C / (2.0 * B), np.abs(B) > 1e-12)]
            else:
                disc = B * B - A * C
                sq = np.sqrt(np.where(disc >= 0, disc, 0.0))
                roots = [((B + sq) / A, disc >= 0),
                         ((B - sq) / A, disc >= 0)]
            # §8.7.4.5.4: circles paint in increasing s, so the LARGEST
            # root with r(s) >= 0 inside the (extended) domain wins:
            # without /Extend a larger root past 1 leaves the smaller
            # one to paint. Which root is larger depends on the sign
            # of A (A < 0 when one circle contains the other)
            s = np.zeros_like(ux)
            defined = np.zeros_like(ux, dtype=bool)
            for root, ok in roots:
                ok = ok & ((r0 + root * dr) >= 0) & in_domain(root)
                take = ok & (~defined | (root > s))
                s = np.where(take, root, s)
                defined |= ok
    else:
        raise ValueError(
            f"unsupported shading type {stype} (axial/radial only)")

    s = np.clip(s, 0.0, 1.0)
    paint = defined & clip
    if not paint.any():
        return
    t = dom[0] + s[paint] * (dom[1] - dom[0])
    comps = _eval_function(fn, objects, t)
    if comps.shape[1] != ncomp:
        raise ValueError("shading function arity != color space")
    rgb = (np.repeat(comps, 3, axis=1) if ncomp == 1 else comps) * 255.0
    canvas[paint] = rgb


def _shadings_of(head: bytes) -> dict[bytes, int]:
    sm = re.search(rb"/Shading\s*<<(.*?)>>", head, re.DOTALL)
    if not sm:
        return {}
    return {name: int(num) for name, num in
            re.findall(rb"/(\w+)\s+(\d+)\s+\d+\s+R", sm.group(1))}


# --- inline images (BI/ID/EI, ISO 32000-1 §8.9.7) --------------------

_IL_WS = b"\x00\t\n\x0c\r "
# abbreviated key -> canonical key (§8.9.7 table 93)
_IL_KEYS = {b"W": b"W", b"Width": b"W", b"H": b"H", b"Height": b"H",
            b"BPC": b"BPC", b"BitsPerComponent": b"BPC",
            b"CS": b"CS", b"ColorSpace": b"CS",
            b"F": b"F", b"Filter": b"F",
            b"D": b"D", b"Decode": b"D",
            b"IM": b"IM", b"ImageMask": b"IM",
            b"DP": b"DP", b"DecodeParms": b"DP",
            b"I": b"I", b"Interpolate": b"I"}


def _parse_inline_dict(stream: bytes, i: int):
    """Parse the ``BI`` .. ``ID`` entries starting at ``i`` (just past
    'BI'). Returns (dict, data_start) with data_start one byte past
    the single whitespace that follows ``ID``."""
    d: dict = {}
    n = len(stream)
    while i < n:
        while i < n and stream[i] in _IL_WS:
            i += 1
        if stream[i:i + 2] == b"ID":
            return d, i + 3  # ID + one whitespace byte (§8.9.7)
        if stream[i] != 0x2F:
            raise ValueError("malformed inline image dictionary")
        m = re.match(rb"/([A-Za-z0-9]+)", stream[i:])
        key = _IL_KEYS.get(m.group(1), m.group(1))
        i += m.end()
        while i < n and stream[i] in _IL_WS:
            i += 1
        if stream[i] == 0x2F:
            m2 = re.match(rb"/([A-Za-z0-9]+)", stream[i:])
            d[key] = m2.group(1)
            i += m2.end()
        elif stream[i] == 0x5B:  # [ array
            j = stream.index(b"]", i)
            d[key] = stream[i + 1:j]
            i = j + 1
        else:
            m2 = re.match(rb"[^\s/\[\]<>]+", stream[i:])
            d[key] = m2.group(0)
            i += m2.end()
    raise ValueError("inline image dictionary without ID")


def _inline_image_payload(stream: bytes, dstart: int, d: dict):
    """Locate + de-filter the sample data. Returns (samples, end) with
    ``end`` one byte past the closing ``EI``."""
    import binascii
    import zlib

    filt = d.get(b"F", b"")
    w = int(d.get(b"W", b"0"))
    h = int(d.get(b"H", b"0"))
    bpc = int(d.get(b"BPC", b"8"))
    if d.get(b"IM") == b"true":
        ncomp, bpc = 1, 1
    else:
        cs = d.get(b"CS", b"G")
        if cs in (b"RGB", b"DeviceRGB"):
            ncomp = 3
        elif cs in (b"G", b"DeviceGray"):
            ncomp = 1
        elif cs in (b"CMYK", b"DeviceCMYK"):
            ncomp = 4
        else:
            raise ValueError(
                "unsupported inline image color space %r" % cs)
    if filt in (b"", None):
        length = h * ((w * ncomp * bpc + 7) // 8)
        data = stream[dstart:dstart + length]
        if len(data) < length:
            raise ValueError("truncated inline image data")
        end = dstart + length
    elif filt in (b"Fl", b"FlateDecode"):
        z = zlib.decompressobj()
        data = z.decompress(stream[dstart:])
        end = len(stream) - len(z.unused_data)
    elif filt in (b"AHx", b"ASCIIHexDecode"):
        j = stream.index(b">", dstart)
        hx = re.sub(rb"\s", b"", stream[dstart:j])
        if len(hx) % 2:
            hx += b"0"
        data = binascii.unhexlify(hx)
        end = j + 1
    else:
        raise ValueError(
            "unsupported inline image filter %r" % filt)
    while end < len(stream) and stream[end] in _IL_WS:
        end += 1
    if stream[end:end + 2] != b"EI":
        raise ValueError("inline image without EI terminator")
    return data, end + 2


def _decode_inline_image(d: dict, data: bytes):
    """Samples -> ('rgb', (H, W, 3) uint8) or ('mask', (H, W) bool
    paint-mask) for /ImageMask images (§8.9.6.2: sample 0 paints with
    the Decode default [0 1]; /D [1 0] flips)."""
    w = int(d[b"W"])
    h = int(d[b"H"])
    bpc = int(d.get(b"BPC", b"8"))
    if d.get(b"IM") == b"true" or bpc == 1:
        row = (w + 7) // 8
        bits = np.unpackbits(
            np.frombuffer(data[:row * h], np.uint8).reshape(h, row),
            axis=1)[:, :w]
        dec = re.split(rb"\s+", d.get(b"D", b"0 1").strip())
        flipped = dec[0] == b"1"
        if d.get(b"IM") == b"true":
            paint = (bits == 1) if flipped else (bits == 0)
            return "mask", paint
        g = bits.astype(np.uint8) * 255  # Decode [0 1]: 0=black
        if flipped:
            g = 255 - g
        return "rgb", np.repeat(g[:, :, None], 3, axis=2)
    if bpc != 8:
        raise ValueError("unsupported inline image depth %d" % bpc)
    cs = d.get(b"CS", b"G")
    if cs in (b"RGB", b"DeviceRGB"):
        arr = np.frombuffer(data[:h * w * 3], np.uint8)
        if arr.size < h * w * 3:
            raise ValueError("truncated inline image samples")
        return "rgb", arr.reshape(h, w, 3).copy()
    if cs in (b"CMYK", b"DeviceCMYK"):
        arr = np.frombuffer(data[:h * w * 4], np.uint8)
        if arr.size < h * w * 4:
            raise ValueError("truncated inline image samples")
        cmyk = arr.reshape(h, w, 4).astype(np.float64) / 255.0
        ck = np.minimum(1.0, cmyk[:, :, :3] + cmyk[:, :, 3:4])
        # §8.6.4.4 per channel, same formula as the k/K operators
        return "rgb", np.round((1.0 - ck) * 255.0).astype(np.uint8)
    arr = np.frombuffer(data[:h * w], np.uint8)
    if arr.size < h * w:
        raise ValueError("truncated inline image samples")
    return "rgb", np.repeat(arr.reshape(h, w)[:, :, None], 3, axis=2)


def _extract_inline_images(stream: bytes):
    """Replace every ``BI .. ID <data> EI`` span with a numeric
    placeholder + custom ``INL`` operator so the tokenizer never sees
    raw sample bytes. Returns (rewritten_stream, [(kind, payload)])."""
    if b"BI" not in stream:
        return stream, []
    out = bytearray()
    imgs = []
    i = 0
    n = len(stream)
    pat = re.compile(rb"(?:\A|(?<=[\s>\]]))BI(?=[\s/])")
    while True:
        m = pat.search(stream, i)
        if not m:
            out += stream[i:]
            break
        out += stream[i:m.start()]
        d, dstart = _parse_inline_dict(stream, m.end())
        data, end = _inline_image_payload(stream, dstart, d)
        imgs.append(_decode_inline_image(d, data))
        out += b" %d INL " % (len(imgs) - 1)
        i = end
    return bytes(out), imgs


def _draw_image_mask(canvas, clip, ctm, paint, color):
    """Place an /ImageMask inline image: like ``_draw_image`` but
    stencilling the CURRENT FILL COLOR through the paint mask
    (§8.9.6.2)."""
    h, w = canvas.shape[:2]
    ih, iw = paint.shape[:2]
    corners = [_apply(ctm, x, y) for x, y in
               ((0, 0), (1, 0), (0, 1), (1, 1))]
    xs = [c[0] for c in corners]
    ys = [c[1] for c in corners]
    x0 = max(0, int(np.floor(min(xs))))
    x1 = min(w, int(np.ceil(max(xs))))
    y0 = max(0, int(np.floor(min(ys))))
    y1 = min(h, int(np.ceil(max(ys))))
    if x1 <= x0 or y1 <= y0:
        return
    a, b, c, d, e, f = ctm
    det = a * d - b * c
    if det == 0:
        return
    ia, ib, ic, id_ = d / det, -b / det, -c / det, a / det
    ie = -(e * ia + f * ic)
    if_ = -(e * ib + f * id_)
    gy, gx = np.mgrid[y0:y1, x0:x1]
    px = gx + 0.5
    py = gy + 0.5
    u = px * ia + py * ic + ie
    v = px * ib + py * id_ + if_
    inside = (u >= 0) & (u < 1) & (v >= 0) & (v < 1) \
        & clip[y0:y1, x0:x1]
    su = np.clip((u * iw).astype(np.int64), 0, iw - 1)
    sv = np.clip(((1 - v) * ih).astype(np.int64), 0, ih - 1)
    inside &= paint[sv, su]
    canvas[y0:y1, x0:x1][inside] = color


def _render_stream(stream: bytes, canvas: np.ndarray, base_ctm,
                   xobjects, objects, clip: np.ndarray, depth: int = 0,
                   shadings=None):
    """Execute one content stream onto ``canvas`` (H, W, 3 float RGB,
    y-down device space already encoded in ``base_ctm``)."""
    stream, inline_imgs = _extract_inline_images(stream)
    shadings = shadings or {}
    h, w = canvas.shape[:2]
    ctm = base_ctm
    fill = (0.0, 0.0, 0.0)
    strokec = (0.0, 0.0, 0.0)
    lw = 1.0
    gs_stack: list[tuple] = []
    subpaths: list[list] = []
    closed_flags: list[bool] = []
    cur: list = []
    cur_closed = False
    start = None
    pending_clip = None  # winding rule of a W/W* awaiting its paint op
    operands: list = []

    def flush_path():
        nonlocal cur, cur_closed
        if cur:
            subpaths.append(cur)
            closed_flags.append(cur_closed)
        cur, cur_closed = [], False

    def paint(do_fill, do_stroke, evenodd):
        nonlocal clip, subpaths, closed_flags, pending_clip
        flush_path()
        if subpaths:
            if do_fill:
                m = _fill_mask(subpaths, h, w, evenodd) & clip
                canvas[m] = fill
            if do_stroke:
                # device line width: scale by the CTM's mean magnitude
                s = ((ctm[0] ** 2 + ctm[1] ** 2) ** 0.5
                     + (ctm[2] ** 2 + ctm[3] ** 2) ** 0.5) / 2
                m = _stroke_mask(subpaths, closed_flags, lw * s,
                                 h, w) & clip
                canvas[m] = strokec
            if pending_clip is not None:
                clip = clip & _fill_mask(subpaths, h, w,
                                         pending_clip == b"W*")
        elif pending_clip is not None:
            # ISO 32000-1 §8.5.4: the clip intersects with the CURRENT
            # PATH; an empty path covers nothing, so 'W n' with no
            # usable subpaths must clip everything out, not no-op
            clip = np.zeros_like(clip)
        pending_clip = None
        subpaths, closed_flags = [], []

    def rgb_of(vals):
        if len(vals) >= 4:
            return _cmyk_to_rgb(*vals[-4:])
        if len(vals) == 3:
            return tuple(255.0 * v for v in vals)
        if len(vals) == 1:
            g = 255.0 * vals[0]
            return (g, g, g)
        return None

    for kind, val in _tokenize(stream):
        if kind != "op":
            operands.append((kind, val))
            continue
        op = val
        nums = [v for k, v in operands if k == "num"]
        try:
            if op == b"m" and len(nums) >= 2:
                flush_path()
                start = _apply(ctm, nums[-2], nums[-1])
                cur = [start]
            elif op == b"l" and len(nums) >= 2 and cur:
                cur.append(_apply(ctm, nums[-2], nums[-1]))
            elif op in (b"c", b"v", b"y") and cur:
                x0, y0 = cur[-1]
                if op == b"c" and len(nums) >= 6:
                    p1 = _apply(ctm, nums[-6], nums[-5])
                    p2 = _apply(ctm, nums[-4], nums[-3])
                    p3 = _apply(ctm, nums[-2], nums[-1])
                elif op == b"v" and len(nums) >= 4:
                    p1 = (x0, y0)
                    p2 = _apply(ctm, nums[-4], nums[-3])
                    p3 = _apply(ctm, nums[-2], nums[-1])
                elif op == b"y" and len(nums) >= 4:
                    p1 = _apply(ctm, nums[-4], nums[-3])
                    p3 = _apply(ctm, nums[-2], nums[-1])
                    p2 = p3
                else:
                    operands = []
                    continue
                for i in range(1, _BEZIER_STEPS + 1):
                    t = i / _BEZIER_STEPS
                    mt = 1 - t
                    cur.append((
                        mt ** 3 * x0 + 3 * mt ** 2 * t * p1[0]
                        + 3 * mt * t ** 2 * p2[0] + t ** 3 * p3[0],
                        mt ** 3 * y0 + 3 * mt ** 2 * t * p1[1]
                        + 3 * mt * t ** 2 * p2[1] + t ** 3 * p3[1]))
            elif op == b"h" and cur:
                cur.append(cur[0])
                cur_closed = True
            elif op == b"re" and len(nums) >= 4:
                flush_path()
                x, y, rw, rh = nums[-4:]
                pts = [(x, y), (x + rw, y), (x + rw, y + rh),
                       (x, y + rh), (x, y)]
                subpaths.append([_apply(ctm, px, py) for px, py in pts])
                closed_flags.append(True)
            elif op in (b"f", b"F"):
                paint(True, False, False)
            elif op == b"f*":
                paint(True, False, True)
            elif op == b"S":
                paint(False, True, False)
            elif op == b"s":
                cur_closed = True
                paint(False, True, False)
            elif op in (b"B", b"b"):
                if op == b"b":
                    cur_closed = True
                paint(True, True, False)
            elif op in (b"B*", b"b*"):
                paint(True, True, True)
            elif op == b"n":
                paint(False, False, False)
            elif op in (b"W", b"W*"):
                pending_clip = op
            elif op == b"g" and nums:
                fill = rgb_of(nums[-1:])
            elif op == b"G" and nums:
                strokec = rgb_of(nums[-1:])
            elif op == b"rg" and len(nums) >= 3:
                fill = rgb_of(nums[-3:])
            elif op == b"RG" and len(nums) >= 3:
                strokec = rgb_of(nums[-3:])
            elif op == b"k" and len(nums) >= 4:
                fill = _cmyk_to_rgb(*nums[-4:])
            elif op == b"K" and len(nums) >= 4:
                strokec = _cmyk_to_rgb(*nums[-4:])
            elif op in (b"sc", b"scn") and nums:
                c = rgb_of(nums)
                if c is not None:
                    fill = c
            elif op in (b"SC", b"SCN") and nums:
                c = rgb_of(nums)
                if c is not None:
                    strokec = c
            elif op == b"w" and nums:
                lw = nums[-1]
            elif op == b"cm" and len(nums) >= 6:
                ctm = _mat_mul(tuple(nums[-6:]), ctm)
            elif op == b"q":
                gs_stack.append((ctm, fill, strokec, lw, clip))
            elif op == b"Q":
                if gs_stack:
                    ctm, fill, strokec, lw, clip = gs_stack.pop()
            elif op == b"Do" and operands:
                name = operands[-1][1]
                num = xobjects.get(name)
                if num is None:
                    raise ValueError(
                        f"PDF Do references unknown XObject "
                        f"{name!r}")
                xhead, xstream = objects[num]
                if re.search(rb"/Subtype\s*/Image\b", xhead):
                    img = _decode_image_xobject(xhead, xstream)
                    _draw_image(canvas, clip, ctm, img[:, :, ::-1])
                elif re.search(rb"/Subtype\s*/Form\b", xhead):
                    if depth >= _MAX_FORM_DEPTH:
                        raise ValueError("PDF form XObjects nested "
                                         "too deeply")
                    import zlib as _z

                    from paddleocr_spark.kernels.pdf import (
                        _filter_names,
                    )

                    body = xstream or b""
                    if _filter_names(xhead) == [b"FlateDecode"]:
                        body = _z.decompress(body)
                    fm = re.search(
                        rb"/Matrix\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+"
                        rb"([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+"
                        rb"([\d.+-]+)", xhead)
                    fctm = ctm
                    if fm:
                        fmat = tuple(float(fm.group(i))
                                     for i in range(1, 7))
                        fctm = _mat_mul(fmat, ctm)
                    _render_stream(body, canvas, fctm,
                                   _xobjects_of(xhead) or xobjects,
                                   objects, clip, depth + 1,
                                   _shadings_of(xhead) or shadings)
                else:
                    raise ValueError("unsupported PDF XObject subtype")
            elif op == b"INL" and nums:
                # placeholder left by _extract_inline_images for a
                # BI/ID/EI span (§8.9.7); unit square through the CTM
                # like any image
                kind, payload = inline_imgs[int(nums[-1])]
                if kind == "mask":
                    _draw_image_mask(canvas, clip, ctm, payload, fill)
                else:
                    _draw_image(canvas, clip, ctm, payload)
            elif op == b"sh" and operands:
                name = operands[-1][1]
                num = shadings.get(name)
                if num is None:
                    raise ValueError(
                        f"PDF sh references unknown shading {name!r}")
                shead = objects[num][0]
                shd, _ = _parse_pdf_value(shead, shead.index(b"<<"))
                _draw_shading(canvas, clip, ctm, shd, objects)
            elif op == b"sh":
                raise ValueError("sh without a shading name operand")
            elif op in _SHOW_OPS or op in _TEXT_OPS:
                # text is extracted, not drawn (module docstring)
                pass
        finally:
            operands = []


def _draw_image(canvas, clip, ctm, img_rgb):
    """Place an image XObject: image space maps the unit square
    through the CTM (ISO 32000-1 §8.9.5). Nearest-neighbor inverse
    sampling over the mapped bbox."""
    h, w = canvas.shape[:2]
    ih, iw = img_rgb.shape[:2]
    corners = [_apply(ctm, x, y) for x, y in
               ((0, 0), (1, 0), (0, 1), (1, 1))]
    xs = [c[0] for c in corners]
    ys = [c[1] for c in corners]
    x0 = max(0, int(np.floor(min(xs))))
    x1 = min(w, int(np.ceil(max(xs))))
    y0 = max(0, int(np.floor(min(ys))))
    y1 = min(h, int(np.ceil(max(ys))))
    if x1 <= x0 or y1 <= y0:
        return
    a, b, c, d, e, f = ctm
    det = a * d - b * c
    if det == 0:
        return
    ia, ib, ic, id_ = d / det, -b / det, -c / det, a / det
    ie = -(e * ia + f * ic)
    if_ = -(e * ib + f * id_)
    gy, gx = np.mgrid[y0:y1, x0:x1]
    px = gx + 0.5
    py = gy + 0.5
    u = px * ia + py * ic + ie
    v = px * ib + py * id_ + if_
    inside = (u >= 0) & (u < 1) & (v >= 0) & (v < 1) \
        & clip[y0:y1, x0:x1]
    su = np.clip((u * iw).astype(np.int64), 0, iw - 1)
    # image row 0 is at v = 1 (unit square top)
    sv = np.clip(((1 - v) * ih).astype(np.int64), 0, ih - 1)
    region = canvas[y0:y1, x0:x1]
    region[inside] = img_rgb[sv[inside], su[inside]].astype(np.float64)


def rasterize_pdf_pages(data: bytes, scale: float = 2.0
                        ) -> list[np.ndarray]:
    """PDF bytes → list of (H, W, 3) uint8 BGR page rasters at
    ``scale``x the MediaBox (fitz's 2x default), page-tree order."""
    if not is_pdf(data):
        raise ValueError("not a PDF")
    objects = _scan_objects(data)
    root = _doc_root(objects, data)
    pages_root = _ref(objects[root][0], b"/Pages")
    if pages_root is None:
        raise ValueError("PDF catalog without /Pages")
    page_objs: list[int] = []
    _walk_pages(objects, pages_root, page_objs)
    if not page_objs:
        raise ValueError("PDF with no pages")
    return [_rasterize_page(objects, p, scale) for p in page_objs]


def _rasterize_page(objects, page: int, scale: float = 2.0
                    ) -> np.ndarray:
    """One page object → (H, W, 3) uint8 BGR raster (also the
    fallback ``kernels/pdf.py`` routes image-less pages through)."""
    x0, y0, x1, y1 = _media_box(objects, page)
    w = max(1, int(round((x1 - x0) * scale)))
    h = max(1, int(round((y1 - y0) * scale)))
    canvas = np.full((h, w, 3), 255.0)  # white, RGB float
    # user space -> device: translate to MediaBox origin, scale,
    # flip y so row 0 is the page TOP
    base = (scale, 0.0, 0.0, -scale, -x0 * scale, h + y0 * scale)
    clip = np.ones((h, w), dtype=bool)
    stream = _page_streams(objects, page)
    _render_stream(stream, canvas, base,
                   _xobjects_of(objects[page][0]), objects, clip,
                   shadings=_shadings_of(objects[page][0]))
    return np.clip(np.round(canvas[:, :, ::-1]), 0, 255).astype(
        np.uint8)


# --- writer (test-fixture twin) --------------------------------------


def encode_vector_pdf(pages: list[bytes],
                      media_boxes: list[tuple[int, int]],
                      images: dict[str, np.ndarray] | None = None,
                      compress: bool = False,
                      shadings: dict[str, bytes] | None = None) -> bytes:
    """Raw content streams + (w, h) MediaBoxes → a structurally valid
    vector PDF. ``images`` maps XObject names used in the streams
    (e.g. "Im0") to (H, W, 3) uint8 BGR arrays stored as FlateDecode
    /DeviceRGB XObjects available to every page; ``shadings`` maps
    shading names (e.g. "Sh0") to raw shading dictionary bytes."""
    import zlib

    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    add(b"<< /Type /Catalog /Pages 2 0 R >>")
    pages_ph = add(b"")
    res_parts = []
    if images:
        refs = []
        for name, img in sorted(images.items()):
            ih, iw = img.shape[:2]
            payload = zlib.compress(img[:, :, ::-1].tobytes())
            n = add(b"<< /Type /XObject /Subtype /Image /Width %d "
                    b"/Height %d /BitsPerComponent 8 /Filter "
                    b"/FlateDecode /ColorSpace /DeviceRGB /Length %d "
                    b">>\nstream\n" % (iw, ih, len(payload))
                    + payload + b"\nendstream")
            refs.append(b"/%s %d 0 R" % (name.encode(), n))
        res_parts.append(b"/XObject << " + b" ".join(refs) + b" >>")
    if shadings:
        refs = []
        for name, body in sorted(shadings.items()):
            n = add(body)
            refs.append(b"/%s %d 0 R" % (name.encode(), n))
        res_parts.append(b"/Shading << " + b" ".join(refs) + b" >>")
    img_frag = (b" /Resources << " + b" ".join(res_parts) + b" >>"
                if res_parts else b"")
    page_nums = []
    for content, (w, h) in zip(pages, media_boxes):
        if compress:
            payload = zlib.compress(content)
            c = add(b"<< /Length %d /Filter /FlateDecode >>\nstream\n"
                    % len(payload) + payload + b"\nendstream")
        else:
            c = add(b"<< /Length %d >>\nstream\n" % len(content)
                    + content + b"\nendstream")
        page_nums.append(add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Contents %d 0 R%s >>" % (w, h, c, img_frag)))
    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    objs[pages_ph - 1] = (b"<< /Type /Pages /Kids [" + kids
                          + b"] /Count %d >>" % len(pages))

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % (i + 1) + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (len(objs) + 1, xref_off))
    return bytes(out)
