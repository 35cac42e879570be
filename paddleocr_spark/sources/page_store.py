"""Deterministic paged-container fixture store + the oracle-checked
page-explode query.

The reference's ``check_and_read`` (``toddleocr/utils/utility.py:
92-123``) turns one multi-page input file into N page images. This
module makes that operator CORRECTNESS-checkable: it writes a tiny
store of real container files (image-based PDFs with FlateDecode and
DCTDecode XObjects, multi- and single-page TIFFs, plain PNG/PPM
fall-throughs) whose page pixels are ANALYTICALLY known — page ``p``
of file ``f`` is a constant-color image with

    value  v(f, p) = (37*f + 11*p) % 251
    height h(f, p) = 16 + 2*f + p
    width  w(f, p) = 20 + f + 2*p

so the expected (height, width, mean pixel) of every decoded page is
derivable BY HAND, independent of the codecs. Constant-color pages
survive baseline JPEG at quant=1 exactly (DC-only blocks), so even the
DCTDecode PDF checks pixel values, not just shapes. The DuckDB oracle
is a constant ``VALUES`` table generated from the same formulas — the
codecs never run on the oracle side.

The Spark query drives the REAL path end-to-end: ``binaryFile`` scan →
``explode_pages`` (mapInPandas UDTF, 1 file → N page rows) → per-page
decode → (file, page, is_multipage, height, width, mean_px).
"""

from __future__ import annotations

import os

__all__ = ["PAGE_SPEC", "ensure_page_store", "paged_store_pages",
           "pages_oracle_sql"]

# (file_name, container_kind, n_pages). Kinds: pdf_flate / pdf_dct /
# tiff (multi-page IFD chain) / png / ppm (single-image fall-throughs).
_FILES = [
    ("pages_00.pdf", "pdf_flate", 3),
    ("pages_01.pdf", "pdf_dct", 2),
    ("pages_02.tif", "tiff", 2),
    ("pages_03.tif", "tiff", 1),
    ("pages_04.png", "png", 1),
    ("pages_05.ppm", "ppm", 1),
    # Deflate strips + horizontal-differencing predictor (the
    # standard scanner-output combination) — lossless, so the
    # constant-color analytic expectation holds bit-exact
    ("pages_06.tif", "tiff_deflate", 2),
    # PackBits RLE (TIFF 6.0 §9) — also lossless
    ("pages_07.tif", "tiff_packbits", 2),
    # LZW (§13, early code-width change) + predictor — lossless
    ("pages_08.tif", "tiff_lzw", 2),
    # standalone progressive JPEG (SOF2: DC/AC first + refinement
    # scans) — constant color survives quant=1 exactly (DC-only)
    ("pages_09.jpg", "jpeg_prog", 1),
    # new-style JPEG-in-TIFF (Compression 7, TechNote 2): abbreviated
    # per-TILE streams merged against the shared JPEGTables tag
    ("pages_10.tif", "tiff_jpeg_tiled", 2),
    # old-style JPEG-in-TIFF (Compression 6, JPEGInterchangeFormat)
    ("pages_11.tif", "tiff_oldjpeg", 2),
    # §15 tile grid with LZW + predictor — lossless tiles
    ("pages_12.tif", "tiff_tiled_lzw", 2),
    # Adam7 interlaced PNG (spec §8.2) — lossless
    ("pages_13.png", "png_adam7", 1),
    # vector-content PDF (no image XObject): background + inner-rect
    # fills rasterized by kernels/pdf_raster.py at the reference's 2x
    # matrix; integer user coords land on exact device pixels, so the
    # mean is an exact rational derived below
    ("pages_14.pdf", "pdf_vector", 2),
    # vector PDF whose inner rect is painted by INLINE images
    # (BI/ID/EI, ISO 32000-1 §8.9.7): page 0 raw /RGB samples, page 1
    # Flate-compressed /G samples, page 2 a 1-bit /ImageMask stencil
    # of the fill color — same analytic layout as pdf_vector, so the
    # mean formula is shared
    ("pages_15.pdf", "pdf_inline", 3),
    # indexed-color PNG (type 3, PLTE, 1-bit): a v/v2 checkerboard —
    # the palette path of kernels/imgcodec.decode_png on the
    # oracle-checked explode path
    ("pages_16.png", "png_palette", 1),
    # vector PDF whose single page is an axial v -> v2 shading ramp
    # ("sh", ISO 32000-1 §8.7.4.5.3) — exercises the gradient path of
    # kernels/pdf_raster.py; the expected mean replicates the exact
    # float64 expression the spec defines (linear interpolation at
    # pixel centers, rounded), never the rasterizer code
    ("pages_17.pdf", "pdf_shading", 1),
    # CCITT Group 4 (T.6) fax TIFF — the archival bilevel-scan shape:
    # white page with one black rect at the vector-geom coords, so
    # the mean is exact (255 * white_px / npx)
    ("pages_18.tif", "tiff_g4", 2),
    # the same bilevel shape as a scanned-fax PDF: G4-compressed
    # /CCITTFaxDecode image XObjects (ISO 32000-1 §7.4.6)
    ("pages_19.pdf", "pdf_g4", 2),
    # the pdf_vector layout on a page _WIDE user units wider: its 2x
    # raster would pass 2000 px, so it renders at 1x (the reference's
    # cap, toddleocr/utils/utility.py:116-117) and dims equal the
    # MediaBox
    ("pages_20.pdf", "pdf_vector_wide", 1),
]

_WIDE = 1000


def _v(f: int, p: int) -> int:
    return (37 * f + 11 * p) % 251


def _h(f: int, p: int) -> int:
    return 16 + 2 * f + p


def _w(f: int, p: int) -> int:
    return 20 + f + 2 * p


def _vector_geom(f: int, p: int, extra_w: int = 0):
    """The vector page's analytic layout: MediaBox (w, h) user units
    (``extra_w`` wider than ``_w``), a full-page fill of value v, and
    an inner rect of value (v + 40) % 251 at integer coords (2, 3)
    sized (w//2, h//2)."""
    h, w, v = _h(f, p), _w(f, p) + extra_w, _v(f, p)
    return h, w, v, (v + 40) % 251, 2, 3, w // 2, h // 2


def _spec_row(f: int, name: str, kind: str, p: int, n: int):
    if kind in ("tiff_g4", "pdf_g4"):
        h, w, v, v2, rx, ry, rw, rh = _vector_geom(f, p)
        mean = 255.0 * (h * w - rw * rh) / (h * w)
        return (name, p, n > 1, h, w, mean)
    if kind == "pdf_shading":
        import numpy as _np

        h, w, v = _h(f, p), _w(f, p), _v(f, p)
        v2 = (v + 40) % 251
        # device width 2w at the reference's 2x matrix; gray ramp
        # C(t) = v/255 + t*(v2 - v)/255 sampled at pixel centers
        # the C0/C1 literals round-trip through a 10-decimal string
        # in the PDF dict — replicate that exact value, and replicate
        # the rasterizer's float64 op ORDER (inverse-CTM pixel-center
        # map, axial projection, exponential interpolation) so the
        # expectation is bit-exact, not merely close
        c0 = float("%.10f" % (v / 255.0))
        c1 = float("%.10f" % (v2 / 255.0))
        ux = (_np.arange(2 * w) + 0.5) * 0.5      # inverse 2x CTM
        ss = (ux * float(w)) / float(w * w)        # axial projection
        px = _np.round((c0 + (ss ** 1.0) * (c1 - c0)) * 255.0)
        return (name, p, n > 1, 2 * h, 2 * w, float(px.mean()))
    if kind == "png_palette":
        # checkerboard of v (even parity cells) and v2 = (v+40)%251
        h, w, v = _h(f, p), _w(f, p), _v(f, p)
        v2 = (v + 40) % 251
        n_even = sum((w + 1) // 2 if r % 2 == 0 else w // 2
                     for r in range(h))
        mean = (v * n_even + v2 * (h * w - n_even)) / (h * w)
        return (name, p, n > 1, h, w, mean)
    if kind in ("pdf_vector", "pdf_inline"):
        # decoded at 2x: dims double; mean = exact area-weighted value
        h, w, v, v2, rx, ry, rw, rh = _vector_geom(f, p)
        npx = 4 * h * w
        inner = 4 * rw * rh
        mean = (v * (npx - inner) + v2 * inner) / npx
        return (name, p, n > 1, 2 * h, 2 * w, mean)
    if kind == "pdf_vector_wide":
        # decoded at 1x: dims are the MediaBox's
        h, w, v, v2, rx, ry, rw, rh = _vector_geom(f, p, _WIDE)
        mean = (v * (h * w - rw * rh) + v2 * rw * rh) / (h * w)
        return (name, p, n > 1, h, w, mean)
    return (name, p, n > 1, _h(f, p), _w(f, p), float(_v(f, p)))


# the analytic expectation: one row per page of every store file
PAGE_SPEC = [
    _spec_row(f, name, kind, p, n)
    for f, (name, kind, n) in enumerate(_FILES)
    for p in range(n)
]


def _page_img(f: int, p: int):
    import numpy as np

    return np.full((_h(f, p), _w(f, p), 3), _v(f, p), np.uint8)


def ensure_page_store(root: str) -> str:
    """Write the container files under ``root`` (idempotent; guarded by
    a DONE marker). Driver-side and O(1): 6 tiny files — this is
    fixture synthesis, not data-plane work."""
    # v13: + a vector PDF page past the 2000 px render cap;
    # v12: + G4 fax PDFs (/CCITTFaxDecode XObjects); v11 added CCITT
    # G4 (T.6) fax TIFF; v10 added axial-shading PDF;
    # v9 added indexed-color (palette) PNG;
    # v8 added inline-image PDF
    # (BI/ID/EI raw-RGB / Flate-gray / ImageMask pages); v7 added
    # progressive JPEG, tiled/old-style JPEG-in-TIFF, LZW tile grid,
    # Adam7 PNG, vector-content PDF (cache key bumped so existing
    # stores rebuild)
    store = os.path.join(root, "pagestore_v13")
    marker = os.path.join(store, "_DONE")
    if os.path.exists(marker):
        return store
    from paddleocr_spark.kernels.imgcodec import encode_png
    from paddleocr_spark.kernels.pdf import encode_pdf
    from paddleocr_spark.kernels.tiff import encode_tiff

    os.makedirs(store, exist_ok=True)
    for f, (name, kind, n) in enumerate(_FILES):
        imgs = [_page_img(f, p) for p in range(n)]
        if kind == "pdf_flate":
            data = encode_pdf(imgs, image_filter="FlateDecode")
        elif kind == "pdf_dct":
            data = encode_pdf(imgs, image_filter="DCTDecode", quant=1)
        elif kind == "tiff":
            data = encode_tiff(imgs)
        elif kind == "tiff_deflate":
            data = encode_tiff(imgs, compression=8, predictor=2)
        elif kind == "tiff_packbits":
            data = encode_tiff(imgs, compression=32773)
        elif kind == "tiff_lzw":
            data = encode_tiff(imgs, compression=5, predictor=2)
        elif kind == "jpeg_prog":
            from paddleocr_spark.kernels.jpeg import encode_jpeg

            # encoder speaks BGR; constant-color pages are symmetric
            data = encode_jpeg(imgs[0], quant=1, progressive=True)
        elif kind == "tiff_jpeg_tiled":
            data = encode_tiff(imgs, compression=7, tile=(16, 16),
                               quant=1)
        elif kind == "tiff_oldjpeg":
            data = encode_tiff(imgs, compression=6, quant=1)
        elif kind == "tiff_tiled_lzw":
            data = encode_tiff(imgs, compression=5, predictor=2,
                               tile=(16, 16))
        elif kind == "png":
            data = encode_png(imgs[0])
        elif kind in ("tiff_g4", "pdf_g4"):
            import numpy as _np

            bil = []
            for p in range(n):
                h, w, v, v2, rx, ry, rw, rh = _vector_geom(f, p)
                page = _np.full((h, w), 255, _np.uint8)
                page[ry:ry + rh, rx:rx + rw] = 0
                bil.append(page)
            if kind == "pdf_g4":
                data = encode_pdf(
                    [_np.repeat(b[:, :, None], 3, axis=2)
                     for b in bil],
                    image_filter="CCITTFaxDecode")
            else:
                data = encode_tiff(bil, compression=4)
        elif kind == "pdf_shading":
            from paddleocr_spark.kernels.pdf_raster import (
                encode_vector_pdf,
            )

            h, w, v = _h(f, 0), _w(f, 0), _v(f, 0)
            v2 = (v + 40) % 251
            sh_dict = (b"<< /ShadingType 2 /ColorSpace /DeviceGray "
                       b"/Coords [0 0 %d 0] /Domain [0 1] "
                       b"/Extend [true true] /Function "
                       b"<< /FunctionType 2 /Domain [0 1] "
                       b"/C0 [%.10f] /C1 [%.10f] /N 1 >> >>"
                       % (w, v / 255.0, v2 / 255.0))
            content = b"q 0 0 %d %d re W n /Sh0 sh Q" % (w, h)
            data = encode_vector_pdf([content], [(w, h)],
                                     shadings={"Sh0": sh_dict},
                                     compress=True)
        elif kind == "png_palette":
            import numpy as _np

            h, w, v = _h(f, 0), _w(f, 0), _v(f, 0)
            v2 = (v + 40) % 251
            idx = ((_np.add.outer(_np.arange(h), _np.arange(w)) % 2)
                   .astype(_np.uint8))
            pal = _np.array([[v] * 3, [v2] * 3], _np.uint8)
            data = encode_png(idx, palette=pal, bit_depth=1)
        elif kind == "png_adam7":
            data = encode_png(imgs[0], interlace=True)
        elif kind in ("pdf_vector", "pdf_vector_wide"):
            from paddleocr_spark.kernels.pdf_raster import (
                encode_vector_pdf,
            )

            extra_w = _WIDE if kind == "pdf_vector_wide" else 0
            contents, boxes = [], []
            for p in range(n):
                h, w, v, v2, rx, ry, rw, rh = _vector_geom(f, p, extra_w)
                contents.append(
                    b"%.10f %.10f %.10f rg 0 0 %d %d re f "
                    b"%.10f %.10f %.10f rg %d %d %d %d re f"
                    % ((v / 255.0,) * 3 + (w, h)
                       + (v2 / 255.0,) * 3 + (rx, ry, rw, rh)))
                boxes.append((w, h))
            data = encode_vector_pdf(contents, boxes, compress=True)
        elif kind == "pdf_inline":
            import zlib as _z

            import numpy as _np

            from paddleocr_spark.kernels.pdf_raster import (
                encode_vector_pdf,
            )

            contents, boxes = [], []
            for p in range(n):
                h, w, v, v2, rx, ry, rw, rh = _vector_geom(f, p)
                bg = b"%.10f %.10f %.10f rg 0 0 %d %d re f " % (
                    (v / 255.0,) * 3 + (w, h))
                place = b"q %d 0 0 %d %d %d cm " % (rw, rh, rx, ry)
                if p == 0:  # raw /RGB samples
                    img = _np.full((4, 6, 3), v2, _np.uint8)
                    bi = (b"BI /W 6 /H 4 /CS /RGB /BPC 8 ID "
                          + img.tobytes() + b" EI")
                elif p == 1:  # FlateDecode /G samples
                    g = _np.full((3, 5), v2, _np.uint8)
                    bi = (b"BI /W 5 /H 3 /CS /G /BPC 8 /F /Fl ID "
                          + _z.compress(g.tobytes()) + b" EI")
                else:  # 1-bit ImageMask stencil of the fill color
                    bg += b"%.10f %.10f %.10f rg " % ((v2 / 255.0,) * 3)
                    bi = (b"BI /IM true /W 8 /H 8 /BPC 1 /D [0 1] ID "
                          + bytes(8) + b" EI")
                contents.append(bg + place + bi + b" Q")
                boxes.append((w, h))
            data = encode_vector_pdf(contents, boxes, compress=True)
        else:  # ppm — same framing helper the page-explode path emits
            from paddleocr_spark.sources.media_files import _ppm_bytes

            data = _ppm_bytes(imgs[0])
        with open(os.path.join(store, name), "wb") as fh:
            fh.write(data)
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return store


def paged_store_pages(spark, sf_dir: str):
    """CORRECTNESS query for the page-explode operator: scan the
    fixture store with binaryFile, explode every container into page
    rows, decode each page, and report its shape + mean pixel. The
    store is sf-independent (the operator under test is the container
    walk, not corpus scaling)."""
    from paddleocr_spark.sources.media_files import (
        explode_pages,
        read_binary_files,
    )

    from paddleocr_spark.cachedir import cache_root

    store = ensure_page_store(cache_root())

    def dec(batches):
        import os as _os

        import pandas as pd

        from paddleocr_spark.kernels.imgcodec import decode_image

        for pdf in batches:
            out = {"file": [], "page": [], "is_multipage": [],
                   "height": [], "width": [], "mean_px": []}
            for path, page, content, multi in zip(
                    pdf["path"], pdf["page"], pdf["content"],
                    pdf["is_multipage"]):
                img = decode_image(bytes(content))
                out["file"].append(_os.path.basename(path))
                out["page"].append(int(page))
                out["is_multipage"].append(bool(multi))
                out["height"].append(img.shape[0])
                out["width"].append(img.shape[1])
                out["mean_px"].append(float(img.mean()))
            yield pd.DataFrame(out)

    pages = explode_pages(read_binary_files(spark, store))
    return pages.mapInPandas(
        dec, schema=("file string, page long, is_multipage boolean, "
                     "height long, width long, mean_px double"))


def pages_oracle_sql() -> str:
    """Constant VALUES oracle from the analytic page formulas (the
    codecs never run here)."""
    # the mean goes through a STRING cast: DuckDB parses a bare
    # numeric literal as DECIMAL first, and DECIMAL->DOUBLE can land
    # one ulp off the Python double (measured); VARCHAR->DOUBLE is
    # correctly-rounded strtod, which round-trips repr() exactly
    rows = ",\n  ".join(
        f"('{name}', CAST({p} AS BIGINT), {str(multi).upper()}, "
        f"CAST({h} AS BIGINT), CAST({w} AS BIGINT), "
        f"CAST('{v!r}' AS DOUBLE))"
        for name, p, multi, h, w, v in PAGE_SPEC)
    return ("SELECT * FROM (VALUES\n  " + rows +
            ") AS t(file, page, is_multipage, height, width, mean_px)")
