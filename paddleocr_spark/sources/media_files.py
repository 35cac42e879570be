"""Raw-media file ingestion — the Spark re-creation of the reference's
input normalization (``check_and_read``, ``toddleocr/utils/
utility.py:92-123``: GIF → first frame, PDF → one image per rendered
page; ``img_decode`` / ``DecodeImage`` at ``toddleocr/transforms/
operators.py:9-46``).

``decode_image_bytes`` REALLY decodes PNG/BMP/PPM/GIF/baseline-JPEG/
uncompressed-TIFF via the repo's pure-NumPy codecs
(``kernels/imgcodec.py``, ``kernels/jpeg.py``, ``kernels/tiff.py``;
stdlib zlib for PNG, pure-Python LZW for GIF → first frame per
check_and_read, Huffman+IDCT for JPEG) with cv2 IMREAD_COLOR
semantics. Multi-page TIFF (one IFD per page) and PDF are the real
page-exploding containers: ``kernels/pdf.py`` walks the object graph
and page tree, decodes a scanned page's image XObject directly
(DCTDecode/FlateDecode/CCITTFaxDecode) and rasterizes any other
page's content stream (``kernels/pdf_raster.py``, at the reference's
2x fitz matrix; vector paths and images are drawn, text operators are
skipped — born-digital text is read by ``kernels/pdf_text.py``).
``explode_pages`` runs the page split (1 file → N page rows, a UDTF
like det's 1-image→N-boxes) over files read by path in the shared file
loop (``functions/udfs.map_media_store``), so a corrupt container
becomes one quarantine row.

Fake paged-document codec (tests only):
    b"FAKEDOC" + <n_pages:uint8> + payload
explodes to n_pages rows whose page bytes are
    b"PAGE" + <page_idx:uint8> + payload.
"""

from __future__ import annotations

__all__ = ["explode_pages", "decode_image_bytes", "check_img", "is_link",
           "PAGES_SCHEMA"]

PAGES_SCHEMA = ("path string, page int, content binary, is_multipage boolean")

_FAKE_MAGIC = b"FAKEDOC"


def _ppm_bytes(img) -> bytes:
    """(H, W, C) uint8 → P6 (RGB) / P5 (gray) bytes — the per-page
    payload format (decode_image_bytes handles it natively)."""
    h, w = img.shape[:2]
    if img.ndim == 3 and img.shape[2] == 3:
        return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()
    return b"P5\n%d %d\n255\n" % (w, h) + img.reshape(h, w).tobytes()


def _split_pages(content: bytes):
    """One file's bytes → list of (page_idx, page_bytes, is_multipage).

    The reference's check_and_read explodes multi-page containers
    (PDF via fitz, GIF frames) to per-page images. The REAL containers
    here are multi-page TIFF (kernels/tiff.py: IFD-chain walk) and PDF
    (kernels/pdf.py: page-tree walk); each page re-emits as PPM/PGM
    bytes so every page row is independently decodable downstream.
    Single-page TIFFs also pass through this path (1 page, not
    multipage). The FAKEDOC framing stays for plumbing tests."""
    if content.startswith(_FAKE_MAGIC):
        if len(content) < len(_FAKE_MAGIC) + 1:
            raise ValueError("truncated FAKEDOC header (no page count)")
        n = content[len(_FAKE_MAGIC)]
        if n == 0:
            # a zero-page container must surface as a quarantine row,
            # not vanish from the data AND the report
            raise ValueError("FAKEDOC container with zero pages")
        payload = content[len(_FAKE_MAGIC) + 1:]
        return [(i, b"PAGE" + bytes([i]) + payload, True) for i in range(n)]
    from paddleocr_spark.kernels.tiff import decode_tiff, is_tiff

    if is_tiff(content):
        pages = decode_tiff(content)
        multi = len(pages) > 1
        return [(i, _ppm_bytes(p), multi) for i, p in enumerate(pages)]
    if content.startswith(b"%PDF-"):
        # real PDF object-graph walk (kernels/pdf.py: page tree → image
        # XObject decode, or the rasterized content stream of a page
        # without one — text operators draw no ink)
        from paddleocr_spark.kernels.pdf import decode_pdf_pages

        pages = decode_pdf_pages(content)
        # BGR → RGB for the P6 payload (decode_image flips back)
        return [(i, _ppm_bytes(p[:, :, ::-1]), len(pages) > 1)
                for i, p in enumerate(pages)]
    return [(0, content, False)]


def _page_rows(path: str, content: bytes):
    return [(path, idx, page, multi)
            for idx, page, multi in _split_pages(content)]


def explode_pages(spark, files):
    """1 file → N page rows (``PAGES_SCHEMA`` + ``error``) through the
    shared file loop: ``files`` is a directory or glob of container
    files, or a DataFrame with a ``path`` column (the ingest stream's
    micro-batch). Each file is read by path on the worker; a malformed
    container becomes one quarantine row (``decode_errors``) and the
    other files' pages are unaffected."""
    from paddleocr_spark.functions.udfs import map_media_store

    return map_media_store(spark, files, _page_rows, PAGES_SCHEMA)


def decode_image_bytes(content: bytes):
    """bytes → (H, W, 3) uint8 BGR ndarray — ``img_decode``
    (``toddleocr/engine.py:214-216``) with IMREAD_COLOR semantics,
    via the repo's pure-NumPy codecs (PNG/BMP/PPM/GIF first-frame/
    baseline+progressive JPEG/TIFF first page incl. LZW/Deflate/
    PackBits/JPEG-in-TIFF/tiles; ``kernels/imgcodec.py``)."""
    from paddleocr_spark.kernels.imgcodec import decode_image

    return decode_image(bytes(content))


def is_link(s: str) -> bool:
    """``toddleocr/utils/network.py`` is_link analogue: http(s) URL."""
    return isinstance(s, str) and s.startswith(("http://", "https://"))


def check_img(img):
    """Input normalization — ``check_img`` (``toddleocr/engine.py:
    219-238``): accept raw bytes, a filesystem path, or an ndarray and
    return a (H, W, 3) uint8 BGR ndarray.

    - bytes → ``decode_image_bytes`` (engine.py:220-221 img_decode)
    - str path → read + decode; multi-page containers take page 0 via
      ``_split_pages`` (engine.py:228 check_and_read)
    - URL strings: the reference downloads to tmp.jpg (engine.py:
      224-226); no network in this environment → NotImplementedError
    - 2-D gray ndarray → replicated to 3 channels (engine.py:235-236
      GRAY2BGR)
    """
    import numpy as np

    if isinstance(img, (bytes, bytearray)):
        img = decode_image_bytes(bytes(img))
    if isinstance(img, str):
        if is_link(img):
            raise NotImplementedError(
                "URL inputs need network access (reference downloads to "
                "tmp.jpg, engine.py:224-226); unavailable here")
        with open(img, "rb") as f:
            content = f.read()
        page0 = _split_pages(content)[0][1]
        img = decode_image_bytes(page0)
    if isinstance(img, np.ndarray) and img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    if not isinstance(img, np.ndarray):
        # unrecognized inputs (None, memoryview, PIL-ish objects) must
        # fail HERE, not as a shape/dtype crash far downstream — the
        # reference logs-and-rejects unloadable inputs (engine.py:232)
        raise TypeError(
            f"check_img: unsupported input type {type(img).__name__} "
            "(expected bytes, path str, or ndarray)")
    return img
