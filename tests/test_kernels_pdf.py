"""Image-based PDF extractor (kernels/pdf.py): object-graph parse,
page-tree ordering, DCTDecode/FlateDecode images, and the page-explode
source path (check_and_read's PDF branch on a real object graph)."""

import numpy as np
import pytest

from paddleocr_spark.kernels.pdf import decode_pdf_pages, encode_pdf, is_pdf


def _pages(rng, n):
    return [rng.integers(0, 256,
                         (int(rng.integers(16, 40)),
                          int(rng.integers(16, 40)), 3), dtype=np.uint8)
            for _ in range(n)]


def test_flate_pages_exact_roundtrip():
    rng = np.random.default_rng(20)
    pages = _pages(rng, 3)
    dec = decode_pdf_pages(encode_pdf(pages, image_filter="FlateDecode"))
    assert len(dec) == 3
    for src, got in zip(pages, dec):
        assert np.array_equal(got, src)  # Flate is lossless


def test_dct_pages_near_lossless():
    rng = np.random.default_rng(21)
    pages = _pages(rng, 2)
    dec = decode_pdf_pages(encode_pdf(pages, image_filter="DCTDecode"))
    assert len(dec) == 2
    for src, got in zip(pages, dec):
        assert got.shape == src.shape
        assert np.abs(got.astype(int) - src.astype(int)).max() <= 3


def test_page_order_follows_page_tree():
    """Pages must come back in /Kids order, not object-number order —
    distinct per-page fill values prove it."""
    vals = [10, 200, 77, 145]
    pages = [np.full((8, 8, 3), v, np.uint8) for v in vals]
    dec = decode_pdf_pages(encode_pdf(pages, image_filter="FlateDecode"))
    assert [int(p[0, 0, 0]) for p in dec] == vals


def test_rejects_text_pdf_and_garbage():
    assert not is_pdf(b"plain text")
    with pytest.raises(ValueError):
        decode_pdf_pages(b"%PDF-1.4\nno objects here")
    # a structurally valid PDF whose page has no image XObject routes
    # through the vector rasterizer (kernels/pdf_raster.py): with no
    # /Contents either, that is a blank default-letter page at the
    # reference's 2x matrix
    body = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n"
            b"trailer\n<< /Size 4 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n")
    (pg,) = decode_pdf_pages(body)
    assert pg.shape == (1584, 1224, 3)  # 792x612 letter at 2x
    assert (pg == 255).all()


def test_jpeg_stream_bytes_do_not_confuse_the_scanner():
    """Entropy-coded stream bytes may contain 'endobj'/'N 0 obj'
    look-alikes; the scanner must skip streams via /Length."""
    rng = np.random.default_rng(22)
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    data = encode_pdf([img], image_filter="DCTDecode", quant=1)
    # plant adversarial marker bytes inside a COMMENT-free zone is not
    # possible post-hoc without breaking offsets; instead assert the
    # real object count parsed equals writer's (catalog+pages+3/page)
    from paddleocr_spark.kernels.pdf import _scan_objects

    assert set(_scan_objects(data)) == {1, 2, 3, 4, 5}


def test_split_pages_pdf_explodes_and_decodes(spark, tmp_path):
    """PDF files read by path → page explode → decode → det-resize, the
    reference's PDF ingest shape (utility.py:105-123) end-to-end."""
    from paddleocr_spark.kernels.preprocess import det_resize_for_test
    from paddleocr_spark.sources.media_files import (
        decode_image_bytes,
        explode_pages,
    )

    rng = np.random.default_rng(23)
    d = tmp_path / "pdfs"
    d.mkdir()
    pages = _pages(rng, 3)
    (d / "scan.pdf").write_bytes(
        encode_pdf(pages, image_filter="FlateDecode"))
    out = explode_pages(spark, str(d)).collect()
    assert sorted(r.page for r in out) == [0, 1, 2]
    assert all(r.is_multipage for r in out)
    for r in sorted(out, key=lambda r: r.page):
        img = decode_image_bytes(bytes(r.content))
        assert np.array_equal(img, pages[r.page])
        resized, _ = det_resize_for_test(img)
        assert resized.shape[0] % 32 == 0


def test_devicegray_xobject_decodes_to_3ch():
    """FlateDecode /DeviceGray images (common for scanned mono docs)
    replicate to 3 channels, matching IMREAD_COLOR semantics."""
    import zlib

    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = zlib.compress(g.tobytes())
    img_head = (b"4 0 obj\n<< /Type /XObject /Subtype /Image /Width 8 "
                b"/Height 8 /BitsPerComponent 8 /Filter /FlateDecode "
                b"/ColorSpace /DeviceGray /Length %d >>\nstream\n"
                % len(payload))
    body = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /XObject << /Im0 4 0 R >> >> >>\nendobj\n"
            + img_head + payload + b"\nendstream\nendobj\n"
            b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n")
    (page,) = decode_pdf_pages(body)
    assert page.shape == (8, 8, 3)
    assert np.array_equal(page[:, :, 0], g)
    assert np.array_equal(page[:, :, 1], g)
    assert np.array_equal(page[:, :, 2], g)


def test_nested_page_tree_walk():
    """Intermediate /Pages nodes (balanced page trees are standard in
    large PDFs) — order must come from the nested Kids walk."""
    import zlib

    def img_obj(num, v):
        payload = zlib.compress(bytes([v] * 4 * 4 * 3))
        return (b"%d 0 obj\n<< /Type /XObject /Subtype /Image /Width 4 "
                b"/Height 4 /BitsPerComponent 8 /Filter /FlateDecode "
                b"/ColorSpace /DeviceRGB /Length %d >>\nstream\n"
                % (num, len(payload)) + payload + b"\nendstream\nendobj\n")

    def page_obj(num, parent, im):
        return (b"%d 0 obj\n<< /Type /Page /Parent %d 0 R /Resources "
                b"<< /XObject << /Im0 %d 0 R >> >> >>\nendobj\n"
                % (num, parent, im))

    body = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            # root Pages → [inner Pages (3), page 6]; inner → [4, 5]
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 3 >>\n"
            b"endobj\n"
            b"3 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [4 0 R 5 0 R] "
            b"/Count 2 >>\nendobj\n"
            + page_obj(4, 3, 7) + page_obj(5, 3, 8) + page_obj(6, 2, 9)
            + img_obj(7, 11) + img_obj(8, 22) + img_obj(9, 33)
            + b"trailer\n<< /Size 10 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n")
    pages = decode_pdf_pages(body)
    assert [int(p[0, 0, 0]) for p in pages] == [11, 22, 33]


def test_flate_roundtrip_property():
    """Property: any stack of random-sized pages round-trips exactly
    through the FlateDecode writer/parser pair."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 6), st.integers(0, 2**32 - 1))
    def prop(n, seed):
        rng = np.random.default_rng(seed)
        pages = [rng.integers(0, 256,
                              (int(rng.integers(1, 24)),
                               int(rng.integers(1, 24)), 3),
                              dtype=np.uint8) for _ in range(n)]
        dec = decode_pdf_pages(encode_pdf(pages,
                                          image_filter="FlateDecode"))
        assert len(dec) == n
        for src, got in zip(pages, dec):
            assert np.array_equal(got, src)

    prop()


def test_explode_pages_quarantines_corrupt_containers(spark, tmp_path):
    """One malformed container must not kill a 10^12-doc job: it
    becomes one quarantine row and the good files' pages are kept."""
    from paddleocr_spark.functions.udfs import data_rows, decode_errors
    from paddleocr_spark.sources.media_files import explode_pages

    d = tmp_path / "mixed"
    d.mkdir()
    good = np.full((8, 8, 3), 50, np.uint8)
    (d / "ok.pdf").write_bytes(encode_pdf([good, good],
                                          image_filter="FlateDecode"))
    (d / "bad.pdf").write_bytes(b"%PDF-1.4\ntruncated garbage")

    pages = explode_pages(spark, str(d))
    ok = sorted(r.page for r in data_rows(pages).collect())
    assert ok == [0, 1]
    errs = decode_errors(pages).collect()
    assert len(errs) == 1
    assert errs[0].path.endswith("bad.pdf") and "ValueError" in errs[0].error


def test_indirect_multidigit_length_raises():
    """'/Length 12 0 R' must raise, not backtrack to length=1."""
    import pytest

    from paddleocr_spark.kernels.pdf import _scan_objects

    body = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Length 12 0 R >>\nstream\n"
            b"0123456789ab\nendstream\nendobj\n")
    with pytest.raises(ValueError, match="indirect"):
        _scan_objects(body)


def test_incremental_update_uses_last_trailer():
    """An appended update's trailer must win over the original."""
    import numpy as np

    from paddleocr_spark.kernels.pdf import decode_pdf_pages, encode_pdf

    base = encode_pdf([np.full((8, 8, 3), 10, dtype=np.uint8)],
                      image_filter="FlateDecode")
    # simulate an incremental update: append a second full revision
    # (new objects reusing the same numbers + a second trailer). The
    # object scan keeps the LAST definitions; the walk must use the
    # LAST trailer to stay consistent.
    update = encode_pdf([np.full((8, 8, 3), 200, dtype=np.uint8)],
                        image_filter="FlateDecode")
    data = base + update[update.find(b"\n") + 1:]  # drop dup %PDF line
    pages = decode_pdf_pages(data)
    assert len(pages) == 1
    assert int(pages[0][0, 0, 0]) == 200


def test_filter_array_form_accepted():
    """/Filter [ /DCTDecode ] (single-element array, legal and common)
    must decode exactly like the bare-name form."""
    rng = np.random.default_rng(30)
    pages = _pages(rng, 1)
    data = encode_pdf(pages, image_filter="DCTDecode")
    patched = data.replace(b"/Filter /DCTDecode",
                           b"/Filter [ /DCTDecode ]")
    assert patched != data
    a = decode_pdf_pages(data)
    b = decode_pdf_pages(patched)
    assert np.array_equal(a[0], b[0])


def test_indirect_width_raises_not_misreads():
    """An indirect /Width (e.g. '/Width 7 0 R') must raise — the naive
    int parse returns the reference's OBJECT NUMBER as the width."""
    rng = np.random.default_rng(31)
    pages = [rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)]
    data = encode_pdf(pages, image_filter="FlateDecode")
    patched = data.replace(b"/Width 24", b"/Width 7 0 R", 1)
    assert patched != data
    with pytest.raises(ValueError, match="indirect"):
        decode_pdf_pages(patched)


def _flate_pdf_with_predictor(img: np.ndarray, predictor: int,
                              payload: bytes, parms_extra: bytes = b"") \
        -> bytes:
    """Minimal 1-page image PDF whose Flate stream is predictor-coded
    (hand-built: encode_pdf intentionally writes no predictors)."""
    import zlib

    h, w = img.shape[:2]
    comp = zlib.compress(payload)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
        b"/Contents 4 0 R /Resources << /XObject << /Im0 5 0 R >> >> >>"
        % (w, h),
        b"<< /Length 28 >>\nstream\n"
        b"q 1 0 0 1 0 0 cm /Im0 Do Q  \nendstream",
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/BitsPerComponent 8 /ColorSpace /DeviceRGB "
        b"/Filter /FlateDecode /DecodeParms << /Predictor %d "
        b"/Colors 3 /Columns %d %s>> /Length %d >>\nstream\n"
        % (w, h, predictor, w, parms_extra, len(comp))
        + comp + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % (i + 1) + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (len(objs) + 1, xref))
    return bytes(out)


def test_flate_png_predictor_decodes():
    """PNG predictors (/Predictor 15, filter-tagged rows) must be
    undone — reshaping the predictor-coded bytes as raw pixels is
    silent scrambled output."""
    rng = np.random.default_rng(32)
    img = rng.integers(0, 256, (12, 9, 3), dtype=np.uint8)
    rgb = img[:, :, ::-1]  # PDF stores RGB
    rows = []
    prev = np.zeros(9 * 3, dtype=np.uint8)
    for y in range(12):
        line = rgb[y].reshape(-1)
        if y % 2 == 0:  # filter 0 (None)
            rows.append(b"\x00" + line.tobytes())
        else:  # filter 2 (Up)
            rows.append(b"\x02" + ((line.astype(np.int32) - prev) % 256)
                        .astype(np.uint8).tobytes())
        prev = line
    data = _flate_pdf_with_predictor(img, 15, b"".join(rows))
    (page,) = decode_pdf_pages(data)
    assert np.array_equal(page, img)


def test_flate_tiff_predictor_decodes():
    """/Predictor 2 (TIFF horizontal differencing) must be undone."""
    rng = np.random.default_rng(33)
    img = rng.integers(0, 256, (7, 11, 3), dtype=np.uint8)
    rgb = img[:, :, ::-1].astype(np.int32)
    diff = rgb.copy()
    diff[:, 1:, :] = (rgb[:, 1:, :] - rgb[:, :-1, :]) % 256
    data = _flate_pdf_with_predictor(
        img, 2, diff.astype(np.uint8).tobytes())
    (page,) = decode_pdf_pages(data)
    assert np.array_equal(page, img)


def test_objstm_xref_stream_roundtrip_all_writers():
    """PDF 1.5+ shape: repack_pdf_objstm packs every non-stream object
    into one /ObjStm and replaces the trailer with a cross-reference
    stream; all three decoders (image pages, text runs, vector raster)
    must read the packed file identically to the classic one."""
    from paddleocr_spark.kernels.pdf import repack_pdf_objstm
    from paddleocr_spark.kernels.pdf_raster import (
        encode_vector_pdf,
        rasterize_pdf_pages,
    )
    from paddleocr_spark.kernels.pdf_text import (
        _encode_text_pdf,
        extract_pdf_text,
    )

    imgs = [np.full((10, 12, 3), v, np.uint8) for v in (40, 90)]
    for filt in ("FlateDecode", "DCTDecode"):
        classic = encode_pdf(imgs, image_filter=filt, quant=1)
        packed = repack_pdf_objstm(classic)
        assert b"trailer" not in packed
        assert b"/ObjStm" in packed and b"/XRef" in packed
        a = decode_pdf_pages(classic)
        b = decode_pdf_pages(packed)
        assert all(np.array_equal(x, y) for x, y in zip(a, b)), filt

    pages = [[("hello 汉字", 36.0, 720.0, 10.0),
              ("plain", 40.0, 700.0, 12.0)],
             [("second page", 36.0, 716.0, 14.0)]]
    for compress in (False, True):
        classic = _encode_text_pdf(pages, compress)
        assert extract_pdf_text(repack_pdf_objstm(classic)) \
            == extract_pdf_text(classic)

    vec = encode_vector_pdf([b"0 0 0 rg 2 2 10 8 re f"], [(20, 16)])
    assert np.array_equal(rasterize_pdf_pages(repack_pdf_objstm(vec))[0],
                          rasterize_pdf_pages(vec)[0])


def test_objstm_raw_definition_wins():
    """Incremental-update policy: an object defined BOTH raw and in an
    ObjStm keeps the raw (latest) definition."""
    from paddleocr_spark.kernels.pdf import _scan_objects, repack_pdf_objstm

    classic = encode_pdf([np.full((8, 8, 3), 70, np.uint8)],
                         image_filter="FlateDecode")
    packed = repack_pdf_objstm(classic)
    # append a raw redefinition of the catalog (object 1)
    appended = packed + (b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R "
                         b"/Marker true >>\nendobj\n")
    objs = _scan_objects(appended)
    assert b"/Marker" in objs[1][0]


def test_encrypted_xref_stream_pdf_raises():
    from paddleocr_spark.kernels.pdf import repack_pdf_objstm

    classic = encode_pdf([np.full((8, 8, 3), 70, np.uint8)],
                         image_filter="FlateDecode")
    packed = repack_pdf_objstm(classic)
    patched = packed.replace(b"/Type /XRef", b"/Type /XRef /Encrypt 9 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        decode_pdf_pages(patched)
