"""Multi-page TIFF codec (kernels/tiff.py) + the page-explode source
path it powers (check_and_read's PDF/GIF page explode mapped to a real
container format)."""

import struct

import numpy as np
import pytest

from paddleocr_spark.kernels.tiff import decode_tiff, encode_tiff, is_tiff


def _pages(rng, n, gray=False):
    out = []
    for i in range(n):
        h, w = int(rng.integers(9, 30)), int(rng.integers(9, 30))
        shape = (h, w) if gray else (h, w, 3)
        out.append(rng.integers(0, 256, shape, dtype=np.uint8))
    return out


def test_multipage_rgb_roundtrip():
    rng = np.random.default_rng(10)
    pages = _pages(rng, 3)
    dec = decode_tiff(encode_tiff(pages))
    assert len(dec) == 3
    for src, got in zip(pages, dec):
        assert got.shape == src.shape
        assert np.array_equal(got, src)


def test_single_page_gray_roundtrip():
    rng = np.random.default_rng(11)
    (page,) = _pages(rng, 1, gray=True)
    dec = decode_tiff(encode_tiff([page]))
    assert len(dec) == 1
    assert dec[0].shape == (*page.shape, 1)
    assert np.array_equal(dec[0][:, :, 0], page)


def test_big_endian_and_white_is_zero():
    """Hand-build a 2x2 big-endian gray page with photometric 0
    (WhiteIsZero) — decoder must byte-swap fields and invert."""
    pix = bytes([0, 64, 128, 255])
    strip_off = 8
    ifd_off = strip_off + len(pix)
    out = bytearray(b"MM\x00*")
    out += struct.pack(">I", ifd_off)
    out += pix
    entries = [(256, 4, 1, 2), (257, 4, 1, 2), (258, 3, 1, 8),
               (259, 3, 1, 1), (262, 3, 1, 0), (273, 4, 1, strip_off),
               (277, 3, 1, 1), (278, 4, 1, 2), (279, 4, 1, len(pix))]
    out += struct.pack(">H", len(entries))
    for tag, vtype, count, value in entries:
        out += struct.pack(">HHI", tag, vtype, count)
        if vtype == 3:
            out += struct.pack(">HH", value, 0)
        else:
            out += struct.pack(">I", value)
    out += struct.pack(">I", 0)
    (page,) = decode_tiff(bytes(out))
    assert np.array_equal(page[:, :, 0],
                          255 - np.array([[0, 64], [128, 255]]))


def test_rejects_compressed_and_garbage():
    assert not is_tiff(b"nope")
    with pytest.raises(ValueError):
        decode_tiff(b"\x89PNG")
    enc = bytearray(encode_tiff([np.zeros((4, 4), np.uint8)]))
    # patch Compression tag value to 3 (CCITT G3 fax, unsupported)
    i = enc.find(struct.pack("<HHI", 259, 3, 1))
    enc[i + 8] = 3
    with pytest.raises(ValueError, match="compression"):
        decode_tiff(bytes(enc))


def test_imgcodec_first_page_bgr():
    from paddleocr_spark.kernels.imgcodec import decode_image, sniff_format

    rgb = np.zeros((6, 5, 3), np.uint8)
    rgb[:, :, 0] = 200  # R plane
    enc = encode_tiff([rgb, np.full((4, 4, 3), 7, np.uint8)])
    assert sniff_format(enc) == "tiff"
    out = decode_image(enc)  # first page, BGR
    assert out.shape == (6, 5, 3)
    assert out[0, 0, 2] == 200 and out[0, 0, 0] == 0


def test_split_pages_tiff_explodes():
    from paddleocr_spark.kernels.imgcodec import decode_image
    from paddleocr_spark.sources.media_files import _split_pages

    rng = np.random.default_rng(12)
    pages = _pages(rng, 4)
    parts = _split_pages(encode_tiff(pages))
    assert [p[0] for p in parts] == [0, 1, 2, 3]
    assert all(p[2] for p in parts)  # is_multipage
    for src, (_, payload, _) in zip(pages, parts):
        # payload is PPM; full decode path gives BGR of the RGB page
        got = decode_image(payload)
        assert np.array_equal(got, src[:, :, ::-1])
    # single-page TIFF: passes through as one non-multipage row
    single = _split_pages(encode_tiff(pages[:1]))
    assert len(single) == 1 and single[0][2] is False


def test_tiff_binaryfile_to_det_ingest(spark, tmp_path):
    """TIFF files read by path → page explode → real decode →
    DetResizeForTest, end-to-end through Spark (the reference's
    PDF-page ingest shape on a real container)."""
    from pyspark.sql import functions as F

    from paddleocr_spark.kernels.preprocess import det_resize_for_test
    from paddleocr_spark.sources.media_files import (
        decode_image_bytes,
        explode_pages,
    )

    rng = np.random.default_rng(13)
    doc_dir = tmp_path / "tiffs"
    doc_dir.mkdir()
    n_pages = [3, 1, 2]
    for i, n in enumerate(n_pages):
        (doc_dir / f"d{i}.tiff").write_bytes(encode_tiff(_pages(rng, n)))

    pages = explode_pages(spark, str(doc_dir))
    assert pages.count() == sum(n_pages)

    def shapes(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                img = decode_image_bytes(bytes(content))
                resized, shape = det_resize_for_test(img)
                rows.append((path, int(resized.shape[0]),
                             int(resized.shape[1])))
            yield pd.DataFrame(rows, columns=["path", "h", "w"])

    out = (pages.select("path", "content")
           .mapInPandas(shapes, schema="path string, h int, w int")
           .collect())
    assert len(out) == sum(n_pages)
    # DetResizeForTest guarantees /32 dims
    assert all(r.h % 32 == 0 and r.w % 32 == 0 for r in out)
    multi = (pages.groupBy("path")
             .agg(F.count("*").alias("n"),
                  F.max(F.col("is_multipage").cast("int")).alias("m"))
             .collect())
    got = {r.path.rsplit("/", 1)[-1]: (r.n, bool(r.m)) for r in multi}
    assert got["d0.tiff"] == (3, True)
    assert got["d1.tiff"] == (1, False)
    assert got["d2.tiff"] == (2, True)


def _with_extra_entry(data: bytes, tag: int, vtype: int, count: int,
                      value_word: bytes) -> bytes:
    """Rewrite a single-IFD encode_tiff output to append one extra IFD
    entry (entries must stay tag-sorted ascending per spec, so pick
    tags above 279)."""
    import struct

    (ifd_off,) = struct.unpack("<I", data[4:8])
    (n,) = struct.unpack("<H", data[ifd_off:ifd_off + 2])
    entries = data[ifd_off + 2:ifd_off + 2 + 12 * n]
    extra = struct.pack("<HHI", tag, vtype, count) + value_word
    out = bytearray(data[:ifd_off])
    out += struct.pack("<H", n + 1) + entries + extra
    out += struct.pack("<I", 0)  # next-IFD pointer
    return bytes(out)


def test_rational_metadata_tags_are_skipped():
    """Real scanner TIFFs carry XResolution (type 5 RATIONAL) and
    friends; they must be ignored, not fatal."""
    import struct

    import numpy as np

    from paddleocr_spark.kernels.tiff import decode_tiff, encode_tiff

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    data = encode_tiff([img])
    # XResolution, RATIONAL, offset points anywhere (value unused)
    data = _with_extra_entry(data, 282, 5, 1, struct.pack("<I", 8))
    pages = decode_tiff(data)
    assert len(pages) == 1
    assert (pages[0] == img).all()


def test_planar_configuration_raises():
    import struct

    import numpy as np
    import pytest

    from paddleocr_spark.kernels.tiff import decode_tiff, encode_tiff

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    data = _with_extra_entry(encode_tiff([img]), 284, 3, 1,
                             struct.pack("<HH", 2, 0))
    with pytest.raises(ValueError, match="planar"):
        decode_tiff(data)


def test_rgb_without_samplesperpixel_raises():
    """RGB (photometric 2) with a missing/skipped SamplesPerPixel tag
    must raise — the spp=1 default would reshape interleaved RGB as a
    gray plane (silent scrambled pixels)."""
    import struct

    import pytest

    rng = np.random.default_rng(55)
    page = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    data = bytearray(encode_tiff([page]))
    # flip tag 277's field type to RATIONAL (5): the decoder skips
    # non-BYTE/SHORT/LONG entries, so spp falls back to the default
    entry = struct.pack("<HH", 277, 3)
    idx = bytes(data).index(entry)
    data[idx:idx + 4] = struct.pack("<HH", 277, 5)
    with pytest.raises(ValueError, match="inconsistent"):
        decode_tiff(bytes(data))


def test_out_of_line_values_word_aligned():
    """TIFF 6.0: out-of-line VALUES (not just IFDs) must start on a
    word boundary — an odd strip length must not leave BitsPerSample
    at an odd offset."""
    import struct

    rng = np.random.default_rng(56)
    page = rng.integers(0, 256, (3, 3, 3), dtype=np.uint8)  # 27-byte strip
    data = encode_tiff([page])
    (ifd_off,) = struct.unpack("<I", data[4:8])
    (n_entries,) = struct.unpack("<H", data[ifd_off:ifd_off + 2])
    bps_off = None
    for e in range(n_entries):
        p = ifd_off + 2 + 12 * e
        tag, vtype, count = struct.unpack("<HHI", data[p:p + 8])
        if tag == 258:
            assert count == 3  # out-of-line (3 SHORTs > 4 bytes)
            (bps_off,) = struct.unpack("<I", data[p + 8:p + 12])
    assert bps_off is not None and bps_off % 2 == 0
    assert np.array_equal(decode_tiff(data)[0], page)


def test_deflate_roundtrip_exact():
    """Compression 8 (Deflate): zlib per strip, lossless."""
    rng = np.random.default_rng(44)
    pages = [rng.integers(0, 256, (11, 7, 3), dtype=np.uint8),
             rng.integers(0, 256, (5, 9), dtype=np.uint8)]
    data = encode_tiff(pages, compression=8)
    dec = decode_tiff(data)
    assert np.array_equal(dec[0], pages[0])
    assert np.array_equal(dec[1][:, :, 0], pages[1])
    # deflate actually engaged: constant pages shrink below raw size
    flat = encode_tiff([np.zeros((64, 64, 3), np.uint8)],
                       compression=8)
    raw = encode_tiff([np.zeros((64, 64, 3), np.uint8)])
    assert len(flat) < len(raw) // 4


def test_deflate_predictor_roundtrip_exact():
    """Predictor 2 (horizontal differencing) under Deflate — the
    standard scanner-output combination; the row cumsum must undo
    the differencing exactly, including wraparound bytes."""
    rng = np.random.default_rng(45)
    img = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    data = encode_tiff([img], compression=8, predictor=2)
    assert np.array_equal(decode_tiff(data)[0], img)


def test_unknown_predictor_raises():
    img = np.zeros((4, 4, 3), np.uint8)
    data = bytearray(encode_tiff([img], compression=8, predictor=2))
    # patch the Predictor tag's value from 2 to 3 in the IFD
    idx = data.find(struct.pack("<HHI", 317, 3, 1))
    assert idx != -1
    data[idx + 8:idx + 10] = struct.pack("<H", 3)
    with pytest.raises(ValueError, match="predictor"):
        decode_tiff(bytes(data))


def test_packbits_roundtrip_exact():
    """Compression 32773 (PackBits RLE): lossless round-trip on
    mixed literal/repeat content, multi-page."""
    rng = np.random.default_rng(46)
    noisy = rng.integers(0, 256, (7, 11, 3), dtype=np.uint8)
    runs = np.repeat(rng.integers(0, 256, (6, 4), dtype=np.uint8),
                     5, axis=1)  # horizontal runs of 5
    data = encode_tiff([noisy, runs], compression=32773)
    dec = decode_tiff(data)
    assert np.array_equal(dec[0], noisy)
    assert np.array_equal(dec[1][:, :, 0], runs)
    # RLE actually engaged on the constant page
    flat = encode_tiff([np.zeros((64, 64, 3), np.uint8)],
                       compression=32773)
    raw = encode_tiff([np.zeros((64, 64, 3), np.uint8)])
    assert len(flat) < len(raw) // 4


def test_packbits_truncated_raises():
    from paddleocr_spark.kernels.tiff import _unpackbits
    with pytest.raises(ValueError, match="truncated PackBits"):
        _unpackbits(b"\x05ab")  # literal run of 6 with only 2 bytes
    with pytest.raises(ValueError, match="truncated PackBits"):
        _unpackbits(b"\xfe")  # repeat run with no value byte
    # 128 is a no-op filler
    assert _unpackbits(b"\x80\x00a\xfdb") == b"abbbb"


def test_lzw_roundtrip_exact():
    """Compression 5 (LZW, early code-width change): lossless
    round-trip with enough data to cross the 9->10-bit boundary,
    with and without predictor 2."""
    rng = np.random.default_rng(47)
    big = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    runs = np.repeat(rng.integers(0, 8, (20, 9), dtype=np.uint8),
                     4, axis=1)
    for pred in (1, 2):
        data = encode_tiff([big, runs], compression=5, predictor=pred)
        dec = decode_tiff(data)
        assert np.array_equal(dec[0], big)
        assert np.array_equal(dec[1][:, :, 0], runs)
    # LZW actually engaged on low-entropy data
    flat = encode_tiff([np.zeros((64, 64, 3), np.uint8)],
                       compression=5)
    raw = encode_tiff([np.zeros((64, 64, 3), np.uint8)])
    assert len(flat) < len(raw) // 4


def test_lzw_stream_errors():
    from paddleocr_spark.kernels.tiff import _lzw_decode, _lzw_encode
    with pytest.raises(ValueError, match="clear code"):
        _lzw_decode(b"\x00\x40\x00")  # starts with a literal, not Clear
    with pytest.raises(ValueError, match="missing EOI"):
        # valid start (Clear = 256 as 9 bits = 0x80 0x00 high bit
        # stream), then the stream ends with NOTHING decoded
        _lzw_decode(b"\x80\x00")
    # but a stream that decoded data and merely lacks the trailing
    # EOI is tolerated (libtiff behavior; some writers omit it)
    full = _lzw_encode(b"abcabcabc")
    # EOI is the final 9-12 bit code: chop the last two bytes
    assert _lzw_decode(full[:-2]).startswith(b"abcabc")
    # table reset mid-stream: > 4094 entries forces a Clear emission
    long = bytes(np.random.default_rng(48).integers(0, 256, 30000))
    assert _lzw_decode(_lzw_encode(long)) == long


def test_tiled_grid_all_codecs_exact():
    """TIFF 6.0 §15 tile grid: edge tiles are encoder-padded and
    decoder-cropped; every lossless codec round-trips bit-exact
    through the tile path."""
    rng = np.random.default_rng(51)
    img = rng.integers(0, 256, (45, 70, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (18, 40), dtype=np.uint8)
    for kw in (dict(tile=(16, 16)),
               dict(compression=5, predictor=2, tile=(16, 32)),
               dict(compression=8, predictor=2, tile=(32, 16)),
               dict(compression=32773, tile=(16, 16))):
        dec = decode_tiff(encode_tiff([img, gray], **kw))
        assert np.array_equal(dec[0], img), kw
        assert np.array_equal(dec[1][:, :, 0], gray), kw
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_tiff([img], tile=(20, 16))


def test_jpeg_in_tiff_new_style():
    """Compression 7 (TIFF TechNote 2): abbreviated per-segment JPEG
    streams merged against the shared JPEGTables tag — constant-color
    pages survive quant=1 exactly, photometric is YCbCr (6)."""
    flat = np.full((20, 28, 3), 77, np.uint8)
    gray = np.full((18, 22), 140, np.uint8)
    for kw in (dict(compression=7), dict(compression=7, tile=(16, 16))):
        data = encode_tiff([flat, gray], **kw)
        dec = decode_tiff(data)
        assert np.array_equal(dec[0], flat), kw
        assert np.array_equal(dec[1][:, :, 0], gray), kw
    # the abbreviated segments really lack tables (JPEGTables merge
    # is load-bearing): strip the 347 tag and the decode must fail
    data = encode_tiff([flat], compression=7)
    i = data.find(struct.pack("<HHI", 347, 7, 0)[:4])
    assert i > 0
    patched = bytearray(data)
    patched[i:i + 2] = struct.pack("<H", 34700)  # unknown tag id
    with pytest.raises(Exception):
        decode_tiff(bytes(patched))
    # lossy-but-close on real content
    rng = np.random.default_rng(52)
    img = rng.integers(0, 256, (33, 49, 3), dtype=np.uint8)
    dec = decode_tiff(encode_tiff([img], compression=7,
                                  tile=(16, 16)))[0]
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4


def test_jpeg_in_tiff_old_style():
    """Compression 6 (deprecated): one full interchange stream at
    JPEGInterchangeFormat/JPEGInterchangeFormatLength."""
    flat = np.full((26, 34, 3), 190, np.uint8)
    dec = decode_tiff(encode_tiff([flat, flat], compression=6))
    assert np.array_equal(dec[0], flat)
    assert np.array_equal(dec[1], flat)
    with pytest.raises(ValueError, match="strip-less"):
        encode_tiff([flat], compression=6, tile=(16, 16))
