"""Vector-content PDF rasterizer (kernels/pdf_raster.py): the third
PDF shape (paths/images, no full-page scan, no extractable text), the
reference covers via fitz rasterization at 2x."""

import numpy as np
import pytest

from paddleocr_spark.kernels.pdf_raster import (
    encode_vector_pdf,
    rasterize_pdf_pages,
)


def _one(content, box, scale=1.0, **kw):
    (pg,) = rasterize_pdf_pages(
        encode_vector_pdf([content], [box], **kw), scale=scale)
    return pg


def test_rect_fill_exact_coverage_and_2x_scale():
    c1 = b"0.5 0.5 0.5 rg 0 0 40 30 re f"
    c2 = b"0 0 0 rg 10 5 20 10 re f"
    pages = rasterize_pdf_pages(
        encode_vector_pdf([c1, c2], [(40, 30), (40, 30)]), scale=2.0)
    assert [p.shape for p in pages] == [(60, 80, 3)] * 2
    assert np.unique(pages[0]).tolist() == [128]  # 0.5*255 rounded
    assert (pages[1] == 0).all(axis=2).sum() == 20 * 10 * 4


def test_winding_rules_nonzero_vs_evenodd():
    """Two nested same-direction rects: even-odd leaves the inner hole,
    nonzero fills it."""
    c = b"0 0 0 rg 0 0 20 20 re 5 5 10 10 re "
    eo = _one(c + b"f*", (20, 20))
    nz = _one(c + b"f", (20, 20))
    assert (eo == 0).all(axis=2).sum() == 400 - 100
    assert (nz == 0).all(axis=2).sum() == 400


def test_clip_restricts_fill_and_restores_on_Q():
    c = (b"q 0 0 10 20 re W n 0 0 0 rg 0 0 20 20 re f Q "
         b"1 0 0 rg 15 0 5 5 re f")
    pg = _one(c, (20, 20))
    assert (pg == 0).all(axis=2).sum() == 200  # clipped to left half
    # after Q the clip is gone: the red rect lands outside it
    red = (pg[:, :, 2] == 255) & (pg[:, :, 0] == 0)
    assert red.sum() == 25


def test_stroke_quad_and_line_width():
    pg = _one(b"2 w 0 0 1 RG 2 10 m 18 10 l S", (20, 20))
    blue = (pg[:, :, 0] == 255) & (pg[:, :, 2] == 0)
    assert blue.sum() == 16 * 2


def test_bezier_flattening_covers_curve():
    """A filled 'bulge' built from a cubic: coverage must lie between
    the chord triangle and the bounding box."""
    c = b"0 0 0 rg 0 0 m 0 20 0 20 40 0 c h f"
    pg = _one(c, (40, 20))
    black = (pg == 0).all(axis=2).sum()
    assert 180 < black < 420  # well-formed bulge, not chord/box


def test_cmyk_and_gray_operators():
    pg = _one(b"1 0 0 0 k 0 0 10 10 re f", (10, 10))
    # pure cyan -> (0, 255, 255) minus nothing; BGR order
    assert tuple(pg[5, 5]) == (255, 255, 0)
    pg2 = _one(b"0.25 g 0 0 10 10 re f", (10, 10))
    assert np.unique(pg2).tolist() == [64]


def test_image_xobject_placement_and_clip():
    img = np.zeros((4, 4, 3), np.uint8)
    img[:, :, 2] = 200  # red in BGR
    c = b"q 8 0 0 8 4 4 cm /Im0 Do Q"
    pg = _one(c, (16, 16), images={"Im0": img})
    assert (pg[:, :, 2] == 200).sum() == 64
    # same placement under a clip that halves it
    c2 = b"4 4 4 8 re W n q 8 0 0 8 4 4 cm /Im0 Do Q"
    pg2 = _one(c2, (16, 16), images={"Im0": img})
    assert (pg2[:, :, 2] == 200).sum() == 32


def test_text_operators_are_ignored_not_fatal():
    c = (b"BT /F1 12 Tf 5 5 Td (hello) Tj ET "
         b"0 0 0 rg 0 0 4 4 re f")
    pg = _one(c, (10, 10))
    assert (pg == 0).all(axis=2).sum() == 16


class TestShadings:
    """sh shadings (ISO 32000-1 §8.7.4.5): axial / radial gradients,
    function types 2 and 3, /Extend semantics."""

    AX = (b"<< /ShadingType 2 /ColorSpace /DeviceRGB /Coords [0 0 40 0] "
          b"/Domain [0 1] /Extend [true true] /Function "
          b"<< /FunctionType 2 /Domain [0 1] /C0 [0 0 0] /C1 [1 1 1] "
          b"/N 1 >> >>")

    def test_axial_bit_exact_ramp(self):
        c = b"q 0 0 40 20 re W n /Sh0 sh Q"
        pg = rasterize_pdf_pages(encode_vector_pdf(
            [c], [(40, 20)], shadings={"Sh0": self.AX}), scale=1.0)[0]
        row = pg[10, :, 0].astype(int)
        exp = np.round((np.arange(40) + 0.5) / 40 * 255).astype(int)
        assert (row == exp).all()

    def test_extend_false_leaves_unpainted(self):
        sh = self.AX.replace(b"/Coords [0 0 40 0]",
                             b"/Coords [10 0 30 0]")                     .replace(b"/Extend [true true]",
                             b"/Extend [false false]")
        c = b"1 0 0 rg 0 0 40 20 re f /Sh0 sh"
        pg = rasterize_pdf_pages(encode_vector_pdf(
            [c], [(40, 20)], shadings={"Sh0": sh}), scale=1.0)[0]
        # outside [10, 30): the red background shows through
        assert tuple(pg[10, 5]) == (0, 0, 255)
        assert tuple(pg[10, 35]) == (0, 0, 255)
        assert (pg[10, 20] == pg[10, 20, 0]).all()  # gray ramp inside

    def test_radial_center_and_outside(self):
        sh = (b"<< /ShadingType 3 /ColorSpace /DeviceRGB "
              b"/Coords [20 10 0 20 10 10] /Function "
              b"<< /FunctionType 2 /C0 [1 0 0] /C1 [0 0 1] /N 1 >> >>")
        c = b"1 1 1 rg 0 0 40 20 re f /Sh1 sh"
        pg = rasterize_pdf_pages(encode_vector_pdf(
            [c], [(40, 20)], shadings={"Sh1": sh}), scale=1.0)[0]
        assert pg[9, 20, 2] > 220 and pg[9, 20, 0] < 40   # red center
        assert tuple(pg[0, 0]) == (255, 255, 255)         # no extend
        assert pg[10, 28, 0] > 100                        # bluish ring

    @pytest.mark.parametrize("coords", [
        (18.0, 10.0, 3.0, 22.0, 10.0, 9.0),   # nested: A < 0
        (10.0, 10.0, 4.0, 30.0, 10.0, 8.0),   # apart: A > 0
    ])
    @pytest.mark.parametrize("extend", [False, True])
    def test_radial_root_choice_matches_brute_force(self, coords, extend):
        """Each pixel takes the largest s with r(s) >= 0 inside the
        (extended) domain (ISO 32000-1 §8.7.4.5.4), checked against a
        per-pixel enumeration of both roots. Nested circles have at
        most one root with r(s) >= 0; circles apart can have two, and
        without /Extend a larger root past 1 leaves the smaller one to
        paint."""
        import math

        x0, y0, r0, x1, y1, r1 = coords
        sh = (b"<< /ShadingType 3 /ColorSpace /DeviceRGB /Coords [%s] "
              b"/Extend [%s] /Function << /FunctionType 2 /C0 [1 0 0] "
              b"/C1 [0 0 1] /N 1 >> >>") % (
                  " ".join(map(str, coords)).encode(),
                  b"true true" if extend else b"false false")
        pg = rasterize_pdf_pages(encode_vector_pdf(
            [b"1 1 1 rg 0 0 40 20 re f /Sh0 sh"], [(40, 20)],
            shadings={"Sh0": sh}), scale=1.0)[0].astype(int)
        cdx, cdy, dr = x1 - x0, y1 - y0, r1 - r0
        a = cdx * cdx + cdy * cdy - dr * dr
        for row in range(20):
            for col in range(40):
                fx, fy = col + 0.5 - x0, 20 - (row + 0.5) - y0
                b = fx * cdx + fy * cdy + r0 * dr
                c = fx * fx + fy * fy - r0 * r0
                disc = b * b - a * c
                roots = ([] if disc < 0 else
                         [(b + math.sqrt(disc)) / a,
                          (b - math.sqrt(disc)) / a])
                ok = [r for r in roots
                      if r0 + r * dr >= 0 and (extend or 0 <= r <= 1)]
                if not ok:
                    assert tuple(pg[row, col]) == (255, 255, 255)
                    continue
                t = min(max(max(ok), 0.0), 1.0)
                # BGR pixels of the red -> blue ramp
                exp = (255 * t, 0, 255 * (1 - t))
                assert np.abs(pg[row, col] - exp).max() <= 1, (
                    row, col, pg[row, col], exp)

    def test_stitching_function_tent(self):
        sh = (b"<< /ShadingType 2 /ColorSpace /DeviceGray "
              b"/Coords [0 0 40 0] /Extend [true true] /Function "
              b"<< /FunctionType 3 /Domain [0 1] /Functions ["
              b" << /FunctionType 2 /C0 [0] /C1 [1] /N 1 >>"
              b" << /FunctionType 2 /C0 [1] /C1 [0] /N 1 >> ] "
              b"/Bounds [0.5] /Encode [0 1 0 1] >> >>")
        pg = rasterize_pdf_pages(encode_vector_pdf(
            [b"/Sh0 sh"], [(40, 20)], shadings={"Sh0": sh}),
            scale=1.0)[0]
        row = pg[5, :, 0].astype(int)
        assert row[0] < 10 and row[39] < 10 and row[20] > 240
        assert (row[:20] == sorted(row[:20])).all()  # monotone up

    def test_shading_respects_clip(self):
        c = b"1 1 1 rg 0 0 40 20 re f 0 0 10 20 re W n /Sh0 sh"
        pg = rasterize_pdf_pages(encode_vector_pdf(
            [c], [(40, 20)], shadings={"Sh0": self.AX}), scale=1.0)[0]
        assert (pg[:, 10:] == 255).all()
        assert (pg[:, :10, 0] < 70).all()  # dark end of the ramp

    def test_unsupported_shading_type_raises(self):
        sh = b"<< /ShadingType 7 /ColorSpace /DeviceRGB >>"
        with pytest.raises(ValueError, match="shading type"):
            rasterize_pdf_pages(encode_vector_pdf(
                [b"/Sh0 sh"], [(10, 10)], shadings={"Sh0": sh}))

    def test_unknown_shading_name_raises(self):
        with pytest.raises(ValueError, match="unknown shading"):
            _one(b"/Nope sh", (10, 10))


class TestInlineImages:
    """BI/ID/EI inline images (ISO 32000-1 §8.9.7)."""

    def test_raw_rgb(self):
        img = np.full((4, 5, 3), 200, np.uint8)
        c = (b"0.5 0.5 0.5 rg 0 0 20 16 re f "
             b"q 10 0 0 8 2 3 cm BI /W 5 /H 4 /CS /RGB /BPC 8 ID "
             + img.tobytes() + b" EI Q")
        pg = _one(c, (20, 16), scale=2.0)
        # device 2x: rect x[4,24) y rows [10,26)
        assert (pg[10:26, 4:24] == 200).all()
        assert tuple(pg[0, 30]) == (128, 128, 128)

    def test_flate_gray_and_full_keys(self):
        import zlib

        g = np.full((3, 4), 77, np.uint8)
        c = (b"0 0 0 rg 0 0 20 16 re f q 8 0 0 6 4 5 cm "
             b"BI /Width 4 /Height 3 /ColorSpace /DeviceGray "
             b"/BitsPerComponent 8 /Filter /FlateDecode ID "
             + zlib.compress(g.tobytes()) + b" EI Q")
        pg = _one(c, (20, 16), scale=2.0)
        assert (pg[10:22, 8:24] == 77).all()

    def test_ascii_hex_orientation(self):
        import binascii

        c = (b"0 0 0 rg 0 0 20 16 re f q 4 0 0 4 0 0 cm "
             b"BI /W 2 /H 2 /CS /G /BPC 8 /F /AHx ID "
             + binascii.hexlify(bytes([10, 20, 30, 40])) + b"> EI Q")
        pg = _one(c, (20, 16), scale=2.0)
        # image row 0 is the unit square TOP (v=1)
        assert pg[24, 0, 0] == 10 and pg[24, 7, 0] == 20
        assert pg[31, 0, 0] == 30 and pg[31, 7, 0] == 40

    def test_imagemask_stencils_fill_color(self):
        c = (b"1 1 1 rg 0 0 20 16 re f 0.8 0 0 rg "
             b"q 8 0 0 6 4 5 cm BI /IM true /W 8 /H 8 /BPC 1 ID "
             + bytes(8) + b" EI Q")
        pg = _one(c, (20, 16), scale=2.0)
        assert tuple(pg[12, 10]) == (0, 0, 204)  # BGR of 0.8 red
        assert tuple(pg[0, 0]) == (255, 255, 255)

    def test_imagemask_decode_flip(self):
        # /D [1 0]: sample 1 paints -> all-ones payload paints
        c = (b"1 1 1 rg 0 0 20 16 re f 0 0 0 rg "
             b"q 8 0 0 6 4 5 cm BI /IM true /W 8 /H 8 /BPC 1 "
             b"/D [1 0] ID " + bytes([0xFF] * 8) + b" EI Q")
        pg = _one(c, (20, 16), scale=2.0)
        assert (pg[12, 10] == 0).all()
        # default decode with all-ones payload paints NOTHING
        c2 = (b"1 1 1 rg 0 0 20 16 re f 0 0 0 rg "
              b"q 8 0 0 6 4 5 cm BI /IM true /W 8 /H 8 /BPC 1 ID "
              + bytes([0xFF] * 8) + b" EI Q")
        pg2 = _one(c2, (20, 16), scale=2.0)
        assert (pg2 == 255).all()

    def test_clip_applies(self):
        img = np.full((2, 2, 3), 9, np.uint8)
        c = (b"1 1 1 rg 0 0 20 16 re f 0 0 4 8 re W n "
             b"q 16 0 0 8 0 0 cm BI /W 2 /H 2 /CS /RGB /BPC 8 ID "
             + img.tobytes() + b" EI Q")
        pg = _one(c, (20, 16), scale=2.0)
        assert (pg[16:32, 0:8] == 9).all()       # inside clip
        assert (pg[16:32, 8:32] == 255).all()    # clipped away

    def test_cmyk_inline(self):
        # pure cyan CMYK samples -> (0, 255, 255) RGB -> BGR
        px = bytes([255, 0, 0, 0] * 4)
        c = (b"0 0 0 rg 0 0 20 16 re f q 8 0 0 8 0 0 cm "
             b"BI /W 2 /H 2 /CS /CMYK /BPC 8 ID " + px + b" EI Q")
        pg = _one(c, (20, 16), scale=2.0)
        assert tuple(pg[24, 4]) == (255, 255, 0)

    def test_unsupported_filter_raises(self):
        with pytest.raises(ValueError, match="filter"):
            _one(b"BI /W 1 /H 1 /CS /G /BPC 8 /F /DCT ID x EI",
                 (10, 10))

    def test_truncated_data_raises(self):
        with pytest.raises(ValueError, match="truncated|EI"):
            _one(b"BI /W 4 /H 4 /CS /RGB /BPC 8 ID xy", (10, 10))


def test_degenerate_clip_masks_everything():
    """'W n' with an EMPTY current path clips everything out
    (§8.5.4) — later paints must not land."""
    c = b"1 1 1 rg 0 0 10 10 re f W n 0 0 0 rg 0 0 10 10 re f"
    pg = _one(c, (10, 10))
    assert (pg == 255).all()


def test_decode_pdf_pages_falls_back_to_rasterizer():
    """kernels/pdf.py routes image-less pages through the rasterizer
    at 2x — the check_and_read integration point."""
    from paddleocr_spark.kernels.pdf import decode_pdf_pages

    data = encode_vector_pdf(
        [b"0.2 0.4 0.6 rg 0 0 30 20 re f"], [(30, 20)])
    (pg,) = decode_pdf_pages(data)
    assert pg.shape == (40, 60, 3)
    # BGR of (0.2, 0.4, 0.6)*255 rounded
    assert tuple(pg[10, 10]) == (153, 102, 51)
