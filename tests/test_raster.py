"""Raster PAGE pipeline unit + golden tests — mirrors the reference's
per-method and iterator altitudes (/root/reference/tests/test_api.rs,
tests/test_iterators.rs) for the OCR-shaped decode path."""

import struct

import numpy as np
import pytest

from tesseract_rs_spark.kernels.raster import (
    ATLAS,
    CHARSET,
    MAGIC,
    connected_components,
    decode_page,
    detect_os,
    extract_raster_doc,
    golden_raster_text,
    otsu_threshold,
    render_page,
)

TEXT = "the quick brown fox jumps over a lazy dog with many more words to wrap lines"


class TestValidation:
    """set_image rules (/root/reference/src/api.rs:1204-1221), each its own
    error variant (tests/test_api.rs error paths)."""

    def test_bad_magic(self):
        assert extract_raster_doc(b"nonsense bytes here, 20+").status == "invalid_image_data"

    def test_bad_dims(self):
        p = struct.pack("<Iiiii", MAGIC, -5, 10, 1, 10)
        assert extract_raster_doc(p).status == "invalid_dimensions"

    def test_bad_bpp(self):
        p = struct.pack("<Iiiii", MAGIC, 10, 10, 2, 20)
        assert extract_raster_doc(p).status == "invalid_bytes_per_pixel"

    def test_bad_bpl(self):
        # bpl < width*bpp (api.rs:1213)
        p = struct.pack("<Iiiii", MAGIC, 10, 10, 1, 5)
        assert extract_raster_doc(p).status == "invalid_bytes_per_line"

    def test_short_payload(self):
        p = struct.pack("<Iiiii", MAGIC, 10, 10, 1, 10) + b"\x00" * 50
        assert extract_raster_doc(p).status == "invalid_image_data"

    def test_failure_span_on_error(self):
        r = extract_raster_doc(b"nonsense bytes here, 20+")
        assert r.failure_spans == [(0, 24)]


class TestKernels:
    def test_otsu_bimodal(self):
        img = np.full((50, 50), 220, dtype=np.uint8)
        img[10:20, 10:20] = 40
        t = otsu_threshold(img)
        assert 40 <= t < 220

    def test_cc_counts_and_bbox_invariants(self):
        b = np.zeros((30, 30), dtype=bool)
        b[2:6, 2:6] = True      # square
        b[10:12, 20:28] = True  # bar
        b[20, 5] = True         # dot
        n, stats = connected_components(b)
        assert n == 3
        for l, t, r, btm, area in stats:
            assert l < r and t < btm and area > 0  # tests/test_iterators.rs:179-193

    def test_cc_merge_u_shape(self):
        # two arms joined at the bottom must be ONE component (union-find)
        b = np.zeros((10, 10), dtype=bool)
        b[0:8, 1] = True
        b[0:8, 6] = True
        b[7, 1:7] = True
        n, _ = connected_components(b)
        assert n == 1

    def test_atlas_distinct_and_connected(self):
        flat = {a.tobytes() for a in ATLAS.values()}
        assert len(flat) == len(CHARSET)
        for c, m in ATLAS.items():
            n, _ = connected_components(m)
            assert n == 1, f"glyph {c!r} not connected"

    def test_orientation(self):
        import numpy as np

        page = render_page(TEXT)
        img, _ = decode_page(page)
        t = otsu_threshold(img)
        binary = img <= t
        # all four true rotations detected (detect_os analog,
        # /root/reference/src/api.rs:599-629; expected values mirror
        # tests/test_iterators.rs:462-487 PAGE_UP defaults)
        for rot in (0, 90, 180, 270):
            assert detect_os(np.rot90(binary, k=rot // 90))[0] == rot

    def test_orientation_margin_pins_pair_default(self):
        """set_min_orientation_margin analog (api.rs:640-647): a margin
        above the score range pins each disambiguation vote to its pair
        default — 0 for upright/180, 90 for sideways — while the default
        margin recovers the true rotation (previous test)."""
        import numpy as np

        page = render_page(TEXT)
        img, _ = decode_page(page)
        binary = img <= otsu_threshold(img)
        expected = {0: 0, 90: 90, 180: 0, 270: 90}
        for rot, want in expected.items():
            got = detect_os(np.rot90(binary, k=rot // 90), margin=1000.0)[0]
            assert got == want, (rot, got)


class TestGolden:
    """Render known text, expect it back — the reference's own idiom
    (README.md:231-263 'draw a 9, expect 9')."""

    def test_roundtrip(self):
        r = extract_raster_doc(render_page(TEXT))
        assert r.status == "ok"
        assert r.text == golden_raster_text(TEXT)
        assert r.mean_conf == 100

    def test_roundtrip_rgb_and_stride(self):
        assert extract_raster_doc(render_page(TEXT, bpp=3)).text == golden_raster_text(TEXT)
        assert extract_raster_doc(render_page(TEXT, pad=7)).text == golden_raster_text(TEXT)

    def test_single_char(self):
        # the README "digit 9" fixture, scaled: one glyph in, one char out
        r = extract_raster_doc(render_page("9"))
        assert r.text == "9\n"

    def test_whitelist_decode_mask(self):
        # whitelist restricts the template set (integration_test.rs:129-130)
        r = extract_raster_doc(render_page("42"), whitelist="0123456789")
        assert r.text == "42\n"
        assert set(r.text) <= set("0123456789\n")

    def test_word_geometry(self):
        r = extract_raster_doc(render_page("ab cd"))
        (w1, w2) = r.words
        assert w1[4] == "ab" and w2[4] == "cd"
        l1, t1, r1, b1, base1 = w1[6:11]
        assert (l1, t1) == (16, 16)
        assert r1 == 16 + 18 * 2 - 2 and b1 == 16 + 24
        assert base1 == b1  # flat synthetic glyphs: baseline == bottom
        assert w2[6] == r1 + 14  # WORD_GAP ink-to-ink

    def test_determinism(self):
        a = extract_raster_doc(render_page(TEXT))
        b = extract_raster_doc(render_page(TEXT))
        assert a.text == b.text and a.threshold == b.threshold

    def test_auto_rotation_recovers_sideways_page(self):
        """AUTO_OSD analog: a 90°-rotated page is detected and decoded."""
        from tesseract_rs_spark.kernels.raster import MAGIC as M

        page = render_page("rotated page words here")
        img, _ = decode_page(page)
        rot = np.rot90(img, k=1).copy()  # rotate page 90° CCW (text reads up)
        h, w = rot.shape
        payload = struct.pack("<Iiiii", M, w, h, 1, w) + rot.tobytes()
        r = extract_raster_doc(payload)
        assert r.orientation_deg == 90
        assert r.text == golden_raster_text("rotated page words here")

    def test_deskew_recovers_tilted_page(self):
        """Small-angle skew (the orientation tuple's deskew channel,
        page_iterator.rs:182-217) is estimated and corrected."""
        from tesseract_rs_spark.kernels.raster import MAGIC as M
        from tesseract_rs_spark.kernels.raster import deskew, otsu_threshold

        text = "tilted page words here still readable after deskew correction applied"
        page = render_page(text)
        img, _ = decode_page(page)
        t = otsu_threshold(img)
        tilted_bin = deskew(img <= t, -2.0)  # tilt the clean binary by +2°
        # re-encode a grayscale page from the tilted binary
        arr = np.where(tilted_bin, 40, 220).astype(np.uint8)
        h, w = arr.shape
        payload = struct.pack("<Iiiii", M, w, h, 1, w) + arr.tobytes()
        r = extract_raster_doc(payload)
        assert abs(r.deskew_deg - (-2.0)) <= 0.5, r.deskew_deg
        assert r.text == golden_raster_text(text)

    def test_zero_skew_reported_on_straight_page(self):
        r = extract_raster_doc(render_page(TEXT))
        assert r.deskew_deg == 0.0

    def test_thresholded_image_surface(self):
        from tesseract_rs_spark.kernels.raster import thresholded_image

        page = render_page("ab")
        status, t, scale, w, h, bits = thresholded_image(page)
        assert status == "ok" and scale == 1 and t >= 40
        unpacked = np.unpackbits(
            np.frombuffer(bits, dtype=np.uint8).reshape(h, -1), axis=1
        )[:, :w].astype(bool)
        img, _ = decode_page(page)
        assert np.array_equal(unpacked, img <= t)


class TestMultilang:
    """Joint "eng+tur" recognition (reference
    tests/integration_test.rs:91-120; word_recognition_language,
    src/result_iterator.rs:78-89)."""

    def test_mixed_page_decodes_exact_with_per_word_lang(self):
        from tesseract_rs_spark.kernels.raster import (
            extract_raster_doc,
            golden_raster_text,
            render_page,
        )

        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        r = extract_raster_doc(render_page(text, tur_every=3), langs=("eng", "tur"))
        assert r.text == golden_raster_text(text)
        assert r.mean_conf == 100
        assert [w[11] for w in r.words] == [
            "tur" if i % 3 == 0 else "eng" for i in range(len(r.words))
        ]

    def test_atlases_are_not_rotations_of_each_other(self):
        """Design invariant: no tur glyph equals any eng glyph rotated
        0 or 180 degrees (else orientation detection would be blind)."""
        import numpy as np

        from tesseract_rs_spark.kernels.raster import ATLAS, ATLAS_TUR

        eng = np.stack(list(ATLAS.values()))
        for m in ATLAS_TUR.values():
            assert (m != eng).any(axis=(1, 2)).all()
            rot = np.rot90(m, 2)
            assert (rot != eng).any(axis=(1, 2)).all()

    def test_single_lang_cross_decode_confidence_gap(self):
        """A tur word decoded with only the eng model must lose >=10
        confidence points (the language vote's margin)."""
        from tesseract_rs_spark.kernels.raster import extract_raster_doc, render_page

        page = render_page("kappa", tur_every=1)
        eng_only = extract_raster_doc(page, langs=("eng",))
        joint = extract_raster_doc(page, langs=("eng", "tur"))
        assert joint.mean_conf == 100
        assert eng_only.mean_conf <= 90


def test_uniform_flags_matches_per_word_rule():
    """r7 vectorization pin: the whole-page integer-reduceat uniformity
    flags must equal _word_is_uniform box by box, including offset
    (super/subscript) and oversized (drop-cap) glyph mixes."""
    from tesseract_rs_spark.kernels.raster import (
        GLYPH_H,
        _uniform_flags,
        _word_is_uniform,
    )

    rng = np.random.RandomState(7)
    boxes = []
    for i in range(60):
        n = rng.randint(1, 9)
        l = rng.randint(0, 500)
        t = rng.randint(0, 300)
        glyphs = []
        for k in range(n):
            dt = rng.choice([0, 0, 0, 1, 2, 5])  # mostly aligned tops
            h = GLYPH_H + rng.choice([0, 0, 1, 2, GLYPH_H])  # some drop caps
            glyphs.append((l + 12 * k, t + dt, l + 12 * k + 10, t + dt + h, 30))
        g = np.asarray(glyphs, dtype=np.int64)
        boxes.append((int(g[:, 0].min()), int(g[:, 1].min()),
                      int(g[:, 2].max()), int(g[:, 3].max()), g))
    flags = _uniform_flags(boxes)
    for i, b in enumerate(boxes):
        assert bool(flags[i]) == bool(_word_is_uniform(b)), (i, b[4])


def test_flat_bottom_baseline_equals_fit():
    """r7 fast-path pin: for words whose glyph bottoms are all equal,
    fit_baseline returns exactly that bottom (both branches), so the
    vectorized flat-bottom shortcut is value-identical; non-flat words
    must still take the exact per-word fit."""
    from tesseract_rs_spark.kernels.raster import fit_baseline

    rng = np.random.RandomState(11)
    for _ in range(200):
        n = rng.randint(1, 12)
        xs = np.sort(rng.choice(np.arange(0, 400, 12), size=n, replace=False))
        bottom = int(rng.randint(20, 200))
        flat = np.stack(
            [xs, np.full(n, bottom - 18), xs + 10, np.full(n, bottom), np.full(n, 25)],
            axis=1,
        ).astype(np.int64)
        assert fit_baseline(flat) == bottom
        # a word with unequal bottoms fails the flatness precondition,
        # so the shortcut can never be taken for it (the decode loop
        # falls back to this exact per-word fit)
        if n >= 3:
            sloped = flat.copy()
            sloped[:, 3] = bottom + np.arange(n)
            assert int(sloped[:, 3].max()) != int(sloped[:, 3].min())
            assert isinstance(fit_baseline(sloped), int)
