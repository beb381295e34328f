"""Tail-surface tests: OEM switch, config files, raster ROI, text
direction, source resolution, renderer metadata getters."""

import numpy as np
import pandas as pd
import pytest

from tesseract_rs_spark.config import OEM_NCC, OEM_TEMPLATE, ExtractConfig
from tesseract_rs_spark.kernels.raster import (
    decode_page,
    extract_raster_doc,
    golden_raster_text,
    otsu_threshold,
    render_page,
)


class TestOEM:
    def test_clean_page_decodes_identically_under_both_engines(self):
        text = "engine mode switch words here"
        page = render_page(text)
        a = extract_raster_doc(page, oem=OEM_TEMPLATE)
        b = extract_raster_doc(page, oem=OEM_NCC)
        assert a.text == b.text == golden_raster_text(text)
        assert a.mean_conf == b.mean_conf == 100

    def test_confidences_diverge_on_degraded_glyphs(self):
        """Knock pixels out of the ink: the Hamming conf and the NCC conf
        must disagree — the observable recognizer switch (init_1,
        /root/reference/tests/integration_test.rs:22)."""
        import struct

        from tesseract_rs_spark.kernels.raster import MAGIC

        page = render_page("degraded words")
        img, _ = decode_page(page)
        t = otsu_threshold(img)
        noisy = img.copy()
        ys, xs = np.nonzero(img <= t)
        noisy[ys[::7], xs[::7]] = 220  # erase every 7th ink pixel
        h, w = noisy.shape
        payload = struct.pack("<Iiiii", MAGIC, w, h, 1, w) + noisy.tobytes()
        a = extract_raster_doc(payload, oem=OEM_TEMPLATE)
        b = extract_raster_doc(payload, oem=OEM_NCC)
        assert a.text == b.text  # same reading, different confidence scale
        assert a.mean_conf != b.mean_conf

    def test_oem_variable_roundtrip(self):
        cfg = ExtractConfig().with_variable("tessedit_ocr_engine_mode", "1")
        assert cfg.oem == OEM_NCC
        assert ExtractConfig().with_variable(
            "tessedit_ocr_engine_mode", "9"
        ).oem == ExtractConfig().oem


class TestConfigFile:
    def test_read_config_file(self, tmp_path):
        p = tmp_path / "engine.cfg"
        p.write_text(
            "# comment line\n"
            "tessedit_char_whitelist abc def\n"
            "\n"
            "preserve_interword_spaces 1\n"
            "page_timeout_ms 2500\n"
        )
        cfg = ExtractConfig().with_config_file(str(p))
        assert cfg.char_whitelist == "abc def"
        assert cfg.preserve_interword_spaces is True
        assert cfg.page_timeout_ms == 2500
        assert cfg.get_variable("tessedit_char_whitelist") == "abc def"

    def test_malformed_line_is_an_error(self, tmp_path):
        p = tmp_path / "bad.cfg"
        p.write_text("loneword\n")
        with pytest.raises(ValueError):
            ExtractConfig().with_config_file(str(p))

    def test_config_text_is_the_distributed_primitive(self):
        """with_config_text == with_config_file minus the driver-local
        file — executors replay broadcast TEXT, never read a path; the
        margin knob round-trips typed like the others."""
        cfg = ExtractConfig().with_config_text(
            "# c\n\nmin_orientation_margin 12.5\nsource_resolution 110\n"
        )
        assert cfg.min_orientation_margin == 12.5
        assert cfg.source_dpi == 110
        with pytest.raises(ValueError):
            ExtractConfig().with_config_text("bare\n")


class TestRasterROI:
    def test_roi_restricts_and_keeps_absolute_boxes(self):
        from tesseract_rs_spark.kernels.raster import LINE_PITCH, MARGIN

        text = "first line words go here then second line words follow after"
        # 6 words/line -> two lines
        page = render_page(text, words_per_line=6)
        full = extract_raster_doc(page)
        # first line band only: stop above line 2's top (MARGIN + LINE_PITCH)
        roi = (0, 0, 10_000, MARGIN + LINE_PITCH - 4)
        part = extract_raster_doc(page, roi=roi)
        assert part.text == golden_raster_text(
            " ".join(text.split()[:6]), words_per_line=6
        )
        # boxes absolute: first word identical between full and ROI runs
        assert part.words[0][6:11] == full.words[0][6:11]

    def test_roi_offset_rect(self):
        from tesseract_rs_spark.kernels.raster import LINE_PITCH, MARGIN

        text = "first line words go here then second line words follow after"
        page = render_page(text, words_per_line=6)
        full = extract_raster_doc(page)
        top = MARGIN + LINE_PITCH - 2
        part = extract_raster_doc(page, roi=(0, top, 10_000, 10_000))
        assert part.text == golden_raster_text(
            " ".join(text.split()[6:]), words_per_line=6
        )
        # second line's words carry their ABSOLUTE page coordinates
        second_line_full = [w for w in full.words if w[1] == 0 and w[2] == 1]
        assert part.words[0][6:11] == second_line_full[0][6:11]


class TestDirectionAndResolution:
    def test_text_direction(self):
        """The get_text_direction analog is the OSD row's direction
        channel, with the orientation vote's confidence."""
        r = extract_raster_doc(render_page("direction check words"))
        assert r.writing_direction == "left_to_right" and r.orientation_conf > 0

    def test_source_resolution_roundtrip(self):
        cfg = ExtractConfig().with_variable("source_resolution", "300")
        assert cfg.source_dpi == 300


class TestRendererMetadata:
    def test_extensions(self):
        """get_extension analog: the renderer registry the engine manifest
        publishes; unknown kinds are absent."""
        from tesseract_rs_spark.operators.renderers import RENDERER_EXTENSIONS

        assert RENDERER_EXTENSIONS["hocr"] == "hocr"
        assert RENDERER_EXTENSIONS["lstm_box"] == "box"
        assert "pdfx" not in RENDERER_EXTENSIONS

    def test_image_num(self, spark):
        from tesseract_rs_spark.operators.renderers import with_image_num

        pdf = pd.DataFrame(
            {"url": ["a", "a", "a", "b"], "page_num": [10, 3, 7, 1]}
        )
        rows = with_image_num(spark.createDataFrame(pdf)).collect()
        got = {(r["url"], r["page_num"]): r["image_num"] for r in rows}
        assert got == {("a", 3): 0, ("a", 7): 1, ("a", 10): 2, ("b", 1): 0}


class TestDebugVariables:
    def test_debug_variables_recorded_but_inert(self):
        from tesseract_rs_spark.config import ExtractConfig
        from tesseract_rs_spark.corpus import render_html
        from tesseract_rs_spark.kernels.html import extract_doc

        base = ExtractConfig()
        dbg = base.with_variable("classify_debug_level", "3")
        page = render_html("debug knob must not change output words", 1).encode()
        assert extract_doc(page, dbg).text == extract_doc(page, base).text
        assert dbg.get_variable("classify_debug_level") == "3"

    def test_print_variables_dump(self):
        from tesseract_rs_spark.config import ExtractConfig

        cfg = (
            ExtractConfig()
            .with_variable("tessedit_char_whitelist", "abc")
            .with_variable("zz_debug", "1")
        )
        assert cfg.print_variables() == "tessedit_char_whitelist\tabc\nzz_debug\t1\n"


def test_position_flags(spark):
    import pandas as pd

    from tesseract_rs_spark.operators.assemble import position_flags

    words = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u"] * 4,
                "block_id": [0, 0, 1, 1],
                "para_id": [0, 0, 0, 0],
                "line_id": [0, 0, 0, 1],
                "word_id": [0, 1, 0, 0],
                "word": ["a", "b", "c", "d"],
            }
        )
    )
    rows = {
        (r["block_id"], r["line_id"], r["word_id"]): r
        for r in position_flags(words).collect()
    }
    assert rows[(0, 0, 0)]["is_line_start"] and rows[(0, 0, 0)]["is_doc_start"]
    assert rows[(0, 0, 1)]["is_line_end"] and rows[(0, 0, 1)]["is_block_end"]
    assert not rows[(0, 0, 1)]["is_doc_end"]
    assert rows[(1, 1, 0)]["is_doc_end"] and rows[(1, 1, 0)]["is_block_end"]
    assert rows[(1, 0, 0)]["is_block_start"] and not rows[(1, 0, 0)]["is_block_end"]
