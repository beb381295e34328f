"""Multi-page lifecycle, choice iterators, streaming, and multimodal
plumbing tests."""

import pyspark.sql.functions as F
import pytest
from support import make_media_corpus

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.corpus import render_html
from tesseract_rs_spark.functions.multimodal import decode_media, sample_frames
from tesseract_rs_spark.kernels.raster import raster_symbols, render_page
from tesseract_rs_spark.operators.multipage import process_pages
from tesseract_rs_spark.operators.ocr import ocr_layout, ocr_symbols


class TestMultiPage:
    """process_pages semantics (/root/reference/src/api.rs:844-875):
    page loop + '\\f' separator + retry of failed pages."""

    def test_pages_joined_in_order(self, spark):
        rows = [
            ("d1", 1, render_html("second page words here now", 1).encode()),
            ("d1", 0, render_html("first page words here now", 2).encode()),
        ]
        pages = spark.createDataFrame(rows, "url string, page_num int, html binary")
        out = process_pages(pages).collect()[0]
        assert out["text"] == (
            "first page words here now\n\fsecond page words here now\n"
        )
        assert out["n_pages"] == 2 and out["n_failed_pages"] == 0

    def test_retry_pass_recovers(self, spark):
        # a page that fails under a narrow ROI succeeds under the fallback
        good = render_html("recoverable page words here now", 3).encode()
        rows = [("d1", 0, good)]
        pages = spark.createDataFrame(rows, "url string, page_num int, html binary")
        broken_cfg = ExtractConfig(roi_start=10**9)  # ROI past EOF -> not_html
        out = process_pages(pages, cfg=broken_cfg, retry_cfg=ExtractConfig()).collect()[0]
        assert out["n_failed_pages"] == 0
        assert "recoverable" in out["text"]

    def test_failed_page_counted_not_fatal(self, spark):
        rows = [
            ("d1", 0, render_html("good page words here now", 4).encode()),
            ("d1", 1, b"\xff\xfe broken"),
        ]
        pages = spark.createDataFrame(rows, "url string, page_num int, html binary")
        out = process_pages(pages).collect()[0]
        assert out["n_failed_pages"] == 1 and out["n_pages"] == 2


class TestChoices:
    def test_choices_descending_and_best_first(self):
        # choice confidences descend (tests/test_iterators.rs:736-769)
        _, rows = raster_symbols(render_page("ab"), k=3)
        assert rows, "symbols expected"
        for _p, _l, _w, _s, glyph, conf, alts in rows:
            assert alts[0][0] == glyph and alts[0][1] == conf
            confs = [c for _g, c in alts]
            assert confs == sorted(confs, reverse=True)
            assert len(alts) == 3

    def test_symbols_whitelist(self):
        _, rows = raster_symbols(render_page("a1"), whitelist="01")
        glyphs = {r[4] for r in rows}
        assert glyphs <= {"0", "1"}


class TestLayoutOp:
    def test_layout_matches_geometry(self, spark):
        pages = spark.createDataFrame(
            [("u", render_page("aa bb cc dd ee ff gg hh ii jj", 4, 1))],
            "url string, html binary",
        )
        rows = ocr_layout(pages).sort("para_id").collect()
        assert len(rows) == 3  # 10 words / 4 per line -> 3 lines, 1 per para
        assert all(r["block_type"] == "flowing_text" for r in rows)
        assert all(r["justification"] == "left" for r in rows)
        assert rows[0]["left"] == 16 and rows[0]["top"] == 16


def test_exploding_operators_equal_their_kernels(spark):
    """One batch of two pages and one corrupt payload through each
    exploding raster operator: per page, the operator rows are exactly
    its kernel's rows with the ids repeated in front, the corrupt page
    explodes to zero rows, and the declared schema holds."""
    from tesseract_rs_spark.kernels.raster import (
        extract_raster_doc,
        raster_layout_blocks,
        raster_symbol_attrs,
    )
    from tesseract_rs_spark.operators.ocr import (
        OCR_LAYOUT_FIELDS,
        OCR_SYMBOL_ATTR_FIELDS,
        OCR_SYMBOL_FIELDS,
        OCR_WORD_FIELDS,
        ocr_symbol_attrs,
        ocr_words,
    )

    payloads = [
        render_page("abc def ghi jkl mno pqr", sup_every=4, drop_every=5),
        render_page(
            "stu vwx yz1 234", words_per_line=2, lines_per_para=1, sub_every=3
        ),
        b"PAGE but not a page",
    ]
    ids = "url string, doc_id bigint"
    pages = spark.createDataFrame(
        [(f"u{i}", 10 + i, bytearray(p)) for i, p in enumerate(payloads)],
        "url string, doc_id long, html binary",
    ).coalesce(1)
    id_cols = ("url", "doc_id")
    cfg = ExtractConfig()

    def doc_words(p):
        r = extract_raster_doc(
            p, timeout_ms=cfg.page_timeout_ms, langs=cfg.langs, oem=cfg.oem,
            roi=cfg.roi_rect, orient_margin=cfg.min_orientation_margin,
        )
        return [(*w, r.page_width, r.page_height) for w in r.words]

    def symbols(p):
        return [
            (*row[:6], [tuple(a) for a in row[6]])
            for row in raster_symbols(p, None, 3)[1]
        ]

    cases = [
        (ocr_symbols(pages, id_cols=id_cols), OCR_SYMBOL_FIELDS, symbols),
        (
            ocr_symbol_attrs(pages, id_cols=id_cols),
            OCR_SYMBOL_ATTR_FIELDS,
            lambda p: raster_symbol_attrs(p)[1],
        ),
        (
            ocr_layout(pages, id_cols=id_cols),
            OCR_LAYOUT_FIELDS,
            lambda p: raster_layout_blocks(p)[1],
        ),
        (
            ocr_words(pages, id_cols=id_cols),
            OCR_WORD_FIELDS + ", page_width long, page_height long",
            lambda p: [w[:11] + w[12:] for w in doc_words(p)],
        ),
        (
            ocr_words(pages, id_cols=id_cols, include_lang=True),
            OCR_WORD_FIELDS
            + ", word_lang string, page_width long, page_height long",
            doc_words,
        ),
    ]
    for df, fields, kernel in cases:
        assert df.schema == spark.createDataFrame([], f"{ids}, {fields}").schema
        got = [
            tuple([tuple(a) for a in v] if isinstance(v, list) else v for v in row)
            for row in df.collect()
        ]
        want = [
            (f"u{i}", 10 + i, *row)
            for i, p in enumerate(payloads)
            for row in kernel(p)
        ]
        assert want and not kernel(payloads[2]), fields
        assert got == want, fields


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        df = spark.createDataFrame(make_media_corpus(64))
        df.cache().count()
        return df

    def test_decode_header_plumbing(self, spark, media):
        decoded = decode_media(media)
        rows = decoded.collect()
        assert len(rows) == 64
        assert all(r["status"] == "ok" for r in rows)
        meta = {r["media_id"]: r for r in media.select("media_id", "meta.*").collect()}
        for r in rows:
            assert r["width"] == meta[r["media_id"]]["width"]
            assert r["n_frames"] == meta[r["media_id"]]["n_frames"]

    def test_unsupported_codec_status(self, spark):
        bad = spark.createDataFrame(
            [(99, "image", b"JPEGnotreally", None)],
            "media_id long, kind string, payload binary, "
            "meta struct<width:int,height:int,sample_rate:int,duration_ms:int,n_frames:int>",
        )
        r = decode_media(bad).collect()[0]
        assert r["status"] == "unsupported_codec"

    def test_frame_sampling(self, spark, media):
        frames = sample_frames(media, every_k=30)
        j = frames.join(media.select("media_id", "meta.n_frames"), "media_id")
        bad = j.filter(
            (F.col("frame_idx") < 0) | (F.col("frame_idx") >= F.greatest(F.col("n_frames"), F.lit(1)))
        ).count()
        assert bad == 0
        # last frame always sampled
        last = j.groupBy("media_id", "n_frames").agg(F.max("frame_idx").alias("mx"))
        assert last.filter(F.col("mx") != F.greatest(F.col("n_frames") - 1, F.lit(0))).count() == 0


class TestRealMediaDecode:
    """REAL codec surfaces: PGM/PPM images, PCM WAV, VSEQ frame video —
    pure numpy/struct decoders (no codec libs needed)."""

    def test_pgm_roundtrip_and_comment_header(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import decode_image, pgm_encode

        img = (np.arange(300, dtype=np.uint8)).reshape(15, 20)
        out, st = decode_image(pgm_encode(img))
        assert st == "ok" and np.array_equal(out, img)
        # comment line in the header is legal PGM
        with_comment = b"P5\n# a comment\n20 15\n255\n" + img.tobytes()
        out2, st2 = decode_image(with_comment)
        assert st2 == "ok" and np.array_equal(out2, img)

    def test_ppm_reduces_to_same_luma_as_raster_path(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import decode_image

        rgb = np.random.RandomState(0).randint(0, 256, size=(9, 7, 3), dtype=np.uint8)
        ppm = b"P6\n7 9\n255\n" + rgb.tobytes()
        out, st = decode_image(ppm)
        r32 = rgb.astype(np.uint32)
        want = (
            (r32[:, :, 0] * 299 + r32[:, :, 1] * 587 + r32[:, :, 2] * 114) // 1000
        ).astype(np.uint8)
        assert st == "ok" and np.array_equal(out, want)

    def test_wav_roundtrip_mono_and_stereo(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import decode_audio, wav_encode

        s = np.array([0, 100, -100, 32000, -32000], dtype=np.int16)
        out, sr, st = decode_audio(wav_encode(s, 8000))
        assert st == "ok" and sr == 8000 and np.array_equal(out, s)
        # stereo: interleave, decoder mixes down to mono mean
        stereo = wav_encode(s, 8000)
        # build a stereo file by hand: same sample in both channels
        import struct as _struct

        data = np.repeat(s, 2).astype("<i2").tobytes()
        wav = (
            b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
            + _struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
            + b"data" + _struct.pack("<I", len(data)) + data
        )
        out2, sr2, st2 = decode_audio(wav)
        assert st2 == "ok" and np.array_equal(out2, s)

    def test_video_frame_extraction(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import (
            decode_frame,
            video_encode,
        )

        frames = [np.full((4, 5), i, dtype=np.uint8) for i in range(3)]
        payload = video_encode(frames)
        for k in range(3):
            out, st = decode_frame(payload, k)
            assert st == "ok" and np.array_equal(out, frames[k])
        assert decode_frame(payload, 3)[1] == "frame_out_of_range"

    def test_unsupported_codecs_are_status_rows(self):
        from tesseract_rs_spark.functions.multimodal import decode_audio, decode_image

        assert decode_image(b"\x89PNG\r\n....")[1] == "unsupported_codec"
        assert decode_audio(b"ID3\x04...mp3 bytes")[2] == "unsupported_codec"
        # truncated PGM body is invalid, not a crash
        assert decode_image(b"P5\n10 10\n255\nshort")[1] == "invalid_image_data"


class TestResize:
    """REAL image resize (nearest + exact box-mean area downscale) over
    the PGM decode path — corrupt payloads and bad geometry become
    status rows, never exceptions."""

    def test_resize_gray_kernels(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import resize_gray

        # area: 2x2 box means, floor arithmetic — exact
        img = np.array(
            [[0, 255, 10, 10], [255, 0, 10, 10], [8, 8, 100, 102], [8, 8, 104, 106]],
            dtype=np.uint8,
        )
        out = resize_gray(img, 2, 2, method="area")
        assert out.tolist() == [[127, 10], [8, 103]]
        # constant image invariant under both kernels
        const = np.full((12, 8), 77, dtype=np.uint8)
        assert (resize_gray(const, 4, 3, "area") == 77).all()
        assert (resize_gray(const, 5, 5, "nearest") == 77).all()
        # nearest upscale replicates pixels
        tiny = np.array([[1, 2], [3, 4]], dtype=np.uint8)
        up = resize_gray(tiny, 4, 4, method="nearest")
        assert up.tolist() == [
            [1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4],
        ]
        with pytest.raises(ValueError, match="integer factors"):
            resize_gray(img, 3, 3, method="area")
        with pytest.raises(ValueError, match="must be positive"):
            resize_gray(img, 0, 2)

    def test_resize_images_total_function(self, spark):
        import numpy as np
        import pandas as pd

        from tesseract_rs_spark.functions.multimodal import (
            decode_image,
            pgm_encode,
            resize_images,
        )

        good = pgm_encode(
            np.arange(64, dtype=np.uint8).reshape(8, 8)
        )
        odd = pgm_encode(np.zeros((7, 5), dtype=np.uint8))  # non-integer factor
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "media_id": [0, 1, 2],
                    "payload": [good, odd, b"JPEG-ish junk"],
                }
            )
        )
        rows = {
            r["media_id"]: r
            for r in resize_images(df, 4, 4, method="area").collect()
        }
        img, st = decode_image(rows[0]["payload"])
        assert st == "ok" and img.shape == (4, 4)
        # 2x2 box mean of the row-major ramp, computed independently
        ramp = np.arange(64, dtype=np.uint32).reshape(8, 8)
        want = ramp.reshape(4, 2, 4, 2).sum(axis=(1, 3)) // 4
        assert (img == want.astype(np.uint8)).all()
        assert rows[0]["status"] == "ok"
        assert rows[0]["width"] == 4 and rows[0]["height"] == 4
        assert rows[1]["status"] == "bad_geometry"
        assert rows[1]["payload"] is None
        assert rows[2]["status"] == "unsupported_codec"
        # per-image scale mode: 2x nearest replicates each pixel 4x, so
        # dims double per image and ink mass exactly quadruples
        sc = {
            r["media_id"]: r
            for r in resize_images(df, scale=2, method="nearest").collect()
        }
        img2, st2 = decode_image(sc[0]["payload"])
        assert st2 == "ok" and img2.shape == (16, 16)
        assert (img2 == np.kron(np.arange(64, dtype=np.uint8).reshape(8, 8),
                                np.ones((2, 2), dtype=np.uint8))).all()
        assert sc[1]["status"] == "ok"  # odd dims are fine for nearest
        assert (sc[1]["width"], sc[1]["height"]) == (10, 14)
        with pytest.raises(ValueError, match="method must be"):
            resize_images(df, 4, 4, method="bicubic")
        with pytest.raises(ValueError, match="exactly one target"):
            resize_images(df, 4, 4, scale=2)
        with pytest.raises(ValueError, match="exactly one target"):
            resize_images(df)
        with pytest.raises(ValueError, match="scale must be"):
            resize_images(df, scale=0)
        # area + upscale is statically impossible (box-mean downscales):
        # refuse at call time, never a silent all-bad_geometry run
        with pytest.raises(ValueError, match="downscale kernel"):
            resize_images(df, scale=2, method="area")


class TestStreamCuration:
    """Ingest-time curation == batch curation on the surviving-digest
    invariant (one survivor per distinct passing text; batch keeps min-id,
    the stream keeps first-arrival — the digest set is what both share)."""

    def test_stream_curate_equals_batch_digests(self, spark, tmp_path):
        import pyspark.sql.functions as F2

        from tesseract_rs_spark.corpus import make_corpus
        from tesseract_rs_spark.functions.cleaning import curate
        from tesseract_rs_spark.operators.extract import extract_text as bx
        from tesseract_rs_spark.streaming.curation import stream_curate

        inp, out, ckpt = (
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        pages, _ = make_corpus("smoke")
        spark.createDataFrame(pages).write.parquet(inp)
        q = stream_curate(
            spark, inp, out, ckpt, min_quality=0,
            keep_langs=("en", "de", "fr", "es"),
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert {"url", "text", "quality", "lang_pred", "fingerprint"} <= set(
            got.columns
        )
        stream_fps = {r["fingerprint"] for r in got.select("fingerprint").collect()}
        # batch twin over the same input
        batch_flat = (
            bx(spark.read.parquet(inp), id_cols=("url",))
            .filter(F2.col("status") == "ok")
            .withColumn("text", F2.trim(F2.regexp_replace("text", "\n+", " ")))
        )
        batch = curate(
            batch_flat, id_col="url", min_quality=0,
            keep_langs=("en", "de", "fr", "es"),
        )
        batch_fps = {r["fingerprint"] for r in batch.select("fingerprint").collect()}
        assert stream_fps, "curation should keep something from the smoke corpus"
        assert stream_fps == batch_fps
        # re-running with no new files appends nothing (exactly-once)
        q2 = stream_curate(
            spark, inp, out, ckpt, min_quality=0,
            keep_langs=("en", "de", "fr", "es"),
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(out).count() == len(stream_fps)

    def test_stream_curate_matches_driver_oracle_query(self, spark, tmp_path):
        """Tie the stream path to a HARD oracle transitively (VERDICT r5
        #6): over the exact corpus_curation fixture (sf0.001 documents +
        one replica each), the stream's surviving fingerprint set must
        equal the fingerprint set of the corpus_curation driver query —
        which the driver hash-checks against its DuckDB oracle every
        round.  Stream keeps first-arrival, batch keeps min-id; the
        digest set is the invariant both share."""
        import pyspark.sql.functions as F2

        import __spark_entry__ as entrymod
        from tesseract_rs_spark.sources.pages import pages_from_documents
        from tesseract_rs_spark.streaming.curation import stream_curate

        sf = "/root/testdata/sf0.001"
        inp, out, ckpt = (
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        docs = entrymod._docs(spark, sf)
        dup = docs.withColumn("doc_id", F2.col("doc_id") + F2.lit(1_000_000))
        pages_from_documents(
            docs.unionByName(dup), para_words=entrymod.PARA_WORDS
        ).drop("doc_id").write.parquet(inp)
        q = stream_curate(spark, inp, out, ckpt)  # default quality/lang gate
        q.awaitTermination(180)
        stream_fps = {
            r["fingerprint"]
            for r in spark.read.parquet(out).select("fingerprint").collect()
        }
        oracle_fps = {
            r["fingerprint"]
            for r in entrymod._q_corpus_curation(spark, sf)
            .select("fingerprint")
            .collect()
        }
        assert stream_fps, "stream curation kept nothing from the fixture"
        assert stream_fps == oracle_fps
