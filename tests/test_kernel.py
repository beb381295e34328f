"""Unit tests for the extraction kernel — the reference's per-method API
test altitude (/root/reference/tests/test_api.rs, SURVEY.md §5.2)."""

import pytest

from tesseract_rs_spark.config import (
    MODE_AUTO,
    MODE_RAW,
    MODE_SINGLE_BLOCK,
    ExtractConfig,
    mode_from_int,
)
from tesseract_rs_spark.kernels.html import (
    STATUS_EMPTY,
    STATUS_NOT_HTML,
    STATUS_OK,
    STATUS_UTF8,
    extract_doc,
    word_rows,
)

CFG = ExtractConfig()


def wrap(body: str) -> bytes:
    return f"<html><body>{body}</body></html>".encode()


class TestErrorModel:
    """Error rows, never exceptions (reference error model,
    /root/reference/src/error.rs:6-41, tests/test_e2e.rs:262-289)."""

    def test_empty_input(self):
        r = extract_doc(b"", CFG)
        assert r.status == STATUS_EMPTY and r.text == ""

    def test_none_input(self):
        assert extract_doc(None, CFG).status == STATUS_EMPTY

    def test_invalid_utf8(self):
        r = extract_doc(b"<p>ab\xc3\x28cd</p>", CFG)
        assert r.status == STATUS_UTF8
        assert r.failure_spans and r.failure_spans[0][0] >= 0

    def test_not_html(self):
        r = extract_doc(b"just plain words no markup", CFG)
        assert r.status == STATUS_NOT_HTML and r.text == ""

    def test_usable_after_error(self):
        # API stays usable after errors (tests/test_e2e.rs:262-289)
        extract_doc(b"\xff\xfe", CFG)
        r = extract_doc(wrap("<p>one two three four five six</p>"), CFG)
        assert r.status == STATUS_OK and "one two" in r.text


class TestAssembly:
    """The byte-identical assembly contract (SURVEY.md §2.4)."""

    def test_words_lines_blocks(self):
        html = wrap(
            "<article><p>alpha beta gamma delta epsilon</p>"
            "<p>first line words here now<br>second line words here now</p></article>"
        )
        r = extract_doc(html, CFG)
        assert r.text == (
            "alpha beta gamma delta epsilon\n\n"
            "first line words here now\nsecond line words here now\n"
        )

    def test_trailing_newline_only_when_nonempty(self):
        assert extract_doc(wrap(""), CFG).text == ""

    def test_whitespace_collapse(self):
        html = wrap("<article><p>a   b\t\tc\n\nd e f</p></article>")
        assert extract_doc(html, CFG).text == "a b c d e f\n"

    def test_entity_unescape(self):
        html = wrap("<article><p>fish &amp; chips &lt;tag&gt; caf&eacute; ok</p></article>")
        assert extract_doc(html, CFG).text == "fish & chips <tag> café ok\n"

    def test_inline_tags_do_not_split_words(self):
        html = wrap("<article><p>hel<b>lo</b> wor<i>ld</i> again three more</p></article>")
        assert extract_doc(html, CFG).text == "hello world again three more\n"

    def test_determinism(self):
        html = wrap("<article><p>one two three four five</p></article>")
        assert extract_doc(html, CFG).text == extract_doc(html, CFG).text


class TestBoilerplate:
    def test_nav_header_footer_aside_dropped(self):
        html = wrap(
            '<header><h1>Site</h1></header><nav><a href="/">Home</a> <a href="/x">X</a></nav>'
            "<article><p>real content words go here today</p></article>"
            '<aside>ad words</aside><footer>copyright words</footer>'
        )
        r = extract_doc(html, CFG)
        assert r.text == "real content words go here today\n"

    def test_negative_class_dropped(self):
        html = wrap(
            '<div class="cookie-banner">We use cookies accept now please</div>'
            "<article><p>real content words go here today</p></article>"
        )
        assert extract_doc(html, CFG).text == "real content words go here today\n"

    def test_positive_class_kept(self):
        html = wrap('<div class="post-body">short text</div>')
        assert extract_doc(html, CFG).text == "short text\n"

    @pytest.mark.parametrize("attr", ["class", "cLass", "CLASS", "id", "iD", "ID"])
    def test_class_id_attribute_name_any_case(self, attr):
        """HTML attribute names are case-insensitive: every spelling of
        ``class``/``id`` drops a negative block and keeps a positive one."""
        article = "<article><p>real content words go here today</p></article>"
        dropped = wrap(f'<div {attr}="nav">menu words one two three four</div>' + article)
        assert extract_doc(dropped, CFG).text == "real content words go here today\n"
        kept = wrap(f'<div {attr}="post-body">short text</div>')
        assert extract_doc(kept, CFG).text == "short text\n"

    @pytest.mark.parametrize("attr", ["data-id", "subclass", "grid", "data-class", "title"])
    def test_other_attribute_names_do_not_classify(self, attr):
        """Only the whole names ``class``/``id`` classify: a block under any
        other attribute, ``data-id`` or ``subclass`` too, is judged like a
        plain ``<div>``."""
        article = "<article><p>real content words go here today</p></article>"
        for val, body in (("nav", "menu words one two three four"), ("post-body", "short text")):
            got = extract_doc(wrap(f'<div {attr}="{val}">{body}</div>' + article), CFG)
            plain = extract_doc(wrap(f"<div>{body}</div>" + article), CFG)
            assert got.text == plain.text

    @pytest.mark.parametrize(
        "body, mode",
        [
            ("<b>tail\x00text more words here</b>", MODE_AUTO),
            ("<b>tail\x00text more words here</b>", MODE_RAW),
            ("<b>tail\x00text more words here</b>", MODE_SINGLE_BLOCK),
            ('<a href="/x">tail link words</a>', MODE_AUTO),
        ],
        ids=["nul", "nul_raw", "nul_single_block", "anchor"],
    )
    def test_tail_text_is_text_like_any_other(self, body, mode):
        """Text after the last tag goes through the same path as every other
        text: NUL becomes a space in every mode and anchor text counts
        towards link density.  A page ending in an unclosed tag extracts as
        if the tag were closed."""
        cfg = ExtractConfig(mode=mode)
        lead = "<div>lead prose words one two three four five six seven</div>"
        closed = extract_doc(lead + body, cfg)
        unclosed = extract_doc(lead + body[: body.rindex("<")], cfg)
        assert unclosed.text == closed.text
        assert [b.link_density for b in unclosed.blocks] == [
            b.link_density for b in closed.blocks
        ]
        assert "\x00" not in closed.text

    def test_link_density_drop(self):
        links = " ".join(f'<a href="/{i}">link number {i} here</a>' for i in range(8))
        html = wrap(f"<div>{links}</div><div>plain prose with many genuine words</div>")
        r = extract_doc(html, CFG)
        assert r.text == "plain prose with many genuine words\n"

    def test_script_style_comment_never_leak(self):
        html = wrap(
            "<script>var x = 'LEAK1';</script><style>.a{content:'LEAK2'}</style>"
            "<!-- LEAK3 --><article><p>visible words one two three</p></article>"
        )
        r = extract_doc(html, CFG)
        for leak in ("LEAK1", "LEAK2", "LEAK3"):
            assert leak not in r.text

    def test_heading_kept_before_content(self):
        html = wrap(
            "<h2>Title Words</h2><p>body content words go here today fine</p>"
        )
        r = extract_doc(html, CFG)
        assert r.text.startswith("Title Words\n\n")

    def test_failure_spans_cover_dropped_blocks(self):
        html = wrap(
            '<nav><a href="/">Home Page Link</a></nav>'
            "<article><p>content words here one two three</p></article>"
        )
        r = extract_doc(html, CFG)
        assert r.failure_spans, "dropped nav must produce a failure span"
        s, e = r.failure_spans[0]
        assert 0 <= s < e


class TestConfigSurface:
    """set_variable / PSM / ROI analogs (SURVEY.md §2.2)."""

    def test_whitelist(self):
        # tessedit_char_whitelist analog (tests/integration_test.rs:129-130)
        cfg = ExtractConfig().with_variable("tessedit_char_whitelist", "0123456789 ")
        html = wrap("<article><p>call 555 0123 now or 911 today</p></article>")
        r = extract_doc(html, cfg)
        assert set(r.text) <= set("0123456789 \n")
        assert "555 0123 911" in r.text

    def test_blacklist(self):
        cfg = ExtractConfig().with_variable("tessedit_char_blacklist", "aeiou")
        html = wrap("<article><p>banana split yes ok go</p></article>")
        r = extract_doc(html, cfg)
        assert "a" not in r.text and "bnn" in r.text

    def test_preserve_interword_spaces(self):
        cfg = ExtractConfig().with_variable("preserve_interword_spaces", "1")
        html = wrap("<article><p>col1   col2   col3</p></article>")
        assert "col1   col2   col3" in extract_doc(html, cfg).text

    def test_variable_roundtrip_and_unknown_errors(self):
        cfg = ExtractConfig().with_variable("custom_knob", "42")
        assert cfg.get_variable("custom_knob") == "42"
        with pytest.raises(KeyError):
            cfg.get_variable("nonexistent_variable")  # tests/test_api.rs:1083

    def test_mode_default_on_invalid(self):
        # out-of-range PSM decodes to AUTO (enums.rs:23-42)
        assert mode_from_int(99) == MODE_AUTO
        assert mode_from_int(MODE_RAW) == MODE_RAW

    def test_single_block_mode_keeps_boilerplate(self):
        cfg = ExtractConfig(mode=MODE_SINGLE_BLOCK)
        html = wrap('<nav><a href="/">HomeLink</a></nav><p>words</p>')
        r = extract_doc(html, cfg)
        assert "HomeLink" in r.text and "words" in r.text
        assert r.n_blocks_kept == 1

    def test_roi(self):
        # set_rectangle analog (/root/reference/src/api.rs:1289-1296)
        html = b"<p>first part words</p><p>second part words</p>"
        cut = html.index(b"<p>second")
        cfg = ExtractConfig(mode=MODE_SINGLE_BLOCK, roi_start=cut)
        r = extract_doc(html, cfg)
        assert "second part words" in r.text and "first" not in r.text


class TestHierarchy:
    """Iterator-behavior altitude (/root/reference/tests/test_iterators.rs)."""

    def test_word_rows_reading_order(self):
        html = wrap(
            "<article><p>aa bb<br>cc</p><p>dd</p></article>"
        )
        r = extract_doc(html, CFG)
        rows = word_rows(r)
        assert [(b, l, w, t) for b, _, l, w, t, *_ in rows] == [
            (0, 0, 0, "aa"),
            (0, 0, 1, "bb"),
            (0, 1, 0, "cc"),
            (1, 0, 0, "dd"),
        ]

    def test_confidences_in_domain(self):
        # all confidences in [0,100] (tests/test_api.rs:221-238)
        html = wrap("<article><p>some words here for conf</p></article>")
        r = extract_doc(html, CFG)
        for _b, _p, _l, _w, _word, conf, s, e in word_rows(r):
            assert 0.0 <= conf <= 100.0
            assert 0 <= s < e  # span invariant (bbox l<r analog,
            # tests/test_iterators.rs:179-193)
        assert 0 <= r.mean_conf <= 100


@pytest.mark.parametrize(
    "cfg",
    [
        ExtractConfig(),
        ExtractConfig(preserve_interword_spaces=True),
        ExtractConfig(char_whitelist="abcdefghijklmnopqrstuvwxyz"),
    ],
    ids=["default", "preserve_spaces", "whitelist"],
)
def test_word_explode_matches_word_rows(cfg):
    """The batch-columnar word explode of the words operator must equal
    each doc's ``word_rows`` with that doc's ids repeated, across a batch
    that mixes worded pages, an empty doc and a utf8-error row."""
    from functools import partial

    import pyarrow as pa

    from tesseract_rs_spark.corpus import render_html
    from tesseract_rs_spark.operators.arrow import arrow_fields, map_batch
    from tesseract_rs_spark.operators.extract import WORD_RESULT_FIELDS, word_columns

    fields = arrow_fields(WORD_RESULT_FIELDS)
    words = partial(word_columns, cfg=cfg)

    docs = [
        render_html("alpha beta gamma " * 30, 7, "en").encode(),
        b"",
        b"<p>ab\xc3\x28cd</p>",
        wrap("<article><p>aa  bb&#32;&#32;cc<br>dd\tee</p><p>ONE two 3</p></article>"),
        render_html("delta epsilon zeta " * 12, 8, "en", para_words=5).encode(),
        b"<html><body></body></html>",
    ]
    urls = [f"u{i}" for i in range(len(docs))]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls), pa.array(list(range(len(docs))), pa.int64()), pa.array(docs, pa.binary())],
        names=["url", "doc_id", "html"],
    )
    arrays = map_batch(batch, 2, words, fields, explode=True).columns
    got = list(zip(*(a.to_pylist() for a in arrays)))
    want = [
        (url, doc_id) + row
        for doc_id, (url, html) in enumerate(zip(urls, docs))
        for row in word_rows(extract_doc(html, cfg))
    ]
    assert got == want
    assert {u for u, *_ in got} == {"u0", "u3", "u4"}
    # an all-empty batch yields no batch at all
    empty = batch.slice(1, 2)
    assert map_batch(empty, 2, words, fields, explode=True) is None


def test_token_cache_stays_bounded():
    """Both dispatch caches (whole token, tag head) are capped in entries
    and in key length; outputs do not depend on what they hold."""
    from tesseract_rs_spark.corpus import render_html
    from tesseract_rs_spark.kernels import html as kernel

    page = render_html("alpha beta gamma " * 30, 7, "en").encode()
    kernel._TOKEN_INFO.clear()
    kernel._HEAD_INFO.clear()
    cold = extract_doc(page, CFG)
    # more distinct tokens and tag names than the caps, including
    # negative-class block tags whose dispatch carries the class/id flags
    n = kernel._TOKEN_INFO_MAX + 500
    flood = "".join(
        f'<div class="nav n{i}"><span id="s{i}">w{i}</span><x-{i}>t</x-{i}></div>'
        for i in range(n)
    )
    huge = '<div class="menu" data-x="' + "x" * (2 * kernel._TOKEN_KEY_MAX) + '">'
    huge_name = "y" * (2 * kernel._TOKEN_KEY_MAX)
    doc = wrap(flood + huge + "menu words dropped here" + "</div>"
               f"<{huge_name}>inline</{huge_name}>"
               "<article><p>real content words survive the flood</p></article>")
    for _ in range(2):
        r = extract_doc(doc, CFG)
        assert r.text == "inline\n\nreal content words survive the flood\n"
        assert len(r.failure_spans) == 32
        for cache in (kernel._TOKEN_INFO, kernel._HEAD_INFO):
            assert len(cache) <= kernel._TOKEN_INFO_MAX
            assert max(map(len, cache)) <= kernel._TOKEN_KEY_MAX
    assert len(kernel._HEAD_INFO) == kernel._TOKEN_INFO_MAX
    assert huge not in kernel._TOKEN_INFO
    # full (and refilled) caches serve the same results as cold ones
    for _ in range(2):
        warm = extract_doc(page, CFG)
        assert (warm.text, warm.n_blocks_total, warm.failure_spans, word_rows(warm)) == (
            cold.text, cold.n_blocks_total, cold.failure_spans, word_rows(cold)
        )
