"""Full-semantics pin of the html kernel.

The golden sha256 tests cover only the corpus templates, and the fuzz tests
check only that the kernel neither raises nor wavers.  This test runs a
seeded tag-soup set (plus rendered corpus pages) through ``extract_doc``
under seven configurations and folds every ``DocResult`` field and every
``word_rows`` row into one sha256.  The digest was first recorded before the
kernel's one-group tokenizer rewrite, and re-recorded once when text after
the last tag joined the token loop's text path (only docs ending in such
text changed), and again when every line came to strip only ASCII spaces
from its edges (only docs with a line that had non-ASCII whitespace, such as
U+00A0, at an edge and a tab, newline or double space inside changed); any
change to what the kernel emits, for any input shape below, changes it.

To inspect a mismatch, call ``_doc_record`` on single documents of
``_tag_soup_docs()`` with the old and the new kernel and diff the tuples.
"""

from __future__ import annotations

import hashlib
import random

from tesseract_rs_spark.config import (
    MODE_RAW,
    MODE_SINGLE_BLOCK,
    ExtractConfig,
)
from tesseract_rs_spark.corpus import render_html
from tesseract_rs_spark.kernels.html import extract_doc, word_rows

N_SOUP = 20_000
N_CORPUS = 300

CONFIGS = {
    "auto": ExtractConfig(),
    "raw": ExtractConfig(mode=MODE_RAW),
    "single_block": ExtractConfig(mode=MODE_SINGLE_BLOCK),
    "preserve_spaces": ExtractConfig(preserve_interword_spaces=True),
    "charset": ExtractConfig(
        char_whitelist="abcdefghijklmnopqrstuvwxyz0123456789&;#",
        char_blacklist="aeq",
    ),
    "no_headings": ExtractConfig(keep_headings=False),
    # a zero budget expires at the first deadline check, so every doc with
    # at least one stride of tokens times out and every shorter doc does not
    "timeout": ExtractConfig(page_timeout_ms=0),
}

EXPECTED_DIGEST = "ef908ff7a246c39c8da26866c76514ce84be2baa3920d6de4f95ad355bba9a25"

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "café naïve straße 漢字 \U0001f600 42 2026 x y"
).split()
_ENTITIES = (
    "&amp;", "&lt;", "&gt;", "&nbsp;", "&#32;", "&#160;", "&#xa0;", "&#9;",
    "&copy;", "&middot;", "&bogus;", "&amp", "&#0;", "&#x1F600;", "&quot;",
)
_SPACES = (
    " ", "  ", "   ", "\t", "\n", "\r\n", "\xa0", " \xa0 ", " ", "\x1c",
    "\x0b", "\x0c", "\x00", " \x00 ", "\x00\xa0",
)
_BLOCK = (
    "p div h1 h2 h3 h4 h5 h6 li ul ol td tr table th dt dd pre blockquote "
    "section article main header footer nav aside form title option "
    "select textarea head body html figure caption details summary"
).split()
_INLINE = "a b i em span strong code small a a".split()
_CLASSES = (
    "nav", "menu", "sidebar", "site-footer", "cookie banner", "ad", "ads-top",
    "content", "post-body", "entry", "main", "story text", "blog_prose",
    "navigation", "advert", "header", "widget-area", "lead", "x", "",
    "comment related", "Page",
)
_RAW = (
    "<script>var s = '<p>LEAK</p>';</script>",
    "<script type=\"text/javascript\">if (a<b) {x()}</SCRIPT >",
    "<style>.a{content:'LEAK'}</style>",
    "<noscript><p>LEAK noscript</p></noscript>",
    "<svg:x>svg ns words</svg:x> tail words",
    "<svg width=3><text>LEAK</text></svg>",
    "<scriptx>scriptx is a plain tag</scriptx>",
    "<template><p>LEAK template</p></template>",
    "<script/>after self-closing script",
    "<STYLE>b{}</style >",
    "<!-- comment <p>LEAK</p> -->",
    "<!---->",
    "<!DOCTYPE html>",
    "<![CDATA[ cdata ]]>",
    "<!",
    "<! unclosed bang",
    "<",
    "< p>",
    "a<b",
    "<3",
    "</>",
    "<p/>",
    "<br/>",
    "<BR>",
    "</br>",
    "<hr>",
    "<HR/>",
    "<p data-x=\"a>b\">",
    "<div title='x>y' class='post-body'>",
    "<a href=\"/home\">",
    "<a href='/x' class=\"nav\">",
    "</a>",
    "</a></a>",
    "<img src=x.png alt='>'>",
    "<p class=nav id=content>",
    "<DIV CLASS=\"MENU\">",
    "<div Id=\"main-content\">",
    "<section class=\"related posts\">",
    "<p id>",
    "<p class>",
    "<p class=\"\">",
    "<x-custom:tag>",
    "<h2 class=\"title\">",
)
_UNCLOSED_TAILS = (
    "<script>never closed <p>LEAK</p>",
    "<!-- comment never closed <p>LEAK</p>",
    "<style>never closed",
    "<p class=\"unterminated",
)


def _text(rng: random.Random) -> str:
    out = []
    for _ in range(rng.randrange(0, 9)):
        r = rng.random()
        if r < 0.6:
            out.append(rng.choice(_WORDS))
        elif r < 0.75:
            out.append(rng.choice(_ENTITIES))
        else:
            out.append(rng.choice(_SPACES))
        if rng.random() < 0.7:
            out.append(" " if rng.random() < 0.8 else rng.choice(_SPACES))
    return "".join(out)


def _open(rng: random.Random, name: str) -> str:
    if rng.random() < 0.15:
        name = name.upper()
    r = rng.random()
    if r < 0.35:
        return f"<{name}>"
    attr = rng.choice(("class", "id", "CLASS", "Id", "data-role", "title"))
    val = rng.choice(_CLASSES)
    q = rng.choice(('"', "'", ""))
    if not q and (" " in val or not val):
        q = '"'
    extra = " href=\"/p\"" if rng.random() < 0.2 else ""
    return f"<{name}{extra} {attr}={q}{val}{q}>"


def _soup_doc(rng: random.Random, n_tokens: int) -> str:
    parts = []
    stack: list = []
    for _ in range(n_tokens):
        r = rng.random()
        if r < 0.32:
            parts.append(_text(rng))
        elif r < 0.52:
            name = rng.choice(_BLOCK)
            parts.append(_open(rng, name))
            stack.append(name)
        elif r < 0.64:
            if stack and rng.random() < 0.8:
                # mostly well nested, sometimes closing an outer element
                name = stack.pop() if rng.random() < 0.8 else rng.choice(stack)
            else:
                name = rng.choice(_BLOCK)
            parts.append(f"</{name}>")
        elif r < 0.76:
            name = rng.choice(_INLINE)
            parts.append(_open(rng, name) if rng.random() < 0.6 else f"</{name}>")
        elif r < 0.82:
            parts.append(rng.choice(("<br>", "<br/>", "<BR >", "<br class=x>")))
        else:
            parts.append(rng.choice(_RAW))
    if rng.random() < 0.05:
        parts.append(rng.choice(_UNCLOSED_TAILS))
    return "".join(parts)


def _tag_soup_docs() -> list:
    rng = random.Random(20261018)
    docs: list = []
    for i in range(N_SOUP):
        if i % 1000 == 7:
            # around the deadline check stride: 1,600-3,200 list tokens
            # before the soup (which an unclosed raw element may swallow)
            items = "<li><a href=\"/x\">w</a></li>" * rng.randrange(400, 800)
            docs.append((items + _soup_doc(rng, 400)).encode("utf-8"))
        else:
            docs.append(_soup_doc(rng, rng.randrange(1, 32)).encode("utf-8"))
    # error and edge rows
    docs += [b"", None, b"\xff\xfe<p>x</p>", b"<p>ab\xc3\x28cd</p>", b"no markup",
             "<p>str payload words here</p>", bytearray(b"<p>bytearray words</p>"),
             memoryview(b"<p>memoryview words</p>"), b"\x00<p>\x00</p>\x00",
             "<nav>\x00\xa0</nav><p>\x00</p><p>\xa0</p>".encode()]
    for i in range(N_CORPUS):
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(0, 120)))
        docs.append(render_html(words, i, "en", para_words=rng.randrange(2, 30)).encode())
    return docs


def _doc_record(r) -> tuple:
    blocks = tuple((b.tag, b.src_start, b.src_end, b.score, b.n_words) for b in r.blocks)
    return (
        r.status,
        r.text,
        blocks,
        r.n_blocks_total,
        r.n_blocks_kept,
        r.n_words,
        r.mean_conf,
        r.n_chars,
        tuple(r.failure_spans),
        tuple(word_rows(r)),
    )


def kernel_digest(docs: list) -> tuple:
    """(sha256 hex, per-config counters) over every config and doc."""
    h = hashlib.sha256()
    stats = {}
    for name, cfg in CONFIGS.items():
        h.update(name.encode())
        n_timeout = n_spans = n_kept = 0
        for d in docs:
            r = extract_doc(d, cfg)
            n_timeout += r.status == "timeout"
            n_spans += bool(r.failure_spans) and r.status == "ok"
            n_kept += r.n_blocks_kept > 0
            h.update(repr(_doc_record(r)).encode("utf-8"))
        stats[name] = (n_timeout, n_spans, n_kept)
    return h.hexdigest(), stats


def test_kernel_digest_is_pinned():
    docs = _tag_soup_docs()
    assert len(docs) >= N_SOUP
    joined = b"".join(bytes(d) for d in docs if isinstance(d, (bytes, bytearray)))
    for needle in (b"\x00", "\xa0".encode(), b"&#32;", b"<svg:x>", b"<scriptx>",
                   b"<!--", b"class=nav", b"post-body"):
        assert needle in joined, needle
    digest, stats = kernel_digest(docs)
    # the set reaches every outcome the digest is meant to pin
    assert stats["timeout"][0] >= 15
    assert stats["auto"][1] > N_SOUP // 4 and stats["auto"][2] > N_SOUP // 4
    assert digest == EXPECTED_DIGEST
