"""Main-content extraction kernel for Common-Crawl-style HTML pages.

This is the web-text analog of the reference's page-analysis pipeline
(threshold -> segment -> recognize -> assemble, observable through
``analyse_layout`` /root/reference/src/api.rs:1353-1364 and
``get_utf8_text`` /root/reference/src/api.rs:1303-1328):

1. **decode** — bytes -> str with strict UTF-8 validation; invalid UTF-8 is
   an error row, never an exception (reference Utf8Error,
   /root/reference/src/error.rs:13-14).
2. **segment** — one ``re.split`` tokenizes the page; a loop over its
   tokens, dispatching each through bounded token and tag-name caches,
   builds a flat list of *blocks* (the reference's RIL_BLOCK level,
   ``enums.rs``).
   ``<br>`` produces lines within a block (RIL_TEXTLINE); a line's words
   (RIL_WORD) are its ``' '``-separated parts and are only split out where
   word rows are emitted.  A block whose ancestry is hard boilerplate or
   negative-class is dropped whatever its words, so it is never
   normalized: it keeps only its source span and whether it holds text.
3. **classify** — densitometric boilerplate classification (link density +
   word count, Boilerpipe-style) combined with semantic-tag and class/id
   heuristics decides which blocks are main content; the per-block score
   doubles as the confidence channel (reference confidences are 0-100,
   /root/reference/src/result_iterator.rs:65-71).
4. **assemble** — lines joined by ``'\\n'``, blocks by ``'\\n\\n'``, one
   trailing ``'\\n'`` (words inside a line are already ``' '``-joined) —
   the byte-identical invariant surface (get_utf8_text contract,
   SURVEY.md §2.4).

Everything here is deterministic: pure functions of (bytes, config).  No
I/O, no randomness, no wall-clock (the optional page deadline aside).
"""

from __future__ import annotations

import functools as _functools
import html as _htmllib
import re
import time as _time
from dataclasses import dataclass
from itertools import accumulate as _accumulate

from tesseract_rs_spark.config import (
    MODE_AUTO,
    MODE_RAW,
    MODE_SINGLE_BLOCK,
    ExtractConfig,
)

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

# Raw-text elements (script/style/...) are consumed whole so their contents
# never reach the text stream; comments and doctypes likewise.
_RAW_TAGS = ("script", "style", "noscript", "svg", "template")

# The whole tokenizer is ONE capturing group, so ``re.split`` returns
# ``[text, token] * n_tokens + [tail_text]`` in a single C call: no
# per-token Match objects and one string allocation per token.  Each raw
# element is its own alternative with a literal close tag (instead of a
# named group and a backreference, which would add a capture per token).
_SPLIT_RE = re.compile(
    r"""(
      <!--.*?(?:-->|$)                                   # comment
    | <!(?:[^>]*)>                                       # doctype / CDATA-ish
    """
    + "".join(
        rf"""| <{t}\b[^>]*?(?:/>|>.*?(?:</{t}\s*>|$))
    """
        for t in _RAW_TAGS
    )
    + r"""| </?[a-zA-Z][a-zA-Z0-9:-]*
        (?:"[^"]*"|'[^']*'|[^>"'])*
      >
    )""",
    re.DOTALL | re.IGNORECASE | re.VERBOSE,
)
# A token's head: ``<`` or ``</`` and its tag name.  Every token that does
# not start with ``<!`` has one; a raw element's head names a raw tag
# (``<svg:x`` too, as ``\b`` matches before ``:``), so it dispatches as an
# inline tag, like every name outside the block set, ``br`` and ``a``.
_TAG_HEAD_RE = re.compile(r"</?[a-zA-Z][a-zA-Z0-9:-]*")

# whole attribute names only: ``data-id`` or ``subclass`` is another
# attribute.  A quoted value matches as a whole with no group set, so a
# ``class=`` inside ``title="see class=nav"`` is part of the title.
_CLASS_ID_RE = re.compile(
    r""""[^"]*"|'[^']*'"""
    r"""|(?<![^\s"'/])(?:class|id)\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))""",
    re.IGNORECASE,
)

# Block-level elements: opening/closing one flushes the current text block.
_BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead tbody tr td th
    article section main header footer nav aside blockquote pre figure
    figcaption form fieldset address hr caption summary details body html
    head title option select textarea""".split()
)

# Ancestor containers whose contents are boilerplate by construction.
_HARD_BOILERPLATE_TAGS = frozenset(
    "nav aside footer header form head title option select textarea".split()
)
# Void elements that must not be pushed onto the open-tag stack.
_VOID_TAGS = frozenset(("hr",))
# Ancestor containers that mark main content.
_CONTENT_TAGS = frozenset("article main".split())
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# class/id substring signals (public-heuristic lists, cf. Boilerpipe /
# Readability-style filters — re-derived, not copied).
_NEGATIVE_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|menu|sidebar|footer|header|banner|cookie|consent|"
    r"ad|ads|advert|promo|sponsor|share|social|comment|related|breadcrumb|"
    r"pagination|masthead|widget|popup|modal|subscribe|newsletter)(?:$|[\s_-])",
    re.IGNORECASE,
)
_POSITIVE_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(?:content|article|post|entry|main|body|story|text|page|"
    r"blog|prose)(?:$|[\s_-])",
    re.IGNORECASE,
)

_WS_RE = re.compile(r"[ \t\r\n\f\v]+")
_TAB_NL_RE = re.compile(r"[\t\r\n\f\v]+")
# anything the ws-normalize sub would actually change; when absent (the
# common case for real content lines) a plain strip is equivalent
_WS_ANOM_RE = re.compile(r"[\t\r\n\f\v]|  ")

# Confidence levels (0-100 like the reference's word confidences,
# /root/reference/src/api.rs:555-572).
CONF_HARD_KEEP = 95.0
CONF_HEADING = 75.0
CONF_RESCUE = 55.0
CONF_DROPPED = 0.0

# Statuses (error-variant analog, /root/reference/src/error.rs:6-41).
STATUS_OK = "ok"
STATUS_EMPTY = "empty_input"
STATUS_UTF8 = "utf8_error"
STATUS_NOT_HTML = "not_html"
STATUS_TIMEOUT = "timeout"

# cooperative deadline check cadence (tokens between clock reads)
_DEADLINE_STRIDE = 2048

# Per-token dispatch: what a token does to the segmenter.  The singletons
# are compared by identity; a block tag's info is a tuple
# (name, closing, drops, keeps): an opening tag drops its contents if it
# is hard boilerplate or carries a negative class/id, and keeps them if it
# is article/main or carries a positive class/id.
_INERT = ("inert",)  # comment, doctype, raw element, inline tag, </br>
_BR = ("br",)
_A_OPEN = ("a",)
_A_CLOSE = ("/a",)
_VOID = ("void",)

# Two bounded caches, each capped in entries and in key length so neither
# many distinct tokens nor one huge token can grow worker memory:
# - token string -> dispatch info, probed once per token by the segmenter.
#   Hits need repeated tokens: ``<li>``, ``</a>``, template links such as
#   ``<a href="/home">`` (97.8% of tokens on the html_extract corpus; 67% on
#   the same pages with every href and id made unique).  Cleared when full.
# - tag head (exact case) -> dispatch info from the name alone: a token
#   missing from the first cache costs one head match and one probe here,
#   plus the class/id scan for a block-open tag with attributes.  Tag names
#   repeat on any input, so this one stops filling when full.
_TOKEN_INFO: dict = {}
_HEAD_INFO: dict = {}
_TOKEN_INFO_MAX = 4096
_TOKEN_KEY_MAX = 256


def _head_info(head: str) -> tuple:
    """Dispatch info of a tag head, cached in :data:`_HEAD_INFO`; for a
    block-open tag, the drop/keep flags of its name alone."""
    closing = head[1] == "/"
    name = head[1 + closing :].lower()
    if name == "br":
        info = _INERT if closing else _BR
    elif name == "a":
        info = _A_CLOSE if closing else _A_OPEN
    elif name not in _BLOCK_TAGS:
        info = _INERT
    elif name in _VOID_TAGS:
        info = _VOID
    else:
        info = (name, closing, name in _HARD_BOILERPLATE_TAGS, name in _CONTENT_TAGS)
    if len(_HEAD_INFO) < _TOKEN_INFO_MAX and len(head) <= _TOKEN_KEY_MAX:
        _HEAD_INFO[head] = info
    return info


def _token_info(token: str) -> tuple:
    """Dispatch info of one tokenizer token, cached in :data:`_TOKEN_INFO`."""
    if not token or token[1] == "!":
        # the tail sentinel, and comments, which are often unique per
        # page: never cached
        return _INERT
    head = _TAG_HEAD_RE.match(token).group()
    info = _HEAD_INFO.get(head) or _head_info(head)
    if len(info) == 4 and not info[1]:  # block-open: add its class/id flags
        attrs = token[len(head) : -1]
        if attrs:
            name, _, drops, keeps = info
            for am in _CLASS_ID_RE.finditer(attrs):
                # "" for a skipped quoted value: neither class regex matches it
                val = am.group(2) or am.group(3) or am.group(4) or ""
                if _NEGATIVE_CLASS_RE.search(val):
                    drops = True
                elif _POSITIVE_CLASS_RE.search(val):
                    keeps = True
            info = (name, False, drops, keeps)
    if len(token) <= _TOKEN_KEY_MAX:
        if len(_TOKEN_INFO) >= _TOKEN_INFO_MAX:
            _TOKEN_INFO.clear()
        _TOKEN_INFO[token] = info
    return info


class PageTimeout(Exception):
    """Raised inside the token loop when the per-page deadline expires
    (TessMonitor deadline analog, /root/reference/src/monitor.rs:18-50).
    Always caught by :func:`extract_doc` — never escapes to the task."""


@dataclass(slots=True)
class Block:
    """One segmented block (RIL_BLOCK analog) that holds words and is not
    structurally dropped; classification sets ``kept``/``score``."""

    tag: str
    src_start: int
    src_end: int
    lines: list  # str per line, words joined by ' '
    n_words: int
    link_density: float
    hard_keep: bool  # article/main or positive-class ancestry
    spaced: bool  # preserve_interword_spaces: each line is ONE word
    kept: bool = False
    score: float = CONF_DROPPED

    def line_words(self) -> list:
        """Words per line (RIL_WORD level)."""
        if self.spaced:
            return [[ln] for ln in self.lines]
        return [ln.split(" ") for ln in self.lines]


@dataclass(slots=True)
class DocResult:
    """Extraction result for one document."""

    status: str
    text: str
    blocks: list  # kept Block objects, in reading order
    n_blocks_total: int
    n_blocks_kept: int
    n_words: int
    mean_conf: int
    n_chars: int
    failure_spans: list  # [(start, end)] source-offset spans of dropped/bad regions


def _clean_lines(parts: list, preserve_spaces: bool) -> list:
    """A block's non-empty lines, whitespace-normalized, not unescaped."""
    raw = "".join(parts)
    out = []
    # most blocks have no <br> marker — skip the split allocation
    for raw_line in raw.split("\x00") if "\x00" in raw else (raw,):
        if preserve_spaces:
            # preserve_interword_spaces=1: keep space runs, normalize other ws
            line = _TAB_NL_RE.sub(" ", raw_line).strip(" ")
        elif _WS_ANOM_RE.search(raw_line) is None:
            # no tabs/newlines/double spaces: sub would be the identity
            line = raw_line.strip(" ")
        else:
            # strip(" ") as above: U+00A0 is not HTML whitespace
            line = _WS_RE.sub(" ", raw_line).strip(" ")
        if line:
            out.append(line)
    return out


def _live_block(
    tag: str, start: int, end: int, parts: list, total: int, anchor: int,
    hard_keep: bool, preserve_spaces: bool,
) -> Block | None:
    """Finalize a block that classification may keep; None if it has no words."""
    lines = _clean_lines(parts, preserve_spaces)
    if not lines:
        return None
    n_words = 0
    for i, line in enumerate(lines):
        if "&" in line:
            lines[i] = line = _htmllib.unescape(line)
        # a line's words are its ' '-separated parts (empty ones included)
        n_words += 1 if preserve_spaces else line.count(" ") + 1
    return Block(
        tag, start, end, lines, n_words,
        min(1.0, anchor / total) if total else 0.0,
        hard_keep, preserve_spaces,
    )


def _segment(doc: str, cfg: ExtractConfig, deadline: float | None = None):
    """Single-pass tokenize + block segmentation.  Returns
    ``(n_blocks, recs)``: the count of all blocks (a block opens at its
    first non-space text or ``<br>``) and, in source order, every block
    that holds words — a finalized :class:`Block`, or a
    ``(src_start, src_end)`` tuple for a block that hard-boilerplate or
    negative-class ancestry drops (AUTO mode only).  Ancestry is fixed for
    a block's lifetime: every block tag flushes the open block first.

    Hot path: ONE C-level ``re.split`` yields ``[text, token] * n + [tail]``;
    an empty sentinel token after the tail sends it through the loop like
    every other text.  Source offsets reconstruct from cumulative lengths,
    and each token's dispatch is one probe of :data:`_TOKEN_INFO`.  Every
    ``_DEADLINE_STRIDE`` tokens the wall clock is checked against
    ``deadline`` (monotonic seconds) so a pathological page aborts with
    :class:`PageTimeout` instead of stalling the task."""
    closed: list = []  # (parts, start, end, total, anchor, tag, dead, keep)
    raw_mode = cfg.mode == MODE_RAW
    plain = not (raw_mode or cfg.mode == MODE_SINGLE_BLOCK)
    auto = cfg.mode == MODE_AUTO
    preserve = cfg.preserve_interword_spaces
    has_nul = "\x00" in doc  # ONE scan per doc instead of one per token
    # Ancestry state of blocks opened now: structurally dropped (hard
    # boilerplate or negative-class ancestor, AUTO only), and kept
    # (article/main or positive-class ancestor).  Each open-tag stack
    # entry saves the state from before its push, so popping to an entry
    # restores it without depth counters.
    dead = keep = False
    tag_stack: list = []  # (name, dead, keep) before the push
    cur_tag = "body"
    d_a = 0  # <a> depth
    # the open block: its text parts ("\x00" marks <br>), None if none is
    # open; start offset, text chars and anchor-text chars
    parts: list | None = None
    start = total = anchor = 0

    split = _SPLIT_RE.split(doc)
    split.append("")  # the tail's sentinel token: inert, zero-length
    texts = split[0::2]
    tokens = split[1::2]
    # source offsets in one C pass: offs[2k] / offs[2k + 1] are where
    # token k starts / ends
    offs = list(_accumulate(map(len, split)))
    n_tokens = 0
    timed = deadline is not None  # hoisted: the common case pays no
    # counter arithmetic per token (page_timeout_ms defaults to None)
    # The lazy ``map`` sees infos the loop caches for earlier tokens.
    for text, token, info, tok_start, end in zip(
        texts, tokens, map(_TOKEN_INFO.get, tokens), offs[0::2], offs[1::2]
    ):
        if timed:
            # checked before the count moves, so the sentinel never adds a
            # check: one after every full stride of real tokens
            if n_tokens % _DEADLINE_STRIDE == 0 and n_tokens and _time.monotonic() > deadline:
                raise PageTimeout
            n_tokens += 1
        if text:
            if not text.isspace():
                tlen = len(text)
                if parts is None:
                    parts = []
                    start = tok_start - tlen
                    total = anchor = 0
                if has_nul and "\x00" in text:
                    text = text.replace("\x00", " ")
                parts.append(text)
                total += tlen
                if d_a > 0:
                    anchor += tlen
                if raw_mode:
                    parts.append("\x00")
            elif parts is not None:
                parts.append(" ")
        if info is None:
            info = _token_info(token)
        if info is _INERT:
            continue
        if info is _A_OPEN:  # anchor depth (all modes)
            d_a += 1
            continue
        if info is _A_CLOSE:
            if d_a > 0:
                d_a -= 1
            continue
        if info is _BR:
            if parts is None:
                parts = []
                start = end
                total = anchor = 0
            parts.append("\x00")
            continue
        if not plain:
            continue
        # block tag
        if parts is not None:
            closed.append((parts, start, tok_start, total, anchor, cur_tag, dead, keep))
            parts = None
        if info is _VOID:
            continue
        name, closing, drops, keeps = info
        if not closing:
            tag_stack.append((name, dead, keep))
            if drops and auto:
                dead = True
            if keeps:
                keep = True
            cur_tag = name
        else:
            # pop to matching open tag (forgiving of misnesting)
            for i in range(len(tag_stack) - 1, -1, -1):
                if tag_stack[i][0] == name:
                    _, dead, keep = tag_stack[i]
                    del tag_stack[i:]
                    cur_tag = tag_stack[-1][0] if tag_stack else "body"
                    break
    if parts is not None:
        closed.append((parts, start, end, total, anchor, cur_tag, dead, keep))

    recs: list = []
    for parts, start, end, total, anchor, tag, dead, keep in closed:
        if not dead:
            b = _live_block(tag, start, end, parts, total, anchor, keep, preserve)
            if b is not None:
                recs.append(b)
        elif has_nul:
            # a "\x00" text became " ": only the full normalization knows
            if _clean_lines(parts, preserve):
                recs.append((start, end))
        elif len(parts) > parts.count(" ") + parts.count("\x00"):
            # without NUL a text part is never " " or "\x00", and every
            # text part holds a word once normalized
            recs.append((start, end))
    return len(closed), recs


def _rescue(cluster: list, min_words: int) -> None:
    """Keep a whole candidate cluster if any member is kept or together
    they reach ``min_words``."""
    if any(b.kept for b in cluster) or sum(b.n_words for b in cluster) >= min_words:
        for b in cluster:
            if not b.kept:
                b.kept, b.score = True, CONF_RESCUE


def _classify(recs: list, cfg: ExtractConfig) -> list:
    """Boilerplate classification with one smoothing pass over the worded
    blocks ``recs`` from :func:`_segment`.  Sets ``kept``/``score`` on
    every :class:`Block` and returns the Blocks in order."""
    min_words = cfg.min_content_words
    max_ld = cfg.max_link_density
    live: list = []
    # Cluster smoothing (Boilerpipe-style "surrounded" rule, re-derived):
    # contiguous runs of *clean candidate* blocks — not structurally
    # boilerplate, link density within bounds, not headings — are judged on
    # their AGGREGATE word count.  A run of short paragraphs that together
    # read like prose is content even though each block alone is short.
    # A worded boilerplate/nav-like block separates page regions; empty
    # blocks never reach ``recs``, so they never break adjacency.
    cluster: list = []
    for b in recs:
        if b.__class__ is tuple:  # structurally dropped
            if cluster:
                _rescue(cluster, min_words)
                cluster = []
            continue
        live.append(b)
        ld = b.link_density
        heading = b.tag in _HEADING_TAGS
        if b.hard_keep:
            b.kept, b.score = True, CONF_HARD_KEEP
        elif heading:
            # provisional: rescued below if kept content follows
            b.score = CONF_HEADING
        elif b.n_words >= min_words and ld <= max_ld:
            b.kept = True
            b.score = round(90.0 - 60.0 * ld, 1)
        if heading or ld > max_ld:
            if cluster:
                _rescue(cluster, min_words)
                cluster = []
        else:
            cluster.append(b)
    if cluster:
        _rescue(cluster, min_words)

    # headings directly before kept content are kept; the look-ahead skips
    # structurally dropped blocks, i.e. it is the next live block
    if cfg.keep_headings:
        for b, nxt in zip(live, live[1:]):
            if nxt.kept and b.score == CONF_HEADING and b.tag in _HEADING_TAGS and b.link_density < 0.5:
                b.kept = True
    return live


@_functools.lru_cache(maxsize=32)
def _whitelist_re(chars: str) -> re.Pattern:
    """Compiled deleter for chars OUTSIDE the whitelist (C-speed sub)."""
    return re.compile(f"[^{re.escape(chars)}]")


@_functools.lru_cache(maxsize=32)
def _blacklist_re(chars: str) -> re.Pattern:
    """Compiled deleter for blacklisted chars."""
    return re.compile(f"[{re.escape(chars)}]")


def _apply_charset(blocks: list, cfg: ExtractConfig) -> None:
    """tessedit_char_whitelist / blacklist analog: restrict emitted chars
    (decode-mask semantics, tests/integration_test.rs:102-106).  The filter
    is a compiled character-class regex sub (C engine), not a per-character
    Python comprehension; words it empties are dropped."""
    wl = _whitelist_re(cfg.char_whitelist).sub if cfg.char_whitelist else None
    bl = _blacklist_re(cfg.char_blacklist).sub if cfg.char_blacklist else None
    if wl is None and bl is None:
        return
    for b in blocks:
        if not b.kept:
            continue
        new_lines = []
        n_words = 0
        for words in b.line_words():
            if wl is not None:
                words = [wl("", w) for w in words]
            if bl is not None:
                words = [bl("", w) for w in words]
            words = [w for w in words if w]
            if words:
                new_lines.append(" ".join(words))
                n_words += len(words)
        b.lines = new_lines
        b.n_words = n_words
        if n_words == 0:
            b.kept = False


def assemble(blocks: list) -> str:
    """The byte-identical assembly contract (SURVEY.md §2.4): words ' ',
    lines '\\n', blocks '\\n\\n', one trailing '\\n' when non-empty."""
    parts = ["\n".join(b.lines) for b in blocks if b.kept and b.lines]
    return "\n\n".join(parts) + "\n" if parts else ""


def extract_doc(payload, cfg: ExtractConfig) -> DocResult:
    """Extract one document.  Never raises on bad input — error rows carry
    ``status != 'ok'`` + failure spans (error model, SURVEY.md §1.4)."""
    if payload is None or len(payload) == 0:
        return DocResult(STATUS_EMPTY, "", [], 0, 0, 0, 0, 0, [(0, 0)])
    if isinstance(payload, (bytes, bytearray, memoryview)):
        try:
            doc = (
                payload.decode("utf-8")
                if isinstance(payload, bytes)
                else bytes(payload).decode("utf-8")
            )
        except UnicodeDecodeError as e:
            return DocResult(STATUS_UTF8, "", [], 0, 0, 0, 0, 0, [(e.start, len(payload))])
    else:
        doc = payload
    if cfg.roi_start is not None or cfg.roi_end is not None:
        doc = doc[cfg.roi_start or 0 : cfg.roi_end if cfg.roi_end is not None else len(doc)]
    if "<" not in doc:
        return DocResult(STATUS_NOT_HTML, "", [], 0, 0, 0, 0, 0, [(0, len(doc))])

    deadline = (
        _time.monotonic() + cfg.page_timeout_ms / 1000.0
        if cfg.page_timeout_ms is not None
        else None
    )
    try:
        n_blocks, recs = _segment(doc, cfg, deadline)
    except PageTimeout:
        # deadline expiry is a ROW, never a task failure (monitor.rs:18-50
        # cancellation surfaces as an error result in the reference)
        return DocResult(STATUS_TIMEOUT, "", [], 0, 0, 0, 0, 0, [(0, len(doc))])
    if cfg.mode == MODE_AUTO:
        live = _classify(recs, cfg)
    else:
        live = recs  # no structural drops outside AUTO
        for b in live:
            b.kept, b.score = True, CONF_HARD_KEEP
    _apply_charset(live, cfg)

    kept = [b for b in live if b.kept]
    text = assemble(kept)
    n_words = sum(b.n_words for b in kept)
    mean_conf = (
        int(round(sum(b.score * b.n_words for b in kept) / n_words)) if n_words else 0
    )
    failure_spans = []
    if len(kept) < len(recs):
        for b in recs:
            if b.__class__ is tuple:
                failure_spans.append(b)
            elif b.kept or not b.n_words:
                continue
            else:
                failure_spans.append((b.src_start, b.src_end))
            if len(failure_spans) == 32:
                break
    return DocResult(
        STATUS_OK,
        text,
        kept,
        n_blocks,
        len(kept),
        n_words,
        mean_conf,
        len(text),
        failure_spans,
    )


def word_rows(result: DocResult):
    """Flatten a DocResult into word-level rows — the exploded
    ResultIterator analog (/root/reference/src/result_iterator.rs:41-71):
    (block_id, para_id, line_id, word_id, word, conf, span_start, span_end).

    span_start/span_end are the enclosing block's source-character offsets
    into the decoded document (the bounding-box analog for web text:
    reference bboxes are pixel rects, /root/reference/src/page_iterator.rs:110-134;
    our "page space" is the source character axis)."""
    out = []
    for block_id, b in enumerate(result.blocks):
        for line_id, words in enumerate(b.line_words()):
            for word_id, w in enumerate(words):
                out.append(
                    (block_id, 0, line_id, word_id, w, b.score, b.src_start, b.src_end)
                )
    return out
