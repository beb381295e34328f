"""Raster page pipeline — the OCR-shaped decode path.

Reproduces the observable semantics of the reference's engine stages over
the FIXTURES.md §1.1 ``PAGE`` raster format:

- header validation with the exact ``set_image`` rules
  (/root/reference/src/api.rs:1204-1221: dims > 0, bpp in {1,3},
  bpl >= w*bpp, payload length == h*bpl);
- **Otsu adaptive binarization** (observable via ``get_thresholded_image``,
  /root/reference/src/api.rs:445-456): 256-bin histogram ->
  between-class-variance argmax — pure numpy;
- **connected-component labeling** (Leptonica-style two-pass union-find)
  feeding line/word segmentation (``analyse_layout``,
  /root/reference/src/api.rs:1353-1364);
- **baseline fitting** per line (least squares through component bottoms,
  /root/reference/src/page_iterator.rs:159-175);
- **glyph template decode** against a deterministic stroke-encoded atlas
  (the reference's own fixture idiom: rasterize a known glyph, expect it
  back — README.md:231-263, tests/integration_test.rs:445-513);
- **OSD**: orientation by projection-profile variance
  (/root/reference/src/page_iterator.rs:182-217, api.rs:599-629);
- assembly under the same byte-exact contract as the HTML path.

Everything is a pure function of (bytes, config); zero I/O.

Geometry constants (the renderer and the decoder share them, so goldens —
including pixel bounding boxes — are knowable in closed form):

    GLYPH_W=16, GLYPH_H=24, ADVANCE=18 (2px intra-word gap),
    WORD_GAP=14 (ink-to-ink), LINE_GAP=12, PARA_GAP=36, MARGIN=16.
"""

from __future__ import annotations

import struct
import time as _time
from dataclasses import dataclass

import numpy as np

from tesseract_rs_spark.kernels.graph import component_min_labels

MAGIC = 0x50414745  # "PAGE"

GLYPH_W = 16
GLYPH_H = 24
ADVANCE = GLYPH_W + 2          # glyph pitch inside a word
WORD_GAP = 14                  # ink-to-ink horizontal gap between words
SCRIPT_OFFSET = 6              # super/subscript vertical offset (px)
LINE_PITCH = GLYPH_H + 12      # line top-to-top distance within a paragraph
PARA_EXTRA = 24                # additional gap between paragraphs (36 total)
MARGIN = 16

INK = 40
BG = 220

CHARSET = "abcdefghijklmnopqrstuvwxyz0123456789.,!?"

# statuses mirroring the reference error variants (src/error.rs:6-41)
STATUS_OK = "ok"
STATUS_BAD_MAGIC = "invalid_image_data"
STATUS_BAD_DIMS = "invalid_dimensions"
STATUS_BAD_BPP = "invalid_bytes_per_pixel"
STATUS_BAD_BPL = "invalid_bytes_per_line"
STATUS_SHORT = "invalid_image_data"


# ---------------------------------------------------------------------------
# Glyph atlas: connected, distinct, identity readable from strokes
# ---------------------------------------------------------------------------


def _glyph_mask(index: int) -> np.ndarray:
    """16x24 binary mask: a full-height 2px spine plus one 4-row horizontal
    stroke per set bit of ``index+1`` (6 stroke slots).  Always a single
    connected component; every charset index yields a distinct mask."""
    m = np.zeros((GLYPH_H, GLYPH_W), dtype=bool)
    m[:, 0:2] = True
    code = index + 1  # avoid the all-zero pattern ambiguity with padding
    for bit in range(6):
        if code & (1 << bit):
            m[bit * 4 : bit * 4 + 4, 2:GLYPH_W] = True
    return m


ATLAS = {c: _glyph_mask(i) for i, c in enumerate(CHARSET)}
_ATLAS_STACK = np.stack([ATLAS[c] for c in CHARSET])  # (n_chars, 24, 16)
_ATLAS_FLAT = _ATLAS_STACK.reshape(len(CHARSET), -1).astype(np.int16)


def _tur_glyph_mask(index: int) -> np.ndarray:
    """Second language model ("tur" of the reference's "tur+eng" joint
    init, /root/reference/tests/integration_test.rs:91-120): spines on
    BOTH edges, strokes between them.  Design constraints: (a) ink touches
    cell columns 0 and 15, so glyph-cell alignment, word gaps, and pixel
    bounding boxes are identical to the eng atlas (mixed pages share one
    geometry oracle); (b) >=48 px Hamming distance from every eng glyph
    (extra spine), so the per-word language vote is unambiguous; (c) NOT a
    180-degree rotation of any eng glyph (rot180 keeps both spines but no
    eng template has a right spine), so orientation detection stays
    sound; (d) one connected component per glyph."""
    m = np.zeros((GLYPH_H, GLYPH_W), dtype=bool)
    m[:, 0:2] = True
    m[:, GLYPH_W - 2 : GLYPH_W] = True
    code = index + 1
    for bit in range(6):
        if code & (1 << bit):
            m[bit * 4 : bit * 4 + 4, 2 : GLYPH_W - 2] = True
    return m


ATLAS_TUR = {c: _tur_glyph_mask(i) for i, c in enumerate(CHARSET)}
_ATLAS_FLAT_TUR = np.stack([ATLAS_TUR[c] for c in CHARSET]).reshape(
    len(CHARSET), -1
).astype(np.int16)

# language -> (templates, per-template ink sums); the embedded-model
# registry (init_embedded / embedded_languages, api.rs via SURVEY §2.1)
LANG_ATLASES = {
    "eng": _ATLAS_FLAT,
    "tur": _ATLAS_FLAT_TUR,
}
_EMBEDDED_LANGS = frozenset(LANG_ATLASES)
_ALL_LANG_FLAT = np.concatenate(list(LANG_ATLASES.values()), axis=0)
_ALL_LANG_FLAT_SUMS = _ALL_LANG_FLAT.sum(axis=1).astype(np.int32)


@dataclass
class RasterResult:
    status: str
    text: str
    words: list  # (block_id, para_id, line_id, word_id, word, conf,
    #               left, top, right, bottom, baseline_y)
    threshold: int
    orientation_deg: int
    deskew_deg: float
    n_components: int
    mean_conf: int
    failure_spans: list  # [(byte_start, byte_end)]
    # OSD channels (detect_os / orientation tuple analogs,
    # /root/reference/src/api.rs:599-629, page_iterator.rs:182-217)
    orientation_conf: float = 0.0
    script: str = "Latin"
    script_conf: float = 0.0
    writing_direction: str = "left_to_right"
    textline_order: str = "top_to_bottom"
    # upright page dimensions (post auto-rotation) — the coordinate frame
    # of the word boxes; needed by bottom-left-origin box renderers
    page_width: int = 0
    page_height: int = 0


# ---------------------------------------------------------------------------
# decode + validate (set_image rules, api.rs:1204-1221)
# ---------------------------------------------------------------------------


def decode_page(payload) -> tuple:
    """-> (img float array | None, status).  Never raises."""
    if payload is None or len(payload) < 20:
        return None, STATUS_SHORT
    buf = bytes(payload)
    magic, width, height, bpp, bpl = struct.unpack_from("<Iiiii", buf, 0)
    if magic != MAGIC:
        return None, STATUS_BAD_MAGIC
    if width <= 0 or height <= 0:
        return None, STATUS_BAD_DIMS
    if bpp not in (1, 3):
        return None, STATUS_BAD_BPP
    if bpl < width * bpp:
        return None, STATUS_BAD_BPL
    if len(buf) - 20 < height * bpl:
        return None, STATUS_SHORT
    arr = np.frombuffer(buf, dtype=np.uint8, offset=20, count=height * bpl)
    arr = arr.reshape(height, bpl)
    if bpp == 1:
        img = arr[:, :width]
    else:
        rgb = arr[:, : width * 3].reshape(height, width, 3).astype(np.uint32)
        img = ((rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000).astype(
            np.uint8
        )
    return img, STATUS_OK


def otsu_threshold(img: np.ndarray) -> int:
    """Between-class-variance argmax over the 256-bin histogram.

    The histogram counts byte PAIRS as one uint16 bincount (65536 bins),
    then folds the low/high byte axes — half the scatter ops of a uint8
    bincount, bit-identical counts.  The pair trick reinterprets raw
    bytes, so it is only valid for uint8 input; other integer dtypes fall
    back to the plain bincount rather than silently mis-binning."""
    if img.dtype != np.uint8:
        hist = np.bincount(img.reshape(-1), minlength=256).astype(np.float64)
        return _otsu_from_hist(hist)
    flat = img.reshape(-1)
    n = flat.size
    pairs = np.bincount(
        flat[: n - (n % 2)].view(np.uint16), minlength=65536
    ).reshape(256, 256)
    # little-endian: uint16 = lo + 256*hi -> pairs[hi, lo]
    hist = (pairs.sum(axis=0) + pairs.sum(axis=1)).astype(np.float64)
    if n % 2:
        hist[flat[-1]] += 1
    return _otsu_from_hist(hist)


def _otsu_from_hist(hist: np.ndarray) -> int:
    total = hist.sum()
    w0 = np.cumsum(hist)
    w1 = total - w0
    cum_mean = np.cumsum(hist * np.arange(256))
    mean_total = cum_mean[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = cum_mean / w0
        mu1 = (mean_total - cum_mean) / w1
        var_between = w0 * w1 * (mu0 - mu1) ** 2
    var_between = np.nan_to_num(var_between)
    return int(np.argmax(var_between))


def connected_components(binary: np.ndarray) -> tuple:
    """Run-based union-find labeling (4-connectivity), Leptonica-style but
    vectorized: rows are RLE-decomposed in ONE numpy pass, run-overlap
    edges between consecutive rows are computed with two ``searchsorted``
    calls per row, and only the union-find itself (one op per edge,
    E ~ number of runs) runs in Python.  Returns (n_components, stats)
    where stats is an (n, 5) int array of (left, top, right, bottom, area),
    right/bottom exclusive, components in first-encounter (row-major)
    order."""
    h, w = binary.shape
    # RLE all rows at once via boundary masks: a run starts where a pixel
    # is ink and its left neighbor isn't, ends (inclusive) where the right
    # neighbor isn't.  Two in-place boolean ANDs + two flatnonzero calls
    # replace the round-2 pad/diff/2-D-nonzero/fancy-mask chain (~4x on
    # the scan, validated bit-identical).  flatnonzero is row-major, so
    # starts[i] pairs with ends[i] within each row.
    s_mask = binary.copy()
    s_mask[:, 1:] &= ~binary[:, :-1]
    e_mask = binary.copy()
    e_mask[:, :-1] &= ~binary[:, 1:]
    flat_s = np.flatnonzero(s_mask)
    run_row = flat_s // w
    run_start = flat_s % w
    run_end = np.flatnonzero(e_mask) % w + 1  # exclusive
    n_runs = len(run_row)
    if n_runs == 0:
        return 0, np.zeros((0, 5), dtype=np.int64)
    # Edges between overlapping runs of consecutive rows, built with TWO
    # global searchsorted calls over composite (row, col) keys: for cur run
    # i in row r, matching prev-row runs j satisfy pe_j > qs_i and
    # ps_j < qe_i; keys from other rows fall outside the probed interval,
    # so no per-row loop is needed at all.
    w2 = w + 2
    key_start = run_row.astype(np.int64) * w2 + run_start
    key_end = run_row.astype(np.int64) * w2 + run_end
    lo = np.searchsorted(key_end, key_start - w2, side="right")
    hi = np.searchsorted(key_start, key_end - w2, side="left")
    counts = hi - lo
    total = int(counts.sum())
    if total:
        u = np.repeat(np.arange(n_runs, dtype=np.int64), counts)
        cum = np.cumsum(counts)
        v = np.arange(total, dtype=np.int64) - np.repeat(cum - counts, counts) + np.repeat(lo, counts)
    else:
        u = v = np.empty(0, dtype=np.int64)

    # per-component minimum run id = first-encounter root
    roots = component_min_labels(n_runs, u, v)
    uniq, inv = np.unique(roots, return_inverse=True)
    n = len(uniq)
    run_len = (run_end - run_start).astype(np.int64)
    stats = np.zeros((n, 5), dtype=np.int64)
    stats[:, 0] = 1 << 30
    stats[:, 1] = 1 << 30
    np.minimum.at(stats[:, 0], inv, run_start)
    np.minimum.at(stats[:, 1], inv, run_row)
    np.maximum.at(stats[:, 2], inv, run_end)  # run_end already exclusive
    np.maximum.at(stats[:, 3], inv, run_row)
    np.add.at(stats[:, 4], inv, run_len)
    stats[:, 3] += 1  # exclusive bottom
    # first-encounter order: uniq (sorted root run ids) IS row-major
    # first-encounter because unions always keep the smaller run id
    return n, stats


def segment_layout(stats: np.ndarray) -> list:
    """Group component boxes into lines -> words -> paragraphs by the
    shared geometry constants (tab-stop/line grouping analog).  Returns
    [(para_id, line_id, word_boxes)] where word_boxes is a list of
    (left, top, right, bottom, [glyph boxes])."""
    if len(stats) == 0:
        return []
    order = np.lexsort((stats[:, 0], stats[:, 1]))
    comps = stats[order]
    tops_sorted = comps[:, 1]
    # line grouping: components within GLYPH_H of the line's first (= min,
    # tops are sorted) top.  One searchsorted per LINE instead of a Python
    # branch per component; word splits and box rollups are sliced numpy.
    out = []
    para_id, line_id = 0, 0
    prev_top = None
    word_gap = (WORD_GAP + 2) // 2
    start = 0
    n = len(comps)
    while start < n:
        top = int(tops_sorted[start])
        end = int(np.searchsorted(tops_sorted, top + GLYPH_H, side="left"))
        # paragraphs: line-top gaps larger than LINE_PITCH mean a new para
        if prev_top is not None and top - prev_top > LINE_PITCH + PARA_EXTRA // 2:
            para_id += 1
            line_id = 0
        line = comps[start:end]
        line = line[np.argsort(line[:, 0], kind="stable")]
        # words: split on horizontal ink gaps > the intra-word gap
        brk = np.flatnonzero(line[1:, 0] - line[:-1, 2] > word_gap) + 1
        bounds = np.empty(len(brk) + 2, dtype=np.int64)
        bounds[0] = 0
        bounds[1:-1] = brk
        bounds[-1] = len(line)
        boxes = []
        for s_, e_ in zip(bounds[:-1], bounds[1:]):
            glyphs = line[s_:e_]
            boxes.append(
                (
                    int(glyphs[0, 0]),
                    int(glyphs[:, 1].min()),
                    int(glyphs[:, 2].max()),
                    int(glyphs[:, 3].max()),
                    glyphs,
                )
            )
        out.append((para_id, line_id, boxes))
        line_id += 1
        prev_top = top
        start = end
    return out


def fit_baseline(glyphs) -> int:
    """Least-squares line through glyph bottoms; returns baseline y at the
    word start (deg-1 polyfit, page_iterator.rs:159-175).  With the flat
    synthetic glyphs the slope is 0 and baseline == bottom.  Pure-Python
    arithmetic: words have <=16 points, where numpy per-call overhead
    costs ~10x the math."""
    xs = [float(g[0]) for g in glyphs]
    ys = [float(g[3]) for g in glyphs]
    n = len(xs)
    if n == 1 or max(xs) == min(xs):
        return int(round(sum(ys) / n))
    xm = sum(xs) / n
    ym = sum(ys) / n
    num = den = 0.0
    for x, y in zip(xs, ys):
        dx = x - xm
        num += dx * (y - ym)
        den += dx * dx
    return int(round(ym + (num / den) * (xs[0] - xm)))


def register_atlas(name: str, atlas: dict) -> None:
    """Register a LEARNED glyph atlas as a decode language (the adaptive-
    classifier half of adapt_to_word_str, re-expressed — see
    operators/adaptive.py).  ``atlas`` maps chars (subset of CHARSET) to
    (GLYPH_H, GLYPH_W) boolean masks; unlearned chars get an all-ink
    template, the worst possible match for any sparse glyph cell, so the
    per-word language vote falls back to an embedded model for words the
    adaptation has not seen.  Registration is worker-local and
    idempotent (each executor registers from the broadcast dict before
    decoding).  The OSD scorer intentionally stays on the EMBEDDED
    models only (_ALL_LANG_FLAT is not extended): orientation detection
    must not depend on which adaptations happen to be loaded.  The
    EMBEDDED names are protected — overwriting "eng"/"tur" in a reused
    worker process would corrupt every later plain decode that lands on
    it (order-dependent output, the exact property adaptation exists to
    eliminate)."""
    if name in _EMBEDDED_LANGS:
        raise ValueError(
            f"cannot register over the embedded language {name!r}; "
            "pick a distinct adaptation name"
        )
    flat = np.ones((len(CHARSET), GLYPH_H * GLYPH_W), dtype=np.int16)
    for ch, mask in atlas.items():
        i = CHARSET.find(ch)
        if i < 0:
            raise ValueError(f"adapted glyph {ch!r} is not in the charset")
        m = np.asarray(mask, dtype=bool)
        if m.shape != (GLYPH_H, GLYPH_W):
            raise ValueError(
                f"adapted glyph {ch!r} has shape {m.shape}, "
                f"want {(GLYPH_H, GLYPH_W)}"
            )
        flat[i] = m.reshape(-1)
    LANG_ATLASES[name] = flat
    LANG_SUMS[name] = flat.sum(axis=1).astype(np.int32)
    LANG_ATLASES_F32[name] = flat.astype(np.float32)


_ATLAS_SUMS = _ATLAS_FLAT.sum(axis=1).astype(np.int32)  # ink per template
LANG_SUMS = {
    lang: flat.sum(axis=1).astype(np.int32) for lang, flat in LANG_ATLASES.items()
}
# float32 twins for the decode matmuls: numpy integer GEMM has no BLAS
# backend (a naive C loop, ~17x slower); float32 products of 0/1 cells
# against 0/1 templates are exact integers (all values << 2^24), so the
# distances round-trip to int64 bit-identically.
_ATLAS_FLAT_F32 = _ATLAS_FLAT.astype(np.float32)
_ALL_LANG_FLAT_F32 = _ALL_LANG_FLAT.astype(np.float32)
LANG_ATLASES_F32 = {
    lang: flat.astype(np.float32) for lang, flat in LANG_ATLASES.items()
}


def _word_is_uniform(box) -> bool:
    """True when every glyph of the word sits on the shared line top with
    nominal height — the fast fixed-pitch decode path.  Vertically offset
    glyphs (super/subscript) or oversized glyphs (drop caps) take the
    per-component path."""
    g = box[4]  # (n, 5) stats slice — vector reductions, no per-glyph loop
    tops = g[:, 1]
    return (
        int(tops.max()) - int(tops.min()) <= 2
        and int((g[:, 3] - tops).max()) <= GLYPH_H + 2
    )


def _uniform_flags(boxes: list) -> np.ndarray:
    """Vectorized :func:`_word_is_uniform` over a whole page's word boxes
    (r7, guide §1.2 per-task work): the per-word form paid four tiny numpy
    reductions PER WORD (~0.4 ms/page of pure call overhead at ~55
    words/page); here the glyph stats concatenate once and per-word
    min/max run as three integer ``reduceat`` passes.  Integer reductions
    are order-free, so the flags are exactly ``_word_is_uniform``'s."""
    counts = np.fromiter(
        (len(b[4]) for b in boxes), dtype=np.int64, count=len(boxes)
    )
    allg = np.concatenate([b[4] for b in boxes]) if len(boxes) > 1 else boxes[0][4]
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    tops = allg[:, 1]
    tmax = np.maximum.reduceat(tops, starts)
    tmin = np.minimum.reduceat(tops, starts)
    hmax = np.maximum.reduceat(allg[:, 3] - tops, starts)
    return (tmax - tmin <= 2) & (hmax <= GLYPH_H + 2)


def _glyph_cells_from_stats(binary: np.ndarray, glyphs_sorted) -> np.ndarray:
    """(n_glyphs, GLYPH_H*GLYPH_W) int32 cells extracted at each
    component's OWN bounding box (super/subscript offsets preserved);
    drop-cap-sized components (height >= 1.5x nominal) are integer-
    downsampled back to the nominal cell so they decode against the same
    atlas (the reference classifier is likewise scale-normalized)."""
    cells = []
    for g in glyphs_sorted:
        l, t, b = int(g[0]), int(g[1]), int(g[3])
        h = b - t
        if h >= GLYPH_H * 3 // 2:
            s = max(1, round(h / GLYPH_H))
            patch = binary[t:b:s, l : l + GLYPH_W * s : s]
        else:
            patch = binary[t : t + GLYPH_H, l : l + GLYPH_W]
        cell = np.zeros((GLYPH_H, GLYPH_W), dtype=bool)
        ph, pw = min(GLYPH_H, patch.shape[0]), min(GLYPH_W, patch.shape[1])
        cell[:ph, :pw] = patch[:ph, :pw]
        cells.append(cell.reshape(-1))
    return np.stack(cells).astype(np.int32)


def _word_cells(binary: np.ndarray, box) -> np.ndarray:
    """(n_glyphs, GLYPH_H*GLYPH_W) int32 glyph cells for one word.
    Uniform words use fixed-pitch reshape slicing; words with offset or
    oversized glyphs fall back to per-component cells."""
    if not _word_is_uniform(box):
        glyphs = sorted(box[4], key=lambda g: int(g[0]))
        return _glyph_cells_from_stats(binary, glyphs)
    l, t, r, _btm, _ = box
    region = binary[t : t + GLYPH_H, l:r]
    n_glyphs = max(1, int(round((r - l + 2) / ADVANCE)))
    # deskew residue can leave the box a pixel or two wider than the
    # glyph budget — size the buffer to whichever is larger
    buf = np.zeros((GLYPH_H, max(n_glyphs * ADVANCE, region.shape[1])), dtype=bool)
    buf[: region.shape[0], : region.shape[1]] = region
    buf = buf[:, : n_glyphs * ADVANCE]
    cells = buf.reshape(GLYPH_H, n_glyphs, ADVANCE).transpose(1, 0, 2)[
        :, :, :GLYPH_W
    ]
    return cells.reshape(n_glyphs, -1).astype(np.int32)


def _word_glyph_dists(
    binary: np.ndarray, box, allowed_idx, lang: str = "eng"
) -> np.ndarray:
    """(n_glyphs, n_allowed) Hamming distances between the word's glyph
    cells and the (whitelist-restricted) atlas of ``lang``, as ONE matmul:
    |a XOR c| = |a| + |c| - 2*(a.c) for binary masks."""
    flat = _word_cells(binary, box)
    templates = LANG_ATLASES_F32[lang][allowed_idx]
    dots = (flat.astype(np.float32) @ templates.T).astype(np.int64)  # exact
    return LANG_SUMS[lang][allowed_idx][None, :] + flat.sum(axis=1)[:, None] - 2 * dots


def _allowed_indices(whitelist: set | None):
    if whitelist is None:
        return np.arange(len(CHARSET))
    return np.array(
        [i for i, c in enumerate(CHARSET) if c in whitelist], dtype=np.int64
    )


_CHARSET_ARR = np.array(list(CHARSET))


def _decode_layout(
    binary: np.ndarray,
    layout: list,
    whitelist: set | None,
    langs: tuple,
    oem: int,
) -> list:
    """Decode EVERY word of a page with one template matmul per language
    (instead of one per word): cells for all words concatenate into a
    single (n_glyphs_total, cell) matrix, per-glyph best matches and
    confidences come out vectorized, per-word confidences via
    ``np.add.reduceat``, and the multi-language vote (first language wins
    ties within 1e-9) is an array comparison.  Returns [(para_id, line_id,
    word_id, box, text, conf, lang)] in reading order."""
    allowed = _allowed_indices(whitelist)
    if len(allowed) == 0:
        return []
    # Uniform (fixed-pitch) words — the overwhelming majority — have their
    # glyph cells extracted by ONE fancy-index gather over a zero-padded
    # page instead of a per-word buffer/reshape: glyph k of a word sits at
    # (t, l + k*ADVANCE), and columns at or beyond the word box's right
    # edge are masked to zero, which reproduces _word_cells' zero-filled
    # buffer semantics exactly.  Offset/oversized glyphs keep the
    # per-component path.
    all_boxes = [box for _pl in layout for box in _pl[2]]
    if not all_boxes:
        return []
    unif = _uniform_flags(all_boxes)
    meta, uni, other = [], [], []
    total = 0
    wi = 0
    for para_id, line_id, boxes in layout:
        for word_id, box in enumerate(boxes):
            is_uniform = bool(unif[wi])
            wi += 1
            if is_uniform:
                l, t, r = int(box[0]), int(box[1]), int(box[2])
                n = max(1, int(round((r - l + 2) / ADVANCE)))
                uni.append((total, t, l, n, r))
            else:
                n = len(box[4])
                other.append((total, box))
            meta.append((para_id, line_id, word_id, box, n))
            total += n
    if not meta:
        return []
    big = np.zeros((total, GLYPH_H * GLYPH_W), dtype=np.int32)
    if uni:
        h, w = binary.shape
        padded = np.zeros((h + GLYPH_H, w + ADVANCE + GLYPH_W), dtype=bool)
        padded[:h, :w] = binary
        ua = np.asarray(uni, dtype=np.int64)  # (offset, t, l, n, r)
        ns = ua[:, 3]
        widx = np.repeat(np.arange(len(ua)), ns)
        kk = np.arange(int(ns.sum()), dtype=np.int64) - np.repeat(
            np.cumsum(ns) - ns, ns
        )
        ys = ua[widx, 1]
        xs = ua[widx, 2] + kk * ADVANCE
        cells = padded[
            ys[:, None, None] + np.arange(GLYPH_H)[None, :, None],
            xs[:, None, None] + np.arange(GLYPH_W)[None, None, :],
        ]
        thresh = (ua[widx, 4] - ua[widx, 2]) - kk * ADVANCE
        cells &= np.arange(GLYPH_W)[None, None, :] < thresh[:, None, None]
        big[ua[widx, 0] + kk] = cells.reshape(len(kk), -1)
    for offset, box in other:
        glyphs = sorted(box[4], key=lambda g: int(g[0]))
        cells = _glyph_cells_from_stats(binary, glyphs)
        big[offset : offset + len(cells)] = cells
    counts = np.fromiter((m[4] for m in meta), dtype=np.int64, count=len(meta))
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    n_glyphs = big.shape[0]
    cell_size = GLYPH_H * GLYPH_W
    big_sums = big.sum(axis=1)
    bests, word_confs = [], []
    for lang in langs:
        templates = LANG_ATLASES_F32[lang][allowed]
        dots = (big.astype(np.float32) @ templates.T).astype(np.int64)  # exact
        if oem == 1:  # OEM_NCC
            norms = np.sqrt(
                np.maximum(1.0, big_sums.astype(np.float64))[:, None]
                * LANG_SUMS[lang][allowed].astype(np.float64)[None, :]
            )
            scores = dots / norms
            best = scores.argmax(axis=1)
            conf_g = 100.0 * scores[np.arange(n_glyphs), best]
        else:
            dists = (
                LANG_SUMS[lang][allowed][None, :] + big_sums[:, None] - 2 * dots
            )
            best = dists.argmin(axis=1)
            conf_g = 100.0 * (
                1.0 - dists[np.arange(n_glyphs), best] / cell_size
            )
        bests.append(best)
        word_confs.append(np.add.reduceat(conf_g, starts) / counts)
    pick = np.zeros(len(meta), dtype=np.int64)
    best_conf = word_confs[0].copy()
    for i in range(1, len(langs)):
        better = word_confs[i] > best_conf + 1e-9
        pick[better] = i
        best_conf[better] = word_confs[i][better]
    glyph_pick = np.repeat(pick, counts)
    best_all = np.stack(bests)  # (n_langs, n_glyphs)
    chosen = best_all[glyph_pick, np.arange(n_glyphs)]
    # one join for the whole page; word texts are substring slices
    all_chars = "".join(_CHARSET_ARR[allowed[chosen]].tolist())
    out = []
    for w, (para_id, line_id, word_id, box, n) in enumerate(meta):
        s = int(starts[w])
        out.append(
            (
                para_id,
                line_id,
                word_id,
                box,
                all_chars[s : s + n],
                float(best_conf[w]),
                langs[int(pick[w])],
            )
        )
    return out


def decode_word_choices(
    binary: np.ndarray, box, whitelist: set | None, k: int = 3
) -> list:
    """Per-symbol top-k alternatives, descending confidence — the
    ChoiceIterator analog (/root/reference/src/choice_iterator.rs:30-71;
    descending order asserted at tests/test_iterators.rs:736-769).
    Returns [(symbol_id, glyph, conf, [(alt_glyph, alt_conf), ...])]."""
    allowed = _allowed_indices(whitelist)
    if len(allowed) == 0:
        return []
    dist_mat = _word_glyph_dists(binary, box, allowed)
    cell_size = GLYPH_H * GLYPH_W
    out = []
    for gi in range(dist_mat.shape[0]):
        dists = dist_mat[gi]
        order = np.argsort(dists, kind="stable")[:k]
        alts = [
            (CHARSET[allowed[j]], round(100.0 * (1.0 - dists[j] / cell_size), 4))
            for j in order
        ]
        out.append((gi, alts[0][0], alts[0][1], alts))
    return out


# block-type / paragraph classification (page_iterator.rs:141-148, 224-252)
BLOCK_FLOWING_TEXT = "flowing_text"
BLOCK_NOISE = "noise"
BLOCK_UNKNOWN = "unknown"
JUSTIFICATION_LEFT = "left"
JUSTIFICATION_UNKNOWN = "unknown"


def classify_block(comps: list) -> str:
    """Densitometric block classification: glyph-sized components in a
    regular band -> flowing text; speck-sized -> noise (the PT_* analog,
    /root/reference/src/enums.rs:72-89 via page_iterator.rs:141-148)."""
    if not comps:
        return BLOCK_UNKNOWN
    heights = [int(c[3]) - int(c[1]) for c in comps]
    med = sorted(heights)[len(heights) // 2]
    if med >= GLYPH_H // 2:
        return BLOCK_FLOWING_TEXT
    return BLOCK_NOISE


def paragraph_info(line_lefts: list) -> tuple:
    """(justification, is_list_item, first_line_indent) from line left
    margins within a paragraph (page_iterator.rs:224-252)."""
    if not line_lefts:
        return JUSTIFICATION_UNKNOWN, False, 0
    base = min(line_lefts)
    aligned = sum(1 for x in line_lefts if x == base)
    just = JUSTIFICATION_LEFT if aligned >= max(1, len(line_lefts) - 1) else JUSTIFICATION_UNKNOWN
    indent = line_lefts[0] - base
    return just, False, indent


def estimate_skew_deg(
    binary: np.ndarray, max_deg: float = 5.0, step_deg: float = 0.5
) -> float:
    """Skew estimation by projection-profile variance maximization: the
    angle whose rotated row-profile is sharpest is the text skew
    (deskew-angle channel of the orientation tuple,
    /root/reference/src/page_iterator.rs:182-217).  Vectorized: one
    bincount per candidate angle over the ink coordinates."""
    # row-major ink coordinates via ONE flatnonzero + vector divmod —
    # identical values/order to np.nonzero(binary) at half the cost (the
    # 2-D nonzero fills two index arrays in a scalar loop)
    flat_ink = np.flatnonzero(binary)
    ys = flat_ink // binary.shape[1]
    xs = flat_ink - ys * binary.shape[1]
    if len(ys) < 16:
        return 0.0
    if len(ys) > 8192:  # subsample: variance estimate needs no more
        sel = np.arange(0, len(ys), len(ys) // 8192 + 1)
        ys, xs = ys[sel], xs[sel]
    ysf = ys.astype(np.float64)
    xsf = xs.astype(np.float64)
    # ALL candidate angles in one shot: an (A, N) projection matrix, one
    # composite-key bincount, per-angle profile ENERGY sum(c^2) (total mass
    # is angle-invariant, so energy peaks exactly when text lines align
    # with the projection axis; variance would not be comparable across
    # bin supports).  Replaces the round-1 per-angle Python loop.
    angles = np.arange(-max_deg, max_deg + 1e-9, step_deg)
    rads = np.deg2rad(angles)
    # in-place ops: one (A, N) temporary instead of three, and rint lands
    # in the same buffer; values are elementwise-identical to the old
    # three-temporary broadcast chain (r7, guide §1.2 per-task work)
    proj_f = np.cos(rads)[:, None] * ysf[None, :]
    proj_f -= np.sin(rads)[:, None] * xsf[None, :]
    np.rint(proj_f, out=proj_f)
    proj = proj_f.astype(np.int64)
    # per-angle bincount instead of one composite-key bincount over a
    # (A*stride)-bin table: skips building the (A, N) key matrix, and the
    # profile energy sum(c^2) is offset-invariant so each row subtracts
    # only its own min.  Counts' squared sums are < N^2 < 2^53, exact in
    # both int64 and the old float64 path — energies are bit-identical.
    energy = np.empty(len(angles), dtype=np.float64)
    for i in range(len(angles)):
        row = proj[i]
        c = np.bincount(row - row.min())
        energy[i] = float((c * c).sum())
    zero_idx = int(np.argmin(np.abs(angles)))
    best_idx = int(np.argmax(energy))  # first max = lowest candidate angle
    # require a clear win over "no skew" (margin idiom mirrors
    # set_min_orientation_margin, api.rs:640-647): true skew on multi-line
    # pages scores ~1.7x the zero-angle energy; sampling flukes on tiny
    # single-line pages stay under ~1.1x
    if energy[best_idx] <= 1.2 * energy[zero_idx]:
        return 0.0
    return float(angles[best_idx])


def deskew(binary: np.ndarray, angle_deg: float) -> np.ndarray:
    """Rotate the binary image by ``-angle_deg`` about its center via
    inverse nearest-neighbor mapping (pure numpy, hole-free)."""
    if abs(angle_deg) < 1e-9:
        return binary
    h, w = binary.shape
    rad = np.deg2rad(angle_deg)
    c, s = np.cos(rad), np.sin(rad)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    yy, xx = np.mgrid[0:h, 0:w]
    ysrc = np.rint(c * (yy - cy) - s * (xx - cx) + cy).astype(np.int64)
    xsrc = np.rint(s * (yy - cy) + c * (xx - cx) + cx).astype(np.int64)
    valid = (ysrc >= 0) & (ysrc < h) & (xsrc >= 0) & (xsrc < w)
    out = np.zeros_like(binary)
    out[valid] = binary[ysrc[valid], xsrc[valid]]
    return out


SCRIPT_LATIN = "Latin"

# choose the non-default orientation only on a clear win (the
# set_min_orientation_margin idiom, api.rs:640-647)
_ORIENT_MARGIN = 5.0


def _orient_score(
    binary: np.ndarray, max_glyphs: int = 12, row_any: np.ndarray | None = None
) -> float:
    """Decode-confidence score of the FIRST text-line strip: label the
    strip's components and take the mean best-template confidence over up
    to ``max_glyphs`` glyphs.  This is the classifier-confidence vote the
    reference's OSD runs per candidate orientation (api.rs:599-629):
    upright text matches the atlas near-exactly; rotated text does not.
    ``row_any`` (has-ink per row) may be precomputed by the caller from an
    existing projection profile to skip a full-page pass."""
    if row_any is None:
        row_any = binary.any(axis=1)
    if not row_any.any():
        return 0.0
    top = int(np.argmax(row_any))
    strip = binary[top : top + GLYPH_H + 2]
    _, stats = connected_components(strip)
    if len(stats) == 0:
        return 0.0
    stats = stats[np.argsort(stats[:, 0])][:max_glyphs]
    cell_size = GLYPH_H * GLYPH_W
    cells = np.zeros((len(stats), GLYPH_H, GLYPH_W), dtype=bool)
    for i, (l, t, r, b, _area) in enumerate(stats):
        patch = strip[t : t + GLYPH_H, l : l + GLYPH_W]
        cells[i, : patch.shape[0], : patch.shape[1]] = patch
    flat = cells.reshape(len(stats), -1).astype(np.float32)
    # ONE matmul against EVERY embedded language model (mixed-language
    # pages must score as upright as monolingual ones)
    dists = (
        _ALL_LANG_FLAT_SUMS[None, :]
        + flat.sum(axis=1).astype(np.int64)[:, None]
        - 2 * (flat @ _ALL_LANG_FLAT_F32.T).astype(np.int64)  # exact
    )
    confs = 100.0 * (1.0 - dists.min(axis=1) / cell_size)
    return float(confs.mean())


def detect_os(binary: np.ndarray, margin: float = _ORIENT_MARGIN) -> tuple:
    """Full orientation & script detection (detect_os analog,
    /root/reference/src/api.rs:599-629): returns (orientation_deg,
    orientation_conf, script, script_conf).

    Two stages: projection-profile variance separates upright from
    sideways (text rows dominate the profile only when lines are
    horizontal), then a decode-confidence vote between the two remaining
    180-degree-apart candidates breaks the symmetry the profile cannot
    see.  Ambiguity defaults to the lower rotation (PAGE_UP default,
    /root/reference/src/enums.rs:126-134).  ``margin`` is the
    set_min_orientation_margin analog (api.rs:640-647): the non-default
    candidate must beat the default's decode score by at least this much
    — scores live in [0, 100], so a margin above 100 pins the decision
    to the pair default (0 upright / 90 sideways)."""
    # count_nonzero's boolean popcount path is ~2x the bool-sum upcast
    # chain; values (ink per row/col) are the same integers
    rows = np.count_nonzero(binary, axis=1).astype(np.float64)
    cols = np.count_nonzero(binary, axis=0).astype(np.float64)
    sideways = cols.var() > 2.0 * rows.var()
    # the candidates' row profiles are reversals of profiles already
    # computed: rot90 k=-1 has row profile = cols, k=+1 reversed cols,
    # k=2 reversed rows — no further full-page passes
    if sideways:
        cand = (
            (90, np.rot90(binary, k=-1), cols > 0),
            (270, np.rot90(binary, k=1), cols[::-1] > 0),
        )
    else:
        cand = ((0, binary, rows > 0), (180, np.rot90(binary, k=2), rows[::-1] > 0))
    (deg_a, bin_a, any_a), (deg_b, bin_b, any_b) = cand
    score_a = _orient_score(bin_a, row_any=any_a)
    score_b = _orient_score(bin_b, row_any=any_b)
    if score_b > score_a + margin:
        deg, score, other = deg_b, score_b, score_a
    else:
        deg, score, other = deg_a, score_a, score_b
    conf = round(max(0.0, min(100.0, score - other)), 4)
    # script vote: the winning strip's decode confidence IS the Latin-atlas
    # match quality (one script family in the embedded model set)
    script_conf = round(score, 4)
    return deg, conf, SCRIPT_LATIN, script_conf


def _prepare(payload):
    """decode -> threshold -> label -> segment; shared by the extractors."""
    img, status = decode_page(payload)
    if status != STATUS_OK:
        return None, None, status
    t = otsu_threshold(img)
    binary = img <= t
    _, stats = connected_components(binary)
    return binary, segment_layout(stats), status


def raster_symbols(payload, whitelist: str | None = None, k: int = 3):
    """Symbol-level decode with per-symbol choice lists — the
    get_iterator/ChoiceIterator surface.  Returns (status, rows) with rows
    (para_id, line_id, word_id, symbol_id, glyph, conf, choices)."""
    binary, layout, status = _prepare(payload)
    if status != STATUS_OK:
        return status, []
    wl = set(whitelist) if whitelist else None
    rows = []
    for para_id, line_id, boxes in layout:
        for word_id, box in enumerate(boxes):
            for sym_id, glyph, conf, alts in decode_word_choices(binary, box, wl, k):
                rows.append((para_id, line_id, word_id, sym_id, glyph, conf, alts))
    return status, rows


def raster_symbol_attrs(payload, whitelist: str | None = None):
    """Per-symbol typographic predicates — the
    symbol_is_superscript/_subscript/_dropcap surface
    (/root/reference/src/result_iterator.rs:171-203): (status, rows) with
    rows (para_id, line_id, word_id, symbol_id, glyph, left, top, right,
    bottom, is_superscript, is_subscript, is_dropcap).

    The baseline reference is the LINE's modal glyph bottom (the row
    baseline of page_iterator.rs:159-175); a symbol is super/subscript
    when its bottom clears the baseline by more than half the script
    offset, and a drop cap when its height is >= 1.5x the nominal glyph
    height (the bbox-vs-baseline predicates the reference exposes)."""
    binary, layout, status = _prepare(payload)
    if status != STATUS_OK:
        return status, []
    wl = set(whitelist) if whitelist else None
    allowed = _allowed_indices(wl)
    if len(allowed) == 0:
        return status, []
    templates = _ATLAS_FLAT_F32[allowed]
    sums = _ATLAS_SUMS[allowed]
    margin = SCRIPT_OFFSET // 2 + 1
    rows = []
    for para_id, line_id, boxes in layout:
        line_bottoms = np.fromiter(
            (int(g[3]) for b in boxes for g in b[4]), dtype=np.int64
        )
        base = int(np.bincount(line_bottoms).argmax())  # modal bottom
        for word_id, box in enumerate(boxes):
            glyphs = sorted(box[4], key=lambda g: int(g[0]))
            flat = _glyph_cells_from_stats(binary, glyphs)
            dists = (
                sums[None, :]
                + flat.sum(axis=1)[:, None]
                - 2 * (flat.astype(np.float32) @ templates.T).astype(np.int64)
            )
            best = dists.argmin(axis=1)
            for sid, (g, j) in enumerate(zip(glyphs, best)):
                bottom = int(g[3])
                is_drop = bottom - int(g[1]) >= GLYPH_H * 3 // 2
                is_sup = not is_drop and bottom <= base - margin
                is_sub = not is_drop and bottom >= base + margin
                rows.append(
                    (
                        para_id,
                        line_id,
                        word_id,
                        sid,
                        CHARSET[allowed[j]],
                        int(g[0]),
                        int(g[1]),
                        int(g[2]),
                        bottom,
                        is_sup,
                        is_sub,
                        is_drop,
                    )
                )
    return status, rows


def raster_layout_blocks(payload):
    """Paragraph/block-level layout analysis (analyse_layout surface,
    api.rs:1353-1364): per paragraph (para_id, n_lines, n_words, left, top,
    right, bottom, block_type, justification, first_line_indent)."""
    binary, layout, status = _prepare(payload)
    if status != STATUS_OK:
        return status, []
    paras: dict = {}
    for para_id, line_id, boxes in layout:
        paras.setdefault(para_id, []).append((line_id, boxes))
    rows = []
    for para_id, lines in sorted(paras.items()):
        all_comps = [g for _, boxes in lines for b in boxes for g in b[4]]
        lefts = [min(b[0] for b in boxes) for _, boxes in lines]
        just, _is_list, indent = paragraph_info(lefts)
        rows.append(
            (
                para_id,
                len(lines),
                sum(len(boxes) for _, boxes in lines),
                min(min(b[0] for b in boxes) for _, boxes in lines),
                min(min(b[1] for b in boxes) for _, boxes in lines),
                max(max(b[2] for b in boxes) for _, boxes in lines),
                max(max(b[3] for b in boxes) for _, boxes in lines),
                classify_block(all_comps),
                just,
                indent,
            )
        )
    return status, rows


def thresholded_image(payload) -> tuple:
    """get_thresholded_image analog (/root/reference/src/api.rs:445-456):
    (status, threshold, scale_factor, width, height, packed_bits) — the
    binarized page as row-major packed bits (BinaryType debug column)."""
    img, status = decode_page(payload)
    if status != STATUS_OK:
        return status, -1, 0, 0, 0, b""
    t = otsu_threshold(img)
    binary = img <= t
    return (
        STATUS_OK,
        t,
        1,  # no pre-threshold downscale (api.rs:825-831 scale factor)
        img.shape[1],
        img.shape[0],
        np.packbits(binary, axis=1).tobytes(),
    )


def extract_raster_doc(
    payload,
    whitelist: str | None = None,
    timeout_ms: int | None = None,
    langs: tuple = ("eng",),
    oem: int = 0,
    roi: tuple | None = None,
    orient_margin: float = _ORIENT_MARGIN,
) -> RasterResult:
    """``roi=(left, top, width, height)`` restricts recognition to a pixel
    rectangle (set_rectangle, /root/reference/src/api.rs:1289-1296);
    emitted boxes stay in ABSOLUTE page coordinates, like the reference's
    iterator.  ROI assumes an upright page (the reference likewise applies
    the rectangle to the image as set)."""
    img, status = decode_page(payload)
    if status != STATUS_OK:
        n = len(payload) if payload is not None else 0
        return RasterResult(status, "", [], -1, 0, 0.0, 0, 0, [(0, n)])
    roi_left = roi_top = 0
    if roi is not None:
        roi_left, roi_top, roi_w, roi_h = roi
        img = img[roi_top : roi_top + roi_h, roi_left : roi_left + roi_w]
        if img.size == 0:
            return RasterResult(STATUS_OK, "", [], -1, 0, 0.0, 0, 0, [])
    # per-page deadline (TessMonitor analog, monitor.rs:18-50): checked at
    # stage boundaries and per decoded word — expiry is a row, not a crash
    deadline = (
        _time.monotonic() + timeout_ms / 1000.0 if timeout_ms is not None else None
    )

    def _expired() -> bool:
        return deadline is not None and _time.monotonic() > deadline

    t = otsu_threshold(img)
    binary = img <= t
    # OSD auto-rotation: rotated pages (90/180/270 ccw) are rotated upright
    # before layout analysis (detect_os -> orientation, api.rs:599-629; the
    # reference's AUTO_OSD PSM path).  The reported orientation is the
    # DETECTED one.
    detected_orientation, orient_conf, script, script_conf = detect_os(
        binary, margin=orient_margin
    )
    if detected_orientation:
        binary = np.rot90(binary, k=-(detected_orientation // 90))
    # small-angle deskew (orientation tuple's deskew channel): the
    # correction rotates by the NEGATED estimate
    skew = estimate_skew_deg(binary)
    if abs(skew) >= 0.5:
        binary = deskew(binary, -skew)
    if _expired():
        return RasterResult("timeout", "", [], t, 0, 0.0, 0, 0, [(0, len(payload))])
    n_comp, stats = connected_components(binary)
    layout = segment_layout(stats)
    wl = set(whitelist) if whitelist else None
    if _expired():
        return RasterResult(
            "timeout", "", [], t, 0, 0.0, n_comp, 0, [(0, len(payload))]
        )
    decoded = _decode_layout(binary, layout, wl, langs, oem)
    if _expired():
        return RasterResult(
            "timeout", "", [], t, 0, 0.0, n_comp, 0, [(0, len(payload))]
        )
    words = []
    lines_text: dict = {}
    # Vectorized flat-bottom fast path for the per-word baseline fit (r7):
    # when every glyph bottom in a word is equal — the overwhelming case on
    # upright pages — fit_baseline's both branches return exactly that
    # bottom (n==1/equal-x returns round(mean of equal ys) = y; the
    # regression branch has dy == 0 for every point, so num == 0.0 exactly
    # and the result is round(ym) = y).  Flatness is three integer
    # reduceat passes for the whole page; only non-flat words pay the
    # per-word Python fit.
    textful = [d for d in decoded if d[4]]
    flat = baseline_flat = None
    if textful:
        counts = np.fromiter(
            (len(d[3][4]) for d in textful), dtype=np.int64, count=len(textful)
        )
        allg = (
            np.concatenate([d[3][4] for d in textful])
            if len(textful) > 1
            else textful[0][3][4]
        )
        starts = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        bots = allg[:, 3]
        bmax = np.maximum.reduceat(bots, starts)
        flat = bmax == np.minimum.reduceat(bots, starts)
        baseline_flat = bmax
    for wi, (para_id, line_id, word_id, box, text, conf, wlang) in enumerate(
        textful
    ):
        baseline_y = (
            int(baseline_flat[wi]) if flat[wi] else fit_baseline(box[4])
        )
        words.append(
            (
                0,
                para_id,
                line_id,
                word_id,
                text,
                conf,
                box[0] + roi_left,
                box[1] + roi_top,
                box[2] + roi_left,
                box[3] + roi_top,
                baseline_y + roi_top,
                wlang,
            )
        )
        lines_text.setdefault((para_id, line_id), []).append(text)
    # assembly: words ' ', lines '\n', paragraphs '\n\n', trailing '\n'
    paras: dict = {}
    for (para_id, line_id), ws in sorted(lines_text.items()):
        paras.setdefault(para_id, []).append(" ".join(ws))
    text = "\n\n".join("\n".join(ls) for _, ls in sorted(paras.items()))
    if text:
        text += "\n"
    confs = [w[5] for w in words]
    mean_conf = int(round(float(np.mean(confs)))) if confs else 0
    return RasterResult(
        STATUS_OK,
        text,
        words,
        t,
        detected_orientation,
        skew,
        n_comp,
        mean_conf,
        [],
        orientation_conf=orient_conf,
        script=script,
        script_conf=script_conf,
        page_width=int(binary.shape[1]) + roi_left,
        page_height=int(binary.shape[0]) + roi_top,
    )


# ---------------------------------------------------------------------------
# renderer (corpus #2): text -> PAGE raster, goldens knowable in closed form
# ---------------------------------------------------------------------------


def render_page(
    text: str,
    words_per_line: int = 8,
    lines_per_para: int = 3,
    bpp: int = 1,
    pad: int = 0,
    rotate: int = 0,
    tur_every: int | None = None,
    sup_every: int | None = None,
    sub_every: int | None = None,
    drop_every: int | None = None,
) -> bytes:
    """Rasterize space-separated text with the shared geometry constants.
    Layout: ``words_per_line`` words per line, ``lines_per_para`` lines per
    paragraph.  Unknown charset characters are skipped (whitelist-by-
    construction).  ``pad`` adds stride padding (bpl > w*bpp) to exercise
    the stride-handling path of decode.  ``rotate`` (0/90/180/270, degrees
    counterclockwise) rotates the finished page — the OSD fixture
    (detect_os expectations, /root/reference/src/api.rs:599-629).
    ``tur_every=k`` renders every k-th word (0-based global index % k == 0)
    with the "tur" atlas — the mixed-language fixture for the "tur+eng"
    joint-recognition path (tests/integration_test.rs:91-120).

    ``sup_every``/``sub_every``/``drop_every`` mark words by the same
    global-index rule (precedence sup > sub > drop, no fall-through):
    sup/sub offset the word's LAST glyph up/down by ``SCRIPT_OFFSET`` px
    (skipped for 1-glyph words); drop renders the FIRST glyph pixel-
    doubled (a descending drop cap — pair with ``lines_per_para=1`` so it
    cannot collide with the next line).  These are the
    symbol_is_superscript/_subscript/_dropcap fixtures
    (/root/reference/src/result_iterator.rs:171-203)."""
    words = [
        "".join(ch for ch in w if ch in ATLAS) for w in text.split(" ") if w
    ]
    words = [w for w in words if w]
    lines = [words[i : i + words_per_line] for i in range(0, len(words), words_per_line)]
    widths = [
        sum(ADVANCE * len(w) - 2 for w in line) + WORD_GAP * (len(line) - 1)
        for line in lines
    ] or [0]
    width = MARGIN * 2 + max(widths)
    n_paras = (len(lines) + lines_per_para - 1) // lines_per_para if lines else 0
    height = (
        MARGIN * 2
        + len(lines) * LINE_PITCH
        - (12 if lines else 0)
        + max(0, n_paras - 1) * PARA_EXTRA
    )
    height = max(height, MARGIN * 2 + GLYPH_H)
    if drop_every is not None:
        height += GLYPH_H          # descending drop caps need tail room
        width += 2 * ADVANCE       # and one extra-wide glyph per line
    # deterministic dither so Otsu sees a genuine bimodal histogram; the
    # (7x + 13y) lattice is built from broadcast 1-D aranges (mgrid would
    # materialize two full int64 grids — 10x the cost on oversized pages)
    yy = (np.arange(height, dtype=np.int32) * 13)[:, None]
    xx = (np.arange(width, dtype=np.int32) * 7)[None, :]
    img = (BG + ((xx + yy) % 17) % 8 - 4).astype(np.uint8)
    y = MARGIN
    widx = 0
    for li, line in enumerate(lines):
        if li > 0:
            y += LINE_PITCH
            if li % lines_per_para == 0:
                y += PARA_EXTRA
        x = MARGIN
        for w in line:
            atlas = (
                ATLAS_TUR
                if tur_every is not None and widx % tur_every == 0
                else ATLAS
            )
            mark = None
            if sup_every is not None and widx % sup_every == 0:
                mark = "sup" if len(w) >= 2 else None
            elif sub_every is not None and widx % sub_every == 0:
                mark = "sub" if len(w) >= 2 else None
            elif drop_every is not None and widx % drop_every == 0:
                mark = "drop"
            widx += 1
            for ci, ch in enumerate(w):
                mask = atlas[ch]
                if mark == "drop" and ci == 0:
                    big = np.repeat(np.repeat(mask, 2, axis=0), 2, axis=1)
                    img[y : y + 2 * GLYPH_H, x : x + 2 * GLYPH_W][big] = INK
                    x += 2 * ADVANCE
                    continue
                gy = y
                if ci == len(w) - 1:
                    if mark == "sup":
                        gy = y - SCRIPT_OFFSET
                    elif mark == "sub":
                        gy = y + SCRIPT_OFFSET
                img[gy : gy + GLYPH_H, x : x + GLYPH_W][mask] = INK
                x += ADVANCE
            x += WORD_GAP - 2  # back out the trailing intra-word advance gap
        # (x now one word-gap past the line's right edge; unused)
    if rotate:
        img = np.ascontiguousarray(np.rot90(img, k=(rotate % 360) // 90))
        height, width = img.shape
    bpl = width * bpp + pad
    if bpp == 3:
        payload = np.repeat(img[:, :, None], 3, axis=2).reshape(height, width * 3)
    else:
        payload = img
    if pad:
        payload = np.concatenate(
            [payload, np.zeros((height, pad), dtype=np.uint8)], axis=1
        )
    header = struct.pack("<Iiiii", MAGIC, width, height, bpp, bpl)
    return header + payload.tobytes()


def golden_raster_text(
    text: str, words_per_line: int = 8, lines_per_para: int = 3
) -> str:
    """Expected OCR output by construction (charset-filtered words, wrapped
    into lines/paragraphs, assembly contract applied)."""
    words = ["".join(ch for ch in w if ch in ATLAS) for w in text.split(" ") if w]
    words = [w for w in words if w]
    lines = [
        " ".join(words[i : i + words_per_line])
        for i in range(0, len(words), words_per_line)
    ]
    paras = [
        "\n".join(lines[i : i + lines_per_para])
        for i in range(0, len(lines), lines_per_para)
    ]
    return "\n\n".join(paras) + "\n" if paras else ""
