"""Seeded, single-process input generator with an on-disk cache.

Every workload's input is a pages table (``url, warc_ts, html, text,
lang``) written as parquet shards plus a golden table the oracle checks
against.  Inputs are pure functions of (workload, seed, size) and of the
generator source: the cache key hashes ``perfbench/gen.py`` together with
the program's renderers (``corpus.py`` and ``kernels/raster.py``), so a
renderer change can never run against stale inputs.

Layout of one cached input::

    <work>/inputs/<workload>-s<seed>-n<size>-<srchash>/
        shard-000/part-000.parquet ... part-015.parquet
        ...
        golden.parquet
        meta.json            (written last; its presence marks completion)

Each shard is one closed-loop job's input.  It is split into several files
per task slot, because Spark packs whole small files into scan partitions:
a single file (one pandas row group) would make one task do all the work
at every slot count.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (pages per workload, shards); a shard is one closed-loop job
SIZES = {
    "html_extract": (40_000, 10),
    "curate_dedup": (4_000, 1),
    "raster_ocr": (1_024, 4),
}
FILES_PER_SHARD = 16
KEEP_CACHED = 2  # cached inputs kept per workload (oldest evicted)

_SOURCES = (
    "perfbench/gen.py",
    "tesseract_rs_spark/corpus.py",
    "tesseract_rs_spark/kernels/raster.py",
)


def source_hash() -> str:
    h = hashlib.sha256()
    for rel in _SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


# ---------------------------------------------------------------------------
# generators: (pages, golden) pandas frames
# ---------------------------------------------------------------------------


def gen_html(n: int, seed: int):
    """``corpus.make_corpus``: three template variants, 3/16 corrupt rows,
    the 1/29 oversized tail and boilerplate-only pages.  Golden: per-url
    sha256 of the expected text, the expected status and its word count."""
    from tesseract_rs_spark.corpus import make_corpus

    pages, golden = make_corpus(n, seed)
    golden["n_words"] = golden["text"].map(lambda t: len(t.split()))
    return pages, golden[["url", "sha256", "expected_status", "n_words"]]


def _edit_one_word(words: list, rng: np.random.RandomState, vocab: list, used: set) -> list:
    """Copy of ``words`` with one word (at a position not in ``used``, away
    from both ends) replaced by a different vocabulary word."""
    while True:
        pos = int(rng.randint(2, len(words) - 2))
        if pos not in used:
            break
    used.add(pos)
    out = list(words)
    while out[pos] == words[pos]:
        out[pos] = vocab[int(rng.randint(0, len(vocab)))]
    return out


def gen_dedup(n: int, seed: int):
    """Planted near-duplicate corpus.  Pages come in groups:

    - near-duplicate clusters (about half the pages): a base text of
      100-200 words plus 1-5 variants, each one word edit away from the
      base, so every variant has 3-shingle Jaccard >= 0.94 with the base
      and >= 0.88 with any other variant;
    - exact-copy groups (about 15%): 2-3 pages with identical text;
    - singletons: independent random text (Jaccard near 0).

    Every page is an ok page whose text passes the curation gate (>= 100
    words, English stopwords only).  Golden: the url of every page, its
    group id and whether it survives — the minimum url of each group.
    """
    from tesseract_rs_spark.corpus import _VOCAB, page_url, page_ts, render_html

    rng = np.random.RandomState(seed)
    vocab = list(_VOCAB)
    texts, groups = [], []
    gid = 0
    while len(texts) < n:
        base = [vocab[i] for i in rng.randint(0, len(vocab), size=int(rng.randint(100, 201)))]
        r = rng.random_sample()
        if r < 0.5:
            used: set = set()
            members = [base] + [
                _edit_one_word(base, rng, vocab, used)
                for _ in range(int(rng.randint(1, 6)))
            ]
        elif r < 0.65:
            members = [base] * int(rng.randint(2, 4))
        else:
            members = [base]
        for words in members[: n - len(texts)]:
            texts.append(" ".join(words))
            groups.append(gid)
        gid += 1
    order = rng.permutation(n)
    langs = ["en", "de", "fr", "es", "tr"]
    rows, gold = [], []
    for doc_id, src in enumerate(order):
        lang = langs[int(rng.randint(0, len(langs)))]
        url = page_url(doc_id, lang)
        text = texts[src]
        html = render_html(text, doc_id, lang).encode("utf-8")
        rows.append((url, page_ts(doc_id), html, text, lang))
        gold.append((url, groups[src]))
    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    golden = pd.DataFrame(gold, columns=["url", "group_id"])
    survivors = set(golden.groupby("group_id")["url"].min())
    golden["survives"] = golden["url"].isin(survivors)
    return pages, golden


def gen_raster(n: int, seed: int):
    """Raster pages from ``kernels.raster.render_page``: 20-105 words of
    charset text per page (about 100-600 KB each).  Golden: per-url sha256
    of ``golden_raster_text``."""
    from tesseract_rs_spark.corpus import _gen_text, page_ts, page_url, sha256_hex
    from tesseract_rs_spark.kernels.raster import golden_raster_text, render_page

    rng = np.random.RandomState(seed)
    rows, gold = [], []
    for doc_id in range(n):
        text = _gen_text(rng, int(rng.randint(20, 106)))
        url = page_url(doc_id, "en")
        rows.append((url, page_ts(doc_id), render_page(text), text, "en"))
        gold.append((url, sha256_hex(golden_raster_text(text)), "ok"))
    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    golden = pd.DataFrame(gold, columns=["url", "sha256", "expected_status"])
    return pages, golden


GENERATORS = {
    "html_extract": gen_html,
    "curate_dedup": gen_dedup,
    "raster_ocr": gen_raster,
}


# ---------------------------------------------------------------------------
# parquet layout + cache
# ---------------------------------------------------------------------------


def to_table(pages: pd.DataFrame) -> pa.Table:
    """Pages frame -> Arrow table with ``warc_ts`` as microsecond UTC
    timestamps (pandas' default nanosecond parquet type is rejected by
    Spark 4.1 with PARQUET_TYPE_ILLEGAL)."""
    pages = pages.assign(warc_ts=pages["warc_ts"].astype("datetime64[us, UTC]"))
    return pa.Table.from_pandas(pages, preserve_index=False)


def write_input(path: str, pages: pd.DataFrame, golden: pd.DataFrame, shards: int) -> list:
    """Write ``shards`` shard directories of FILES_PER_SHARD files each plus
    the golden table; returns [{"path", "pages", "bytes"}] per shard, where
    ``bytes`` is the payload (html column) size."""
    tbl = to_table(pages)
    per_shard = -(-tbl.num_rows // shards)
    out = []
    for s in range(shards):
        shard = tbl.slice(s * per_shard, per_shard)
        d = os.path.join(path, f"shard-{s:03d}")
        os.makedirs(d)
        per_file = -(-shard.num_rows // FILES_PER_SHARD)
        for i in range(FILES_PER_SHARD):
            part = shard.slice(i * per_file, per_file)
            if part.num_rows:
                pq.write_table(part, os.path.join(d, f"part-{i:03d}.parquet"))
        nbytes = pc.sum(pc.binary_length(shard.column("html"))).as_py() or 0
        out.append({"path": os.path.basename(d), "pages": shard.num_rows, "bytes": nbytes})
    pq.write_table(pa.Table.from_pandas(golden, preserve_index=False),
                   os.path.join(path, "golden.parquet"))
    return out


def input_key(workload: str, seed: int) -> str:
    n, _ = SIZES[workload]
    return f"{workload}-s{seed}-n{n}-{source_hash()}"


def ensure_input(work: str, workload: str, seed: int) -> dict:
    """Return the cached input's meta, generating it first if absent.
    ``meta['gen_s']`` is 0.0 on a cache hit."""
    root = os.path.join(work, "inputs")
    path = os.path.join(root, input_key(workload, seed))
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        os.utime(meta_path)
        return _resolve(path, dict(meta, gen_s=0.0))
    shutil.rmtree(path, ignore_errors=True)
    _evict(root, workload)
    t0 = time.perf_counter()
    n, shards = SIZES[workload]
    pages, golden = GENERATORS[workload](n, seed)
    shard_meta = write_input(path, pages, golden, shards)
    meta = {
        "workload": workload,
        "seed": seed,
        "pages": int(len(pages)),
        "shards": shard_meta,
        "gen_s": time.perf_counter() - t0,
    }
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return _resolve(path, meta)


def _resolve(path: str, meta: dict) -> dict:
    """Meta with shard and golden paths made absolute (stored relative so
    a moved work directory stays valid)."""
    shards = [dict(s, path=os.path.join(path, s["path"])) for s in meta["shards"]]
    return dict(meta, shards=shards, golden=os.path.join(path, "golden.parquet"))


def _evict(root: str, workload: str) -> None:
    """Keep at most KEEP_CACHED - 1 older inputs of ``workload`` (one slot
    is about to be filled), oldest use first."""
    if not os.path.isdir(root):
        return
    mine = []
    for name in os.listdir(root):
        if name.startswith(workload + "-s"):
            meta = os.path.join(root, name, "meta.json")
            mtime = os.path.getmtime(meta) if os.path.exists(meta) else 0.0
            mine.append((mtime, name))
    for _, name in sorted(mine)[: max(0, len(mine) - (KEEP_CACHED - 1))]:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)


if __name__ == "__main__":
    # python3 -m perfbench.gen <work dir> <workload> <seed>: ensure the input
    # exists and print its meta as one JSON line
    import sys

    work, workload, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    print(json.dumps(ensure_input(work, workload, seed)))
