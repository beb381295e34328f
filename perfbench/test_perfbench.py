"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench import gen, oracle
from perfbench.rss import PeakRss, descendants
from perfbench.trace import Tracer
from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.kernels.raster import extract_raster_doc
from tesseract_rs_spark.operators.extract import extract_text_batch


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _program_pages_output(pages: pd.DataFrame) -> pd.DataFrame:
    """The extraction operator's per-batch body, run in-process: the same
    (url, status, text) rows the Spark stage emits."""
    out = extract_text_batch(pages, ExtractConfig(), ("url",))
    return pd.DataFrame({"url": out["url"], "status": out["status"],
                         "sha256": out["text"].map(_sha)})


def test_oracle_passes_program_output_and_catches_one_corrupted_row():
    pages, golden = gen.gen_html(96, seed=5)
    got = _program_pages_output(pages)
    assert oracle.check_pages(got, golden) == (96, 0)
    bad = got.copy()
    bad.loc[17, "sha256"] = _sha("corrupted text")
    assert oracle.check_pages(bad, golden) == (96, 1)
    bad = got.copy()
    bad.loc[5, "status"] = "ok" if bad.loc[5, "status"] != "ok" else "utf8_error"
    assert oracle.check_pages(bad, golden) == (96, 1)


def test_oracle_catches_missing_duplicated_and_extra_rows():
    pages, golden = gen.gen_html(48, seed=6)
    got = _program_pages_output(pages)
    assert oracle.check_pages(got.drop(index=3), golden) == (48, 1)
    assert oracle.check_pages(pd.concat([got, got.iloc[[9]]]), golden) == (48, 1)
    extra = pd.DataFrame({"url": ["https://example.org/xx/999999"],
                          "status": ["ok"], "sha256": [_sha("")]})
    assert oracle.check_pages(pd.concat([got, extra]), golden) == (48, 1)


def test_raster_oracle_on_program_output():
    pages, golden = gen.gen_raster(6, seed=3)
    got = pd.DataFrame({
        "url": pages["url"],
        "status": [extract_raster_doc(p).status for p in pages["html"]],
        "sha256": [_sha(extract_raster_doc(p).text) for p in pages["html"]],
    })
    assert oracle.check_pages(got, golden) == (6, 0)
    got.loc[2, "sha256"] = _sha("x")
    assert oracle.check_pages(got, golden) == (6, 1)


def test_dedup_golden_plants_clusters_and_survivor_oracle():
    pages, golden = gen.gen_dedup(400, seed=9)
    assert len(pages) == len(golden) == 400
    sizes = golden.groupby("group_id").size()
    assert (sizes > 1).sum() > 20 and (sizes == 1).sum() > 20
    want = oracle.expected_survivors(golden)
    assert want == set(golden.loc[golden["survives"], "url"])
    assert oracle.check_survivors(sorted(want), golden) == (400, 0)
    loser = golden.loc[~golden["survives"], "url"].iloc[0]
    assert oracle.check_survivors(sorted(want) + [loser], golden) == (400, 1)
    assert oracle.check_survivors(sorted(want)[1:], golden) == (400, 1)
    assert oracle.check_survivors(sorted(want) + sorted(want)[:1], golden) == (400, 1)


def test_dedup_variants_are_one_word_edit_apart():
    pages, golden = gen.gen_dedup(300, seed=2)
    text = dict(zip(pages["url"], pages["text"]))
    for _, g in golden.groupby("group_id"):
        words = [text[u].split(" ") for u in g["url"]]
        for w in words[1:]:
            assert len(w) == len(words[0]) >= 100
            assert sum(a != b for a, b in zip(w, words[0])) <= 2


def test_lineage_oracle():
    lineage = [{"bucket": b, "n_rows": 10} for b in range(4)]
    assert oracle.check_lineage(lineage, 40, 4) == 0
    assert oracle.check_lineage(lineage[:3], 30, 4) == 1
    assert oracle.check_lineage(lineage, 41, 4) == 1


def _tree_bytes(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if f != "meta.json":
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_regenerates_identical_bytes(tmp_path, monkeypatch, workload):
    monkeypatch.setitem(gen.SIZES, workload, (40, 2))
    a = gen.ensure_input(str(tmp_path / "a"), workload, 7)
    b = gen.ensure_input(str(tmp_path / "b"), workload, 7)
    c = gen.ensure_input(str(tmp_path / "c"), workload, 8)
    assert a["gen_s"] > 0 and [s["pages"] for s in a["shards"]] == [20, 20]
    ta, tb, tc = (_tree_bytes(str(tmp_path / x / "inputs")) for x in "abc")
    key = gen.input_key(workload, 7)
    assert ta == tb and all(k.startswith(key) for k in ta)
    assert ta.keys() != tc.keys()
    # second call is a cache hit
    assert gen.ensure_input(str(tmp_path / "a"), workload, 7)["gen_s"] == 0.0


def test_cache_evicts_oldest_input(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.SIZES, "html_extract", (16, 1))
    for seed in range(4):
        gen.ensure_input(str(tmp_path), "html_extract", seed)
    kept = sorted(os.listdir(tmp_path / "inputs"))
    assert len(kept) == gen.KEEP_CACHED
    assert kept[-1].startswith("html_extract-s3-")


def test_tracer_prefix_differencing():
    tr = Tracer("r")
    for _ in range(2):
        with tr.span("unit"):
            with tr.span("scan"):
                time.sleep(0.01)
            with tr.span("extract"):
                time.sleep(0.03)
    selfs = tr.self_times("extract", "scan")
    assert len(selfs) == 2 and all(0.01 < s < 0.03 for s in selfs)
    assert {s.parent for s in tr.spans if s.name == "scan"} == {
        s.id for s in tr.spans if s.name == "unit"}


def test_peak_rss_covers_child_processes():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        deadline = time.monotonic() + 5
        while child.pid not in descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in descendants(os.getpid())
        with PeakRss(interval_s=0.01) as rss:
            time.sleep(0.05)
        assert rss.samples >= 2 and rss.peak_mb > 1
    finally:
        child.kill()
        child.wait()


def test_benchmark_json_matches_the_code():
    from perfbench import run, workloads

    with open(os.path.join(gen.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
