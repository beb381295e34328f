"""Correctness oracles: compare a workload's output with the golden answer
its generator knew by construction.

Every check returns ``(attempted, failed)``: ``attempted`` is the number
of urls the unit was asked to process and ``failed`` the number of urls
that came back wrong, missing or duplicated (plus any url that should not
be there at all).  ``failed / attempted`` is the run's failed share.
"""

from __future__ import annotations

import pandas as pd


def check_pages(got: pd.DataFrame, golden: pd.DataFrame) -> tuple:
    """Per-url extraction check.  ``got`` has (url, status, sha256) — the
    sha256 hex digest of the emitted text; ``golden`` has (url, sha256,
    expected_status) for exactly the urls of the unit."""
    counts = got["url"].value_counts()
    dup = set(counts.index[counts > 1])
    first = got.drop_duplicates("url").set_index("url")
    want = golden.set_index("url")
    common = want.index.intersection(first.index)
    wrong = common[
        (first.loc[common, "status"].to_numpy() != want.loc[common, "expected_status"].to_numpy())
        | (first.loc[common, "sha256"].to_numpy() != want.loc[common, "sha256"].to_numpy())
    ]
    missing = want.index.difference(first.index)
    extra = first.index.difference(want.index)
    failed = set(wrong) | set(missing) | set(extra) | dup
    return len(golden), len(failed)


def expected_survivors(golden: pd.DataFrame) -> set:
    """Minimum url of every planted group among the unit's urls: exact
    copies keep their first url, near-duplicate clusters their minimum."""
    return set(golden.groupby("group_id")["url"].min())


def check_survivors(got_urls, golden: pd.DataFrame) -> tuple:
    """Curate + fuzzy-dedup check: the surviving urls must be exactly the
    expected survivors, each once."""
    got = pd.Series(list(got_urls), dtype=object)
    counts = got.value_counts()
    dup = set(counts.index[counts > 1])
    want = expected_survivors(golden)
    have = set(got)
    failed = (have ^ want) | dup
    return len(golden), len(failed)


def check_lineage(lineage: list, n_out: int, n_buckets: int) -> int:
    """Exactly-once bookkeeping of a checkpointed run: one lineage record
    per bucket, and lineage row totals equal to the rows read back.
    Returns the number of violations (0 when consistent)."""
    bad = 0
    buckets = [r["bucket"] for r in lineage]
    if sorted(buckets) != list(range(n_buckets)):
        bad += 1
    if sum(r["n_rows"] for r in lineage) != n_out:
        bad += 1
    return bad
