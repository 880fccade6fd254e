"""CrawlEngine._lookup: the one place a driver-held dict or set reaches
Spark, tested on both of its physical sides.

Up to ``columnar.LIT_LOOKUP_MAX`` rows the helper builds plan literals
(``create_map`` / ``isin``, zero Spark jobs); above it, a
createDataFrame + broadcast join.  Forcing the threshold to 0 sends
every lookup that has rows down the broadcast side, so each test runs
twice: at the default threshold and at 0.
"""

from __future__ import annotations

import dataclasses
import sys

import pytest

from cianparser_spark.corpus import webgen as W
from cianparser_spark.engine import columnar, compat, crawler
from cianparser_spark.engine.crawler import CrawlEngine
from cianparser_spark.semantics.simulator import CrawlSeed, ReferenceSimulator

THRESHOLDS = ["default", 0]


def _set_threshold(monkeypatch, threshold):
    if threshold != "default":
        monkeypatch.setattr(columnar, "LIT_LOOKUP_MAX", threshold)


def _broadcasts(df) -> int:
    return (df._jdf.queryExecution().logical().toString()
            .count("strategy=broadcast"))


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_lookup_shapes(spark, tmp_run_dir, monkeypatch, threshold):
    """Values are null where absent, marks False (never null), the
    filters keep / drop exactly the listed keys, and empty rows never
    broadcast — on either side."""
    _set_threshold(monkeypatch, threshold)
    eng = CrawlEngine(spark, tmp_run_dir,
                      [CrawlSeed(1, "Москва", "flat", "sale")],
                      respect_robots=False)
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")],
        "seed_id long, page_number long, key string")

    def got(out, *cols):
        return sorted(tuple(r[c] for c in cols) for r in out.collect())

    def check(out, rows):
        # the broadcast side is taken exactly when rows exceed the threshold
        forced = threshold == 0 and bool(rows)
        assert (_broadcasts(out) > _broadcasts(df)) == forced

    rows = [(1, 10), (3, 30)]
    out = eng._lookup(df, rows, "seed_id long", "wm long")
    check(out, rows)
    assert got(out, "seed_id", "page_number", "wm") == [
        (1, 1, 10), (1, 2, 10), (2, 1, None)]

    rows = [(1, 2, "x", 5)]
    out = eng._lookup(df, rows, "seed_id long, page_number long",
                      "tag string, n long")
    check(out, rows)
    assert got(out, "key", "tag", "n") == [
        ("a", None, None), ("b", "x", 5), ("c", None, None)]

    for rows, want in (([(1, "b"), (2, "z")], [("a", False), ("b", True), ("c", False)]),
                       ([], [("a", False), ("b", False), ("c", False)])):
        out = eng._lookup(df, rows, "seed_id long, key string", mark="_m")
        check(out, rows)
        assert got(out, "key", "_m") == want

    rows = [(1, "a"), (2, "c"), (9, "q")]
    out = eng._lookup(df, rows, "seed_id long, key string", how="left_semi")
    check(out, rows)
    assert got(out, "key") == [("a",), ("c",)]
    out = eng._lookup(df, rows, "seed_id long, key string", how="left_anti")
    check(out, rows)
    assert got(out, "key") == [("b",)]

    out = eng._lookup(df, [], "seed_id long", "wm long")
    check(out, [])
    assert got(out, "wm") == [(None,)] * 3


# DETAIL_CFG's fault mods make Екатеринбург's list page 2 fail twice
# (a list retry, feeding the retry-burn lookup) and its tiny universe
# repeats Казань's page-1/2 cards on page 3 (a cross-page duplicate,
# parked in a dispatched group).  Under a tight budget the groups run
# one per wave, so the Казань page-3 group is still parked when the
# retried Екатеринбург page is finally accepted.
DETAIL_CFG = dataclasses.replace(
    W.DEFAULT_CONFIG, universe_base=40, universe_span=30,
    fail_500_mod=17, fail_429_mod=13)


def _seeds(extra: bool) -> list[CrawlSeed]:
    return [CrawlSeed(1, "Екатеринбург", "flat", "sale", rooms="all",
                      with_extra_data=extra,
                      additional_settings={"end_page": 3}),
            CrawlSeed(2, "Казань", "flat", "rent_short", rooms="all",
                      with_extra_data=extra,
                      additional_settings={"end_page": 3})]


CRAWLS = [  # (name, seeds, host_tokens, spill the parked registry)
    ("list", _seeds(False), 2, False),
    ("detail", _seeds(True), 8, False),
    ("spill", [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                         with_extra_data=True,
                         additional_settings={"end_page": 10})], 120, True),
]


def _lookup_call_lines() -> set[int]:
    with open(crawler.__file__, encoding="utf-8") as fh:
        return {i for i, line in enumerate(fh, 1) if "self._lookup(" in line}


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_every_lookup_site_bitmatches_on_both_sides(
        spark, tmp_path, monkeypatch, threshold):
    """Bit-match (rows and the per-seed seen set) on crawls that reach
    every ``_lookup`` call site in crawler.py with rows present.  At 0
    every call site took the broadcast side with rows at least once;
    at the default threshold none did."""
    _set_threshold(monkeypatch, threshold)
    taken: set[tuple[int, bool]] = set()
    orig = CrawlEngine._lookup

    def recorder(self, df, rows, *args, **kw):
        out = orig(self, df, rows, *args, **kw)
        if rows:
            taken.add((sys._getframe(1).f_lineno,
                       _broadcasts(out) > _broadcasts(df)))
        return out

    monkeypatch.setattr(CrawlEngine, "_lookup", recorder)
    for name, seeds, host_tokens, spill in CRAWLS:  # spill runs last
        if spill:
            monkeypatch.setattr(crawler, "_LEDGER_SPILL_ROWS", 0)
        sim = ReferenceSimulator(DETAIL_CFG).run(seeds)
        eng = CrawlEngine(spark, str(tmp_path / name), seeds, DETAIL_CFG,
                          host_tokens=host_tokens)
        rows = compat.to_reference_rows(eng.run(), seeds)
        assert rows == sim.rows, name
        assert {(r["seed_id"], r["deal_url_id"])
                for r in eng.store.read("seen").collect()} == sim.seen, name
        assert eng._parked_derive == spill, name

    sites = _lookup_call_lines()
    assert len(sites) >= 7
    with_rows = {line for line, _ in taken}
    assert with_rows == sites, f"sites never reached with rows: {sites - with_rows}"
    broadcast = {line for line, b in taken if b}
    assert broadcast == (sites if threshold == 0 else set())
