"""Page-coupled detail retry semantics (T2×D1-D3): the engine's detail
group scheduler vs the sequential oracle with detail faults ON.

The reference couples a detail-fetch failure to its LIST page's
3-attempt budget (cianparser/cianparser.py:71-83 catches the
raise_for_status from flat/page.py:15 / newobject/page.py:15): the
failure burns a page attempt, exhaustion kills the page dropping every
unfetched card, a key joins the seen set only after its detail
succeeds (flat/list.py:57-67), and detail-URL attempt counters are
session-global — a duplicate on a later page RESURRECTS a failed fetch
with the counter continuing.  These tests pin each branch: single-500
recovery within budget, page death, cross-page dup resurrection,
permanently dead urls, pause/min-one under tiny token budgets, and
resume through arbitrary wave cuts.
"""

import dataclasses
import tempfile

import pytest

from cianparser_spark.corpus import webgen as W
from cianparser_spark.engine import compat, crawler
from cianparser_spark.engine.crawler import CrawlEngine
from cianparser_spark.semantics.simulator import CrawlSeed, ReferenceSimulator

# fail mods chosen (tests committed after a simulator sweep) so the
# 40/30-universe crawl exhibits ≥1 page death AND ≥1 resurrection —
# a key first seen on the dead page, emitted later from a duplicate
RESURRECTION_CFG = dataclasses.replace(
    W.DEFAULT_CONFIG, universe_base=40, universe_span=30,
    fail_500_mod=17, fail_429_mod=13)


def _bit_match(spark, run_dir, seeds, cfg, **kw):
    sim = ReferenceSimulator(cfg).run(seeds)
    eng = CrawlEngine(spark, run_dir, seeds, cfg, **kw)
    rows = compat.to_reference_rows(eng.run(), seeds)
    assert len(rows) == len(sim.rows)
    for i, (a, b) in enumerate(zip(sim.rows, rows)):
        assert a == b, f"row {i} differs: {a} != {b}"
    return sim, eng


def test_detail_faults_page_death_and_resurrection(spark, tmp_run_dir):
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 10})]
    sim, eng = _bit_match(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                          host_tokens=120)
    # the config must actually exercise the coupling
    assert sim.failed_pages, "expected a detail-driven page death"
    dead = {(r["seed_id"], r["page_number"]) for r in
            eng.store.read("dead").collect()}
    assert {(s, p) for s, p in sim.failed_pages} <= dead


def test_detail_faults_tiny_budget_pauses(spark, tmp_run_dir):
    """host_tokens below one group's cost: the min-one selector must
    still make progress and the paused-walk machinery must converge."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 10})]
    cfg = dataclasses.replace(RESURRECTION_CFG, fail_429_mod=41)
    _bit_match(spark, tmp_run_dir, seeds, cfg, host_tokens=4)


def test_detail_faults_dead_urls(spark, tmp_run_dir):
    """dead_mod: permanently-500 detail urls kill their page at every
    occurrence; the key never emits, matching the oracle exactly."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 12})]
    cfg = dataclasses.replace(RESURRECTION_CFG, fail_500_mod=11,
                              dead_mod=23)
    sim, _ = _bit_match(spark, tmp_run_dir, seeds, cfg, host_tokens=120)
    assert len(sim.failed_pages) >= 2


def test_detail_faults_multiseed_suburban_newobject(spark, tmp_run_dir):
    seeds = [CrawlSeed(1, "Казань", "suburban", "sale",
                       suburban_type="house", with_extra_data=True,
                       additional_settings={"end_page": 8}),
             CrawlSeed(2, "Казань", "newobject")]
    _bit_match(spark, tmp_run_dir, seeds, RESURRECTION_CFG, host_tokens=8)


def test_detail_faults_resume_mid_ledger(spark, tmp_run_dir):
    """Interrupt while groups/ledger are in flight; a fresh engine on
    the same store must reproduce the uninterrupted run (keystate,
    paused walks, and page burns all rebuild from the snapshot)."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 10})]
    with tempfile.TemporaryDirectory() as d_full:
        full = CrawlEngine(spark, d_full, seeds, RESURRECTION_CFG,
                           host_tokens=6).run().drop("wave").collect()
        CrawlEngine(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                    host_tokens=6).run(max_waves=2)
        resumed = CrawlEngine(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                              host_tokens=6).run().drop("wave").collect()
    assert resumed == full


def test_newobject_default_config_bitmatch(spark, tmp_run_dir):
    """The round-3 regression case: a full get_newobjects crawl under
    DEFAULT_CONFIG (detail faults on) — the engine previously emitted
    31 extra rows by retrying details independently of the page
    budget."""
    seeds = [CrawlSeed(1, "Казань", "newobject")]
    _bit_match(spark, tmp_run_dir, seeds, W.DEFAULT_CONFIG, host_tokens=4)


def test_same_wave_emission_dup_not_refetched(spark, tmp_run_dir):
    """Fuzz-found (scripts/fuzz_crawl.py seed 0 trial 8): a dup card
    whose list page lands in the SAME WAVE as the emission of its key
    (another page's group walk) must be dropped like any seen dup —
    the key has already left the keystate ledger by then, so without
    the same-wave emitted-keys anti-join it ranked 1 with null state
    and won a duplicate fetch (17 rows vs the reference's 16).  Here
    page 2 is robots-blocked, page 4's list fetch 429s into a later
    wave, and key 750862061 (page 3 card 4, emitted before page 3
    dies) recurs as page 4 card 4."""
    cfg = dataclasses.replace(
        W.DEFAULT_CONFIG, universe_base=40, universe_span=80,
        fail_500_mod=11, fail_429_mod=2,
        robots_disallow=("/cat.php?engine_version=2&p=2&",))
    seeds = [CrawlSeed(1, "Москва", "suburban", "rent_long",
                       suburban_type="townhouse", with_extra_data=True,
                       additional_settings={"end_page": 5})]
    sim, _ = _bit_match(spark, tmp_run_dir, seeds, cfg, host_tokens=256)
    assert sim.failed_pages == [(1, 1), (1, 3)]


# ------------------------------------------- enforced ledger cap (spill)

def test_ledger_cap_spill_bitmatch(spark, tmp_run_dir, monkeypatch):
    """ENFORCED parked-ledger bound: _LEDGER_SPILL_ROWS=0 makes the
    registry spill into the store's parkreg table at its first entry;
    every later consultation (blocked-keys join, parked-min lookup,
    marker removal, captcha purge) runs as DataFrame ops against the
    committed table.  A pathological duplicate rate (tiny universe →
    nearly every card repeats on every page) under detail faults must
    still bit-match the sequential oracle — and the driver dict stays
    empty for the whole run."""
    monkeypatch.setattr(crawler, "_LEDGER_SPILL_ROWS", 0)
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 10})]
    sim, eng = _bit_match(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                          host_tokens=120)
    assert eng._parked_derive, "cap breach must have triggered the spill"
    assert eng._parked_size() == 0  # dict never regrows after the spill
    assert eng.store.table_paths("parkreg")  # the registry is in the store


def test_ledger_spill_survives_resume(spark, tmp_run_dir, monkeypatch):
    """A killed run that had spilled must RESUME in derive mode (the
    committed parkreg table is the registry — rebuilding the dict
    could immediately re-violate the cap) and still converge to the
    uninterrupted oracle."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 10})]
    monkeypatch.setattr(crawler, "_LEDGER_SPILL_ROWS", 0)
    sim = ReferenceSimulator(RESURRECTION_CFG).run(seeds)
    cut = CrawlEngine(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                      host_tokens=120)
    cut.run(max_waves=2)
    assert cut.store.last_wave() == 2
    eng = CrawlEngine(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                      host_tokens=120)
    rows = compat.to_reference_rows(eng.run(), seeds)
    assert rows == sim.rows
    if cut._parked_derive:
        assert eng._parked_derive  # resumed straight into derive mode
