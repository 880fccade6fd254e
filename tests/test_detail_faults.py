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
import json
import os
import tempfile

import pytest

from cianparser_spark.corpus import webgen as W
from cianparser_spark.engine import compat, model
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


# ------------------------------------- parked-placeholder registry
#
# The synthetic web copies a key only onto the adjacent next list page
# (webgen.page_oids), so no key has the three occurrences that make the
# registry decide anything: a dead winner, a duplicate parked in a
# pending group, and a later occurrence.  No crawl can reach that case;
# these tests build it by hand around the two consumers.

def _registry_engine(spark, run_dir):
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 4})]
    eng = CrawlEngine(spark, run_dir, seeds, RESURRECTION_CFG)
    eng._load_state()
    return eng


def _groups(spark, eng, pages_cards):
    """Pending detail-group frontier rows: {page: [(key, d), ...]}."""
    tpl = eng.runtimes[1]["template"]
    rows = [(tpl.format(pn), "detail", "cian.ru",
             json.dumps({"b": 0, "cards": [
                 {"i": i, "k": k, "u": f"u-{k}", "a": 0, "d": d}
                 for i, (k, d) in enumerate(cards)]}),
             1, pn, sum(1 for _, d in cards if not d), 0, 2)
            for pn, cards in pages_cards.items()]
    return spark.createDataFrame(rows, model.FRONTIER_SCHEMA)


def test_parked_keys_are_non_local_placeholders(spark, tmp_run_dir):
    """A group registers the placeholders whose key has no winning card
    in the group itself, once per key; stopped seeds' groups drop out."""
    eng = _registry_engine(spark, tmp_run_dir)
    groups = _groups(spark, eng, {
        2: [("a", 0), ("b", 1), ("a", 1), ("b", 1)],
        3: [("c", 1)]})
    got = sorted(tuple(r) for r in eng._parked_keys(groups).collect())
    assert got == [(1, 2, "b"), (1, 3, "c")]
    eng._stopped = {1: 3}
    assert [tuple(r) for r in eng._parked_keys(groups).collect()] == [(1, 2, "b")]


def test_dead_key_parked_in_deferred_group_blocks_resurrection(spark, tmp_run_dir):
    """Key K died with its page; a deferred page-2 group still parks K,
    and K recurs on page 3's newly accepted cards.  The earliest parked
    duplicate gets the fetch (flat/list.py:57-67's walk), so page 3's K
    ships as a placeholder and no inflight row claims it."""
    eng = _registry_engine(spark, tmp_run_dir)
    card = {c: None for c in model.STAGED_SCHEMA.fieldNames()}
    card.update(seed_id=1, page_number=3, card_index=0, wave=2,
                deal_url_id="K", url="https://cian.ru/sale/flat/K/")
    need = spark.createDataFrame([card], model.STAGED_SCHEMA)
    dead = [(1, "K", "u-K", 1, "dead", 2)]

    def page3(deferred):
        groups, ks = eng._detail_ledger(2, dead, None, need, deferred)
        g = json.loads(groups.filter("page_number = 3").first()["card_json"])
        return g["cards"][0]["d"], {r["key"] for r in ks.collect()
                                    if r["state"] == "inflight"}

    assert page3(None) == (0, {"K"})  # nothing parked: page 3 resurrects K
    assert page3(_groups(spark, eng, {2: [("K", 1)]})) == (1, set())


def test_dead_key_parked_in_pending_group_holds_paused_walk(spark, tmp_run_dir):
    """A walk paused on K at page 3 must not resurrect K while a pending
    page-2 group still parks it: page 2 reaches K first."""
    eng = _registry_engine(spark, tmp_run_dir)
    dead = [(1, "K", "u-K", 1, "dead", 2)]

    def resolve(pending):
        eng._paused = {(1, 3): {"b": 0, "blocker": "K", "rest": [
            {"i": 0, "k": "K", "u": "u-K", "a": 0, "d": 1}]}}
        cont, conv = eng._resolve_paused(2, dead, None, pending)
        return cont is not None, [r[1] for r in conv], sorted(eng._paused)

    assert resolve(None) == (True, ["K"], [])
    assert resolve(_groups(spark, eng, {2: [("K", 1)]})) == (False, [], [(1, 3)])


# ------------------------------------------------ legacy parkreg table

def test_resume_ignores_legacy_parkreg_table(spark, tmp_run_dir):
    """A store from before the parked-placeholder registry was derived
    from the frontier may still list a ``parkreg`` table.  A resumed
    crawl never reads it: here, planted after the first wave, it parks
    every key the crawl emits at page 0, which no group ever clears,
    so a crawl that consulted it would hold back the resurrection of
    the second wave (and deadlock).  The table is carried forward
    untouched and the crawl bit-matches."""
    from pyspark.sql import types as T

    from cianparser_spark.engine.store import WaveStore

    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       with_extra_data=True,
                       additional_settings={"end_page": 10})]
    sim = ReferenceSimulator(RESURRECTION_CFG).run(seeds)
    CrawlEngine(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                host_tokens=120).run(max_waves=1)
    schema = T.StructType([T.StructField("key", T.StringType()),
                           T.StructField("seed_id", T.LongType()),
                           T.StructField("page_number", T.LongType())])
    legacy = WaveStore(spark, tmp_run_dir,
                       {**model.TABLE_SCHEMAS, "parkreg": schema},
                       model.REPLACE_TABLES | {"parkreg"})
    assert legacy.last_wave() == 1
    legacy.commit_wave(legacy.last_wave(), replaces={
        "parkreg": ([(k, s, 0) for s, k in sorted(sim.seen)], schema)})
    planted = legacy.table_paths("parkreg")
    assert planted

    eng = CrawlEngine(spark, tmp_run_dir, seeds, RESURRECTION_CFG,
                      host_tokens=120)
    rows = compat.to_reference_rows(eng.run(), seeds)
    assert rows == sim.rows
    assert eng.store.table_paths("parkreg") == planted
    assert sorted(os.listdir(os.path.join(tmp_run_dir, "data", "parkreg"))) \
        == sorted(os.path.basename(p) for p in planted)
