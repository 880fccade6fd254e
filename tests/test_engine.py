"""Engine vs sequential oracle: crawl-order bit-match, seen-set
equality, politeness, resume, snapshot atomicity."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from cianparser_spark.corpus import webgen as W
from cianparser_spark.engine import compat
from cianparser_spark.engine.crawler import CrawlEngine
from cianparser_spark.semantics import urls
from cianparser_spark.semantics.simulator import CrawlSeed, ReferenceSimulator

BITMATCH_CFG = dataclasses.replace(W.DEFAULT_CONFIG, faults_on_details=False)


def _bit_match(spark, tmp_run_dir, seeds, cfg, **engine_kw):
    sim = ReferenceSimulator(cfg).run(seeds)
    eng = CrawlEngine(spark, tmp_run_dir, seeds, cfg, **engine_kw)
    offers = eng.run()
    rows = compat.to_reference_rows(offers, seeds)
    assert len(rows) == len(sim.rows)
    for i, (a, b) in enumerate(zip(sim.rows, rows)):
        assert a == b, f"row {i} differs: {a} != {b}"
    # seen-set equality, PER SEED on both sides (flat/suburban key =
    # deal_url_id; newobject = url) — each seed models one reference
    # run with its own fresh result_set (base_list.py:24)
    eng_seen = {
        (r["seed_id"], r["deal_url_id"])
        for r in eng.store.read("seen").collect()
    }
    assert eng_seen == sim.seen
    return sim, eng


def test_bitmatch_multiseed_with_faults(spark, tmp_run_dir):
    seeds = [
        CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2),
                  additional_settings={"end_page": 3}),
        CrawlSeed(2, "Москва", "flat", "rent_long", rooms="all",
                  additional_settings={"end_page": 2}),
        CrawlSeed(3, "Казань", "suburban", "sale", suburban_type="house",
                  additional_settings={"end_page": 2}),
    ]
    _bit_match(spark, tmp_run_dir, seeds, BITMATCH_CFG, host_tokens=16)


def test_bitmatch_minby_dedup_path(spark, tmp_run_dir, monkeypatch):
    """_DEDUP_BROADCAST_ROWS=0 forces the large-wave min_by fallback;
    it must produce the identical crawl-ordered output as the
    broadcast-semi winner join the small waves take."""
    from cianparser_spark.engine import crawler

    monkeypatch.setattr(crawler, "_DEDUP_BROADCAST_ROWS", 0)
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2),
                       additional_settings={"end_page": 3})]
    _bit_match(spark, tmp_run_dir, seeds, BITMATCH_CFG, host_tokens=16)


def test_bitmatch_extra_data_and_newobject(spark, tmp_run_dir):
    seeds = [
        CrawlSeed(1, "Москва", "flat", "sale", rooms=1, with_extra_data=True,
                  additional_settings={"end_page": 2}),
        CrawlSeed(2, "Москва", "newobject"),
    ]
    cfg = dataclasses.replace(BITMATCH_CFG, universe_base=40, universe_span=30)
    sim, eng = _bit_match(spark, tmp_run_dir, seeds, cfg, host_tokens=120)
    assert sim.detail_pages_fetched > 0


def test_bitmatch_captcha_circuit_breaker(spark, tmp_run_dir):
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms=3,
                     additional_settings={"end_page": 5})
    tpl = seed.url_template()
    cfg = dataclasses.replace(
        BITMATCH_CFG, captcha_pages=frozenset({urls.format_page_url(tpl, 3)})
    )
    sim, eng = _bit_match(spark, tmp_run_dir, [seed], cfg, host_tokens=16)
    assert sim.captcha_stopped
    stopped = eng.store.read("stopped").collect()
    assert len(stopped) == 1 and stopped[0]["captcha_page"] == 3


def test_politeness_budget_bounds_fetches_per_wave(spark, tmp_run_dir):
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2, 3),
                     additional_settings={"end_page": 6})
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG, host_tokens=2)
    eng.run(max_waves=2)
    m = eng.store.read("metrics").groupBy("wave").agg(
        F.sum("pages_fetched").alias("p"), F.sum("n_429").alias("e")
    ).collect()
    for r in m:
        # ≤ host_tokens list fetches per host per wave (1 host here)
        assert r["p"] + r["e"] <= 2


def test_resume_from_snapshot_identical(spark, tmp_run_dir):
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2),
                       additional_settings={"end_page": 3})]
    import tempfile, shutil

    d_full = tempfile.mkdtemp()
    try:
        full = compat.to_reference_rows(
            CrawlEngine(spark, d_full, seeds, BITMATCH_CFG, host_tokens=2).run(), seeds
        )
        # killed after 2 waves; a fresh engine resumes from CURRENT snapshot
        e1 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG, host_tokens=2)
        e1.run(max_waves=2)
        assert e1.store.last_wave() == 2
        e2 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG, host_tokens=2)
        resumed = compat.to_reference_rows(e2.run(), seeds)
        assert resumed == full
        s_full = ReferenceSimulator(BITMATCH_CFG).run(seeds)
        assert resumed == s_full.rows
    finally:
        shutil.rmtree(d_full, ignore_errors=True)


def test_snapshot_isolation_uncommitted_invisible(spark, tmp_run_dir):
    from cianparser_spark.engine import model
    from cianparser_spark.engine.store import WaveStore

    store = WaveStore(spark, tmp_run_dir, model.TABLE_SCHEMAS)
    df = spark.createDataFrame([(1, 5)], model.STOPPED_SCHEMA)
    store.commit_wave(0, appends={"stopped": df})
    # a crashed wave writes data but never publishes the manifest
    orphan = store._write("stopped", spark.createDataFrame([(9, 9)], model.STOPPED_SCHEMA), 1)
    assert orphan is not None
    got = store.read("stopped").collect()
    assert [(r["seed_id"], r["captcha_page"]) for r in got] == [(1, 5)]


def test_dead_letter_on_permanent_failure(spark, tmp_run_dir):
    cfg = dataclasses.replace(BITMATCH_CFG, dead_mod=11)
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2, 3),
                     additional_settings={"end_page": 6})
    sim = ReferenceSimulator(cfg).run([seed])
    eng = CrawlEngine(spark, tmp_run_dir, [seed], cfg, host_tokens=16)
    rows = compat.to_reference_rows(eng.run(), [seed])
    assert rows == sim.rows
    dead = eng.store.read("dead").collect()
    assert {int(r["page_number"]) for r in dead} == {p for _, p in sim.failed_pages}
    assert all(r["attempt"] == 3 for r in dead)


def test_faults_crawl_dead_letter_matches_simulator(spark, tmp_run_dir):
    """The contract's fault-injected crawl, asserted at FULL row depth:
    offers bit-match the sequential loop under 500/429/noheader/dead
    faults + a mid-crawl captcha, and the dead-letter table equals the
    simulator's failed_pages EXACTLY — in particular, pages of the
    captcha-stopped seed beyond its stop page are cancelled, never
    dead-lettered (the reference's sequential loop never reaches them)."""
    from cianparser_spark import truth

    seeds, cfg = truth.faults_seeds_and_cfg()
    sim = ReferenceSimulator(cfg).run(seeds)
    assert sim.captcha_stopped and sim.failed_pages
    eng = CrawlEngine(spark, tmp_run_dir, seeds, cfg, host_tokens=16)
    rows = compat.to_reference_rows(eng.run(), seeds)
    assert rows == sim.rows
    dead = {(int(r["seed_id"]), int(r["page_number"]))
            for r in eng.store.read("dead").collect()}
    assert dead == set(sim.failed_pages)
    stopped = {int(r["seed_id"]): int(r["captcha_page"])
               for r in eng.store.read("stopped").collect()}
    assert stopped == {2: 8}


def test_lineage_and_metrics_written(spark, tmp_run_dir):
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms=1,
                     additional_settings={"end_page": 2})
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG, host_tokens=16)
    eng.run()
    lineage = eng.store.read("lineage").collect()
    assert lineage and all(r["input_rows"] >= 0 for r in lineage)
    m = eng.store.read("metrics").agg(F.sum("pages_fetched")).collect()[0][0]
    assert m == 2


def test_progress_metrics_single_wave(spark, tmp_run_dir):
    """T8/A5: the flagship config (2 list pages, 64-token budget) is
    single-wave and single-host by construction — asserted here because
    the a5_progress oracle (final totals vs the simulator dump) relies
    on it — and progress() must report the reference-style ratio
    (base_list.py:49-56) with avg_price the TRUE mean of the wave's
    accepted cards."""
    import math

    from cianparser_spark import truth

    seed, cfg = truth.flagship_seed_and_cfg()
    sim = ReferenceSimulator(cfg, project_fields=False).run([seed])
    eng = CrawlEngine(spark, tmp_run_dir, [seed], cfg, host_tokens=64)
    eng.run()
    metrics = eng.store.read("metrics").collect()
    assert {r["wave"] for r in metrics} == {1}, "flagship must be single-wave"
    assert len({r["host"] for r in metrics}) == 1, "flagship must be single-host"
    prog = eng.progress().collect()
    assert len(prog) == 1
    row = prog[0]
    n = len(sim.rows)
    cap = W.PAGE_SIZE * 2
    assert row["offers_emitted"] == n
    assert row["offers_cum"] == n
    assert row["progress_pct"] == min(100, math.ceil(n * 100 / cap))
    truth_avg = sum(r["price"] for r in sim.rows) / n
    assert row["avg_price"] == pytest.approx(truth_avg, rel=1e-9)


def test_invalidate_and_recrawl_idempotent(spark, tmp_run_dir):
    """Re-crawl invalidation: drop page 2's offers + seen keys, re-fetch
    the page — the final table must be bit-identical to the original
    crawl (no re-accepted URL is lost and none duplicates)."""
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 3})
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG, host_tokens=2,
                      bloom_buckets=4)
    before = compat.to_reference_rows(eng.run(), [seed])
    n_seen_before = eng.store.read("seen").count()

    after = compat.to_reference_rows(
        eng.invalidate_and_recrawl([(1, 2)]), [seed])
    assert after == before
    assert eng.store.read("seen").count() == n_seen_before
    # no (seed, page, card) duplicates snuck in
    off = eng.store.read("offers")
    assert off.count() == off.select("seed_id", "page_number", "card_index").distinct().count()
    # and the invalidation alone really removes page 2 (fresh engine view)
    e2 = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG, host_tokens=2)
    page2 = e2.store.read("offers").filter(F.col("page_number") == 2).count()
    assert page2 > 0  # re-crawled rows are back


def test_invalidate_recrawl_single_wave_adjacent_dups(spark, tmp_run_dir):
    """Regression: a re-crawl after a single-wave crawl must still
    dedup against the exact seen set — otherwise adjacent-page
    duplicates owned by page 1 get re-admitted when page 2 is
    re-crawled."""
    seed = CrawlSeed(1, "Казань", "flat", "sale", rooms=(1, 2),
                     additional_settings={"end_page": 3})
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG, host_tokens=4)
    before = compat.to_reference_rows(eng.run(), [seed])
    after = compat.to_reference_rows(eng.invalidate_and_recrawl([(1, 2)]), [seed])
    assert after == before
    # no-op invalidation of a page beyond the universe is harmless
    after2 = compat.to_reference_rows(eng.invalidate_and_recrawl([(1, 99)]), [seed])
    assert after2 == before


def test_bloom_prefilter_never_drops_unseen(spark, tmp_run_dir, monkeypatch):
    """A resumed engine answers membership with the exact tier alone
    and stays bit-identical to the oracle; it never reads a ``bloom``
    table, on resume or in any wave, and commits none."""
    from cianparser_spark.engine.store import WaveStore

    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 8})
    sim = ReferenceSimulator(BITMATCH_CFG).run([seed])
    kw = dict(host_tokens=2, bloom_buckets=4)
    CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG, **kw).run(max_waves=2)
    reads = []
    read = WaveStore.read
    monkeypatch.setattr(WaveStore, "read",
                        lambda self, name: reads.append(name) or read(self, name))
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG, **kw)
    assert not eng.bloom_spool
    rows = compat.to_reference_rows(eng.run(), [seed])
    assert eng.store.last_wave() > 2  # the resumed engine ran waves
    assert rows == sim.rows
    assert reads and "bloom" not in reads
    assert eng.store.table_paths("bloom") == []


# ------------------------------------------------- SPOOL sidecar mode

def test_bloom_spool_bitmatch_and_blob_parity(spark, tmp_run_dir):
    """bloom_spool=True (the 10^10-URL shape: the exact tier probes
    sorted string runs) must bit-match the sequential oracle."""
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 4})
    sim = ReferenceSimulator(BITMATCH_CFG).run([seed])
    spool = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG,
                        host_tokens=2, bloom_buckets=4, bloom_spool=True)
    assert spool.bloom_spool
    rows = compat.to_reference_rows(spool.run(), [seed])
    assert rows == sim.rows


def test_bloom_spool_resume_forces_spool_probe(spark, tmp_run_dir):
    """A resumed spool engine finds the committed sorted runs complete
    and probes them for every remaining wave — bit-match proves the
    executor-side run probe is safety-preserving."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2),
                       additional_settings={"end_page": 3})]
    e1 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                     host_tokens=2, bloom_spool=True)
    e1.run(max_waves=2)
    assert e1.store.last_wave() == 2
    e2 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                     host_tokens=2, bloom_spool=True)
    assert e2.bloom_spool and e2._seenx_usable()
    resumed = compat.to_reference_rows(e2.run(), seeds)
    assert resumed == ReferenceSimulator(BITMATCH_CFG).run(seeds).rows


def test_identical_seeds_independent_attempt_counters(spark, tmp_run_dir):
    """Two IDENTICAL seeds = two independent reference runs: per-URL
    fetch-attempt counters must start fresh per seed on BOTH sides
    (fuzz seed 42 trial 9 found the simulator leaking counters across
    seeds, making the oracle emit rows the reference never would).
    Under attempt-indexed faults each seed must reproduce exactly the
    single-seed outcome, twice."""
    cfg = dataclasses.replace(W.DEFAULT_CONFIG, universe_base=60,
                              universe_span=30, fail_500_mod=3,
                              faults_on_details=True)
    mk = lambda sid: CrawlSeed(sid, "Екатеринбург", "newobject", "sale")
    solo = ReferenceSimulator(cfg).run([mk(1)])
    both = ReferenceSimulator(cfg).run([mk(1), mk(2)])
    assert len(both.rows) == 2 * len(solo.rows)
    assert both.rows[:len(solo.rows)] == solo.rows
    eng = CrawlEngine(spark, tmp_run_dir, [mk(1), mk(2)], cfg, host_tokens=3)
    rows = compat.to_reference_rows(eng.run(), [mk(1), mk(2)])
    assert rows == both.rows


def test_seenx_heal_on_mode_switch(spark, tmp_run_dir):
    """A store whose first waves ran WITHOUT the exact-tier sidecar
    (non-spool mode) and is then resumed in spool mode must detect the
    incomplete seenx table, fall back to the anti-join for that wave,
    and HEAL the sidecar (full rebuild, replace-committed) — the
    resumed crawl stays bit-identical and later consults are exact."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       additional_settings={"end_page": 4})]
    # host_tokens=1 -> one list page per wave, so the mode switch and
    # the heal both land genuinely MID-crawl (frontier still pending)
    e1 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                     host_tokens=1, bloom_spool=False)
    e1.run(max_waves=2)
    e2 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                     host_tokens=1, bloom_spool=True)
    assert not e2._seenx_usable()  # legacy waves lack seenx
    e2.run(max_waves=1)  # one mid-crawl wave: fallback join + HEAL
    # heal happened: a fresh engine view finds the sidecar complete,
    # and the healed runs agree with the committed seen table exactly
    e3 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                     host_tokens=1, bloom_spool=True)
    assert e3._seenx_usable()
    import numpy as np

    from cianparser_spark.engine import seenidx

    seen_keys = sorted(
        f"{r['seed_id']}|{r['deal_url_id']}"
        for r in e3.store.read("seen").collect())
    dirs = tuple(sorted(e3.store.table_paths("seenx")))
    got = seenidx.probe_str_runs(
        dirs, np.array(seen_keys + ["1|absent", "2|nope"], dtype=object),
        e3.bloom_buckets)
    assert got[:len(seen_keys)].all() and not got[len(seen_keys):].any()
    # finish on the healed sidecar: still bit-identical to the oracle;
    # the completed store then shows the DESIGNED final-wave lag
    # (nothing in this run reads it)
    resumed = compat.to_reference_rows(e3.run(), seeds)
    assert resumed == ReferenceSimulator(BITMATCH_CFG).run(seeds).rows


def test_invalidate_and_recrawl_spool_mode(spark, tmp_run_dir):
    """Re-crawl invalidation in SPOOL mode: the sorted-run exact tier
    is rebuilt (replace-committed) with the seen table, and the
    re-crawled table is bit-identical to the original crawl."""
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 3})
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG,
                      host_tokens=2, bloom_buckets=4, bloom_spool=True)
    before = compat.to_reference_rows(eng.run(), [seed])
    n_seen_before = eng.store.read("seen").count()
    after = compat.to_reference_rows(
        eng.invalidate_and_recrawl([(1, 2)]), [seed])
    assert after == before
    assert eng.store.read("seen").count() == n_seen_before
    # the rebuild REPLACED the sidecar with exactly the
    # post-invalidation seen set: every key that SURVIVED the
    # invalidation probes True, every re-crawl addition (wave >
    # marker, not re-won from an earlier wave) probes False.  (The
    # completed store then shows the designed final-wave lag — the
    # re-crawl's own last wave appends seen without a sidecar nothing
    # will read — so usability is deliberately NOT asserted here.)
    import os

    import numpy as np

    from cianparser_spark.engine import seenidx

    dirs = eng.store.table_paths("seenx")
    assert len(dirs) == 1  # replace semantics: single committed dir
    marker = int(os.path.basename(dirs[0])[1:].split("-", 1)[0])
    seen_rows = eng.store.read("seen").collect()
    kept = sorted({f"{r['seed_id']}|{r['deal_url_id']}"
                   for r in seen_rows if r["wave"] <= marker})
    added = sorted({f"{r['seed_id']}|{r['deal_url_id']}"
                    for r in seen_rows if r["wave"] > marker}
                   - {f"{r['seed_id']}|{r['deal_url_id']}"
                      for r in seen_rows if r["wave"] <= marker})
    got = seenidx.probe_str_runs(
        tuple(dirs), np.array(kept + added, dtype=object),
        eng.bloom_buckets)
    assert got[:len(kept)].all()
    assert not got[len(kept):].any()


def test_bitmatch_two_seeds_tight_budget(spark, tmp_run_dir):
    """Two seeds sharing one host at host_tokens=2: each wave after the
    first consults the seen set built by earlier waves, and the crawl
    must stay crawl-order bit-identical to the oracle."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2),
                       additional_settings={"end_page": 3}),
             CrawlSeed(2, "Казань", "flat", "rent_long", rooms="all",
                       additional_settings={"end_page": 2})]
    _bit_match(spark, tmp_run_dir, seeds, BITMATCH_CFG, host_tokens=2)


def test_seenx_compaction_bounds_run_dirs(spark, tmp_run_dir):
    """Long spool crawls must not accumulate one seenx dir per wave
    forever (the probe pays a searchsorted per run): past the
    threshold the delta write becomes a replace-committed full
    rebuild, so committed dirs stay bounded and the crawl stays
    bit-identical."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       additional_settings={"end_page": 4})]
    eng = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                      host_tokens=1, bloom_spool=True)
    eng.seenx_compact_dirs = 2  # force a compaction mid-crawl
    rows = compat.to_reference_rows(eng.run(), seeds)
    assert rows == ReferenceSimulator(BITMATCH_CFG).run(seeds).rows
    assert len(eng.store.table_paths("seenx")) <= 2


def test_bloom_spool_detail_bitmatch(spark, tmp_run_dir):
    """Spool mode × detail enrichment under faults: the ledger's
    emitted-keys pruning and the paused-resolution membership probe
    both take the sorted-run exact tier instead of seen-table joins —
    must stay bit-identical to the sequential oracle (and to the
    driver-mode engine)."""
    from cianparser_spark import truth

    seed, cfg = truth.detail_seed_and_cfg()
    sim = ReferenceSimulator(cfg).run([seed])
    eng = CrawlEngine(spark, tmp_run_dir, [seed], cfg, host_tokens=4,
                      bloom_spool=True)
    rows = compat.to_reference_rows(eng.run(), [seed])
    assert rows == sim.rows


def test_recrawl_final_wave_lag(spark, tmp_run_dir):
    """A FRESH engine's invalidate-and-recrawl after a completed crawl
    must dedup against every seen key, the final wave's included —
    else a final-wave winner whose suppressed duplicate sits on an
    invalidated same-wave sibling page is re-admitted (a sidecar that
    skipped the final wave's keys gave 107 rows vs 106 at
    bloom_buckets=64)."""
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 4})
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG,
                      host_tokens=2, bloom_buckets=64)
    before = compat.to_reference_rows(eng.run(), [seed])
    e2 = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG,
                     host_tokens=2, bloom_buckets=64)
    after = compat.to_reference_rows(
        e2.invalidate_and_recrawl([(1, 4)]), [seed])
    assert after == before


def test_seenx_gate_fails_closed_after_seen_compaction(spark, tmp_run_dir):
    """store.compact('seen') rewrites appends into 'c<version>' dirs,
    erasing the wave-pairing evidence — the seenx gate must fail
    CLOSED (fall back to the join; next spool wave heals), not pass
    vacuously (review-found)."""
    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       additional_settings={"end_page": 4})]
    e1 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                     host_tokens=1, bloom_spool=True)
    e1.run(max_waves=2)
    assert e1._seenx_usable()
    e1.store.compact("seen", target_file_bytes=1 << 30)
    e2 = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                     host_tokens=1, bloom_spool=True)
    assert not e2._seenx_usable()
    resumed = compat.to_reference_rows(e2.run(), seeds)
    assert resumed == ReferenceSimulator(BITMATCH_CFG).run(seeds).rows


# ------------------------------------- one membership definition (no Bloom)

def test_spool_wave_loop_never_reads_seen(spark, tmp_run_dir, monkeypatch):
    """Spool mode's wave loop does no O(seen) work: after the first
    wave every membership probe reads the sorted runs, never the
    ``seen`` table, and a ≥3-wave list-only crawl stays bit-identical
    to the simulator."""
    from cianparser_spark.engine.store import WaveStore

    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 4})
    sim = ReferenceSimulator(BITMATCH_CFG).run([seed])
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG,
                      host_tokens=1, bloom_spool=True)
    eng.run(max_waves=1)
    reads = []
    read = WaveStore.read
    monkeypatch.setattr(WaveStore, "read",
                        lambda self, name: reads.append(name) or read(self, name))
    rows = compat.to_reference_rows(eng.run(), [seed])
    assert eng.store.last_wave() >= 3
    assert reads and "seen" not in reads
    assert rows == sim.rows


@pytest.mark.parametrize("bloom_spool", [False, True])
def test_invalidate_commits_no_bloom_table(spark, tmp_run_dir, bloom_spool):
    """Neither the wave loop nor invalidation builds a Bloom table in
    either mode, and the re-crawl converges to the original crawl."""
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     additional_settings={"end_page": 3})
    eng = CrawlEngine(spark, tmp_run_dir, [seed], BITMATCH_CFG,
                      host_tokens=2, bloom_spool=bloom_spool)
    before = compat.to_reference_rows(eng.run(), [seed])
    assert eng.store.last_wave() >= 2
    after = compat.to_reference_rows(
        eng.invalidate_and_recrawl([(1, 2)]), [seed])
    assert after == before
    assert eng.store.table_paths("bloom") == []


@pytest.mark.parametrize("bloom_spool", [False, True])
def test_resume_ignores_legacy_bloom_table(spark, tmp_run_dir, bloom_spool):
    """A store from before the prefilter was removed still lists a
    ``bloom`` table.  A resumed crawl never consults it (here it is
    deliberately empty, so a probe would re-admit every seen key),
    carries it forward untouched, and bit-matches in both modes."""
    from pyspark.sql import types as T

    from cianparser_spark.engine import model
    from cianparser_spark.engine.bloom import BloomFilter
    from cianparser_spark.engine.store import WaveStore

    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       additional_settings={"end_page": 4})]
    sim = ReferenceSimulator(BITMATCH_CFG).run(seeds)
    CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG, host_tokens=1,
                bloom_spool=bloom_spool).run(max_waves=1)
    schema = T.StructType([T.StructField("bucket", T.LongType()),
                           T.StructField("blob", T.BinaryType())])
    legacy = WaveStore(spark, tmp_run_dir,
                       {**model.TABLE_SCHEMAS, "bloom": schema},
                       model.REPLACE_TABLES | {"bloom"})
    empty = BloomFilter(1 << 12)
    legacy.commit_wave(legacy.last_wave(), replaces={
        "bloom": ([(b, empty.to_bytes()) for b in range(16)], schema)})
    planted = legacy.table_paths("bloom")
    assert planted

    eng = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                      host_tokens=1, bloom_spool=bloom_spool)
    rows = compat.to_reference_rows(eng.run(), seeds)
    assert eng.store.last_wave() >= 3
    assert rows == sim.rows
    assert {(r["seed_id"], r["deal_url_id"])
            for r in eng.store.read("seen").collect()} == sim.seen
    assert eng.store.table_paths("bloom") == planted


@pytest.mark.parametrize("bloom_spool", [False, True])
def test_resume_over_parent_era_seen_with_key_hash(spark, tmp_run_dir,
                                                   bloom_spool):
    """Seen dirs written before the unread ``key_hash`` column was
    dropped still carry it.  ``read`` applies the explicit schema, so a
    crawl resumed over such a dir ignores the column, bit-matches in
    both modes, and writes its own seen appends without it."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from cianparser_spark.engine import model
    from cianparser_spark.engine.store import WaveStore

    def columns(d):
        return pq.read_schema(glob.glob(os.path.join(d, "*.parquet"))[0]).names

    seeds = [CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                       additional_settings={"end_page": 4})]
    sim = ReferenceSimulator(BITMATCH_CFG).run(seeds)
    CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG, host_tokens=1,
                bloom_spool=bloom_spool).run(max_waves=1)
    parent_seen = T.StructType([
        T.StructField("deal_url_id", T.StringType()),
        T.StructField("seed_id", T.LongType()),
        T.StructField("key_hash", T.LongType()),
        T.StructField("wave", T.LongType())])
    legacy = WaveStore(spark, tmp_run_dir,
                       {**model.TABLE_SCHEMAS, "seen": parent_seen},
                       model.REPLACE_TABLES)
    seen = legacy.read("seen").withColumn(
        "key_hash", F.xxhash64(F.concat_ws("|", "seed_id", "deal_url_id")))
    legacy.commit_wave(legacy.last_wave(), replaces={"seen": seen})
    planted = legacy.table_paths("seen")
    assert [columns(d) for d in planted] == [parent_seen.names]

    eng = CrawlEngine(spark, tmp_run_dir, seeds, BITMATCH_CFG,
                      host_tokens=1, bloom_spool=bloom_spool)
    rows = compat.to_reference_rows(eng.run(), seeds)
    assert eng.store.last_wave() >= 3
    assert rows == sim.rows
    assert {(r["seed_id"], r["deal_url_id"])
            for r in eng.store.read("seen").collect()} == sim.seen
    later = [d for d in eng.store.table_paths("seen") if d not in planted]
    assert later
    assert all(columns(d) == ["deal_url_id", "seed_id", "wave"]
               for d in later)
