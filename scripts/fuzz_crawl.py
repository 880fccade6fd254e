"""Randomized engine-vs-simulator fuzz over the crawl fault surface.

Each trial draws a deterministic pseudo-random point in the config
space — fault mods (transient 500/429, permanent dead, noheader,
captcha), robots rules, proxy pools, universe size, crawl mode
(flat sale/rent × rooms, suburban, newobject), detail mode, politeness
budget, multi-seed mixes — runs the distributed engine AND the
sequential ReferenceSimulator on it, and asserts the row lists are
``==`` (values AND crawl order).  This is the adversarial sweep for
the page-coupled detail ledger (engine/crawler.py): pinned unit tests
cover the branches we know about; the fuzz hunts interactions we
don't.

Deterministic: trial i of --seed S always draws the same config, so a
failure reproduces with ``--seed S --only i``.

Usage:
    python scripts/fuzz_crawl.py --seed 0 --n 24
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import random
import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")

from cianparser_spark.corpus import webgen as W
from cianparser_spark.engine import compat
from cianparser_spark.engine.crawler import CrawlEngine
from cianparser_spark.engine.session import get_spark
from cianparser_spark.semantics.simulator import CrawlSeed, ReferenceSimulator

LOCATIONS = ["Москва", "Казань", "Санкт-Петербург", "Екатеринбург", "Самара"]
ROOMS_CHOICES = [1, 2, (1, 2), (2, 3, 4), "all", "studio", (1, "studio", 5)]
SUBURBAN_TYPES = ["house", "house-part", "land-plot", "townhouse"]


def draw_config(rng: random.Random) -> W.WebConfig:
    kw = dict(
        universe_base=rng.choice([24, 40, 60, 90, 140]),
        universe_span=rng.choice([10, 30, 80, 200]),
        # 10**9 ≈ off (status_for computes h % mod unconditionally, so
        # "disabled" is a mod nothing hits); 2/3 are stress modes where
        # a third/half of all URLs fault transiently
        fail_500_mod=rng.choice([10**9, 3, 7, 11, 17, 23, 37]),
        fail_429_mod=rng.choice([10**9, 2, 5, 13, 19, 41]),
        dead_mod=rng.choice([0, 0, 0, 29, 53, 101]),
        noheader_mod=rng.choice([0, 0, 0, 31, 61]),
        faults_on_details=True,
    )
    if rng.random() < 0.25:
        kw["robots_disallow"] = rng.choice([
            ("/cat.php?engine_version=2&p=2&",),
            ("/cat.php?engine_version=2&p=3&",),
            ("/kazan.cian.ru",),
        ])
    if rng.random() < 0.25:
        proxies = tuple(f"10.0.0.{i}:3128" for i in range(rng.randint(1, 4)))
        kw["proxies"] = proxies
        kw["proxy_unavailable"] = frozenset(
            p for p in proxies if rng.random() < 0.4)
        kw["proxy_captcha"] = frozenset(
            p for p in proxies if p not in kw["proxy_unavailable"]
            and rng.random() < 0.25)
    return dataclasses.replace(W.DEFAULT_CONFIG, **kw)


def draw_seeds(rng: random.Random, trial: int) -> list[CrawlSeed]:
    n_seeds = rng.choice([1, 1, 1, 2])
    seeds = []
    for sid in range(1, n_seeds + 1):
        kind = rng.choice(["flat", "flat", "flat", "suburban", "newobject"])
        loc = rng.choice(LOCATIONS)
        if kind == "flat":
            deal = rng.choice(["sale", "sale", "rent_long", "rent_short"])
            seeds.append(CrawlSeed(
                sid, loc, "flat", deal,
                rooms=rng.choice(ROOMS_CHOICES),
                with_extra_data=rng.random() < 0.6,
                additional_settings={
                    "start_page": rng.choice([1, 1, 2]),
                    "end_page": rng.randint(2, 10),
                },
            ))
        elif kind == "suburban":
            seeds.append(CrawlSeed(
                sid, loc, "suburban", rng.choice(["sale", "rent_long"]),
                suburban_type=rng.choice(SUBURBAN_TYPES),
                with_extra_data=rng.random() < 0.6,
                additional_settings={"end_page": rng.randint(2, 8)},
            ))
        else:
            seeds.append(CrawlSeed(sid, loc, "newobject"))
    return seeds


def run_trial(spark, rng: random.Random, trial: int,
              resume: bool = False, maintenance: bool = False,
              engine_kw: dict | None = None) -> dict:
    cfg = draw_config(rng)
    seeds = draw_seeds(rng, trial)
    host_tokens = rng.choice([3, 8, 24, 80, 256])
    respect_robots = rng.random() < 0.85
    if rng.random() < 0.2:
        # poison one concrete list page with a captcha wall (T4: the
        # circuit breaker must stop the WHOLE run mid-crawl, exactly
        # where the reference's sequential loop would)
        s = rng.choice(seeds)
        pn = rng.randint(1, min(5, s.pages()[1]))
        cfg = dataclasses.replace(
            cfg, captcha_pages=frozenset({s.url_template().format(pn)}))

    sim = ReferenceSimulator(cfg, respect_robots=respect_robots).run(seeds)

    run_dir = tempfile.mkdtemp(prefix=f"fuzz{trial}_")
    try:
        eng = CrawlEngine(spark, run_dir, seeds, cfg,
                          host_tokens=host_tokens,
                          respect_robots=respect_robots,
                          **(engine_kw or {}))
        rows = compat.to_reference_rows(eng.run(), seeds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    resume_ok = None
    if resume:
        # kill after a random wave count, resume on the same store —
        # must reproduce the uninterrupted run (checkpoint lineage)
        cut = rng.randint(1, 6)
        rdir = tempfile.mkdtemp(prefix=f"fuzzr{trial}_")
        try:
            CrawlEngine(spark, rdir, seeds, cfg, host_tokens=host_tokens,
                        respect_robots=respect_robots,
                        **(engine_kw or {})).run(max_waves=cut)
            r2 = CrawlEngine(spark, rdir, seeds, cfg,
                             host_tokens=host_tokens,
                             respect_robots=respect_robots,
                             **(engine_kw or {})).run()
            resume_ok = compat.to_reference_rows(r2, seeds) == sim.rows
        finally:
            shutil.rmtree(rdir, ignore_errors=True)

    maint_ok = None
    if maintenance and not sim.captcha_stopped:
        # completed run → compact+vacuum the store (always convergent),
        # then — for LIST-ONLY trials — invalidate the LAST planned
        # page of every seed and re-crawl: over the unchanged web the
        # table must converge back to the simulator's rows.
        #
        # Why last page only: duplicates shadow EARLIER pages, so a
        # suffix invalidation never hits the documented lost-duplicate
        # limitation.  Why list-only: list fetches replay their
        # deterministic attempt sequence from 0 (frontier rows carry
        # per-row attempts), but DETAIL walks resume the session-global
        # detail-URL attempt counters (reference cianparser.py:71-83
        # semantics, crawler.py keystate) — under the synthetic
        # attempt-indexed fault mods a re-fetched detail walk therefore
        # legitimately sees different statuses than the original, so
        # convergence-to-original is not the contract there (found by
        # this fuzz: seed 5 trial 0).  Skipped for captcha-stopped
        # runs: the stop flag legitimately suppresses the re-fetch.
        fetches_details = any(
            s.with_extra_data or s.accommodation_type == "newobject"
            for s in seeds)
        mdir = tempfile.mkdtemp(prefix=f"fuzzm{trial}_")
        try:
            e3 = CrawlEngine(spark, mdir, seeds, cfg,
                             host_tokens=host_tokens,
                             respect_robots=respect_robots,
                             **(engine_kw or {}))
            e3.run()
            e3.store.compact("offers")
            e3.store.compact("seen")
            e3.store.vacuum()
            if not fetches_details:
                e3.invalidate_and_recrawl(
                    [(s.seed_id, s.pages()[1]) for s in seeds])
            maint_ok = compat.to_reference_rows(
                e3.offers(), seeds) == sim.rows
        finally:
            shutil.rmtree(mdir, ignore_errors=True)

    ok = (rows == sim.rows and resume_ok is not False
          and maint_ok is not False)
    info = {
        "trial": trial,
        "ok": ok,
        "resume_ok": resume_ok,
        "maint_ok": maint_ok,
        "rows": len(rows),
        "sim_rows": len(sim.rows),
        "captcha_stopped": sim.captcha_stopped,
        "failed_pages": len(sim.failed_pages),
        "detail_fetches": sim.detail_pages_fetched,
        "host_tokens": host_tokens,
        "respect_robots": respect_robots,
        "seeds": [
            f"{s.accommodation_type}/{s.deal_type}"
            f"{'+extra' if s.with_extra_data else ''}" for s in seeds],
        "cfg": {k: (sorted(v) if isinstance(v, (tuple, frozenset)) else v)
                for k, v in dataclasses.asdict(cfg).items()
                if v not in (None, (), frozenset(), False)
                and k != "snapshot_path"},
    }
    if not ok:
        diff_at = next((i for i, (a, b) in enumerate(zip(sim.rows, rows))
                        if a != b), min(len(rows), len(sim.rows)))
        info["first_diff_at"] = diff_at
    return info


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--n", type=int, default=24)
    ap.add_argument("--only", type=int, default=None,
                    help="re-run a single trial index")
    ap.add_argument("--start", type=int, default=0,
                    help="first trial index to run")
    ap.add_argument("--resume", action="store_true",
                    help="also cut each trial at a random wave and "
                         "verify the resumed run reproduces the full one")
    ap.add_argument("--maintenance", action="store_true",
                    help="also compact+vacuum the finished store, "
                         "invalidate each seed's last page and re-crawl; "
                         "must converge back to the simulator rows")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--spill", action="store_true",
                    help="force the parked-ledger spill (ledger_spill_"
                         "rows=0): every trial runs the derive-mode "
                         "registry path")
    ap.add_argument("--bloom-spool", action="store_true",
                    help="force SPOOL sidecar mode (executor-side "
                         "blob merge + file-cache probe) in every trial")
    args = ap.parse_args()
    engine_kw = {}
    if args.spill:
        engine_kw["ledger_spill_rows"] = 0
    if args.bloom_spool:
        engine_kw["bloom_spool"] = True

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus,
                      app_name="fuzz_crawl")
    failures = 0
    for trial in range(args.start, args.n):
        rng = random.Random((args.seed << 20) | trial)
        if args.only is not None and trial != args.only:
            continue
        info = run_trial(spark, rng, trial, resume=args.resume,
                         maintenance=args.maintenance,
                         engine_kw=engine_kw)
        print(json.dumps(info, ensure_ascii=False), flush=True)
        if not info["ok"]:
            failures += 1
    print(json.dumps({"summary": True, "trials": args.n,
                      "failures": failures}), flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
