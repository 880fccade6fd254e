"""The benchmark's crawl workloads and the inputs each derives from
``--seed``.

The seed picks the cities, the deal types and the invalidated pages;
the shape (seed count, pages per seed, politeness budget, sidecar
mode) is fixed per workload, so every seed does the same amount of
work and run-to-run spread measures the system, not the input.  Every
list page is full (``universe_base`` = the site's 54 × 28 offers), so
page counts do not depend on which cities were drawn.

``bulk`` and ``spool_recrawl`` are the workloads of record
(BENCHMARK.json).  ``polite`` runs the same way but is not listed
there: a run of each workload costs about a minute on a 4-core box,
and two workloads already cover every layer the traced run reports.
"""

from __future__ import annotations

import dataclasses
import random


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    n_seeds: int
    end_page: int          # list pages per seed (1..end_page)
    host_tokens: int       # politeness budget per wave
    faults: bool           # webgen's default 500/429 fault schedule
    detail_seeds: int      # how many seeds fetch detail pages
    bloom_spool: bool      # spool sidecar (Bloom blobs + sorted runs)
    invalidations: int     # invalidate_and_recrawl calls after each crawl
    # the untimed warm-up operations' (seeds, pages per seed,
    # host_tokens); None = the full operation
    warmup: tuple | None = None
    # how many warm-up operations run before the timed window: the
    # JVM's JIT keeps speeding operations up for several operations
    warmup_ops: int = 1


WORKLOADS = {
    w.name: w for w in (
        # one wide wave: fetch+parse, columnar widen and the spool write
        # dominate; the seen-set tier is idle (no prior keys to probe)
        Workload(
            "bulk", n_seeds=12, end_page=54, host_tokens=1_000_000,
            faults=False, detail_seeds=0, bloom_spool=False,
            invalidations=0, warmup_ops=2),
        # small politeness-bounded waves with 500/429 retries, 429 debt
        # and a detail-mode seed: fixed per-wave driver cost dominates
        Workload(
            "polite", n_seeds=6, end_page=4, host_tokens=24,
            faults=True, detail_seeds=1, bloom_spool=False,
            invalidations=0, warmup=(2, 2, 2)),
        # spool sidecar over three waves: the first builds the sorted
        # string runs in full, the second probes the Bloom blobs and the
        # runs and writes a delta run, then invalidate_and_recrawl
        # rebuilds both (writes beside reads); faults off so every seed
        # gives the same number of waves
        Workload(
            "spool_recrawl", n_seeds=8, end_page=4, host_tokens=11,
            faults=False, detail_seeds=0, bloom_spool=True,
            invalidations=1, warmup=(2, 2, 2)),
    )
}


def _list_urls(seed, end_page: int) -> list[str]:
    template = seed.url_template()
    return [template.format(p) for p in range(1, end_page + 1)]


@dataclasses.dataclass(frozen=True)
class Inputs:
    seeds: list
    cfg: object            # webgen.WebConfig without snapshot_path
    invalidate: list       # [(seed_id, page_number), ...] per call
    list_urls: list        # every list page of every seed, crawl order


def make_inputs(w: Workload, seed: int) -> Inputs:
    from cianparser_spark.corpus import webgen
    from cianparser_spark.dims import CITIES
    from cianparser_spark.semantics.simulator import CrawlSeed

    rng = random.Random(f"{w.name}:{seed}")
    cities = rng.sample(sorted(CITIES), w.n_seeds)
    detail_ids = set(rng.sample(range(1, w.n_seeds + 1), w.detail_seeds))
    seeds = [
        CrawlSeed(
            seed_id=i, location=city, accommodation_type="flat",
            deal_type=rng.choice(("sale", "rent_long")), rooms="all",
            with_extra_data=i in detail_ids,
            # a detail page costs two tokens per card: one list page
            # already gives the detail walk several waves
            additional_settings={"end_page": 1 if i in detail_ids else w.end_page})
        for i, city in enumerate(cities, start=1)
    ]
    cfg = dataclasses.replace(
        webgen.DEFAULT_CONFIG,
        universe_base=webgen.SITE_PAGE_CAP * webgen.PAGE_SIZE,
        universe_span=1)
    if not w.faults:
        cfg = dataclasses.replace(cfg, fail_500_mod=10**9,
                                  fail_429_mod=10**9, faults_on_details=False)
    # distinct pages, each invalidated once per op (list-only seeds:
    # invalidate_and_recrawl guarantees convergence only for those)
    pages = rng.sample([(s.seed_id, p) for s in seeds if not s.with_extra_data
                        for p in range(1, w.end_page + 1)], w.invalidations)
    list_urls = [u for s in seeds for u in _list_urls(s, s.pages()[1])]
    return Inputs(seeds, cfg, [[pg] for pg in pages], list_urls)


def warmup(w: Workload, inputs: Inputs) -> tuple[Workload, Inputs]:
    """The warm-up operation: the same code paths on a prefix of the
    workload's seeds and pages."""
    if w.warmup is None:
        return w, inputs
    n_seeds, end_page, host_tokens = w.warmup
    seeds = [dataclasses.replace(
                 s, additional_settings={"end_page": min(end_page, s.pages()[1])})
             for s in inputs.seeds[:n_seeds]]
    return (dataclasses.replace(w, n_seeds=n_seeds, end_page=end_page,
                                host_tokens=host_tokens),
            Inputs(seeds, inputs.cfg, [[(1, 1)]] if w.invalidations else [],
                   [u for s in seeds for u in _list_urls(s, s.pages()[1])]))
