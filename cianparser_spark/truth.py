"""Deterministic oracle truth dumps — pure Python, zero Spark.

``__spark_entry__.oracle_sql()`` calls the ``ensure_*`` builders here to
materialize small parquet files under ``TRUTH_DIR`` that DuckDB then
reads via ``read_parquet('...')``.  Every builder derives its rows from
a source *independent of the distributed execution path*:

* crawl truth    — the sequential reference-semantics simulator
                   (semantics/simulator.py), the same oracle the
                   bit-match tests use, now driver-visible;
* payload truth  — the deterministic corpus generator's ground truth
                   (corpus/webgen.py) run through the pure-Python
                   encode→decode→verify path in a plain loop;
* simhash truth  — per-doc 64-bit fingerprints computed straight off
                   the driver's documents.parquet with pandas/numpy
                   (the *pair generation* — banding recall, join,
                   hamming filter — is what the SQL oracle then checks
                   against an all-pairs DuckDB join).

Builders are idempotent: files are keyed by a version tag and inputs,
and rebuilt only when absent.  The driver's contract compares at
sf0.01, so sf-dependent truths are pinned to ``SF001_DIR`` (documented
in each oracle entry).
"""

from __future__ import annotations

import os

TRUTH_DIR = "/root/repo/.truth"
SF001_DIR = "/root/testdata/sf0.01"
_VERSION = 11  # bump to invalidate previously dumped truth files
# (v8: the "jpeg" slot switched from the qjpg stand-in to the real
# baseline JPEG codec — every truth embedding jpeg bytes/sizes/psnr
# changes)


def _path(name: str) -> str:
    os.makedirs(TRUTH_DIR, exist_ok=True)
    return os.path.join(TRUTH_DIR, f"{name}_v{_VERSION}.parquet")


def _write_parquet(df, path: str) -> str:
    """Atomic-ish write: dump to tmp then rename (idempotent rebuilds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


# --------------------------------------------------------------- crawl

def flagship_seed_and_cfg():
    """THE flagship crawl configuration — single source of truth shared
    by ``q_crawl_flagship`` (Spark engine side) and the simulator dump
    (oracle side), so both worlds crawl the identical synthetic web."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics.simulator import CrawlSeed

    cfg = dataclasses.replace(webgen.DEFAULT_CONFIG, faults_on_details=False)
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms=(1, 2),
                     additional_settings={"end_page": 2})
    return seed, cfg


CRAWL_TRUTH_COLS = [
    "seed_id", "page_number", "card_index", "deal_url_id", "url",
    "author_type", "rooms_count", "total_meters", "price", "district",
    "street", "house_number", "underground", "image_id",
]


def ensure_crawl_truth() -> str:
    """Run the sequential simulator on the flagship seed and dump its
    offers (crawl order + extracted fields).  ``image_id`` comes from
    the corpus ground truth (webgen.offer_truth) — the engine must
    *extract* it from HTML, so matching it is a strict check."""
    path = _path("crawl_flagship")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen
    from cianparser_spark.engine import model
    from cianparser_spark.semantics import urls
    from cianparser_spark.semantics.simulator import ReferenceSimulator

    seed, cfg = flagship_seed_and_cfg()
    sim = ReferenceSimulator(cfg, project_fields=False).run([seed])
    out = []
    for (sid, page, idx), row in zip(sim.order, sim.rows):
        url = row["url"]
        oid = int(url.rstrip("/").split("/")[-1])
        rec = {
            "seed_id": sid,
            "page_number": page,
            "card_index": idx,
            "deal_url_id": urls.deal_url_id(url),
            "url": url,
            "author_type": row.get("author_type"),
            "rooms_count": row.get("rooms_count"),
            "total_meters": row.get("total_meters"),
            "price": row.get("price"),
            "district": row.get("district"),
            "street": row.get("street"),
            "underground": row.get("underground"),
            "house_number": row.get("house_number"),
            "image_id": f"img{oid % cfg.n_images:08d}",
        }
        out.append({k: model.sentinel_to_null(v, k) if k in model.OFFER_COLS else v
                    for k, v in rec.items()})
    return _write_parquet(pd.DataFrame(out, columns=CRAWL_TRUTH_COLS), path)


# ---------------------------------------------- crawl: other entry points

def detail_seed_and_cfg():
    """The DETAIL-MERGE crawl configuration (S2/D1/P11/T6): flat/sale
    with ``with_extra_data=True`` — every accepted card enqueues a
    detail fetch whose label map OVERRIDES the card fields
    (reference: cianparser/flat/list.py:61-69 + flat/page.py:19-70).
    Shrunk universe keeps the detail fan-out contract-sized.  Detail
    faults stay ON (DEFAULT_CONFIG): the engine's page-coupled detail
    scheduler replicates the reference's shared page/detail retry
    counter (cianparser.py:71-83), so the oracle no longer needs the
    faults_on_details=False carve-out it shipped with in round 3."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics.simulator import CrawlSeed

    cfg = dataclasses.replace(webgen.DEFAULT_CONFIG,
                              universe_base=40, universe_span=30)
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all", with_extra_data=True,
                     additional_settings={"end_page": 2})
    return seed, cfg


def suburban_seed_and_cfg():
    """The SUBURBAN crawl (reference: cianparser/suburban/list.py:19-83)
    with detail enrichment (D2: land/gas/water/sewage labels,
    suburban/page.py:19-83).  Detail faults ON (page-coupled retry)."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics.simulator import CrawlSeed

    cfg = dataclasses.replace(webgen.DEFAULT_CONFIG,
                              universe_base=40, universe_span=30)
    seed = CrawlSeed(1, "Казань", "suburban", "sale", suburban_type="house",
                     with_extra_data=True, additional_settings={"end_page": 2})
    return seed, cfg


def newobject_seed_and_cfg():
    """The NEWOBJECT crawl (reference: cianparser/newobject/list.py:44-94):
    fixed 1..50 page range, scheme+host dedup key, UNCONDITIONAL detail
    fetch per complex (newobject/list.py:77-79, D3).  Detail faults ON
    (page-coupled retry)."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics.simulator import CrawlSeed

    cfg = dataclasses.replace(webgen.DEFAULT_CONFIG,
                              universe_base=40, universe_span=30)
    seed = CrawlSeed(1, "Москва", "newobject")
    return seed, cfg


def faults_seeds_and_cfg():
    """The FAULT-INJECTED multi-seed crawl (T2/T3/T4/T7 driver-visible):
    54 list pages across three seeds on one host, with every fault
    class firing deterministically — transient 500 (recovers at
    attempt 2), 429 on attempt 0 (charges next-wave token debt),
    permanently dead URLs, header-less 200 pages (bounded retry →
    dead-letter), and a CAPTCHA wall on seed 2's page 7 (circuit
    breaker: later pages of that seed are cancelled, never fetched)."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics import urls as _urls
    from cianparser_spark.semantics.simulator import CrawlSeed

    seeds = [
        CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                  additional_settings={"end_page": 20}),
        CrawlSeed(2, "Москва", "flat", "rent_long", rooms="all",
                  additional_settings={"end_page": 20}),
        CrawlSeed(3, "Казань", "suburban", "sale", suburban_type="house",
                  additional_settings={"end_page": 14}),
    ]
    # captcha on seed 2's page EIGHT: its page 6 is a transient 500 and
    # page 7 a permanently-dead URL under these mods, so the breaker
    # trips right after a retry + a dead-letter on the same seed
    captcha_url = _urls.format_page_url(seeds[1].url_template(), 8)
    # mods chosen so EVERY class fires ≥2× across the 54 page URLs
    # (verified deterministically: 2×500, 2×429, 3×noheader, 3×dead)
    cfg = dataclasses.replace(
        webgen.DEFAULT_CONFIG, faults_on_details=False,
        fail_500_mod=19, fail_429_mod=31, noheader_mod=17, dead_mod=23,
        captcha_pages=frozenset({captcha_url}),
    )
    return seeds, cfg


CRAWL_DETAIL_TRUTH_COLS = [
    "seed_id", "page_number", "card_index", "deal_url_id", "url",
    "author_type", "rooms_count", "total_meters", "price", "district",
    "street", "house_number", "underground",
    # detail-page fields (D1) — present proves the merge ran; phone and
    # object_type exist ONLY on detail pages (P11 precedence)
    "phone", "object_type", "house_material_type", "heating_type",
    "finish_type", "living_meters", "kitchen_meters",
    "year_of_construction", "floor", "floors_count",
]

CRAWL_SUBURBAN_TRUTH_COLS = [
    "seed_id", "page_number", "card_index", "deal_url_id", "url",
    "author_type", "price", "district", "street", "house_number",
    "underground",
    # suburban detail fields (D2)
    "house_material_type", "land_plot", "land_plot_status",
    "heating_type", "gas_type", "water_supply_type", "sewage_system",
    "bathroom", "living_meters", "floors_count",
    "year_of_construction", "phone",
]

CRAWL_NEWOBJECT_TRUTH_COLS = [
    "seed_id", "page_number", "card_index", "url", "name",
    "full_full_location_address",
    # newobject detail fields (D3)
    "year_of_construction", "house_material_type", "finish_type",
    "ceiling_height", "class", "parking_type", "floors_from",
    "floors_to", "builder",
]

CRAWL_FAULTS_TRUTH_COLS = [
    "seed_id", "page_number", "card_index", "deal_url_id", "url",
    "author_type", "rooms_count", "price",
]


def _sim_truth_rows(seeds, cfg, cols):
    """Run the sequential simulator and normalize its raw rows to the
    engine's typed/null column conventions (model.sentinel_to_null +
    the long typing of floor-ish detail values, mirroring
    engine/stage.parse_detail_fields)."""
    import pandas as pd

    from cianparser_spark.engine import model
    from cianparser_spark.semantics import urls
    from cianparser_spark.semantics.simulator import ReferenceSimulator

    sim = ReferenceSimulator(cfg, project_fields=False).run(seeds)
    out = []
    for (sid, page, idx), row in zip(sim.order, sim.rows):
        rec = {"seed_id": sid, "page_number": page, "card_index": idx}
        for c in cols:
            if c in rec:
                continue
            if c == "deal_url_id":
                rec[c] = urls.deal_url_id(row["url"])
                continue
            v = row.get(c)
            if c in ("floor", "floors_count", "floors_from", "floors_to") \
                    and isinstance(v, str):
                v = int(v) if v.lstrip("-").isdigit() else -1
            rec[c] = model.sentinel_to_null(v, c) if c in model.OFFER_COLS else v
        out.append(rec)
    return pd.DataFrame(out, columns=cols), sim


def ensure_crawl_detail_truth() -> str:
    path = _path("crawl_detail")
    if os.path.exists(path):
        return path
    seed, cfg = detail_seed_and_cfg()
    df, sim = _sim_truth_rows([seed], cfg, CRAWL_DETAIL_TRUTH_COLS)
    assert sim.detail_pages_fetched > 0, "detail truth must fetch details"
    return _write_parquet(df, path)


def ensure_crawl_suburban_truth() -> str:
    path = _path("crawl_suburban")
    if os.path.exists(path):
        return path
    seed, cfg = suburban_seed_and_cfg()
    df, sim = _sim_truth_rows([seed], cfg, CRAWL_SUBURBAN_TRUTH_COLS)
    assert sim.detail_pages_fetched > 0
    return _write_parquet(df, path)


def ensure_crawl_newobject_truth() -> str:
    path = _path("crawl_newobject")
    if os.path.exists(path):
        return path
    seed, cfg = newobject_seed_and_cfg()
    df, sim = _sim_truth_rows([seed], cfg, CRAWL_NEWOBJECT_TRUTH_COLS)
    assert sim.detail_pages_fetched > 0
    return _write_parquet(df, path)


def detail_faults_seed_and_cfg():
    """The DETAIL-FAULT-COUPLING crawl: fail mods chosen (simulator
    sweep) so the 10-page detail crawl exhibits a PAGE DEATH from
    detail-budget exhaustion (cianparser.py:71-83 — the failure burns
    the list page's exception counter) AND a cross-page duplicate
    RESURRECTION: a key first seen on the dead page whose detail-URL
    attempt counter continues when a later duplicate retries it
    (session-global counters + seen-add-after-success,
    flat/list.py:57-67)."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics.simulator import CrawlSeed

    cfg = dataclasses.replace(webgen.DEFAULT_CONFIG, universe_base=40,
                              universe_span=30, fail_500_mod=17,
                              fail_429_mod=13)
    seed = CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                     with_extra_data=True,
                     additional_settings={"end_page": 10})
    return seed, cfg


def ensure_crawl_detail_faults_truth() -> str:
    path = _path("crawl_detail_faults")
    if os.path.exists(path):
        return path
    seed, cfg = detail_faults_seed_and_cfg()
    df, sim = _sim_truth_rows([seed], cfg, CRAWL_DETAIL_TRUTH_COLS)
    assert sim.failed_pages, "truth must exhibit a detail-driven page death"
    assert sim.detail_pages_fetched > 0
    return _write_parquet(df, path)


def ensure_crawl_faults_truth() -> str:
    path = _path("crawl_faults")
    if os.path.exists(path):
        return path
    seeds, cfg = faults_seeds_and_cfg()
    df, sim = _sim_truth_rows(seeds, cfg, CRAWL_FAULTS_TRUTH_COLS)
    assert sim.captcha_stopped, "faults truth must trip the captcha breaker"
    assert sim.failed_pages, "faults truth must dead-letter pages"
    return _write_parquet(df, path)


def ensure_crawl_dead_truth() -> str:
    """Dead-lettered (seed_id, page_number) pages of the fault-injected
    crawl — the simulator's bounded-retry failures (T2/T3 made
    driver-visible; attempt is always MAX_ATTEMPTS=3 by construction)."""
    path = _path("crawl_dead")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.semantics.simulator import ReferenceSimulator

    seeds, cfg = faults_seeds_and_cfg()
    sim = ReferenceSimulator(cfg).run(seeds)
    rows = [{"seed_id": s, "page_number": p, "attempt": 3}
            for s, p in sorted(sim.failed_pages)]
    return _write_parquet(
        pd.DataFrame(rows, columns=["seed_id", "page_number", "attempt"]), path)


def ensure_stream_metrics_truth() -> str:
    """ST3 oracle: per-host crawl-metrics totals of the FLAGSHIP
    (list-only) run, computed independently of the engine — pages/
    cards from the sequential simulator, n_429 replayed from the
    deterministic fault function (webgen.status_for at attempt 0, the
    only attempt that can 429).  List-only because the reference's
    detail-fault coupling re-parses pages per retry, which makes
    detail-run card totals scheduling-defined."""
    path = _path("stream_metrics")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics import urls as _urls
    from cianparser_spark.semantics.simulator import ReferenceSimulator

    seed, cfg = flagship_seed_and_cfg()
    sim = ReferenceSimulator(cfg).run([seed])
    tpl = seed.url_template()
    host = tpl.split("/")[2]
    start, end = seed.pages()
    n_429 = sum(
        1 for p in range(start, end + 1)
        if webgen.status_for(_urls.format_page_url(tpl, p), 0, cfg) == 429
    )
    rows = [{"host": host, "pages_fetched": sim.pages_fetched,
             "cards_parsed": sim.cards_parsed, "n_429": n_429}]
    return _write_parquet(pd.DataFrame(rows), path)


def robots_seeds_and_cfg():
    """R1 driver-visible: two flat seeds (sale + rent) on one host whose
    robots.txt Disallows the page-2 and page-5 list URLs — host-global
    rules, so both seeds lose those pages.  Fault mods stay at the
    flagship defaults so the gate is exercised *alongside* retries."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics.simulator import CrawlSeed

    seeds = [
        CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                  additional_settings={"end_page": 6}),
        CrawlSeed(2, "Москва", "flat", "rent_long", rooms="all",
                  additional_settings={"end_page": 6}),
    ]
    cfg = dataclasses.replace(
        webgen.DEFAULT_CONFIG,
        robots_disallow=("/cat.php?engine_version=2&p=2&",
                         "/cat.php?engine_version=2&p=5&"),
    )
    return seeds, cfg


def ensure_crawl_robots_truth() -> str:
    """Offers of the robots-gated crawl, dumped from the sequential
    simulator (which applies the same parsed Disallow rules before
    every list fetch, simulator.py:109-114/140)."""
    path = _path("crawl_robots")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.engine import model
    from cianparser_spark.semantics import urls
    from cianparser_spark.semantics.simulator import ReferenceSimulator

    seeds, cfg = robots_seeds_and_cfg()
    sim = ReferenceSimulator(cfg, project_fields=False).run(seeds)
    out = []
    for (sid, page, idx), row in zip(sim.order, sim.rows):
        url = row["url"]
        oid = int(url.rstrip("/").split("/")[-1])
        rec = {
            "seed_id": sid, "page_number": page, "card_index": idx,
            "deal_url_id": urls.deal_url_id(url), "url": url,
            "author_type": row.get("author_type"),
            "rooms_count": row.get("rooms_count"),
            "total_meters": row.get("total_meters"),
            "price": row.get("price"),
            "district": row.get("district"),
            "street": row.get("street"),
            "underground": row.get("underground"),
            "house_number": row.get("house_number"),
            "image_id": f"img{oid % cfg.n_images:08d}",
        }
        out.append({k: model.sentinel_to_null(v, k) if k in model.OFFER_COLS else v
                    for k, v in rec.items()})
    return _write_parquet(pd.DataFrame(out, columns=CRAWL_TRUTH_COLS), path)


def ensure_robots_blocked_truth() -> str:
    """The simulator's robots-refused list URLs — what the engine must
    dead-letter as kind='robots-list', one row per blocked page."""
    path = _path("robots_blocked")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.semantics.simulator import ReferenceSimulator

    seeds, cfg = robots_seeds_and_cfg()
    sim = ReferenceSimulator(cfg).run(seeds)
    return _write_parquet(
        pd.DataFrame({"url": sorted(sim.robots_blocked)}), path)


def ensure_proxy_pools() -> str:
    """S4 oracle INPUT: a deterministic table of proxy-pool configs —
    (pool_id, pos, proxy, unavailable, captcha), one row per configured
    candidate in probe order.  Both worlds read this same parquet: the
    Spark query runs the engine's ``ProxyPool`` (the reference
    rotation algorithm, proxy_pool.py:35-61) per pool; the DuckDB
    oracle re-derives first-healthy-wins with window SQL.  Health
    flags come from a seeded RNG plus pinned edge cases (healthy-first,
    all-dead, captcha-walled, single-candidate)."""
    path = _path("proxy_pools")
    if os.path.exists(path):
        return path
    import random

    import pandas as pd

    rng = random.Random(0xC1A0)
    rows = []

    def add_pool(pid, flags):
        # flags: list of (unavailable, captcha) per candidate
        for pos, (un, cap) in enumerate(flags):
            rows.append({"pool_id": pid, "pos": pos,
                         "proxy": f"proxy-{pid}-{pos}",
                         "unavailable": un, "captcha": cap})

    add_pool(0, [(False, False), (True, False)])        # healthy head
    add_pool(1, [(True, False), (False, True), (False, False)])
    add_pool(2, [(True, False), (False, True)])         # exhausted pool
    add_pool(3, [(False, True)])                        # single captcha wall
    add_pool(4, [(False, False)])                       # single healthy
    for pid in range(5, 64):
        n = rng.randint(1, 8)
        flags = []
        for _ in range(n):
            r = rng.random()
            flags.append((r < 0.35, 0.35 <= r < 0.55))
        add_pool(pid, flags)
    return _write_parquet(pd.DataFrame(rows), path)


def ensure_metro_truth() -> str:
    """The vendored metro dimension (dims_data.METRO_STATIONS — 7
    networks / 510 stations, reference constants.py:233-758) as a
    parquet DuckDB can join against (J2 oracle)."""
    path = _path("metro_dim")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.dims_data import METRO_STATIONS

    rows = [
        {"network": net, "station": st, "metro_id": mid}
        for net, stations in METRO_STATIONS.items()
        for st, mid in stations
    ]
    return _write_parquet(pd.DataFrame(rows), path)


# ------------------------------------------------------------- definers

# the contract probe ranges (S9): cities over the densest city-id band,
# metro over the low Moscow band
DEFINER_CITY_RANGE = (4630, 4830)
DEFINER_METRO_RANGE = (1, 160)


def ensure_definer_cities_truth() -> str:
    """Raw city-definer probe results ``(probe_id, title)`` — titles
    only; the DuckDB oracle re-implements extraction, the reject
    cascade, first-wins dedup and the sort in SQL, independently of the
    Catalyst plan (engine/definers.py:city_rows)."""
    path = _path("definer_cities")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen
    from cianparser_spark.engine.definers import probe_city_title

    lo, hi = DEFINER_CITY_RANGE
    rows = [{"probe_id": i, "title": probe_city_title(i, webgen.DEFAULT_CONFIG)}
            for i in range(lo, hi + 1)]
    return _write_parquet(pd.DataFrame(rows, columns=["probe_id", "title"]), path)


def ensure_definer_cities_inflected_truth() -> str:
    """Raw city-definer probe titles with the REAL site's
    prepositional-case rendering (cfg.inflect_city_headers) — the
    input the reference's pymorphy2 normal-form step exists for.  The
    DuckDB oracle re-derives extraction + rejects in SQL and undoes
    the inflection via the dumped normalization map
    (ensure_city_norm_map)."""
    path = _path("definer_cities_infl")
    if os.path.exists(path):
        return path
    import dataclasses

    import pandas as pd

    from cianparser_spark.corpus import webgen
    from cianparser_spark.engine.definers import probe_city_title

    cfg = dataclasses.replace(webgen.DEFAULT_CONFIG,
                              inflect_city_headers=True)
    lo, hi = DEFINER_CITY_RANGE
    rows = [{"probe_id": i, "title": probe_city_title(i, cfg)}
            for i in range(lo, hi + 1)]
    return _write_parquet(pd.DataFrame(rows, columns=["probe_id", "title"]),
                          path)


def ensure_city_norm_map() -> str:
    """The (lowercased observed form → nominative) city normalization
    table as parquet — generated by the PURE-PYTHON morphology twin
    (semantics/morphru.py), for the oracle's SQL join; the Spark side
    compiles the same vocabulary into a literal create_map expression
    (engine/definers._normal_form_col) — shared spec constants,
    independent lookup machinery, same standard as the ann_lsh plane
    literals."""
    path = _path("city_norm_map")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.semantics import morphru

    m = morphru.city_normal_map(morphru.default_vocab())
    rows = [{"form": k, "nominative": v} for k, v in sorted(m.items())]
    return _write_parquet(pd.DataFrame(rows, columns=["form", "nominative"]),
                          path)


def ensure_definer_metro_truth() -> str:
    """Raw metro-definer probe results ``(probe_id, address)`` for the
    DuckDB-side extraction + first-wins oracle."""
    path = _path("definer_metro")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen
    from cianparser_spark.engine.definers import probe_metro_address

    lo, hi = DEFINER_METRO_RANGE
    rows = [{"probe_id": i, "address": probe_metro_address(i, webgen.DEFAULT_CONFIG)}
            for i in range(lo, hi + 1)]
    return _write_parquet(pd.DataFrame(rows, columns=["probe_id", "address"]), path)


# -------------------------------------------------------------- payload

PAYLOAD_N = 240


def ensure_payload_truth(n: int = PAYLOAD_N) -> str:
    """Per-image ground truth for the payload invariants AND the visual
    features: encode→decode→PSNR/caption check plus luma/edge features,
    all in a plain pure-Python loop over the deterministic corpus."""
    path = _path(f"payload_{n}")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging, webgen
    from cianparser_spark.ops.multimodal import image_features

    out = []
    for i in range(n):
        row = webgen.image_row(i)
        ref = webgen.image_pixels(i)
        px = imaging.decode(row["bytes"], row["fmt"])
        psnr = imaging.psnr(ref, px)
        ok = bool((px == ref).all()) if imaging.is_lossless(row["fmt"]) else bool(psnr >= 40.0)
        feats = image_features(px)
        out.append({
            "image_id": row["image_id"],
            "fmt": row["fmt"],
            "phash": row["phash"],
            # hash of the DECODED pixels (≠ stored phash for lossy fmts
            # by 1-2 bits): the oracle for the distributed decode→dHash
            # recompute (payload_phash_recompute)
            "phash_decoded": imaging.phash64(px),
            "caption": row["caption"],
            "ok": ok,
            "psnr": float(psnr),
            "caption_match": row["caption"] == webgen.caption_text(i),
            "mean_luma": feats["mean_luma"],
            "std_luma": feats["std_luma"],
            "edge_energy": feats["edge_energy"],
        })
    return _write_parquet(pd.DataFrame(out), path)


AV_AUDIO_CLIPS = 8          # per codec; × 6 codecs = 48 rows
AV_VIDEO_N = 6
AV_VIDEO_FRAMES = 12
AV_FRAME_EVERY = 3

IMG_FORMATS = ("png", "pngf", "pngi", "jpeg", "bmp", "gif", "tiff")
IMG_FORMAT_N = 12           # per format; × 7 formats = 84 rows


def ensure_formats_truth() -> str:
    """Ground truth for the full image-container surface: a plain
    pure-Python loop encodes each deterministic frame into every real
    container format (PNG / baseline JPEG / 24-bit BMP / GIF89a with a
    real LZW codec), decodes it back and computes the shared visual
    feature math — so a DuckDB compare against this table verifies the
    distributed decode of all four formats end to end, driver-visible.
    GIF's >256-color frames quantize to the deterministic 3-3-2
    palette; truth and the Spark operator decode the SAME bytes, so
    features match exactly."""
    path = _path("img_formats")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging
    from cianparser_spark.ops.multimodal import image_features

    out = []
    for fmt in IMG_FORMATS:
        for i in range(IMG_FORMAT_N):
            px = imaging.gen_pixels(7000 + i, 40, 32)
            blob = imaging.encode(px, fmt)
            dec = imaging.decode(blob, fmt)
            if imaging.is_lossless(fmt):
                assert (dec == px).all(), fmt
            elif fmt == "jpeg":
                assert imaging.psnr(dec, px) >= 40.0
            feats = image_features(dec)
            out.append({"fmt": fmt, "image_id": f"img{i:04d}", "ok": True,
                        "n_bytes": len(blob),
                        "mean_luma": round(feats["mean_luma"], 4),
                        "std_luma": round(feats["std_luma"], 4),
                        "edge_energy": round(feats["edge_energy"], 4)})
    return _write_parquet(pd.DataFrame(out), path)


PNG_META_N = 120             # metadata-bearing PNGs in the meta contract


def ensure_png_meta_truth(n: int = PNG_META_N) -> str:
    """Ground truth for the PNG textual-metadata scan: a pure-Python
    loop renders each corpus frame, encodes it WITH deterministic
    tEXt/zTXt chunks (multimodal.png_meta_text — Description always
    long enough to take the zTXt path) and re-extracts the pairs with
    the same chunk walk the Spark operator uses.  Every 13th image is
    left metadata-free and every 29th is a JPEG (non-PNG), so the
    zero-rows paths are part of the checked surface."""
    path = _path(f"png_meta_{n}")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging, webgen
    from cianparser_spark.ops.multimodal import png_meta_text

    out = []
    for i in range(n):
        px = webgen.image_pixels(i)
        if i % 29 == 0:
            blob = imaging.encode(px, "jpeg")      # non-PNG: zero rows
        elif i % 13 == 0:
            blob = imaging.png_encode(px)          # PNG, no text chunks
        else:
            blob = imaging.png_encode(px, text=png_meta_text(i))
        for k, v in imaging.png_text_chunks(blob) if blob[:8] == imaging.PNG_SIG else []:
            out.append({"image_id": f"img{i:08d}", "key": k, "value": v})
    df = pd.DataFrame(out, columns=["image_id", "key", "value"])
    assert df["image_id"].nunique() < n  # some images really carry nothing
    return _write_parquet(df, path)


EXIF_N = 60                  # images in the EXIF extract+scrub contract


def ensure_exif_truth(n: int = EXIF_N) -> str:
    """Ground truth for the EXIF extract + GPS-scrub path: a pure-Python
    loop builds each tagged JPEG (every 5th EXIF-free, every 3rd
    GPS-free — multimodal.exif_demo_tags), parses the tags back, scrubs
    GPS and records the md5 of the scrubbed bytes — so the driver
    compare pins the distributed scrub output byte-for-byte.  The loop
    also asserts the scrub is pixel-lossless (decoded pixels identical
    before/after) and that no GPS tag survives."""
    path = _path(f"exif_{n}")
    if os.path.exists(path):
        return path
    import hashlib

    import numpy as np
    import pandas as pd

    from cianparser_spark.corpus import exif, imaging, webgen
    from cianparser_spark.ops.multimodal import exif_demo_tags

    out = []
    for i in range(n):
        px = webgen.image_pixels(i)
        jp = imaging.encode(px, "jpeg")
        t = exif_demo_tags(i)
        blob = jp if t is None else exif.insert_app1(jp, exif.build_app1(**t))
        before = exif.parse_exif(blob)
        clean, had_gps = exif.scrub_gps(blob)
        after = exif.parse_exif(clean)
        assert had_gps == ("gps_lat" in before)
        assert "gps_lat" not in after and "gps_lon" not in after
        assert np.array_equal(imaging.decode(clean, "jpeg"),
                              imaging.decode(jp, "jpeg"))
        out.append({"image_id": f"img{i:08d}",
                    "had_gps": had_gps,
                    "n_tags_before": len(before),
                    "n_tags_after": len(after),
                    "make": before.get("Make"),
                    "gps_lat": (round(before["gps_lat"], 4)
                                if "gps_lat" in before else None),
                    "scrub_md5": hashlib.md5(clean).hexdigest()})
    df = pd.DataFrame(out)
    assert df.had_gps.any() and (~df.had_gps).any()
    assert (df.n_tags_before == 0).any()
    return _write_parquet(df, path)


QUALITY_CORRUPT_MOD = 17     # every 17th image is truncated to 40 bytes


def ensure_quality_truth(n: int = PAYLOAD_N) -> str:
    """Ground truth for the quality-filter admission gate: a plain
    pure-Python loop over the SAME deterministic corpus the Spark side
    reads, with the SAME deterministic corruption (images whose index is
    divisible by QUALITY_CORRUPT_MOD truncated to 40 bytes — the Spark
    query does this truncation JVM-side via substring on the binary
    column).  Corrupt rows must come back ok=false/keep=false; clean
    rows carry the shared image_quality() metrics and keep decision."""
    path = _path(f"quality_{n}")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging, webgen
    from cianparser_spark.ops.multimodal import image_quality, quality_keep

    out = []
    for i in range(n):
        row = webgen.image_row(i)
        blob = row["bytes"][:40] if i % QUALITY_CORRUPT_MOD == 0 else row["bytes"]
        rec = {"image_id": row["image_id"], "ok": False, "blur_score": None,
               "entropy": None, "under_frac": None, "over_frac": None,
               "keep": False}
        try:
            q = image_quality(imaging.decode(blob, row["fmt"]))
            rec.update(ok=True, keep=quality_keep(q),
                       blur_score=round(q["blur_score"], 4),
                       entropy=round(q["entropy"], 4),
                       under_frac=round(q["under_frac"], 4),
                       over_frac=round(q["over_frac"], 4))
        except Exception:
            pass
        out.append(rec)
    assert any(r["ok"] for r in out) and any(not r["ok"] for r in out)
    assert any(r["keep"] for r in out) and any(r["ok"] and not r["keep"] for r in out)
    return _write_parquet(pd.DataFrame(out), path)


def ensure_dedup_images(n: int = PAYLOAD_N) -> str:
    """Shared INPUT parquet for byte-exact image dedup: the payload
    corpus with deterministic exact duplicates injected — every
    i % 7 == 3 row carries the BYTES (and fmt) of row i-3 under its own
    image_id, and rows 230/231 both copy 229 (one group of three).
    Natural phash-duplicates in the corpus are NOT byte-duplicates
    (fmt alternates png/jpeg), which is exactly the gap the byte-exact
    first pass + perceptual second pass pairing is about.  Both engines
    read this same file; each recomputes md5(hex(bytes)) itself."""
    path = _path(f"dedup_images_{n}")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen

    rows = []
    for i in range(n):
        row = webgen.image_row(i)
        if i in (230, 231):
            src = webgen.image_row(229)
        elif i % 7 == 3:
            src = webgen.image_row(i - 3)
        else:
            src = row
        rows.append({"image_id": row["image_id"],
                     "bytes": src["bytes"], "fmt": src["fmt"]})
    return _write_parquet(pd.DataFrame(rows), path)


RESIZE_W, RESIZE_H = 24, 16   # pinned training-shard resolution


def ensure_pipeline_truth(n: int = PAYLOAD_N) -> str:
    """Ground truth for the COMPOSED training-data assembly pipeline
    over the dedup corpus: byte-exact dedup (md5 keep-first) → image
    quality admission gate → resize to the pinned shard resolution.
    One sequential pure-Python pass re-derives what the Spark DAG
    composes from the three real operators; a row survives iff it wins
    its byte-dup group AND passes quality_keep AND decodes for resize.
    Row = (image_id, n_copies, n_bytes, mean/std luma of the resized
    pixels)."""
    path = _path(f"pipeline_{n}_{RESIZE_W}x{RESIZE_H}")
    if os.path.exists(path):
        return path
    import hashlib

    import pandas as pd

    from cianparser_spark.corpus import imaging, webgen
    from cianparser_spark.ops.multimodal import (image_quality,
                                                 quality_keep,
                                                 resized_feature_dict)

    # the same corpus ensure_dedup_images writes (id → bytes, fmt)
    import pyarrow.parquet as pq

    corpus = pq.read_table(ensure_dedup_images(n)).to_pylist()
    groups: dict[str, list[dict]] = {}
    for row in corpus:
        key = hashlib.md5(bytes(row["bytes"]).hex().upper().encode()).hexdigest()
        groups.setdefault(key, []).append(row)
    out = []
    for key, members in groups.items():
        members.sort(key=lambda r: r["image_id"])
        winner = members[0]
        px = imaging.decode(bytes(winner["bytes"]), winner["fmt"])
        if not quality_keep(image_quality(px)):
            continue
        rec = resized_feature_dict(px, RESIZE_W, RESIZE_H)
        out.append({"image_id": winner["image_id"],
                    "n_copies": len(members),
                    "n_bytes": rec["n_bytes"],
                    "mean_luma": round(rec["mean_luma"], 4),
                    "std_luma": round(rec["std_luma"], 4)})
    out.sort(key=lambda r: r["image_id"])
    df = pd.DataFrame(out)
    assert len(df) < len(corpus)          # dedup + gate both bit
    assert (df.n_copies > 1).any()
    return _write_parquet(df, path)


def ensure_resize_truth(n: int = PAYLOAD_N) -> str:
    """Ground truth for the training-shard resize: a pure-Python loop
    over the SAME deterministic corpus decodes each stored blob (PNG
    exact, JPEG through the same lossy round-trip the Spark side
    decodes), mean-pools to (RESIZE_W, RESIZE_H), re-encodes PNG and
    records n_bytes + features of the resized pixels via the SHARED
    resized_feature_dict — so the DuckDB compare pins the distributed
    decode→resize→re-encode path byte-for-byte."""
    path = _path(f"resize_{n}_{RESIZE_W}x{RESIZE_H}")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging, webgen
    from cianparser_spark.ops.multimodal import resized_feature_dict

    out = []
    for i in range(n):
        row = webgen.image_row(i)
        rec = resized_feature_dict(imaging.decode(row["bytes"], row["fmt"]),
                                   RESIZE_W, RESIZE_H)
        out.append({"image_id": row["image_id"], "ok": True,
                    "n_bytes": rec["n_bytes"],
                    "mean_luma": round(rec["mean_luma"], 4),
                    "std_luma": round(rec["std_luma"], 4),
                    "edge_energy": round(rec["edge_energy"], 4)})
    return _write_parquet(pd.DataFrame(out), path)


def ensure_flac_truth(n_clips: int = AV_AUDIO_CLIPS) -> str:
    """Ground truth for the FLAC path: pure-Python encode (corpus/
    flacsub subset encoder — LPC/fixed/constant/verbatim, Rice
    residuals) → decode → the shared feature math.  ``n_bytes`` is the
    encoded stream length, pinning the distributed encoder
    byte-for-byte; decode is verified bit-exact against the source PCM
    here (lossless), so a green driver row certifies the whole codec."""
    path = _path("flac_audio")
    if os.path.exists(path):
        return path
    import numpy as np
    import pandas as pd

    from cianparser_spark.corpus import flacsub
    from cianparser_spark.ops.multimodal import audio_feature_dict, synth_pcm16

    sr, n = 8000, 2000
    out = []
    for i in range(n_clips):
        pcm = synth_pcm16(i, sr, n)
        blob = flacsub.flac_encode(pcm, sr)
        dec, got_sr, bps = flacsub.flac_decode(blob)
        assert got_sr == sr and bps == 16 and np.array_equal(dec, pcm.astype(np.int32))
        x, _ = flacsub.flac_parse(blob)
        out.append({"audio_id": f"aud{i:04d}", "ok": True,
                    "n_bytes": len(blob),
                    **{k: round(v, 6)
                       for k, v in audio_feature_dict(x, sr).items()}})
    return _write_parquet(pd.DataFrame(out), path)


def ensure_av_truth() -> tuple[str, str]:
    """Ground truth for the compressed A/V container paths: a plain
    pure-Python loop encodes each deterministic clip into a real WAV
    (PCM / G.711 mu-law / A-law / IEEE float-32 / IMA ADPCM / MS
    ADPCM) or a real AVI (BI_RGB / Motion-JPEG), parses the
    container back and computes the same feature math the distributed
    operators use (ops.multimodal.audio_feature_dict / image_features)
    — so a DuckDB compare against these tables verifies the Spark-side
    demux+decode end to end, driver-visible."""
    apath, vpath = _path("av_audio"), _path("av_video")
    if os.path.exists(apath) and os.path.exists(vpath):
        return apath, vpath
    import pandas as pd

    from cianparser_spark.corpus import aviriff, imaging, riffwav
    from cianparser_spark.ops.multimodal import (
        audio_feature_dict, image_features, synth_pcm16)

    sr, n = 8000, 2000  # 0.25 s clips, matching the Spark fixture
    arows = []
    parsed_name = {"pcm": "pcm", "mulaw": "mulaw", "alaw": "alaw",
                   "f32": "f32", "ima": "ima_adpcm", "ms": "ms_adpcm"}
    for codec in ("pcm", "mulaw", "alaw", "f32", "ima", "ms"):
        for i in range(AV_AUDIO_CLIPS):
            wav = riffwav.wav_encode(synth_pcm16(i, sr, n), sr, codec)
            x, got_sr, got_codec = riffwav.wav_parse(wav)
            assert got_sr == sr and got_codec == parsed_name[codec]
            arows.append({"codec": codec, "audio_id": f"aud{i:04d}", "ok": True,
                          **{k: round(v, 6)
                             for k, v in audio_feature_dict(x, got_sr).items()}})
    _write_parquet(pd.DataFrame(arows), apath)

    vrows = []
    for codec in ("dib", "mjpg"):
        for v in range(AV_VIDEO_N):
            px = [imaging.gen_pixels(v * 1000 + f, 32, 32)
                  for f in range(AV_VIDEO_FRAMES)]
            meta, raw = aviriff.avi_demux(
                aviriff.avi_encode(px, fps=10, codec=codec))
            for f in range(0, AV_VIDEO_FRAMES, AV_FRAME_EVERY):
                decoded = aviriff.frame_decode(raw[f], meta)
                if codec == "dib":
                    assert (decoded == px[f]).all()
                else:  # real Motion-JPEG: lossy but >= 40 dB
                    assert imaging.psnr(decoded, px[f]) >= 40.0
                feats = image_features(decoded)
                vrows.append({"codec": codec,
                              "video_id": f"vid{v:04d}", "frame_index": f,
                              "mean_luma": round(feats["mean_luma"], 4),
                              "std_luma": round(feats["std_luma"], 4),
                              "edge_energy": round(feats["edge_energy"], 4)})
    _write_parquet(pd.DataFrame(vrows), vpath)
    return apath, vpath


def ensure_gif_video_truth() -> str:
    """Ground truth for the animated-GIF video path: pure-Python
    encode (gif_encode_anim, per-frame exact-or-332 palettes) →
    full multi-frame decode with canvas composition (gif_frames) →
    the shared feature math on every sampled frame.  The Spark side
    (frame_sample fmt='gif') decodes the SAME bytes, so features match
    exactly even under 3-3-2 quantization."""
    path = _path("gif_video")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import bmpgif, imaging
    from cianparser_spark.ops.multimodal import image_features

    rows = []
    for v in range(AV_VIDEO_N):
        px = [imaging.gen_pixels(v * 1000 + f, 32, 32)
              for f in range(AV_VIDEO_FRAMES)]
        frames = bmpgif.gif_frames(bmpgif.gif_encode_anim(px, delay_cs=10))
        assert len(frames) == AV_VIDEO_FRAMES
        for f in range(0, AV_VIDEO_FRAMES, AV_FRAME_EVERY):
            feats = image_features(frames[f])
            rows.append({"video_id": f"vid{v:04d}", "frame_index": f,
                         "mean_luma": round(feats["mean_luma"], 4),
                         "std_luma": round(feats["std_luma"], 4),
                         "edge_energy": round(feats["edge_energy"], 4)})
    return _write_parquet(pd.DataFrame(rows), path)


AUDIO_META_N = 18            # half mp3, half ogg
AUDIO_META_CORRUPT_MOD = 7   # every 7th clip gets its 30th byte zeroed


def ensure_audio_meta_truth() -> str:
    """Ground truth for the compressed-audio container metadata scan:
    the SAME deterministic mp3/ogg streams the Spark fixture builds
    (ops.multimodal.mp3_clip_build / ogg_clip_build), scanned by the
    shared per-clip definition (scan_clip_meta — MP3 frame walk with
    ID3/Xing handling, Ogg page walk with CRC verify + Vorbis ident),
    with the SAME deterministic corruption the Spark query injects
    JVM-side via binary substring/concat (clips divisible by
    AUDIO_META_CORRUPT_MOD get their 30th byte zeroed — lands in an
    Ogg page body → CRC failure → ok=false; in an MP3 ID3 body the
    scan legitimately survives, and both sides agree either way)."""
    path = _path("audio_meta")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.ops.multimodal import (
        mp3_clip_build, ogg_clip_build, scan_clip_meta)

    rows = []
    for i in range(AUDIO_META_N):
        fmt = "mp3" if i % 2 == 0 else "ogg"
        blob = mp3_clip_build(i) if fmt == "mp3" else ogg_clip_build(i)
        if i % AUDIO_META_CORRUPT_MOD == 0:
            blob = blob[:29] + b"\x00" + blob[30:]
        try:
            m = scan_clip_meta(blob, fmt)
        except (ValueError, NotImplementedError, IndexError):
            m = {"container": fmt, "ok": False, "n_units": None,
                 "n_pages": None, "sample_rate": None, "channels": None,
                 "bitrate_kbps": None, "rate_mode": None, "duration_s": None}
        rows.append({"audio_id": f"cmp{i:04d}", **m,
                     "duration_s": (None if m["duration_s"] is None
                                    else round(m["duration_s"], 6))})
    return _write_parquet(pd.DataFrame(rows), path)


XFORMAT_N = 16


def ensure_xformat_truth() -> str:
    """Ground truth for cross-format phash robustness: pure-Python
    encode→decode→dHash per (source, container) + hamming to the PNG
    anchor — the same math the distributed xformat_phash/
    xformat_hamming pipeline runs executor-side."""
    path = _path("phash_xformat")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging
    from cianparser_spark.corpus.imaging import phash64
    from cianparser_spark.ops.multimodal import XFORMAT_FMTS

    rows = []
    for i in range(XFORMAT_N):
        px = imaging.gen_pixels(9100 + i, 64, 48)
        anchor = None
        per_fmt = []
        for fmt in XFORMAT_FMTS:
            blob = imaging.encode(px, fmt)
            ph = phash64(imaging.decode(blob, fmt))
            if fmt == "png":
                anchor = ph
            per_fmt.append((fmt, len(blob), ph))
        for fmt, n_bytes, ph in per_fmt:
            ham = bin((ph ^ anchor) & 0xFFFFFFFFFFFFFFFF).count("1")
            rows.append({"src_id": f"src{i:04d}", "fmt": fmt,
                         "n_bytes": n_bytes, "phash": ph,
                         "hamming": ham, "is_dup": ham <= 6})
    return _write_parquet(pd.DataFrame(rows), path)


def ensure_shard_manifest_truth(n: int = PAYLOAD_N) -> str:
    """Export-shard oracle INPUT: (image_id, n_bytes, phash) per image,
    with ``n_bytes`` the length of the PURE-PYTHON encoder's output in
    a plain loop.  The DuckDB oracle aggregates the shard manifest from
    this table; the Spark query re-encodes the corpus distributed
    (engine/payload.build_images_table) and aggregates ``length(bytes)``
    — a byte-length mismatch anywhere in the distributed encode path
    becomes a driver-visible hash mismatch."""
    path = _path(f"shard_manifest_{n}")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen

    out = []
    for i in range(n):
        row = webgen.image_row(i)
        out.append({
            "image_id": row["image_id"],
            "n_bytes": len(row["bytes"]),
            "phash": row["phash"],
        })
    return _write_parquet(pd.DataFrame(out), path)


def ensure_image_tiles_truth(n: int = PAYLOAD_N, tile: int = 32) -> str:
    """Per-tile luma statistics ground truth: decode each image with
    the pure-Python codec in a plain loop and compute the 32×32 tile
    grid via the shared per-image definition
    (ops/multimodal.tile_grid).  What the driver compare then verifies
    is the DISTRIBUTED half: Arrow batching, mapInPandas fan-out of
    one row per tile, and decode placement — against this sequential
    loop."""
    path = _path(f"image_tiles_{n}_{tile}")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging, webgen
    from cianparser_spark.ops.multimodal import tile_grid

    out = []
    for i in range(n):
        row = webgen.image_row(i)
        px = imaging.decode(row["bytes"], row["fmt"])
        for t in tile_grid(px, tile):
            out.append({"image_id": row["image_id"], **t})
    return _write_parquet(pd.DataFrame(out), path)


# ----------------------------------------------------------- link graph

def ensure_link_graph_truth() -> str:
    """Link-graph oracle INPUT: the directed (src, dst) edge list of
    the politeness sub-site (3 seeds × 5-9 list pages, ~560 offers) —
    list page → next list page, list page → each offer card URL on it,
    offer page → the query's first list page (the synthetic site's
    breadcrumb link).  Derived in a plain pure-Python loop from the
    corpus generator (webgen.page_oids / offer_truth), the same source
    the simulator trusts.  Both worlds read this one parquet; what
    differs is the PageRank computation itself: distributed iterative
    joins (ops/graph.pagerank) vs a 5-iteration unrolled SQL twin."""
    path = _path("link_graph")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics import urls as umod

    seeds, cfg = politeness_seeds_and_cfg()
    edges = []
    for s in seeds:
        template = s.url_template()
        start, end = s.pages()
        end = min(end, webgen.page_count(umod.format_page_url(template, 1), cfg))
        first = umod.format_page_url(template, start)
        for p in range(start, end + 1):
            u = umod.format_page_url(template, p)
            if p < end:
                edges.append((u, umod.format_page_url(template, p + 1)))
            parsed = webgen.parse_list_url(u)
            deal = "sale" if parsed["deal_type"] == "sale" else "rent"
            kind = ("newobject" if parsed["newobject"]
                    else ("suburban" if parsed["offer_type"] == "suburban"
                          else "flat"))
            for oid in webgen.page_oids(u, cfg):
                t = webgen.offer_truth(oid, deal, kind, cfg)
                ou = webgen._offer_url(parsed["host"], deal, kind, t)
                edges.append((u, ou))
                edges.append((ou, first))
    df = pd.DataFrame(edges, columns=["src", "dst"]).drop_duplicates()
    return _write_parquet(df.reset_index(drop=True), path)


# -------------------------------------------------------------- simhash

def ensure_simhash_truth(sf_dir: str = SF001_DIR) -> str:
    """Per-doc simhash fingerprints computed directly off the parquet
    (pandas/numpy, no Spark).  The SQL oracle does the all-pairs
    hamming join over this table; the Spark op must reproduce it via
    its banded (linear) join — banding recall for hamming <= 3 is
    guaranteed by pigeonhole over the 4×16-bit bands."""
    path = _path("simhash_sf001")
    if os.path.exists(path):
        return path
    import pandas as pd
    import pyarrow.parquet as pq

    from cianparser_spark.ops.dedup import simhash_text

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pandas()
    docs = docs.sort_values("doc_id").reset_index(drop=True)
    out = pd.DataFrame({
        "doc_id": docs["doc_id"],
        "simhash": [simhash_text(t) for t in docs["text"]],
    })
    return _write_parquet(out, path)


# -------------------------------------------------------------- urlnorm

def ensure_urlnorm_truth(sf_dir: str = SF001_DIR) -> str:
    """Canonicalized-URL truth: the same deterministic messy URLs the
    Spark query synthesizes from ``o_orderkey`` (ops/urlnorm.py
    ``messy_url_expr`` / ``messy_url_py``), canonicalized here by the
    pure-Python ``canonicalize_url`` (urllib.parse based) — fully
    independent of the native Catalyst expression under test."""
    path = _path("urlnorm_sf001")
    if os.path.exists(path):
        return path
    import pandas as pd
    import pyarrow.parquet as pq

    from cianparser_spark.ops.urlnorm import canonicalize_url, messy_url_py

    keys = (
        pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                      columns=["o_orderkey"])
        .to_pandas()["o_orderkey"].sort_values().head(2000)
    )
    out = pd.DataFrame({
        "o_orderkey": keys.to_numpy(),
        "canon_url": [canonicalize_url(messy_url_py(int(k))) for k in keys],
    })
    return _write_parquet(out, path)


# ------------------------------------------------------------------ ann

def embedding_dim(sf_dir: str = SF001_DIR) -> int:
    """Vector dimensionality of the driver's embeddings table."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["embedding"])
    return len(t.column("embedding")[0].as_py())


def lsh_plane_literals(dim: int = 64, n_planes: int = 6, seed: int = 42) -> list[str]:
    """The sign-LSH hyperplanes as DuckDB DOUBLE[] literals — the same
    seeded planes ``ops.similarity.signature_bucket`` uses, so the SQL
    oracle recomputes bucket ids from first principles."""
    from cianparser_spark.ops.similarity import _planes

    planes = _planes(dim, n_planes, seed)
    return ["[" + ",".join(repr(float(x)) for x in p) + "]" for p in planes]


def ivf_centroid_literals(sf_dir: str = SF001_DIR, n_lists: int = 16,
                          iters: int = 5, seed: int = 42) -> list[str]:
    """IVF centroids as DuckDB DOUBLE[] literals, computed by the
    shared deterministic k-means-lite over the first ``n_lists*64``
    vectors by vec_id — read straight from parquet with pyarrow, so the
    oracle's centroids never touch Spark."""
    import numpy as np
    import pyarrow.parquet as pq

    from cianparser_spark.ops.similarity import kmeans_lite

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id").head(n_lists * 64)
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    cents = kmeans_lite(x, n_lists, iters, seed)
    return ["[" + ",".join(repr(float(v)) for v in c) + "]" for c in cents]


def pq_oracle_parts(sf_dir: str = SF001_DIR, m: int = 16, ksub: int = 16,
                    iters: int = 5, seed: int = 42) -> tuple[str, str]:
    """SQL fragments for the PQ-ANN oracle: (code-assignment select
    list, ADC distance expression).

    Codebooks come from ``similarity.pq_train_local`` over the first
    1024 vectors by vec_id read straight from parquet (never Spark),
    and the ADC table from the shared ``pq_adc_table`` — so every
    literal is the same float the Spark query embeds.  The only
    cross-engine recompute is the per-row argmin, whose squared
    sub-distance is a SHORT left-associated sum both numpy and DuckDB
    evaluate in the same order (dsub < 8 enforced at train time)."""
    import numpy as np
    import pyarrow.parquet as pq

    from cianparser_spark.ops.similarity import pq_adc_table, pq_train_local

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id").reset_index(drop=True)
    x = np.stack(t.head(1024)["embedding"].to_numpy()).astype(np.float64)
    books = pq_train_local(x, m, ksub, iters, seed)
    qvec = np.asarray(
        t.loc[t["vec_id"] == 0, "embedding"].iloc[0], dtype=np.float64)
    table = pq_adc_table(qvec, books)
    dsub = books.shape[2]
    code_cols = []
    for mi in range(m):
        cols = ", ".join(f"c{d + 1}" for d in range(dsub))
        vals = ", ".join(
            "(" + ", ".join([str(j)] + [repr(float(v)) for v in books[mi][j]])
            + ")"
            for j in range(ksub))
        dist = " + ".join(
            f"(e[{mi * dsub + d + 1}] - c{d + 1})"
            f" * (e[{mi * dsub + d + 1}] - c{d + 1})"
            for d in range(dsub))
        code_cols.append(
            f"(SELECT j FROM (VALUES {vals}) t(j, {cols})"
            f" ORDER BY {dist}, j LIMIT 1) AS code{mi}")
    adc = " + ".join(
        "([" + ", ".join(repr(float(v)) for v in table[mi]) + f"])[code{mi} + 1]"
        for mi in range(m))
    return ",\n                   ".join(code_cols), adc


def kmeans_oracle_sql(sf_dir: str = SF001_DIR, k: int = 8, iters: int = 3,
                      q: int | None = None, seed: int = 42,
                      sample_n: int = 256) -> str:
    """Unrolled-CTE DuckDB twin of ops/clustering.kmeans_fit: every
    Lloyd iteration replayed in SQL over the same quantized integers.

    Exactness argument (no tolerance anywhere): coordinates quantize to
    bigints with the shared round-half-away rule; centroid state is the
    exact integer pair (S, n) updated by order-independent integer
    sums; each assignment distance is one int64 numerator → one
    integer→double conversion → one IEEE division, so both engines
    compare identical doubles and pick identical argmins, iteration
    after iteration.  Init centroid literals come from the shared
    ``init_sums`` over the same first-``sample_n``-by-id parquet
    sample."""
    import numpy as np
    import pyarrow.parquet as pq

    from cianparser_spark.ops.clustering import Q_DEFAULT, init_sums

    q = q or Q_DEFAULT
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id").head(sample_n)
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    dim = x.shape[1]
    sums, counts = init_sums(x, k, seed, q)

    def dist(n: str, s: str, xq: str = "p.xq") -> str:
        return (f"list_sum(list_transform(range(1, {dim + 1}), d -> "
                f"({n} * {xq}[d] - {s}[d]) * ({n} * {xq}[d] - {s}[d])))"
                f" / ({n} * {n})")

    init_vals = ", ".join(
        f"({j}, 1::BIGINT, [" + ", ".join(str(int(v)) for v in sums[j])
        + "]::BIGINT[])"
        for j in range(k))
    sum_list = ", ".join(
        f"CAST(sum(xq[{d + 1}]) AS BIGINT)" for d in range(dim))
    ctes = [
        ("pts", f"SELECT vec_id, list_transform(embedding::DOUBLE[], "
                f"x -> CAST(round(x * {float(q)!r}) AS BIGINT)) AS xq "
                f"FROM read_parquet('{os.path.join(sf_dir, 'embeddings.parquet')}')"),
        ("cent0", f"SELECT j, n0 AS n, s0 AS S FROM (VALUES {init_vals})"
                  " t(j, n0, s0)"),
    ]
    # relational argmin: point × centroid cross join + first-row window
    # (DuckDB does not allow outer-column correlation inside a scalar
    # subquery's ORDER BY, so the argmin is expressed join-style)
    def assign_body(prev: str) -> str:
        d = dist("c0.n", "c0.S")
        return (f"SELECT vec_id, xq, c FROM ("
                f"SELECT p.vec_id, p.xq, c0.j AS c, "
                f"ROW_NUMBER() OVER (PARTITION BY p.vec_id "
                f"ORDER BY {d}, c0.j) AS rn "
                f"FROM pts p CROSS JOIN {prev} c0) WHERE rn = 1")

    for i in range(1, iters):
        ctes.append((f"a{i}", assign_body(f"cent{i - 1}")))
        ctes.append((
            f"u{i}",
            f"SELECT c, count(*) AS n, [{sum_list}] AS S "
            f"FROM a{i} GROUP BY c"))
        ctes.append((
            f"cent{i}",
            f"SELECT c0.j, coalesce(u.n, c0.n) AS n, "
            f"coalesce(u.S, c0.S) AS S "
            f"FROM cent{i - 1} c0 LEFT JOIN u{i} u ON u.c = c0.j"))
    last = f"cent{iters - 1}"
    with_clause = ",\n".join(f"{name} AS ({body})" for name, body in ctes)
    d = dist("c0.n", "c0.S")
    return (
        f"WITH {with_clause}\n"
        f"SELECT vec_id, cluster, round(d / {float(q) ** 2!r}, 6) AS dist"
        f" FROM ("
        f"SELECT p.vec_id, c0.j AS cluster, {d} AS d, "
        f"ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY {d}, c0.j) AS rn "
        f"FROM pts p CROSS JOIN {last} c0) WHERE rn = 1 ORDER BY vec_id"
    )


# -------------------------------------------- politeness wave schedule

T5_HOST_TOKENS = 4


def politeness_seeds_and_cfg():
    """T5/T9 driver-visible: a fault-FREE, list-only, 3-seed / 21-page
    crawl on one host with a 4-token budget, so the wave schedule is a
    pure function of the politeness selection: per host, pages ordered
    by the engine's deterministic priority (page_number, seed_id — all
    rows are lists, so kind-rank/card_index are constant) fetch
    ceil(rank / budget) waves in.  Fault mods are pushed past any
    64-bit hash hit (the static-frontier precondition is ASSERTED in
    ensure_politeness_pages_truth) so no retry row ever perturbs the
    schedule."""
    import dataclasses

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics.simulator import CrawlSeed

    seeds = [
        CrawlSeed(1, "Москва", "flat", "sale", rooms="all",
                  additional_settings={"end_page": 9}),
        CrawlSeed(2, "Москва", "flat", "rent_long", rooms="all",
                  additional_settings={"end_page": 7}),
        CrawlSeed(3, "Казань", "suburban", "sale", suburban_type="house",
                  additional_settings={"end_page": 5}),
    ]
    cfg = dataclasses.replace(
        webgen.DEFAULT_CONFIG, faults_on_details=False,
        fail_500_mod=1_000_000_007, fail_429_mod=1_000_000_009,
    )
    return seeds, cfg


def ensure_politeness_offers_truth() -> str:
    """Card-level dump of the politeness crawl: the sequential
    simulator's offers with their (seed_id, page_number, card_index)
    order.  Together with the window-SQL wave-schedule twin this gives
    the changelog oracle: rows appended after snapshot W = rows whose
    page's schedule wave is > W (probed invariant: the engine's
    per-wave offers commits match these counts exactly — 111/100/102/
    106/98/28 across the six waves)."""
    path = _path("politeness_offers")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.semantics import urls
    from cianparser_spark.semantics.simulator import ReferenceSimulator

    seeds, cfg = politeness_seeds_and_cfg()
    sim = ReferenceSimulator(cfg, project_fields=False).run(seeds)
    out = []
    for (sid, page, idx), row in zip(sim.order, sim.rows):
        out.append({
            "seed_id": sid,
            "page_number": page,
            "card_index": idx,
            "deal_url_id": urls.deal_url_id(row["url"]),
            "url": row["url"],
            "price": row.get("price"),
        })
    return _write_parquet(pd.DataFrame(out), path)


def ensure_politeness_pages_truth() -> str:
    """Dump the t5 frontier as bare (seed_id, page_number) rows —
    derived from the same ``seed.pages()`` bounds the engine's frontier
    generator uses.  The DuckDB oracle then RE-DERIVES the wave
    schedule with window SQL (``1 + (row_number() over the priority
    order - 1) // budget``) — an independent SQL twin of the engine's
    salted two-phase token selection (crawler._select_budget_windows).

    Asserts the preconditions the twin rests on: every page really
    exists on the synthetic site (end_page <= page_count) and no fault
    fires on any (url, attempt 0/1/2), so the frontier is static."""
    path = _path("politeness_pages")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import webgen
    from cianparser_spark.semantics import urls

    seeds, cfg = politeness_seeds_and_cfg()
    rows = []
    for s in seeds:
        template = s.url_template()
        start, end = s.pages()
        assert end <= webgen.page_count(urls.format_page_url(template, 1), cfg)
        for p in range(start, end + 1):
            u = urls.format_page_url(template, p)
            for att in (0, 1, 2):
                assert webgen.status_for(u, att, cfg) == 200, (u, att)
            rows.append({"seed_id": s.seed_id, "page_number": p})
    return _write_parquet(pd.DataFrame(rows), path)


# ----------------------------------------------------- images dimension

def ensure_images_meta_truth() -> str:
    """J5 oracle INPUT: the images DIMENSION — metadata only
    (image_id, w, h, fmt, caption, phash), no bytes — for the corpus's
    full id space (DEFAULT_CONFIG.n_images).  Both worlds read this
    same parquet; what differs is the JOIN: the Spark query broadcast
    hash-joins it against the crawl engine's extracted image_id column
    (engine/payload.join_offers_images), the DuckDB oracle joins it
    against the simulator's truth dump.  Metadata comes from the same
    pure generator the byte-level corpus uses (corpus/webgen.image_pixels
    + imaging.phash64 + caption_text), skipping the encode."""
    path = _path("images_meta")
    if os.path.exists(path):
        return path
    import pandas as pd

    from cianparser_spark.corpus import imaging, webgen

    rows = []
    for i in range(webgen.DEFAULT_CONFIG.n_images):
        px = webgen.image_pixels(i)
        rows.append({
            "image_id": f"img{i:08d}",
            "w": int(px.shape[1]),
            "h": int(px.shape[0]),
            "fmt": "png" if i % 2 == 0 else "jpeg",
            "caption": webgen.caption_text(i),
            "phash": imaging.phash64(px),
        })
    return _write_parquet(pd.DataFrame(rows), path)


# ------------------------------------------------------- URL grammar

def ensure_url_grammar_truth() -> str:
    """U1/U2/U3/U8 + J3 driver-visible: 220 randomized-but-pinned crawl
    configs spanning the FULL list-URL grammar — every deal type
    (incl. the rent_long/rent_short rewrite, U3), room tokens valid and
    silently-dropped-invalid (U2), suburban object codes, every
    additional_settings key in cianparser/url_builder.py's serialization
    order (incl. zero values, false flags, an unknown sort key and
    metro stations both real and unknown — J3's silent no-op), and the
    page-number hole (U8).  ``golden`` is the driver-side Python
    compiler's output (build_list_url_template + format_page_url, the
    bit-tested reference grammar); the Spark query recomputes the URL
    with the Catalyst-native twin (urls.list_url_expr) and must match
    string-for-string."""
    path = _path("url_grammar")
    if os.path.exists(path):
        return path
    import random

    import pandas as pd

    from cianparser_spark import dims
    from cianparser_spark.semantics import urls

    rng = random.Random(0x0C1A0)
    networks = sorted(dims.METRO_STATIONS)
    room_tokens = ["1", "2", "3", "4", "5", "studio", "0", "7", "all"]
    rows = []
    for cfg_id in range(220):
        kind = rng.choice(["flat", "flat", "flat", "suburban", "newobject"])
        deal = rng.choice(["sale", "rent_long", "rent_short"])
        rooms = None
        if kind == "flat" and rng.random() < 0.8:
            rooms = rng.sample(room_tokens, rng.randint(1, 4))
        suburban_type = (rng.choice(sorted(urls.SUBURBAN_TYPES))
                         if kind == "suburban" and rng.random() < 0.85 else None)

        def maybe(p, fn):
            return fn() if rng.random() < p else None

        metro = maybe(0.35, lambda: rng.choice(networks + ["Неизвестная сеть"]))
        metro_station = None
        if metro is not None and rng.random() < 0.85:
            if metro in dims.METRO_STATIONS and rng.random() < 0.8:
                metro_station = rng.choice(dims.METRO_STATIONS[metro])[0]
            else:
                metro_station = "Несуществующая станция"
        settings = {
            "object_type": maybe(0.3, lambda: rng.choice(["secondary", "new"])),
            "is_by_homeowner": maybe(0.3, lambda: rng.random() < 0.7),
            "min_balconies": maybe(0.25, lambda: rng.randint(0, 3)),
            "have_loggia": maybe(0.25, lambda: rng.random() < 0.7),
            "min_house_year": maybe(0.25, lambda: rng.randint(1950, 2010)),
            "max_house_year": maybe(0.25, lambda: rng.randint(2010, 2026)),
            "min_price": maybe(0.35, lambda: rng.choice([0, 1, 3_000_000, 12_500_000])),
            "max_price": maybe(0.35, lambda: rng.randint(1, 60) * 1_000_000),
            "min_floor": maybe(0.25, lambda: rng.randint(1, 10)),
            "max_floor": maybe(0.25, lambda: rng.randint(10, 40)),
            "min_total_floor": maybe(0.2, lambda: rng.randint(1, 9)),
            "max_total_floor": maybe(0.2, lambda: rng.randint(9, 40)),
            "house_material_type": maybe(0.25, lambda: rng.randint(1, 8)),
            "metro": metro,
            "metro_station": metro_station,
            "metro_foot_minute": maybe(0.25, lambda: rng.randint(1, 45)),
            "flat_share": maybe(0.2, lambda: rng.randint(1, 2)),
            "only_flat": maybe(0.25, lambda: rng.random() < 0.7),
            "only_apartment": maybe(0.25, lambda: rng.random() < 0.7),
            "sort_by": maybe(0.4, lambda: rng.choice(
                sorted(urls.SORT_BY) + ["bogus_sort_key"])),
        }
        page = rng.randint(1, 54)
        location_id = rng.choice(["1", "2", "4777", "176245"])

        # golden: the Python compiler (semantics/urls.py, bit-tested
        # against the reference's imperative append chain)
        site_deal, rent_period = urls.rewrite_deal_type(deal)
        py_rooms = None
        if rooms is not None:
            py_rooms = tuple(int(t) if t.isdigit() else t for t in rooms)
        template = urls.build_list_url_template(
            location_id, site_deal, kind, rooms=py_rooms,
            rent_period_type=rent_period, suburban_type=suburban_type,
            additional_settings={k: v for k, v in settings.items()
                                 if v is not None},
        )
        rows.append({
            "cfg_id": cfg_id, "location_id": location_id, "deal_type": deal,
            "accommodation_type": kind, "rooms": rooms,
            "suburban_type": suburban_type, "page": page,
            **settings,
            "golden": urls.format_page_url(template, page),
        })
    df = pd.DataFrame(rows)
    for col in ("min_balconies", "min_house_year", "max_house_year",
                "min_price", "max_price", "min_floor", "max_floor",
                "min_total_floor", "max_total_floor",
                "house_material_type", "metro_foot_minute", "flat_share"):
        df[col] = df[col].astype("Int64")
    for col in ("is_by_homeowner", "have_loggia", "only_flat",
                "only_apartment"):
        df[col] = df[col].astype("boolean")
    return _write_parquet(df, path)


# ------------------------------------------------------------- frontier

def ensure_frontier_truth() -> tuple[str, str]:
    """Frontier-membership oracle INPUTS: a candidates table
    (id, url, key) and a seen-key table (key), shared verbatim by both
    worlds.  The Spark side runs the crawler's exact seen-set tier
    (bench_frontier.membership_split: an anti-join;
    membership_split_spool: the sorted string-run probe on the key
    cast to string); the DuckDB oracle is a plain ANTI JOIN over the
    same two tables — so a false negative, a false positive or a
    build/probe bucket-hash mismatch becomes a driver-visible row/hash
    mismatch.

    Keys are pre-hashed here (pandas hash_array of the canonical URL,
    stored in the table — both sides read values, neither recomputes)
    because the membership semantics under test are set-difference on a
    64-bit key column; the key DERIVATION (canonicalize + xxhash64) is
    separately oracled by ``url_canonical``.  The seen table includes
    500 keys matching NO candidate (departed frontier entries) and
    every even-id candidate; expected fresh = the 3,000 odd ids."""
    cand_path = _path("frontier_candidates")
    seen_path = _path("frontier_seen")
    if os.path.exists(cand_path) and os.path.exists(seen_path):
        return cand_path, seen_path
    import numpy as np
    import pandas as pd

    from cianparser_spark.ops.urlnorm import canonicalize_url, messy_url_py

    ids = np.arange(6000)
    urls = [messy_url_py(int(i)) for i in ids]
    canon = np.array([canonicalize_url(u) for u in urls], dtype=object)
    keys = pd.util.hash_array(canon).view("int64")
    cand = pd.DataFrame({"id": ids.astype("int64"), "url": urls,
                         "key": keys})
    extra = pd.util.hash_array(
        np.array([f"departed-{i}" for i in range(500)], dtype=object)
    ).view("int64")
    seen = pd.DataFrame({"key": np.concatenate([keys[ids % 2 == 0], extra])})
    _write_parquet(cand, cand_path)
    _write_parquet(seen, seen_path)
    return cand_path, seen_path


# ------------------------------------------------------------------ bpe

def ensure_bpe_truth(sf_dir: str = SF001_DIR, n_merges: int = 8) -> str:
    """Pure-Python BPE twin (Sennrich et al. 2016) over the sf0.01
    documents — an independent scalar implementation of the merge loop
    the distributed ``ops/text.bpe_train`` runs: identical word counts,
    identical argmax tiebreak (count desc, then lexicographic (l, r)),
    identical greedy left-to-right merge application.  Dumped once;
    the oracle SQL just SELECTs it.  Pinned to sf0.01 (the driver's
    compare SF); at other SFs the contract query still runs, only the
    oracle row set is sf0.01's."""
    path = _path("bpe_sf001")
    if os.path.exists(path):
        return path
    import re
    from collections import Counter

    import pandas as pd
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["text"]).to_pandas()
    wc: Counter = Counter()
    for t in docs["text"]:
        # ASCII \S+ == Java's \s complement (incl. \x0b), matching the
        # Spark op's split(trim, \s+) grammar on non-ASCII whitespace
        for w in re.findall(r"\S+", t, flags=re.ASCII):
            wc[w] += 1
    vocab = {w: list(w) for w in wc}
    merges = []
    for step in range(1, n_merges + 1):
        pc: Counter = Counter()
        for w, c in wc.items():
            p = vocab[w]
            for i in range(len(p) - 1):
                pc[(p[i], p[i + 1])] += c
        if not pc:
            break
        (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, left, right, n))
        for w, p in vocab.items():
            out = []
            for x in p:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            vocab[w] = out
    trace = ";".join(f"{s}:{l}+{r}={n}" for s, l, r, n in merges)
    rows = pd.DataFrame({
        "word": sorted(vocab),
        "count": [int(wc[w]) for w in sorted(vocab)],
        "n_pieces": [len(vocab[w]) for w in sorted(vocab)],
        "pieces_str": ["|".join(vocab[w]) for w in sorted(vocab)],
        "merge_trace": [trace] * len(vocab),
    })
    rows["count"] = rows["count"].astype("int64")
    rows["n_pieces"] = rows["n_pieces"].astype("int32")
    return _write_parquet(rows, path)
