"""Columnar widen parity tests.

The engine keeps two implementations of one semantic by design: the
in-kernel dedup key (stage.card_dedup_key, pure Python) must equal the
columnar widen's ``deal_url_id`` expressions bit-for-bit — otherwise
the map-only wave's in-kernel dedup disagrees with the seen table and
``_dedup``, which key on ``deal_url_id``.

The full bit-match vs the sequential simulator lives in
tests/test_engine.py; these tests pin the pairing directly so a future
edit to either side fails fast with a small repro.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from cianparser_spark.corpus import webgen
from cianparser_spark.engine import columnar, model
from cianparser_spark.engine.stage import card_dedup_key
from cianparser_spark.semantics import extract, urls
from cianparser_spark.semantics.simulator import CrawlSeed


CFG = dataclasses.replace(
    webgen.DEFAULT_CONFIG, fail_500_mod=10**9, fail_429_mod=10**9,
    faults_on_details=False,
)


def _cards_for(seed: CrawlSeed, pages=range(1, 4)):
    rt = model.seed_runtime(seed)
    prefix, suffix = rt["template"].split("{}", 1)
    out = []
    for p in pages:
        status, html = webgen.fetch(f"{prefix}{p}{suffix}", 0, CFG)
        if status == 200 and not extract.has_captcha(html):
            out.extend(
                (card, rt) for card in extract.list_page_cards(html, rt["kind"])
            )
    return out


SEEDS = [
    CrawlSeed(1, "Казань", "flat", "sale", rooms="all"),
    CrawlSeed(2, "Москва", "flat", "rent_long", rooms=(1, 2)),
    CrawlSeed(3, "Казань", "suburban", "sale", suburban_type="house"),
    CrawlSeed(4, "Москва", "newobject", "sale"),
]


def test_card_dedup_key_matches_widen(spark):
    """stage.card_dedup_key == widen's deal_url_id for every card kind."""
    rows, keys = [], []
    for seed in SEEDS:
        for i, (card, rt) in enumerate(_cards_for(seed)):
            rows.append(("card", "u", None, "h", None, card, None,
                         200, seed.seed_id, 1, i, 0, None, 0, 0))
            keys.append(card_dedup_key(card, rt["kind"]))
    assert rows, "corpus rendered no cards"
    raw = spark.createDataFrame(rows, model.RAW_STAGE_SCHEMA)
    runtimes = {s.seed_id: model.seed_runtime(s) for s in SEEDS}
    wide = columnar.widen(raw, columnar.seed_dim(spark, runtimes))
    got = [
        r["deal_url_id"] if r["deal_url_id"] is not None else "-1"
        for r in wide.orderBy("seed_id", "card_index")
        .select("seed_id", "card_index", "deal_url_id").collect()
    ]
    assert got == keys


def test_card_dedup_key_edge_cases():
    assert card_dedup_key("<div>no links</div>", "flat") == "-1"
    assert card_dedup_key('<a href="https://cian.ru/sale/flat/12345/">x</a>', "flat") == "12345"
    # trailing slash -> penultimate segment (reference helpers.py:27-34)
    assert card_dedup_key('<a href="https://x.cian.ru/">x</a>', "newobject") == "https://x.cian.ru"
    assert card_dedup_key('<a href="/relative/path">x</a>', "newobject") == "-1"
    assert card_dedup_key('<a href="ab/cd">x</a>', "flat") == "-1"

