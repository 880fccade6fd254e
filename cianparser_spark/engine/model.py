"""Engine data model: table schemas, seed specs, sentinel conventions.

Schema decision (SURVEY.md §1.3/§1.4): the reference emits dynamic
dicts with ``-1`` / ``""`` sentinels for missing values
(reference: README.md:308-310); internally we use ONE fixed nullable
superset schema with *null* for missing — so ``avg``/``count`` are
correct — and apply the sentinel fill + per-deal-type projection only
at the compatibility sink (``to_reference_rows``).
"""

from __future__ import annotations

import json
from dataclasses import asdict

from pyspark.sql import types as T

from cianparser_spark.semantics.simulator import CrawlSeed
from cianparser_spark.semantics import extract, urls

# ---------------------------------------------------------------- columns

OFFER_STRING_COLS = [
    "author", "author_type", "url", "location", "deal_type",
    "accommodation_type", "suburban_type", "district", "street",
    "house_number", "underground", "residential_complex", "name",
    "full_full_location_address", "object_type", "house_material_type",
    "heating_type", "finish_type", "living_meters", "kitchen_meters",
    "year_of_construction", "phone", "land_plot", "land_plot_status",
    "gas_type", "water_supply_type", "sewage_system", "bathroom",
    "ceiling_height", "class", "parking_type", "builder",
    "deal_url_id", "image_id",
]
OFFER_LONG_COLS = [
    "floor", "floors_count", "rooms_count", "commissions",
    "floors_from", "floors_to", "price", "price_per_month",
]
OFFER_DOUBLE_COLS = ["total_meters"]
OFFER_COLS = OFFER_STRING_COLS + OFFER_LONG_COLS + OFFER_DOUBLE_COLS

ORDER_COLS = ["seed_id", "page_number", "card_index"]  # crawl order key


def _fields(strings=(), longs=(), doubles=(), bools=()):
    fs = [T.StructField(c, T.StringType()) for c in strings]
    fs += [T.StructField(c, T.LongType()) for c in longs]
    fs += [T.StructField(c, T.DoubleType()) for c in doubles]
    fs += [T.StructField(c, T.BooleanType()) for c in bools]
    return fs


OFFERS_SCHEMA = T.StructType(
    _fields(strings=OFFER_STRING_COLS, longs=OFFER_LONG_COLS + ["seed_id", "wave", "page_number", "card_index"],
            doubles=OFFER_DOUBLE_COLS)
)

FRONTIER_SCHEMA = T.StructType(
    _fields(
        strings=["url", "kind", "host", "card_json"],
        longs=["seed_id", "page_number", "card_index", "attempt", "wave"],
    )
)

SEEN_SCHEMA = T.StructType(
    _fields(strings=["deal_url_id"], longs=["seed_id", "wave"])
)

STAGED_SCHEMA = T.StructType(
    _fields(strings=OFFER_STRING_COLS, longs=OFFER_LONG_COLS + ["seed_id", "page_number", "card_index", "wave"],
            doubles=OFFER_DOUBLE_COLS)
)

METRICS_SCHEMA = T.StructType(
    _fields(
        strings=["host"],
        longs=["wave", "pages_fetched", "cards_parsed", "offers_emitted",
               "n_429", "n_errors", "details_fetched"],
        doubles=["avg_price"],
        bools=["captcha"],
    )
)

LINEAGE_SCHEMA = T.StructType(
    _fields(longs=["wave", "partition_id", "input_rows", "output_rows"])
)

DEAD_SCHEMA = T.StructType(
    _fields(strings=["url", "kind"], longs=["seed_id", "page_number", "attempt", "wave"])
)

STOPPED_SCHEMA = T.StructType(_fields(longs=["seed_id", "captcha_page"]))

# Detail-ledger key state (page-coupled detail scheduler, crawler.py):
# one row per dedup key whose emission is UNRESOLVED — ``inflight``
# (its winning occurrence is inside a dispatched/paused detail group)
# or ``dead`` (winner's page died without emitting; the EARLIEST
# remaining occurrence — a duplicate parked in a pending detail
# group's frontier row or a paused rest, else the next
# accepted card — resurrects the fetch with the key's detail-URL
# attempt counter continuing at ``consumed``, replicating the
# reference's session-global per-URL retry counter, cianparser.py:71-83
# + the result_set add AFTER the detail fetch, flat/list.py:57-69).
# Emitted keys live in ``seen``; resolved rows leave this table, so
# its size is bounded by the fault rate, not the crawl size.
KEYSTATE_SCHEMA = T.StructType(
    _fields(strings=["key", "url", "state"],
            longs=["seed_id", "consumed", "ver"])
)

# Paused detail groups: a group task stops at the first card whose
# emission it cannot decide locally (a duplicate whose winner is in
# another, unresolved group) and parks its remaining walk here —
# budget used so far, the blocking key, and the remaining ordered
# cards as JSON.  Driver-resolved and re-dispatched when the blocker
# reaches ``seen`` (skip) or ``keystate.dead`` (resurrect).
PAUSED_SCHEMA = T.StructType(
    _fields(strings=["blocker", "rest"],
            longs=["seed_id", "page_number", "budget", "ver"])
)

# raw fetch-kernel output = discriminated union of page outcomes and
# raw detail pages; ``content`` carries the HTML.  An OK list page is
# ONE row carrying the whole page HTML — the card-boundary split runs
# JVM-side (columnar.widen's explode layer), so Python never loops over
# or ships card blocks.  ``keep_idx`` is the kernel's in-wave dedup
# verdict: a comma-joined list of surviving 0-based card ordinals
# ("" = all duplicate, null = keep all / no in-kernel dedup).  Field
# extraction happens AFTER this, JVM-side (engine/columnar.py) — the
# kernel stays narrow so Python never assembles wide rows.
RAW_STAGE_SCHEMA = T.StructType(
    _fields(
        strings=["row_type", "fetch_url", "outcome", "host", "card_json",
                 "content", "keep_idx"],
        longs=["status", "seed_id", "page_number", "card_index", "attempt",
               "n_cards", "partition_id", "wave"],
    )
)

# stage output = discriminated union: page outcomes + parsed cards +
# merged detail offers; one schema so ONE mapInPandas pass covers all.
STAGE_EXTRA = T.StructType(
    _fields(
        strings=["row_type", "fetch_url", "outcome", "host", "card_json"],
        longs=["status", "seed_id", "page_number", "card_index", "attempt",
               "n_cards", "partition_id", "wave"],
    )
)
STAGE_SCHEMA = T.StructType(
    list(STAGE_EXTRA.fields)
    + _fields(strings=OFFER_STRING_COLS, longs=OFFER_LONG_COLS, doubles=OFFER_DOUBLE_COLS)
)

TABLE_SCHEMAS = {
    "offers": OFFERS_SCHEMA,
    "frontier": FRONTIER_SCHEMA,
    "seen": SEEN_SCHEMA,
    "staged": STAGED_SCHEMA,
    "metrics": METRICS_SCHEMA,
    "lineage": LINEAGE_SCHEMA,
    "dead": DEAD_SCHEMA,
    "stopped": STOPPED_SCHEMA,
    "keystate": KEYSTATE_SCHEMA,
    "paused": PAUSED_SCHEMA,
}
REPLACE_TABLES = frozenset({"staged", "stopped", "keystate", "paused"})


# ------------------------------------------------------------ seed helpers

def seed_to_json(seed: CrawlSeed) -> str:
    d = asdict(seed)
    if isinstance(d.get("rooms"), tuple):
        d["rooms"] = list(d["rooms"])
    return json.dumps(d, ensure_ascii=False)


def seed_from_json(s: str) -> CrawlSeed:
    d = json.loads(s)
    if isinstance(d.get("rooms"), list):
        d["rooms"] = tuple(d["rooms"])
    return CrawlSeed(**d)


def seed_runtime(seed: CrawlSeed) -> dict:
    """Derived per-seed attributes the fetch/parse stage needs."""
    deal, rent_period = urls.rewrite_deal_type(seed.deal_type)
    start, end = seed.pages()
    return {
        "seed_id": seed.seed_id,
        "location": seed.location,
        "kind": seed.accommodation_type,
        "deal": deal,
        "deal_type_user": seed.deal_type,
        "is_sale": deal == "sale",
        "with_extra": bool(seed.with_extra_data) or seed.accommodation_type == "newobject",
        "suburban_type": seed.suburban_type,
        "start_page": start,
        "end_page": end,
        "template": seed.url_template(),
    }


# ------------------------------------------------------- sentinel compat

_NULLABLE_MINUS1_LONGS = {
    "floor", "floors_count", "rooms_count", "price", "price_per_month",
    "floors_from", "floors_to",
}


def sentinel_to_null(value, col: str):
    """Reference sentinel -> internal null at ingestion."""
    if value is None:
        return None
    if col in _NULLABLE_MINUS1_LONGS and value == -1:
        return None
    if col == "total_meters" and value == -1:
        return None
    if col in OFFER_STRING_COLS and value in ("", -1):
        return None
    return value


def projection_drop_set(deal_type_user: str) -> frozenset:
    """Per-deal-type columns the reference deletes
    (reference: cianparser/base_list.py:58-86)."""
    if deal_type_user == "sale":
        return extract.FIELDS_RENT_LONG | extract.FIELDS_RENT_SHORT
    if deal_type_user == "rent_long":
        return extract.FIELDS_RENT_SHORT | extract.FIELDS_SALE
    if deal_type_user == "rent_short":
        return extract.FIELDS_RENT_LONG | extract.FIELDS_SALE
    return frozenset()
