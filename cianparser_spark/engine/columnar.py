"""Columnar field extraction — the parse stage's JVM-side half.

The fetch kernel (engine/stage.py) emits NARROW rows: page outcomes,
raw card blocks and raw detail pages in a ``content`` string column.
This module turns them into the wide offer schema with **native
Catalyst expressions only** — ``regexp_extract`` / ``when`` cascades /
``split`` — so all field extraction (price P7, rooms P9, url-id P10,
phone D4, author P4, locations P5/P6, spec P8, detail labels D1-D3)
runs inside whole-stage codegen with zero Python per row.  SURVEY.md
§2.10 promised P7/P9/P10/D4 as native expressions; the corpus HTML
grammar lets us compile *all* extractors natively.

Physical shape: the projection is built as LAYERED selects with named
intermediates (_title, _addr, _cj, ...).  Catalyst's CollapseProject
deliberately refuses to merge projections whose producers are
expensive and multi-referenced, so each layer stays a small codegen
method — one flat select here produced a Project too large for janino
(whole-stage codegen fell back to interpreted mode, 3× slower).  All
layers still pipeline inside the SAME Spark stage as the fetch kernel:
no extra pass, no shuffle, no Python.

Semantics contract: each expression reproduces the reference walker's
output (semantics/extract.py — the bs4 port used by the sequential
simulator) on corpus-rendered HTML.  tests/test_columnar.py asserts
field-for-field equality over thousands of rendered cards/details of
every kind, and the engine bit-match suite (tests/test_engine.py)
enforces it end-to-end.  The pure-Python extractors remain the
general-HTML implementation (simulator + fixtures); this module is the
engine's vectorized hot path.

Reference twins, per expression group:
* card url        — cianparser/flat/list.py:47 (first LinkArea href)
* author cascade  — cianparser/helpers.py:37-87
* price           — cianparser/helpers.py:268-295
* spec/rooms      — cianparser/helpers.py:298-332, :10-24
* location flat   — cianparser/helpers.py:121-265
* location suburb — cianparser/helpers.py:90-118
* deal-url-id     — cianparser/helpers.py:27-34
* detail labels   — cianparser/flat/page.py:19-70, suburban/page.py:19-83,
                    newobject/page.py:19-65
* phone           — cianparser/flat/page.py:65-68
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cianparser_spark.engine import model
from cianparser_spark.semantics.extract import STREET_TYPES


def _rx(pat: str, g: int = 1):
    return F.regexp_extract(F.col("content"), pat, g)


def _nz(col):
    """Reference '' sentinel -> internal null (model.sentinel_to_null).
    Only ever applied to cheap refs (layer discipline), never to deep
    subtrees — nullif doubles its operand."""
    return F.nullif(col, F.lit(""))


# ------------------------------------------------------------- seed dim

SEED_DIM_SCHEMA = (
    "seed_id long, kind string, deal string, location string, suburban_type string"
)


def seed_dim(spark: SparkSession, runtimes: dict[int, dict]) -> DataFrame:
    """Per-seed constants as a broadcastable dimension (P3): the frame
    is O(seeds), always the build side of a broadcast hash join."""
    rows = [
        (rt["seed_id"], rt["kind"], rt["deal"], rt["location"], rt["suburban_type"])
        for rt in runtimes.values()
    ]
    return spark.createDataFrame(rows, SEED_DIM_SCHEMA)


# --------------------------------------------------------- layer builders

_AUTHOR_LABELS = (
    ("Агентство недвижимости", "real_estate_agent"),
    ("Собственник", "homeowner"),
    ("Риелтор", "realtor"),
    ("Ук・оф.Представитель", "official_representative"),
    ("Представитель застройщика", "representative_developer"),
    ("Застройщик", "developer"),
)

_GEO = r'data-name="GeoLabel" href="#">'
_STREET_ALT = "|".join(re.escape(st) for st in STREET_TYPES)


def _dval(label: str):
    """Detail/author label span -> the NEXT span's text."""
    return F.regexp_extract(
        F.col("content"), f"<span>{re.escape(label)}</span><span>([^<]*)</span>", 1
    )


def _author_intermediates(is_co: "F.Column") -> dict:
    """Priority cascade over label spans; value = the next span.  The
    reference scans labels in priority order (helpers.py:40-47); a
    presence-keyed when-cascade is equivalent whenever a card carries
    at most one label (always true for rendered cards)."""
    a_type = None
    a_val = None
    for label, atype in _AUTHOR_LABELS:
        present = F.col("content").contains(f"<span>{label}</span>")
        val = _dval(label)
        if atype == "real_estate_agent":
            # value.replace(',', '.').strip() (helpers.py:47)
            val = F.trim(F.translate(val, ",", "."))
        a_type = F.when(present, atype) if a_type is None else a_type.when(present, atype)
        a_val = F.when(present, val) if a_val is None else a_val.when(present, val)
    id_span = _rx(r"<span>([^<]*ID[^<]*)</span>")
    return {
        "_author": F.when(is_co, a_val),
        "_atype": F.when(is_co, a_type),
        "_idspan": F.when(is_co, id_span),
    }


def _detail_value_intermediates(is_detail) -> dict:
    """Per-kind detail label extraction (D1-D3), one intermediate per
    offer column the detail page can set.  Guarded so only the row's
    own kind evaluates.  Values stay raw strings (the reference keeps
    them untyped; typed casting happens at the merge)."""
    k = F.col("kind")
    fl, su, no = k == "flat", k == "suburban", k == "newobject"
    year_contains = _rx(
        r"<span>[^<]*(?:Год постройки|Год сдачи)[^<]*</span><span>([^<]*)</span>")
    ev_flat = _dval("Этаж")
    ev_nob = _dval("Этажность")
    phone = F.regexp_replace(F.regexp_extract(
        F.col("content"), r'(\+7[^"]{0,14})', 1), "[ -]", "")
    builder_span = _rx(
        r"<span>([^<]*Застройщик[^<]*Проектная декларация[^<]*)</span>")
    return {
        "_dv_object_type": F.when(is_detail & fl, _dval("Тип жилья")),
        "_dv_house_material_type": F.when(is_detail & fl, _dval("Тип дома"))
            .when(is_detail & su, _dval("Материал дома"))
            .when(is_detail & no, _dval("Тип дома")),
        "_dv_heating_type": F.when(is_detail & (fl | su), _dval("Отопление")),
        "_dv_finish_type": F.when(is_detail & (fl | no), _dval("Отделка")),
        "_dv_kitchen_meters": F.when(is_detail & (fl | su), _dval("Площадь кухни")),
        "_dv_living_meters": F.when(is_detail & fl, _dval("Жилая площадь"))
            .when(is_detail & su, _dval("Общая площадь")),
        "_dv_year": F.when(is_detail & (fl | su), year_contains)
            .when(is_detail & no, _dval("Срок сдачи")),
        "_dv_floor_pair": F.when(is_detail & fl, ev_flat),
        "_dv_floors_count_s": F.when(is_detail & su, _dval("Этажей в доме")),
        "_dv_land_plot": F.when(is_detail & su, _dval("Участок")),
        "_dv_land_plot_status": F.when(is_detail & su, _dval("Статус участка")),
        "_dv_gas_type": F.when(is_detail & su, _dval("Газ")),
        "_dv_water_supply_type": F.when(is_detail & su, _dval("Водоснабжение")),
        "_dv_sewage_system": F.when(is_detail & su, _dval("Канализация")),
        "_dv_bathroom": F.when(is_detail & su, _dval("Санузел")),
        "_dv_phone": F.when(is_detail & (fl | su), phone),
        "_dv_ceiling_height": F.when(is_detail & no, _dval("Высота потолков")),
        "_dv_class": F.when(is_detail & no, _dval("Класс")),
        "_dv_parking_type": F.when(is_detail & no, _dval("Парковка")),
        "_dv_floors_pair_n": F.when(is_detail & no, ev_nob),
        "_dv_builder_span": F.when(is_detail & no, builder_span),
    }


# the per-kind sets of offer columns a detail page ALWAYS overrides
# (the reference detail extractor emits its full default dict even for
# an empty page — flat/page.py:20-31, suburban/page.py:20-33,
# newobject/page.py:20-29), keyed to the intermediates above
_OVERRIDE = {
    "flat": {
        "object_type": "_dv_object_type",
        "house_material_type": "_dv_house_material_type",
        "heating_type": "_dv_heating_type",
        "finish_type": "_dv_finish_type",
        "kitchen_meters": "_dv_kitchen_meters",
        "living_meters": "_dv_living_meters",
        "year_of_construction": "_dv_year",
        "phone": "_dv_phone",
    },
    "suburban": {
        "house_material_type": "_dv_house_material_type",
        "land_plot": "_dv_land_plot",
        "land_plot_status": "_dv_land_plot_status",
        "heating_type": "_dv_heating_type",
        "gas_type": "_dv_gas_type",
        "water_supply_type": "_dv_water_supply_type",
        "sewage_system": "_dv_sewage_system",
        "bathroom": "_dv_bathroom",
        "living_meters": "_dv_living_meters",
        "year_of_construction": "_dv_year",
        "phone": "_dv_phone",
    },
    "newobject": {
        "year_of_construction": "_dv_year",
        "house_material_type": "_dv_house_material_type",
        "finish_type": "_dv_finish_type",
        "ceiling_height": "_dv_ceiling_height",
        "class": "_dv_class",
        "parking_type": "_dv_parking_type",
    },
}


# ----------------------------------------------------- JVM card split

_RAW_PASSTHROUGH = [
    "fetch_url", "host", "card_json", "status", "seed_id", "page_number",
    "attempt", "partition_id", "wave",
    "kind", "deal", "location", "suburban_type",  # seed-dim columns
]

_SPLIT_PLAN: tuple[list, object, list] | None = None


def _build_split_plan():
    """The JVM half of the card split (P1): an OK list page arrives as
    ONE row carrying the whole HTML (stage.py emits no card rows); this
    layer cuts it at the card-boundary marker with native ``split``,
    applies the kernel's in-wave dedup verdict (``keep_idx`` — surviving
    card ordinals; null = keep all), and EXPLODES into the page-outcome
    row plus one 'card' row per surviving block — all inside the same
    whole-stage-codegen pipeline as the field extraction that follows
    (no shuffle, no Python).  Layered like the widen projection so the
    expensive split is evaluated once per row (CollapseProject keeps
    multi-referenced non-cheap producers in their own project).

    Element convention: ci = -1 → the page row (content dropped — the
    spool never stores page HTML), ci >= 0 → card #ci, ci = -2 → a
    passthrough row (details, failures, pre-split 'card' rows that
    tests or callers feed directly)."""
    from cianparser_spark.engine.stage import CARD_MARKER, CARD_MARKER_NEWOBJECT

    is_okp = (
        (F.col("row_type") == "page") & (F.col("outcome") == "ok")
        & F.col("content").isNotNull()
    )
    marker = (
        F.when(F.col("kind") == "newobject", F.lit(CARD_MARKER_NEWOBJECT))
        .otherwise(F.lit(CARD_MARKER))
    )
    s1 = [
        F.when(is_okp, F.split("content", marker)).alias("_blocks"),
        is_okp.alias("_okp"),
    ]

    arr = F.col("_blocks")
    empty = F.array().cast("array<string>")
    keep_all = F.when(
        F.size(arr) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(arr) - 2),
                    lambda i: i.cast("string")),
    ).otherwise(empty)
    keep = (
        F.when(F.col("keep_idx").isNull(), keep_all)
        .when(F.col("keep_idx") == "", empty)
        .otherwise(F.split("keep_idx", ","))
    )
    page_elem = F.array(F.struct(
        F.lit(-1).cast("int").alias("ci"),
        F.lit(None).cast("string").alias("body"),
    ))
    card_elems = F.transform(keep, lambda i: F.struct(
        i.cast("int").alias("ci"),
        F.element_at(arr, i.cast("int") + 2).alias("body"),
    ))
    passthrough = F.array(F.struct(
        F.lit(-2).cast("int").alias("ci"), F.col("content").alias("body")))
    elems = F.when(F.col("_okp"), F.concat(page_elem, card_elems)) \
        .otherwise(passthrough)

    ci = F.col("_e.ci")
    is_card_elem = F.col("_okp") & (ci >= 0)
    s3 = [
        F.when(is_card_elem, F.lit("card")).otherwise(F.col("row_type")).alias("row_type"),
        F.when(is_card_elem, F.lit(None).cast("string")).otherwise(F.col("outcome")).alias("outcome"),
        F.when(ci == -1, F.lit(None).cast("string")).otherwise(F.col("_e.body")).alias("content"),
        F.when(is_card_elem, ci.cast("long")).otherwise(F.col("card_index")).alias("card_index"),
        F.when(is_card_elem, F.lit(0).cast("long")).otherwise(F.col("attempt")).alias("attempt"),
        F.when(is_card_elem, F.lit(None).cast("long")).otherwise(F.col("n_cards")).alias("n_cards"),
        *[F.col(c) for c in _RAW_PASSTHROUGH if c != "attempt"],
    ]
    return s1, elems, s3


def split_cards(joined: DataFrame) -> DataFrame:
    """Apply the JVM card split to the dim-joined raw frame."""
    global _SPLIT_PLAN
    if _SPLIT_PLAN is None:
        _SPLIT_PLAN = _build_split_plan()
    s1, elems, s3 = _SPLIT_PLAN
    return (
        joined.select("*", *s1)
        .select("row_type", "outcome", "card_index", "n_cards",
                *_RAW_PASSTHROUGH, "_okp", F.explode(elems).alias("_e"))
        .select(*s3)
    )


_PLAN: tuple[list, list, list, list] | None = None


def _build_plan() -> tuple[list, list, list, list]:
    """The four layer select-lists of the widen projection.

    Every expression binds by COLUMN NAME only — no reference to any
    input DataFrame — so the Column trees are built once per process
    and reused across waves.  Building them is ~0.9 s of py4j round
    trips (hundreds of regexp_extract/when nodes); without this cache
    that cost recurred on every wave as pure driver-side serial time,
    which is exactly the kind of fixed overhead that erodes N→4N
    scaling efficiency.

    The extracts deliberately stay ``regexp_extract`` even where a
    locate/substr chain could express them: java.util.regex compiles a
    literal-prefix Boyer-Moore node, so one regex scan beats the 2-3
    full UTF8String copies a substr chain makes per field (measured
    ~1.5× on the widen eval microbenchmark)."""
    kind = F.col("kind")
    is_card = F.col("row_type") == "card"
    is_detail = F.col("row_type") == "detail"
    is_co = is_card & (kind != "newobject")  # card with offer semantics
    is_cf = is_card & (kind == "flat")
    is_cs = is_card & (kind == "suburban")
    is_cn = is_card & (kind == "newobject")

    offer_struct = T.StructType(
        [f for f in model.OFFERS_SCHEMA.fields if f.name in set(model.OFFER_COLS)]
    )

    # ---- layer 1: raw extracts off `content` / card_json ------------
    l1 = {
        "_href": F.when(is_card, _rx(r'href="([^"]*)"')),
        "_title": F.when(
            is_cf, _rx(r'data-name="GeneralInfoSectionRowComponent"><span>([^<]*)</span>')),
        "_pt": F.when(is_co, _rx(r'data-mark="MainPrice">([^<]*)<')),
        "_addr": F.when(
            is_cf, _rx(r'data-name="GeneralInfoSectionRowComponent"><span>([^<]*р-н[^<]*)</span>')),
        "_complex": F.when(is_cf, _rx(r"<span>ЖК «([^»]*)»</span>")),
        "_imgid": F.when(is_card, _rx(r'data-image-id="([^"]*)"')),
        # suburban GeoLabel scan (helpers.py:90-118; labels verbatim,
        # last match wins — corpus renders at most one per category)
        "_g_metro": F.when(is_cs, _rx(_GEO + r"(м\. [^<]*)</a>")),
        "_g_district": F.when(is_cs, _rx(_GEO + r"([^<]*(?:р-н|поселение)[^<]*)</a>")),
        "_g_street": F.when(is_cs, _rx(_GEO + rf"([^<]*(?:{_STREET_ALT})[^<]*)</a>")),
        "_g_house": F.when(
            is_cs, _rx(rf"(?:{_STREET_ALT})[^<]*</a><a {_GEO}([^<]*)</a>")),
        "_n_name": F.when(is_cn, _rx(r'data-mark="Text">([^<]*)<')),
        "_n_addr": F.when(is_cn, _rx(r'data-mark="CellAddressBlock">([^<]*)<')),
        "_cj": F.when(is_detail | (F.col("row_type") == "detail_err"),
                      F.from_json("card_json", offer_struct)),
        **_author_intermediates(is_co),
        **_detail_value_intermediates(is_detail),
    }
    c1 = [e.alias(n) for n, e in l1.items()]

    # ---- layer 2: derived pieces over layer-1 refs -------------------
    addr = F.col("_addr")
    has_addr = addr.isNotNull() & (addr != "") & (F.length(addr) < 250)
    pt = F.col("_pt")
    is_rent = pt.contains("₽/мес")
    digits = lambda marker: F.regexp_replace(  # noqa: E731
        F.regexp_extract(pt, f"^(.*?){marker}", 1), r"\s", ""
    ).cast("long")
    title = F.col("_title")
    l2 = {
        "_url": F.when(
            is_cn, F.concat(F.lit("https://"), F.parse_url("_href", F.lit("HOST")))
        ).otherwise(F.col("_href")),
        # last / second-to-last comma parts of the address row
        "_last": F.when(has_addr, F.substring_index(addr, ",", -1)),
        "_stt": F.when(has_addr, F.substring_index(F.substring_index(addr, ",", -2), ",", 1)),
        "_district_f": F.when(has_addr, F.trim(F.regexp_extract(addr, r"р-н([^,]*)", 1))),
        "_metro_f": F.when(
            has_addr & addr.contains(", м. "),
            F.get(F.split(F.get(F.split(addr, r", м\. "), 1), ","), 0)),
        "_price": F.when(is_co & ~is_rent & pt.contains("₽") & ~pt.contains("млн"),
                         digits("₽")),
        "_ppm": F.when(is_co & is_rent, digits("₽/мес")),
        "_comm": F.when(is_co,
                        F.when(is_rent & pt.contains("%"),
                               F.regexp_extract(pt, r"(\d+)%", 1).cast("long"))
                        .otherwise(F.lit(0))),
        "_meters": F.translate(
            F.regexp_extract(title, r"(\d+(?:,\d+)?) ?м²", 1), ",", ".").cast("double"),
        "_floor_c": F.regexp_extract(title, r"(\d+)/(\d+) этаж", 1).cast("long"),
        "_floors_c": F.regexp_extract(title, r"(\d+)/(\d+) этаж", 2).cast("long"),
        "_rooms": (
            F.when(title.contains("1-комн") | title.contains("Студия"), 1)
            .when(title.contains("2-комн"), 2)
            .when(title.contains("3-комн"), 3)
            .when(title.contains("4-комн"), 4)
            .when(title.contains("5-комн"), 5)),
        "_author_f": F.coalesce(
            F.col("_author"),
            F.when(F.col("_idspan") != "", F.col("_idspan"))),
        "_atype_f": F.coalesce(
            F.col("_atype"),
            F.when(F.col("_idspan") != "", F.lit("unknown"))),
    }
    c2 = [e.alias(n) for n, e in l2.items()]

    # ---- layer 3: street/house cascade + deal-url-id pieces ----------
    last, stt = F.col("_last"), F.col("_stt")

    def street_from(part):
        # STREET_TYPES scan on one comma-part (extract._strip_street):
        # trimmed; 'улица' additionally strips the word itself
        e = None
        for st in STREET_TYPES:
            v = F.trim(part)
            if st == "улица":
                v = F.regexp_replace(v, "улица", "")
            cond = part.contains(st)
            e = F.when(cond, v) if e is None else e.when(cond, v)
        return e

    not_street = None
    for st in STREET_TYPES:
        c = ~F.lower(last).contains(st)
        not_street = c if not_street is None else not_street & c
    is_house = (
        last.rlike(r"\d") & ~F.lower(last).contains("жк")
        & not_street & (F.length(last) < 10)
    )
    l3 = {
        "_street_f": F.coalesce(street_from(last), street_from(stt)),
        "_house_f": F.when(is_house, F.trim(last)),
        "_us": F.when(is_card, F.split("_url", "/")),
    }
    c3 = [e.alias(n) for n, e in l3.items()]

    # ---- layer 4: final wide projection ------------------------------
    us = F.col("_us")
    us_last = F.get(us, F.size(us) - 1)
    us_stl = F.get(us, F.size(us) - 2)
    deal_url_id = (
        F.when(F.length(us_last) > 3, us_last)
        .when(F.length(us_stl) > 3, us_stl)
        .otherwise(F.lit("-1"))
    )
    cj = F.col("_cj")
    is_nob = kind == "newobject"

    card = {c: F.lit(None) for c in model.OFFER_COLS}
    card.update({
        "url": _nz(F.col("_url")),
        "location": F.col("location"),
        "deal_type": F.when(~is_nob, F.col("deal")),
        "accommodation_type": kind,
        "suburban_type": F.when(kind == "suburban", F.col("suburban_type")),
        "deal_url_id": F.when(is_nob, _nz(F.col("_url"))).otherwise(_nz(deal_url_id)),
        "author": F.when(~is_nob, _nz(F.col("_author_f"))),
        "author_type": F.when(~is_nob, _nz(F.col("_atype_f"))),
        "price": F.col("_price"),
        "price_per_month": F.col("_ppm"),
        "commissions": F.col("_comm"),  # 0 is a value; null for newobject
        "floor": F.col("_floor_c"),
        "floors_count": F.col("_floors_c"),
        "rooms_count": F.col("_rooms"),
        "total_meters": F.col("_meters"),
        "district": F.when(kind == "flat", _nz(F.col("_district_f")))
            .when(kind == "suburban", _nz(F.col("_g_district"))),
        "underground": F.when(kind == "flat", _nz(F.col("_metro_f")))
            .when(kind == "suburban", _nz(F.col("_g_metro"))),
        "street": F.when(kind == "flat", _nz(F.col("_street_f")))
            .when(kind == "suburban", _nz(F.col("_g_street"))),
        "house_number": F.when(kind == "flat", _nz(F.col("_house_f")))
            .when(kind == "suburban",
                  F.when(F.col("_g_house").rlike(r"\d"), _nz(F.col("_g_house")))),
        "residential_complex": F.when(kind == "flat", _nz(F.col("_complex"))),
        "name": F.when(is_nob, _nz(F.col("_n_name"))),
        "full_full_location_address": F.when(is_nob, _nz(F.col("_n_addr"))),
        "image_id": _nz(F.col("_imgid")),
    })

    # detail merge: detail overrides card for the kind's override set
    # (reference dict-union precedence, flat/list.py:69); typed casts
    # mirror stage.parse_detail_fields
    fp = F.col("_dv_floor_pair")
    np_ = F.col("_dv_floors_pair_n")
    # _nz before every numeric cast: a robots-blocked detail degrades
    # to content="" (simulator.py:218-226), so the extracts yield ""
    # which ANSI casting rejects — empty must mean null, exactly the
    # reference's missing-label default
    n_single = _nz(F.regexp_extract(np_, r"(\d+)", 1)).cast("long")
    special = {
        "floor": F.when(kind == "flat",
                        _nz(F.regexp_extract(fp, r"(\d+)\D+(\d+)", 1)).cast("long"))
            .otherwise(cj["floor"]),
        "floors_count": F.when(kind == "flat",
                               _nz(F.regexp_extract(fp, r"(\d+)\D+(\d+)", 2)).cast("long"))
            .when(kind == "suburban", _nz(F.col("_dv_floors_count_s")).cast("long"))
            .otherwise(cj["floors_count"]),
        "floors_from": F.when(
            kind == "newobject",
            F.coalesce(_nz(F.regexp_extract(np_, r"(\d+)\D+(\d+)", 1)).cast("long"), n_single)
        ).otherwise(cj["floors_from"]),
        "floors_to": F.when(
            kind == "newobject",
            F.coalesce(_nz(F.regexp_extract(np_, r"(\d+)\D+(\d+)", 2)).cast("long"), n_single)
        ).otherwise(cj["floors_to"]),
        # created-on-demand keys: set only when the label is present
        # (suburban kitchen_meters suburban/page.py:49, newobject
        # builder newobject/page.py:55)
        "kitchen_meters": F.when(kind == "flat", _nz(F.col("_dv_kitchen_meters")))
            .when(kind == "suburban",
                  F.coalesce(_nz(F.col("_dv_kitchen_meters")), cj["kitchen_meters"]))
            .otherwise(cj["kitchen_meters"]),
        "builder": F.when(
            kind == "newobject",
            F.coalesce(
                F.when(F.col("_dv_builder_span") != "",
                       F.get(F.split("_dv_builder_span", r"\."), 0)),
                cj["builder"])
        ).otherwise(cj["builder"]),
    }
    merged = {}
    for c in model.OFFER_COLS:
        if c in special:
            merged[c] = special[c]
            continue
        expr = cj[c]
        for k, ov in _OVERRIDE.items():
            if c in ov and c not in ("floor", "floors_count", "kitchen_meters"):
                expr = F.when(kind == k, _nz(F.col(ov[c]))).otherwise(expr)
        merged[c] = expr

    fields = {f.name: f.dataType for f in model.OFFERS_SCHEMA.fields}
    cols = [F.when(is_detail, "offer").otherwise(F.col("row_type")).alias("row_type"),
            F.col("fetch_url"), F.col("outcome"), F.col("host"), F.col("card_json"),
            F.col("status"), F.col("seed_id"), F.col("page_number"),
            F.col("card_index"), F.col("attempt"), F.col("n_cards"),
            F.col("partition_id"), F.col("wave")]
    for c in model.OFFER_COLS:
        cols.append(
            F.when(is_card, card[c]).when(is_detail, merged[c])
            .cast(fields[c]).alias(c)
        )
    return c1, c2, c3, cols


# Driver-held lookup tables up to this many rows become plan literals
# (``create_map``/``isin``); larger ones are broadcast-joined.  The one
# threshold for seed_dim_cols and the crawler's lookup helper
# (CrawlEngine._lookup); both read it at call time.
LIT_LOOKUP_MAX = 256


def seed_dim_cols(runtimes: dict[int, dict], max_literal: int | None = None) -> dict | None:
    """The per-seed constants (P3) as literal ``create_map`` lookup
    Columns keyed by seed_id, or None when the seed set exceeds the
    plan-literal threshold (``LIT_LOOKUP_MAX`` unless ``max_literal``
    is given).  A broadcast hash join of the O(seeds) dim is the right
    plan at 10^6-seed scale, but its broadcast-exchange build is a
    separate ~0.25 s job EVERY wave — for wave-bound crawls over a
    bounded seed list the literal map costs zero jobs."""
    if len(runtimes) > (LIT_LOOKUP_MAX if max_literal is None else max_literal):
        return None
    out = {}
    for name in ("kind", "deal", "location", "suburban_type"):
        pairs = []
        for sid, rt in runtimes.items():
            if rt[name] is not None:
                pairs.extend((F.lit(sid), F.lit(rt[name])))
        out[name] = (
            F.element_at(F.create_map(*pairs), F.col("seed_id")).cast("string")
            if pairs else F.lit(None).cast("string")
        )
    return out


def widen(raw: DataFrame, dim) -> DataFrame:
    """RAW narrow stage rows → the wide STAGE_SCHEMA: JVM card split +
    explode (split_cards), then layered native projections (see module
    docstring for why layers).  The select lists come from the
    process-wide plan cache; per-wave driver cost is a handful of
    select() calls and one broadcast-join node (or zero when ``dim``
    is a ``seed_dim_cols`` literal dict)."""
    global _PLAN
    if _PLAN is None:
        _PLAN = _build_plan()
    c1, c2, c3, final = _PLAN
    if isinstance(dim, dict):
        src = raw
        for name, col in dim.items():
            src = src.withColumn(name, col)
    else:
        src = raw.join(F.broadcast(dim), "seed_id", "left")
    return (
        split_cards(src)
        .select("*", *c1)
        .select("*", *c2)
        .select("*", *c3)
        .select(*final)
    )
