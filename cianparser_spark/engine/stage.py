"""Fetch kernel — one narrow Arrow-batched pass per wave.

Fetching stays in Python (it is I/O against the web — here the
synthetic resolver); EVERYTHING else left this kernel by round 3.  The
kernel emits a discriminated union of NARROW rows, ONE row per fetched
URL (15 columns, one ``content`` string for the raw HTML):

    row_type='page'       fetch outcome per list URL; an OK page
                          carries the WHOLE page HTML + ``keep_idx``
                          (the in-wave dedup verdict) — the card split
                          itself runs JVM-side (columnar.widen's
                          explode layer emits the 'card' rows)
    row_type='detail'     a fetched detail page (content=page html,
                          card_json=the staged card fields)
    row_type='detail_err' failed detail fetch (for retry/dead-letter)

Field extraction — price, rooms, url-id, author, locations, detail
label maps, phone — runs downstream as native Catalyst expressions
(engine/columnar.py), inside the same Spark stage (split + explode +
projection pipeline onto this kernel's output before any shuffle), so
the per-page Python cost is fetch + captcha/header guard + (in the
map-only strategy) the dedup-key scan: one C-level ``str.split`` on
the card marker plus one anchored regex search per card — card BODIES
are never looped over, copied, or shipped through Arrow as separate
Python rows.  Output assembly is columnar (dict of lists), never
row-dicts.

The per-executor "session" (the synthetic-web resolver here; an HTTP
session pool on a real deployment) is created once per partition in
the generator prologue — the reference's one-session-per-run
(reference: cianparser/cianparser.py:33-34) mapped to Spark's
execution model.
"""

from __future__ import annotations

import json
import re

import pandas as pd

from cianparser_spark.corpus import webgen
from cianparser_spark.engine import model
from cianparser_spark.semantics import extract, urls
from cianparser_spark.semantics.simulator import MAX_ATTEMPTS

_RAW_COLS = [f.name for f in model.RAW_STAGE_SCHEMA.fields]


def parse_detail_fields(page_html: str, rt: dict) -> dict:
    """Detail-page label map → typed offer columns (used by the robots
    empty-page merge and the columnar equivalence tests; the engine hot
    path compiles the same semantics to native expressions)."""
    kind = rt["kind"]
    if kind == "newobject":
        d = extract.detail_newobject(page_html)
    elif kind == "suburban":
        d = extract.detail_suburban(page_html)
    else:
        d = extract.detail_flat(page_html)
    out = {}
    for k, v in d.items():
        col = "class" if k == "class" else k
        if col in model.OFFER_COLS:
            # detail raw values are strings when present, -1 when absent
            # (the reference keeps them untyped; we type long columns)
            if col in ("floor", "floors_count", "floors_from", "floors_to"):
                if isinstance(v, str):
                    v = int(v) if v.lstrip("-").isdigit() else -1
                out[col] = model.sentinel_to_null(v, col)
            else:
                out[col] = None if v in (-1, "") else str(v)
    return out


def has_captcha_fast(html: str) -> bool:
    """Semantics-preserving fast path for extract.has_captcha: the
    reference strips tags from the WHOLE page then searches (123 µs);
    a page whose raw HTML lacks the token cannot contain it in text
    form, so the common case is one C-level substring scan."""
    return "Captcha" in html and extract.has_captcha(html)


_HREF_RE = re.compile(r'href="([^"]*)"')

# the card-boundary markers the corpus grammar renders (reference
# selectors: flat/suburban article[data-name=CardComponent]
# cianparser/flat/list.py:30; newobject div[data-mark=GKCard]
# newobject/list.py:51).  Shared with columnar.widen's JVM split so
# Python and JVM cut pages at the identical boundaries.
CARD_MARKER = '<article data-name="CardComponent">'
CARD_MARKER_NEWOBJECT = '<div data-mark="GKCard">'


def card_marker(kind: str) -> str:
    return CARD_MARKER_NEWOBJECT if kind == "newobject" else CARD_MARKER


def card_dedup_key(card_html: str, kind: str) -> str:
    """The in-wave dedup key for one raw card block, REPLICATING the
    columnar widen's deal_url_id expressions (engine/columnar.py layer
    1 ``_href`` + layer 4 ``deal_url_id``) bit-for-bit: first href in
    the block, then last/penultimate path segment >3 chars, else "-1";
    newobject keys by scheme+host.  tests/test_engine.py's bit-match
    plus a dedicated parity test keep the two implementations locked
    together."""
    m = _HREF_RE.search(card_html)
    href = m.group(1) if m else ""
    if kind == "newobject":
        if "://" in href:
            parts = href.split("/")
            if len(parts) > 2 and parts[2]:
                return "https://" + parts[2]
        return "-1"
    dk = urls.deal_url_id(href)
    return dk if dk else "-1"


def make_fetch_parse(seed_runtimes: dict[int, dict], cfg: webgen.WebConfig,
                     in_wave_dedup: bool = False, respect_robots: bool = True):
    """Build the mapInPandas fetch kernel over frontier rows.

    Input columns: url, kind, host, card_json, seed_id, page_number,
    card_index, attempt, wave.  Output: RAW_STAGE_SCHEMA.

    ``in_wave_dedup=True`` performs the wave's first-wins offer dedup
    INSIDE the kernel with a per-partition seen-set: the caller
    guarantees every page of a seed lands in this partition sorted by
    (seed_id, page_number), so "first key wins in partition scan
    order" equals the reference's first-wins in per-seed crawl order,
    min(page_number, card_index) per key — and the wave then needs NO
    wide shuffle at all (the spool write is map-only).  With
    ``in_wave_dedup=False`` every card is emitted.  Politeness
    bounds a seed's per-wave volume, so the per-partition state is
    budget-bounded by construction.
    """

    def fetch_parse(iterator):
        from pyspark import TaskContext

        from cianparser_spark.semantics import robots as _robots

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        # per-partition session prologue (one resolver per partition)
        resolver = webgen
        seen: set = set()  # (seed_id, dedup_key), partition-scoped
        robots_cache: dict = {}  # host -> parsed rules (simulator.py:108-114)

        def allowed(url: str) -> bool:
            if not respect_robots:
                return True
            host = url.split("/")[2]
            if host not in robots_cache:
                robots_cache[host] = _robots.parse_robots(
                    webgen.robots_txt(host, cfg))
            return _robots.is_allowed(url, robots_cache[host])
        # executor-local proxy pool (S4): resolved once per partition —
        # proxy health is deterministic in cfg, so this equals the
        # reference's probe-before-every-page loop (engine/proxies.py
        # docstring); with no pool configured, fetches go direct
        proxy = None
        if cfg.proxies:
            from cianparser_spark.engine.proxies import ProxyPool

            pool = ProxyPool(cfg.proxies,
                             lambda u, p: webgen.probe_proxy(u, p, cfg))
            proxy = pool.get_available_proxy("https://cian.ru/")

        for pdf in iterator:
            cols: dict[str, list] = {c: [] for c in _RAW_COLS}
            (c_rt, c_fu, c_out, c_host, c_cj, c_ct, c_ki, c_st, c_sid,
             c_pn, c_ci, c_at, c_nc, c_pid, c_wv) = (cols[c] for c in _RAW_COLS)

            def emit(rt_, fu, out_, host_, cj, ct, st, sid, pn, ci, at, nc, wv,
                     ki=None):
                c_rt.append(rt_); c_fu.append(fu); c_out.append(out_)
                c_host.append(host_); c_cj.append(cj); c_ct.append(ct)
                c_ki.append(ki); c_st.append(st); c_sid.append(sid)
                c_pn.append(pn); c_ci.append(ci); c_at.append(at)
                c_nc.append(nc); c_pid.append(pid); c_wv.append(wv)

            n_in = len(pdf)
            for r in pdf.itertuples(index=False):
                rt = seed_runtimes[int(r.seed_id)]
                sid, pn, ci, at, wv = (int(r.seed_id), int(r.page_number),
                                       int(r.card_index), int(r.attempt), int(r.wave))

                if r.kind == "detail":
                    # ---- page-coupled detail GROUP (T2-coupled D1-D3).
                    # The reference couples a detail-fetch failure to
                    # ITS LIST PAGE's retry budget: parse_offer raises,
                    # the page loop catches and burns one of the page's
                    # 3 attempts; on exhaustion the page dies and every
                    # not-yet-fetched card on it is dropped forever
                    # (cianparser.py:71-83 + newobject/page.py:15
                    # raise_for_status).  The honest distributed unit
                    # is therefore the PAGE: this task replays one
                    # page's sequential card walk — budget carried in
                    # from the list fetch's own failures, per-detail-URL
                    # attempt counters carried in from prior owners of
                    # the same key (``a``), duplicate placeholders
                    # pausing the walk when their winner is unresolved
                    # elsewhere.  Card walks of DIFFERENT pages stay
                    # fully parallel.
                    g = json.loads(r.card_json)
                    budget = int(g["b"])
                    cards = g["cards"]
                    local_seen: set = set()
                    pos = 0
                    g_status = "done"
                    blocker = None
                    kstate: list = []  # dropped cards: [key, url, consumed]
                    while pos < len(cards):
                        c = cards[pos]
                        durl = c["u"]
                        if c.get("d"):
                            # duplicate placeholder: winner emitted in
                            # THIS group → reference seen-set skip
                            # (flat/list.py:57-59); winner elsewhere →
                            # pause, the driver resolves against the
                            # committed seen/keystate tables
                            if c["k"] in local_seen:
                                pos += 1
                                continue
                            g_status = "paused"
                            blocker = c["k"]
                            break
                        # robots-blocked detail degrades to enrichment
                        # from an empty page, consuming neither budget
                        # nor attempts (simulator.py:218-226)
                        if not allowed(durl):
                            emit("detail", durl, "ok", durl.split("/")[2],
                                 json.dumps(c["cj"], ensure_ascii=False), "",
                                 200, sid, pn, int(c["i"]), 0, None, wv)
                            local_seen.add(c["k"])
                            pos += 1
                            continue
                        a = int(c.get("a", 0))
                        ok = False
                        while True:
                            st, dhtml = resolver.fetch(durl, attempt=a,
                                                       cfg=cfg, proxy=proxy)
                            a += 1
                            if st == 200:
                                ok = True
                                break
                            emit("detail_err", durl,
                                 "http_429" if st == 429 else "http_error",
                                 durl.split("/")[2], None, None, st,
                                 sid, pn, int(c["i"]), a - 1, None, wv)
                            budget += 1
                            if budget >= MAX_ATTEMPTS:
                                break
                        if ok:
                            emit("detail", durl, "ok", durl.split("/")[2],
                                 json.dumps(c["cj"], ensure_ascii=False), dhtml,
                                 200, sid, pn, int(c["i"]), a - 1, None, wv)
                            local_seen.add(c["k"])
                            pos += 1
                            continue
                        # budget exhausted: the page dies; this card and
                        # every later NON-duplicate card is dropped, its
                        # key resurrectable with the consumed counter
                        g_status = "dead"
                        kstate.append([c["k"], durl, a])
                        for c2 in cards[pos + 1:]:
                            if not c2.get("d"):
                                kstate.append([c2["k"], c2["u"],
                                               int(c2.get("a", 0))])
                        break
                    if g_status != "done":
                        marker = {"b": budget, "pos": pos, "blocker": blocker,
                                  "ks": kstate,
                                  "rest": cards[pos:] if g_status == "paused" else None}
                        emit("group_state", r.url, g_status, r.host,
                             json.dumps(marker, ensure_ascii=False), None,
                             0, sid, pn, ci, at, None, wv)
                    continue

                status, html = resolver.fetch(r.url, attempt=at, cfg=cfg, proxy=proxy)
                # list page
                if status != 200:
                    out = "http_429" if status == 429 else "http_error"
                    emit("page", r.url, out, r.host, None, None,
                         status, sid, pn, ci, at, None, wv)
                    continue
                if has_captcha_fast(html):
                    emit("page", r.url, "captcha", r.host, None, None,
                         status, sid, pn, ci, at, None, wv)
                    continue
                if rt["kind"] != "newobject" and not extract.has_header(html):
                    emit("page", r.url, "noheader", r.host, None, None,
                         status, sid, pn, ci, at, None, wv)
                    continue
                # OK list page: one row, whole HTML; the card split runs
                # JVM-side (columnar.widen).  In-wave first-wins dedup
                # stays HERE (it needs the partition's cross-page
                # seen-set), but touches only the per-card dedup key —
                # one C-level str.split + an anchored regex search per
                # card — and records the verdict as the keep_idx mask.
                keep_s = None
                pieces = html.split(card_marker(rt["kind"]))
                n_cards = len(pieces) - 1
                # detail-mode seeds keep ALL occurrences: the reference
                # adds a key to its seen set only AFTER the detail
                # fetch succeeds (flat/list.py:57 + :66), so losers
                # must survive staging as resurrection candidates —
                # winner/placeholder ranking happens in the group
                # builder (crawler._build_detail_groups)
                if in_wave_dedup and not rt["with_extra"]:
                    keep = []
                    for j in range(n_cards):
                        k = (sid, card_dedup_key(pieces[j + 1], rt["kind"]))
                        if k in seen:
                            continue
                        seen.add(k)
                        keep.append(j)
                    keep_s = ",".join(map(str, keep))
                emit("page", r.url, "ok", r.host, None, html,
                     status, sid, pn, ci, at, n_cards, wv, ki=keep_s)

            pdf_out = pd.DataFrame(cols, columns=_RAW_COLS)
            pdf_out.attrs["input_rows"] = n_in
            yield pdf_out

    return fetch_parse
