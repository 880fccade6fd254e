"""URL canonicalization — the frontier seen-set's key function.

At a 10^10-URL frontier the seen-set dedups on the HASH OF THE
CANONICALIZED URL (north-star wording: "partitioned Bloom-filter URL-
seen set keyed by canonicalized cian.ru URL hash"): the same logical
page arrives spelled many ways (scheme/host case, default ports,
duplicate slashes, query-parameter order, fragments), and every
variant that slips past canonicalization is a wasted fetch *and* a
duplicate row downstream.  The reference implicitly canonicalizes by
extracting ``deal_url_id`` from offer URLs (helpers.py:27-34 — the
engine's per-seed seen key); this module is the general-URL form the
frontier needs for arbitrary discovered links.

Rules (deterministic, documented, order matters):

1. scheme and host lowercase;
2. default port stripped (``http:80``, ``https:443``), any other
   explicit port kept;
3. fragment removed;
4. query parameters sorted lexicographically as whole ``k=v`` strings
   (duplicates preserved, percent-encoding left verbatim — decoding is
   NOT canonicalization, it changes the key space); empty query drops
   the ``?``;
5. runs of ``/`` in the path collapse to one; empty path becomes
   ``/``.

Two implementations, pinned equal by ``test_canonical_url_expr``:

* ``canonicalize_url``   — pure-Python reference (urllib.parse), used
  by the DuckDB oracle's truth dump;
* ``canonical_url_expr`` — native Catalyst expression (``parse_url`` +
  regexp + ``array_sort``), whole-stage codegen, zero Python per row —
  the form the frontier pipeline uses at scale;
* ``canonical_url_hash`` — ``xxhash64`` of the canonical form: the
  64-bit seen-table key.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEFAULT_PORTS = {"http": 80, "https": 443}


def canonicalize_url(url: str) -> str:
    """Pure-Python reference of the canonicalization semantics."""
    from urllib.parse import urlsplit

    s = urlsplit(url)
    scheme = s.scheme.lower()
    host = (s.hostname or "").lower()
    port = s.port
    if port is None or port == _DEFAULT_PORTS.get(scheme):
        netloc = host
    else:
        netloc = f"{host}:{port}"
    path = re.sub(r"/{2,}", "/", s.path) or "/"
    params = sorted(p for p in s.query.split("&") if p)
    query = "&".join(params)
    return f"{scheme}://{netloc}{path}" + (f"?{query}" if query else "")


def canonical_url_expr(col) -> Column:
    """Canonical URL as a native Catalyst expression (no Python)."""
    u = F.col(col) if isinstance(col, str) else col
    proto = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    auth = F.parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    default_port = (
        F.when(proto == "http", "80").when(proto == "https", "443").otherwise(F.lit(""))
    )
    netloc = F.when(
        (port == "") | (port == default_port), host
    ).otherwise(F.concat(host, F.lit(":"), port))
    path0 = F.parse_url(u, F.lit("PATH"))
    path = F.when(
        path0.isNull() | (path0 == ""), F.lit("/")
    ).otherwise(F.regexp_replace(path0, "/{2,}", "/"))
    q0 = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    parts = F.filter(F.split(q0, "&"), lambda x: x != F.lit(""))
    query = F.array_join(F.array_sort(parts), "&")
    return F.concat(
        proto, F.lit("://"), netloc, path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )


def canonical_url_hash(col) -> Column:
    """64-bit seen-set key: xxhash64 of the canonical URL (fixed
    width, shuffle-cheap at frontier scale)."""
    return F.xxhash64(canonical_url_expr(col))


# ------------------------------------------------------- contract query

def messy_url_expr(key_col: str = "o_orderkey") -> Column:
    """Deterministic 'messy' URL synthesized from an integer key — four
    spelling families covering every canonicalization rule.  The DuckDB
    oracle's truth dump builds the IDENTICAL strings in pure Python
    (truth.ensure_urlnorm_truth) and canonicalizes with
    ``canonicalize_url``, so the two implementations are compared on
    the same inputs end-to-end."""
    k = F.col(key_col).cast("string")
    m = F.col(key_col) % 4
    return (
        F.when(m == 0, F.concat(
            F.lit("HTTP://WWW.Cian.RU:80//cat.php?p="), k,
            F.lit("&deal_type=sale&object_type%5B0%5D=1#list")))
        .when(m == 1, F.concat(
            F.lit("https://cian.ru:443/cat.php/?deal_type=rent&p="), k))
        .when(m == 2, F.concat(
            F.lit("https://CIAN.ru//kupit-kvartiru//moskva/?z=9&a=2&p="), k,
            F.lit("#frag")))
        .otherwise(F.concat(F.lit("http://cian.ru:8080/cat.php?p="), k))
    )


def messy_url_py(key: int) -> str:
    """Pure-Python twin of ``messy_url_expr`` (truth-dump side)."""
    m = key % 4
    if m == 0:
        return (f"HTTP://WWW.Cian.RU:80//cat.php?p={key}"
                "&deal_type=sale&object_type%5B0%5D=1#list")
    if m == 1:
        return f"https://cian.ru:443/cat.php/?deal_type=rent&p={key}"
    if m == 2:
        return f"https://CIAN.ru//kupit-kvartiru//moskva/?z=9&a=2&p={key}#frag"
    return f"http://cian.ru:8080/cat.php?p={key}"
