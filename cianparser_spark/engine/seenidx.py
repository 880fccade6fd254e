"""Sorted-key spool index — the EXACT tier of the frontier seen set.

North-rule component (VERDICT r04 next-round ask #1): the Bloom
sidecar bounds the *probe* side of the membership wave, but the exact
confirmation of the maybe-seen sliver was still a ``left_anti`` join
that rescanned and reshuffled the full ``seen`` table every wave —
O(seen) work per wave, the last 10^10 scale-killer shape in the
frontier path (BENCH/frontier_scale_r4.json: ``member_s`` grew
73→132 s as the seen set went 25M→100M).

This module replaces that leg with a disk-resident sorted-run index,
bucketed by the SAME routing hash the Bloom sidecar uses:

    root/bucket=<b>/run-<tag>.keys     raw little-endian int64, sorted

* **Build** cost is ∝ the wave's delta: one ``applyInPandas`` job
  groups the new keys by bucket, sorts each group, and writes one
  immutable run file per bucket EXECUTOR-side (the driver schedules
  the job and never sees a key).
* **Probe** cost is ∝ the probe batch, NOT the seen set: each run
  file is ``np.memmap``-ed (no read-ahead of the whole file) and
  probed with ``np.searchsorted`` — a binary search touches
  O(log run_size) PAGES per key, so a 10M-row maybe-seen sliver costs
  ~10M × log(seen/bucket) page-cache hits however large the seen set
  grows.  No shuffle, no hash-relation build, no O(seen) scan.
* **Runs accumulate** one per wave per bucket; ``compact`` k-way
  merges a bucket's runs back into one (a distributed job over
  buckets), keeping the per-probe run count bounded on long crawls.

On a real cluster the run files live on shared storage (the same
place Iceberg data files live) and each executor memmaps them through
the OS page cache — the per-process cache below is the local-mode
stand-in for that.  Exactness: the index stores the seen KEYS
themselves (the canonical-URL xxhash64 the north rule keys the seen
set by — BASELINE.json input_hint), so a probe hit/miss is exactly
the ``left_anti`` answer for that key column.

Reference parity: the reference's seen set is an in-memory Python
``set`` per run (cianparser/base_list.py:24, flat/list.py:57-68) —
this is that set's second (exact) tier at 10^10, beside the Bloom
first tier (engine/bloom.py).
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd

from cianparser_spark.engine.bloom import mix64

# Bucket routing for 64-bit keys — MUST match the Bloom sidecar's
# routing for the same key family (bench_frontier._bucket_of): build
# and probe sharing one routing function is correctness-critical
# (a mismatch sends probes to a bucket that never saw the key and
# turns membership hits into false MISSES, i.e. duplicate fetches).
BUCKET_SEED = 0xA24BAED4963EE407


def bucket_i64(arr: np.ndarray, n_buckets: int) -> np.ndarray:
    return mix64(arr, BUCKET_SEED) % np.uint64(n_buckets)


def write_runs(keys_df, root: str, n_buckets: int, tag: str,
               key_col: str = "key") -> int:
    """One sorted run file per bucket from this delta's keys,
    built and written executor-side.  Returns total keys written.

    Run files are immutable: each is written to a temp name and
    ``os.replace``-d into place, so a crashed job leaves only ignorable
    temp files and a re-run (new ``tag``) never collides.  ``groupBy``
    guarantees one writer per bucket per job.
    """
    from pyspark.sql import functions as F

    nb = int(n_buckets)
    os.makedirs(root, exist_ok=True)

    @F.pandas_udf("long")
    def bucket_of(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=np.int64)
        return pd.Series(bucket_i64(arr, nb).astype("int64"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bucket"].iloc[0])
        arr = np.sort(pdf["_k"].to_numpy(dtype=np.int64))
        d = os.path.join(root, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        arr.astype("<i8").tofile(tmp)
        os.replace(tmp, os.path.join(d, f"run-{tag}.keys"))
        return pd.DataFrame({"bucket": [b], "n": [len(arr)]})

    out = (
        keys_df.select(F.col(key_col).cast("long").alias("_k"))
        .withColumn("bucket", bucket_of(F.col("_k")))
        .groupBy("bucket")
        .applyInPandas(build, "bucket long, n long")
        .groupBy().agg(F.sum("n").alias("n")).collect()
    )
    return int(out[0]["n"] or 0) if out else 0


# ---------------------------------------------------------------- probe side

# Per-process caches (executor-side).  Run files are immutable, so the
# memmap cache is keyed by absolute path and never invalidated; the
# directory-listing cache is keyed by (roots, gen) — the closure bumps
# ``gen`` when new runs were committed, which re-lists the bucket dirs
# (cheap) without touching the memmaps of files already known.
_MMAP_CACHE: dict[str, np.ndarray] = {}
_LISTING_CACHE: dict[tuple, dict[int, list[str]]] = {}


def _rotate_listing(kind: str, key: tuple, runs: dict) -> None:
    """Keep one listing generation per run KIND (int64 '.keys' vs
    string '.skeys' — a mixed workload alternating both must not
    thrash the other kind's cache), and evict memmaps whose run file
    is gone (compaction unlinks merged inputs; a cached memmap would
    otherwise pin the inode — and its disk space — for the process
    lifetime)."""
    for k in [k for k in _LISTING_CACHE if k[0] == kind]:
        del _LISTING_CACHE[k]
    _LISTING_CACHE[key] = runs
    for p in [p for p in _MMAP_CACHE if not os.path.exists(p)]:
        del _MMAP_CACHE[p]


def _list_runs(kind: str, ext: str, key: tuple,
               roots: tuple[str, ...]) -> dict[int, list[str]]:
    """Shared bucket-dir walk for both run kinds (cache-rotated per
    kind; run files are immutable so only the listing re-runs)."""
    hit = _LISTING_CACHE.get(key)
    if hit is None:
        runs: dict[int, list[str]] = {}
        for root in roots:
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                if not d.startswith("bucket="):
                    continue
                b = int(d.split("=", 1)[1])
                full = os.path.join(root, d)
                for f in sorted(os.listdir(full)):
                    # '.skeys' also ends with '.keys' — the int64 walk
                    # must not pick up string runs sharing a root
                    if f.startswith("run-") and f.endswith(ext) and not (
                            ext == ".keys" and f.endswith(".skeys")):
                        runs.setdefault(b, []).append(os.path.join(full, f))
        _rotate_listing(kind, key, runs)
        hit = runs
    return hit


def _bucket_runs(roots: tuple[str, ...], gen: int) -> dict[int, list[str]]:
    return _list_runs("i64", ".keys", ("i64", roots, gen), roots)


def _mmap(path: str) -> np.ndarray:
    m = _MMAP_CACHE.get(path)
    if m is None:
        if os.path.getsize(path) == 0:
            m = np.empty(0, dtype="<i8")
        else:
            m = np.memmap(path, dtype="<i8", mode="r")
        _MMAP_CACHE[path] = m
    return m


def probe_runs(roots: tuple[str, ...], gen: int, arr: np.ndarray,
               bucket: np.ndarray) -> np.ndarray:
    """Exact membership of int64 ``arr`` (with precomputed bucket
    routing) against the index — bool 'seen' array.  Vectorized
    searchsorted per (bucket, run); touches O(n log run) pages."""
    runs = _bucket_runs(roots, gen)
    out = np.zeros(arr.size, dtype=bool)
    for b, paths in runs.items():
        mask = bucket == b
        if not mask.any():
            continue
        keys = arr[mask]
        hit = np.zeros(keys.size, dtype=bool)
        for p in paths:
            run = _mmap(p)
            if run.size == 0:
                continue
            pending = ~hit
            if not pending.any():
                break
            k = keys[pending]
            idx = np.searchsorted(run, k)
            idx_c = np.minimum(idx, run.size - 1)
            hit[pending] = (idx < run.size) & (np.asarray(run[idx_c]) == k)
        out[mask] = hit
    return out


def seen_udf(roots: tuple[str, ...], gen: int, n_buckets: int):
    """Exact-membership probe as a pandas UDF — True = key IS in the
    seen index.  The closure carries only (paths, gen, n_buckets);
    filters and memmaps load once per executor process."""
    from pyspark.sql import functions as F

    nb = int(n_buckets)
    rt = tuple(roots)
    g = int(gen)

    @F.pandas_udf("boolean")
    def seen(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=np.int64)
        return pd.Series(probe_runs(rt, g, arr, bucket_i64(arr, nb)))

    return seen


def fresh_udf(bloom_dirs: tuple[str, ...], roots: tuple[str, ...], gen: int,
              n_buckets: int):
    """The full membership wave in ONE map-only pass — True = fresh
    (not in the seen set).  Tier 1: per-bucket Bloom prefilter (spool
    blobs, bloom.load_spool_filters); tier 2: exact sorted-run probe
    for the maybe-seen sliver only.  Replaces the per-wave full-table
    ``left_anti`` join: cost is ∝ probe size (+ log-factor page
    touches), flat in seen-set size.  Both tiers share one bucket
    routing; the Bloom tier only *skips* memmap touches — exactness
    rides entirely on the sorted-run tier, so a saturated or missing
    Bloom degrades to pure exact probing, never to wrong answers."""
    from pyspark.sql import functions as F

    from cianparser_spark.engine.bloom import load_spool_filters

    nb = int(n_buckets)
    rt = tuple(roots)
    bd = tuple(bloom_dirs)
    g = int(gen)

    @F.pandas_udf("boolean")
    def fresh(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=np.int64)
        bucket = bucket_i64(arr, nb)
        if bd:
            filters = load_spool_filters(bd)
            maybe = np.zeros(arr.size, dtype=bool)
            for b, f in filters.items():
                mask = bucket == b
                if mask.any():
                    maybe[mask] = f.contains_i64(arr[mask])
        else:
            maybe = np.ones(arr.size, dtype=bool)
        seen = np.zeros(arr.size, dtype=bool)
        if maybe.any():
            seen[maybe] = probe_runs(rt, g, arr[maybe], bucket[maybe])
        return pd.Series(~seen)

    return fresh


# ---------------------------------------------------------------- compaction

def compact(spark, root: str, n_buckets: int, min_runs: int = 8) -> int:
    """K-way merge each bucket's runs back into one sorted run —
    a distributed job over buckets (one task per bucket, executor-side
    merge + atomic swap).  Returns the number of buckets rewritten.

    Long crawls accumulate one run per wave per bucket; probe cost has
    a per-run searchsorted term, so periodic compaction (like Iceberg
    file compaction, engine/store.py ``compact``) keeps it bounded.
    Buckets below ``min_runs`` are left alone.  The swap removes the
    merged inputs only after the replacement run is in place; a
    concurrent reader holding old memmaps still reads consistent data
    (POSIX unlink keeps the mapping alive) — the next listing
    generation picks up the compacted layout.
    """
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    todo = []
    for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        if not d.startswith("bucket="):
            continue
        full = os.path.join(root, d)
        runs = [f for f in os.listdir(full)
                if f.startswith("run-") and f.endswith(".keys")]
        if len(runs) >= min_runs:
            todo.append(full)
    if not todo:
        return 0

    def merge(iterator):
        for pdf in iterator:
            n = 0
            for full in pdf["dir"]:
                runs = sorted(
                    os.path.join(full, f) for f in os.listdir(full)
                    if f.startswith("run-") and f.endswith(".keys"))
                parts = [np.fromfile(p, dtype="<i8") for p in runs]
                merged = np.sort(np.concatenate(parts)) if parts else \
                    np.empty(0, dtype="<i8")
                # a UNIQUE name per compaction: the memmap cache is
                # keyed by path, so reusing one name would leave a
                # warm process probing the previous compaction's inode
                uid = uuid.uuid4().hex
                tmp = os.path.join(full, f".tmp-{uid}")
                merged.astype("<i8").tofile(tmp)
                os.replace(tmp, os.path.join(full, f"run-compacted-{uid}.keys"))
                for p in runs:
                    os.unlink(p)
                n += 1
            yield pd.DataFrame({"n": [n]})

    df = spark.createDataFrame([(d,) for d in todo], "dir string") \
        .repartition(len(todo))
    res = df.mapInPandas(merge, "n long").groupBy().sum("n").collect()
    return int(res[0][0] or 0)


# ------------------------------------------------- string-keyed runs (crawl)

# The crawl engine's seen key is the STRING "seed_id|deal_url_id"
# (first-wins identity, reference flat/list.py:57-68), routed to Bloom
# buckets with pandas ``hash_array`` (crawler._bucket_udf).  The exact
# tier for that key family stores each bucket's keys as a sorted
# FIXED-WIDTH bytes array (numpy 'S<w>', w = the run's longest key):
# fully exact (no hash anywhere in the stored identity — padding is
# insignificant in numpy bytes compares and a candidate longer than w
# cannot equal any stored key), memmap-probed with searchsorted like
# the int64 runs, and vectorized end to end.
#
# File format: run-<tag>.skeys = 16-byte header (int64 width, int64
# count) + count*width bytes of sorted keys.

_STR_HASH_KEY = "0123456789abcdef"


def bucket_str(keys: np.ndarray, n_buckets: int) -> np.ndarray:
    return pd.util.hash_array(keys, hash_key=_STR_HASH_KEY) \
        % np.uint64(n_buckets)


def write_str_runs(keys_df, root: str, n_buckets: int, tag: str,
                   key_col: str = "key") -> int:
    """One sorted fixed-width string run per bucket from this delta's
    keys, written executor-side (cost ∝ delta).  Returns keys written.
    Task retries are safe: the final ``os.replace`` is atomic and the
    content is deterministic for a given group."""
    from pyspark.sql import functions as F

    nb = int(n_buckets)
    os.makedirs(root, exist_ok=True)

    @F.pandas_udf("long")
    def bucket_of(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=object)
        return pd.Series(bucket_str(arr, nb).astype("int64"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bucket"].iloc[0])
        enc = pdf["_k"].str.encode("utf-8")
        w = max(1, int(enc.str.len().max()))
        arr = np.sort(np.array(enc.tolist(), dtype=f"S{w}"))
        d = os.path.join(root, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as fh:
            fh.write(np.array([w, len(arr)], np.int64).tobytes())
            fh.write(arr.tobytes())
        os.replace(tmp, os.path.join(d, f"run-{tag}.skeys"))
        return pd.DataFrame({"bucket": [b], "n": [len(arr)]})

    out = (
        keys_df.select(F.col(key_col).cast("string").alias("_k"))
        .withColumn("bucket", bucket_of(F.col("_k")))
        .groupBy("bucket")
        .applyInPandas(build, "bucket long, n long")
        .groupBy().agg(F.sum("n").alias("n")).collect()
    )
    return int(out[0]["n"] or 0) if out else 0


def _str_bucket_runs(roots: tuple[str, ...]) -> dict[int, list[str]]:
    """Listing cache for .skeys runs — keyed by the roots tuple alone:
    the committed-directory list IS the generation (append-only tables
    grow a new root per wave), and run files are immutable."""
    return _list_runs("str", ".skeys", ("str", roots), roots)


def _str_mmap(path: str) -> tuple[int, np.ndarray]:
    m = _MMAP_CACHE.get(path)
    if m is None:
        with open(path, "rb") as fh:
            w, n = np.frombuffer(fh.read(16), np.int64)
        w, n = int(w), int(n)
        if n == 0:
            m = (w, np.empty(0, dtype=f"S{max(w, 1)}"))
        else:
            m = (w, np.memmap(path, dtype=f"S{w}", mode="r", offset=16))
        _MMAP_CACHE[path] = m
    return m


def probe_str_runs(roots: tuple[str, ...], keys: np.ndarray,
                   n_buckets: int) -> np.ndarray:
    """Exact membership of string ``keys`` against the .skeys index —
    bool 'seen' array.  Per (bucket, run): candidates longer than the
    run's width are definitely absent; the rest cast losslessly to the
    run's dtype and binary-search the memmap.  ``n_buckets`` must be
    the routing the index was BUILT with (empty buckets leave no
    files, so it cannot be inferred from the listing)."""
    runs = _str_bucket_runs(roots)
    nb_keys = keys.size
    out = np.zeros(nb_keys, dtype=bool)
    if not runs or nb_keys == 0:
        return out
    enc = pd.Series(keys).str.encode("utf-8")
    lens = enc.str.len().to_numpy(dtype=np.int64)
    wmax = max(1, int(lens.max()))
    cand = np.array(enc.tolist(), dtype=f"S{wmax}")
    bucket = bucket_str(keys, int(n_buckets))
    for b, paths in runs.items():
        mask = bucket == b
        if not mask.any():
            continue
        idxs = np.flatnonzero(mask)
        hit = np.zeros(idxs.size, dtype=bool)
        for p in paths:
            w, run = _str_mmap(p)
            if run.size == 0:
                continue
            pending = np.flatnonzero(~hit)
            if pending.size == 0:
                break
            sub_i = idxs[pending]
            fit = lens[sub_i] <= w
            if not fit.any():
                continue
            k = cand[sub_i[fit]].astype(f"S{w}")
            pos = np.searchsorted(run, k)
            pos_c = np.minimum(pos, run.size - 1)
            got = (pos < run.size) & (np.asarray(run[pos_c]) == k)
            h = hit[pending]
            h[fit] = h[fit] | got
            hit[pending] = h
        out[idxs] = hit
    return out


def seen_str_udf(roots: tuple[str, ...], n_buckets: int):
    """String-key exact probe as a pandas UDF — True = key IS in the
    seen index.  Closure carries only the committed directory tuple
    (which doubles as the cache generation) and the bucket count."""
    from pyspark.sql import functions as F

    nb = int(n_buckets)
    rt = tuple(roots)

    @F.pandas_udf("boolean")
    def seen(keys: pd.Series) -> pd.Series:
        return pd.Series(
            probe_str_runs(rt, keys.to_numpy(dtype=object), nb))

    return seen
