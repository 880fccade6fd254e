"""Sorted string-key runs: an exact seen-set index kept on disk.

The crawler does not use this module.  Its one exact tier is
``CrawlEngine._exact_unseen``'s anti-join against ``seen``, which
measured faster than these runs on every workload tried (931k vs 589k
URLs/s in ``bench_frontier`` at 2M candidates vs 1M seen; every
multi-wave crawl measured).  The runs remain as the Spark side of the
``frontier_membership_exact`` contract query, the spool leg of
``bench_frontier``, and the ``seenidx.*`` legs of perfbench, which
probe any ``seenx`` table a store written by an older crawler still
lists.

The seen keys are disk-resident sorted runs, bucketed by
``bucket_str``:

    root/bucket=<b>/run-<tag>.skeys

* **Build** cost is ∝ the wave's delta: one ``applyInPandas`` job
  groups the new keys by bucket, sorts each group, and writes one
  immutable run file per bucket EXECUTOR-side (the driver schedules
  the job and never sees a key).
* **Probe** cost is ∝ the probe batch, NOT the seen set: each run
  file is ``np.memmap``-ed and probed with ``np.searchsorted`` — a
  binary search touches O(log run_size) pages per key.  No shuffle,
  no hash-relation build, no O(seen) scan.
* **Runs accumulate** one per write per bucket; a caller that writes
  one directory per wave pays one ``searchsorted`` per run per probe,
  so it bounds the run count by rewriting the whole index now and then.

Exactness: the runs store the seen KEYS themselves, so a probe
hit/miss is exactly the ``left_anti`` answer for that key column.

Reference parity: the reference's seen set is an in-memory Python
``set`` per run (cianparser/base_list.py:24, flat/list.py:57-68) —
these runs are that set, on disk.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd

# A seen key is a STRING; the crawler's first-wins identity in this
# form is "seed_id|deal_url_id" (reference flat/list.py:57-68).  Each bucket's
# run stores its keys as a sorted FIXED-WIDTH bytes array (numpy
# 'S<w>', w = the run's longest UTF-8 key): fully exact (no hash
# anywhere in the stored identity — padding is insignificant in numpy
# bytes compares and a candidate longer than w cannot equal any stored
# key), memmap-probed with searchsorted, vectorized end to end.
#
# File format: run-<tag>.skeys = 16-byte header (int64 width, int64
# count) + count*width bytes of sorted keys.

_STR_HASH_KEY = "0123456789abcdef"


def bucket_str(keys: np.ndarray, n_buckets: int) -> np.ndarray:
    """Bucket routing of string seen-keys — the ONE definition shared
    by the sorted runs' build and probe side.  A probe routed
    differently from its build reads a bucket that never saw the key
    and turns a hit into a false MISS (a duplicate fetch)."""
    return pd.util.hash_array(keys, hash_key=_STR_HASH_KEY) \
        % np.uint64(n_buckets)


def bucket_col(key, n_buckets: int):
    """``bucket_str`` as a long Spark column over a string key column
    (a pandas UDF) — the build-side routing of every per-bucket
    artifact."""
    from pyspark.sql import functions as F

    nb = int(n_buckets)

    @F.pandas_udf("long")
    def bucket_of(keys: pd.Series) -> pd.Series:
        arr = keys.to_numpy(dtype=object)
        return pd.Series(bucket_str(arr, nb).astype("int64"))

    return bucket_of(key)


def write_str_runs(keys_df, root: str, n_buckets: int, tag: str,
                   key_col: str = "key") -> int:
    """One sorted fixed-width string run per bucket from this delta's
    keys, written executor-side (cost ∝ delta).  Returns keys written.
    Task retries are safe: the final ``os.replace`` is atomic and the
    content is deterministic for a given group."""
    from pyspark.sql import functions as F

    os.makedirs(root, exist_ok=True)

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
        .withColumn("bucket", bucket_col(F.col("_k"), n_buckets))
        .groupBy("bucket")
        .applyInPandas(build, "bucket long, n long")
        .groupBy().agg(F.sum("n").alias("n")).collect()
    )
    return int(out[0]["n"] or 0) if out else 0


# ---------------------------------------------------------------- probe side

# Per-process caches (executor-side).  Run files are immutable, so the
# memmap cache is keyed by path and never invalidated; the listing
# cache holds ONE generation, keyed by the committed-directory tuple
# (append-only tables grow a new root per wave, so the tuple IS the
# generation).  A new generation re-lists the bucket dirs (cheap) and
# evicts memmaps whose run file is gone — a heal or invalidation
# rebuild replaces the table's dirs, and a cached memmap would
# otherwise pin the deleted inode (and its disk space) for the process
# lifetime.
_MMAP_CACHE: dict[str, tuple[int, np.ndarray]] = {}
_LISTING_CACHE: dict[tuple[str, ...], dict[int, list[str]]] = {}


def _bucket_runs(roots: tuple[str, ...]) -> dict[int, list[str]]:
    hit = _LISTING_CACHE.get(roots)
    if hit is None:
        hit = {}
        for root in roots:
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                if not d.startswith("bucket="):
                    continue
                b = int(d.split("=", 1)[1])
                full = os.path.join(root, d)
                for f in sorted(os.listdir(full)):
                    if f.startswith("run-") and f.endswith(".skeys"):
                        hit.setdefault(b, []).append(os.path.join(full, f))
        _LISTING_CACHE.clear()
        _LISTING_CACHE[roots] = hit
        for p in [p for p in _MMAP_CACHE if not os.path.exists(p)]:
            del _MMAP_CACHE[p]
    return hit


def _mmap(path: str) -> tuple[int, np.ndarray]:
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
    runs = _bucket_runs(roots)
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
            w, run = _mmap(p)
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
