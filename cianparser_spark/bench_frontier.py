"""Frontier seen-set throughput microbench: URLs/sec through the
crawler's own membership path at 10^7 scale.

The north-rule metric is frontier-URLs-processed/sec on a 10^10-URL
frontier.  The crawl bench (`bench_crawl`) measures the full wave loop
at ~250k politeness-scheduled pages; THIS bench isolates the frontier's
per-URL machinery — canonicalize → 64-bit URL key → per-bucket Bloom
prefilter → exact tier for the maybe-seen sliver — and runs it at
10,000,000 candidate URLs against a 5,000,000-key seen set.

The key is ``xxhash64`` of the canonical URL
(``ops.urlnorm.canonical_url_expr``, pure Catalyst codegen); every
membership step probes that key CAST TO STRING through the functions
``CrawlEngine`` itself calls on its ``seed_id|deal_url_id`` keys:

- Bloom build: ``bloom.build_partials`` (one partial filter per
  ``seenidx.bucket_str`` bucket, built executor-side);
- Bloom probe: ``bloom.maybe_seen_udf`` over a committed blob table
  (``write_blob_table``), in both sidecar modes as in the crawler;
- exact tier: a ``left_anti`` join against the seen table (driver
  mode) or ``seenidx.write_str_runs`` + ``seenidx.seen_str_udf`` over
  per-bucket sorted string runs (spool mode);
- the split: definitely-fresh rows bypass the exact tier, maybe-seen
  rows take it, and the union of the two IS the fresh frontier —
  the shape of ``CrawlEngine._dedup``.

``BENCH/frontier_scale_r5*.json`` were measured on an earlier int64
key family (splitmix64 Bloom hashing, int64 sorted runs) that the
crawler never ran; it has been deleted, and those artifacts do not
describe this code.

Correctness is pinned two ways: ``tests/test_bench_frontier.py``
checks the split+reunion equals a plain exact anti-join (counts + key
checksum) including under a deliberately saturated Bloom, and the
``frontier_membership*`` contract queries run the same split against
a DuckDB ANTI JOIN oracle on shared input tables, so a false negative
anywhere becomes a driver-visible hash mismatch.

Reference parity note: the reference keeps its URL-seen set as an
in-memory Python ``set`` per run (cianparser/base_list.py:24,
flat/list.py:57-68) — correct at 10^4 offers, impossible at 10^10.
"""
from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cianparser_spark.engine import seenidx
from cianparser_spark.engine.bloom import (
    build_partials,
    maybe_seen_udf,
    or_merge_blob_group,
)
from cianparser_spark.ops.urlnorm import canonical_url_expr, messy_url_expr


def _split(cand: DataFrame, maybe_seen, exact, key_col: str) -> DataFrame:
    """``CrawlEngine._dedup``'s shape: Bloom-definitely-fresh rows
    bypass the exact tier, maybe-seen rows take it, reunited."""
    keyed = cand.withColumn(
        "_maybe", maybe_seen(F.col(key_col).cast("string")))
    fresh = keyed.filter(~F.col("_maybe")).drop("_maybe")
    return fresh.unionByName(
        exact(keyed.filter(F.col("_maybe")).drop("_maybe")))


def membership_split(cand: DataFrame, seen: DataFrame,
                     blob_dirs: tuple[str, ...], n_buckets: int,
                     key_col: str = "key") -> DataFrame:
    """Fresh-URL filter, driver sidecar mode: Bloom prefilter loaded
    per executor from the blob table, exact ``left_anti`` join only
    for the maybe-seen sliver.

    Returns ``cand`` rows whose key is NOT in ``seen`` — bit-identical
    to a plain ``left_anti`` join, but only the Bloom's maybe-seen
    sliver ever reaches the join.
    """
    return _split(
        cand, maybe_seen_udf(n_buckets, dirs=blob_dirs),
        lambda s: s.join(seen.select(key_col), [key_col], "left_anti"),
        key_col)


def membership_split_spool(cand: DataFrame, blob_dirs: tuple[str, ...],
                           run_roots: tuple[str, ...],
                           n_buckets: int) -> DataFrame:
    """Fresh-URL filter over ``cand``'s ``key``, spool sidecar mode:
    Bloom prefilter loaded per executor from the blob table, exact
    tier = sorted string runs (no join anywhere in the plan; task
    closures carry paths only)."""
    seen = seenidx.seen_str_udf(run_roots, n_buckets)
    return _split(
        cand, maybe_seen_udf(n_buckets, dirs=blob_dirs),
        lambda s: s.filter(~seen(F.col("key").cast("string"))), "key")


def write_blob_table(seen: DataFrame, path: str, n_buckets: int,
                     n_bits: int, prev: str | None = None) -> None:
    """The sidecar's blob table: this delta's partial filters, OR-merged
    executor-side with the committed table at ``prev`` (if any), written
    as a new blob table.  Uncompressed: blobs are incompressible bit
    arrays, and ``load_spool_filters``' pyarrow reader cannot decode
    the session's hadoop-framed lz4 on large binary pages."""
    blobs = build_partials(seen, n_buckets, n_bits)
    if prev is not None:
        blobs = (seen.sparkSession.read.parquet(prev).unionByName(blobs)
                 .groupBy("bucket")
                 .applyInPandas(or_merge_blob_group, "bucket long, blob binary"))
    blobs.write.mode("overwrite").option("compression", "uncompressed") \
        .parquet(path)


def _candidates(spark: SparkSession, n: int, par: int) -> DataFrame:
    """n deterministic messy URLs + their canonical 64-bit seen-key —
    the whole expression pipeline is Catalyst codegen (zero Python)."""
    return (
        spark.range(0, n, 1, par)
        .select(
            F.col("id"),
            messy_url_expr("id").alias("url"),
        )
        .select(
            "id", "url",
            F.xxhash64(canonical_url_expr(F.col("url"))).alias("key"),
        )
    )


def run_bench(spark: SparkSession, n_urls: int = 10_000_000,
              seen_frac: float = 0.5, n_buckets: int = 64,
              scratch: str | None = None) -> dict:
    """Four timed phases; returns the metrics dict.

    1. ``hash``         — canonicalize + xxhash64 over n_urls (pure
                          codegen, noop sink): the key function's ceiling.
    2. ``build``        — distributed Bloom build over the seen keys,
                          written as a blob table.
    3. ``member``       — driver sidecar mode: blob-table prefilter →
                          exact anti-join for the maybe-seen sliver →
                          count fresh.
    4. ``member_exact`` — spool sidecar mode: blob-table prefilter →
                          sorted string-run probe, no join in the plan.
    """
    par = spark.sparkContext.defaultParallelism * 2
    n_seen = int(n_urls * seen_frac)
    own_scratch = scratch is None
    scratch = scratch or tempfile.mkdtemp(prefix="bench_frontier_")
    seen_path = os.path.join(scratch, "seen")
    cand_path = os.path.join(scratch, "cand")

    # --- untimed: persist the seen table (even ids) and the candidate
    # frontier rows, as the engine's WaveStore would have committed
    # them (the membership wave FILTERS committed rows; deriving the
    # key is the separately-timed hash phase)
    _candidates(spark, n_urls, par).filter(F.col("id") % 2 == 0) \
        .select("key").write.mode("overwrite").parquet(seen_path)
    seen = spark.read.parquet(seen_path)
    _candidates(spark, n_urls, par).write.mode("overwrite").parquet(cand_path)
    cand = spark.read.parquet(cand_path)

    # warm Python workers + Arrow path so phase timings measure
    # throughput, not pool spawn
    spark.range(0, par * 4, 1, par).mapInPandas(
        lambda it: it, "id long").count()

    t0 = time.time()
    _candidates(spark, n_urls, par).select("key").write.format("noop") \
        .mode("overwrite").save()
    t_hash = time.time() - t0

    blob_dir = os.path.join(scratch, "bloomidx")
    t0 = time.time()
    write_blob_table(seen, blob_dir, n_buckets, 1 << 20)
    t_build = time.time() - t0

    expect_fresh = n_urls - n_seen
    t0 = time.time()
    fresh_n = _fresh_count(membership_split(cand, seen, (blob_dir,),
                                            n_buckets))
    t_member = time.time() - t0
    assert fresh_n == expect_fresh, (fresh_n, expect_fresh)
    # untimed diagnostic: prefilter selectivity (prefilter-only pass)
    maybe_n = _maybe_count(cand, (blob_dir,), n_buckets)

    # spool mode: run build untimed (cost ∝ delta, reported per wave
    # in run_scale_bench); the blob table is shared with ``member``
    idx_root = os.path.join(scratch, "seenidx")
    seenidx.write_str_runs(seen, idx_root, n_buckets, "w0")
    t0 = time.time()
    exact_n = _fresh_count(membership_split_spool(
        cand, (blob_dir,), (idx_root,), n_buckets))
    t_exact = time.time() - t0
    assert exact_n == expect_fresh, (exact_n, expect_fresh)

    if own_scratch:
        shutil.rmtree(scratch, ignore_errors=True)
    return {
        "n_urls": n_urls, "n_seen": n_seen, "n_buckets": n_buckets,
        "bloom_mbytes": round(n_buckets * (16 + (1 << 20) // 8) / 1e6, 2),
        "hash_s": round(t_hash, 3),
        "hash_urls_per_sec": round(n_urls / t_hash),
        "bloom_build_s": round(t_build, 3),
        "bloom_build_keys_per_sec": round(n_seen / t_build),
        "member_s": round(t_member, 3),
        "member_urls_per_sec": round(n_urls / t_member),
        "member_exact_s": round(t_exact, 3),
        "member_exact_urls_per_sec": round(n_urls / t_exact),
        "fresh_rows": fresh_n,
        "maybe_seen_rows": maybe_n,
        "false_positive_rate": round((maybe_n - n_seen) / max(expect_fresh, 1), 5),
    }


def _fresh_count(fresh: DataFrame) -> int:
    """Count a membership result via an Observation riding a noop sink,
    so the bench times the membership machinery, not a writer."""
    obs = Observation("frontier-member")
    fresh.observe(obs, F.count(F.lit(1)).alias("fresh")) \
        .write.format("noop").mode("overwrite").save()
    return int(obs.get["fresh"])


def _maybe_count(cand, blob_dirs, n_buckets) -> int:
    maybe_seen = maybe_seen_udf(n_buckets, dirs=blob_dirs)
    return (
        cand.select(maybe_seen(F.col("key").cast("string")).alias("m"))
        .filter("m").count()
    )


# ------------------------------------------------- 10^8-key SPOOL scale bench

def _key_df(spark: SparkSession, lo: int, hi: int, par: int) -> DataFrame:
    """Seen-keys for an id range through the REAL key pipeline
    (messy URL -> canonical -> xxhash64, pure Catalyst codegen) —
    URLs are never materialized to disk; only the 8-byte key column
    leaves the expression pipeline."""
    return (
        spark.range(lo, hi, 1, par)
        .select(F.xxhash64(
            canonical_url_expr(messy_url_expr("id"))).alias("key"))
    )


def run_scale_bench(spark: SparkSession, n_keys: int = 100_000_000,
                    n_waves: int = 4, probe_per_wave: int = 20_000_000,
                    n_buckets: int = 64, n_bits: int = 1 << 25,
                    scratch: str | None = None) -> dict:
    """The 10^8-key SPOOL-mode wave loop: per wave, commit a delta of
    seen keys, append its sorted string runs, merge it into the blob
    table EXECUTOR-side, then run a membership probe whose task
    closures carry only path tuples.

    What this proves: with ``n_bits × n_buckets`` ≥ 256 MB of filter
    state and 10^8 seen keys, per-wave wall stays FLAT across waves
    (the blob table is fixed-size; the delta is constant; the exact
    tier probes runs, never rescans the seen table) and the driver
    holds ZERO blob bytes at any point — both structurally (nothing is
    ever collected) and observably (``driver_blob_bytes`` is 0 and the
    probe closure is a path tuple however big the filters grow).
    Correctness is pinned per wave: the fresh count must equal the
    constructed expectation (half the probe window is committed, half
    is virgin id-space).  Runs accumulate one per wave per bucket;
    nothing here compacts them (the crawler bounds them by a full
    rebuild every 64 run directories).

    local[N] note: every Python worker process loads the full blob set
    once per generation (N × blobs of RAM here); on a real cluster
    that is once per EXECUTOR from shared storage.
    """
    import pickle

    par = spark.sparkContext.defaultParallelism * 2
    per_wave = n_keys // n_waves
    own_scratch = scratch is None
    scratch = scratch or tempfile.mkdtemp(prefix="bench_frontier_scale_")
    idx_roots: tuple[str, ...] = ()
    blob_dir = None
    waves = []
    for w in range(n_waves):
        lo, hi = w * per_wave, (w + 1) * per_wave
        # --- commit the wave's seen delta (untimed: the crawl bench
        # owns write throughput; this bench isolates merge+probe)
        sd = os.path.join(scratch, f"seen-w{w}")
        _key_df(spark, lo, hi, par).write.mode("overwrite").parquet(sd)

        # --- exact tier: one sorted string run per bucket from this
        # wave's delta, written executor-side (cost ∝ delta) into the
        # wave's own directory — as the crawler commits one seenx dir
        # per wave; the directory tuple is the probe's listing
        # generation
        t0 = time.time()
        idx_roots += (os.path.join(scratch, f"seenidx-w{w}"),)
        seenidx.write_str_runs(spark.read.parquet(sd), idx_roots[-1],
                               n_buckets, f"w{w:04d}")
        t_index = time.time() - t0

        # --- executor-side sidecar merge
        t0 = time.time()
        new_blob_dir = os.path.join(scratch, f"bloom-w{w}")
        write_blob_table(spark.read.parquet(sd), new_blob_dir, n_buckets,
                         n_bits, prev=blob_dir)
        t_merge = time.time() - t0
        blob_dir = new_blob_dir

        # --- membership probe: half the window is committed, half
        # virgin id-space (ids ≥ n_keys never enter the seen set)
        half = probe_per_wave // 2
        cand = _key_df(spark, hi - half, hi, par).unionByName(
            _key_df(spark, n_keys + w * half, n_keys + (w + 1) * half, par))
        probe = maybe_seen_udf(n_buckets, dirs=(blob_dir,))
        # (a) the SIDECAR path alone (prefilter pass) — the machinery
        # whose per-wave cost must stay flat as the filter grows
        t0 = time.time()
        maybe_n = cand.select(probe(F.col("key").cast("string")).alias("m")) \
            .filter("m").count()
        t_prefilter = time.time() - t0
        # (b) the full membership wave: Bloom prefilter + sorted-run
        # exact probe of the maybe-seen sliver, no join in the plan
        t0 = time.time()
        fresh_n = _fresh_count(membership_split_spool(
            cand, (blob_dir,), idx_roots, n_buckets))
        t_member = time.time() - t0
        # xxhash64 collisions between the committed and virgin halves
        # are the only slack — none observed at these sizes
        assert fresh_n == half, (w, fresh_n, half)
        waves.append({
            "wave": w, "seen_total": hi,
            "index_s": round(t_index, 2),
            "merge_s": round(t_merge, 2),
            "prefilter_s": round(t_prefilter, 2),
            "prefilter_keys_per_sec": round(probe_per_wave / t_prefilter),
            "member_s": round(t_member, 2),
            "maybe_seen_rows": maybe_n,
            "driver_blob_bytes": 0,  # structurally: nothing collected
            "probe_closure_bytes": len(pickle.dumps((blob_dir,))),
        })

    blob_bytes = sum(
        os.path.getsize(os.path.join(blob_dir, f))
        for f in os.listdir(blob_dir) if f.endswith(".parquet"))
    merges = [w["merge_s"] for w in waves]
    pres = [w["prefilter_s"] for w in waves]
    mems = [w["member_s"] for w in waves]
    res = {
        "n_keys": n_keys, "n_waves": n_waves,
        "probe_per_wave": probe_per_wave,
        "n_buckets": n_buckets, "bloom_mbytes": round(
            n_buckets * (n_bits / 8) / 1e6, 1),
        "blob_table_mbytes_on_disk": round(blob_bytes / 1e6, 1),
        "bits_per_key": round(n_buckets * n_bits / n_keys, 1),
        "waves": waves,
        "merge_flat_ratio": round(merges[-1] / merges[0], 3),
        "prefilter_flat_ratio": round(pres[-1] / pres[0], 3),
        "member_flat_ratio": round(mems[-1] / mems[0], 3),
        "driver_blob_bytes_max": 0,
    }
    if own_scratch:
        shutil.rmtree(scratch, ignore_errors=True)
    return res


def main() -> None:
    import json
    import sys

    from cianparser_spark.engine.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench_frontier", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    if len(sys.argv) > 1 and sys.argv[1] == "--scale":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000_000
        waves = int(sys.argv[3]) if len(sys.argv) > 3 else 4
        res = run_scale_bench(spark, n_keys=n, n_waves=waves,
                              probe_per_wave=max(10_000_000, n // 10))
    else:
        n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
        res = run_bench(spark, n_urls=n)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
