"""Frontier seen-set throughput microbench: URLs/sec through the
crawler's own membership path at 10^7 scale.

The north-rule metric is frontier-URLs-processed/sec on a 10^10-URL
frontier.  The crawl bench (`bench_crawl`) measures the full wave loop
at ~250k politeness-scheduled pages; THIS bench isolates the frontier's
per-URL machinery — canonicalize → 64-bit URL key → exact seen-set
tier — and runs it at 10,000,000 candidate URLs against a
5,000,000-key seen set.

The key is ``xxhash64`` of the canonical URL
(``ops.urlnorm.canonical_url_expr``, pure Catalyst codegen).  The
membership step is the exact tier ``CrawlEngine._exact_unseen`` runs,
with no prefilter in front of it (the crawler has none):

- default mode: a ``left_anti`` join against the seen table;
- spool mode: ``seenidx.write_str_runs`` + ``seenidx.seen_str_udf``
  over per-bucket sorted string runs, probing the key CAST TO STRING
  as the crawler probes its ``seed_id|deal_url_id`` keys.

``BENCH/frontier_scale_r5*.json`` were measured on an earlier int64
key family (splitmix64 Bloom hashing, int64 sorted runs) that the
crawler never ran; it has been deleted, and those artifacts do not
describe this code.

Correctness is pinned two ways: ``tests/test_bench_frontier.py``
checks both modes against a plain exact anti-join (counts + key
checksum), and the ``frontier_membership*`` contract queries run the
same functions against a DuckDB ANTI JOIN oracle on shared input
tables, so a false negative anywhere becomes a driver-visible hash
mismatch.

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
from cianparser_spark.ops.urlnorm import canonical_url_expr, messy_url_expr


def membership_split(cand: DataFrame, seen: DataFrame) -> DataFrame:
    """Fresh-URL filter, default mode: ``cand`` rows whose ``key`` is
    NOT in ``seen``, by a plain ``left_anti`` join."""
    return cand.join(seen.select("key"), ["key"], "left_anti")


def membership_split_spool(cand: DataFrame, run_roots: tuple[str, ...],
                           n_buckets: int) -> DataFrame:
    """Fresh-URL filter over ``cand``'s ``key``, spool mode: the
    sorted string-run probe (no join anywhere in the plan; task
    closures carry paths only)."""
    seen = seenidx.seen_str_udf(run_roots, n_buckets)
    return cand.filter(~seen(F.col("key").cast("string")))


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
    """Three timed phases; returns the metrics dict.

    1. ``hash``         — canonicalize + xxhash64 over n_urls (pure
                          codegen, noop sink): the key function's ceiling.
    2. ``member``       — default mode: exact anti-join → count fresh.
    3. ``member_exact`` — spool mode: sorted string-run probe, no join
                          in the plan.
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

    expect_fresh = n_urls - n_seen
    t0 = time.time()
    fresh_n = _fresh_count(membership_split(cand, seen))
    t_member = time.time() - t0
    assert fresh_n == expect_fresh, (fresh_n, expect_fresh)

    # spool mode: run build untimed (cost ∝ delta, reported per wave
    # in run_scale_bench)
    idx_root = os.path.join(scratch, "seenidx")
    seenidx.write_str_runs(seen, idx_root, n_buckets, "w0")
    t0 = time.time()
    exact_n = _fresh_count(membership_split_spool(
        cand, (idx_root,), n_buckets))
    t_exact = time.time() - t0
    assert exact_n == expect_fresh, (exact_n, expect_fresh)

    if own_scratch:
        shutil.rmtree(scratch, ignore_errors=True)
    return {
        "n_urls": n_urls, "n_seen": n_seen, "n_buckets": n_buckets,
        "hash_s": round(t_hash, 3),
        "hash_urls_per_sec": round(n_urls / t_hash),
        "member_s": round(t_member, 3),
        "member_urls_per_sec": round(n_urls / t_member),
        "member_exact_s": round(t_exact, 3),
        "member_exact_urls_per_sec": round(n_urls / t_exact),
        "fresh_rows": fresh_n,
    }


def _fresh_count(fresh: DataFrame) -> int:
    """Count a membership result via an Observation riding a noop sink,
    so the bench times the membership machinery, not a writer."""
    obs = Observation("frontier-member")
    fresh.observe(obs, F.count(F.lit(1)).alias("fresh")) \
        .write.format("noop").mode("overwrite").save()
    return int(obs.get["fresh"])


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
                    n_buckets: int = 64, scratch: str | None = None) -> dict:
    """The 10^8-key SPOOL-mode wave loop: per wave, commit a delta of
    seen keys, append its sorted string runs, then run a membership
    probe whose task closures carry only path tuples.

    What this proves: with 10^8 seen keys, per-wave run builds cost ∝
    the (constant) delta and the exact tier probes runs, never
    rescans the seen table.  Correctness is pinned per wave: the fresh
    count must equal the constructed expectation (half the probe
    window is committed, half is virgin id-space).  Runs accumulate
    one per wave per bucket; nothing here compacts them (the crawler
    bounds them by a full rebuild every 64 run directories).
    """
    import pickle

    par = spark.sparkContext.defaultParallelism * 2
    per_wave = n_keys // n_waves
    own_scratch = scratch is None
    scratch = scratch or tempfile.mkdtemp(prefix="bench_frontier_scale_")
    idx_roots: tuple[str, ...] = ()
    waves = []
    for w in range(n_waves):
        lo, hi = w * per_wave, (w + 1) * per_wave
        # --- commit the wave's seen delta (untimed: the crawl bench
        # owns write throughput; this bench isolates build+probe)
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

        # --- membership probe: half the window is committed, half
        # virgin id-space (ids ≥ n_keys never enter the seen set)
        half = probe_per_wave // 2
        cand = _key_df(spark, hi - half, hi, par).unionByName(
            _key_df(spark, n_keys + w * half, n_keys + (w + 1) * half, par))
        t0 = time.time()
        fresh_n = _fresh_count(membership_split_spool(
            cand, idx_roots, n_buckets))
        t_member = time.time() - t0
        # xxhash64 collisions between the committed and virgin halves
        # are the only slack — none observed at these sizes
        assert fresh_n == half, (w, fresh_n, half)
        waves.append({
            "wave": w, "seen_total": hi,
            "index_s": round(t_index, 2),
            "member_s": round(t_member, 2),
            "probe_closure_bytes": len(pickle.dumps(idx_roots)),
        })

    mems = [w["member_s"] for w in waves]
    res = {
        "n_keys": n_keys, "n_waves": n_waves,
        "probe_per_wave": probe_per_wave,
        "n_buckets": n_buckets,
        "waves": waves,
        "member_flat_ratio": round(mems[-1] / mems[0], 3),
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
