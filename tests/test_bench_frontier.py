"""Frontier membership split: Bloom prefilter + exact-join reunion must
equal a plain exact anti-join — including under saturated and
FP-heavy Blooms (bench_frontier is the 10^10 seen-set path; a false
negative here would silently re-crawl or drop frontier URLs)."""
import pyspark.sql.functions as F
import pytest

from cianparser_spark.bench_frontier import (
    _candidates,
    build_blooms,
    membership_split,
)


def _checksum(df):
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("key").cast("decimal(38,0)")).alias("s"),
                 F.sum(F.crc32(F.col("url"))).alias("u")).collect()[0]
    return (row["n"], row["s"], row["u"])


@pytest.fixture(scope="module")
def frames(spark):
    cand = _candidates(spark, 6000, 8).cache()
    seen = cand.filter(F.col("id") % 2 == 0).select("key").cache()
    oracle = cand.join(seen, ["key"], "left_anti")
    return cand, seen, _checksum(oracle)


def test_split_equals_exact_anti_join(spark, frames):
    cand, seen, want = frames
    blobs = build_blooms(seen, n_buckets=8)
    got = membership_split(cand, seen, blobs, n_buckets=8)
    assert _checksum(got) == want
    assert want[0] == 3000


def test_saturated_bloom_still_exact(spark, frames):
    # 64-bit buckets for 3000 keys: every probe answers maybe-seen, so
    # ALL rows take the exact join — reunion must still be exact
    cand, seen, want = frames
    blobs = build_blooms(seen, n_buckets=4, n_bits=64)
    got = membership_split(cand, seen, blobs, n_buckets=4)
    assert _checksum(got) == want


def test_prefilter_splits_both_ways(spark, frames):
    # honest sizing: the maybe-seen set covers every true hit (no
    # false negatives, the Bloom invariant) and the fresh bypass is
    # doing real work (most fresh rows never reach the join)
    cand, seen, _ = frames
    blobs = build_blooms(seen, n_buckets=8)
    from cianparser_spark.bench_frontier import _maybe_count

    maybe = _maybe_count(cand, blobs, n_buckets=8)
    n_seen = seen.count()
    assert maybe >= n_seen  # zero false negatives
    assert maybe < cand.count()  # bypass nonempty


def test_empty_seen_passes_everything(spark):
    cand = _candidates(spark, 512, 4)
    seen = cand.filter("id < 0").select("key")
    blobs = build_blooms(seen, n_buckets=4)
    got = membership_split(cand, seen, blobs, n_buckets=4)
    assert got.count() == 512


def test_scale_bench_small(spark, tmp_path):
    """The SPOOL-mode wave loop at toy size: executor-side merge +
    file-cache probe must produce the exact fresh counts (the run
    asserts per-wave), hold zero blob bytes on the driver, and keep
    the probe closure at a path tuple."""
    from cianparser_spark.bench_frontier import run_scale_bench

    res = run_scale_bench(spark, n_keys=60_000, n_waves=2,
                          probe_per_wave=20_000, n_buckets=4,
                          n_bits=1 << 17, scratch=str(tmp_path))
    assert len(res["waves"]) == 2
    assert res["driver_blob_bytes_max"] == 0
    assert all(w["probe_closure_bytes"] < 1024 for w in res["waves"])
    assert res["blob_table_mbytes_on_disk"] > 0


# ----------------------------------------------------- sorted-run exact tier

def test_seenidx_probe_equals_exact_anti_join(spark, frames, tmp_path):
    """engine/seenidx: the sorted-run exact probe must agree with a
    plain left_anti join key-for-key — it IS the exact tier of the
    membership wave (replacing the per-wave full-table join)."""
    from cianparser_spark.engine import seenidx

    cand, seen, want = frames
    root = str(tmp_path / "idx")
    n = seenidx.write_runs(seen, root, 8, "w0")
    assert n == seen.count()
    fu = seenidx.fresh_udf((), (root,), 0, 8)
    got = cand.filter(fu(F.col("key")))
    assert _checksum(got) == want


def test_seenidx_multi_run_and_compaction(spark, tmp_path):
    """Runs accumulate per wave; probe answers across runs, and
    compaction (k-way merge to one run per bucket) preserves every
    answer bit-for-bit."""
    from cianparser_spark.engine import seenidx

    cand = _candidates(spark, 4000, 4).cache()
    root = str(tmp_path / "idx")
    seenidx.write_runs(cand.filter("id % 3 = 0").select("key"), root, 4, "w0")
    seenidx.write_runs(cand.filter("id % 3 = 1").select("key"), root, 4, "w1")
    oracle = cand.filter("id % 3 = 2")
    fu = seenidx.fresh_udf((), (root,), 1, 4)
    got = cand.filter(fu(F.col("key")))
    assert _checksum(got) == _checksum(oracle)
    assert seenidx.compact(spark, root, 4, min_runs=2) == 4
    fu2 = seenidx.fresh_udf((), (root,), 2, 4)
    got2 = cand.filter(fu2(F.col("key")))
    assert _checksum(got2) == _checksum(oracle)


def test_seenidx_recompaction_in_warm_process(spark, tmp_path):
    """Two compactions in one process: run files are memmap-cached by
    path, so a compaction that reused its output name would leave this
    process probing the FIRST compaction's inode — keys added between
    the two compactions would read as unseen."""
    import numpy as np

    from cianparser_spark.engine import seenidx

    def keys(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("key"))

    root = str(tmp_path / "idx")
    probe = np.arange(0, 4000, dtype=np.int64)
    bucket = seenidx.bucket_i64(probe, 4)
    seenidx.write_runs(keys(0, 1000), root, 4, "w0")
    seenidx.write_runs(keys(1000, 2000), root, 4, "w1")
    assert seenidx.compact(spark, root, 4, min_runs=2) == 4
    got = seenidx.probe_runs((root,), 1, probe, bucket)  # warms the cache
    assert got[:2000].all() and not got[2000:].any()
    seenidx.write_runs(keys(2000, 3000), root, 4, "w2")
    assert seenidx.compact(spark, root, 4, min_runs=2) == 4
    got = seenidx.probe_runs((root,), 2, probe, bucket)
    assert got[:3000].all() and not got[3000:].any()


def test_seenidx_saturated_bloom_exactness(spark, frames, tmp_path):
    """Exactness must ride the sorted runs, not the Bloom: with a
    fully saturated Bloom tier (every probe answers maybe-seen) the
    combined fresh filter still returns the exact anti-join answer."""
    import os

    from cianparser_spark.engine import seenidx
    from cianparser_spark.engine.bloom import BloomFilter

    cand, seen, want = frames
    root = str(tmp_path / "idx")
    seenidx.write_runs(seen, root, 4, "w0")
    # committed blob table whose every filter is saturated
    sat = BloomFilter(64)
    sat.bits[:] = 0xFF
    bdir = str(tmp_path / "bloom")
    spark.createDataFrame(
        [(b, bytearray(sat.to_bytes())) for b in range(4)],
        "bucket long, blob binary"
    ).coalesce(1).write.mode("overwrite") \
        .option("compression", "uncompressed").parquet(bdir)
    assert os.path.isdir(bdir)
    fu = seenidx.fresh_udf((bdir,), (root,), 0, 4)
    got = cand.filter(fu(F.col("key")))
    assert _checksum(got) == want


def test_seenidx_str_runs_multibyte_keys(tmp_path):
    """Fixed-width byte runs must stay exact across multi-byte UTF-8
    keys (width is BYTES, not characters) and near-miss prefixes."""
    import os

    import numpy as np

    from cianparser_spark.engine import seenidx

    d = tmp_path / "bucket=0"
    d.mkdir(parents=True)
    keys = ["1|Казань", "2|дом-7", "3|x"]
    enc = sorted(k.encode() for k in keys)
    w = max(len(e) for e in enc)
    arr = np.sort(np.array(enc, dtype=f"S{w}"))
    with open(os.path.join(str(d), "run-a.skeys"), "wb") as fh:
        fh.write(np.array([w, len(arr)], np.int64).tobytes())
        fh.write(arr.tobytes())
    got = seenidx.probe_str_runs(
        (str(tmp_path),),
        np.array(keys + ["1|Казан", "4|Казань?"], dtype=object), 1)
    assert list(got) == [True, True, True, False, False]
