"""Frontier membership split: Bloom prefilter + exact-tier reunion must
equal a plain exact anti-join — including under saturated and
FP-heavy Blooms.  bench_frontier drives the crawler's own string-key
functions (bloom.build_partials / maybe_seen_udf, seenidx string
runs); a false negative here would silently re-crawl or drop frontier
URLs."""
import pyspark.sql.functions as F
import pytest

from cianparser_spark.bench_frontier import (
    _candidates,
    membership_split,
    membership_split_spool,
    write_blob_table,
)


def _checksum(df):
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("key").cast("decimal(38,0)")).alias("s"),
                 F.sum(F.crc32(F.col("url"))).alias("u")).collect()[0]
    return (row["n"], row["s"], row["u"])


def _blob_dirs(seen, tmp_path, n_buckets, n_bits=1 << 20):
    path = str(tmp_path / "bloom")
    write_blob_table(seen, path, n_buckets, n_bits)
    return (path,)


@pytest.fixture(scope="module")
def frames(spark):
    cand = _candidates(spark, 6000, 8).cache()
    seen = cand.filter(F.col("id") % 2 == 0).select("key").cache()
    oracle = cand.join(seen, ["key"], "left_anti")
    return cand, seen, _checksum(oracle)


def test_split_equals_exact_anti_join(spark, frames, tmp_path):
    cand, seen, want = frames
    got = membership_split(cand, seen, _blob_dirs(seen, tmp_path, 8),
                           n_buckets=8)
    assert _checksum(got) == want
    assert want[0] == 3000


def test_saturated_bloom_still_exact(spark, frames, tmp_path):
    # 64-bit buckets for 3000 keys: every probe answers maybe-seen, so
    # ALL rows take the exact join — reunion must still be exact
    cand, seen, want = frames
    got = membership_split(cand, seen, _blob_dirs(seen, tmp_path, 4, 64),
                           n_buckets=4)
    assert _checksum(got) == want


def test_prefilter_splits_both_ways(spark, frames, tmp_path):
    # honest sizing: the maybe-seen set covers every true hit (no
    # false negatives, the Bloom invariant) and the fresh bypass is
    # doing real work (most fresh rows never reach the join)
    cand, seen, _ = frames
    from cianparser_spark.bench_frontier import _maybe_count

    maybe = _maybe_count(cand, _blob_dirs(seen, tmp_path, 8), n_buckets=8)
    n_seen = seen.count()
    assert maybe >= n_seen  # zero false negatives
    assert maybe < cand.count()  # bypass nonempty


def test_empty_seen_passes_everything(spark, tmp_path):
    cand = _candidates(spark, 512, 4)
    seen = cand.filter("id < 0").select("key")
    got = membership_split(cand, seen, _blob_dirs(seen, tmp_path, 4),
                           n_buckets=4)
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
    """engine/seenidx: the sorted string-run probe must agree with a
    plain left_anti join key-for-key — it IS the spool-mode exact tier
    (replacing the per-wave full-table join)."""
    from cianparser_spark.engine import seenidx

    cand, seen, want = frames
    root = str(tmp_path / "idx")
    n = seenidx.write_str_runs(seen, root, 8, "w0")
    assert n == seen.count()
    sx = seenidx.seen_str_udf((root,), 8)
    got = cand.filter(~sx(F.col("key").cast("string")))
    assert _checksum(got) == want


def test_seenidx_multi_run(spark, tmp_path):
    """Runs accumulate per wave; the probe answers across every run
    of a bucket, and a newly committed root is a new listing
    generation in a warm process."""
    from cianparser_spark.engine import seenidx

    cand = _candidates(spark, 4000, 4).cache()
    key = F.col("key").cast("string")
    r0, r1 = str(tmp_path / "w0"), str(tmp_path / "w1")
    seenidx.write_str_runs(cand.filter("id % 3 = 0"), r0, 4, "w0")
    sx = seenidx.seen_str_udf((r0,), 4)
    assert _checksum(cand.filter(~sx(key))) \
        == _checksum(cand.filter("id % 3 != 0"))
    seenidx.write_str_runs(cand.filter("id % 3 = 1"), r1, 4, "w1")
    sx = seenidx.seen_str_udf((r0, r1), 4)
    assert _checksum(cand.filter(~sx(key))) \
        == _checksum(cand.filter("id % 3 = 2"))


def test_seenidx_saturated_bloom_exactness(spark, frames, tmp_path):
    """Exactness must ride the sorted runs, not the Bloom: with a
    fully saturated Bloom tier (every probe answers maybe-seen) the
    spool-mode split still returns the exact anti-join answer."""
    from cianparser_spark.engine import seenidx
    from cianparser_spark.engine.bloom import BloomFilter

    cand, seen, want = frames
    root = str(tmp_path / "idx")
    seenidx.write_str_runs(seen, root, 4, "w0")
    # committed blob table whose every filter is saturated
    sat = BloomFilter(64)
    sat.bits[:] = 0xFF
    bdir = str(tmp_path / "bloom")
    spark.createDataFrame(
        [(b, bytearray(sat.to_bytes())) for b in range(4)],
        "bucket long, blob binary"
    ).coalesce(1).write.mode("overwrite") \
        .option("compression", "uncompressed").parquet(bdir)
    got = membership_split_spool(cand, (bdir,), (root,), 4)
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
