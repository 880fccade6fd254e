"""Frontier membership: both exact tiers the crawler runs (anti-join;
sorted string runs probed on the key cast to string) must equal a
plain exact anti-join.  A false negative here would silently re-crawl
or drop frontier URLs."""
import pyspark.sql.functions as F
import pytest

from cianparser_spark.bench_frontier import (
    _candidates,
    membership_split,
    membership_split_spool,
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
    assert _checksum(membership_split(cand, seen)) == want
    assert want[0] == 3000


def test_empty_seen_passes_everything(spark):
    cand = _candidates(spark, 512, 4)
    seen = cand.filter("id < 0").select("key")
    assert membership_split(cand, seen).count() == 512


def test_scale_bench_small(spark, tmp_path):
    """The SPOOL-mode wave loop at toy size: per-wave run builds +
    the run probe must produce the exact fresh counts (the run asserts
    per-wave) and keep the probe closure at a path tuple."""
    from cianparser_spark.bench_frontier import run_scale_bench

    res = run_scale_bench(spark, n_keys=60_000, n_waves=2,
                          probe_per_wave=20_000, n_buckets=4,
                          scratch=str(tmp_path))
    assert len(res["waves"]) == 2
    assert all(w["probe_closure_bytes"] < 1024 for w in res["waves"])


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
    assert _checksum(membership_split_spool(cand, (root,), 8)) == want


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
