"""Bloom filters and the committed blob-table loader: zero false
negatives (property), low FP, strict blob format."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cianparser_spark.engine.bloom import BloomFilter


@given(st.lists(st.text(min_size=1, max_size=40), min_size=1, max_size=300))
@settings(max_examples=30, deadline=None)
def test_bloom_never_false_negative(keys):
    bf = BloomFilter.build(keys)
    assert bf.contains(np.asarray(keys, dtype=object)).all()


def test_bloom_fp_rate_bounded():
    keys = [f"k{i}" for i in range(20000)]
    bf = BloomFilter.build(keys, bits_per_key=12)
    other = np.asarray([f"x{i}" for i in range(20000)], dtype=object)
    assert bf.contains(other).mean() < 0.01


def test_bloom_serialization_roundtrip():
    bf = BloomFilter.build(["a", "b", "c"])
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert bf2.contains(np.asarray(["a", "b", "c"], dtype=object)).all()
    # a read-only view: the loader's process-cached filters are shared
    # by every caller, so an in-place merge into one must fail loudly
    assert not bf2.bits.flags.writeable


@pytest.mark.parametrize("blob", [
    b"",                                                  # no header
    np.array([1024], np.int64).tobytes(),                 # short header
    np.array([0, 7], np.int64).tobytes(),                 # n_bits = 0
    np.array([-2, 16], np.int64).tobytes()                # old cuckoo blob
    + np.zeros((8, 4), np.uint16).tobytes(),
    BloomFilter(1 << 12).to_bytes()[:-1],                 # truncated body
    BloomFilter(1 << 12).to_bytes() + b"\0",              # trailing bytes
    np.array([1025, 7], np.int64).tobytes() + bytes(128),  # ceil(1025/8) = 129
], ids=["empty", "short-header", "zero-bits", "cuckoo", "truncated",
        "trailing", "ceil"])
def test_from_bytes_rejects_non_bloom_blob(blob):
    with pytest.raises(ValueError):
        BloomFilter.from_bytes(blob)


def test_from_bytes_accepts_odd_geometry():
    bf = BloomFilter(1025)
    bf.add(np.asarray(["a", "b"], dtype=object))
    rt = BloomFilter.from_bytes(bf.to_bytes())
    assert rt.n_bits == 1025 and rt.contains(["a", "b"]).all()


def _blob_dir(path, rows):
    """A committed blob-table directory: one parquet file per element
    of ``rows``, each a list of (bucket, blob bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    for i, part in enumerate(rows):
        pq.write_table(pa.table({
            "bucket": pa.array([b for b, _ in part], pa.int64()),
            "blob": pa.array([blob for _, blob in part], pa.binary()),
        }), str(path / f"part-{i:05d}.parquet"))
    return (str(path),)


def test_bloom_incremental_or_merge(tmp_path):
    # fixed-size filters of one bucket in different files OR-merge
    # associatively in the loader
    from cianparser_spark.engine.bloom import load_spool_filters

    a = BloomFilter(1 << 12)
    b = BloomFilter(1 << 12)
    a.add(np.asarray(["one", "two"], dtype=object))
    b.add(np.asarray(["three"], dtype=object))
    got = load_spool_filters(_blob_dir(
        tmp_path / "t", [[(3, a.to_bytes())], [(3, b.to_bytes())]]))
    assert set(got) == {3}
    assert got[3].contains(np.asarray(["one", "two", "three"], dtype=object)).all()


def test_load_spool_filters_refuses_mismatched_geometry(tmp_path):
    """OR-merging blobs of different n_bits must refuse loudly — a
    silent truncating merge would turn Bloom false-positives into
    false NEGATIVES."""
    from cianparser_spark.engine.bloom import load_spool_filters

    a = BloomFilter(1 << 12)
    c = BloomFilter(1 << 13)  # different geometry
    with pytest.raises(ValueError, match="geometry mismatch"):
        load_spool_filters(_blob_dir(
            tmp_path / "t", [[(3, a.to_bytes())], [(3, c.to_bytes())]]))


# Committed-format pin: bucket routing as written by stores of earlier
# versions.  A change makes a resumed store probe the wrong bucket of
# its sorted runs, i.e. return false negatives.
_GOLDEN_KEYS = ["1|294563720", "2|-1", "3|Казань", "12|дом-7", "7|x",
                "5|a|b", "9|🏠", "4|ñandú", "10|", "11|1234567890123456789",
                "6|Москва-сити", "8|ÿ"]
_GOLDEN_BUCKETS_16 = [8, 12, 6, 4, 7, 7, 9, 9, 11, 0, 1, 7]


def test_seen_key_format_golden():
    from cianparser_spark.engine import seenidx

    keys = np.array(_GOLDEN_KEYS, dtype=object)
    assert seenidx.bucket_str(keys, 16).tolist() == _GOLDEN_BUCKETS_16


def test_load_spool_filters_rejects_non_bloom_blob(tmp_path):
    """A committed blob that is not a Bloom filter (here the retired
    cuckoo format: int64 header -2, then a slot table) fails loudly in
    the loader instead of being probed as Bloom bits."""
    from cianparser_spark.engine.bloom import load_spool_filters

    blob = (np.array([-2, 16], np.int64).tobytes()
            + np.zeros((8, 4), np.uint16).tobytes())
    with pytest.raises(ValueError, match="not a bloom blob"):
        load_spool_filters(_blob_dir(tmp_path / "t", [[(0, blob)]]))
