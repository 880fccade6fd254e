"""Bloom seen-set sidecar: zero false negatives (property), low FP."""

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


def test_bloom_incremental_or_merge():
    # fixed-size filters OR-merge associatively (the store's update path)
    a = BloomFilter(1 << 12)
    b = BloomFilter(1 << 12)
    a.add(np.asarray(["one", "two"], dtype=object))
    b.add(np.asarray(["three"], dtype=object))
    a.bits |= b.bits
    assert a.contains(np.asarray(["one", "two", "three"], dtype=object)).all()


def test_or_merge_blob_group_refuses_mismatched_geometry():
    """OR-merging blobs of different n_bits must refuse loudly — a
    silent truncating merge would turn Bloom false-positives into
    false NEGATIVES (dropped dedup keys)."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from cianparser_spark.engine.bloom import (
        BloomFilter, blob_n_bits, or_merge_blob_group)

    a = BloomFilter(1 << 12)
    b = BloomFilter(1 << 12)
    a.add(np.asarray(["x", "y"], dtype=object))
    b.add(np.asarray(["z"], dtype=object))
    merged = or_merge_blob_group(pd.DataFrame(
        {"bucket": [3, 3], "blob": [a.to_bytes(), b.to_bytes()]}))
    m = BloomFilter.from_bytes(bytes(merged["blob"].iloc[0]))
    assert m.contains(["x", "y", "z"]).all()
    assert blob_n_bits(merged["blob"].iloc[0]) == 1 << 12

    c = BloomFilter(1 << 13)  # different geometry
    with _pytest.raises(ValueError, match="geometry mismatch"):
        or_merge_blob_group(pd.DataFrame(
            {"bucket": [3, 3], "blob": [a.to_bytes(), c.to_bytes()]}))


# Committed-format pin: routing and blob bytes as written by stores of
# earlier versions.  A change to either makes a resumed store probe
# the wrong bucket or the wrong bits, i.e. return false negatives.
_GOLDEN_KEYS = ["1|294563720", "2|-1", "3|Казань", "12|дом-7", "7|x",
                "5|a|b", "9|🏠", "4|ñandú", "10|", "11|1234567890123456789",
                "6|Москва-сити", "8|ÿ"]
_GOLDEN_BUCKETS_16 = [8, 12, 6, 4, 7, 7, 9, 9, 11, 0, 1, 7]
_GOLDEN_BLOBS_SHA256 = \
    "aa42f3e48de6c6e0bd48421f66541d80869284e75a91e206a6837c278c6d8ca4"


def test_seen_key_format_golden(spark):
    import hashlib

    from cianparser_spark.engine import seenidx
    from cianparser_spark.engine.bloom import build_partials

    keys = np.array(_GOLDEN_KEYS, dtype=object)
    assert seenidx.bucket_str(keys, 16).tolist() == _GOLDEN_BUCKETS_16
    part = build_partials(
        spark.createDataFrame([(k,) for k in _GOLDEN_KEYS], "key string"),
        16, 4096).collect()
    h = hashlib.sha256()
    for b, blob in sorted((int(r["bucket"]), bytes(r["blob"])) for r in part):
        h.update(b.to_bytes(8, "little"))
        h.update(blob)
    assert h.hexdigest() == _GOLDEN_BLOBS_SHA256
    assert sorted(int(r["bucket"]) for r in part) \
        == sorted(set(_GOLDEN_BUCKETS_16))
