"""Per-bucket Bloom filters: the crawl engine's seen-set sidecar.

The seen set is keyed ``seed_id|deal_url_id`` and routed to
``n_buckets`` buckets by ``pandas.util.hash_array``; each bucket holds
one fixed-size ``BloomFilter``, so partial filters built from
different slices of the seen table OR-merge (``or_merge_blob_group``).
The filter is a prefilter in front of the exact tier, never the
answer itself:

* "definitely unseen" -> the candidate skips the exact tier;
* "maybe seen"        -> the exact tier (anti-join against ``seen`` or
  the sorted runs of engine/seenidx.py) decides.

A Bloom filter cannot delete.  It does not need to: after
``CrawlEngine.invalidate_and_recrawl`` drops keys from ``seen``, their
stale positives only route those keys to the exact tier, which answers
"unseen".  The crawler holds the blobs in one of two places: on the
driver, shipped by ``sc.broadcast``, or in the store's ``bloom`` table,
loaded per executor (``load_spool_filters``).

Blob format: a 16-byte header (int64 ``n_bits``, int64 ``n_hashes``)
followed by ``ceil(n_bits / 8)`` bytes of bits; ``from_bytes`` rejects
anything else.  String keys hash with ``hash_array`` under two hash
keys, combined by double hashing h1 + i*h2; 64-bit keys (the
bench_frontier family) use splitmix64 (``mix64``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_HASH_KEY_1 = "0123456789abcdef"
_HASH_KEY_2 = "fedcba9876543210"


def _h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    arr = np.asarray(keys, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_HASH_KEY_1)
    h2 = pd.util.hash_array(arr, hash_key=_HASH_KEY_2) | 1  # odd => full cycle
    return h1, h2


def mix64(x: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 — the i64-key hash
    family.  String keys go through pandas ``hash_array`` (object
    arrays, ~µs/key); 64-bit frontier keys (xxhash64 of the canonical
    URL) deserve a pure-numpy pipeline: ~6 SIMD ops/key, no object
    boxing.  Different ``seed`` values give independent hash streams
    (double hashing, bucket routing)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64, copy=True) + np.uint64(seed)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _h2_i64(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h1 = mix64(keys, 0x9E3779B97F4A7C15)
    h2 = mix64(keys, 0xC2B2AE3D27D4EB4F) | np.uint64(1)
    return h1, h2


def _set_bits(bits: np.ndarray, n_bits: int, h1: np.ndarray, h2: np.ndarray,
              n_hashes: int) -> None:
    """OR the double-hashed bit positions into the packed uint8 array.

    Scatter into a boolean plane + ``np.packbits`` + one OR — ~25×
    faster than ``np.bitwise_or.at`` (an unbuffered per-element
    scatter) at bulk-build sizes, and bit-identical: duplicate indices
    are plain re-stores of True, and OR is order-free.  The bool plane
    costs ``n_bits`` bytes (8× the filter) — bounded because per-bucket
    filters are fixed-size by construction; above the cap (huge filter,
    tiny batch) fall back to the scatter so memory stays proportional
    to the batch.  The plane size is ALSO absolutely capped at 512 MB
    (n_bits = 2^29): for huge geometries (e.g. the auto-spool shape at
    bloom_bits=1<<33) a large applyInPandas group could otherwise
    allocate a multi-GiB plane per task executor-side however the
    batch-size heuristic lands."""
    if h1.size and n_bits <= (1 << 29) and (
            n_bits <= (1 << 27) or h1.size * 64 >= n_bits):
        plane = np.zeros(bits.size * 8, np.bool_)
        for i in range(n_hashes):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
            plane[idx.astype(np.int64)] = True
        bits |= np.packbits(plane, bitorder="little")
        return
    for i in range(n_hashes):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
        np.bitwise_or.at(bits, (idx // 8).astype(np.int64),
                         (1 << (idx % 8)).astype(np.uint8))


class BloomFilter:
    """Bit-array Bloom filter over string keys, numpy-vectorized."""

    def __init__(self, n_bits: int, n_hashes: int = 7, bits: np.ndarray | None = None):
        self.n_bits = int(n_bits)
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros((self.n_bits + 7) // 8, np.uint8)

    @classmethod
    def build(cls, keys, bits_per_key: int = 12, n_hashes: int = 7) -> "BloomFilter":
        keys = list(keys)
        bf = cls(max(1024, bits_per_key * max(len(keys), 1)), n_hashes)
        if keys:
            bf.add(np.asarray(keys, dtype=object))
        return bf

    def add(self, keys: np.ndarray) -> None:
        h1, h2 = _h2(keys)
        _set_bits(self.bits, self.n_bits, h1, h2, self.n_hashes)

    def contains(self, keys) -> np.ndarray:
        """Vectorized membership probe -> bool array ('maybe seen')."""
        keys = np.asarray(keys, dtype=object)
        if keys.size == 0:
            return np.zeros(0, bool)
        return self._probe(*_h2(keys))

    def add_i64(self, keys: np.ndarray) -> None:
        """Insert uint64/int64 keys via the splitmix64 hash family —
        the frontier path, where the key already IS a 64-bit hash."""
        h1, h2 = _h2_i64(keys)
        _set_bits(self.bits, self.n_bits, h1, h2, self.n_hashes)

    def contains_i64(self, keys: np.ndarray) -> np.ndarray:
        if keys.size == 0:
            return np.zeros(0, bool)
        return self._probe(*_h2_i64(keys))

    def _probe(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        out = np.ones(h1.size, bool)
        for i in range(self.n_hashes):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
            got = (self.bits[(idx // 8).astype(np.int64)] >> (idx % 8).astype(np.uint8)) & 1
            out &= got.astype(bool)
            if not out.any():
                break
        return out

    def to_bytes(self) -> bytes:
        head = np.array([self.n_bits, self.n_hashes], np.int64).tobytes()
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        f = cls.from_bytes_ro(blob)
        f.bits = f.bits.copy()
        return f

    @classmethod
    def from_bytes_ro(cls, blob: bytes) -> "BloomFilter":
        """Zero-copy read-only view for probe-side use (``contains``
        only reads ``bits``).  Executor prefilters deserialize the
        broadcast blobs once per task; at 8 MB of filter state a
        per-batch ``from_bytes`` copy dominates the probe itself.

        Raises ``ValueError`` unless the blob is a 16-byte header with
        ``n_bits > 0`` followed by exactly ``ceil(n_bits / 8)`` bytes:
        a foreign or truncated blob probed as Bloom bits would fail
        later as an opaque executor ``IndexError``, or answer wrong."""
        mv = memoryview(blob)
        if len(mv) < 16:
            raise ValueError(f"bloom blob too short: {len(mv)} bytes")
        n_bits, n_hashes = (int(x) for x in np.frombuffer(mv[:16], np.int64))
        if n_bits <= 0 or len(mv) - 16 != (n_bits + 7) // 8:
            raise ValueError(
                f"not a bloom blob: header n_bits={n_bits}, body "
                f"{len(mv) - 16} bytes")
        return cls(n_bits, n_hashes, np.frombuffer(mv[16:], np.uint8))


def or_merge_blob_group(pdf) -> "pd.DataFrame":
    """applyInPandas kernel: OR-merge one bucket's blob rows into one
    blob.  Lives HERE, beside ``to_bytes``/``from_bytes``, because it
    hard-codes the 16-byte (n_bits, n_hashes) header of the blob
    format — the crawler's spool merge and the frontier scale bench
    both use this single definition.

    Refuses mismatched filter geometries loudly: blobs of different
    ``n_bits`` cannot OR (a silent truncating merge would turn Bloom
    false-positives into FALSE NEGATIVES, i.e. dropped dedup keys).
    The legitimate path to a new ``bloom_bits`` on an existing store
    is a sidecar REBUILD from the exact seen table
    (crawler._update_bloom_spark handles that automatically)."""
    heads = {bytes(b[:16]) for b in pdf["blob"]}
    if len(heads) != 1:
        # compare the (n_bits, n_hashes) HEADERS, not derived body
        # sizes — distinct n_bits can round to the same byte count,
        # and an n_hashes mismatch has no size signature at all
        geoms = sorted(tuple(np.frombuffer(h, np.int64)) for h in heads)
        raise ValueError(
            f"bloom blob geometry mismatch in bucket "
            f"{int(pdf['bucket'].iloc[0])}: (n_bits, n_hashes) {geoms} — "
            "filter geometry changed across waves; rebuild the sidecar "
            "from the seen table instead of merging")
    bodies = [np.frombuffer(memoryview(b)[16:], np.uint8)
              for b in pdf["blob"]]
    acc = bodies[0].copy()
    for b in bodies[1:]:
        acc |= b
    return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                         "blob": [heads.pop() + acc.tobytes()]})


def blob_n_bits(blob: bytes) -> int:
    """The ``n_bits`` a serialized blob was built with (header peek)."""
    return int(np.frombuffer(memoryview(blob)[:16], np.int64)[0])


# ------------------------------------------------- executor-side spool probe

# One blob GENERATION per executor process: the probe UDF ships only
# the blob table's directory list in its closure; the first task of a
# generation on each process loads the blobs from shared storage, every
# later task (and every Arrow batch) reuses them.  Clearing on
# generation change bounds per-executor memory to one filter set.
_SPOOL_CACHE: dict[tuple, dict[int, "BloomFilter"]] = {}


def load_spool_filters(dirs: tuple[str, ...]) -> dict[int, "BloomFilter"]:
    """Load (and process-cache) the per-bucket Bloom blobs from the
    committed blob-table parquet directories — the probe side of the
    SPOOL sidecar mode, where filters are too big to ship through the
    driver.  The closure cost of a probe UDF is the path tuple, never
    the blobs; at 10^10-URL scale each executor reads the blob files
    once per generation from shared storage (here: the local store
    root), and the driver never materializes a single blob byte.

    Duplicate buckets across files OR-merge (all blobs of a bucket are
    fixed-size by construction)."""
    hit = _SPOOL_CACHE.get(dirs)
    if hit is None:
        import os

        import pyarrow.parquet as pq

        filters: dict[int, BloomFilter] = {}
        for d in dirs:
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".parquet"):
                    continue
                tb = pq.read_table(os.path.join(d, fname),
                                   columns=["bucket", "blob"])
                for b, blob in zip(tb.column("bucket").to_pylist(),
                                   tb.column("blob").to_pylist()):
                    f = BloomFilter.from_bytes(bytes(blob))
                    have = filters.get(int(b))
                    if have is None:
                        filters[int(b)] = f
                    elif (have.n_bits, have.n_hashes) != (f.n_bits,
                                                          f.n_hashes):
                        # same guard as or_merge_blob_group: blobs of
                        # different geometry must never OR (false
                        # positives would become false NEGATIVES =
                        # dropped dedup keys).  Unreachable while the
                        # blob table is replace-written with uniform
                        # geometry — which is exactly why it must be
                        # loud if that ever changes.
                        raise ValueError(
                            f"bloom blob geometry mismatch in bucket "
                            f"{int(b)}: {(have.n_bits, have.n_hashes)}"
                            f" vs {(f.n_bits, f.n_hashes)}")
                    else:
                        have.bits |= f.bits
        _SPOOL_CACHE.clear()
        _SPOOL_CACHE[dirs] = filters
        hit = filters
    return hit

