"""Per-bucket Bloom filters and the loader of a committed blob table.

The crawl engine no longer uses a Bloom filter: seen-set membership is
answered by the exact tier alone (``CrawlEngine._exact_unseen``: an
anti-join against ``seen``, or the sorted runs of engine/seenidx.py).
This module remains because the crawl benchmark's per-layer legs
(perfbench/layers.py) import ``load_spool_filters`` to probe a
committed ``bloom`` table when a store has one.  Stores written before
the prefilter was removed still list their ``bloom`` directories in
the manifest; ``WaveStore.commit_wave`` carries them forward and the
engine never reads them.

Blob format: a 16-byte header (int64 ``n_bits``, int64 ``n_hashes``)
followed by ``ceil(n_bits / 8)`` bytes of bits; ``from_bytes`` rejects
anything else.  Keys hash with ``hash_array`` under two hash keys,
combined by double hashing h1 + i*h2.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

_HASH_KEY_1 = "0123456789abcdef"
_HASH_KEY_2 = "fedcba9876543210"


def _h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    arr = np.asarray(keys, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_HASH_KEY_1)
    h2 = pd.util.hash_array(arr, hash_key=_HASH_KEY_2) | 1  # odd => full cycle
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
    (n_bits = 2^29), so a huge geometry never allocates a multi-GiB
    plane however the batch-size heuristic lands."""
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
        """Zero-copy READ-ONLY view of a serialized filter: ``contains``
        only reads ``bits``, and ``load_spool_filters`` ORs out of place.

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


# ------------------------------------------- the committed blob table

# One blob GENERATION per process: the first call for a directory
# tuple loads the blobs, every later call reuses them.  Clearing on
# generation change bounds per-process memory to one filter set.
_SPOOL_CACHE: dict[tuple, dict[int, "BloomFilter"]] = {}


def _parquet_files(dirs):
    for d in dirs:
        for fname in sorted(os.listdir(d)):
            if fname.endswith(".parquet"):
                yield os.path.join(d, fname)


def load_spool_filters(dirs: tuple[str, ...]) -> dict[int, "BloomFilter"]:
    """Load (and process-cache) the per-bucket Bloom filters of the
    committed blob-table parquet directories — read-only views, shared
    by every caller in the process: never write into them.

    Duplicate buckets across files OR-merge; blobs of different
    geometry refuse to (an OR across geometries would turn false
    positives into false negatives)."""
    hit = _SPOOL_CACHE.get(dirs)
    if hit is None:
        import pyarrow.parquet as pq

        filters: dict[int, BloomFilter] = {}
        for path in _parquet_files(dirs):
            tb = pq.read_table(path, columns=["bucket", "blob"])
            for b, blob in zip(tb.column("bucket").to_pylist(),
                               tb.column("blob").to_pylist()):
                f = BloomFilter.from_bytes(bytes(blob))
                have = filters.get(int(b))
                if have is None:
                    filters[int(b)] = f
                elif (have.n_bits, have.n_hashes) != (f.n_bits, f.n_hashes):
                    raise ValueError(
                        f"bloom blob geometry mismatch in bucket "
                        f"{int(b)}: {(have.n_bits, have.n_hashes)}"
                        f" vs {(f.n_bits, f.n_hashes)}")
                else:
                    filters[int(b)] = BloomFilter(
                        f.n_bits, f.n_hashes, have.bits | f.bits)
        _SPOOL_CACHE.clear()
        _SPOOL_CACHE[dirs] = filters
        hit = filters
    return hit
