"""Vectorized Bloom filter for the broadcast URL-seen pre-filter.

The north rule's seen set is too big to broadcast exactly at 10^10 URLs
(SURVEY.md §7 "Hard parts" #6), so the frontier broadcasts a Bloom
filter as a *pre-filter only*: candidates the Bloom definitely hasn't
seen skip the exact anti-join against the partitioned ``seen`` table;
possible-positives still go through the join, so correctness never
depends on the Bloom (false positives cost a join probe, nothing else).

Pure numpy + pandas: hashing is ``pd.util.hash_pandas_object`` (a
vectorized 64-bit hash over the whole Series at once — no per-row
Python), expanded to k index positions by standard double hashing
h_i = h1 + i*h2 (Kirsch–Mitzenmacher).  The filter pickles cleanly for
``sc.broadcast`` and supports sharding by ``pmod(h1, n_shards)`` so a
10^10-key filter splits across several broadcasts.  At 1% FPR the
filter needs -ln(0.01)/ln(2)^2 ~ 9.6 bits per key, so 10^10 keys take
~12 GB in total.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_KEY1 = "0123456789123456"  # 16-char hash keys (pandas requirement)
_KEY2 = "fedcba9876543210"


def _hashes(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    s = values.astype("object")
    h1 = pd.util.hash_pandas_object(s, index=False, hash_key=_KEY1).to_numpy()
    h2 = pd.util.hash_pandas_object(s, index=False, hash_key=_KEY2).to_numpy()
    # force h2 odd so the double-hash stride never degenerates mod 2^i
    return h1, (h2 | np.uint64(1))


class BloomFilter:
    """Fixed-size bit-array Bloom filter with vectorized batch ops."""

    __slots__ = ("m", "k", "bits")

    def __init__(self, capacity: int, fpp: float = 0.01):
        capacity = max(int(capacity), 1)
        m = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
        self.m = ((m + 63) // 64) * 64
        self.k = max(1, round(self.m / capacity * math.log(2)))
        self.bits = np.zeros(self.m // 64, dtype=np.uint64)

    def _positions(self, values: pd.Series) -> np.ndarray:
        h1, h2 = _hashes(values)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) % np.uint64(self.m)

    def add(self, values: pd.Series) -> None:
        if len(values) == 0:
            return
        pos = self._positions(values).ravel()
        np.bitwise_or.at(
            self.bits, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def might_contain(self, values: pd.Series) -> np.ndarray:
        """Boolean numpy array; False = definitely never added."""
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(values)
        word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
        hit = (word >> (pos & np.uint64(63))) & np.uint64(1)
        return hit.all(axis=0).astype(bool)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m == other.m and self.k == other.k
        self.bits |= other.bits
        return self

    @property
    def nbytes(self) -> int:
        return self.bits.nbytes


class ShardedBloom:
    """N independent Bloom shards addressed by h1 mod n_shards — the
    broadcast-lifecycle unit for 10^10-key seen sets.  With n_shards=1
    it is a single filter: ``add`` and ``might_contain`` skip the shard
    routing and call that filter directly."""

    __slots__ = ("shards",)

    def __init__(self, capacity: int, fpp: float = 0.01, n_shards: int = 1):
        per = max(1, capacity // max(n_shards, 1))
        self.shards = [BloomFilter(per, fpp) for _ in range(max(n_shards, 1))]

    def _shard_ids(self, values: pd.Series) -> np.ndarray:
        h1, _ = _hashes(values)
        return (h1 % np.uint64(len(self.shards))).astype(np.int64)

    def add(self, values: pd.Series) -> None:
        if len(self.shards) == 1:
            return self.shards[0].add(values)
        sid = self._shard_ids(values)
        for i, shard in enumerate(self.shards):
            sel = values[sid == i]
            if len(sel):
                shard.add(sel)

    def might_contain(self, values: pd.Series) -> np.ndarray:
        if len(self.shards) == 1:
            return self.shards[0].might_contain(values)
        out = np.zeros(len(values), dtype=bool)
        sid = self._shard_ids(values)
        arr = values.reset_index(drop=True)
        for i, shard in enumerate(self.shards):
            mask = sid == i
            if mask.any():
                out[mask] = shard.might_contain(arr[mask])
        return out

    def merge(self, other: "ShardedBloom") -> "ShardedBloom":
        for mine, theirs in zip(self.shards, other.shards):
            mine.merge(theirs)
        return self

    @property
    def nbytes(self) -> int:
        return sum(s.nbytes for s in self.shards)
