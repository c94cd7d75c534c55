"""Partitioned bloom-filter URL-seen set (with cuckoo-filter fallback
for deletions) — SURVEY.md §2.7 / north rule.

Scale design (10^10 URLs): ``df.stat.bloomFilter`` collects to the
driver and is unusable; instead the filter is SHARDED by
``shard_id = pmod(murmur3(canonical_url), S)`` and each shard's bitmap
lives in a ``(shard_id INT, bitmap BINARY, n_items LONG)`` state table.
The crawl wave's seen-set gate (``frontier.shard_gate``, an
``applyInArrow`` cogroup) already loads each shard's bitmap, so it also
folds the shard's new URLs and emits the updated state row; a commit
writes the last wave's rows.  ``frontier.bloom_update`` is the
standalone fold (seed initialization, cuckoo deletions).  State never
leaves the executors, and each shard is touched by exactly one task
(the cogroup shuffles only (shard_id, url_hash) pairs, never payloads).

Membership is approximate-with-no-false-negatives, so the frontier uses
it as a PRE-filter: bloom-negative URLs are definitely new and skip the
exact check; only bloom-positive candidates are looked up in the shard's
exact seen set (``frontier.shard_gate``).  Exact-parity guarantees are
therefore unaffected by false positives.

Bit derivation is double hashing from one xxhash64 (h1 = low 32, h2 =
high 32 | 1; k indexes h1 + i*h2 mod m) — identical in the Spark path
and the single-process oracle.  A shard's lineage fingerprint is
xxhash64 of its bitmap bytes: Spark computes it JVM-side
(``F.xxhash64``) and the oracle with ``content_hash()``; the two are
pinned equal by a test.  Cuckoo shards insert in ``url_hash`` order, so
their tables do not depend on the order rows arrive in.
"""

from __future__ import annotations

import numpy as np

from ..functions.hashing import xxhash64

DEFAULT_BITS_PER_SHARD = 1 << 20  # 128 KiB bitmap per shard
DEFAULT_NUM_HASHES = 7


def _bit_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit indexes from signed-64 xxhash values (vectorized)."""
    unsigned = hashes.astype(np.uint64)
    h1 = (unsigned & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((unsigned >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    steps = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + steps[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


class BloomShard:
    """One shard's bitmap; pure numpy, usable on executors and driver."""

    __slots__ = ("bits", "m_bits", "k", "n_items")

    def __init__(
        self,
        m_bits: int = DEFAULT_BITS_PER_SHARD,
        k: int = DEFAULT_NUM_HASHES,
        bitmap: bytes | None = None,
        n_items: int = 0,
    ) -> None:
        self.m_bits = m_bits
        self.k = k
        self.n_items = n_items
        if bitmap is not None:
            self.bits = np.frombuffer(bitmap, dtype=np.uint8).copy()
        else:
            self.bits = np.zeros(m_bits // 8, dtype=np.uint8)

    def add_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        positions = _bit_positions(np.asarray(hashes, dtype=np.int64), self.m_bits, self.k)
        flat = positions.reshape(-1)
        np.bitwise_or.at(self.bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
        self.n_items += len(hashes)

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        """Boolean array: True → possibly seen, False → definitely new."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        positions = _bit_positions(np.asarray(hashes, dtype=np.int64), self.m_bits, self.k)
        bit_set = (self.bits[positions >> 3] >> (positions & 7)) & 1
        return bit_set.all(axis=1)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    def content_hash(self) -> int:
        """Lineage fingerprint of the bitmap (snapshot per-partition
        ``bloom_shard_hash``); equals Spark's ``xxhash64(bitmap)``."""
        return xxhash64(self.to_bytes())


class CuckooShard:
    """Cuckoo-filter shard — supports DELETION (bloom cannot), used when
    the seen-set must forget URLs (e.g. recrawl policies).

    Buckets of 4 eight-bit fingerprints; partial-key cuckoo hashing:
    alternate bucket = bucket XOR hash(fingerprint).
    """

    __slots__ = ("table", "n_buckets", "n_items", "_evict_seed")

    BUCKET_SIZE = 4
    MAX_KICKS = 500

    def __init__(
        self, n_buckets: int = 1 << 16, table: bytes | None = None, n_items: int = 0
    ) -> None:
        self.n_buckets = n_buckets
        self.n_items = n_items
        if table is not None:
            self.table = np.frombuffer(table, dtype=np.uint8).copy().reshape(
                n_buckets, self.BUCKET_SIZE
            )
        else:
            self.table = np.zeros((n_buckets, self.BUCKET_SIZE), dtype=np.uint8)
        self._evict_seed = 0x9E3779B9

    def _fingerprint(self, h: int) -> int:
        fp = (h >> 16) & 0xFF
        return fp or 1  # 0 marks an empty slot

    def _buckets(self, h: int) -> tuple[int, int]:
        fp = self._fingerprint(h)
        b1 = h % self.n_buckets
        b2 = (b1 ^ (fp * 0x5BD1E995)) % self.n_buckets
        return b1, b2

    def add(self, h: int) -> bool:
        h &= (1 << 64) - 1
        fp = self._fingerprint(h)
        b1, b2 = self._buckets(h)
        for b in (b1, b2):
            row = self.table[b]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                self.n_items += 1
                return True
        # evict loop (deterministic slot choice)
        b = b1
        for kick in range(self.MAX_KICKS):
            slot = (self._evict_seed + kick) % self.BUCKET_SIZE
            fp, self.table[b][slot] = int(self.table[b][slot]), fp
            b = (b ^ (fp * 0x5BD1E995)) % self.n_buckets
            row = self.table[b]
            empty = np.where(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                self.n_items += 1
                return True
        return False  # shard over-full: caller must fall back to exact set

    def contains(self, h: int) -> bool:
        h &= (1 << 64) - 1
        fp = self._fingerprint(h)
        b1, b2 = self._buckets(h)
        return bool((self.table[b1] == fp).any() or (self.table[b2] == fp).any())

    def delete(self, h: int) -> bool:
        h &= (1 << 64) - 1
        fp = self._fingerprint(h)
        for b in self._buckets(h):
            row = self.table[b]
            hits = np.where(row == fp)[0]
            if len(hits):
                row[hits[0]] = 0
                self.n_items -= 1
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    def content_hash(self) -> int:
        return xxhash64(self.to_bytes())

