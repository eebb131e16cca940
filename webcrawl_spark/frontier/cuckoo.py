"""Cuckoo-filter shards for the URL-seen set — the north rule's named
alternative to the Bloom shard (same role, same bucket-local lifecycle;
see frontier/bloom.py for the scale rationale).

Why offer both: a cuckoo filter (Fan et al., CoNEXT'14 — public
algorithm) supports the same no-false-negative membership probe at a
comparable bit budget, but keeps *fingerprints* in bucketed slots, so at
low load it has a lower FP rate than an equal-size Bloom filter, and
(unlike Bloom) could support deletion — relevant for recrawl pipelines
that expire URLs. The engine treats both through one duck-typed shard
interface (``from_bytes``/``add``/``contains``/``to_bytes``/``merge``);
``shard_from_bytes`` dispatches on a blob magic, so mixed-filter tables
read back correctly.

Layout: 2^b buckets × 4 slots of 16-bit fingerprints (0 = empty).
fp(x) = high 16 hash bits (0 remapped to 1); i1 = h mod nb;
i2 = i1 XOR mix(fp) — the partial-key property lets any stored
(bucket, fp) pair relocate without the original key, which is also what
makes ``merge`` possible from serialized state alone. Keys that still
fail after MAX_KICKS evictions go to a tiny exact overflow list (no
false negatives, ever).
"""

from __future__ import annotations

import numpy as np

from .bloom import BloomShard, _mix, bits_for, optimal_k

__all__ = ["CuckooShard", "shard_from_bytes", "buckets_for", "update_blob"]

MAGIC = 0x43_4B_46_31                   # "CKF1"
SLOTS = 4
MAX_KICKS = 500


def buckets_for(n_keys: int, load: float = 0.84) -> int:
    """Bucket count (power of two) for the target capacity at ~84% load
    (the practical dense-packing bound for 4-slot tables)."""
    need = max(1, int(np.ceil(n_keys / (SLOTS * load))))
    return 1 << max(3, (need - 1).bit_length())


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    fp = (hashes.astype(np.uint64) >> np.uint64(48)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _alt_index(idx: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """i2 = i1 XOR mix(fp) mod nb (nb is a power of two)."""
    mixed = _mix(fp.astype(np.uint64))
    return (idx.astype(np.uint64) ^ mixed) & np.uint64(nb - 1)


class CuckooShard:
    __slots__ = ("nb", "table", "overflow")

    def __init__(self, n_buckets: int,
                 table: np.ndarray | None = None,
                 overflow: np.ndarray | None = None):
        self.nb = int(n_buckets)
        self.table = (table if table is not None
                      else np.zeros((self.nb, SLOTS), dtype=np.uint16))
        self.overflow = (overflow if overflow is not None
                         else np.zeros(0, dtype=np.uint64))

    @classmethod
    def build(cls, hashes: np.ndarray, n_buckets: int) -> "CuckooShard":
        shard = cls(n_buckets)
        shard.add(hashes)
        return shard

    # --- insertion -------------------------------------------------------
    def _insert_fp(self, idx: int, fp: int,
                   rng_state: int) -> tuple[int, int] | None:
        """Place one fingerprint, evicting per the cuckoo walk. Returns
        None on success; on a full walk returns the FINAL homeless
        (bucket, fingerprint) — which after evictions is some *victim's*
        pair, not necessarily the inserted key's. Spilling anything else
        would lose the victim (a false negative)."""
        table = self.table
        cur_idx, cur_fp = np.uint64(idx), np.uint16(fp)
        for kick in range(MAX_KICKS):
            row = table[int(cur_idx)]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = cur_fp
                return None
            alt = int(_alt_index(np.array([cur_idx]), np.array([cur_fp]),
                                 self.nb)[0])
            row_alt = table[alt]
            empty = np.flatnonzero(row_alt == 0)
            if len(empty):
                row_alt[empty[0]] = cur_fp
                return None
            # evict a deterministic slot (keyed on the walk step so the
            # walk doesn't cycle through one slot) and continue from the
            # victim's alternate bucket
            slot = (int(cur_fp) + kick + rng_state) % SLOTS
            victim = int(row_alt[slot])
            row_alt[slot] = cur_fp
            cur_fp = np.uint16(victim)
            cur_idx = np.uint64(alt)
        return int(cur_idx), int(cur_fp)

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        h = np.asarray(hashes).astype(np.uint64)
        fps = _fingerprints(h)
        idxs = (h & np.uint64(self.nb - 1)).astype(np.uint64)
        spill = []
        for j in range(len(h)):
            # skip if already present (idempotent adds keep load down)
            if self._contains_one(int(idxs[j]), int(fps[j])):
                continue
            homeless = self._insert_fp(int(idxs[j]), int(fps[j]), j)
            if homeless is not None:
                spill.append(int(_spill_key(*homeless)[0]))
        if spill:
            self.overflow = np.union1d(self.overflow,
                                       np.array(spill, dtype=np.uint64))

    def _contains_one(self, idx: int, fp: int) -> bool:
        if (self.table[idx] == fp).any():
            return True
        alt = int(_alt_index(np.array([idx]), np.array([fp]), self.nb)[0])
        return bool((self.table[alt] == fp).any())

    # --- probe (vectorized) ----------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership probe → bool array ('maybe seen');
        never a false negative."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        h = np.asarray(hashes).astype(np.uint64)
        fps = _fingerprints(h)
        i1 = (h & np.uint64(self.nb - 1)).astype(np.int64)
        i2 = _alt_index(i1, fps, self.nb).astype(np.int64)
        hit = ((self.table[i1] == fps[:, None]).any(axis=1)
               | (self.table[i2] == fps[:, None]).any(axis=1))
        if len(self.overflow):
            # overflow entries are canonical (fp, bucket) spills; a key
            # matches if fingerprints agree and the spill bucket is either
            # of the key's two buckets ({i1, i2} is closed under the xor)
            o_fp = (self.overflow >> np.uint64(48)).astype(np.uint16)
            o_idx = (self.overflow
                     & np.uint64(self.nb - 1)).astype(np.int64)
            match = (fps[:, None] == o_fp[None, :]) \
                & ((i1[:, None] == o_idx[None, :])
                   | (i2[:, None] == o_idx[None, :]))
            hit |= match.any(axis=1)
        return hit

    # --- merge (relocatable fingerprints) ---------------------------------
    def merge(self, other: "CuckooShard") -> "CuckooShard":
        assert self.nb == other.nb
        occ_idx, occ_slot = np.nonzero(other.table)
        for idx, slot in zip(occ_idx.tolist(), occ_slot.tolist()):
            fp = int(other.table[idx, slot])
            if self._contains_one(idx, fp):
                continue
            homeless = self._insert_fp(idx, fp, slot)
            if homeless is not None:
                self.overflow = np.union1d(
                    self.overflow, _spill_key(*homeless))
        if len(other.overflow):
            self.overflow = np.union1d(self.overflow, other.overflow)
        return self

    # --- (de)serialization -------------------------------------------------
    def to_bytes(self) -> bytes:
        header = np.array([MAGIC, self.nb, len(self.overflow)],
                          dtype=np.int64).tobytes()
        return header + self.table.tobytes() + self.overflow.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooShard":
        magic, nb, n_over = np.frombuffer(blob[:24], dtype=np.int64)
        if magic != MAGIC:
            raise ValueError("not a cuckoo shard blob")
        end = 24 + int(nb) * SLOTS * 2
        table = np.frombuffer(blob[24:end], dtype=np.uint16) \
            .reshape(int(nb), SLOTS).copy()
        overflow = np.frombuffer(
            blob[end:end + int(n_over) * 8], dtype=np.uint64).copy()
        return cls(int(nb), table, overflow)


def _spill_key(idx: int, fp: int) -> np.ndarray:
    """Canonical overflow encoding: fp in the top 16 bits, the spill
    bucket in the low bits — contains() pattern-matches against it."""
    return np.array([(fp << 48) | idx], dtype=np.uint64)


def shard_from_bytes(blob: bytes):
    """Dispatch on the blob magic: cuckoo ("CKF1") else Bloom."""
    if len(blob) >= 24 and np.frombuffer(blob[:8],
                                         dtype=np.int64)[0] == MAGIC:
        return CuckooShard.from_bytes(blob)
    return BloomShard.from_bytes(blob)


def update_blob(old: bytes | None, hashes, engine) -> bytes:
    """One bucket's shard update, the merge kernel of both round executors:
    deserialize ``old`` (or start an ``engine.seen_filter`` shard sized from
    the engine's per-shard key budget), add the signed-int64 Spark xxhash64
    key ``hashes``, re-serialize. Membership is insertion-order-independent."""
    if old is not None:
        shard = shard_from_bytes(old)
    elif engine.seen_filter == "cuckoo":
        shard = CuckooShard(buckets_for(engine.bloom_keys_per_shard))
    else:
        m_bits = bits_for(engine.bloom_keys_per_shard, engine.bloom_fp_rate)
        shard = BloomShard(m_bits, optimal_k(m_bits,
                                             engine.bloom_keys_per_shard))
    hashes = np.asarray(hashes, dtype=np.int64)
    if len(hashes):
        shard.add(hashes.astype(np.uint64))
    return shard.to_bytes()
