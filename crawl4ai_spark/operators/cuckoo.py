"""Partitioned cuckoo-filter kernel for the URL-seen set.

BASELINE.json's north_star names this structure exactly: "a partitioned
cuckoo-filter URL-seen set (canonicalized URL -> xxhash64 fingerprint)".
The reference engine keeps a driver-side ``visited: Set[str]``
(deep_crawling/bfs_strategy.py:106-121); at a 10^10-URL frontier the
probabilistic sidecar is what makes the membership test a broadcast
instead of a shuffle (operators/seen.py has the full topology story —
this module is only the per-shard filter codec).

Design follows the published cuckoo-filter construction (Fan, Andersen,
Kaminsky, Mitzenmacher, CoNEXT 2014): f-bit fingerprints in buckets of
``b=4`` slots; a key's two candidate buckets are partial-key linked,

    i1 = (h >> 16)            mod m
    i2 = i1 XOR H(fingerprint) mod m        (m a power of two)

so either bucket index plus the stored fingerprint recovers the other —
eviction (and deletion) never needs the original key. vs a bloom
filter: supports O(1) DELETE (bloom bits can't be unset), and lookup
touches exactly 2 cache lines instead of k scattered bits; cost is ~24
bits/key at the 0.84 target load.

Everything is vectorized numpy over the int64 xxhash64 column: build is
two bulk greedy placement passes (sort + rank-within-bucket) with the
classic random-walk eviction loop only for the stragglers; lookup is a
two-gather compare. No per-row Python on the hot path.
"""

from __future__ import annotations

import numpy as np

SLOTS = 4            # b: slots per bucket (paper's sweet spot)
FP_BITS = 16         # f: fingerprint bits (uint16 table; 0 = empty)
TARGET_LOAD = 0.84   # sizing target; kicks keep it feasible (paper: <=0.95)
MAX_KICKS = 500


def _mix(hashes: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over the int64 keys.

    The codec must not assume its input is already uniform: structured
    keys (sequential ids, timestamps) put every key's primary bucket in
    the same place — (h >> 16) collapses for small ints — which
    degenerates the two-choice scheme to one choice and overflows the
    build far below the target load. Mixing makes bucket1/fingerprint
    independent uniform functions of the key for ANY input. (Layout
    change: sidecars built before the mixer can't be probed by this
    code — rebuild them.)"""
    z = hashes.astype(np.int64).view(np.uint64).copy()
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """Nonzero 16-bit fingerprint from the mixed low bits (0 = empty)."""
    fp = (_mix(hashes) & np.uint64(0xFFFF)).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)


def _fp_hash(fp: np.ndarray, m: int) -> np.ndarray:
    """H(fingerprint) for partial-key bucket linking (odd multiplier)."""
    return ((fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % np.uint64(m)).astype(
        np.int64
    )


def _bucket1(hashes: np.ndarray, m: int) -> np.ndarray:
    return ((_mix(hashes) >> np.uint64(16)) % np.uint64(m)).astype(np.int64)


def _alt_bucket(bucket: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    return (bucket ^ _fp_hash(fp, m)) & (m - 1)


def size_for(n_keys: int) -> int:
    """Number of buckets: power of two covering n_keys at TARGET_LOAD."""
    need = max(64, int(np.ceil(n_keys / (SLOTS * TARGET_LOAD))))
    return 1 << int(np.ceil(np.log2(need)))


def _bulk_place(table: np.ndarray, buckets: np.ndarray,
                fps: np.ndarray) -> np.ndarray:
    """Greedy placement of (bucket, fp) pairs into free slots, one pass.

    Sort by bucket; each key's rank within its bucket group plus the
    bucket's current occupancy picks a slot. Returns the boolean mask of
    keys that did NOT fit (bucket already full).
    """
    if len(buckets) == 0:
        return np.zeros(0, dtype=bool)
    occ = (table != 0).sum(axis=1)  # current occupancy per bucket
    order = np.argsort(buckets, kind="stable")
    b_sorted = buckets[order]
    # rank of each key within its bucket group
    new_group = np.empty(len(b_sorted), dtype=bool)
    new_group[0] = True
    new_group[1:] = b_sorted[1:] != b_sorted[:-1]
    group_start = np.maximum.accumulate(
        np.where(new_group, np.arange(len(b_sorted)), 0)
    )
    rank = np.arange(len(b_sorted)) - group_start
    slot = occ[b_sorted] + rank
    fits = slot < SLOTS
    table[b_sorted[fits], slot[fits]] = fps[order][fits]
    overflow = np.zeros(len(buckets), dtype=bool)
    overflow[order[~fits]] = True
    return overflow


def build(hashes: np.ndarray, m: int | None = None) -> tuple[int, np.ndarray]:
    """Build a cuckoo table from int64 hashes; returns (m, table[m,4])."""
    hashes = np.unique(np.asarray(hashes, dtype=np.int64))
    if m is None:
        m = size_for(len(hashes))
    table = np.zeros((m, SLOTS), dtype=np.uint16)
    fp = _fingerprints(hashes)
    i1 = _bucket1(hashes, m)
    i2 = _alt_bucket(i1, fp, m)
    # same (bucket, fp) pair = same evidence; storing once keeps slots
    # for real keys (lookup semantics are identical)
    _, keep = np.unique(
        (i1.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64),
        return_index=True,
    )
    fp, i1, i2 = fp[keep], i1[keep], i2[keep]

    pending = _bulk_place(table, i1, fp)
    if pending.any():
        pending_idx = np.flatnonzero(pending)
        over2 = _bulk_place(table, i2[pending_idx], fp[pending_idx])
        pending_idx = pending_idx[over2]
    else:
        pending_idx = np.empty(0, dtype=np.int64)

    # stragglers: classic random-walk eviction (deterministic walk here —
    # rotate the victim slot by attempt count so reruns are reproducible)
    for j in pending_idx:
        cur_fp = fp[j]
        cur_b = int(i1[j])
        placed = False
        for kick in range(MAX_KICKS):
            row = table[cur_b]
            free = np.flatnonzero(row == 0)
            if len(free):
                table[cur_b, free[0]] = cur_fp
                placed = True
                break
            victim_slot = kick % SLOTS
            victim_fp = row[victim_slot]
            table[cur_b, victim_slot] = cur_fp
            cur_fp = victim_fp
            cur_b = int(
                (cur_b ^ _fp_hash(np.array([victim_fp], np.uint16), m)[0])
                & (m - 1)
            )
        if not placed:
            raise OverflowError(
                f"cuckoo filter over capacity (m={m}, keys={len(hashes)})"
            )
    return m, table


def contains(hashes: np.ndarray, m: int, table: np.ndarray) -> np.ndarray:
    """Vectorized membership: True where the hash MIGHT be present.

    No false negatives for keys inserted via build/insert; false
    positives ~ 2*SLOTS/2^FP_BITS (~0.012%) plus duplicate-fp collisions.
    """
    hv = np.asarray(hashes, dtype=np.int64)
    fp = _fingerprints(hv)
    i1 = _bucket1(hv, m)
    i2 = _alt_bucket(i1, fp, m)
    return (table[i1] == fp[:, None]).any(axis=1) | (
        table[i2] == fp[:, None]
    ).any(axis=1)


def delete(hashes: np.ndarray, m: int, table: np.ndarray) -> np.ndarray:
    """Remove one stored fingerprint per present hash (cuckoo's headline
    capability vs a bloom filter). Returns the mask of hashes actually
    removed."""
    hv = np.asarray(hashes, dtype=np.int64)
    fp = _fingerprints(hv)
    i1 = _bucket1(hv, m)
    i2 = _alt_bucket(i1, fp, m)
    removed = np.zeros(len(hv), dtype=bool)
    for j in range(len(hv)):
        for b in (int(i1[j]), int(i2[j])):
            slots = np.flatnonzero(table[b] == fp[j])
            if len(slots):
                table[b, slots[0]] = 0
                removed[j] = True
                break
    return removed


def test_any(hashes: np.ndarray,
             filters: list[tuple[int, int, np.ndarray]]) -> np.ndarray:
    """True where a hash might be in ANY of the (m, slots, table-bytes)
    sidecar rows (seen.SIDECAR_SCHEMA); hashes already found skip the
    remaining tables."""
    out = np.zeros(len(hashes), dtype=bool)
    for m, _slots, raw in filters:
        pending = ~out
        if not pending.any():
            break
        arr = raw if isinstance(raw, np.ndarray) else np.frombuffer(raw, np.uint8)
        table = arr.view(np.uint16).reshape(m, SLOTS)
        out[pending] = contains(hashes[pending], m, table)
    return out
