"""Cuckoo-filter seen-set prefilter (SURVEY J1; north_rule's
"Bloom/cuckoo-filter URL-seen set maintained per hash-bucketed
partition via vectorized pandas/Arrow UDFs").

A second filter family (``CUCKOO``) for :mod:`operators.dedup`'s one
build, probe and two-phase dedup: only the kernels below differ from
the Bloom family, with the cuckoo filter's distinct tradeoffs:

* **deletion support**: a fingerprint can be removed exactly (needed
  when seen entries are retracted, e.g. a robots rule change
  invalidates a host's history mid-crawl); Bloom bits cannot be
  cleared without rebuilding.
* **lower FPR at the chosen geometry**: 16-bit fingerprints x 8
  candidate slots ~= 1.2e-4 false-positive rate vs the Bloom path's
  ~0.8%, ~60x fewer false flags. (The flag is a condition on one
  left-anti join that still shuffles every candidate and seen key, so
  today a lower FPR changes no join input.)
* **space**: sized at load factor <= 0.5 (2n slots of 2 bytes = 32
  bits/item) vs Bloom's 10 bits/item — the price of vectorized
  eviction-free construction (below) and deletability.

Design (partial-key cuckoo filter, Fan et al. 2014, public paper):
each key stores a 16-bit fingerprint in one of two buckets,
i1 = h mod m and i2 = i1 XOR (splitmix64(fp) mod m), m a power of two
so i1 <-> i2 is an involution computable from (index, fp) alone.
The classic insert does a per-item random-walk eviction loop — a
Python-level loop per element, exactly what this package bans. We
instead build with **two vectorized placement rounds + a stash**
(cuckoo hashing with a stash, Kirsch/Mitzenmacher/Wieder 2010):

  round 1: every key tries i1; within each bucket the first 4 (sorted
           stable by key order) win slots — pure argsort/cumcount;
  round 2: losers try i2 against remaining capacity, same way;
  stash:   the tiny remainder (empirically zero at load 0.5; bound
           enforced) goes to a linear-probed stash array.

Probe checks slots[i1], slots[i2], stash — all numpy, no per-row
Python anywhere. A build that would overflow the stash doubles m and
retries (never silently drops: a dropped key would be a FALSE
NEGATIVE, breaking the one-sided-error contract the exact join
relies on).

Reference analog: the same seen mechanisms dedup.py replaces
(weixin_public.py:109-116, tianyan_crawler.py:131-133).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from python_crawler_spark.operators.dedup import (
    FilterFamily,
    _splitmix64,
    build_filters,
    dedup_against_seen,
)

SLOTS_PER_BUCKET = 4
FP_BITS = 16
MAX_STASH = 64

CUCKOO_SCHEMA = (
    "bucket int, slots binary, stash_fp binary, stash_idx binary, "
    "n_items long, m_buckets long"
)


def _fingerprints(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from the top bits of key_hash
    (disjoint from the index bits, which come from the bottom)."""
    fp = ((h.astype(np.int64).view(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(
        np.uint16
    )
    fp[fp == 0] = 1  # 0 is the empty-slot sentinel
    return fp


def _index_pair(h: np.ndarray, fp: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """(i1, i2) candidate buckets; m power of two -> i2^alt(fp) == i1."""
    mm = np.uint64(m)
    i1 = (h.astype(np.int64).view(np.uint64) % mm).astype(np.int64)
    i2 = (i1.view(np.uint64) ^ (_splitmix64(fp.astype(np.uint64)) % mm)).astype(np.int64)
    return i1, i2


def _place_round(
    want_idx: np.ndarray, items: np.ndarray, occupancy: np.ndarray
) -> np.ndarray:
    """Vectorized one-round placement: among ``items`` (positions into
    the caller's arrays) wanting bucket ``want_idx[items]``, grant slots
    first-come (stable) up to each bucket's free capacity. Returns the
    boolean placed-mask over ``items``; updates ``occupancy`` in place."""
    idx = want_idx[items]
    order = np.argsort(idx, kind="stable")
    sorted_idx = idx[order]
    # rank of each item within its bucket group (0,1,2,... per bucket)
    first = np.searchsorted(sorted_idx, sorted_idx, side="left")
    rank = np.arange(len(sorted_idx)) - first
    free = SLOTS_PER_BUCKET - occupancy[sorted_idx]
    win_sorted = rank < free
    placed = np.zeros(len(items), dtype=bool)
    placed[order] = win_sorted
    np.add.at(occupancy, idx[placed], 1)
    return placed


def _build_one(h: np.ndarray) -> dict:
    """Build one bucket's cuckoo filter from unique int64 key hashes."""
    h = np.unique(h)
    n = len(h)
    # capacity 2n at 4 slots/bucket -> load factor 0.5
    m = 1 << max(8, int(np.ceil(n / 2)) - 1).bit_length()
    fp_all = _fingerprints(h)
    while True:
        i1, i2 = _index_pair(h, fp_all, m)
        occupancy = np.zeros(m, dtype=np.int64)
        items = np.arange(n)
        placed1 = _place_round(i1, items, occupancy)
        rest = items[~placed1]
        placed2 = _place_round(i2, rest, occupancy)
        stash_items = rest[~placed2]
        if len(stash_items) <= MAX_STASH:
            break
        m *= 2  # retry larger: NEVER drop a key (false negative)

    # materialize slot array: stable-sort placed items by target bucket,
    # scatter into bucket-major slot positions
    slots = np.zeros(m * SLOTS_PER_BUCKET, dtype=np.uint16)
    for idx_arr, mask_items in ((i1, np.flatnonzero(placed1)), (i2, rest[placed2])):
        tgt = idx_arr[mask_items]
        order = np.argsort(tgt, kind="stable")
        tgt_s = tgt[order]
        first = np.searchsorted(tgt_s, tgt_s, side="left")
        rank = np.arange(len(tgt_s)) - first
        # occupy slots AFTER any earlier round's fill in the same bucket
        base = np.zeros(m, dtype=np.int64) if idx_arr is i1 else _bucket_fill(slots, m)
        slots[tgt_s * SLOTS_PER_BUCKET + base[tgt_s] + rank] = fp_all[mask_items][order]

    cmin = np.minimum(i1, i2)
    return {
        "slots": slots,
        "stash_fp": fp_all[stash_items],
        "stash_idx": cmin[stash_items].astype(np.int64),
        "n_items": n,
        "m_buckets": m,
    }


def _bucket_fill(slots: np.ndarray, m: int) -> np.ndarray:
    """Per-bucket count of occupied slots (nonzero fingerprints)."""
    return (slots.reshape(m, SLOTS_PER_BUCKET) != 0).sum(axis=1)


def _probe_one(filt: dict, h: np.ndarray) -> np.ndarray:
    """Vectorized membership probe -> bool array (one-sided error:
    False = definitely not inserted)."""
    m = int(filt["m_buckets"])
    slots = filt["slots"].reshape(m, SLOTS_PER_BUCKET)
    fp = _fingerprints(h)
    i1, i2 = _index_pair(h, fp, m)
    hit = (slots[i1] == fp[:, None]).any(axis=1) | (slots[i2] == fp[:, None]).any(axis=1)
    if len(filt["stash_fp"]):
        cmin = np.minimum(i1, i2)
        hit |= (
            (fp[:, None] == filt["stash_fp"][None, :])
            & (cmin[:, None] == filt["stash_idx"][None, :])
        ).any(axis=1)
    return hit


def _delete_one(filt: dict, h: np.ndarray) -> dict:
    """Exact deletion of previously-inserted keys (the capability Bloom
    lacks): clear ONE matching fingerprint per key from i1/i2/stash.
    Deleting a never-inserted key may evict a colliding fingerprint
    (standard cuckoo-filter caveat) — callers delete only known
    members. Returns a new filter dict; input is not mutated."""
    m = int(filt["m_buckets"])
    slots = filt["slots"].copy().reshape(m, SLOTS_PER_BUCKET)
    stash_fp = filt["stash_fp"].copy()
    stash_idx = filt["stash_idx"].copy()
    h = np.unique(h)
    fp = _fingerprints(h)
    i1, i2 = _index_pair(h, fp, m)
    stash_keep = np.ones(len(stash_fp), dtype=bool)
    # Vectorized majority (VERDICT r4 next-round #8): each key clears
    # ONE slot in its chosen bucket (i1 if it holds the fingerprint,
    # else i2). Keys whose chosen (bucket, fingerprint) pair is UNIQUE
    # within the batch can't race each other, so their first-matching
    # slot is cleared in one fancy-indexed write; only keys SHARING a
    # (bucket, fp) pair (several copies of the same fingerprint to
    # clear from one bucket) plus stash-resident keys fall back to the
    # sequential path — both rare.
    n = len(h)
    if n:
        match1 = slots[i1] == fp[:, None]
        has1 = match1.any(axis=1)
        chosen = np.where(has1, i1, i2)
        matchc = slots[chosen] == fp[:, None]
        hasc = matchc.any(axis=1)
        firstc = matchc.argmax(axis=1)
        pair = chosen.astype(np.int64) * (1 << 32) + fp.astype(np.int64)
        _, inv, cnt = np.unique(pair, return_inverse=True, return_counts=True)
        solo = (cnt[inv] == 1) & hasc
        slots[chosen[solo], firstc[solo]] = 0
        rest = np.flatnonzero(~solo)
    else:
        rest = np.arange(0)
    for k in rest:
        done = False
        for idx in (i1[k], i2[k]):
            sl = slots[idx]
            where = np.flatnonzero(sl == fp[k])
            if len(where):
                sl[where[0]] = 0
                done = True
                break
        if not done and len(stash_fp):
            cm = min(i1[k], i2[k])
            where = np.flatnonzero(stash_keep & (stash_fp == fp[k]) & (stash_idx == cm))
            if len(where):
                stash_keep[where[0]] = False
    return {
        "slots": slots.ravel(),
        "stash_fp": stash_fp[stash_keep],
        "stash_idx": stash_idx[stash_keep],
        "n_items": int(filt["n_items"]) - len(h),
        "m_buckets": m,
    }


def _to_row(filt: dict) -> dict:
    """A filter dict -> its CUCKOO_SCHEMA fields (``bucket`` aside)."""
    return {
        "slots": filt["slots"].tobytes(),
        "stash_fp": filt["stash_fp"].astype(np.uint16).tobytes(),
        "stash_idx": filt["stash_idx"].astype(np.int64).tobytes(),
        "n_items": int(filt["n_items"]),
        "m_buckets": int(filt["m_buckets"]),
    }


def _from_row(r) -> dict:
    return {
        "slots": np.frombuffer(r["slots"], dtype=np.uint16),
        "stash_fp": np.frombuffer(r["stash_fp"], dtype=np.uint16),
        "stash_idx": np.frombuffer(r["stash_idx"], dtype=np.int64),
        "n_items": int(r["n_items"]),
        "m_buckets": int(r["m_buckets"]),
    }


CUCKOO = FilterFamily(
    schema=CUCKOO_SCHEMA,
    build=lambda h: _to_row(_build_one(h)),
    load=_from_row,
    probe=_probe_one,
    size_sql="octet_length(slots) + 10 * octet_length(stash_fp)",
)


def build_cuckoo_filters(seen: DataFrame) -> DataFrame:
    """Per-bucket cuckoo filters as CUCKOO_SCHEMA rows."""
    return build_filters(seen, CUCKOO)


def dedup_against_seen_cuckoo(
    cand: DataFrame, seen: DataFrame, filters: DataFrame, **kw
) -> DataFrame:
    """:func:`dedup.dedup_against_seen` with cuckoo ``filters``."""
    return dedup_against_seen(cand, seen, filters, family=CUCKOO, **kw)
