"""Cuckoo-filter seen-set prefilter (operators/cuckoo.py).

Numpy-core properties (no Spark needed): zero false negatives, low
FPR, exact deletion, stash correctness. The Spark side (two-phase
dedup with the cuckoo family equals the exact anti-join through both
probes) is tests/test_dedup.py::test_two_phase_equals_exact.
"""

from __future__ import annotations

import numpy as np
import pytest

from python_crawler_spark.operators.cuckoo import (
    MAX_STASH,
    _build_one,
    _delete_one,
    _probe_one,
)


def _keys(rng, n):
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


@pytest.mark.parametrize("n", [0, 1, 7, 1000, 50_000])
def test_no_false_negatives(n):
    rng = np.random.default_rng(7 + n)
    h = _keys(rng, n)
    filt = _build_one(h)
    assert _probe_one(filt, h).all() if n else True
    assert len(filt["stash_fp"]) <= MAX_STASH


def test_false_positive_rate_low():
    rng = np.random.default_rng(11)
    inserted = _keys(rng, 100_000)
    filt = _build_one(inserted)
    probe = _keys(rng, 200_000)
    fresh = probe[~np.isin(probe, inserted)]
    fpr = _probe_one(filt, fresh).mean()
    # 8 candidate slots x 2^-16 fp collision ~= 1.2e-4; allow 5x slack
    assert fpr < 6e-4, fpr


def test_delete_is_exact_for_members():
    rng = np.random.default_rng(13)
    h = np.unique(_keys(rng, 20_000))
    filt = _build_one(h)
    gone, kept = h[:5_000], h[5_000:]
    filt2 = _delete_one(filt, gone)
    # remaining members: still zero false negatives (the Bloom path
    # cannot make this guarantee after any deletion at all)
    assert _probe_one(filt2, kept).all()
    # deleted members mostly absent (a residual hit is a genuine
    # fingerprint collision with a kept key, i.e. ordinary FPR)
    assert _probe_one(filt2, gone).mean() < 6e-4
    # original untouched (copy-on-delete)
    assert _probe_one(filt, gone).all()


def test_stash_used_and_probed():
    # adversarial: force many keys into the same pair of tiny-m buckets
    # by building from few distinct values' worth of collisions — easier:
    # shrink effective m by inserting ~4x a bucket's capacity of keys
    # that share i1 via crafted low bits. Build must not drop keys.
    rng = np.random.default_rng(17)
    base = _keys(rng, 600)
    h = (base & ~np.int64(0xFFFF)) | np.int64(3)  # same low 16 bits
    filt = _build_one(h)
    assert _probe_one(filt, np.unique(h)).all()


def _delete_one_reference(filt, h):
    """Sequential-loop reference (the pre-round-5 implementation of
    _delete_one), kept verbatim as the parity oracle for the
    vectorized majority path."""
    from python_crawler_spark.operators.cuckoo import (
        SLOTS_PER_BUCKET,
        _fingerprints,
        _index_pair,
    )

    m = int(filt["m_buckets"])
    slots = filt["slots"].copy().reshape(m, SLOTS_PER_BUCKET)
    stash_fp = filt["stash_fp"].copy()
    stash_idx = filt["stash_idx"].copy()
    h = np.unique(h)
    fp = _fingerprints(h)
    i1, i2 = _index_pair(h, fp, m)
    stash_keep = np.ones(len(stash_fp), dtype=bool)
    for k in range(len(h)):
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


@pytest.mark.parametrize("seed", [0, 1, 2, 7])
def test_vectorized_delete_matches_sequential_reference(seed):
    """The round-5 vectorized _delete_one must leave the filter in a
    state EQUIVALENT to the sequential reference for every batch —
    including batches engineered to collide (duplicate keys resolved
    by np.unique, different keys sharing a bucket, stash residents).
    Slot ORDER within a bucket may differ (which copy of a repeated
    fingerprint is cleared is unspecified); the multiset of remaining
    fingerprints per bucket is the contract — every later probe sees
    identical membership."""
    from python_crawler_spark.operators.cuckoo import SLOTS_PER_BUCKET, _probe_one

    rng = np.random.default_rng(seed)
    h = _keys(rng, 5000)
    filt = _build_one(h)
    # delete a mix: members, duplicates in the batch, and dense ranges
    # (dense int64 keys collide in buckets far more than uniform ones)
    gone = np.concatenate([h[::3], h[:50], np.sort(h)[:200]])
    got = _delete_one(filt, gone)
    want = _delete_one_reference(filt, gone)
    m = int(filt["m_buckets"])
    gs = np.sort(got["slots"].reshape(m, SLOTS_PER_BUCKET), axis=1)
    ws = np.sort(want["slots"].reshape(m, SLOTS_PER_BUCKET), axis=1)
    assert (gs == ws).all(), "per-bucket fingerprint multisets diverged"
    assert got["n_items"] == want["n_items"]
    assert np.array_equal(np.sort(got["stash_fp"]), np.sort(want["stash_fp"]))
    # behavioral check: survivors still probe as present
    kept = np.setdiff1d(h, gone)
    assert _probe_one(got, kept).all()
