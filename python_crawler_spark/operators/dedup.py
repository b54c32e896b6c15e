"""Seen-set / dedup operators (SURVEY J1/J6/F7, §2.5).

Replaces the reference's three seen mechanisms — per-row MySQL title
probe (weixin_public.py:109-116), output-file existence checks
(tianyan_crawler.py:131-133, chuansongmen.py:82-84), and the in-memory
signature set (weixin_public.py:55) — with:

1. batch_first_occurrence: within-batch first-occurrence-wins by the
   priority tuple (read-your-own-writes J6, two-phase step 1);
2. anti_join_seen: exact left-anti join against the historical seen
   table (step 2);
3. per-bucket Bloom filters, built and probed with Arrow UDFs over
   hash-bucketed groups — a one-sided-error prefilter so that at
   10^10-URL scale the exact anti-join only sees probable-positive
   candidates. Filters are a binary column per bucket; probe uses
   cogrouped applyInPandas so filter bytes are never replicated per
   candidate row.

Hash scheme: key_hash = xxhash64(dedup_key) computed JVM-side; the k
Bloom positions derive from (h1, h2=splitmix64(h1)) double hashing,
numpy-vectorized — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
BLOOM_K = 7
BLOOM_BITS_PER_ITEM = 10  # ~0.8% FPR at k=7

FILTER_SCHEMA = "bucket int, filter binary, n_items long, m_bits long"


def batch_first_occurrence(
    cand: DataFrame, key: str, order_cols: list[str], order_col=None
) -> DataFrame:
    """Keep the first occurrence of each ``key`` within the batch,
    ordered by the deterministic priority tuple (J6 step 1 —
    first-occurrence-wins by (line_no, page_no, link_idx) order,
    never by task timing).

    Implemented as min_by over the priority ordering rather than a
    row_number window: min_by is a declarative aggregate with partial
    (map-side) combine, so duplicate-heavy batches shrink BEFORE the
    shuffle and no per-key window sort happens.

    ``order_col`` (optional): a single BIGINT column whose numeric
    order equals ``order_cols``'s tuple order — see
    ``scheduler.packed_dedup_order_col``. The struct VALUE buffer
    forces SortAggregate either way, but a one-long comparator vs a
    6-field struct-with-string comparator measured ~35% off this
    stage at 8M rows (every row is compared O(log n) times in the
    sort). The struct path stays as the semantic reference — packed
    callers are pinned equal to it by test."""
    others = [c for c in cand.columns if c != key]
    ordering = (
        order_col
        if order_col is not None
        else F.struct(*[F.col(c) for c in order_cols])
    )
    winner = F.min_by(
        F.struct(*[F.col(c) for c in others]),
        ordering,
    ).alias("_row")
    return cand.groupBy(key).agg(winner).select(key, "_row.*")


def anti_join_seen(cand: DataFrame, seen: DataFrame, key: str = "key_hash") -> DataFrame:
    """Exact historical dedup (J1): candidates not in seen."""
    return cand.join(seen.select(key).distinct(), key, "left_anti")


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Public-domain splitmix64 finalizer — second hash for double
    hashing, vectorized over uint64 arrays."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)) & MASK64
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK64
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK64
    return z ^ (z >> np.uint64(31))


def _positions(h: np.ndarray, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing g_i = h1 + i*h2."""
    h1 = h.astype(np.int64).view(np.uint64)
    h2 = _splitmix64(h1) | np.uint64(1)
    ks = np.arange(BLOOM_K, dtype=np.uint64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) & MASK64) % np.uint64(m_bits)


def _bits_for(n_items: int) -> int:
    m = max(1024, n_items * BLOOM_BITS_PER_ITEM)
    return 1 << int(m - 1).bit_length()  # next pow2


def build_bloom_filters(seen: DataFrame, key: str = "key_hash", bucket: str = "bucket") -> DataFrame:
    """Per-bucket Bloom filters as (bucket, filter, n_items, m_bits).

    One Arrow batch per bucket group; bit-setting is pure numpy.
    Rebuilt per snapshot round — the seen set only grows, so no
    deletion support is needed (SURVEY §7)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf[key].to_numpy(dtype=np.int64)
        m_bits = _bits_for(len(h))
        pos = _positions(h, m_bits).ravel()
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        np.bitwise_or.at(bits, pos // 8, np.uint8(1) << (pos % 8).astype(np.uint8))
        return pd.DataFrame(
            {
                "bucket": [int(pdf[bucket].iloc[0])],
                "filter": [bits.tobytes()],
                "n_items": [len(h)],
                "m_bits": [m_bits],
            }
        )

    return seen.select(bucket, key).groupBy(bucket).applyInPandas(build, FILTER_SCHEMA)


def bloom_prefilter(
    cand: DataFrame, filters: DataFrame, key: str = "key_hash", bucket: str = "bucket"
) -> DataFrame:
    """Flag candidates that MIGHT be in seen (cogrouped per bucket:
    each task sees its bucket's candidate rows plus the one filter row,
    so filter bytes cross the wire once per bucket, not once per row).

    One-sided error: might_seen=False rows are DEFINITELY new;
    might_seen=True rows need the exact anti-join to confirm."""
    out_schema = cand.withColumn("might_seen", F.lit(False)).schema

    def probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if filt_pdf.empty:
            return cand_pdf.assign(might_seen=False)
        blob = filt_pdf["filter"].iloc[0]
        m_bits = int(filt_pdf["m_bits"].iloc[0])
        bits = np.frombuffer(blob, dtype=np.uint8)
        h = cand_pdf[key].to_numpy(dtype=np.int64)
        pos = _positions(h, m_bits)
        hit = (bits[pos // 8] & (np.uint8(1) << (pos % 8).astype(np.uint8))) != 0
        return cand_pdf.assign(might_seen=hit.all(axis=1))

    return (
        cand.groupBy(bucket)
        .cogroup(filters.groupBy(bucket))
        .applyInPandas(probe, out_schema)
    )


def bloom_prefilter_broadcast(
    cand: DataFrame,
    filters: DataFrame,
    key: str = "key_hash",
    bucket: str = "bucket",
) -> DataFrame:
    """Broadcast variant of :func:`bloom_prefilter`: when all bucket
    filters together fit in executor memory (the common case until the
    seen set reaches billions), ship them once per executor and probe
    with a scalar pandas UDF — zero additional shuffle, no cogroup.

    The pipeline stays identical; only the physical strategy changes —
    the same adaptive choice Spark makes between broadcast-hash and
    shuffle joins."""
    spark = cand.sparkSession
    rows = filters.collect()
    blobs = {int(r["bucket"]): (np.frombuffer(r["filter"], dtype=np.uint8), int(r["m_bits"])) for r in rows}
    bc = spark.sparkContext.broadcast(blobs)

    @F.pandas_udf("boolean")
    def might(bkt: pd.Series, kh: pd.Series) -> pd.Series:
        table = bc.value
        out = np.zeros(len(kh), dtype=bool)
        b_arr = bkt.to_numpy(dtype=np.int64)
        h_arr = kh.to_numpy(dtype=np.int64)
        for b in np.unique(b_arr):
            ent = table.get(int(b))
            if ent is None:
                continue
            bits, m_bits = ent
            m = b_arr == b
            pos = _positions(h_arr[m], m_bits)
            hit = (bits[pos // 8] & (np.uint8(1) << (pos % 8).astype(np.uint8))) != 0
            out[m] = hit.all(axis=1)
        return pd.Series(out)

    return cand.withColumn("might_seen", might(F.col(bucket), F.col(key)))


# total serialized filter size below which the broadcast probe is used
BLOOM_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def dedup_against_seen(
    cand: DataFrame,
    seen: DataFrame,
    filters: DataFrame | None,
    key: str = "key_hash",
    seen_unique: bool = False,
    filters_total_bytes: int | None = None,
    prefilter_broadcast=None,
    prefilter=None,
    size_expr: str = "m_bits / 8",
) -> DataFrame:
    """Full two-phase historical dedup: probabilistic prefilter (when
    filters provided) then exact anti-join on ONLY the probable-positive
    rows. Correct under prefilter false positives because the exact
    join is the last word; no false negatives by filter construction.

    The prefilter defaults to the per-bucket Bloom pair; pass the
    cuckoo pair (:mod:`operators.cuckoo`, via
    ``dedup_against_seen_cuckoo``) for deletable filters with ~60x
    lower FPR at 3x the bits/item.

    Physical strategy is adaptive: filters small enough to broadcast
    -> per-executor probe (no shuffle); otherwise cogrouped probe
    co-partitioned by bucket (the 10^10-seen path)."""
    if filters is not None:
        pb = prefilter_broadcast or bloom_prefilter_broadcast
        pc = prefilter or bloom_prefilter
        total = filters_total_bytes
        if total is None:
            total = filters.agg(F.sum(F.expr(size_expr))).first()[0] or 0
        if total <= BLOOM_BROADCAST_MAX_BYTES:
            flagged = pb(cand, filters, key=key)
        else:
            flagged = pc(cand, filters, key=key)
        # single anti-join with a compound condition: rows with
        # might_seen=false can never match, so they pass through
        # WITHOUT a second evaluation of the upstream pipeline (a
        # filter/union split would compute enrich+probe twice), and
        # the join's build side stays the seen keys.
        seen_keys = seen.select(F.col(key).alias("_seen_key"))
        if not seen_unique:
            seen_keys = seen_keys.distinct()
        cond = (F.col(key) == F.col("_seen_key")) & F.col("might_seen")
        return flagged.join(seen_keys, cond, "left_anti").drop("might_seen")
    return anti_join_seen(cand, seen, key)
