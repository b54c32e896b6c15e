"""Seen-set / dedup operators (SURVEY J1/J6/F7, §2.5).

Replaces the reference's three seen mechanisms — per-row MySQL title
probe (weixin_public.py:109-116), output-file existence checks
(tianyan_crawler.py:131-133, chuansongmen.py:82-84), and the in-memory
signature set (weixin_public.py:55) — with:

1. batch_first_occurrence: within-batch first-occurrence-wins by the
   priority tuple (read-your-own-writes J6, two-phase step 1);
   frontier_first_occurrence is its one frontier call;
2. anti_join_seen: exact left-anti join against the historical seen
   table (step 2);
3. per-bucket seen-set filters, built and probed with Arrow UDFs over
   hash-bucketed groups. A filter family (``FilterFamily``: Bloom
   here, cuckoo in :mod:`operators.cuckoo`) is only its numpy
   kernels; one build, one broadcast probe and one cogroup probe
   serve every family. The probe flags candidates that MIGHT be seen
   (one-sided error), and the flag is an extra condition on the one
   exact left-anti join: that join still shuffles every candidate and
   every seen key, so the filter does not shrink it today.

A crawl round does not come here while its seen keys fit a broadcast
(``spark.sql.autoBroadcastJoinThreshold``, 16 B a key): it anti-joins
the broadcast keys directly, with no shuffle, no filter and no Arrow
probe (``plans.crawl.CrawlRun._survivors``). Only a larger seen set
takes ``dedup_against_seen``, with or without the Bloom filters.

Hash scheme: key_hash = xxhash64(dedup_key) computed JVM-side; the k
Bloom positions derive from (h1, h2=splitmix64(h1)) double hashing,
numpy-vectorized — no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident
from .scheduler import PRIORITY_COLS, SOURCE_RANK, packed_dedup_order_col

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
    def struct(cols):  # one SQL parse: a Column op per field is a py4j round trip each
        return F.expr("struct(" + ", ".join(map(sql_ident, cols)) + ")")

    ordering = order_col if order_col is not None else struct(order_cols)
    winner = F.min_by(struct([c for c in cand.columns if c != key]), ordering).alias("_row")
    return cand.groupBy(key).agg(winner).select(key, "_row.*")


def frontier_first_occurrence(cand: DataFrame) -> DataFrame:
    """J6 step 1 for frontier rows, the one call of the crawl round, the
    stream epoch and the bench pass: the first occurrence of each
    ``key_hash`` by the dedup order tuple (source name, then the
    within-source priority), packed into one BIGINT."""
    return batch_first_occurrence(
        cand, "key_hash", ["source"] + PRIORITY_COLS[1:],
        order_col=packed_dedup_order_col(sorted(SOURCE_RANK)),
    )


def anti_join_seen(cand: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact historical dedup (J1): candidates not in seen."""
    return cand.join(seen.select("key_hash").distinct(), "key_hash", "left_anti")


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


def _bloom_build(h: np.ndarray) -> dict:
    """One bucket's Bloom filter; bit-setting is pure numpy. The seen
    set only grows between rebuilds, so no deletion is needed (SURVEY §7)."""
    m = max(1024, len(h) * BLOOM_BITS_PER_ITEM)
    m_bits = 1 << int(m - 1).bit_length()  # next pow2
    pos = _positions(h, m_bits).ravel()
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    np.bitwise_or.at(bits, pos // 8, np.uint8(1) << (pos % 8).astype(np.uint8))
    return {"filter": bits.tobytes(), "n_items": len(h), "m_bits": m_bits}


def _bloom_probe(state: tuple, h: np.ndarray) -> np.ndarray:
    bits, m_bits = state
    pos = _positions(h, m_bits)
    return ((bits[pos // 8] & (np.uint8(1) << (pos % 8).astype(np.uint8))) != 0).all(axis=1)


@dataclass(frozen=True)
class FilterFamily:
    """A seen-set filter family is its kernels; the Spark plumbing
    below is shared (*Learned Cuckoo Filter*, SIGMOD 2023: families
    differ in the kernel, the join they feed is the same).

    ``schema``: the per-bucket row schema (``bucket`` first);
    ``build``: a bucket's int64 key hashes -> that row's other fields;
    ``load``: a row (Spark Row or pandas Series) -> the probe state;
    ``probe``: (state, hashes) -> might-contain mask, no false negatives;
    ``size_sql``: a row's size in bytes, as SQL."""

    schema: str
    build: Callable[[np.ndarray], dict]
    load: Callable[[Any], Any]
    probe: Callable[[Any, np.ndarray], np.ndarray]
    size_sql: str


BLOOM = FilterFamily(
    schema=FILTER_SCHEMA,
    build=_bloom_build,
    load=lambda r: (np.frombuffer(r["filter"], dtype=np.uint8), int(r["m_bits"])),
    probe=_bloom_probe,
    size_sql="m_bits / 8",
)


def build_filters(seen: DataFrame, family: FilterFamily) -> DataFrame:
    """One ``family.schema`` row per ``bucket`` of ``seen``, built from
    the bucket's ``key_hash`` values in one Arrow batch."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        row = family.build(pdf["key_hash"].to_numpy(dtype=np.int64))
        row = {"bucket": int(pdf["bucket"].iloc[0]), **row}
        return pd.DataFrame({k: [v] for k, v in row.items()})

    return seen.select("bucket", "key_hash").groupBy("bucket").applyInPandas(build, family.schema)


def build_bloom_filters(seen: DataFrame) -> DataFrame:
    """Per-bucket Bloom filters as FILTER_SCHEMA rows."""
    return build_filters(seen, BLOOM)


def probe_broadcast(cand: DataFrame, filters: DataFrame, family: FilterFamily = BLOOM) -> DataFrame:
    """Add ``might_seen``: collect the filters, ship them once per
    executor and probe with a scalar pandas UDF — no shuffle. For
    filters that fit in executor memory (the common case until the
    seen set reaches billions)."""
    table = {int(r["bucket"]): family.load(r) for r in filters.collect()}
    bc = cand.sparkSession.sparkContext.broadcast(table)

    @F.pandas_udf("boolean")
    def might(bkt: pd.Series, kh: pd.Series) -> pd.Series:
        out = np.zeros(len(kh), dtype=bool)
        b_arr, h_arr = bkt.to_numpy(dtype=np.int64), kh.to_numpy(dtype=np.int64)
        for b in np.unique(b_arr):
            if (state := bc.value.get(int(b))) is not None:
                m = b_arr == b
                out[m] = family.probe(state, h_arr[m])
        return pd.Series(out)

    return cand.withColumn("might_seen", might(F.col("bucket"), F.col("key_hash")))


bloom_prefilter_broadcast = probe_broadcast  # the name perfbench's dedup trace imports


def probe_cogroup(cand: DataFrame, filters: DataFrame, family: FilterFamily = BLOOM) -> DataFrame:
    """Add ``might_seen`` with candidates and filters cogrouped by
    ``bucket``: each task holds one bucket's rows and its one filter
    row, so filter bytes cross the wire once per bucket, not once per
    candidate (the 10^10-seen path)."""
    out_schema = cand.withColumn("might_seen", F.lit(False)).schema

    def probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if filt_pdf.empty:
            return cand_pdf.assign(might_seen=False)
        h = cand_pdf["key_hash"].to_numpy(dtype=np.int64)
        return cand_pdf.assign(might_seen=family.probe(family.load(filt_pdf.iloc[0]), h))

    grouped = cand.groupBy("bucket").cogroup(filters.groupBy("bucket"))
    return grouped.applyInPandas(probe, out_schema)


# total serialized filter size below which the broadcast probe is used
BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def dedup_against_seen(
    cand: DataFrame,
    seen: DataFrame,
    filters: DataFrame | None,
    seen_unique: bool = False,
    filters_total_bytes: int | None = None,
    family: FilterFamily = BLOOM,
) -> DataFrame:
    """Historical dedup: ``cand`` rows whose ``key_hash`` is not in
    ``seen``. Without ``filters`` this is :func:`anti_join_seen`.

    With ``filters`` (``family`` rows built from ``seen``) each
    candidate is first flagged ``might_seen`` — broadcast probe when
    the filters total at most BROADCAST_MAX_BYTES
    (``filters_total_bytes``, else one size job), cogroup probe
    otherwise — and the flag is an extra condition on ONE left-anti
    join against the seen keys: a row with might_seen=false can never
    match. Correct under false positives (the exact key equality is
    the last word), and filters have no false negatives. The join
    still shuffles every candidate and every seen key, so the probe
    adds work and removes none; it does keep the upstream pipeline to
    one evaluation (a filter/union split would compute it twice). A
    seen set that fits a broadcast needs neither: the crawl probes it
    with one broadcast anti-join and calls this only above the
    threshold."""
    if filters is None:
        return anti_join_seen(cand, seen)
    total = filters_total_bytes
    if total is None:
        total = filters.agg(F.sum(F.expr(family.size_sql))).first()[0] or 0
    probe = probe_broadcast if total <= BROADCAST_MAX_BYTES else probe_cogroup
    seen_keys = seen.select(F.col("key_hash").alias("_seen_key"))
    if not seen_unique:
        seen_keys = seen_keys.distinct()
    cond = (F.col("key_hash") == F.col("_seen_key")) & F.col("might_seen")
    return probe(cand, filters, family).join(seen_keys, cond, "left_anti").drop("might_seen")
