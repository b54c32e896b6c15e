"""Politeness scheduler (SURVEY §2.6, O1-O11).

The reference's fetch order is the sequential program order of three
single-threaded loops; its politeness budget is sleep() calls. Here:

- ordering is a SORT KEY, never task timing: the priority tuple
  (source_rank, line_no, stage, page_no, link_idx, attempt) totally
  orders all fetches exactly as the reference's nested loops would
  (O1 seed-file order, stage separates list/article phases, O2 DOM
  order via link_idx, O3 page order, O8 retries directly after their
  failed attempt);
- politeness delays are VIRTUAL TIME: cumulative sums of crawl_delay
  in priority order give each fetch its scheduled_at. Nothing sleeps;
  scheduler throughput is compute-bound (BASELINE.md note).

Two schedules are computed:
- ref_seq / ref_virtual_ts: per-source single-thread-equivalent clock,
  the oracle-comparable replay (O4-O7); schedule() only;
- host_rank / host_scheduled_at: per-(host, salt) queues — the
  schedule a distributed fetcher would honor; salting splits hot-host
  queues (all weixin articles share one host, weixin_public.py:39)
  into n_salts parallel polite queues (north_rule skew handling).
  host_queues() computes these alone, for callers that never read the
  replay clock (a crawl round: its fetch order is recomputed over the
  whole fetch log afterwards).

Scale note: a naive Window.partitionBy(source) puts ~all rows of a
10^10 frontier into a handful of partitions. schedule() instead cuts
the packed priority at one set of sampled global bounds, ranks and
prefix-sums within each (source, bucket), and adds broadcast
per-bucket offsets (one bounds job, no single-partition shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRIORITY_COLS = ["source_rank", "line_no", "stage", "page_no", "link_idx", "attempt"]

# Bit widths for packing the priority tuple into ONE non-negative
# BIGINT whose numeric order is exactly the tuple's lexicographic
# order. Every sort/comparator over the tuple (SortAggregate in
# first-occurrence dedup, the range partitioner, both window sorts)
# runs millions of comparisons; one long compare vs a 6-field struct
# compare measured ~35% off the dedup stage at 8M rows. Widths are
# deliberately generous for 10^10-URL scale and GUARDED: a field out
# of range raises rather than silently mis-ordering. 4+30+3+12+10+4 =
# 63 bits — the packed value stays non-negative in a signed 64-bit
# long.
# Widths give each field the guarded domain [-1, 2^bits - 2] (the +1
# bias in pack_order spends one code point on the -1 sentinel and the
# guard excludes the all-ones top value), so the usable maxima are one
# LESS than the naive 2^bits reading (ADVICE r4):
PRIORITY_WIDTHS = [
    ("source_rank", 4),   # ranks -1..14: 15 sources (3 known + sentinel today)
    ("line_no", 30),      # up to 2^30 - 2 = 1,073,741,822 seed lines per source
    ("stage", 3),         # stages -1..6
    ("page_no", 12),      # up to 4094 list pages
    ("link_idx", 10),     # up to 1022 links harvested per page
    ("attempt", 4),       # up to 14 retries
]


def pack_order(fields) -> "F.Column":
    """Pack ``[(column, bits, name), ...]`` (most-significant first)
    into one guarded BIGINT with the same lexicographic order as the
    tuple. Injective over in-range inputs, so ties in the packed value
    are exactly ties in the tuple. Each field is biased by +1 so the
    engine's ``-1`` sentinel (the seed/list row itself, ordered before
    link 0) packs as 0; the valid domain is [-1, 2^bits - 2].
    Out-of-range raises per row — fail loudly beats a silent
    mis-sort."""
    acc = F.lit(0).cast("long")
    for col, bits, name in fields:
        c = col.cast("long") + F.lit(1)
        guarded = F.when(
            c.isNull() | (c < 0) | (c >= (1 << bits)),
            F.raise_error(F.lit(f"pack_order: {name} out of [-1, 2^{bits}-2]")),
        ).otherwise(c)
        acc = F.shiftleft(acc, bits) + guarded
    return acc


def packed_priority_col() -> "F.Column":
    """The full priority tuple (PRIORITY_COLS, source_rank first) as
    one packed BIGINT — order-identical to sorting by the tuple."""
    return pack_order([(F.col(n), b, n) for n, b in PRIORITY_WIDTHS])


def lex_source_rank(sources: list[str]) -> "F.Column":
    """Rank of the ``source`` string within the LEXICOGRAPHICALLY
    sorted known-source list — substituting this rank for the string
    in a packed ordering preserves exactly the semantics of ordering
    by the string itself. Unknown sources raise — DELIBERATELY
    stricter than with_priority's shared sentinel rank (ADVICE r4):
    scheduling only needs unknown sources grouped after the known ones
    (ties there shift ref_seq labels, never which rows fetch), but
    first-occurrence dedup uses this rank to pick WHICH duplicate row
    survives, and a shared sentinel would make two distinct unknown
    sources compare equal — a nondeterministic winner. A new source
    must be added to SOURCE_RANK (one line) before its rows may reach
    dedup; failing loudly here beats silently unstable dedup output."""
    rank = None
    for i, s in enumerate(sorted(sources)):
        rank = (rank.when if rank is not None else F.when)(
            F.col("source") == s, F.lit(i)
        )
    return rank.otherwise(
        F.raise_error(F.concat(F.lit("lex_source_rank: unknown source "), F.col("source")))
    )


def packed_dedup_order_col(sources: list[str]) -> "F.Column":
    """Packed BIGINT ordering equivalent to the dedup order tuple
    (source string, line_no, stage, page_no, link_idx, attempt) —
    the ``["source"] + PRIORITY_COLS[1:]`` ordering every
    first-occurrence call site uses."""
    fields = [(lex_source_rank(sources), PRIORITY_WIDTHS[0][1], "source")]
    fields += [(F.col(n), b, n) for n, b in PRIORITY_WIDTHS[1:]]
    return pack_order(fields)

class CheckpointHandle:
    """Per-call registry of RDD ids a schedule() call
    localCheckpointed. Since round 4 the scheduler checkpoints NOTHING
    (round 5: the bucket id is a pure function of the row against
    driver-collected literal bounds, so the offsets and window passes
    agree by construction — see schedule()), so handles free zero
    blocks; the API is kept so call sites stay uniform and
    so any future materialization slots back into the same
    deterministic-free contract (free by handle, never a global
    drain — ADVICE r3 #2)."""

    __slots__ = ("rdd_ids",)

    def __init__(self) -> None:
        self.rdd_ids: list[int] = []


# Fallback registry for calls made WITHOUT a handle. A handle-less
# free_schedule_checkpoints(spark) drains this entire list, so the
# no-handle flow is only safe when a single caller at a time builds and
# materializes schedule plans (the original round-3 contract). Any
# caller that may overlap with another live schedule plan must pass its
# own CheckpointHandle. Like every handle it stays empty today.
_ckpt_rdd_ids: list[int] = []


def free_schedule_checkpoints(spark, handle: CheckpointHandle | None = None) -> int:
    """Unpersist checkpoint blocks registered by schedule(),
    deterministically (no GC dependence).

    With ``handle``: frees exactly that call's blocks (the safe,
    per-call path). Without: drains the module-global fallback registry
    — every no-handle call's blocks, whoever made them. Call AFTER the
    returned plan has been materialized (written / collected /
    checkpointed downstream); the blocks are only needed to compute
    that plan once. Returns how many RDDs were freed. Idempotent:
    already-collected ids are skipped."""
    registry = handle.rdd_ids if handle is not None else _ckpt_rdd_ids
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    freed = 0
    wanted = set(registry)
    for rid in jmap.keySet().toArray():
        if int(rid) in wanted:
            jmap.get(rid).unpersist(False)
            freed += 1
    registry.clear()
    return freed

SOURCE_RANK = {"weixin": 0, "chuansongmen": 1, "tianyan": 2}

# frontier stages: list/search pages fetch before any of their children
STAGE_ROOT = 0      # account root (csm) / search page (tianyan) / list (weixin)
STAGE_LIST = 1      # csm ?start= list pages
STAGE_CHILD = 2     # article / detail fetches


def with_priority(frontier: DataFrame) -> DataFrame:
    """Attach source_rank; the rest of the tuple is carried from
    frontier expansion (each child inherits line_no and gets its DOM
    position as link_idx — SURVEY O1-O4)."""
    rank = F.create_map(
        *[x for s, r in SOURCE_RANK.items() for x in (F.lit(s), F.lit(r))]
    )
    # Unknown sources must NOT collapse to NULL: a NULL rank never
    # matches schedule()'s per-bucket offsets join (NULL != NULL), and
    # would fail the priority pack. Unmapped sources get a
    # sentinel rank after all known ones; ties broken by the rest of
    # the priority tuple.
    return frontier.withColumn(
        "source_rank",
        F.coalesce(rank[F.col("source")], F.lit(len(SOURCE_RANK))).cast("int"),
    )


def host_queues(frontier: DataFrame, n_salts: int = 8) -> DataFrame:
    """Per-(host, salt) polite queues, in priority order.

    Adds source_rank (see with_priority) and:
      host_salt                    — xxhash64(url) mod n_salts
      host_rank, host_scheduled_at — 1-based place in its queue and the
                                     queue's crawl_delay before it
    """
    f = with_priority(frontier).withColumn("_prio", packed_priority_col())
    f = f.withColumn("host_salt", F.pmod(F.xxhash64("url"), F.lit(n_salts)).cast("int"))
    # group by xxhash64(host) (8-byte sort prefix) instead of the host
    # string; the host column itself is untouched in the output. A
    # 64-bit collision would merge two hosts' queues — at web scale
    # (~10^9 hosts) the chance is ~10^18/2^65 ≈ 3e-2ppm; politeness
    # only gets (harmlessly) stricter.
    f = f.withColumn("_host_key", F.xxhash64("host"))
    w_host = Window.partitionBy("_host_key", "host_salt").orderBy("_prio")
    f = f.withColumn("host_rank", F.row_number().over(w_host)).withColumn(
        "host_scheduled_at",
        F.coalesce(
            F.sum("crawl_delay").over(w_host.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0.0),
        ),
    )
    return f.drop("_host_key", "_prio")


# Fraction of the frontier the bounds job reads. The cut points steer
# bucket balance only, never correctness, so a fixed-seed sample does —
# the idea of repartitionByRange's reservoir sampler in one job. At
# 10^10 frontier rows that is a ~5% scan instead of a full one.
BOUNDS_SAMPLE = 0.05


def schedule(
    frontier: DataFrame,
    n_salts: int = 8,
    n_range_partitions: int = 32,
    handle: CheckpointHandle | None = None,
) -> DataFrame:
    """Produce the fetch plan: the per-source replay clock, then
    host_queues.

    Adds:
      ref_seq, ref_virtual_ts — 1-based place in the source's priority
                                order and the crawl_delay of every
                                earlier fetch of that source (the
                                single-thread virtual clock)
      plus every host_queues column.
    Output is the input plus schedule columns; emit order for a
    sequential replay is (source_rank, ref_seq).

    The whole priority tuple is packed into ONE guarded BIGINT
    ``_prio`` (order-identical and injective, see pack_order), so every
    sort compares one long. Since source_rank is its top field, ONE
    sorted set of cut points is order-monotone within every source:

    1. one job collects ~n_range_partitions approximate percentiles of
       ``_prio`` over a BOUNDS_SAMPLE sample and embeds them as
       LITERALS;
    2. ``_pid`` = count of cut points <= ``_prio``, a balanced CASE
       tree (O(log n) compares per row) — a PURE FUNCTION OF THE ROW;
    3. a window over (source_rank, _pid) ranks and prefix-sums each
       bucket, while a map-side-combined groupBy(source_rank, _pid)
       yields per-bucket totals whose exclusive prefix sums within the
       source are broadcast back as offsets.

    ANY bound set gives exact ranks: ties at a cut point share a
    bucket, a bucket straddling a source boundary splits on the
    (source_rank, _pid) key, and an empty sample puts every row in
    bucket 0. Because the bucket is a row function, the offsets pass
    and the window pass agree under any re-execution, and the plan
    has no range exchange (the window's hash exchange is the only
    full-data shuffle; rounds 2-4 used repartitionByRange +
    spark_partition_id(), whose two executions could disagree —
    ADVICE r4 #1).

    ``handle`` is accepted for call-site compatibility and unused:
    schedule() materializes nothing.
    """
    f = with_priority(frontier).withColumn("_prio", packed_priority_col())
    qs = [i / n_range_partitions for i in range(1, n_range_partitions)]
    sample = f.sample(fraction=BOUNDS_SAMPLE, seed=42) if BOUNDS_SAMPLE < 1.0 else f
    bounds = sorted(set(sample.agg(F.percentile_approx("_prio", qs, 10_000)).first()[0] or []))

    def bucket(lo: int, hi: int) -> "F.Column":
        # rows with bounds[lo-1] <= _prio < bounds[hi] (virtual
        # sentinels) get a bucket in [lo, hi]; resolve by bisection
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(F.col("_prio") >= F.lit(bounds[mid]), bucket(mid + 1, hi)).otherwise(
            bucket(lo, mid)
        )

    key = ["source_rank", "_pid"]
    f = f.withColumn("_pid", bucket(0, len(bounds)))
    before = (Window.unboundedPreceding, -1)
    w_src = Window.partitionBy("source_rank").orderBy("_pid").rowsBetween(*before)
    offsets = (
        f.groupBy(*key)
        .agg(F.count("*").alias("_cnt"), F.sum("crawl_delay").alias("_sum"))
        .select(
            *key,
            F.sum("_cnt").over(w_src).alias("_cnt_off"),
            F.sum("_sum").over(w_src).alias("_sum_off"),
        )
        .fillna(0, subset=["_cnt_off", "_sum_off"])
    )
    w_in = Window.partitionBy(*key).orderBy("_prio")
    f = (
        f.withColumn("_rn", F.row_number().over(w_in))
        .withColumn(
            "_cs",
            F.coalesce(F.sum("crawl_delay").over(w_in.rowsBetween(*before)), F.lit(0.0)),
        )
        .join(F.broadcast(offsets), key)
        .withColumn("ref_seq", F.col("_rn") + F.col("_cnt_off"))
        .withColumn("ref_virtual_ts", F.col("_cs") + F.col("_sum_off"))
    )
    return host_queues(f.drop("_pid", "_rn", "_cs", "_cnt_off", "_sum_off", "_prio"), n_salts)
