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
per-bucket offsets (one bounds job, no single-partition shuffle; no
job for a plan its caller knows is small, see range_count).

Every order expression (the pack, the source ranks, the bucket CASE
tree, the windows) is SQL text parsed in one F.expr/selectExpr call:
each Column operator is a py4j round trip, and a stream epoch of a
few thousand rows spent more time building these trees op by op than
running them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_lit

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


def pack_order_sql(fields) -> str:
    """Pack ``[(sql_expr, bits, name), ...]`` (most-significant first,
    e.g. ``("line_no", 30, "line_no")``) into the SQL text of one
    guarded BIGINT with the same lexicographic order as the tuple.
    Injective over in-range inputs, so ties in the packed value are
    exactly ties in the tuple. Each field is biased by +1 so the
    engine's ``-1`` sentinel (the seed/list row itself, ordered before
    link 0) packs as 0; the valid domain is [-1, 2^bits - 2].
    Out-of-range raises per row — fail loudly beats a silent mis-sort.
    A field is SQL text (module docstring); a Column raises TypeError."""
    acc = "CAST(0 AS BIGINT)"
    for expr, bits, name in fields:
        if not isinstance(expr, str):
            raise TypeError(f"pack_order: field {name} must be SQL text, got {type(expr).__name__}")
        c = f"(CAST(({expr}) AS BIGINT) + 1)"
        acc = (
            f"shiftleft({acc}, {bits}) + CASE WHEN {c} IS NULL OR {c} < 0 OR {c} >= {1 << bits} "
            f"THEN raise_error('pack_order: {name} out of [-1, 2^{bits}-2]') ELSE {c} END"
        )
    return acc


def pack_order(fields) -> "F.Column":
    """:func:`pack_order_sql` as a Column, parsed in one ``F.expr`` call."""
    return F.expr(pack_order_sql(fields))


def packed_priority_col() -> "F.Column":
    """The full priority tuple (PRIORITY_COLS, source_rank first) as
    one packed BIGINT — order-identical to sorting by the tuple."""
    return pack_order([(n, b, n) for n, b in PRIORITY_WIDTHS])


def _case_source(ranks: dict, otherwise) -> str:
    """SQL CASE mapping ``source`` through ``ranks``, else ``otherwise``.
    A float value is written as its exact DOUBLE literal, any other
    value as SQL text."""
    whens = " ".join(
        f"WHEN {sql_lit(s)} THEN {sql_lit(r) if isinstance(r, float) else r}"
        for s, r in ranks.items()
    )
    return f"CASE source {whens} ELSE {otherwise} END"


def _lex_source_rank_sql(sources: list[str]) -> str:
    unknown = "raise_error(concat('lex_source_rank: unknown source ', source))"
    return _case_source({s: i for i, s in enumerate(sorted(sources))}, unknown)


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
    return F.expr(_lex_source_rank_sql(sources))


def packed_dedup_order_col(sources: list[str]) -> "F.Column":
    """Packed BIGINT ordering equivalent to the dedup order tuple
    (source string, line_no, stage, page_no, link_idx, attempt) —
    the ``["source"] + PRIORITY_COLS[1:]`` ordering every
    first-occurrence call site uses."""
    fields = [(_lex_source_rank_sql(sources), PRIORITY_WIDTHS[0][1], "source")]
    return pack_order(fields + [(n, b, n) for n, b in PRIORITY_WIDTHS[1:]])


class CheckpointHandle:
    """Kept for call sites: schedule() has materialized nothing since
    round 4 (its bucket is a row function), so a handle holds no block."""


def free_schedule_checkpoints(spark, handle: CheckpointHandle | None = None) -> int:
    """Free the blocks schedule() registered: none (see
    CheckpointHandle), so this returns 0."""
    return 0


SOURCE_RANK = {"weixin": 0, "chuansongmen": 1, "tianyan": 2}

# frontier stages: list/search pages fetch before any of their children
STAGE_ROOT = 0      # account root (csm) / search page (tianyan) / list (weixin)
STAGE_LIST = 1      # csm ?start= list pages
STAGE_CHILD = 2     # article / detail fetches


def with_priority(frontier: DataFrame) -> DataFrame:
    """Attach source_rank; the rest of the tuple is carried from
    frontier expansion (each child inherits line_no and gets its DOM
    position as link_idx — SURVEY O1-O4)."""
    # Unknown sources must NOT collapse to NULL: a NULL rank never
    # matches schedule()'s per-bucket offsets join (NULL != NULL), and
    # would fail the priority pack. Unmapped sources get a
    # sentinel rank after all known ones; ties broken by the rest of
    # the priority tuple.
    return frontier.withColumn("source_rank", F.expr(_case_source(SOURCE_RANK, len(SOURCE_RANK))))


def host_queues(frontier: DataFrame, n_salts: int = 8) -> DataFrame:
    """Per-(host, salt) polite queues, in priority order.

    Adds source_rank (see with_priority) and:
      host_salt                    — xxhash64(url) mod n_salts
      host_rank, host_scheduled_at — 1-based place in its queue and the
                                     queue's crawl_delay before it
    """
    return _host_queues(with_priority(frontier).withColumn("_prio", packed_priority_col()), n_salts)


BEFORE = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"  # the rows before this one


def _clock(partition: str, rank: str, delay: str) -> dict:
    """Per ``partition`` in ``_prio`` order: each row's 1-based place
    (``rank``) and the crawl_delay of the rows before it (``delay``)."""
    w = f"PARTITION BY {partition} ORDER BY _prio"
    return {
        rank: F.expr(f"row_number() OVER ({w})"),
        delay: F.expr(f"coalesce(sum(crawl_delay) OVER ({w} {BEFORE}), 0D)"),
    }


def _host_queues(f: DataFrame, n_salts: int) -> DataFrame:
    """host_queues over rows that already carry source_rank and the
    packed ``_prio``, which it drops."""
    # group by xxhash64(host) (8-byte sort prefix) instead of the host
    # string; the host column itself is untouched in the output. A
    # 64-bit collision would merge two hosts' queues — at web scale
    # (~10^9 hosts) the chance is ~10^18/2^65 ≈ 3e-2ppm; politeness
    # only gets (harmlessly) stricter.
    f = f.withColumn("host_salt", F.expr(f"CAST(pmod(xxhash64(url), {n_salts}) AS INT)"))
    queues = _clock("xxhash64(host), host_salt", "host_rank", "host_scheduled_at")
    return f.withColumns(queues).drop("_prio")


# Fraction of the frontier the bounds job reads. The cut points steer
# bucket balance only, never correctness, so a fixed-seed sample does —
# the idea of repartitionByRange's reservoir sampler in one job. At
# 10^10 frontier rows that is a ~5% scan instead of a full one.
BOUNDS_SAMPLE = 0.05

# Rows per range for a caller that knows its plan's size: one range
# per ROWS_PER_RANGE rows, capped at schedule()'s default 32, so a
# plan under ROWS_PER_RANGE rows runs no bounds job.
ROWS_PER_RANGE = 100_000


def range_count(n_rows: int) -> int:
    """The ``n_range_partitions`` for a plan of ``n_rows`` rows."""
    return min(32, -(-n_rows // ROWS_PER_RANGE))


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
       LITERALS; with ``n_range_partitions <= 1`` there are no cut
       points and no job (``range_count`` picks that for a plan under
       ROWS_PER_RANGE rows);
    2. ``_pid`` = count of cut points <= ``_prio``, a balanced CASE
       tree (O(log n) compares per row) — a PURE FUNCTION OF THE ROW;
    3. a window over (source_rank, _pid) ranks and prefix-sums each
       bucket, while a map-side-combined groupBy(source_rank, _pid)
       yields per-bucket totals whose exclusive prefix sums within the
       source are broadcast back as offsets (with no cut points the
       offsets are 0 and there is no offsets pass).

    ANY bound set gives exact ranks: ties at a cut point share a
    bucket, a bucket straddling a source boundary splits on the
    (source_rank, _pid) key, and an empty sample or no cut points
    puts every row in bucket 0. Because the bucket is a row function,
    the offsets pass and the window pass agree under any
    re-execution, and the plan has no range exchange (the window's
    hash exchange is the only full-data shuffle; rounds 2-4 used
    repartitionByRange + spark_partition_id(), whose two executions
    could disagree — ADVICE r4 #1). The host queues reuse this
    ``source_rank`` and ``_prio``.

    ``handle`` is accepted for call-site compatibility and unused:
    schedule() materializes nothing.
    """
    f = with_priority(frontier).withColumn("_prio", packed_priority_col())
    qs = [i / n_range_partitions for i in range(1, n_range_partitions)]
    sample = f.sample(fraction=BOUNDS_SAMPLE, seed=42) if BOUNDS_SAMPLE < 1.0 else f
    bounds = sample.agg(F.percentile_approx("_prio", qs, 10_000)).first()[0] if qs else []
    bounds = sorted(set(bounds or []))

    def bucket(lo: int, hi: int) -> str:
        # rows with bounds[lo-1] <= _prio < bounds[hi] (virtual
        # sentinels) get a bucket in [lo, hi]; resolve by bisection
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        above, below = bucket(mid + 1, hi), bucket(lo, mid)
        return f"CASE WHEN _prio >= {bounds[mid]} THEN {above} ELSE {below} END"

    key = ["source_rank", "_pid"]
    f = f.withColumn("_pid", F.expr(bucket(0, len(bounds))))
    f = f.withColumns(_clock("source_rank, _pid", "_rn", "_cs"))
    if bounds:
        w = f"OVER (PARTITION BY source_rank ORDER BY _pid {BEFORE})"
        offsets = f.groupBy(*key).agg(F.count("*").alias("_n"), F.sum("crawl_delay").alias("_d"))
        offsets = offsets.selectExpr(
            *key, f"coalesce(sum(_n) {w}, 0) AS _n_off", f"coalesce(sum(_d) {w}, 0) AS _d_off"
        )
        f = f.join(F.broadcast(offsets), key)
    else:  # one bucket per source: nothing precedes it (the join's column order)
        zero = [F.lit(0).cast("long").alias("_n_off"), F.lit(0.0).alias("_d_off")]
        f = f.select(*key, *[c for c in f.columns if c not in key], *zero)
    f = f.withColumns({"ref_seq": F.expr("_rn + _n_off"), "ref_virtual_ts": F.expr("_cs + _d_off")})
    return _host_queues(f.drop("_pid", "_rn", "_cs", "_n_off", "_d_off"), n_salts)
