"""Scheduler unit guards (beyond the e2e exact-order tests).

Covers the ADVICE round-1 finding: sources missing from SOURCE_RANK
must not collapse to a NULL rank — NULL keys never match the broadcast
per-partition offsets join, so ref_seq would be duplicated across
range partitions for those rows.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from python_crawler_spark.operators.scheduler import (
    PRIORITY_WIDTHS,
    SOURCE_RANK,
    schedule,
    with_priority,
)

FRONTIER_DDL = (
    "url string, source string, line_no int, stage int, page_no int, "
    "link_idx int, attempt int, crawl_delay double, host string"
)


def _frontier(spark, n_per_source=40):
    rows = []
    for i, src in enumerate(["weixin", "mystery_a", "mystery_b"]):
        for j in range(n_per_source):
            rows.append(
                (
                    f"http://h{i}.example.com/n/{j}",
                    src,
                    j,
                    2,
                    0,
                    j % 7,
                    0,
                    1.0,
                    f"h{i}.example.com",
                )
            )
    return spark.createDataFrame(rows, FRONTIER_DDL)


def test_fast_canonical_pred_equals_rlike(spark):
    """fast_canonical_pred (codegen string builtins — 8x faster than
    java.util.regex on the 8M-row frontier) must agree with
    `url rlike _FAST_CANONICAL_RE` on EVERY input: a false positive
    would let a non-canonical URL skip the canonicalizer (correctness
    bug); a false negative only costs speed but would silently erode
    the fast path. Corpus covers every branch of the decomposition:
    scheme, host charset/emptiness, missing path slash, ?/# anywhere,
    all six Java \\s whitespace chars at every position class,
    non-ASCII path bytes, and prefix-of-prefix truncations."""
    from pyspark.sql import functions as F

    from python_crawler_spark.functions.urls import (
        _FAST_CANONICAL_RE,
        fast_canonical_pred,
    )

    ws = [" ", "\t", "\n", "\x0b", "\f", "\r"]
    urls = [
        "http://a.com/x", "https://a.com/", "https://h-1.b9.com/p/q.r",
        "http://a.com/x/y/z.html", "http://a/x", "http://9.8.7.6/x",
        "HTTP://a.com/x", "htTps://a.com/x", "ftp://a.com/x", "a.com/x",
        "http://a.com", "https://a.com", "http:///x", "http://///",
        "http://A.com/x", "http://a_b.com/x", "http://a.com:80/x",
        "http://a:b@c.com/x", "http://a.com/x?b=1", "http://a.com/?",
        "http://a.com/x#f", "http://a.com/#", "http://?/x", "http://#/x",
        "http://a.com/中文", "http://a.com/%20x", "http://a.com//",
        "http", "https://", "http://", "h", "",
    ]
    urls += ["http://a.com/x" + c for c in ws]
    urls += [c + "http://a.com/x" for c in ws]
    urls += ["http://a.com/x" + c + "y" for c in ws]
    urls += ["http://a" + c + "b.com/x" for c in ws]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        fast_canonical_pred(F.col("url")).alias("p"),
        F.col("url").rlike(_FAST_CANONICAL_RE).alias("r"),
    ).collect()
    for r in rows:
        assert bool(r["p"]) == bool(r["r"]), (r["url"], r["p"], r["r"])


def test_host_path_col_match_parse_url(spark):
    """host_col / path_sql take a guarded substring fast path (no
    java.net.URI per row); on WELL-FORMED URL shapes — including the
    ones the guard must REJECT into the parse_url fallback (uppercase,
    ports, userinfo, non-http schemes) — the result must equal the
    parse_url reference exactly (null semantics included). Malformed-
    but-guard-passing URLs intentionally DIVERGE from parse_url (see
    host_col's docstring); those shapes are pinned separately in
    test_host_path_col_fast_vs_fallback."""
    from pyspark.sql import functions as F

    from python_crawler_spark.functions.urls import host_col, path_sql

    urls = [
        "http://a.com/x", "https://a.com/", "http://a.com/a/b/c.html",
        "http://a.com", "https://a.com", "http://a.com/",
        "http://a.com/x?q=1", "http://a.com/x#f", "http://a.com/x?q=1#f",
        "http://a.com/x#f?q=1", "http://a.com/?q", "http://a.com/#f",
        "http://A.com/x", "http://a.com:8080/x", "http://a.com:80/x",
        "http://u@h.com/x", "http://u:p@h.com/x", "ftp://a.com/x",
        "http://9.8.7.6/x", "https://h-1.b9.com/p/q.r", "http:///x",
        "http://", "http://a_b.com/x", "http://a.com//x",
        "http://a.com/%20x", "http://a.com/x/", "a.com/x", "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        host_col(F.col("url")).alias("h"),
        F.lower(F.try_parse_url(F.col("url"), F.lit("HOST"))).alias("hr"),
        F.expr(path_sql("url")).alias("p"),
        F.try_parse_url(F.col("url"), F.lit("PATH")).alias("pr"),
    ).collect()
    for r in rows:
        assert r["h"] == r["hr"], ("host", r["url"], r["h"], r["hr"])
        assert r["p"] == r["pr"], ("path", r["url"], r["p"], r["pr"])


def test_host_path_col_fast_vs_fallback(spark):
    """The INTENDED divergence (ADVICE r3, documented in host_col):
    malformed-but-guard-passing URLs get the substring answer, not
    try_parse_url's null — a bad href harvested into the frontier must
    still group under its host (politeness) and carry a path (robots
    gate) instead of escaping both via null. Expected values here are
    the ENGINE's, not parse_url's."""
    from pyspark.sql import functions as F

    from python_crawler_spark.functions.urls import host_col, path_sql

    cases = {
        # url: (engine host, engine path) — try_parse_url nulls these
        "http://a.com/x y": ("a.com", "/x y"),      # space in path
        "http://a.com/p%q/": ("a.com", "/p%q/"),    # bad %-escape
        "http://-a-.com/x": ("-a-.com", "/x"),      # lexical-only host
        "http://a..com/x": ("a..com", "/x"),        # empty DNS label
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    rows = df.select(
        "url",
        host_col(F.col("url")).alias("h"),
        F.expr(path_sql("url")).alias("p"),
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("hr"),
    ).collect()
    for r in rows:
        want_h, want_p = cases[r["url"]]
        assert r["h"] == want_h, ("host", r["url"], r["h"])
        assert r["p"] == want_p, ("path", r["url"], r["p"])
        # and the divergence is real: the URI reference nulls the host
        assert r["hr"] is None, ("expected parse_url null", r["url"], r["hr"])


def test_canonicalize_split_matches_scalar(spark):
    """The filter/union canonicalizer (the hot path — already-canonical
    rows never cross Arrow) must equal the scalar canonicalizer on
    every URL shape — including the irregular ones that must NOT take
    the fast path — and lose or duplicate no row."""
    from python_crawler_spark.functions.urls import canonicalize_split, canonicalize_url
    from python_crawler_spark.parse.udfs import canonicalize_urls_udf

    urls = [
        "http://h0.example.com/n/1",                      # canonical already
        "https://sub.host.com/a/b/c",                     # canonical already
        "HTTP://MP.Weixin.QQ.com:80/s?b=2&a=1#frag",      # everything wrong
        "https://Host:443/",                              # default port
        "http://h/p?",                                    # dangling ?
        "http://h.com/p?z=1&a=2",                         # query sort
        "http://h.com",                                   # empty path
        " http://h.com/x ",                               # whitespace
        "http://h.com/x\n",                               # trailing newline: `$`
        # matches before it in both Java and Python regex, so a plain
        # `$` anchor would wrongly send this down the fast path (ADVICE r2)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    split = canonicalize_split(df, canonicalize_urls_udf, out="canon")
    got = {r["url"]: r["canon"] for r in split.collect()}
    assert split.count() == len(urls)
    for u in urls:
        assert got[u] == canonicalize_url(u), u


def test_schedule_bucket_is_pure_row_function(spark):
    """ADVICE r4 (medium): rounds 2-4 derived the rank bucket from
    repartitionByRange + spark_partition_id(), so the offsets pass and
    the window pass were two independent executions of the same range
    exchange (relation dedup defeats exchange reuse) and their _pid
    agreement rested on deterministic resampling of a shuffle child.
    Round 5 buckets against driver-collected literal bounds instead —
    pin that the executed plan carries NO physical-partition-id
    dependence and NO range exchange, on a deliberately shuffle-heavy
    input (the run_round shape the advisor flagged)."""
    f = _frontier(spark, n_per_source=200).repartition(7, "url")
    plan = schedule(f, n_salts=2, n_range_partitions=8)
    plan.collect()
    ep = plan._jdf.queryExecution().executedPlan().toString()
    assert "SPARK_PARTITION_ID" not in ep
    assert "Exchange rangepartitioning" not in ep
    # exactly two full-data shuffles remain: the rank window's hash
    # exchange on (source_rank, _pid) and the host-queue window's on
    # (_host_key, host_salt); the offsets totals shuffle is map-side
    # partially aggregated
    assert "partial_count" in ep or "HashAggregate" in ep


def _known_source_frontier(spark):
    """150 rows per known source with duplicate crawl delays. Known
    sources only: the two sentinel-rank mystery sources of _frontier
    would TIE on the full priority tuple, making any row_number
    assignment arbitrary."""
    rows = [
        (
            f"http://h{i}.example.com/n/{j}",
            src,
            j,
            2,
            0,
            j % 7,
            0,
            float(j % 3),
            f"h{i}.example.com",
        )
        for i, src in enumerate(["weixin", "chuansongmen", "tianyan"])
        for j in range(150)
    ]
    return spark.createDataFrame(rows, FRONTIER_DDL)


@pytest.mark.parametrize("n_range_partitions", [2, 8])
def test_schedule_equals_single_partition_reference(spark, n_range_partitions):
    """End-to-end rank/cumsum identity: the distributed bucketed
    two-pass must produce EXACTLY the ref_seq/ref_virtual_ts a plain
    single-partition window would, on a shuffle-scrambled input with
    duplicate crawl delays. The bounds are global over the packed
    priority, so with 2 or 8 buckets over 3 sources some bucket
    straddles a source boundary. host_queues alone must give the same
    host queues as schedule()."""
    from pyspark.sql import Window

    from python_crawler_spark.operators.scheduler import host_queues

    base = _known_source_frontier(spark)
    f = base.repartition(5, "url")
    plan = schedule(f, n_salts=2, n_range_partitions=n_range_partitions)
    got = plan.select("url", "ref_seq", "ref_virtual_ts")
    ref = (
        with_priority(base)
        .withColumn(
            "ref_seq2",
            F.row_number().over(
                Window.partitionBy("source_rank").orderBy(
                    "line_no", "stage", "page_no", "link_idx", "attempt"
                )
            ),
        )
        .withColumn(
            "ref_virtual_ts2",
            F.coalesce(
                F.sum("crawl_delay").over(
                    Window.partitionBy("source_rank")
                    .orderBy("line_no", "stage", "page_no", "link_idx", "attempt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            ),
        )
        .select("url", "ref_seq2", "ref_virtual_ts2")
    )
    joined = got.join(ref, "url")
    bad = joined.filter(
        (F.col("ref_seq") != F.col("ref_seq2"))
        | (F.abs(F.col("ref_virtual_ts") - F.col("ref_virtual_ts2")) > 1e-9)
    )
    assert bad.count() == 0

    queue_cols = ["url", "source_rank", "host_salt", "host_rank", "host_scheduled_at"]
    queues = host_queues(f, n_salts=2)
    assert "ref_seq" not in queues.columns
    assert sorted(queues.select(queue_cols).collect()) == sorted(
        plan.select(queue_cols).collect()
    )


def test_rank_invariant_to_degenerate_bounds_sample(spark, monkeypatch):
    """The bounds job reads a fixed-seed SAMPLE: the cut points steer
    bucket balance only, so ranks must be identical for any bound set —
    including the degenerate one where the sample is empty and every
    row falls to bucket 0. Force that path with a vanishingly small
    fraction and compare row-for-row against the full-input bounds."""
    from python_crawler_spark.operators import scheduler

    f = _known_source_frontier(spark).repartition(5, "url")

    def run(fraction):
        monkeypatch.setattr(scheduler, "BOUNDS_SAMPLE", fraction)
        return {
            r["url"]: (r["ref_seq"], r["ref_virtual_ts"])
            for r in schedule(f, n_salts=2, n_range_partitions=8)
            .select("url", "ref_seq", "ref_virtual_ts")
            .collect()
        }

    full = run(1.0)  # exact bounds from the whole input
    empty = run(1e-12)  # sample almost surely empty -> bucket 0 path
    assert full == empty


def test_schedule_no_persistent_rdd_growth(spark):
    """round-2 verdict #2 lineage: schedule() once persist()ed (leak),
    then localCheckpointed + freed by handle (rounds 3-4). Since round
    4 it materializes NOTHING — round 5 buckets on literal bounds, so
    there is no shared exchange to protect — and the invariant is
    stronger: repeated
    schedule() calls create zero persistent RDD blocks, with no free
    call required at all."""
    from python_crawler_spark.operators.scheduler import free_schedule_checkpoints

    def rdd_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    base = rdd_ids()
    for _ in range(5):
        plan = schedule(_frontier(spark), n_salts=2, n_range_partitions=8)
        plan.write.format("noop").mode("overwrite").save()
        assert free_schedule_checkpoints(spark) == 0  # nothing to free
    leaked = rdd_ids() - base
    assert not leaked, f"persistent RDDs leaked by schedule(): {sorted(leaked)}"


def test_checkpoint_handle_isolates_overlapping_plans(spark):
    """ADVICE r3 #2: a handle-less free_schedule_checkpoints drained
    the GLOBAL registry, so materialize(plan_A) -> free -> materialize
    (plan_B) crashed plan_B with a missing-checkpoint-block error when
    both plans were built before the free (localCheckpoint truncates
    lineage; a freed block is unrecoverable). With per-call handles,
    freeing A's blocks leaves B's plan computable."""
    from python_crawler_spark.operators.scheduler import (
        CheckpointHandle,
        free_schedule_checkpoints,
    )

    h_a, h_b = CheckpointHandle(), CheckpointHandle()
    plan_a = schedule(_frontier(spark), n_salts=2, n_range_partitions=8, handle=h_a)
    plan_b = schedule(_frontier(spark), n_salts=2, n_range_partitions=8, handle=h_b)
    plan_a.write.format("noop").mode("overwrite").save()
    # since round 4 schedule() materializes nothing, so there are no
    # blocks to free and the overlap hazard cannot exist by
    # construction; the sequence itself (A free'd under a live B) is
    # what this test pins
    free_schedule_checkpoints(spark, h_a)
    assert plan_b.count() > 0
    plan_b.write.format("noop").mode("overwrite").save()
    free_schedule_checkpoints(spark, h_b)
    # handles kept the global registry empty throughout
    assert free_schedule_checkpoints(spark) == 0


def test_unmapped_source_gets_sentinel_rank(spark):
    wp = with_priority(_frontier(spark))
    assert wp.filter(F.col("source_rank").isNull()).count() == 0
    ranks = {
        r.source: r.source_rank
        for r in wp.select("source", "source_rank").distinct().collect()
    }
    assert ranks["weixin"] == SOURCE_RANK["weixin"]
    sentinel = len(SOURCE_RANK)
    assert ranks["mystery_a"] == sentinel and ranks["mystery_b"] == sentinel


def test_unmapped_source_ref_seq_has_no_duplicates(spark):
    """With a NULL rank, the offsets join misses and every range
    partition restarts ref_seq at 1 (duplicates). The sentinel rank
    must keep ref_seq a gap-free, duplicate-free 1..n sequence within
    each rank group."""
    plan = schedule(_frontier(spark), n_salts=2, n_range_partitions=8)
    grp = (
        plan.groupBy("source_rank")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("ref_seq").alias("n_distinct"),
            F.min("ref_seq").alias("lo"),
            F.max("ref_seq").alias("hi"),
        )
        .collect()
    )
    assert len(grp) == 2  # weixin + merged sentinel group
    for r in grp:
        assert r.n == r.n_distinct, f"duplicate ref_seq in rank {r.source_rank}"
        assert (r.lo, r.hi) == (1, r.n), f"gapped ref_seq in rank {r.source_rank}"


def test_pack_order_guard_raises_out_of_domain(spark):
    """The packed-order guard fails loudly — never silently wraps —
    when a field leaves its documented [-1, 2^bits-2] domain (proven
    end-to-end by the bench_crawl scale-2.0 run that tripped it on
    link_idx at 1,023+ links/page; pinned here at unit cost). The
    domain edges themselves pack fine."""
    from python_crawler_spark.operators.scheduler import (
        PRIORITY_WIDTHS,
        packed_priority_col,
    )

    bits = dict(PRIORITY_WIDTHS)["link_idx"]
    base = spark.range(1).select(
        *(F.lit(0).cast("long").alias(n) for n, _ in PRIORITY_WIDTHS)
    )
    # in-domain edges: -1 sentinel and 2^bits - 2 both pack
    lo = base.withColumn("link_idx", F.lit(-1).cast("long"))
    hi = base.withColumn("link_idx", F.lit(2**bits - 2).cast("long"))
    assert lo.select(packed_priority_col().alias("p")).first()["p"] is not None
    assert hi.select(packed_priority_col().alias("p")).first()["p"] is not None
    # one past the domain raises with the field's name in the message
    bad = base.withColumn("link_idx", F.lit(2**bits - 1).cast("long"))
    with pytest.raises(Exception, match="link_idx out of"):
        bad.select(packed_priority_col().alias("p")).collect()
    # and NULL is out of domain too (a silent NULL would sort first)
    nul = base.withColumn("link_idx", F.lit(None).cast("long"))
    with pytest.raises(Exception, match="link_idx out of"):
        nul.select(packed_priority_col().alias("p")).collect()


def _ref_pack(values, widths) -> int:
    """Pure-Python pack_order: each field biased by +1, most
    significant first."""
    acc = 0
    for v, bits in zip(values, widths):
        acc = (acc << bits) + v + 1
    return acc


def _field(bits):
    """A value in the field's domain [-1, 2^bits - 2], edges often."""
    edges = st.sampled_from([-1, 2**bits - 2])
    return st.one_of(edges, st.integers(-1, 2**bits - 2))


_SOURCES = ["weixin", "chuansongmen", "tianyan"]


@given(
    st.lists(
        st.tuples(
            st.sampled_from(_SOURCES),
            *(_field(bits) for _, bits in PRIORITY_WIDTHS),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_packed_order_equals_reference_pack(spark, rows):
    """packed_priority_col() and packed_dedup_order_col() equal a
    pure-Python pack over in-domain tuples and the domain edges."""
    from python_crawler_spark.operators.scheduler import (
        packed_dedup_order_col,
        packed_priority_col,
    )

    names = [n for n, _ in PRIORITY_WIDTHS]
    widths = [b for _, b in PRIORITY_WIDTHS]
    ddl = "source string, " + ", ".join(f"{n} int" for n in names)
    got = spark.createDataFrame(rows, ddl).select(
        packed_priority_col().alias("p"), packed_dedup_order_col(_SOURCES).alias("d")
    ).collect()
    lex = sorted(_SOURCES)
    for r, (src, *vals) in zip(got, rows):
        assert r["p"] == _ref_pack(vals, widths)
        assert r["d"] == _ref_pack([lex.index(src)] + vals[1:], widths)


@given(
    st.lists(
        st.text(st.characters(codec="utf-8", exclude_characters="\x00"), max_size=6),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
@settings(max_examples=15, deadline=None)
def test_lex_source_rank_orders_like_the_strings(spark, sources):
    """Ordering by lex_source_rank is ordering by the source string,
    quotes and backslashes included."""
    from python_crawler_spark.operators.scheduler import lex_source_rank

    df = spark.createDataFrame([(s,) for s in sources], "source string")
    by_rank = df.orderBy(lex_source_rank(sources)).collect()
    by_string = df.orderBy("source").collect()
    assert [r["source"] for r in by_rank] == [r["source"] for r in by_string]


def test_one_range_schedule_runs_no_job(spark, job_ids):
    """schedule(n_range_partitions=1) puts every row in bucket 0, so
    building its plan starts no bounds job, and its schema, replay
    clock and host queues equal the default call's."""
    f = _known_source_frontier(spark).repartition(5, "url")
    cols = ["url", "ref_seq", "ref_virtual_ts", "host_rank", "host_scheduled_at"]
    before = job_ids()
    plan = schedule(f, n_salts=2, n_range_partitions=1)
    assert job_ids() == before
    want = schedule(f, n_salts=2)
    assert plan.schema == want.schema
    # a fetch log carries its round's host queues: they are replaced
    assert schedule(plan, n_salts=2, n_range_partitions=1).schema == plan.schema
    assert sorted(plan.select(cols).collect()) == sorted(want.select(cols).collect())


def test_order_expressions_take_few_round_trips(spark, round_trips):
    """The packed priority is one SQL expression, a one-range
    schedule() reuses it for its host queues, and first-occurrence
    dedup builds its winner struct in one parse: building each takes a
    bounded number of py4j round trips (776, 2,541 and about 400 on
    the enriched stream frame when the expressions were built one
    Column op at a time)."""
    from python_crawler_spark.operators.dedup import frontier_first_occurrence
    from python_crawler_spark.operators.scheduler import packed_priority_col
    from python_crawler_spark.streaming.frontier_stream import (
        STREAM_SCHEMA,
        streaming_enrich,
    )

    small = _known_source_frontier(spark)
    start = round_trips()
    packed_priority_col()
    assert round_trips() - start <= 10
    start = round_trips()
    schedule(small, n_salts=2, n_range_partitions=1)
    assert round_trips() - start <= 600
    enriched = streaming_enrich(spark.createDataFrame([], STREAM_SCHEMA), 8)
    start = round_trips()
    frontier_first_occurrence(enriched)
    assert round_trips() - start <= 60
