"""Seen-set operator tests (SURVEY §5, build-plan step 3): Bloom has
no false negatives, two-phase dedup equals exact anti-join for every
filter family and probe, batch dedup is first-occurrence-wins by
priority order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_crawler_spark.functions.hashing import bucket_col
from python_crawler_spark.operators.cuckoo import CUCKOO
from python_crawler_spark.operators.dedup import (
    BLOOM,
    BROADCAST_MAX_BYTES,
    anti_join_seen,
    batch_first_occurrence,
    build_bloom_filters,
    build_filters,
    dedup_against_seen,
    probe_cogroup,
)

N_BUCKETS = 8


def _keyed(spark, ids, extra=None):
    df = spark.range(0, 0)
    rows = [(i, f"url-{i}", extra or 0) for i in ids]
    df = spark.createDataFrame(rows, "id long, url string, x int")
    df = df.withColumn("key_hash", F.xxhash64("url"))
    return df.withColumn("bucket", bucket_col(F.col("key_hash"), N_BUCKETS))


def test_bloom_no_false_negatives(spark):
    seen = _keyed(spark, range(0, 500))
    cand = _keyed(spark, range(0, 1000))
    filters = build_bloom_filters(seen)
    flagged = probe_cogroup(cand, filters, BLOOM)
    # every truly-seen candidate must be flagged might_seen
    missed = (
        flagged.filter(~F.col("might_seen"))
        .join(seen.select("key_hash"), "key_hash", "inner")
        .count()
    )
    assert missed == 0


@pytest.mark.parametrize("probe", ["broadcast", "cogroup"])
@pytest.mark.parametrize("family", [BLOOM, CUCKOO], ids=["bloom", "cuckoo"])
def test_two_phase_equals_exact(spark, family, probe):
    """Every family through either probe (picked by the filters' stated
    size) keeps exactly the anti-join's rows. Bucket 0 holds no seen
    key, so it has no filter row: its candidates are all new."""
    seen = _keyed(spark, range(0, 300)).filter(F.col("bucket") != 0)
    cand = _keyed(spark, range(250, 600))
    filters = build_filters(seen, family).localCheckpoint(eager=True)
    assert 0 not in {r["bucket"] for r in filters.select("bucket").collect()}
    size = 0 if probe == "broadcast" else BROADCAST_MAX_BYTES + 1
    two_phase = sorted(
        r["id"]
        for r in dedup_against_seen(
            cand, seen, filters, filters_total_bytes=size, family=family
        ).collect()
    )
    exact = sorted(r["id"] for r in anti_join_seen(cand, seen).collect())
    assert two_phase == exact
    assert exact[-300:] == list(range(300, 600)) and len(exact) > 300


def test_batch_first_occurrence_priority_order(spark):
    rows = [
        ("k1", 2, "late"),
        ("k1", 1, "early"),
        ("k2", 5, "only"),
        ("k1", 3, "latest"),
    ]
    df = spark.createDataFrame(rows, "key string, prio int, tag string")
    out = {
        r["key"]: r["tag"]
        for r in batch_first_occurrence(df, "key", ["prio"]).collect()
    }
    assert out == {"k1": "early", "k2": "only"}


def test_packed_order_equals_struct_order(spark):
    """The packed-BIGINT ordering (one guarded long, cheap sort
    comparators) must pick exactly the same winners as the reference
    struct ordering — including cross-source duplicates, where the
    lex_source_rank substitution stands in for string comparison."""
    from python_crawler_spark.operators.scheduler import packed_dedup_order_col

    rows = []
    # same key from every source at varying priorities: winner must be
    # the lexicographically-least source ('chuansongmen'), best tuple
    for i, (src, line) in enumerate(
        [("weixin", 1), ("tianyan", 1), ("chuansongmen", 9), ("chuansongmen", 2)]
    ):
        rows.append(("k_cross", src, line, 2, 0, i, 0, f"tag{i}"))
    # per-source dups: tuple order decides
    rows += [
        ("k_wx", "weixin", 5, 2, 3, 1, 0, "late"),
        ("k_wx", "weixin", 5, 2, 2, 9, 1, "early_page"),
        ("k_ty", "tianyan", 7, 1, 0, 0, 2, "root"),
    ]
    df = spark.createDataFrame(
        rows,
        "key string, source string, line_no int, stage int, page_no int,"
        " link_idx int, attempt int, tag string",
    )
    order_cols = ["source", "line_no", "stage", "page_no", "link_idx", "attempt"]
    ref = {
        r["key"]: r["tag"]
        for r in batch_first_occurrence(df, "key", order_cols).collect()
    }
    packed = {
        r["key"]: r["tag"]
        for r in batch_first_occurrence(
            df,
            "key",
            order_cols,
            order_col=packed_dedup_order_col(["weixin", "chuansongmen", "tianyan"]),
        ).collect()
    }
    assert packed == ref
    assert ref["k_cross"] == "tag3"  # csm line 2 beats csm line 9 + others
    assert ref["k_wx"] == "early_page"


def test_pack_order_guards_raise(spark):
    """Out-of-range fields and unknown sources must fail loudly — a
    silent wrap would mis-order the frontier undetectably."""
    import pytest

    from python_crawler_spark.operators.scheduler import (
        lex_source_rank,
        pack_order,
    )

    df = spark.createDataFrame([(4096,)], "page_no int")  # 2^12: one past
    with pytest.raises(Exception, match="page_no out of"):
        df.select(pack_order([("page_no", 12, "page_no")])).collect()
    with pytest.raises(TypeError, match="page_no must be SQL text"):
        pack_order([(F.col("page_no"), 12, "page_no")])
    df2 = spark.createDataFrame([("mystery",)], "source string")
    with pytest.raises(Exception, match="unknown source"):
        df2.select(lex_source_rank(["weixin"])).collect()
