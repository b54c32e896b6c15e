"""End-to-end: the distributed round-loop pipeline must equal the
sequential reference-semantics oracle exactly (SURVEY §5.1) —
fetch order, per-source virtual clocks, seen-set membership, and
extracted article/company/image records."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun
from python_crawler_spark.sources.worldgen import WorldSpec

from .oracle import Oracle

SPEC = WorldSpec(n_tianyan_seeds=12)


@contextmanager
def broadcast_threshold(spark, value: str | None):
    """spark.sql.autoBroadcastJoinThreshold set to ``value`` (None:
    left as it is), then restored. At -1 the crawl's seen probe takes
    its filter_family path in every round; at the default the test
    worlds' seen sets fit a broadcast."""
    if value is None:
        yield
        return
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def run_and_oracle(spark):
    cfg = CrawlConfig(spec=SPEC, n_buckets=8, filter_family="bloom")
    run = CrawlRun(spark, cfg)
    results = run.run()
    oracle = Oracle(spec=SPEC, fixed_date=cfg.fixed_date).run()
    return results, oracle


def test_fetch_order_matches_oracle(run_and_oracle):
    results, oracle = run_and_oracle
    got = [
        (r["source"], r["url"], r["attempt"])
        for r in results["fetch_order"].select("source", "url", "attempt").collect()
    ]
    want = [(e["source"], e["url"], e["attempt"]) for e in oracle.events]
    assert got == want


def test_trim_shape_diversity_exercised(run_and_oracle):
    """The equality tests only mean something if the world actually
    contains marker diversity: accounts that produced articles must
    span at least 4 of the 5 trim shapes, including the backward
    (previous_elements) one."""
    from python_crawler_spark.sources.worldgen import trim_shape

    results, _ = run_and_oracle
    accounts = {
        r["resource_from"] for r in results["articles"].select("resource_from").collect()
    }
    shapes = {trim_shape(a) for a in accounts}
    assert len(shapes) >= 4, shapes
    assert 3 in shapes, "backward (strip_before) shape not exercised"


def test_fetch_identity_matches_oracle(run_and_oracle):
    """S5/S7: (render, ua_id, proxy_id) carried through the plan and
    equal to the oracle's identity model on every fetch."""
    results, oracle = run_and_oracle
    got = [
        (r["url"], r["attempt"], r["render"], r["ua_id"], r["proxy_id"])
        for r in results["fetch_order"]
        .select("url", "attempt", "render", "ua_id", "proxy_id")
        .collect()
    ]
    want = [
        (e["url"], e["attempt"], e["render"], e["ua_id"], e["proxy_id"])
        for e in oracle.events
    ]
    assert got == want


def test_antibot_retry_rotates_identity(run_and_oracle):
    """O8 + S5: every anti-bot retry must fetch under a DIFFERENT
    (ua_id, proxy_id) than the blocked attempt — the reference's
    install_new_driver rotation (tianyan_crawler.py:145-152)."""
    results, oracle = run_and_oracle
    rows = results["fetch_order"].select("url", "attempt", "ua_id", "proxy_id").collect()
    by_url: dict[str, dict[int, tuple]] = {}
    for r in rows:
        by_url.setdefault(r["url"], {})[r["attempt"]] = (r["ua_id"], r["proxy_id"])
    retried = {u: a for u, a in by_url.items() if len(a) > 1}
    assert retried, "world must contain at least one anti-bot retry"
    for url, attempts in retried.items():
        assert attempts[0][0] != attempts[1][0], f"ua not rotated for {url}"
        assert attempts[0][1] != attempts[1][1], f"proxy not rotated for {url}"


def test_virtual_clock_matches_oracle(run_and_oracle):
    results, oracle = run_and_oracle
    got = {
        (r["url"], r["attempt"]): (r["ref_virtual_ts"], r["crawl_delay"])
        for r in results["fetch_order"]
        .select("url", "attempt", "ref_virtual_ts", "crawl_delay")
        .collect()
    }
    for e in oracle.events:
        ts, d = got[(e["url"], e["attempt"])]
        assert ts == pytest.approx(e["virtual_ts"], abs=1e-9), e["url"]
        assert d == pytest.approx(e["crawl_delay"], abs=1e-9), e["url"]


def test_seen_set_matches_oracle(run_and_oracle):
    results, oracle = run_and_oracle
    got = {r["dedup_key"] for r in results["seen"].select("dedup_key").collect()}
    assert got == oracle.seen


def test_articles_match_oracle(run_and_oracle):
    results, oracle = run_and_oracle
    cols = [
        "src_url", "title", "author_name", "resource_from", "content",
        "content_src", "content_read", "audit_status", "publish_time",
        "create_time", "summary", "src_header", "cover_small",
    ]
    got = sorted(
        tuple(r[c] for c in cols) for r in results["articles"].select(cols).collect()
    )
    want = sorted(tuple(a[c] for c in cols) for a in oracle.articles)
    assert got == want


def test_csm_texts_match_oracle(run_and_oracle):
    results, oracle = run_and_oracle
    got = sorted(
        (r["src_url"], r["account"], r["text"])
        for r in results["articles_text"].collect()
    )
    want = sorted((a["src_url"], a["account"], a["text"]) for a in oracle.articles_text)
    assert got == want


def test_companies_match_oracle(run_and_oracle):
    results, oracle = run_and_oracle
    scalar_cols = [
        "company_id", "sourceFrom", "last_update", "name", "phone", "email",
        "url", "address", "score", "register_capital", "status",
        "register_time", "legal_repr",
    ]
    rows = results["companies"].collect()
    got = {r["company_id"]: r for r in rows}
    want = {c["company_id"]: c for c in oracle.companies}
    assert set(got) == set(want)
    for cid, w in want.items():
        g = got[cid]
        for c in scalar_cols:
            assert g[c] == w[c], (cid, c)
        assert [tuple(s) for s in (g["staff_info"] or [])] == [
            (s["name"], s["href"], s["title"]) for s in w["staff_info"]
        ]
        assert [tuple(s) for s in (g["holder_info"] or [])] == [
            (s["name"], s["link"], s["type"], s["money"]) for s in w["holder_info"]
        ]
        assert [tuple(s) for s in (g["out_invest"] or [])] == [
            (s["name"], s["link"], s["type"], s["money"]) for s in w["out_invest"]
        ]
        assert dict(g["details"] or {}) == w["details"]


def test_images_match_oracle(run_and_oracle):
    results, oracle = run_and_oracle
    cols = ["image_id", "w", "h", "fmt", "caption", "phash", "small", "sig",
            "src_url", "article_url", "rehost_url", "dec_fmt", "n_bytes"]
    got = sorted(tuple(r[c] for c in cols) for r in results["images"].select(cols).collect())
    want = sorted(tuple(i[c] for i in [img] for c in cols) for img in oracle.images for i in [img])
    assert got == want


def test_image_pixel_invariant_psnr(run_and_oracle):
    """input_hint: decoded-pixel allclose (PSNR>=40dB lossy) + caption
    equality vs the (oracle) reference pipeline."""
    import numpy as np

    from python_crawler_spark.functions.images import decode_image, psnr
    from python_crawler_spark.operators.multimodal import synth_image_pixels

    results, oracle = run_and_oracle
    rows = results["images"].select("src_url", "bytes", "caption", "dec_fmt").collect()
    assert rows
    # the synthetic web serves all four wire layouts (plain + Adam7
    # PNG, baseline + progressive JPEG) — every decoder is exercised
    # end-to-end
    def _layout(b: bytes) -> str:
        if b[:4] == b"\x89PNG":
            return "png_adam7" if b[28] == 1 else "png"  # IHDR interlace byte
        return "jpeg_prog" if b"\xff\xc2" in b else "jpeg_base"

    sigs = {_layout(bytes(r["bytes"])) for r in rows}
    assert sigs == {"png", "png_adam7", "jpeg_base", "jpeg_prog"}
    oracle_by_src = {i["src_url"]: i for i in oracle.images}
    for r in rows:
        ref_px, _ = synth_image_pixels(r["src_url"])
        w, h, fmt, dec = decode_image(bytes(r["bytes"]))
        if fmt == "png":
            assert np.array_equal(dec, ref_px)
        else:
            assert psnr(ref_px, dec) >= 40.0
        assert r["caption"] == oracle_by_src[r["src_url"]]["caption"]


# ------------------------------------------------- dirty web, tolerant parse


@pytest.fixture(scope="module")
def run_and_oracle_dirty(spark):
    """The round-4 production-boundary e2e: worldgen emits DIRTY
    markup (reordered/requoted/uppercased attributes, unclosed tails)
    and the engine parses it with the TOLERANT stdlib-DOM family
    (CrawlConfig.html_parser='tolerant') — against the sequential
    oracle configured identically."""
    dirty_spec = WorldSpec(n_tianyan_seeds=8)
    cfg = CrawlConfig(
        spec=dirty_spec, n_buckets=8, filter_family="bloom",
        html_parser="tolerant", dirty_web=True,
    )
    results = CrawlRun(spark, cfg).run()
    oracle = Oracle(
        spec=dirty_spec, fixed_date=cfg.fixed_date,
        html_parser="tolerant", dirty_web=True,
    ).run()
    clean_oracle = Oracle(spec=dirty_spec, fixed_date=cfg.fixed_date).run()
    return results, oracle, clean_oracle


def test_dirty_fetch_order_and_seen_match_oracle(run_and_oracle_dirty):
    results, oracle, clean = run_and_oracle_dirty
    got = [
        (r["source"], r["url"], r["attempt"])
        for r in results["fetch_order"].select("source", "url", "attempt").collect()
    ]
    assert got == [(e["source"], e["url"], e["attempt"]) for e in oracle.events]
    # and the dirt changed NOTHING semantically: same order as the
    # clean/dialect world
    assert got == [(e["source"], e["url"], e["attempt"]) for e in clean.events]
    seen = {r["dedup_key"] for r in results["seen"].select("dedup_key").collect()}
    assert seen == oracle.seen == clean.seen


def test_dirty_articles_match_both_oracles(run_and_oracle_dirty):
    results, oracle, clean = run_and_oracle_dirty
    cols = [
        "src_url", "title", "author_name", "resource_from", "content",
        "content_src", "publish_time", "summary", "cover_small",
    ]
    got = sorted(
        tuple(r[c] for c in cols) for r in results["articles"].select(cols).collect()
    )
    assert got == sorted(tuple(a[c] for c in cols) for a in oracle.articles)
    # vs the CLEAN world all values except the raw content html agree
    vals = [c for c in cols if c != "content"]
    got_v = sorted(tuple(r[: len(vals)]) for r in (tuple(t[cols.index(c)] for c in vals) for t in got))
    want_v = sorted(tuple(a[c] for c in vals) for a in clean.articles)
    assert got_v == want_v


def test_dirty_companies_and_texts_match_clean_world(run_and_oracle_dirty):
    results, oracle, clean = run_and_oracle_dirty
    got_t = sorted(
        (r["src_url"], r["account"], r["text"])
        for r in results["articles_text"].collect()
    )
    assert got_t == sorted(
        (a["src_url"], a["account"], a["text"]) for a in clean.articles_text
    )
    rows = {r["company_id"]: r for r in results["companies"].collect()}
    want = {c["company_id"]: c for c in clean.companies}
    assert set(rows) == set(want)
    for cid, w in want.items():
        g = rows[cid]
        for c in ("name", "phone", "score", "status", "legal_repr"):
            assert g[c] == w[c], (cid, c)
        assert dict(g["details"] or {}) == w["details"]


def test_dirty_images_match_clean_world(run_and_oracle_dirty):
    results, oracle, clean = run_and_oracle_dirty
    cols = ["image_id", "w", "h", "fmt", "caption", "phash", "small", "sig",
            "src_url", "article_url", "rehost_url"]
    got = sorted(tuple(r[c] for c in cols) for r in results["images"].select(cols).collect())
    assert got == sorted(tuple(i[c] for c in cols) for i in clean.images)
    assert got, "dirty world produced no images"


# ------------------------------------------------------ filter families


def test_exact_filter_family_same_results(spark, run_and_oracle):
    """With broadcasting off (autoBroadcastJoinThreshold=-1) the seen
    probe takes the filter_family path in every round: 'bloom' (per
    round Bloom filters, then the exact anti-join) and 'none' (the
    exact anti-join alone) must both give the oracle's fetch order and
    seen set — the Bloom prefilter only routes candidates, the exact
    anti-join is the last word."""
    _, oracle = run_and_oracle
    for family in ("bloom", "none"):
        cfg = CrawlConfig(spec=SPEC, n_buckets=8, filter_family=family)
        with broadcast_threshold(spark, "-1"):
            results = CrawlRun(spark, cfg).run()
            got = [
                (r["source"], r["url"], r["attempt"])
                for r in results["fetch_order"].select("source", "url", "attempt").collect()
            ]
            seen = {r["dedup_key"] for r in results["seen"].select("dedup_key").collect()}
        assert got == [(e["source"], e["url"], e["attempt"]) for e in oracle.events], family
        assert seen == oracle.seen, family


def test_seed_window_matches_oracle(spark):
    """F2/A3: ``first_seed``/``seed_limit`` keep the seeds with
    first_seed <= line_no < seed_limit of every source (tianyan line 4
    is also blacklisted, F3); fetch order and seen set equal the
    oracle's over the same window."""
    spec = WorldSpec(n_tianyan_seeds=6, weixin_articles_per_account=3)
    cfg = CrawlConfig(spec=spec, n_buckets=4, first_seed=3, seed_limit=6)
    results = CrawlRun(spark, cfg).run()
    oracle = Oracle(spec=spec, fixed_date=cfg.fixed_date, first_seed=3, seed_limit=6).run()
    got = [
        (r["source"], r["url"], r["attempt"], r["line_no"])
        for r in results["fetch_order"].select("source", "url", "attempt", "line_no").collect()
    ]
    assert got == [(e["source"], e["url"], e["attempt"], e["line_no"]) for e in oracle.events]
    assert {(s, n) for s, *_, n in got} == {
        (s, n) for s in ("weixin", "chuansongmen", "tianyan") for n in (3, 4, 5)
    } - {("tianyan", 4)}
    seen = {r["dedup_key"] for r in results["seen"].select("dedup_key").collect()}
    assert seen == oracle.seen


@pytest.mark.parametrize("family", ["xor", "cuckoo"])
def test_filter_family_validation(spark, family):
    with pytest.raises(ValueError, match="filter_family"):
        CrawlRun(spark, CrawlConfig(filter_family=family))


def test_round_keeps_only_its_outputs(spark):
    """A round keeps exactly three checkpoints — its pages, its images
    and the next frontier — on both seen-probe paths. At the default
    threshold a round probes the seen set with one broadcast anti-join
    and frees its survivors within the round; at -1 a round builds
    Bloom filters from the seen set and frees them with its
    survivors."""
    from python_crawler_spark.operators.components import _rdd_ids

    for threshold in (None, "-1"):
        run = CrawlRun(spark, CrawlConfig(spec=SPEC, n_buckets=8, filter_family="bloom"))
        frontier = run.initial_frontier()
        with broadcast_threshold(spark, threshold):
            for _ in range(2):
                before = _rdd_ids(spark)
                frontier = run.run_round(frontier)
                assert len(_rdd_ids(spark) - before) == 3, (threshold, f"round {run.round}")
                run.round += 1


def test_seen_probe_is_one_broadcast_anti_join(spark, monkeypatch):
    """At the default threshold a round after the first fits its seen
    keys (16 B each) in a broadcast: it builds no Bloom filter, and the
    survivors it checkpoints are planned as a broadcast left-anti
    join against the seen keys."""
    from pyspark.sql.classic.dataframe import DataFrame

    from python_crawler_spark.plans import crawl

    run = CrawlRun(spark, CrawlConfig(spec=SPEC, n_buckets=8, filter_family="bloom"))
    frontier = run.run_round(run.initial_frontier())
    run.round += 1
    built, plans = [], []
    build = crawl.build_bloom_filters
    monkeypatch.setattr(crawl, "build_bloom_filters", lambda seen: built.append(1) or build(seen))
    checkpoint = DataFrame.localCheckpoint

    def planned(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", planned)
    run.run_round(frontier)
    assert built == []
    anti = [p for p in plans if "LeftAnti" in p]
    assert anti and all("BroadcastHashJoin" in p for p in anti), anti


def test_round_takes_few_round_trips(spark, round_trips):
    """A round builds its projections and filters as SQL text, one
    parse each: the second round of the SPEC world takes a bounded
    number of py4j round trips (about 8,000 when they were built one
    Column operator at a time)."""
    run = CrawlRun(spark, CrawlConfig(spec=SPEC, n_buckets=8))
    frontier = run.run_round(run.initial_frontier())
    run.round += 1
    start = round_trips()
    run.run_round(frontier)
    assert round_trips() - start <= 2500


def test_frontier_rows_derives_what_rules_leave_out(spark):
    """frontier_rows fills only the columns a rule leaves out (a null
    title the rule selects stays null: weixin titles key the seen set),
    adds the source's backoff to a retry's delay, and emits
    FRONTIER_SCHEMA's columns and types."""
    from pyspark.sql import functions as F

    from python_crawler_spark.plans.crawl import FRONTIER_SCHEMA, frontier_rows
    from python_crawler_spark.sources.worldgen import BACKOFF

    decided = ("url string, source string, name string, seed_id int, line_no int, "
               "stage int, page_no int, link_idx int, depth int")
    search = spark.createDataFrame(
        [("http://t/search?key=a", "tianyan", "a", 3, 3, 0, 0, -1, 0)], decided
    )
    article = spark.createDataFrame(
        [("http://w/s/1", "weixin", "w", 1, 1, 2, 0, 4, 1, None)], decided + ", title string"
    )
    rows = frontier_rows(
        article, search, search.withColumn("attempt", F.lit(1))
    ).collect()
    out = frontier_rows(article)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in FRONTIER_SCHEMA
    ]
    art, first, retry = sorted(rows, key=lambda r: (r["source"] != "weixin", r["attempt"]))
    assert art["title"] is None and (art["summary"], art["cover"], art["attempt"]) == ("", "", 0)
    assert (first["title"], first["attempt"], retry["attempt"]) == ("", 0, 1)
    assert retry["crawl_delay"] == first["crawl_delay"] + BACKOFF["tianyan"]
    assert retry["depth"] == first["depth"]
    assert (retry["ua_id"], retry["proxy_id"]) != (first["ua_id"], first["proxy_id"])
