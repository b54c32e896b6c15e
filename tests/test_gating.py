"""The crawl's rule gates (F3, F5/F6, F14, F15, J8) and the robots
longest-prefix and wildcard gates (J8, RFC 9309 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_crawler_spark.operators import gating
from python_crawler_spark.operators.gating import RULES_SCHEMA, robots_prefix_gate

# one rule of each crawl kind, each with a neighbour that must not fire
RULES = [
    ("name_black", None, "blocked", "skip"),
    ("pic_sig_black", None, "badsig", "skip"),
    ("title_skip", None, "^daily", "skip"),        # every account
    ("title_skip", "acct_a", "promo", "skip"),     # acct_a only
    ("link_shape", "chuansongmen", r"^/n/\d+", "keep"),
    ("link_shape", "other", "^/x", "keep"),
    ("robots", "h.com", r"^/n/\d*13$", "deny"),
    ("robots", "i.com", "^/", "allow"),            # not a deny rule
    ("trim", "acct_a", "marker", "strip_after"),
]


def _rules(spark):
    return spark.createDataFrame(RULES, RULES_SCHEMA)


def _col(df, name):
    return {r[name] for r in df.collect()}


def test_name_gate_drops_blacklisted_keeps_null(spark):
    seeds = spark.createDataFrame([("blocked",), ("ok",), (None,)], "name string")
    got = gating.filter_blacklisted_names(seeds, _rules(spark))
    assert _col(got, "name") == {None, "ok"}


def test_pic_sig_gate_drops_blacklisted_keeps_null(spark):
    imgs = spark.createDataFrame([("badsig",), ("fine",), (None,)], "sig string")
    got = gating.pic_sig_gate(imgs, _rules(spark))
    assert _col(got, "sig") == {None, "fine"}


def test_title_rules_scope_and_nulls(spark):
    """A rule with a null key applies to every account, a keyed rule
    only to its own; a null title or account keeps the row unless a
    global rule matches; one leading 原创 is stripped first."""
    items = spark.createDataFrame(
        [
            (1, "acct_a", "promo day"),     # scoped rule, own account
            (2, "acct_b", "promo day"),     # scoped rule, other account
            (3, "acct_b", "daily news"),    # global rule
            (4, None, "promo day"),         # null account: scoped rule off
            (5, None, "daily news"),        # null account: global rule on
            (6, "acct_a", None),            # null title
            (7, "acct_b", "原创daily"),     # stripped, then global rule
            (8, "acct_b", "原创 kept"),
        ],
        "id int, name string, title string",
    )
    got = {r["id"]: r["title"] for r in gating.apply_title_rules(items, _rules(spark)).collect()}
    assert got == {2: "promo day", 4: "promo day", 6: None, 8: "kept"}


def test_robots_gate_denies_host_and_path(spark):
    """Only a deny rule fires, only on its own host, only where the
    path matches; a null host keeps the row."""
    urls = [
        ("http://h.com/n/113", "h.com"),
        ("http://h.com/n/114", "h.com"),
        ("http://i.com/n/113", "i.com"),
        ("http://g.com/n/113", None),
    ]
    frontier = spark.createDataFrame(urls, "url string, host string")
    got = gating.robots_gate(frontier, _rules(spark))
    assert _col(got, "url") == {
        "http://g.com/n/113", "http://h.com/n/114", "http://i.com/n/113",
    }


def test_link_shapes_and_trims_read_their_source(spark):
    links = spark.createDataFrame([("/n/12",), ("/x/1",), ("/n/",)], "href string")
    rules = _rules(spark)
    assert _col(gating.link_shape_filter(links, rules, "chuansongmen"), "href") == {"/n/12"}
    assert _col(gating.link_shape_filter(links, rules, "other"), "href") == {"/x/1"}
    assert _col(gating.link_shape_filter(links, rules, "weixin"), "href") == {"/n/", "/n/12", "/x/1"}
    assert gating.trim_rules(rules) == {"acct_a": ("marker", "strip_after")}


def test_crawl_run_reads_its_rules_without_a_job(spark):
    """The rules table is a local relation: building a CrawlRun, which
    reads the trims and holds the rules for its gates, starts no Spark
    job."""
    from python_crawler_spark.plans.crawl import CrawlConfig, CrawlRun

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
        return set(tracker.getJobIdsForGroup())

    before = job_ids()
    CrawlRun(spark, CrawlConfig())
    assert job_ids() == before


def _gate(spark, urls, rules):
    f = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "host", F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    )
    rdf = spark.createDataFrame(
        [("robots_prefix", h, p, a) for h, p, a in rules], RULES_SCHEMA
    )
    return {r["url"] for r in robots_prefix_gate(f, rdf).collect()}


def test_longest_prefix_wins(spark):
    rules = [("h.com", "/n/", "deny"), ("h.com", "/n/1", "allow")]
    got = _gate(
        spark,
        ["http://h.com/n/15", "http://h.com/n/25", "http://h.com/other"],
        rules,
    )
    # /n/15: longer allow carve-out wins; /n/25: blanket deny; /other: no match
    assert got == {"http://h.com/n/15", "http://h.com/other"}


def test_tie_prefers_allow_and_no_rules_allows(spark):
    rules = [("h.com", "/x", "deny"), ("h.com", "/x", "allow")]
    got = _gate(spark, ["http://h.com/x9", "http://other.com/x9"], rules)
    assert got == {"http://h.com/x9", "http://other.com/x9"}


def test_root_deny_blocks_everything_on_host(spark):
    rules = [("h.com", "/", "deny")]
    got = _gate(spark, ["http://h.com/a", "http://h.com/", "http://i.com/a"], rules)
    assert got == {"http://i.com/a"}


# ------------------------------------------------------- wildcard gate


def _wgate(spark, urls, rules):
    from python_crawler_spark.functions.urls import host_col
    from python_crawler_spark.operators.gating import robots_wildcard_gate

    # host_col, not try_parse_url: java.net.URI rejects paths with bad
    # percent-escapes (e.g. '/p%q/') and nulls the host; the engine's
    # guarded substring path is robust to them
    f = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "host", host_col(F.col("url"))
    )
    rdf = spark.createDataFrame(
        [("robots_wildcard", h, p, a) for h, p, a in rules], RULES_SCHEMA
    )
    return {r["url"] for r in robots_wildcard_gate(f, rdf).collect()}


def test_wildcard_star_matches_any_run(spark):
    # RFC 9309 example shape: deny any path containing a segment,
    # wherever it appears
    rules = [("h.com", "/*/private/", "deny")]
    got = _wgate(
        spark,
        [
            "http://h.com/a/private/x",
            "http://h.com/a/b/private/x",
            "http://h.com/private/x",   # '*' needs >= 0 chars between slashes
            "http://h.com/a/public/x",
        ],
        rules,
    )
    # /private/x: '/*/private/' needs '/' + run + '/private/' — the run
    # may be empty, so '//private/' would match but '/private/' cannot
    assert got == {"http://h.com/private/x", "http://h.com/a/public/x"}


def test_wildcard_dollar_anchors_end(spark):
    rules = [("h.com", "/*.php$", "deny")]
    got = _wgate(
        spark,
        [
            "http://h.com/a.php",
            "http://h.com/deep/b.php",
            "http://h.com/a.php5",      # not at end -> allowed
            "http://h.com/a.phpx/y",
        ],
        rules,
    )
    assert got == {"http://h.com/a.php5", "http://h.com/a.phpx/y"}


def test_wildcard_mid_dollar_is_literal_and_metachars_escaped(spark):
    # '$' not at pattern end is literal; '%' and '_' in rules must be
    # escaped, never treated as LIKE wildcards
    rules = [
        ("h.com", "/a$b", "deny"),
        ("i.com", "/p%q", "deny"),
        ("j.com", "/x_y", "deny"),
    ]
    got = _wgate(
        spark,
        [
            "http://h.com/a$b/c",   # literal $ matches
            "http://h.com/aXb/c",   # $ is not a wildcard
            "http://i.com/p%q/",    # literal % matches
            "http://i.com/pZq/",    # % must NOT match as LIKE-any-run
            "http://j.com/x_y",     # literal _ matches
            "http://j.com/xAy",     # _ must NOT match as LIKE-any-char
        ],
        rules,
    )
    assert got == {"http://h.com/aXb/c", "http://i.com/pZq/", "http://j.com/xAy"}


def test_wildcard_longest_pattern_wins_and_tie_allows(spark):
    rules = [
        ("h.com", "/n/*", "deny"),        # len 5
        ("h.com", "/n/*.html", "allow"),  # len 10 -> wins on .html paths
        ("i.com", "/a*", "deny"),         # len 4
        ("i.com", "/a/*", "allow"),       # len 4 tie -> allow wins
    ]
    got = _wgate(
        spark,
        [
            "http://h.com/n/x.html",
            "http://h.com/n/x.gif",
            "http://i.com/a/z",
        ],
        rules,
    )
    assert got == {"http://h.com/n/x.html", "http://i.com/a/z"}


def test_wildcard_most_specific_is_octets_not_chars(spark):
    """RFC 9309 §2.2.2 ranks most-specific by OCTET length (ADVICE
    r3): deny '/p/éé' is 5 characters but 7 UTF-8 octets, allow
    '/p/*11' is 6 characters and 6 octets. Character ranking would
    pick allow (6 > 5); octet ranking must pick deny (7 > 6)."""
    rules = [
        ("h.com", "/p/éé", "deny"),    # 5 chars, 7 octets
        ("h.com", "/p/*11", "allow"),  # 6 chars, 6 octets
    ]
    got = _wgate(spark, ["http://h.com/p/éé11"], rules)
    assert got == set(), "octet-length ranking must let the deny rule win"


def test_wildcard_translation_parity(spark):
    """The engine's SQL-text rule translation (robots_like_sql, the one
    robots_wildcard_gate runs) must equal the scalar reference
    robots_wildcard_pattern_to_like on every pattern shape — the oracle
    SQL is generated with the scalar version."""
    from python_crawler_spark.operators.gating import (
        robots_like_sql,
        robots_wildcard_pattern_to_like,
    )

    pats = [
        "/", "/a", "/a/*", "/*.php$", "/a$b", "/p%q", "/x_y", "/*$",
        "/a*b*c", "/$", "$", "*", "/a%*_$", "/\x01odd", "",
    ]
    rdf = spark.createDataFrame(
        [("robots_wildcard", "h.com", p, "deny") for p in pats], RULES_SCHEMA
    )
    lp = rdf.selectExpr("pattern", f"{robots_like_sql('pattern')} AS lp")
    got = {r["pattern"]: r["lp"] for r in lp.collect()}
    for pat in pats:
        assert got[pat] == robots_wildcard_pattern_to_like(pat)[0], pat
