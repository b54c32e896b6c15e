"""Gating rules: broadcast-joined filter tables (SURVEY F3-F6, F14-F15,
J2-J4, J8 robots).

The reference hard-codes its gates as if/elif chains and in-memory
sets; here every gate is a row in one ``rules`` table broadcast to the
executors, so gating is data-driven and new rules deploy without code
changes:

  rules(kind, key, pattern, action)

kinds: title_skip | name_black | pic_sig_black | link_shape | robots | trim
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import path_col
from ..sources import worldgen

RULES_SCHEMA = "kind string, key string, pattern string, action string"


def gen_rules() -> list[dict]:
    """The rules table contents (FIXTURES.md A4). Patterns are the
    reference's gating semantics re-expressed as regex rows:
    weixin_public.py:183-188 (title skips), tianyan_crawler.py:108
    (name blacklist), weixin_public.py:66-106 (23 pic signatures),
    chuansongmen.py:74-76 (link shape), weixin_public.py:374-501
    (trim markers); robots rows are NEW (absent in the reference)."""
    rules: list[dict] = [
        dict(kind="title_skip", key=None, pattern="^每日花语", action="skip"),
        dict(kind="title_skip", key=None, pattern="潮汐·扑克问答", action="skip"),
        dict(kind="title_skip", key="扑克投资家", pattern="百家第.*期报名", action="skip"),
        dict(kind="title_skip", key="华商韬略", pattern="今日财经头条", action="skip"),
    ]
    rules += [
        dict(kind="name_black", key=None, pattern=n, action="skip")
        for n in worldgen.NAME_BLACKLIST
    ]
    rules += [
        dict(kind="pic_sig_black", key=None, pattern=sig, action="skip")
        for sig in worldgen.black_pic_signatures()
    ]
    rules.append(dict(kind="link_shape", key="chuansongmen", pattern=r"^/n/\d*", action="keep"))
    # robots: NEW vs reference (SURVEY J8) — deny a deterministic slice
    # of article paths on the hot host; the oracle applies the same rule.
    rules.append(dict(kind="robots", key="chuansong.me", pattern=r"^/n/\d*13$", action="deny"))
    # trim rules (D6): data-driven marker rows replace the reference's
    # 11-branch chain; each account gets one of the five marker shapes
    # (literal / last-hr / ▼ / backward first-hr / last-section,
    # worldgen.TRIM_SHAPES) mirroring weixin_public.py:374-501.
    for name in worldgen.WEIXIN_SEEDS:
        pattern, action = worldgen.trim_rule_for(name)
        rules.append(dict(kind="trim", key=name, pattern=pattern, action=action))
    return rules


def rules_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(gen_rules(), RULES_SCHEMA)


def _rules_of(rules: DataFrame, kind: str) -> DataFrame:
    return rules.filter(F.col("kind") == kind)


def filter_blacklisted_names(seeds: DataFrame, rules: DataFrame) -> DataFrame:
    """F3/J3: drop seeds whose exact name is blacklisted."""
    black = _rules_of(rules, "name_black").select(F.col("pattern").alias("name"))
    return seeds.join(F.broadcast(black), "name", "left_anti")


def apply_title_rules(items: DataFrame, rules: DataFrame, account_col: str = "name") -> DataFrame:
    """F5 + F6: strip one leading 原创 (replace-first via ^ anchor),
    then drop titles matching any global or account-scoped skip rule.

    Implemented as a broadcast theta-join (title rlike pattern) +
    anti-semantics via left join on matched rule — stays JVM-side."""
    items = items.withColumn(
        "title", F.trim(F.regexp_replace("title", "^原创", ""))
    )
    skips = F.broadcast(
        _rules_of(rules, "title_skip").select(
            F.col("key").alias("_rule_key"), F.col("pattern").alias("_rule_pat")
        )
    )
    joined = items.join(
        skips,
        (F.col("_rule_key").isNull() | (F.col("_rule_key") == F.col(account_col)))
        & F.rlike(F.col("title"), F.col("_rule_pat")),
        "left_anti",
    )
    return joined


def link_shape_filter(links: DataFrame, patterns: list[str], href_col: str = "href") -> DataFrame:
    """F14: keep only hrefs matching any of the source's link-shape
    regexes (its ``link_shape`` rule patterns, read once per run)."""
    if not patterns:
        return links
    return links.filter(reduce(operator.or_, [F.col(href_col).rlike(p) for p in patterns]))


def robots_gate(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """J8 (new): drop frontier rows whose (host, path) matches a deny
    rule — broadcast left-anti theta-join."""
    deny = F.broadcast(
        _rules_of(rules, "robots")
        .filter(F.col("action") == "deny")
        .select(F.col("key").alias("_r_host"), F.col("pattern").alias("_r_pat"))
    )
    path = path_col(F.col("url"))
    return frontier.join(
        deny,
        (F.col("host") == F.col("_r_host")) & F.rlike(path, F.col("_r_pat")),
        "left_anti",
    )


def robots_prefix_gate(
    frontier: DataFrame, rules: DataFrame, kind: str = "robots_prefix"
) -> DataFrame:
    """J8, RFC 9309 longest-match semantics — LITERAL PREFIXES ONLY:
    per host, allow/deny PATH prefix rules; the longest matching prefix
    wins (most-specific = OCTET length, RFC 9309 §2.2.2 — UTF-8 bytes,
    not characters); on a length tie allow wins; no matching rule ->
    allow.

    Restrictions rule authors must know (ADVICE r2): patterns are
    matched as literal path prefixes — the RFC's `*` wildcard and `$`
    end-anchor special characters (§2.2.3) are NOT interpreted (a
    pattern containing them will simply never match a real path, since
    it is compared verbatim); and matching is against the URL PATH
    only, so rules that target the query string do not apply. Rules
    using `*`/`$` belong in :func:`robots_wildcard_gate`; query-string
    or free-form rules in the regex-based :func:`robots_gate`.

    Scale shape: rules collapse to ONE array row per host
    (collect_list over the tiny rules table), broadcast-joined on
    host; the longest-match decision is a pure codegen expression
    (filter + array_max over the struct array) — the frontier side is
    never shuffled, windowed, or grouped."""
    per_host = F.broadcast(
        _rules_of(rules, kind)
        .groupBy(F.col("key").alias("_r_host"))
        .agg(
            F.collect_list(
                F.struct(F.col("pattern").alias("p"), F.col("action").alias("a"))
            ).alias("_rr")
        )
    )
    path = F.coalesce(path_col(F.col("url")), F.lit("/"))
    joined = frontier.join(per_host, F.col("host") == F.col("_r_host"), "left")
    matched = F.filter("_rr", lambda r: F.startswith(path, r["p"]))
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                F.octet_length(r["p"]).alias("l"),
                (r["a"] == F.lit("allow")).cast("int").alias("allow"),
            ),
        )
    )
    allowed = best.isNull() | (best["allow"] == 1)
    return joined.filter(allowed).drop("_r_host", "_rr")


# LIKE escape char for robots_wildcard_gate: never occurs in a URL path
# or a sane robots rule.
_LIKE_ESC = "\x01"


def robots_wildcard_pattern_to_like(pattern: str) -> tuple[str, bool]:
    """Scalar reference translation of an RFC 9309 rule pattern to a
    SQL LIKE pattern (shared by the oracle SQL generator and the
    Spark-side translation's parity test). Returns (like_pattern,
    anchored). Rules: LIKE metachars %/_ and the escape char are
    escaped; `*` becomes `%`; one TRAILING `$` anchors at end-of-path
    (dropped, no trailing `%`); a `$` anywhere else is literal
    (RFC 9309 §2.2.3)."""
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    core = (
        core.replace(_LIKE_ESC, _LIKE_ESC + _LIKE_ESC)
        .replace("%", _LIKE_ESC + "%")
        .replace("_", _LIKE_ESC + "_")
        .replace("*", "%")
    )
    return (core if anchored else core + "%"), anchored


def robots_wildcard_gate(
    frontier: DataFrame, rules: DataFrame, kind: str = "robots_wildcard"
) -> DataFrame:
    """J8, full RFC 9309 §2.2.3 special characters — the gate
    robots_prefix_gate's docstring points wildcard rules at: `*`
    matches any run of characters, a trailing `$` anchors the rule at
    end-of-path, everything else is literal. Longest-PATTERN match
    wins (§2.2.2 most-specific = OCTET length of the rule — UTF-8
    bytes, not characters, so non-ASCII patterns rank by encoded size —
    wildcards counted as written), allow wins length ties, no matching
    rule -> allow.

    Scale shape: identical to robots_prefix_gate — rules translate to
    SQL LIKE patterns ONCE on the tiny rules side (regexp-free string
    replaces), collapse to one broadcast array row per host, and the
    per-row decision is filter + array_max codegen over that array;
    the frontier is never shuffled. LIKE with a per-rule pattern
    column compiles per (row x matching-host rule), but only hosts
    that publish wildcard rules pay it."""
    esc2 = _LIKE_ESC + _LIKE_ESC
    p = F.col("pattern")
    anchored = p.endswith("$")
    core = F.when(anchored, p.substr(F.lit(1), F.length(p) - 1)).otherwise(p)
    core = F.replace(
        F.replace(
            F.replace(core, F.lit(_LIKE_ESC), F.lit(esc2)),
            F.lit("%"),
            F.lit(_LIKE_ESC + "%"),
        ),
        F.lit("_"),
        F.lit(_LIKE_ESC + "_"),
    )
    core = F.replace(core, F.lit("*"), F.lit("%"))
    like_pat = F.when(anchored, core).otherwise(F.concat(core, F.lit("%")))
    per_host = F.broadcast(
        _rules_of(rules, kind)
        .select(
            F.col("key").alias("_r_host"),
            F.struct(
                like_pat.alias("lp"),
                F.octet_length(p).alias("l"),
                (F.col("action") == F.lit("allow")).cast("int").alias("allow"),
            ).alias("_r"),
        )
        .groupBy("_r_host")
        .agg(F.collect_list("_r").alias("_rr"))
    )
    path = F.coalesce(path_col(F.col("url")), F.lit("/"))
    joined = frontier.join(per_host, F.col("host") == F.col("_r_host"), "left")
    matched = F.filter("_rr", lambda r: F.like(path, r["lp"], F.lit(_LIKE_ESC)))
    best = F.array_max(
        F.transform(
            matched, lambda r: F.struct(r["l"].alias("l"), r["allow"].alias("allow"))
        )
    )
    allowed = best.isNull() | (best["allow"] == 1)
    return joined.filter(allowed).drop("_r_host", "_rr")


def pic_sig_gate(imgs: DataFrame, rules: DataFrame, sig_col: str = "sig") -> DataFrame:
    """F15/J2: drop images whose URL signature is blacklisted."""
    black = _rules_of(rules, "pic_sig_black").select(F.col("pattern").alias(sig_col))
    return imgs.join(F.broadcast(black), sig_col, "left_anti")

