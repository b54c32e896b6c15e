"""Gating rules as column predicates (SURVEY F3-F6, F14-F15, J2-J4,
J8 robots, D6 trims).

The reference hard-codes its gates as if/elif chains and in-memory
sets; here every gate is a row in one ``rules`` table, so gating is
data-driven and new rules deploy without code changes:

  rules(kind, key, pattern, action)

kinds: title_skip | name_black | pic_sig_black | link_shape | robots | trim

This module is the only reader of rule fields. The table is a local
relation, so reading its rows starts no Spark job; a caller that gates
many frames reads them once (``rules_by_kind``) and passes the rows.
Each crawl gate is one filter over them, parsed from SQL text (no
join).

The two RFC 9309 gates (``robots_prefix`` and ``robots_wildcard``
kinds, for rules tables of any size) share one longest-match builder,
``_longest_match_gate``: a broadcast per-host rule array and one
``array_max`` decision. They differ only in the pattern
(``robots_like_sql`` translates wildcards to LIKE) and the match
predicate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..functions.sqltext import sql_lit
from ..functions.urls import path_sql
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
    """The rules as a local relation (pandas through the session's
    Arrow path): a collect of it runs no Spark job."""
    return spark.createDataFrame(pd.DataFrame(gen_rules()), RULES_SCHEMA)


Rules = dict[str, list[Row]]  # rule rows by kind


def rules_by_kind(rules: DataFrame | Rules) -> Rules:
    """Every rule row by kind, from one collect of the rules table; a
    caller that gates many frames reads them once and passes this."""
    if isinstance(rules, dict):
        return rules
    by_kind: Rules = {}
    for r in rules.collect():
        by_kind.setdefault(r["kind"], []).append(r)
    return by_kind


def _keep_sql(preds: list[str]) -> str:
    """Left-anti semantics: keep a row where no predicate is true; a
    null one keeps it."""
    return "NOT coalesce(" + " OR ".join(["false", *[f"({p})" for p in preds]]) + ", false)"


def _in_sql(col: str, values: list[str]) -> list[str]:
    return [f"{col} IN ({', '.join(map(sql_lit, values))})"] if values else []


def filter_blacklisted_names(seeds: DataFrame, rules: DataFrame | Rules) -> DataFrame:
    """F3/J3: drop seeds whose exact name is blacklisted."""
    names = [r["pattern"] for r in rules_by_kind(rules).get("name_black", [])]
    return seeds.filter(_keep_sql(_in_sql("name", names)))


def apply_title_rules(items: DataFrame, rules: DataFrame | Rules) -> DataFrame:
    """F5 + F6: strip one leading 原创 (replace-first via ^ anchor),
    then drop titles matching any skip rule: a rule with a null key
    applies to every account (``name``), any other only to its own."""
    items = items.withColumn("title", F.expr("trim(regexp_replace(title, '^原创', ''))"))
    preds = []
    for r in rules_by_kind(rules).get("title_skip", []):
        hit = f"title RLIKE {sql_lit(r['pattern'])}"
        preds.append(hit if r["key"] is None else f"name = {sql_lit(r['key'])} AND {hit}")
    return items.filter(_keep_sql(preds))


def trim_rules(rules: DataFrame | Rules) -> dict[str, tuple[str, str]]:
    """D6: account -> (marker, direction), applied in the fetch pass."""
    return {r["key"]: (r["pattern"], r["action"]) for r in rules_by_kind(rules).get("trim", [])}


def link_shape_filter(links: DataFrame, rules: DataFrame | Rules, source: str) -> DataFrame:
    """F14: keep only hrefs matching any of ``source``'s link-shape
    regexes; a source without one keeps every link."""
    patterns = [r["pattern"] for r in rules_by_kind(rules).get("link_shape", []) if r["key"] == source]
    if not patterns:
        return links
    return links.filter(" OR ".join(f"href RLIKE {sql_lit(p)}" for p in patterns))


def robots_gate(frontier: DataFrame, rules: DataFrame | Rules) -> DataFrame:
    """J8 (new): drop frontier rows whose host equals a deny rule's key
    and whose path matches its regex."""
    path = path_sql("url")
    return frontier.filter(_keep_sql([
        f"host = {sql_lit(r['key'])} AND {path} RLIKE {sql_lit(r['pattern'])}"
        for r in rules_by_kind(rules).get("robots", []) if r["action"] == "deny"
    ]))


def _longest_match_gate(
    frontier: DataFrame, rules: DataFrame, kind: str, pattern_sql: str, match_sql: str
) -> DataFrame:
    """The one RFC 9309 longest-match decision (J8): per host, the
    longest matching rule by OCTET length of the pattern as written
    (§2.2.2: UTF-8 bytes, not characters) wins, allow wins a length
    tie, and no matching rule allows.

    ``kind``'s rules collapse to one array row per host (collect_list
    over the tiny rules table), broadcast-joined on host; each rule is
    ``struct(l, allow, p)`` with ``p = pattern_sql`` over the rule's
    ``pattern`` (a null action denies), so the decision is the
    ``allow`` of ``array_max`` over the rules whose ``match_sql`` (over
    ``_path`` and ``r.p``) holds: a codegen expression, the frontier
    side never shuffled, windowed or grouped."""
    per_host = F.broadcast(
        rules.filter(f"kind = {sql_lit(kind)}")
        .selectExpr(
            "key AS _r_host",
            "struct(octet_length(pattern) AS l, "
            "CAST(coalesce(action = 'allow', false) AS INT) AS allow, "
            f"{pattern_sql} AS p) AS _r",
        )
        .groupBy("_r_host")
        .agg(F.expr("collect_list(_r) AS _rr"))
    )
    return (
        frontier.withColumn("_path", F.expr(f"coalesce({path_sql('url')}, '/')"))
        .join(per_host, F.col("host") == F.col("_r_host"), "left")
        .filter(f"coalesce(array_max(filter(_rr, r -> {match_sql})).allow, 1) = 1")
        .drop("_path", "_r_host", "_rr")
    )


def robots_prefix_gate(
    frontier: DataFrame, rules: DataFrame, kind: str = "robots_prefix"
) -> DataFrame:
    """J8, RFC 9309 longest match over LITERAL PATH PREFIXES
    (:func:`_longest_match_gate`).

    Restrictions rule authors must know (ADVICE r2): patterns are
    matched as literal path prefixes — the RFC's `*` wildcard and `$`
    end-anchor special characters (§2.2.3) are NOT interpreted (a
    pattern containing them will simply never match a real path, since
    it is compared verbatim); and matching is against the URL PATH
    only, so rules that target the query string do not apply. Rules
    using `*`/`$` belong in :func:`robots_wildcard_gate`; query-string
    or free-form rules in the regex-based :func:`robots_gate`."""
    return _longest_match_gate(frontier, rules, kind, "pattern", "startswith(_path, r.p)")


# LIKE escape char for robots_wildcard_gate: never occurs in a URL path
# or a sane robots rule.
_LIKE_ESC = "\x01"


def robots_wildcard_pattern_to_like(pattern: str) -> tuple[str, bool]:
    """Scalar reference translation of an RFC 9309 rule pattern to a
    SQL LIKE pattern (the oracle SQL generator uses it; the parity test
    pins :func:`robots_like_sql` to it). Returns (like_pattern,
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


def robots_like_sql(pattern: str) -> str:
    """The engine's translation of the rule pattern column ``pattern``
    to a SQL LIKE pattern, as SQL text: the same rules as
    :func:`robots_wildcard_pattern_to_like`."""
    def core(p: str) -> str:
        for old, new in ((_LIKE_ESC, _LIKE_ESC * 2), ("%", _LIKE_ESC + "%"),
                         ("_", _LIKE_ESC + "_"), ("*", "%")):
            p = f"replace({p}, {sql_lit(old)}, {sql_lit(new)})"
        return p

    return (
        f"CASE WHEN endswith({pattern}, '$') "
        f"THEN {core(f'substr({pattern}, 1, length({pattern}) - 1)')} "
        f"ELSE concat({core(pattern)}, '%') END"
    )


def robots_wildcard_gate(
    frontier: DataFrame, rules: DataFrame, kind: str = "robots_wildcard"
) -> DataFrame:
    """J8, full RFC 9309 §2.2.3 special characters — the gate
    robots_prefix_gate's docstring points wildcard rules at: `*`
    matches any run of characters, a trailing `$` anchors the rule at
    end-of-path, everything else is literal; longest match as in
    :func:`_longest_match_gate`, wildcards counted as written.

    Each rule translates to a SQL LIKE pattern once, on the tiny rules
    side (:func:`robots_like_sql`). LIKE with a per-rule pattern
    compiles per (row x matching-host rule), but only hosts that
    publish wildcard rules pay it."""
    return _longest_match_gate(
        frontier, rules, kind, robots_like_sql("pattern"),
        f"_path LIKE r.p ESCAPE {sql_lit(_LIKE_ESC)}",
    )


def pic_sig_gate(imgs: DataFrame, rules: DataFrame | Rules) -> DataFrame:
    """F15/J2: drop images whose URL signature (``sig``) is blacklisted."""
    sigs = [r["pattern"] for r in rules_by_kind(rules).get("pic_sig_black", [])]
    return imgs.filter(_keep_sql(_in_sql("sig", sigs)))
