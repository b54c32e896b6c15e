"""URL kernels: canonicalization, signature, absolute-join, pagination.

Spark variants (JVM, codegen) are the data plane: Column functions
for the names other modules build frames with, SQL text for the
engine-only helpers; the pandas variants back the Arrow-vectorized UDF
path and the pure-Python oracle.
Both implement the SAME spec so ordering/seen-set equality holds.

Reference semantics reimplemented (not copied):
- pic signature = 3rd path segment, None if path has <4 segments
  (/root/reference/crawler/weixin_public.py:118-123, SURVEY X2).
- absolute-URL join: prefix base when href is not http*
  (/root/reference/crawler/weixin_public.py:198-200,
   /root/reference/crawler/chuansongmen.py:85, SURVEY X4).
- pagination: link + '?start=' + 12*(i-1), i in [1, max_page)
  (/root/reference/crawler/chuansongmen.py:65-68, SURVEY X5).
- query-param extract with default
  (/root/reference/crawler/weixin_public.py:269-275, SURVEY X3).

Canonicalization itself is NEW (the reference has none): lowercase
scheme+host, strip default port, strip fragment, drop trailing '?',
sort query params. It is idempotent (property-tested).
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_lit

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str) -> str:
    """Scalar canonicalizer (oracle path)."""
    if url is None:
        return None
    url = url.strip()
    if not url:
        return url
    try:
        scheme, netloc, path, query, _frag = urlsplit(url)
    except ValueError:
        return url
    scheme = scheme.lower()
    netloc = netloc.lower()
    if ":" in netloc:
        host, _, port = netloc.rpartition(":")
        if _DEFAULT_PORTS.get(scheme) == port:
            netloc = host
    if not path:
        path = "/"
    if query:
        query = urlencode(sorted(parse_qsl(query, keep_blank_values=True)))
    # trailing strip again: fragment removal can expose trailing spaces
    return urlunsplit((scheme, netloc, path, query, "")).strip()


# already-canonical shape: lowercase scheme+host, no port, non-empty
# path, no query/fragment/whitespace — the overwhelmingly common case
# on a well-formed frontier; the spec fast_canonical_pred implements.
# End anchor is (?![\s\S]) — absolute end-of-input in Java regex
# (rlike) — because `$` matches BEFORE a trailing newline, which
# would let 'http://a.com/x\n' skip the scalar canonicalizer that
# strips the whitespace (ADVICE r2).
_FAST_CANONICAL_RE = r"^https?://[a-z0-9.\-]+/[^?#\s]*(?![\s\S])"

# Java-regex \s (no MULTILINE/UNICODE flags) is exactly these six
# ASCII chars — the builtin predicate below must match rlike's
# semantics bit-for-bit (property-tested in test_kernels).
_JAVA_WS = " \t\n\x0b\f\r"
_HOST_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789.-"


def fast_canonical_pred(url: Column) -> Column:
    """JVM predicate equivalent to ``url rlike _FAST_CANONICAL_RE``,
    built from codegen string primitives (startswith/locate/substring/
    translate — single linear passes, no java.util.regex). Measured 8x
    faster than the rlike on an 8M-row frontier (1.5s vs 12.6s at
    local[32]): java.util.regex allocates a Matcher per row and
    backtracks through the char-class runs, while translate is one
    table-lookup pass.

    Decomposition of ^https?://[a-z0-9.\\-]+/[^?#\\s]*(?![\\s\\S]):
      - scheme: startswith http:// or https://
      - host: chars between the scheme and the FIRST '/' after it are
        a non-empty run of [a-z0-9.-] (translate deletes legal chars;
        empty residue = all legal)
      - a '/' exists after the host (locate > 0)
      - nowhere in the url: '?', '#', or Java \\s whitespace (global
        translate check; scheme/host literals can't contain them, so
        global == path-only)
    """
    # 1-based host start: len("http://")+1 = 8, len("https://")+1 = 9
    is_https = url.startswith("https://")
    hs = F.when(is_https, F.lit(9)).otherwise(F.lit(8))
    # first '/' strictly after the scheme (locate's pos must be a
    # literal, hence the branch)
    slash = F.when(is_https, F.locate("/", url, 10)).otherwise(F.locate("/", url, 9))
    host = url.substr(hs, slash - hs)
    return (
        (url.startswith("http://") | is_https)
        & (slash > 0)
        & (F.length(host) > 0)
        & (F.translate(host, _HOST_CHARS, "") == "")
        & (F.translate(url, "?#" + _JAVA_WS, "") == url)
    )


def canonicalize_urls(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalizer for the Arrow UDF path. Its caller,
    :func:`canonicalize_split`, sends it only the rows that
    :func:`fast_canonical_pred` rejects (the irregular URLs: ports,
    uppercase, queries to sort, fragments), so every row takes the
    scalar path."""
    return urls.map(canonicalize_url, na_action="ignore")


def host_of(url: str) -> str:
    """Scalar host extraction (oracle path)."""
    if url is None:
        return None
    netloc = urlsplit(url).netloc.lower()
    return netloc.rpartition(":")[0] if ":" in netloc else netloc


def pic_signature(url: str) -> str | None:
    """Scalar: 3rd path segment, or None when the path has fewer than
    4 '/'-separated segments (weixin_public.py:118-123 semantics)."""
    if url is None:
        return None
    parts = urlsplit(url).path.split("/")
    return parts[2] if len(parts) >= 4 else None


def absolutize(href: str, base: str) -> str:
    """Scalar: prefix ``base`` unless href already starts with http."""
    if href is None:
        return None
    return href if href.startswith("http") else base + href


# ---------------------------------------------------------------- Spark side


def canonicalize_split(df, slow_udf, out: str = "canon_url"):
    """Canonicalize ``url`` into ``out`` with the fast path ACTUALLY
    skipping Python: already-canonical URLs (the overwhelmingly common
    case on a well-formed frontier) are selected by one codegen regex
    and never cross the Arrow boundary; only irregular rows (ports,
    uppercase, queries to sort, fragments, nulls) flow through the
    vectorized Python UDF branch. The two branches are unioned — downstream
    ordering never depends on row arrival order in this engine (the
    priority tuple is the only order), so the union is safe anywhere
    canonicalization is used.

    This exists because a CASE WHEN around a Python UDF does NOT make
    it conditional: Catalyst extracts the UDF into ArrowEvalPython,
    which evaluates every row. A filter/union split is the only way to
    keep regular rows JVM-side. Idempotence of the canonicalizer
    (property-tested) guarantees the branches agree on any row either
    could receive.

    Both branches SCAN the input, so callers should pass a cheap-to-
    rescan ``df`` (a materialized source or localCheckpoint — every
    engine call site does); a live expensive pipeline would execute
    twice."""
    url = F.col("url")
    is_fast = fast_canonical_pred(url)
    fast = df.filter(is_fast).withColumn(out, url)
    slow = df.filter(~is_fast | url.isNull()).withColumn(out, slow_udf("url"))
    # A plain union DOUBLES the map-stage partition count (both
    # branches scan the source); on an oversubscribed local[N] that
    # doubles concurrent tasks and thrashes SMT siblings (measured 2x
    # regression at local[32]). Coalesce back to one input's worth —
    # shuffle-free; each output partition chains one fast + one slow
    # partition. The partition count is the session's
    # defaultParallelism, never df.rdd.getNumPartitions(): touching
    # .rdd mid-plan finalizes the physical plan under AQE and can
    # execute upstream stages as a side effect.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return fast.unionByName(slow).coalesce(max(n_parts, 1))


def host_col(url: Column) -> Column:
    """Host of a URL, lowercased, port stripped — JVM-side.

    parse_url costs ~4.1s per 8M rows (java.net.URI allocation per
    row); the common case — an http(s) URL whose authority is a bare
    lowercase [a-z0-9.-]+ host — is answered by two substring_index
    passes (0.5s measured). Rows that fail the guard (uppercase, port,
    userinfo, IPv6 brackets, percent-escapes, non-http schemes) fall
    back to try_parse_url inside the same CASE WHEN: JVM conditionals
    evaluate lazily per row, so the slow branch only runs for the
    irregular minority (unlike Python UDFs, which ArrowEvalPython
    evaluates unconditionally). try_parse_url, not parse_url: under
    Spark 4 ANSI mode parse_url THROWS on an invalid URL — one
    malformed href harvested into a 10^10-row frontier must yield
    null, not kill the stage.

    INTENDED divergence from try_parse_url (ADVICE r3): on
    malformed-but-guard-passing URLs — a space or bad percent-escape
    in the PATH ('http://a.com/x y', 'http://a.com/p%q/'), or a
    host that is lexically [a-z0-9.-]+ but not a valid DNS name
    ('-a-.com', 'a..com') — java.net.URI nulls the host while the
    fast path returns the substring. The fast path's answer is the
    one the ENGINE wants: a malformed href harvested into the
    frontier should still group under its host for politeness and
    robots gating rather than escape both gates via null. The
    divergence is pinned in
    tests/test_scheduler.py::test_host_path_col_fast_vs_fallback."""
    # everything between '://' and the first subsequent '/' (or end):
    # substring_index(url, '/', 3) = 'http://host' (returns the whole
    # string when fewer than 3 slashes exist, i.e. no path — still
    # correct), then take what follows '://'
    raw = F.substring_index(F.substring_index(url, "/", 3), "://", -1)
    ok = (
        (url.startswith("http://") | url.startswith("https://"))
        & (F.length(raw) > 0)
        & (F.translate(raw, _HOST_CHARS, "") == "")
    )
    return F.when(ok, raw).otherwise(F.lower(F.try_parse_url(url, F.lit("HOST"))))


# The engine-only helpers below return SQL text over SQL text
# arguments (usually column names, each inserted as written), so a
# caller parses a whole projection or filter at once.


def path_sql(url: str) -> str:
    """Path of a URL (no query/fragment) — JVM-side, same fast-path/
    parse_url-fallback design as :func:`host_col`: the guarded common
    case is three substring passes instead of a java.net.URI parse.

    Fast path: chars after 'scheme://host' (= after the prefix
    substring_index(url, '/', 3)), with everything from the first '?'
    or '#' stripped. Guarded by the host_col guard plus a non-empty
    path; anything else (no path, exotic authority, non-http scheme)
    falls back to try_parse_url PATH — including its
    null-for-missing-or-invalid convention, which callers coalesce.

    Same INTENDED divergence as host_col (see its docstring): when the
    guard passes but the path is malformed per java.net.URI (space,
    bad %-escape), the fast path returns the literal substring where
    try_parse_url would null — malformed paths must still hit the
    robots gate."""
    prefix = f"substring_index({url}, '/', 3)"
    host_raw = f"substring_index({prefix}, '://', -1)"
    path = f"substring_index(substring_index(substr({url}, length({prefix}) + 1), '?', 1), '#', 1)"
    ok = (
        f"(startswith({url}, 'http://') OR startswith({url}, 'https://'))"
        f" AND length({host_raw}) > 0"
        f" AND translate({host_raw}, {sql_lit(_HOST_CHARS)}, '') = ''"
        f" AND length({path}) > 0"
    )
    return f"CASE WHEN {ok} THEN {path} ELSE try_parse_url({url}, 'PATH') END"


def pic_signature_sql(url: str) -> str:
    """SQL variant of :func:`pic_signature` (SURVEY X2), over
    :func:`path_sql`, so a malformed URL never raises under ANSI mode:
    a space in the path still yields its third segment, as the scalar
    does, and a URL with no parsable path yields null."""
    parts = f"split({path_sql(url)}, '/')"
    return f"CASE WHEN size({parts}) >= 4 THEN element_at({parts}, 3) END"


def query_param_sql(url: str, param: str, default: str) -> str:
    """``coalesce(try_parse_url(url,'QUERY',param), default)`` (SURVEY
    X3): a malformed URL, which parse_url would raise on under ANSI
    mode, yields ``default``, as a URL without the parameter does."""
    return f"coalesce(try_parse_url({url}, 'QUERY', {sql_lit(param)}), {sql_lit(default)})"


def absolutize_sql(href: str, base: str) -> str:
    """SQL variant of :func:`absolutize` (SURVEY X4) with a literal ``base``."""
    return f"CASE WHEN startswith({href}, 'http') THEN {href} ELSE concat({sql_lit(base)}, {href}) END"


def pagination_urls_sql(link: str, max_page: str) -> str:
    """Array of page URLs ``link?start=12*(i-1)`` for i in [1, max_page)
    (SURVEY X5 — range EXCLUDES max_page, chuansongmen.py:65)."""
    return (
        f"transform(sequence(1, {max_page} - 1), "
        f"_i -> concat({link}, '?start=', CAST((_i - 1) * 12 AS STRING)))"
    )
