"""The crawl plan: frontier round loop (SURVEY §3.4).

    seeds -> [round r: enrich/canonicalize -> robots gate ->
    batch dedup -> seen anti-join (broadcast while the seen keys fit
    the broadcast threshold, else bloom + exact) -> host queues ->
    fetch + parse (synthetic web, one Arrow pass) -> outputs and new
    frontier as projections of the pages; seen += fetched; round r's
    delta committed] until frontier empty
    -> fetch_order: schedule() over the whole fetch log (replay clock)

Each round materializes four things once: the survivors, the fetched
and parsed pages, the decoded image delta and the next frontier. The
driver reads row counts from observations on those materializations
to decide termination (no .collect() of data). A round's snapshot
stores only what it fetched, the pages and the decoded images: the
output tables and the next frontier are projections of the pages, so
resume derives them. Ordering is carried as the priority tuple and
reconstructed by sort — equality with the sequential oracle
(tests/oracle.py) is over (source_rank, priority) order, per-source
virtual clocks, seen-set membership, and extracted records.

Every projection and filter a round builds is SQL text, one parse
each (a Column operator costs a py4j round trip): a round of a few
hundred pages is dominated by fixed per-call cost.

Every frontier row, a seed's or an expansion rule's, is built by
frontier_rows: the seeds and each rule state only what they decide
(URL, seed lineage, stage, position and depth, plus the attempt and
the weixin title, summary and cover when they set them), and
frontier_rows derives the politeness delay, a retry's backoff and the
fetch identity.

Reference lifecycle being re-expressed: weixin_public.py:126-266,
chuansongmen.py:34-97, tianyan_crawler.py:110-178,
tianyan_extractor.py:15-30 — as one declarative dataflow.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import bucket_col
from ..functions.sqltext import sql_ident, sql_lit
from ..functions.urls import (
    absolutize_sql,
    canonicalize_split,
    host_col,
    pagination_urls_sql,
    pic_signature_sql,
    query_param_sql,
)
from ..operators import gating
from ..operators.dedup import (
    batch_first_occurrence,
    build_bloom_filters,
    dedup_against_seen,
    frontier_first_occurrence,
)
from ..operators.components import _rdd_ids as _persistent_rdd_ids
from ..operators.components import _unpersist as _unpersist_rdds
from ..operators.multimodal import fetch_and_decode_images, with_rehost_id
from ..operators.scheduler import (
    PRIORITY_WIDTHS,
    STAGE_CHILD,
    STAGE_LIST,
    STAGE_ROOT,
    _case_source,
    host_queues,
    pack_order,
    range_count,
    schedule,
)
from ..parse.udfs import PAGE_TYPE, PARSERS, canonicalize_urls_udf, parse_page
from ..sources import worldgen
from ..sources.tables import SnapshotStore
from ..sources.worldgen import CSM_BASE, TYC_BASE, WEIXIN_BASE, WorldSpec

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("seed_id", T.IntegerType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("stage", T.IntegerType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("link_idx", T.IntegerType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("cover", T.StringType()),
        T.StructField("crawl_delay", T.DoubleType()),
        # S5/S7 fetch identity: what a production fetch stage acts on.
        T.StructField("render", T.BooleanType()),
        T.StructField("ua_id", T.IntegerType()),
        T.StructField("proxy_id", T.IntegerType()),
    ]
)

SEED_COLS = ["source", "name", "seed_id", "line_no"]  # a child keeps its seed's

SEEN_COLS = ["bucket", "key_hash", "dedup_key", "url", "round"]
SEEN_ROW_BYTES = 16  # Spark's size estimate of a row of one long column (the seen keys)

LOG_COLS = [
    "url", "canon_url", "dedup_key", "key_hash", "bucket", "host",
    "source", "name", "seed_id", "line_no", "stage", "page_no",
    "link_idx", "attempt", "depth", "crawl_delay", "kind",
    "render", "ua_id", "proxy_id",
    "host_salt", "host_rank", "host_scheduled_at", "round",
]

NO_TRIM = ("", "strip_after")  # D6 default for an account without a rule

MASK63 = 0x7FFFFFFFFFFFFFFF

COMPANY_ID_RE = r"/company/(\d+)"  # D10: a detail page's company id


def _delay_hash(url_col):
    """Matches worldgen._h('delay', url): xxhash64 of 'delay\\x1f'+url,
    sign-masked — computed JVM-side."""
    return F.xxhash64(F.concat(F.lit("delay\x1f"), url_col)).bitwiseAND(F.lit(MASK63))


def crawl_delay_col(source, stage, url):
    """Virtual politeness delay per (source, stage) — the reference's
    sleep budget as a column (SURVEY O5-O7, BASELINE.md)."""
    hd = _delay_hash(url)
    return (
        F.when(source == "weixin", F.when(stage == STAGE_ROOT, 5.0).otherwise(1.0))
        .when(source == "chuansongmen", F.lit(3.0))
        .when(
            source == "tianyan",
            F.when(stage <= STAGE_LIST, 8.0 + (hd % 7001) / 1000.0).otherwise(
                15.0 + (hd % 20001) / 1000.0
            ),
        )
        .otherwise(F.lit(0.0))
    )


def _rotating_sql(tag: str, n: int) -> str:
    """(stable url base + attempt) mod n, in hash parity with
    worldgen.fetch_identity."""
    base = f"xxhash64(concat({sql_lit(tag + chr(0x1F))}, url)) & {sql_lit(MASK63)}"
    # pmod the 63-bit base BEFORE adding attempt: base + attempt could
    # wrap past 2^63-1 (negative result, or an ANSI-mode throw),
    # diverging from the oracle's unbounded-int arithmetic. (b % n +
    # a) % n == (b + a) % n for non-negative b, a, so parity with
    # worldgen.fetch_identity is exact (ADVICE r2).
    return f"CAST(pmod(pmod({base}, {n}) + attempt, {n}) AS INT)"


# S5/S7 fetch identity over (url, source, stage, attempt)
FETCH_IDENTITY_SQL = {
    "render": f"(source = 'weixin' AND stage = {STAGE_ROOT}) OR source = 'tianyan'",
    "ua_id": _rotating_sql("ua", len(worldgen.UA_POOL)),
    "proxy_id": _rotating_sql("proxy", len(worldgen.PROXY_POOL)),
}


def with_fetch_identity(df: DataFrame) -> DataFrame:
    """S5/S7: attach (render, ua_id, proxy_id) fetch-identity columns,
    JVM-side, in hash parity with worldgen.fetch_identity /
    render_required. Retries rotate identity because the formula is
    (stable-url-base + attempt) mod pool — the reference's
    install_new_driver rotation (tianyan_crawler.py:145-152) as a
    deterministic column."""
    return df.withColumns({c: F.expr(e) for c, e in FETCH_IDENTITY_SQL.items()})


# what a rule may leave out; every other decided column it must select
RULE_DEFAULTS = {"attempt": 0, "title": "", "summary": "", "cover": ""}
DECIDED = FRONTIER_SCHEMA.names[: FRONTIER_SCHEMA.names.index("cover") + 1]

# the derived columns over the unioned rules: a retry's delay comes
# right after its failed attempt, plus its source's backoff (O8)
_BACKOFF = {s: f"crawl_delay + {sql_lit(float(b))}" for s, b in worldgen.BACKOFF.items()}
DERIVED_SQL = {
    "crawl_delay": f"CASE WHEN attempt > 0 THEN {_case_source(_BACKOFF, 'crawl_delay')} "
                   "ELSE crawl_delay END",
    **FETCH_IDENTITY_SQL,
}


def frontier_rows(*rules: DataFrame) -> DataFrame:
    """The one frontier-row constructor. Each rule frame carries only
    what its rule decides: the DECIDED columns, where a column of
    RULE_DEFAULTS the rule does not select takes that default and a
    null it selects stays null (hence the rules come in apart: a union
    with missing columns would null the absent ones). The rules are
    unioned once, and the rest is derived here: the politeness delay
    (O5-O7, crawl_delay_col), plus BACKOFF[source] for a retry (O8),
    and the fetch identity (S5/S7), typed in one projection. The rows
    come out in FRONTIER_SCHEMA order and types."""
    rows = reduce(DataFrame.unionByName, [
        r.selectExpr(*[
            sql_ident(c) if c in r.columns else f"{sql_lit(RULE_DEFAULTS[c])} AS {c}"
            for c in DECIDED
        ])
        for r in rules
    ])
    delay = crawl_delay_col(F.col("source"), F.col("stage"), F.col("url"))
    return rows.withColumn("crawl_delay", delay).selectExpr(*[
        f"CAST({DERIVED_SQL.get(f.name, sql_ident(f.name))} AS {f.dataType.simpleString()}) AS {f.name}"
        for f in FRONTIER_SCHEMA.fields
    ])


def enrich_frontier(frontier: DataFrame, n_buckets: int, key: str = "canon_url") -> DataFrame:
    """The one enrich step of batch rounds and streamed epochs: adds
    canon_url (regular URLs stay JVM-side, see canonicalize_split),
    dedup_key (``key``, SQL text over the row and canon_url),
    key_hash = xxhash64(dedup_key), its hash bucket, and host."""
    f = canonicalize_split(frontier, canonicalize_urls_udf)
    f = f.withColumn("dedup_key", F.expr(key))
    f = f.withColumn("key_hash", F.expr("xxhash64(dedup_key)"))
    f = f.withColumn("bucket", bucket_col(F.col("key_hash"), n_buckets))
    return f.withColumn("host", host_col(F.col("url")))


@dataclass
class CrawlConfig:
    spec: WorldSpec = field(default_factory=WorldSpec)
    n_buckets: int = 16
    n_salts: int = 4
    fixed_date: str = "2016-06-01"  # X10 determinism: fixed clock
    max_rounds: int = 8
    first_seed: int = 0   # F2 resume window (tianyan semantics, applied to all)
    seed_limit: int | None = None
    # Parse family: 'dialect' = compiled-regex kernels over the clean
    # worldgen markup (fast path); 'tolerant' = stdlib-html.parser DOM
    # kernels (parse/tolerant.py) for real-world markup. dirty_web=True
    # makes worldgen emit deterministically messed-up markup (reordered
    # /requoted/uppercased attributes, unclosed tails) — the e2e world
    # the tolerant family is verified against.
    html_parser: str = "dialect"
    dirty_web: bool = False
    # Seen-set probe once the seen set outgrows
    # spark.sql.autoBroadcastJoinThreshold (16 B a row): 'bloom'
    # (default) builds per-bucket Bloom filters from the seen set in
    # that round, 'none' runs the exact anti-join alone. A seen set
    # that fits the threshold is one broadcast anti-join either way.
    filter_family: str = "bloom"


class CrawlRun:
    """Driver for the round loop. Holds accumulated outputs as
    DataFrames: unions of per-round projections of each round's
    checkpointed pages (images: of each round's checkpointed delta)."""

    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig | None = None,
        store: SnapshotStore | None = None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.kernels = PARSERS.get(self.cfg.html_parser)
        if self.kernels is None:
            raise ValueError(f"unknown html_parser: {self.cfg.html_parser!r}")
        self.filter_family = self.cfg.filter_family
        if self.filter_family not in ("bloom", "none"):
            raise ValueError(f"unknown filter_family: {self.filter_family!r}")
        self.store = store
        # every rule kind, read once per run from a local relation (no job)
        self.rules = gating.rules_by_kind(gating.rules_df(spark))
        self.trims = gating.trim_rules(self.rules)  # D6, applied in the fetch pass
        self.round = 0
        self.seen: DataFrame = spark.createDataFrame(
            [], "bucket int, key_hash long, dedup_key string, url string, round int"
        )
        self.fetch_log: DataFrame | None = None
        self.articles: DataFrame | None = None
        self.articles_text: DataFrame | None = None
        self.companies: DataFrame | None = None
        self.images: DataFrame | None = None
        self.metrics: list[dict] = []
        self.counts: dict = {}  # the last round's observed counters
        self.n_fetched = 0  # fetch log rows: every round's observed `fetched`
        self.delta: dict[str, DataFrame] = {}  # the last round's snapshot tables
        self._start_frontier: tuple[DataFrame, dict] | None = None  # set by resume()

    # ------------------------------------------------------------ frontier

    def initial_frontier(self) -> DataFrame:
        """Seeds -> root fetches (SURVEY O1: line order is carried as a
        column, F1-F3 seed gates applied)."""
        seeds = self.spark.createDataFrame(
            worldgen.gen_seeds(self.cfg.spec),
            "seed_id int, source string, line_no int, name string, url string",
        )
        keep = ["length(trim(name)) > 0", f"line_no >= {sql_lit(self.cfg.first_seed)}"]  # F1, F2
        if self.cfg.seed_limit is not None:
            keep.append(f"line_no < {sql_lit(self.cfg.seed_limit)}")
        seeds = gating.filter_blacklisted_names(seeds.filter(" AND ".join(keep)), self.rules)  # F3
        return frontier_rows(seeds.selectExpr(
            "url", *SEED_COLS, f"{STAGE_ROOT} AS stage", "0 AS page_no", "-1 AS link_idx", "0 AS depth"
        ))

    def _enrich(self, frontier: DataFrame) -> DataFrame:
        """enrich_frontier keyed by title for weixin articles — the
        reference dedups weixin by title, J1/F7; url otherwise; the
        attempt suffix lets O8 retries bypass the seen set."""
        base = f"CASE WHEN source = 'weixin' AND stage = {STAGE_CHILD} THEN title ELSE canon_url END"
        key = f"CASE WHEN attempt > 0 THEN concat({base}, '#a', CAST(attempt AS STRING)) ELSE {base} END"
        return enrich_frontier(frontier, self.cfg.n_buckets, key)

    # --------------------------------------------------------------- fetch

    def _fetch(self, plan: DataFrame) -> DataFrame:
        """The fetch stage: mapInPandas over the scheduled plan; the
        synthetic web (worldgen.fetch_url) substitutes live HTTP
        (SURVEY S6-S8). In production this is the batch HTTP client
        with a per-executor session. Each page is parsed in the same
        batch (parse_page), so html never leaves Python: the pass
        returns the plan's columns plus ``kind`` and the parsed
        ``page`` struct."""
        spec, dirty, K, trims = self.cfg.spec, self.cfg.dirty_web, self.kernels, self.trims
        out_schema = T.StructType(
            plan.schema.fields
            + [T.StructField("kind", T.StringType()), T.StructField("page", PAGE_TYPE)]
        )

        def run(batches):
            for pdf in batches:
                kinds, pages = [], []
                cols = [pdf[c] for c in ("url", "attempt", "source", "stage", "name")]
                for url, att, source, stage, name in zip(*cols):
                    kind, html = worldgen.fetch_url(
                        url, attempt=int(att), spec=spec, dirty=dirty
                    )
                    kinds.append(kind)
                    trim = trims.get(name, NO_TRIM)
                    pages.append(parse_page(K, html, source, int(stage), trim))
                yield pdf.assign(kind=kinds, page=pages)

        return plan.mapInPandas(run, out_schema)

    # ----------------------------------------------------------- expansion

    def _expand_weixin_list(self, fetched: DataFrame) -> DataFrame:
        """D1 + F4/F5/F6: list page -> article candidates in DOM order."""
        items = fetched.filter(f"source = 'weixin' AND stage = {STAGE_ROOT}").selectExpr(
            *SEED_COLS, "depth + 1 AS depth", "posexplode(page.items) AS (link_idx, item)"
        )
        items = items.filter("item.cover != ''").selectExpr(  # F4
            "*", *[f"item.{c} AS {c}" for c in ("href", "title", "summary", "cover")]
        )
        items = gating.apply_title_rules(items, self.rules)  # F5+F6
        return items.selectExpr(
            f"{absolutize_sql('href', WEIXIN_BASE)} AS url",  # X4
            *SEED_COLS, f"{STAGE_CHILD} AS stage", "0 AS page_no",
            "link_idx", "depth", "title", "summary", "cover",
        )

    def _expand_csm_account(self, fetched: DataFrame) -> DataFrame:
        """D9 + X5: account root -> list pages 1..max_page-1."""
        # max_page <= 1 has no list pages (sequence(1, 0) is [1, 0])
        accts = fetched.filter(
            f"source = 'chuansongmen' AND stage = {STAGE_ROOT} AND page.max_page > 1"
        )
        pages = accts.selectExpr(
            *SEED_COLS, "depth + 1 AS depth",
            f"posexplode({pagination_urls_sql('url', 'page.max_page')}) AS (pos, url)",
        )
        return pages.selectExpr(
            "url", *SEED_COLS, f"{STAGE_LIST} AS stage", "pos + 1 AS page_no",
            "-1 AS link_idx", "depth",
        )

    def _expand_csm_list(self, fetched: DataFrame) -> DataFrame:
        """D8 + F14 + X4: list page -> article URLs in DOM order."""
        links = fetched.filter(f"source = 'chuansongmen' AND stage = {STAGE_LIST}").selectExpr(
            *SEED_COLS, "page_no", "depth + 1 AS depth", "posexplode(page.links) AS (link_idx, href)"
        )
        links = gating.link_shape_filter(links, self.rules, "chuansongmen")  # F14
        return links.selectExpr(
            f"{absolutize_sql('href', CSM_BASE)} AS url",
            *SEED_COLS, f"{STAGE_CHILD} AS stage", "page_no", "link_idx", "depth",
        )

    def _expand_tianyan_search(self, fetched: DataFrame) -> DataFrame:
        """F12: an anti-bot page -> its retry (O8), the same row one
        attempt on, at the same depth; else the first query_name link
        -> detail child (F13 drops empty results)."""
        retry = "(page.anti_bot AND attempt = 0)"
        detail = "((NOT page.anti_bot) AND page.query_link != '')"  # F13
        searches = fetched.filter(
            f"source = 'tianyan' AND stage = {STAGE_ROOT} AND ({retry} OR {detail})"
        )
        return searches.selectExpr(
            f"CASE WHEN {retry} THEN url "
            f"ELSE {absolutize_sql('page.query_link', TYC_BASE)} END AS url",
            *SEED_COLS,
            f"CASE WHEN {retry} THEN {STAGE_ROOT} ELSE {STAGE_CHILD} END AS stage",
            "0 AS page_no",
            f"CASE WHEN {retry} THEN -1 ELSE 0 END AS link_idx",
            f"CASE WHEN {retry} THEN attempt + 1 ELSE 0 END AS attempt",
            f"depth + CASE WHEN {retry} THEN 0 ELSE 1 END AS depth",
        )

    def _expand(self, pages: DataFrame) -> DataFrame:
        """The next frontier as a projection of one round's fetched
        pages, so a round and a resume (over the last committed round's
        stored pages) derive the same rows: each rule states only what
        it decides, and frontier_rows unions the four once and derives
        the delay and the fetch identity."""
        return frontier_rows(
            self._expand_weixin_list(pages),
            self._expand_csm_account(pages),
            self._expand_csm_list(pages),
            self._expand_tianyan_search(pages),
        )

    # ----------------------------------------------------------- extraction

    def _page_tables(self, pages: DataFrame) -> tuple[dict[str, DataFrame], DataFrame]:
        """Fetched-and-parsed rows (with their ``round``) -> ({fetch_log,
        the seen rows they add, articles, articles_text, companies},
        image candidates): projections and filters only, so a round and
        a resume (over the stored pages) derive the same rows."""
        articles, image_candidates = self._extract_weixin_articles(pages)
        return {
            "fetch_log": pages.selectExpr(*map(sql_ident, LOG_COLS)),
            "seen": pages.selectExpr(*map(sql_ident, SEEN_COLS)),
            "articles": articles,
            "articles_text": self._extract_csm_articles(pages),
            "companies": self._extract_companies(pages),
        }, image_candidates

    def _extract_weixin_articles(self, fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
        """D2-D7 + F8-F11 + K1 analog: article pages -> 13-column
        articles table (tb_news_resource shape,
        weixin_public.py:245-248) + image rows for the pipeline."""
        arts = fetched.filter(f"source = 'weixin' AND stage = {STAGE_CHILD}")
        kept = arts.selectExpr("*", "page.article AS p").filter(
            "p IS NOT NULL"  # F8: no js_content body
            " AND NOT p.has_video"  # F9
            " AND p.publish_time IS NOT NULL"  # F10
            " AND NOT (contains(p.body_text, '课程详情') AND contains(p.body_text, '报名需知'))"  # F11
        )
        # D7 images were parsed pre-trim in the fetch pass (reference
        # processes imgs first, weixin_public.py:350-373, then trims,
        # then tiny); inline yields each image's src and data_type
        imgs = kept.selectExpr(
            "url AS article_url", "line_no", "page_no", "link_idx", "title AS caption",
            "inline(p.images)",
        )
        articles = kept.selectExpr(
            "url AS src_url",
            "title",
            "p.author_name AS author_name",
            "name AS resource_from",
            "p.content AS content",
            "p.msg_link AS content_src",
            "0 AS content_read",
            "0 AS audit_status",
            "p.publish_time AS publish_time",
            f"{sql_lit(self.cfg.fixed_date)} AS create_time",  # X10 fixed clock
            "summary",
            "'' AS src_header",
            "cover AS cover_small",
            "seed_id", "line_no", "page_no", "link_idx",
        )
        return articles, imgs

    def _extract_csm_articles(self, fetched: DataFrame) -> DataFrame:
        """D2+D4+K4 analog: body text per article."""
        arts = fetched.filter(f"source = 'chuansongmen' AND stage = {STAGE_CHILD}")
        return arts.selectExpr(
            "url AS src_url", "name AS account", "seed_id", "line_no", "page_no", "link_idx",
            "page.text AS text",
        )

    def _extract_companies(self, fetched: DataFrame) -> DataFrame:
        """D10-D15 + K2 analog: detail pages -> nested company rows."""
        details = fetched.filter(f"source = 'tianyan' AND stage = {STAGE_CHILD}")
        return details.selectExpr(
            f"regexp_extract(url, {sql_lit(COMPANY_ID_RE)}, 1) AS company_id",
            "'tianyancha' AS sourceFrom",
            f"{sql_lit(self.cfg.fixed_date)} AS last_update",
            "seed_id", "line_no",
            "page.company.*",
        )

    def _image_pipeline(self, imgs: DataFrame) -> DataFrame:
        """F15 sig gate -> X3 fmt -> URL dedupe (download cache) ->
        synth fetch + decode -> F16 small -> X7/X8 rehost id ->
        images corpus rows (input_hint schema + lineage columns)."""
        imgs = imgs.selectExpr(
            "*",
            f"{pic_signature_sql('src')} AS sig",  # X2
            "CASE WHEN data_type != '' THEN data_type "
            f"ELSE {query_param_sql('src', 'wx_fmt', 'jpg')} END AS fmt",  # X3
            "src AS _k",
        )
        imgs = gating.pic_sig_gate(imgs, self.rules)  # F15
        imgs = batch_first_occurrence(  # download cache: dedupe by URL,
            # first occurrence in article-priority order (matches the
            # sequential reference encounter order)
            imgs,
            "_k",
            ["line_no", "page_no", "link_idx"],
            order_col=pack_order(
                [(n, b, n) for n, b in PRIORITY_WIDTHS if n in ("line_no", "page_no", "link_idx")]
            ),
        ).drop("_k")
        imgs = fetch_and_decode_images(imgs, "src")
        imgs = with_rehost_id(imgs, "src")
        return imgs.selectExpr(
            "image_id", "bytes", "CAST(w AS INT) AS w", "CAST(h AS INT) AS h", "fmt",
            "caption", "phash", "small", "sig", "src AS src_url", "article_url",
            "rehost_url", "dec_fmt", "length(bytes) AS n_bytes",
        )

    # -------------------------------------------------------------- rounds

    def _survivors(self, frontier: DataFrame) -> DataFrame:
        """The frontier rows this round fetches: enrich -> robots gate
        (J8) -> first occurrence in the batch (J6) -> not in the seen
        set (J1). The seen set is the rounds' ``fetched`` rows, so its
        size is known without a job: while ``n_fetched`` long keys fit
        the session's autoBroadcastJoinThreshold, the probe is one
        anti-join against the broadcast keys (no shuffle of either
        side, no filter). A larger seen set takes ``filter_family``'s
        probe, the Bloom one built from this seen set in this round."""
        cand = self._enrich(frontier)
        cand = gating.robots_gate(cand, self.rules)  # J8
        cand = frontier_first_occurrence(cand)  # J6 step 1
        if self.n_fetched * SEEN_ROW_BYTES <= _broadcast_threshold(self.spark):
            return cand.join(F.broadcast(self.seen.select("key_hash")), "key_hash", "left_anti")
        if self.filter_family == "none":
            return dedup_against_seen(cand, self.seen, None)
        filters, filter_counts = _observed_checkpoint(
            build_bloom_filters(self.seen), nbytes=F.sum("m_bits") / 8
        )
        return dedup_against_seen(
            cand, self.seen, filters, filters_total_bytes=filter_counts["nbytes"]
        )

    def run_round(self, frontier: DataFrame) -> DataFrame:
        """One scheduling round; returns next round's frontier.

        Materializes four things once: the survivors ``new``, the
        fetched and parsed pages, the decoded image delta and the next
        frontier (``_expand`` of the pages). A round whose seen set
        outgrows the broadcast threshold with the Bloom family also
        materializes its prefilter, built from the seen set it probes
        (``_survivors``); the filter and the survivors are freed once
        the pages exist, so a round keeps only its pages, images and
        next frontier. Every other table is a projection of the pages;
        the round's counters are observed on those same
        materializations (``self.counts``), so they cost no job of
        their own. ``self.delta`` is what the round fetched: its pages
        and decoded images."""
        cfg = self.cfg
        pre_ids = _persistent_rdd_ids(self.spark)
        # Materialize the round's survivor set as its own job, so the
        # enrich -> robots -> dedup chain is timed apart from the fetch
        # (its only reader now). The round computes only the host
        # queues — the replay clock (ref_seq, ref_virtual_ts) is global
        # over all rounds, so fetch_order() derives it from the whole
        # fetch log.
        new = self._survivors(frontier).localCheckpoint(eager=True)
        ckpt_ids = _persistent_rdd_ids(self.spark) - pre_ids
        plan = host_queues(new, n_salts=cfg.n_salts)
        fetched, fetch_counts = _observed_checkpoint(
            self._fetch(plan).withColumn("round", F.lit(self.round)),
            fetched=F.count(F.lit(1)),
        )
        # neither the filters nor `new` is referenced past `fetched`;
        # free their blocks now so per-round checkpoint memory stays
        # O(one round).
        _unpersist_rdds(self.spark, ckpt_ids)

        tables, image_candidates = self._page_tables(fetched)
        images, image_counts = _observed_checkpoint(
            self._image_pipeline(image_candidates), images=F.count(F.lit(1))
        )
        self._add_tables({**tables, "images": images})
        self.delta = {"pages": fetched, "images": images}

        nxt, next_counts = _observed_checkpoint(
            self._expand(fetched), frontier_out=F.count(F.lit(1))
        )
        self.counts = {**fetch_counts, **image_counts, **next_counts}
        self.n_fetched += fetch_counts["fetched"]
        return nxt

    def _add_tables(self, tables: dict[str, DataFrame]) -> None:
        """Append each table's new rows to the run's accumulated table."""
        for name, df in tables.items():
            acc = getattr(self, name)
            setattr(self, name, df if acc is None else acc.unionByName(df))

    def run(self) -> dict[str, DataFrame]:
        """The round loop, from the resumed frontier when ``resume``
        restored one, else from the seeds. Each round's size comes from
        the observation on the checkpoint that materializes it. A run
        that would commit a round at or below the store's latest
        committed round raises before any job: a fresh run over a used
        store would overwrite its rounds and leave the later ones in
        place (``resume`` continues a store instead)."""
        last = self.store.latest_round() if self.store is not None else None
        if last is not None and self.round <= last:
            raise ValueError(
                f"snapshot store {self.store.root} holds committed rounds up to "
                f"round={last}; a run starting at round={self.round} would overwrite "
                "them (resume the store, or use an empty one)"
            )
        frontier, counts = self._start_frontier or _observed_checkpoint(
            self.initial_frontier(), frontier_out=F.count(F.lit(1))
        )
        n = counts["frontier_out"]
        while self.round < self.cfg.max_rounds and n > 0:
            frontier = self.run_round(frontier)
            self.metrics.append({"round": self.round, "frontier_in": n, **self.counts})
            n = self.counts["frontier_out"]
            if self.store is not None:
                self._snapshot()
            self.round += 1
        return self.results()

    def _snapshot(self) -> None:
        """K6/O10-O11: commit what this round fetched — its pages and
        its decoded images — with its metrics and ``n_buckets``. The next
        frontier is not stored: resume derives it from the pages, and
        checks its size against the recorded ``frontier_out``."""
        meta = {"n_buckets": self.cfg.n_buckets, "metrics": self.metrics[-1]}
        self.store.write_round(self.round, self.delta, meta)

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        store: SnapshotStore,
        config: CrawlConfig | None = None,
    ) -> "CrawlRun":
        """Resume from the latest committed snapshot (O11): identical
        final state to an uninterrupted run (tested). The pages and
        images of every committed round are verified and read, the
        tables are re-derived from the pages, the start frontier is
        ``_expand`` of the last round's pages, ``metrics`` holds each
        committed round's manifest entry and ``n_fetched`` is summed
        from them, so the next round probes the restored seen
        set as an uninterrupted round would: one broadcast anti-join
        while it fits the threshold, else the next round builds its
        prefilter from the restored seen set. A fresh run when nothing
        is committed; a committed
        table that cannot be read raises, and so does a derived frontier
        whose size differs from the last round's recorded
        ``frontier_out`` (the expansion rules drifted since the
        commit), and so does another ``n_buckets`` (the seen rows keep
        their stored buckets, so the Bloom probe would misread them)."""
        run = cls(spark, config, store)
        last = store.latest_round()
        if last is None:
            return run
        rounds = range(last + 1)
        for r in rounds:
            stored = store.manifest(r).get("n_buckets")
            if stored != run.cfg.n_buckets:
                raise ValueError(f"snapshot round={r}: committed with n_buckets={stored}, "
                                 f"resumed with n_buckets={run.cfg.n_buckets}")
            store.verify_round(spark, r)  # per-partition lineage gate
        run.round = last + 1
        run.metrics = [store.manifest(r)["metrics"] for r in rounds]
        run.n_fetched = sum(m["fetched"] for m in run.metrics)

        pages = [store.read(spark, r, "pages") for r in rounds]
        images = [store.read(spark, r, "images") for r in rounds]  # stored decoded
        tables, _ = run._page_tables(reduce(DataFrame.unionByName, pages))
        run._add_tables({**tables, "images": reduce(DataFrame.unionByName, images)})
        frontier, counts = _observed_checkpoint(
            run._expand(pages[-1]), frontier_out=F.count(F.lit(1))
        )
        want = store.manifest(last)["metrics"]["frontier_out"]
        if counts["frontier_out"] != want:
            raise ValueError(
                f"snapshot round={last}: derived frontier has "
                f"{counts['frontier_out']} rows, manifest records frontier_out={want}"
            )
        run._start_frontier = frontier, counts
        return run

    # -------------------------------------------------------------- results

    def fetch_order(self) -> DataFrame:
        """The replay artifact: every fetch with its global per-source
        sequence + virtual clock, reconstructed by SORT over the
        priority tuple (O4) — never by task timing. Its range count comes
        from the rounds' observed sizes: a small crawl's starts no job."""
        return schedule(
            self.fetch_log, n_salts=self.cfg.n_salts, n_range_partitions=range_count(self.n_fetched)
        ).orderBy("source_rank", "ref_seq")

    def results(self) -> dict[str, DataFrame]:
        return {
            "fetch_log": self.fetch_log,
            "fetch_order": self.fetch_order() if self.fetch_log is not None else None,
            "seen": self.seen,
            "articles": self.articles,
            "articles_text": self.articles_text,
            "companies": self.companies,
            "images": self.images,
        }


def _broadcast_threshold(spark: SparkSession) -> int:
    """The session's spark.sql.autoBroadcastJoinThreshold in bytes, as
    its SQLConf reads it (-1: never broadcast)."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def _observed_checkpoint(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """localCheckpoint ``df`` and return it with the named aggregates,
    observed on the same pass (no job of their own)."""
    obs = Observation()
    df = df.observe(obs, *[agg.alias(name) for name, agg in aggs.items()])
    return df.localCheckpoint(eager=True), obs.get
