"""Parsed-page struct types and the per-page parse step of the fetch pass.

The crawl parses each page in the same Arrow batch that fetches it
(``CrawlRun._fetch``): :func:`parse_page` runs the kernels that the
page's (source, stage) needs and returns one :data:`PAGE_TYPE` struct,
so raw html never crosses back into the JVM and every later step is a
JVM filter or projection over ``page.*`` (SURVEY §2.8: no per-row
Python; the batch crosses the Arrow boundary once).

Two kernel families share one page parser, selected by
``CrawlConfig.html_parser`` through :data:`PARSERS`:

* ``dialect`` — the compiled-regex kernels (parse/html.py) for the
  clean synthetic worldgen markup: the fast path.
* ``tolerant`` — the stdlib-html.parser DOM kernels
  (parse/tolerant.py) for real-world markup: unclosed tags,
  single-quoted/unquoted/reordered attributes, uppercase tag names.

Two standalone UDFs remain: :func:`parse_company_udf` (dialect; the
offline extraction plan) and :func:`canonicalize_urls_udf`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.scheduler import STAGE_LIST, STAGE_ROOT
from ..sources.worldgen import ANTI_BOT_TEXT
from . import html as H
from . import tolerant as TOL

LIST_ITEM_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("href", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("summary", T.StringType()),
            T.StructField("cover", T.StringType()),
        ]
    )
)

IMG_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("data_type", T.StringType()),
        ]
    )
)

# A weixin article page after F8's body check: the parse_article fields
# except body_html, plus what is derived from body_html in the same pass
# (D7 images before the trim, D6 trim then D5 tiny as ``content``).
ARTICLE_TYPE = T.StructType(
    [
        T.StructField("body_text", T.StringType()),
        T.StructField("has_video", T.BooleanType()),
        T.StructField("publish_time", T.StringType()),
        T.StructField("author_name", T.StringType()),
        T.StructField("msg_link", T.StringType()),
        T.StructField("images", IMG_TYPE),
        T.StructField("content", T.StringType()),
    ]
)

COMPANY_TYPE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("score", T.StringType()),
        T.StructField("register_capital", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("register_time", T.StringType()),
        T.StructField("legal_repr", T.StringType()),
        T.StructField(
            "staff_info",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("href", T.StringType()),
                        T.StructField("title", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "holder_info",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("link", T.StringType()),
                        T.StructField("type", T.StringType()),
                        T.StructField("money", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "out_invest",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("link", T.StringType()),
                        T.StructField("type", T.StringType()),
                        T.StructField("money", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("details", T.MapType(T.StringType(), T.StringType())),
    ]
)


# One fetched page, parsed; only its kind's fields are set (article is
# null for a weixin article page without a js_content body).
PAGE_TYPE = T.StructType(
    [
        T.StructField("items", LIST_ITEM_TYPE),
        T.StructField("article", ARTICLE_TYPE),
        T.StructField("max_page", T.IntegerType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("text", T.StringType()),
        T.StructField("anti_bot", T.BooleanType()),
        T.StructField("query_link", T.StringType()),
        T.StructField("company", COMPANY_TYPE),
    ]
)

# html_parser name -> kernel module (same function names and shapes)
PARSERS = {"dialect": H, "tolerant": TOL}


def parse_page(K, html: str, source: str, stage: int, trim: tuple[str, str]) -> dict:
    """The :data:`PAGE_TYPE` fields of one page, parsed with kernel
    module ``K``. ``trim`` is the account's D6 (marker, direction)."""
    if source == "weixin":
        if stage == STAGE_ROOT:
            return {"items": K.parse_article_list(html)}
        art = K.parse_article(html)
        body = art.pop("body_html")
        if body is None:
            return {}
        content = K.tiny_html(K.trim_dom(body, *trim))
        art.update(images=K.parse_images(body), content=content)
        return {"article": art}
    if source == "chuansongmen":
        if stage == STAGE_ROOT:
            return {"max_page": K.parse_max_page(html)}
        if stage == STAGE_LIST:
            return {"links": K.parse_links(html)}
        return {"text": K.csm_body_text(html)}
    if stage == STAGE_ROOT:
        return {"anti_bot": ANTI_BOT_TEXT in html, "query_link": K.first_query_link(html)}
    return {"company": K.parse_company(html)}


@F.pandas_udf(COMPANY_TYPE)
def parse_company_udf(html: pd.Series) -> pd.DataFrame:
    recs = html.map(H.parse_company, na_action="ignore")
    return pd.DataFrame(
        [r if isinstance(r, dict) else {} for r in recs], index=html.index
    )


@F.pandas_udf(T.StringType())
def canonicalize_urls_udf(urls: pd.Series) -> pd.Series:
    from ..functions.urls import canonicalize_urls

    return canonicalize_urls(urls)
