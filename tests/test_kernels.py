"""Unit tests for pure kernels (SURVEY §5.2): hashing parity, URL
canonicalization, pagination bounds, codec/PSNR/small-image boundary,
parse edge cases, trim directions."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from python_crawler_spark.functions import images as IMG
from python_crawler_spark.functions.hashing import bucket_of, xxhash64
from python_crawler_spark.functions.urls import (
    absolutize,
    canonicalize_url,
    pic_signature,
)
from python_crawler_spark.parse import html as H


# ------------------------------------------------------------------ hashing


def test_xxhash64_spark_parity(spark):
    from pyspark.sql import functions as F

    vals = ["", "a", "ab", "abc", "abcd", "abcdefg", "x" * 31, "x" * 32,
            "x" * 33, "中文字符串", "春暖花开" * 40,
            "http://chuansong.me/account/x?start=12"]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxhash64(r["s"]) == r["h"], r["s"]


def test_bucket_of_matches_pmod(spark):
    from pyspark.sql import functions as F

    hs = [-(2**63), -1, 0, 1, 2**63 - 1, -12345678901234]
    rows = (
        spark.createDataFrame([(h,) for h in hs], "h long")
        .select("h", F.pmod("h", F.lit(16)).alias("b"))
        .collect()
    )
    for r in rows:
        assert bucket_of(r["h"], 16) == r["b"]


# --------------------------------------------------------------------- urls


def test_canonicalize_basics():
    assert (
        canonicalize_url("HTTP://MP.Weixin.QQ.com:80/s?b=2&a=1#frag")
        == "http://mp.weixin.qq.com/s?a=1&b=2"
    )
    assert canonicalize_url("https://Host:443/") == "https://host/"
    assert canonicalize_url("http://h/p?") == "http://h/p"


@given(st.text(alphabet=st.characters(codec="utf-8", exclude_characters="\x00"), max_size=80))
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(s):
    url = "http://example.com/" + s
    once = canonicalize_url(url)
    assert canonicalize_url(once) == once


def test_pic_signature_edges():
    # weixin_public.py:121-122: <4 path segments -> None
    assert pic_signature("http://h/a/b") is None
    assert pic_signature("http://h/mmbiz/SIG/640") == "SIG"
    assert pic_signature("http://h/mmbiz/SIG/640?wx_fmt=png") == "SIG"


def test_image_url_columns_on_malformed_urls(spark):
    """pic_signature_sql equals the scalar pic_signature, and neither
    it nor query_param_sql raises, on a URL that java.net.URI rejects
    (a space in the path) under ANSI mode, where parse_url throws."""
    from python_crawler_spark.functions.urls import pic_signature_sql, query_param_sql

    urls = ["http://mmbiz.qpic.cn/mm biz/a b/0", "http://h/a/b", "http://h/mmbiz/SIG/640",
            "http://h/mmbiz/SIG/640?wx_fmt=png", "http://mmbiz.qpic.cn/mm biz/a b/0?wx_fmt=gif"]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = spark.createDataFrame([(u,) for u in urls], "u string").selectExpr(
            "u",
            f"{pic_signature_sql('u')} AS sig",
            f"{query_param_sql('u', 'wx_fmt', 'jpg')} AS fmt",
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert [r["sig"] for r in rows] == [pic_signature(u) for u in urls]
    assert rows[0]["sig"] == "a b"
    assert [r["fmt"] for r in rows[1:4]] == ["jpg", "jpg", "png"]


def test_absolutize():
    assert absolutize("/n/123", "http://chuansong.me") == "http://chuansong.me/n/123"
    assert absolutize("http://x/y", "http://b") == "http://x/y"


def test_pagination_excludes_max_page(spark):
    from python_crawler_spark.functions.urls import pagination_urls_sql

    df = spark.createDataFrame([("http://a", 4)], "link string, mp int")
    out = df.selectExpr(f"{pagination_urls_sql('link', 'mp')} AS u").first()
    # chuansongmen.py:65 range(1, max_page): pages 1..3 -> starts 0,12,24
    assert out["u"] == ["http://a?start=0", "http://a?start=12", "http://a?start=24"]


# ------------------------------------------------------------------- images


def test_codec_lossless_roundtrip():
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (13, 21, 3)).astype(np.uint8)
    blob = IMG.encode_image(px, "png")
    w, h, fmt, dec = IMG.decode_image(blob)
    assert (w, h, fmt) == (21, 13, "png")
    assert np.array_equal(dec, px)
    assert IMG.psnr(px, dec) == float("inf")


def test_codec_lossy_psnr_over_40db():
    rng = np.random.RandomState(11)
    for _ in range(5):
        px = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
        blob = IMG.encode_image(px, "jpeg")
        w, h, fmt, dec = IMG.decode_image(blob)
        assert fmt == "jpeg"
        assert IMG.psnr(px, dec) >= 40.0  # input_hint invariant


def test_small_image_boundary():
    # weixin_public.py:322-325: <= 2800 is small (inclusive)
    assert IMG.is_small(b"x" * 2799)
    assert IMG.is_small(b"x" * 2800)
    assert not IMG.is_small(b"x" * 2801)


def test_phash_stable_under_lossy():
    # structured gradient: block means are far from the median, so the
    # codec's +-Q/2 noise cannot flip any phash bit
    i = np.arange(16, dtype=np.uint8)[:, None, None] * 15
    px = np.broadcast_to(i, (16, 16, 3)).astype(np.uint8)
    _, _, _, dec = IMG.decode_image(IMG.encode_image(px, "jpeg"))
    assert IMG.phash64(px) == IMG.phash64(dec)


def test_decode_image_dispatch():
    """Round 4: BOTH standard formats decode for real through the
    dispatch path (PNG suite in tests/test_media.py, JPEG suite in
    tests/test_jpeg.py). A truncated JPEG is a ValueError, not a
    stubbed NotImplementedError — the seam is closed."""
    import numpy as np

    px = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    w, h, fmt, dec = IMG.decode_image(IMG.encode_png(px))
    assert (w, h, fmt) == (5, 4, "png") and np.array_equal(dec, px)
    w, h, fmt, dec = IMG.decode_image(IMG.encode_image(px, "jpeg"))
    assert (w, h, fmt) == (5, 4, "jpeg") and IMG.psnr(px, dec) >= 40.0
    with pytest.raises(ValueError):
        IMG.decode_image(b"\xff\xd8\xff\xe0JFIFxxxx")  # truncated JPEG


# -------------------------------------------------------------------- parse


def test_parse_article_list_cover_cases():
    html = (
        '<div msgid="1"><h4 class="weui_media_title" hrefs="/s?x=1">原创 标题一</h4>'
        '<p class="weui_media_desc">摘要</p>'
        '<span style="background:url(http://p/mmbiz/S1/640)"></span></div>'
        '<div msgid="2"><h4 class="weui_media_title" hrefs="/s?x=2">标题二</h4>'
        '<p class="weui_media_desc">d</p><span style="background:none"></span></div>'
    )
    items = H.parse_article_list(html)
    assert len(items) == 2
    assert items[0]["cover"] == "http://p/mmbiz/S1/640"
    assert items[1]["cover"] == ""  # F4 case: style without '('


def test_msg_link_cleanup_chain():
    html = '<script>var msg_link = "http://x/s?a=1&amp;b=2#rd";</script>'
    # weixin_public.py:300-308 cleanup: &amp;->&, drop #rd, ';', spaces
    assert H.parse_msg_link(html) == "http://x/s?a=1&b=2"


def test_parse_max_page_last_anchor():
    html = '<span class="page-nav" style="x"><a>1</a><a>2</a><a>7</a></span>'
    assert H.parse_max_page(html) == 7  # chuansongmen.py:49-50 [-1]


def test_parse_links_requires_blank_target():
    html = (
        '<a href="/n/1" target="_blank">a</a>'
        '<a href="/n/2" target="_self">b</a>'
        '<a href="/n/3" target="_blank">c</a>'
    )
    assert H.parse_links(html) == ["/n/1", "/n/3"]


def test_company_transpose_bailout():
    ok = (
        '<table class="staff"><tr><td><a href="/human/1">张三</a></td>'
        "<td><a href=\"/human/2\">李四</a></td></tr>"
        "<tr><td>董事长</td><td>监事</td></tr></table>"
    )
    bad = (
        '<table class="staff"><tr><td>张三</td><td>李四</td></tr>'
        "<tr><td>董事长</td></tr></table>"
    )
    rec_ok = H.parse_company(ok)
    assert [s["name"] for s in rec_ok["staff_info"]] == ["张三", "李四"]
    assert [s["title"] for s in rec_ok["staff_info"]] == ["董事长", "监事"]
    # tianyan_extractor.py:144-145: unequal row lengths -> bail out
    assert H.parse_company(bad)["staff_info"] == []


def test_invest_type_classification():
    html = (
        '<div class="ng-scope invest"><a href="/human/9">甲</a>'
        '<span class="money">金额1万元</span></div>'
        '<div class="ng-scope invest"><a href="/company/8">乙</a>'
        '<span class="money">金额2万元</span></div>'
    )
    rec = H.parse_company(html)
    assert [i["type"] for i in rec["out_invest"]] == ["个人投资", "企业投资"]


def test_trim_directions():
    html = "<p>keep1</p><p>MARK</p><p>drop</p>"
    assert H.trim_dom(html, "lit:<p>MARK</p>", "strip_after") == "<p>keep1</p>"
    # the previous_elements case (weixin_public.py:439-449)
    assert H.trim_dom(html, "lit:<p>MARK</p>", "strip_before") == "<p>drop</p>"
    assert H.trim_dom(html, "lit:<p>NONE</p>", "strip_after") == html
    # bare spec = literal (back-compat)
    assert H.trim_dom(html, "<p>MARK</p>", "strip_after") == "<p>keep1</p>"


def test_trim_selector_markers():
    html = "<p>a</p><hr><p>b</p><hr/><p>c</p>"
    # last-<hr> strip_after (环球老虎财经, weixin_public.py:421-429)
    assert H.trim_dom(html, "tag-last:hr", "strip_after") == "<p>a</p><hr><p>b</p>"
    # first-<hr> backward strip (扑克投资家, weixin_public.py:439-449)
    assert H.trim_dom(html, "tag-first:hr", "strip_before") == "<p>b</p><hr/><p>c</p>"
    # last-<section> remove_only (华商韬略, weixin_public.py:404-409):
    # the element goes, everything around it stays
    html2 = "<p>a</p><section>s1</section><p>b</p><section>s2</section><p>c</p>"
    assert (
        H.trim_dom(html2, "tag-last:section", "remove_only")
        == "<p>a</p><section>s1</section><p>b</p><p>c</p>"
    )
    # marker absent -> unchanged
    assert H.trim_dom("<p>x</p>", "tag-last:hr", "strip_after") == "<p>x</p>"


def test_trim_lit_prefix_escape():
    """ADVICE r2: a literal whose text starts with a spec prefix is
    expressible by escaping with lit: — `lit:tag-first: intro` searches
    the text 'tag-first: intro', `lit:lit:x` the text 'lit:x'."""
    html = "<p>keep</p>tag-first: intro<p>drop</p>"
    assert H.trim_dom(html, "lit:tag-first: intro", "strip_after") == "<p>keep</p>"
    html2 = "<p>keep</p>lit:x<p>drop</p>"
    assert H.trim_dom(html2, "lit:lit:x", "strip_after") == "<p>keep</p>"


def test_parse_standard_html_builds_tolerant_dom():
    """Round 4: the former NotImplementedError seam is now a real
    tolerant DOM on stdlib html.parser (parse/tolerant.py); the full
    behavior suite lives in tests/test_tolerant.py — this pins the
    entry point's contract."""
    doc = H.parse_standard_html("<html><body><p>real web page</body></html>")
    from python_crawler_spark.parse.tolerant import Document, find

    assert isinstance(doc, Document)
    p = find(doc.root, "p")
    assert p is not None and doc.text(p) == "real web page"


def test_trim_idempotence_bounds():
    """Literal-marker trims are idempotent (the marker is consumed by
    the first application). Tag-selector trims are single-application
    operators — with several instances of the tag present, a second
    application would consume the next one (matching the reference,
    which trims each article exactly once) — so idempotence is only
    guaranteed, and only asserted, when the tag occurs once."""
    multi = "<p>head</p><hr><p>a</p><p>MARK</p><p>tail</p><hr/>"
    for direction in ("strip_after", "strip_before"):
        once = H.trim_dom(multi, "lit:<p>MARK</p>", direction)
        assert H.trim_dom(once, "lit:<p>MARK</p>", direction) == once
    single = "<p>a</p><section>s</section><p>b</p><hr><p>c</p>"
    for marker, direction in [
        ("tag-first:hr", "strip_before"),
        ("tag-last:hr", "strip_after"),
        ("tag-last:section", "remove_only"),
    ]:
        once = H.trim_dom(single, marker, direction)
        assert H.trim_dom(once, marker, direction) == once, (marker, direction)


def test_tiny_strips_attrs():
    html = '<p id="a" style="x" data-k="v">t</p><section id="keep">s</section>' \
           '<img data-src="u" src="s" class="c" width="3">'
    out = H.tiny_html(html)
    assert 'id="a"' not in out and 'style="x"' not in out and 'data-k="v"' in out
    assert 'id="keep"' in out  # section exempt
    assert out.endswith('<img src="s" class="c">')
