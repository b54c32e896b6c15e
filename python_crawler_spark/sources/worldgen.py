"""Deterministic synthetic web: the whole site graph is a pure function
``url -> (kind, html)``.

This substitutes the reference's live HTTP/Selenium fetches (SURVEY
S6-S8): the Spark fetch stage computes html from url inside
``mapInPandas`` (infinitely scalable, nothing materialized on the
driver), and the sequential oracle (tests/oracle.py) calls the SAME
functions — so fetch-order and seen-set equality is meaningful.

All variation is driven by xxhash64 of stable keys (no ``random``,
no wall clock): the same URL yields the same page at any scale, any
parallelism, any round. Page shapes reproduce every structure the
reference parses, including the negative cases its filters exist for
(missing cover F4, skip-titles F6, video pages F9, missing body F8,
missing date F10, ad pages F11, anti-bot pages F12, empty search
results F13, non-matching link shapes F14, blacklisted image
signatures F15).

Seed lists are the reference's own crawl configs
(/root/reference/crawler/weixin.txt, chuansongmen.txt) — data, not
code; tianyan seeds (uc_company is not checked into the reference,
tianyan_crawler.py:117) are synthesized with blacklisted names
sprinkled in (tianyan_crawler.py:108).
"""

from __future__ import annotations

from dataclasses import dataclass

from ..functions.hashing import xxhash64

WEIXIN_SEEDS = [
    "华夏基石e洞察", "春暖花开", "吴晓波频道", "深蓝财经网", "华商韬略",
    "扑克投资家", "环球老虎财经", "新经济100人", "虎嗅网", "创业家",
    "冯仑风马牛", "笔记侠", "场景实验室", "秦朔朋友圈", "华尔街见闻", "金错刀",
]

CSM_SEEDS = [
    (1, "春暖花开", "http://chuansong.me/account/CCH_chunnuanhuakai"),
    (2, "吴晓波频道", "http://chuansong.me/account/gh_b09cb640f644"),
    (4, "占豪", "http://chuansong.me/account/zhanhao668"),
    (6, "新财富杂志", "http://chuansong.me/account/newfortune"),
    (7, "华商韬略", "http://chuansong.me/account/hstl8888"),
    (8, "扑克投资家", "http://chuansong.me/account/puoketrader"),
    (11, "新经济100人", "http://chuansong.me/account/qiyejiagc"),
    (12, "虎嗅网", "http://chuansong.me/account/huxiu_com"),
    (13, "老纪商业评论", "http://chuansong.me/account/laojiv5"),
    (17, "创业家", "http://chuansong.me/account/chuangyejia"),
]

NAME_BLACKLIST = ["无", "测试", "个人", "正和岛"]  # tianyan_crawler.py:108

WEIXIN_BASE = "http://mp.weixin.qq.com"
CSM_BASE = "http://chuansong.me"
TYC_BASE = "http://www.tianyancha.com"
PIC_HOST = "http://mmbiz.qpic.cn"

ANTI_BOT_TEXT = "为确认本次访问为正常用户行为"  # tianyan_crawler.py:145

N_BLACK_SIGS = 23  # weixin_public.py:66-106 blacklist size

# D6 trim-marker shapes — the five distinct mechanisms of the
# reference's per-account chain (weixin_public.py:374-501), assigned
# per account by hash (reference: hardcoded if/elif on public_name).
# (pattern, action) use the parse.html._marker_span spec grammar.
TRIM_SHAPES = [
    # span-text / 【END】 strip_after (weixin_public.py:381-398,431-438)
    ("lit-end", "strip_after"),
    # last <hr>, strip everything after (环球老虎财经, :421-429)
    ("tag-last:hr", "strip_after"),
    # literal ▼ marker, strip after (新经济100人-style ▼ branches)
    ("lit:▼", "strip_after"),
    # first <hr>, strip everything BEFORE it — the previous_elements
    # backward case (扑克投资家, weixin_public.py:439-449)
    ("tag-first:hr", "strip_before"),
    # last <section>, extract the marker element only (华商韬略,
    # weixin_public.py:404-409: extracts the section, keeps the rest)
    ("tag-last:section", "remove_only"),
]


# S5/S7 fetch-identity pools. The reference keeps a static proxy file
# (data/available: 14 ip:port rows) plus a live proxy API, and rotates
# proxy + UA + referer when a fetch trips anti-bot detection
# (tianyan_crawler.py:46-105,145-152). The pools here are synthetic
# stand-ins of the same shape (addresses are documentation-range IPs,
# not the reference's); identity is carried through the plan as
# (render, ua_id, proxy_id) columns so a production fetch stage has
# parameters to act on.
PROXY_POOL = [f"192.0.2.{i + 1}:31{i:02d}" for i in range(14)]
UA_POOL = [
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/45.0",
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 Chrome/49.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_11) Safari/601.5.17",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 Edge/13.10586",
    "Mozilla/5.0 (X11; Ubuntu; Linux i686) Gecko/20100101 Firefox/44.0",
]


def fetch_identity(url: str, attempt: int) -> tuple[int, int]:
    """(ua_id, proxy_id) for a fetch. The base identity is a stable
    hash of the URL; each retry ROTATES both (base + attempt, mod pool
    size — guaranteed to differ from the previous attempt), mirroring
    install_new_driver's new-proxy/new-UA behavior on anti-bot
    (tianyan_crawler.py:145-152)."""
    ua = (_h("ua", url) + attempt) % len(UA_POOL)
    proxy = (_h("proxy", url) + attempt) % len(PROXY_POOL)
    return ua, proxy


def render_required(source: str, stage: int) -> bool:
    """S7: which fetches the reference performs with a rendering
    browser — weixin list pages via Firefox/Xvfb
    (weixin_public.py:131-159), ALL tianyan fetches via PhantomJS
    (tianyan_crawler.py:104-114); plain requests.get elsewhere."""
    return (source == "weixin" and stage == 0) or source == "tianyan"


def trim_shape(account: str) -> int:
    return _h("trim-shape", account) % len(TRIM_SHAPES)


def trim_rule_for(account: str) -> tuple[str, str]:
    """(pattern, action) trim rule row for an account. The lit-end
    shape gets the account name baked into the literal, like the
    reference's per-account span texts."""
    pattern, action = TRIM_SHAPES[trim_shape(account)]
    if pattern == "lit-end":
        pattern = f"lit:<p>【END】{account}</p>"
    return pattern, action


def _h(*parts: object) -> int:
    """Stable non-negative mix of the parts."""
    v = xxhash64("\x1f".join(str(p) for p in parts))
    return v & 0x7FFFFFFFFFFFFFFF


@dataclass(frozen=True)
class WorldSpec:
    """Scale knobs; defaults give a small-but-complete world."""

    n_tianyan_seeds: int = 12
    weixin_articles_per_account: int = 6
    csm_max_page_cap: int = 4          # max_page in [2, cap+1]
    csm_links_per_page: int = 4
    imgs_per_article_max: int = 3


DEFAULT_SPEC = WorldSpec()


# --------------------------------------------------------------- seed tables


def gen_seeds(spec: WorldSpec = DEFAULT_SPEC) -> list[dict]:
    """All three seed families as one ordered table (FIXTURES.md A1)."""
    rows = []
    seed_id = 0
    for i, name in enumerate(WEIXIN_SEEDS):
        rows.append(
            dict(seed_id=seed_id, source="weixin", line_no=i, name=name,
                 url=f"http://weixin.sogou.com/weixin?query={name}")
        )
        seed_id += 1
    for i, (cid, name, url) in enumerate(CSM_SEEDS):
        rows.append(
            dict(seed_id=seed_id, source="chuansongmen", line_no=i, name=name, url=url)
        )
        seed_id += 1
    for i in range(spec.n_tianyan_seeds):
        # every 5th seed gets a blacklisted name (exercises F3)
        name = NAME_BLACKLIST[i // 5 % len(NAME_BLACKLIST)] if i % 5 == 4 else f"同步公司{i:04d}"
        rows.append(
            dict(seed_id=seed_id, source="tianyan", line_no=i, name=name,
                 url=f"{TYC_BASE}/search?key={name}")
        )
        seed_id += 1
    return rows


def black_pic_signatures() -> list[str]:
    """The 23-entry pic-signature blacklist, synthetic analog of
    weixin_public.py:66-106 (signature = 3rd path segment, X2)."""
    return [f"BLKSIG{i:02d}x{_h('blacksig', i) % 10**8:08d}" for i in range(N_BLACK_SIGS)]


# ----------------------------------------------------------- page generators


def _weixin_titles(account: str, n: int) -> list[dict]:
    """Article candidates for one account, with planted filter cases."""
    items = []
    for i in range(n):
        h = _h("wx-item", account, i)
        title = f"{account}观察第{i}期·{h % 997:03d}"
        mode = h % 11
        if mode == 0:
            title = "每日花语" + title          # F6 prefix skip
        elif mode == 1:
            title = title + "潮汐·扑克问答"      # F6 contains skip
        elif mode == 2 and account == "扑克投资家":
            title = f"百家第{i}期报名" + title    # F6 compound skip
        elif mode == 3 and account == "华商韬略":
            title = "今日财经头条" + title        # F6 compound skip
        elif mode == 4:
            title = "原创" + title               # F5 prefix strip (kept)
        items.append(dict(idx=i, title=title, h=h, mode=mode))
    return items


def weixin_list_page(account: str, spec: WorldSpec) -> str:
    """Sogou search result page: div[msgid] blocks (SURVEY D1)."""
    divs = []
    for it in _weixin_titles(account, spec.weixin_articles_per_account):
        i, h = it["idx"], it["h"]
        href = f"{WEIXIN_BASE}/s?__biz={_h('biz', account) % 10**10:010d}&idx={i}"
        if h % 7 == 3:
            href = f"/s?__biz={_h('biz', account) % 10**10:010d}&idx={i}"  # X4 relative
        cover = (
            f'background:url({PIC_HOST}/mmbiz/COV{h % 10**6:06d}/640?wx_fmt=jpeg)'
            if h % 5 != 2
            else "background:none"  # F4: missing-cover case
        )
        divs.append(
            f'<div msgid="{i + 1}">'
            f'<h4 class="weui_media_title" hrefs="{href}">{it["title"]}</h4>'
            f'<p class="weui_media_desc">{account}摘要{h % 10**4:04d}</p>'
            f'<span style="{cover}"></span>'
            f"</div>"
        )
    return "<html><body>" + "".join(divs) + "</body></html>"


def weixin_article_page(account: str, idx: int, spec: WorldSpec) -> str:
    """Article page exercising D2-D4, D7, X6, F8-F11, F15-F16."""
    h = _h("wx-art", account, idx)
    if h % 13 == 5:  # F8: missing body
        return "<html><body><p>deleted</p></body></html>"
    parts = ['<html><body>']
    if h % 13 == 6:  # F9: video page
        parts.append('<iframe class="video_iframe" src="v"></iframe>')
    if h % 13 != 7:  # F10: one case missing post-date
        parts.append(f'<em id="post-date">2016-0{h % 9 + 1}-1{h % 9}</em>')
    parts.append(
        f'<em class="rich_media_meta rich_media_meta_text">作者{h % 100:02d}</em>'
    )
    parts.append(
        f'<script>var msg_link = "{WEIXIN_BASE}/s?__biz=x&amp;idx={idx}#rd";</script>'
    )
    body = [f"<p>{account}正文第{idx}篇 段落{j} w{_h('w', h, j) % 10**4}</p>" for j in range(4)]
    if h % 13 == 8:  # F11: ad page (conjunctive markers)
        body.append("<p>课程详情</p><p>报名需知</p>")
    imgs = []
    sigs = black_pic_signatures()
    n_imgs = h % (spec.imgs_per_article_max + 1)
    for j in range(n_imgs):
        hh = _h("img", account, idx, j)
        sig = sigs[hh % N_BLACK_SIGS] if hh % 6 == 0 else f"SIG{hh % 10**10:010d}"
        fmt = ["jpeg", "png", "gif"][hh % 3]
        imgs.append(
            f'<img data-src="{PIC_HOST}/mmbiz/{sig}/640?wx_fmt={fmt}" data-type="{fmt}">'
        )
    # D6 marker material, per the account's assigned trim shape. A
    # quarter of articles carry no tail marker (trim must be a no-op);
    # the backward-shape head marker is likewise sometimes absent.
    shape = trim_shape(account)
    head = ""
    marker = ""
    if h % 4 == 0:
        if shape == 0:
            marker = f"<p>【END】{account}</p>"
        elif shape == 1:
            marker = "<hr>"
        elif shape == 2:
            marker = "<p>▼往期推荐</p>"
        elif shape == 4:
            marker = '<section class="promo">推广二维码</section>'
    if shape == 3 and h % 4 != 1:
        head = f"<p>关注{account}</p><hr>"
    parts.append(
        f'<div id="js_content">{head}{"".join(body)}{"".join(imgs)}{marker}<p>推广尾部</p></div>'
    )
    parts.append("</body></html>")
    return "".join(parts)


def csm_account_page(slug: str, spec: WorldSpec) -> str:
    """Account root with pagination span (D9) + first-page links."""
    h = _h("csm-acct", slug)
    max_page = 2 + h % spec.csm_max_page_cap
    nav = "".join(f"<a>{p}</a>" for p in range(1, max_page + 1))
    return (
        "<html><body>"
        f'<span class="page-nav" style="pg">{nav}</span>'
        + csm_links_html(slug, 0, spec)
        + "</body></html>"
    )


def csm_links_html(slug: str, page_no: int, spec: WorldSpec) -> str:
    """Anchor set: article links matching ^/n/\\d* plus noise links that
    must be dropped by F14 and a non-_blank anchor dropped by D8."""
    anchors = []
    for j in range(spec.csm_links_per_page):
        art_id = _h("csm-art", slug, page_no, j) % 10**8
        anchors.append(f'<a href="/n/{art_id}" target="_blank">文章{j}</a>')
    anchors.append(f'<a href="/account/{slug}" target="_blank">账户页</a>')  # F14 drop
    anchors.append('<a href="/n/999" target="_self">非新窗</a>')  # D8 drop
    return "".join(anchors)


def csm_list_page(slug: str, page_no: int, spec: WorldSpec) -> str:
    return "<html><body>" + csm_links_html(slug, page_no, spec) + "</body></html>"


def csm_article_page(art_id: int) -> str:
    h = _h("csm-body", art_id)
    body = "".join(f"<p>正文{art_id}段{j}字{_h('c', art_id, j) % 10**4}</p>" for j in range(3))
    return f'<html><body><div id="js_content">{body}</div></body></html>'


def tyc_search_page(name: str) -> str:
    """Search page: F12 anti-bot on first attempt for some names,
    F13 empty result for others, else query_name link(s)."""
    h = _h("tyc-search", name)
    if h % 9 == 4:
        return f"<html><body>{ANTI_BOT_TEXT}</body></html>"  # F12 (attempt 0)
    if h % 9 == 5:
        return "<html><body>无结果</body></html>"  # F13
    cid = h % 10**7
    return (
        "<html><body>"
        f'<a class="query_name" href="/company/{cid}" target="_blank">{name}</a>'
        "</body></html>"
    )


def tyc_search_page_retry(name: str) -> str:
    """After identity rotation (O8) the block clears deterministically."""
    h = _h("tyc-search", name)
    cid = h % 10**7
    return (
        "<html><body>"
        f'<a class="query_name" href="/company/{cid}" target="_blank">{name}</a>'
        "</body></html>"
    )


def tyc_detail_page(cid: int) -> str:
    """Company page exercising D10-D14 and the D12 bail-out case."""
    h = _h("tyc-detail", cid)
    staff_rows = (
        "<tr><td><a href=\"/human/%d\">董%03d</a></td><td><a href=\"/human/%d\">监%03d</a></td></tr>"
        % (h % 10**5, h % 997, (h // 7) % 10**5, (h // 7) % 997)
        + (
            "<tr><td>董事长</td><td>监事</td></tr>"
            if h % 6 != 1
            else "<tr><td>董事长</td></tr>"  # D12 unequal rows -> bail out
        )
    )
    holders = "".join(
        f'<div class="ng-scope holder"><a href="/company/{(h + k) % 10**6}">股东{k}号</a>'
        f'<span class="money">出资{(h + k) % 500}万元</span></div>'
        for k in range(h % 3)
    )
    invests = "".join(
        f'<div class="ng-scope invest">'
        f'<a href="/{"human" if (h + k) % 2 else "company"}/{(h * 3 + k) % 10**6}">投资{k}号</a>'
        f'<span class="money">金额{(h + k) % 900}万元</span></div>'
        for k in range(h % 3)
    )
    details = "".join(
        f'<p ng-if="d{k}" class="ng-binding ng-scope"><span>字段{k}：</span>值{(h + k) % 10**4}</p>'
        for k in range(2 + h % 3)
    )
    return (
        "<html><body>"
        f'<h1 class="company-name">公司{cid}</h1>'
        f'<span class="contact">电话:0571-{h % 10**8:08d}</span>'
        f'<span class="contact">邮箱:c{cid}@example.com</span>'
        f'<span class="contact">网址:www.c{cid}.example.com</span>'
        f'<span class="contact">地址:杭州市第{h % 99}街区</span>'
        f'<i ng-alt="综合评分：{50 + h % 50}"></i>'
        f'<td class="td-regCapital-value"><p class="ng-binding">{h % 5000}万元</p></td>'
        f'<td class="td-regStatus-value"><p class="ng-binding">存续</p></td>'
        f'<td class="td-regTime-value"><p class="ng-binding">20{h % 20:02d}-01-0{h % 9 + 1}</p></td>'
        f'<td class="td-legalPerson-value"><p class="ng-binding">法人{h % 997}</p></td>'
        f'<table class="staff">{staff_rows}</table>'
        f"{holders}{invests}{details}"
        "</body></html>"
    )


# ----------------------------------------------------------- dirty markup

import re as _re

_TAG_TOKEN_RE = _re.compile(r"<[\w-]+\s[^>]*=[^>]*>")  # start tags WITH attrs
_DIRTY_ATTR_RE = _re.compile(r'([\w-]+)="([^"]*)"')
_UNQUOTABLE_RE = _re.compile(r"""[^\s>'"=`][^\s>'"`]*""")


def dirty_html(html: str, key: object) -> str:
    """Deterministically 'dirty' clean dialect markup into the
    real-world shapes the tolerant parser must survive — WITHOUT
    changing what any extractor should return:

    - attribute reordering (rotation),
    - requoting: double -> single quotes or unquoted (when safe),
    - uppercased tag names, extra intra-tag whitespace,
    - trailing '</body></html>' dropped (unclosed-at-EOF).

    Only start tags that carry attributes are rewritten: attr-less
    tags (``<p>``, ``<hr>``, closing tags) are byte-load-bearing for
    lit: trim markers and stay untouched. Script CONTENT is never
    entered (no '<' inside worldgen scripts). Keyed on (key, tag
    index): same page -> same dirt at any parallelism."""

    counter = [0]

    def rewrite(m: _re.Match) -> str:
        tag = m.group(0)
        i = counter[0]
        counter[0] += 1
        h = _h("dirty", key, i)
        name_m = _re.match(r"<([\w-]+)", tag)
        attrs = _DIRTY_ATTR_RE.findall(tag)
        if not name_m or not attrs:
            return tag
        name = name_m.group(1)
        if h % 2:
            name = name.upper()
        # rotate attribute order
        rot = h % len(attrs)
        attrs = attrs[rot:] + attrs[:rot]
        parts = []
        for j, (k, v) in enumerate(attrs):
            hq = _h("dirtyq", key, i, j)
            if hq % 3 == 0 and v and _UNQUOTABLE_RE.fullmatch(v) and not v.endswith("/"):
                parts.append(f"{k}={v}")
            elif hq % 3 == 1 and "'" not in v:
                parts.append(f"{k}='{v}'")
            else:
                parts.append(f'{k}="{v}"')
        sep = "  " if h % 7 == 0 else " "
        lead = " \n " if h % 11 == 0 else " "  # newline inside a tag
        return f"<{name}{lead}{sep.join(parts)}>"

    out = _TAG_TOKEN_RE.sub(rewrite, html or "")
    if _h("dirtytail", key) % 3 == 0:
        out = out.removesuffix("</html>").removesuffix("</body>")
    return out


# ------------------------------------------------------------ url -> page


def fetch_url(
    url: str, attempt: int = 0, spec: WorldSpec = DEFAULT_SPEC, dirty: bool = False
) -> tuple[str, str]:
    """The synthetic web: (kind, html) for any URL in the graph.

    Pure and deterministic except for the F12 anti-bot retry, which is
    keyed on ``attempt`` (identity rotation clears it) — mirroring
    tianyan_crawler.py:145-152.

    ``dirty=True`` post-processes the page through :func:`dirty_html`
    keyed on (url, attempt) — the real-world-markup world the tolerant
    parse path (CrawlConfig.html_parser='tolerant') is verified
    against. Still a pure function of the URL.
    """
    kind, html = _fetch_clean(url, attempt, spec)
    if dirty:
        html = dirty_html(html, f"{url}\x1f{attempt}")
    return kind, html


def _fetch_clean(url: str, attempt: int, spec: WorldSpec) -> tuple[str, str]:
    if url.startswith("http://weixin.sogou.com/weixin?query="):
        account = url.split("query=", 1)[1]
        return "list", weixin_list_page(account, spec)
    if url.startswith(WEIXIN_BASE + "/s?"):
        from urllib.parse import parse_qs, urlsplit

        q = parse_qs(urlsplit(url).query)
        idx = int(q.get("idx", ["0"])[0])
        biz = q.get("__biz", [""])[0]
        account = _account_for_biz(biz)
        return "article", weixin_article_page(account, idx, spec)
    if url.startswith(CSM_BASE + "/account/"):
        rest = url[len(CSM_BASE + "/account/") :]
        if "?" in rest:
            slug, q = rest.split("?", 1)
            page_no = int(q.split("start=", 1)[1]) // 12 + 1
            return "list", csm_list_page(slug, page_no, spec)
        return "account", csm_account_page(rest, spec)
    if url.startswith(CSM_BASE + "/n/"):
        return "article", csm_article_page(int(url.rsplit("/", 1)[1]))
    if url.startswith(TYC_BASE + "/search?key="):
        name = url.split("key=", 1)[1]
        if attempt > 0:
            return "search", tyc_search_page_retry(name)
        return "search", tyc_search_page(name)
    if url.startswith(TYC_BASE + "/company/"):
        return "detail", tyc_detail_page(int(url.rsplit("/", 1)[1]))
    return "unknown", "<html></html>"


_BIZ_TO_ACCOUNT: dict[str, str] = {}


def _account_for_biz(biz: str) -> str:
    if not _BIZ_TO_ACCOUNT:
        for name in WEIXIN_SEEDS:
            _BIZ_TO_ACCOUNT[f"{_h('biz', name) % 10**10:010d}"] = name
        _BIZ_TO_ACCOUNT["x"] = "unknown"
    return _BIZ_TO_ACCOUNT.get(biz, "unknown")


# ------------------------------------------------------------- politeness


BACKOFF = {"chuansongmen": 10.0, "tianyan": 5.0}  # chuansongmen.py:96, tianyan:148
