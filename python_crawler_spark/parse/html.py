"""HTML parse kernels (scalar + pandas-vectorized).

The reference parses one BeautifulSoup tree at a time; here each parse
family is a pure function over an html string, applied in the fetch
pass's Arrow batches by parse/udfs.parse_page. The sandbox has no
lxml/bs4, so parsing is regex-based over the controlled synthetic HTML
dialect emitted by sources/synthetic.py — which reproduces every DOM shape the reference
consumes (SURVEY D1-D15):

- D1  article-list divs:      <div msgid="N"> h4[hrefs] p.desc span[style]
- D2  body:                   <div id="js_content">
- D3  metadata:               <em id="post-date">, <em class="rich_media_meta_text">
- D4  text flatten:           tag-strip
- D8  link harvest:           <a href target="_blank"> in DOM order
- D9  max-page discovery:     last <a> of the pagination span
- D10-D14 company page:       labeled spans, base-info cells, staff
                              table transpose, holder/invest blocks,
                              dynamic detail map
- X6  script msg_link:        var msg_link = "...";  + cleanup chain

Reference citations are per-function. Parsing is NOT copied code — the
reference uses BeautifulSoup traversal; this is an independent
implementation of the same extraction semantics.

Real-web HTML: :func:`parse_standard_html` builds a tolerant DOM on
stdlib ``html.parser`` (see parse/tolerant.py — round-4, formerly a
stub); every family below has a tolerant twin there with the same
signature, corpus-parity-tested equal to these kernels on clean
input. The regex dialect kernels remain the fast path for the
controlled worldgen dialect.
"""

from __future__ import annotations

import re

_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")

_LIST_DIV_RE = re.compile(r'<div[^>]*\bmsgid="\d+"[^>]*>(.*?)</div>', re.S)
_H4_RE = re.compile(r'<h4[^>]*\bhrefs="([^"]*)"[^>]*>(.*?)</h4>', re.S)
_DESC_RE = re.compile(r'<p class="weui_media_desc">(.*?)</p>', re.S)
_COVER_SPAN_RE = re.compile(r'<span style="([^"]*)"></span>')
_BODY_RE = re.compile(r'<div id="js_content">(.*?)</div>', re.S)
_VIDEO_RE = re.compile(r'<iframe[^>]*\bclass="[^"]*video_iframe[^"]*"')
_DATE_RE = re.compile(r'<em id="post-date"[^>]*>(.*?)</em>', re.S)
_AUTHOR_RE = re.compile(
    r'<em class="rich_media_meta rich_media_meta_text">(.*?)</em>', re.S
)
_MSG_LINK_RE = re.compile(r'var msg_link = "(.*?)";')
_IMG_RE = re.compile(r"<img\b[^>]*>")
_ATTR_RE = re.compile(r'([\w-]+)="([^"]*)"')
_ANCHOR_RE = re.compile(r'<a\b([^>]*)>(.*?)</a>', re.S)
_PAGENAV_RE = re.compile(r'<span class="page-nav"[^>]*>(.*?)</span>', re.S)


def parse_standard_html(html: str):
    """Real-web HTML (the reference's Sogou/Tianyancha pages,
    weixin_public.py:159-163): a tolerant DOM built on stdlib
    ``html.parser`` — unclosed tags, single-quoted/unquoted
    attributes, attribute reordering, uppercase tag names, stray
    ``<``. Returns a :class:`parse.tolerant.Document`. Every
    extraction family below has a tolerant twin in
    :mod:`parse.tolerant` with the same signature, equal to the
    dialect kernel on clean input (corpus-parity-tested); the crawl
    engine selects the family via CrawlConfig.html_parser."""
    from .tolerant import parse_standard_html as _impl

    return _impl(html)


def text_flatten(html: str) -> str:
    """D4: strip tags, collapse whitespace (get_text analog)."""
    return _WS_RE.sub(" ", _TAG_RE.sub(" ", html)).strip()


def _attrs(tag_inner: str) -> dict[str, str]:
    return dict(_ATTR_RE.findall(tag_inner))


def parse_article_list(html: str) -> list[dict]:
    """D1: per msgid-div -> (href, title, summary, cover), DOM order.

    Cover extraction mirrors weixin_public.py:166-175: the span style
    must contain '(' (background:url(...)); otherwise cover='' and the
    article is later dropped by filter F4.
    """
    out = []
    for div_body in _LIST_DIV_RE.findall(html or ""):
        m = _H4_RE.search(div_body)
        if not m:
            continue
        href, title = m.group(1), text_flatten(m.group(2))
        desc = _DESC_RE.search(div_body)
        summary = text_flatten(desc.group(1)) if desc else ""
        cover = ""
        sm = _COVER_SPAN_RE.search(div_body)
        if sm and "(" in sm.group(1):
            cover = sm.group(1).split("(", 1)[1].rstrip(")")
        out.append({"href": href, "title": title, "summary": summary, "cover": cover})
    return out


def parse_msg_link(html: str) -> str:
    """X6: regex-extract msg_link then the reference's cleanup chain
    (weixin_public.py:300-308): &amp;->&, drop #rd, ';', spaces."""
    m = _MSG_LINK_RE.search(html or "")
    if not m:
        return ""
    link = m.group(1)
    return (
        link.replace("&amp;", "&").replace("#rd", "").replace(";", "").replace(" ", "")
    )


def parse_images(html: str) -> list[dict]:
    """D7 input: img tags with data-src, keeping data-type, DOM order."""
    out = []
    for tag in _IMG_RE.findall(html or ""):
        attrs = _attrs(tag)
        src = attrs.get("data-src")
        if src:
            out.append({"src": src, "data_type": attrs.get("data-type", "")})
    return out


def parse_article(html: str) -> dict:
    """D2+D3+D4+X6: body text, video flag, date, author, msg_link."""
    html = html or ""
    body_m = _BODY_RE.search(html)
    date_m = _DATE_RE.search(html)
    author_m = _AUTHOR_RE.search(html)
    return {
        "body_html": body_m.group(1) if body_m else None,
        "body_text": text_flatten(body_m.group(1)) if body_m else None,
        "has_video": _VIDEO_RE.search(html) is not None,
        "publish_time": text_flatten(date_m.group(1)) if date_m else None,
        "author_name": text_flatten(author_m.group(1)) if author_m else "",
        "msg_link": parse_msg_link(html),
    }


_QUERY_NAME_RE = re.compile(r'<a class="query_name" href="([^"]*)"')
_CSM_BODY_RE = re.compile(r'<div id="js_content">(.*)</div>', re.S)


def first_query_link(html: str) -> str:
    """Tianyan search result: href of the first query_name anchor, ''
    when the result page is empty (F13; tianyan_crawler.py:161-166)."""
    m = _QUERY_NAME_RE.search(html or "")
    return m.group(1) if m else ""


def csm_body_text(html: str) -> str:
    """D2+D4 for chuansongmen articles: flattened js_content body text,
    '' when the page has no body div (greedy capture — csm articles
    carry exactly one div)."""
    m = _CSM_BODY_RE.search(html or "")
    return text_flatten(m.group(1)) if m else ""


def parse_links(html: str) -> list[str]:
    """D8: hrefs of <a href target="_blank"> in DOM order
    (chuansongmen.py:71-73 semantics; shape filter F14 applied later
    as a relational predicate, not here)."""
    out = []
    for inner, _text in _ANCHOR_RE.findall(html or ""):
        attrs = _attrs(inner)
        if attrs.get("target") == "_blank" and "href" in attrs:
            out.append(attrs["href"])
    return out


def parse_max_page(html: str) -> int:
    """D9: int text of the LAST <a> inside the pagination span
    (chuansongmen.py:49-50: find_all('a')[-1])."""
    m = _PAGENAV_RE.search(html or "")
    if not m:
        return 1
    anchors = [t for _a, t in _ANCHOR_RE.findall(m.group(1))]
    if not anchors:
        return 1
    try:
        return int(text_flatten(anchors[-1]))
    except ValueError:
        return 1


# ------------------------------------------------------------- company page

_CONTACT_RE = re.compile(r'<span class="contact">(.*?)</span>', re.S)
_BASEINFO_RE = re.compile(
    r'<td class="td-(\w+)-value"><p class="ng-binding">(.*?)</p></td>', re.S
)
_STAFF_TABLE_RE = re.compile(r'<table class="staff">(.*?)</table>', re.S)
_TR_RE = re.compile(r"<tr>(.*?)</tr>", re.S)
_TD_RE = re.compile(r"<td[^>]*>(.*?)</td>", re.S)
_HOLDER_DIV_RE = re.compile(
    r'<div class="ng-scope holder">(.*?)</div>', re.S
)
_INVEST_DIV_RE = re.compile(
    r'<div class="ng-scope invest">(.*?)</div>', re.S
)
_ENTITY_A_RE = re.compile(r'<a href="([^"]*)"[^>]*>(.*?)</a>', re.S)
_MONEY_RE = re.compile(r'<span class="money">(.*?)</span>', re.S)
_DETAIL_P_RE = re.compile(
    r'<p ng-if="[^"]*" class="ng-binding ng-scope">\s*<span>(.*?)</span>(.*?)</p>', re.S
)
_NAME_RE = re.compile(r'<h1 class="company-name">(.*?)</h1>', re.S)
_SCORE_RE = re.compile(r'ng-alt="([^"]*)"')

_CONTACT_LABELS = {
    "电话:": "phone",
    "邮箱:": "email",
    "网址:": "url",
    "地址:": "address",
}


def parse_company(html: str) -> dict:
    """D10-D14: company page -> typed nested record.

    Semantics per tianyan_extractor.py:33-213 (independent impl):
    - contact spans carry a label prefix that is stripped (X12);
    - score comes from ng-alt with a fixed 6-char label prefix (X13,
      reimplemented as label strip, divergence noted in SURVEY);
    - staff table transposes row1=names/row2=titles pairwise, bailing
      out (empty list) when row lengths differ (D12,
      tianyan_extractor.py:144-145);
    - holder/invest blocks yield (name, link, type, money), invest
      type classified by 'human' in link (F18);
    - detail <p> tags merge into a dynamic map (D14), label stripped
      of a trailing fullwidth colon.
    """
    html = html or ""
    rec: dict = {
        "name": None,
        "phone": None,
        "email": None,
        "url": None,
        "address": None,
        "score": None,
    }
    nm = _NAME_RE.search(html)
    if nm:
        rec["name"] = text_flatten(nm.group(1))
    for span in _CONTACT_RE.findall(html):
        text = text_flatten(span)
        for label, field in _CONTACT_LABELS.items():
            if text.startswith(label):
                rec[field] = text[len(label) :].strip()
                break
    sc = _SCORE_RE.search(html)
    if sc:
        rec["score"] = sc.group(1)[6:]  # X13: drop fixed 6-char label

    base: dict[str, str] = {}
    for field, val in _BASEINFO_RE.findall(html):
        base[field] = text_flatten(val)
    rec["register_capital"] = base.get("regCapital")
    rec["status"] = base.get("regStatus")
    rec["register_time"] = base.get("regTime")
    rec["legal_repr"] = base.get("legalPerson")

    staff: list[dict] = []
    st = _STAFF_TABLE_RE.search(html)
    if st:
        rows = _TR_RE.findall(st.group(1))
        if len(rows) >= 2:
            r1 = _TD_RE.findall(rows[0])
            r2 = _TD_RE.findall(rows[1])
            if len(r1) == len(r2):  # D12 bail-out on unequal rows
                for name_cell, title_cell in zip(r1, r2):
                    am = _ENTITY_A_RE.search(name_cell)
                    staff.append(
                        {
                            "name": text_flatten(am.group(2) if am else name_cell),
                            "href": am.group(1) if am else "",
                            "title": text_flatten(title_cell),
                        }
                    )
    rec["staff_info"] = staff

    def _entities(pattern: re.Pattern, classify: bool) -> list[dict]:
        items = []
        for block in pattern.findall(html):
            am = _ENTITY_A_RE.search(block)
            if not am:
                continue
            link, name = am.group(1), text_flatten(am.group(2))
            mm = _MONEY_RE.search(block)
            money = text_flatten(mm.group(1)) if mm else ""
            kind = ""
            if classify:  # F18
                kind = "个人投资" if "human" in link else "企业投资"
            items.append({"name": name, "link": link, "type": kind, "money": money})
        return items

    rec["holder_info"] = _entities(_HOLDER_DIV_RE, classify=False)
    rec["out_invest"] = _entities(_INVEST_DIV_RE, classify=True)

    details: dict[str, str] = {}
    for label, val in _DETAIL_P_RE.findall(html):
        details[text_flatten(label).rstrip("：")] = text_flatten(val)
    rec["details"] = details
    return rec


# ------------------------------------------------------ DOM-rewrite (D5/D6)

_KEEP_IMG_ATTRS = ("src", "class")
_STRIP_ATTRS = ("id", "name", "style", "height", "width")


def tiny_html(html: str) -> str:
    """D5: drop id/name/style/height/width from all tags except
    <section>; on <img> keep only src/class (weixin_public.py:277-298
    semantics, regex reimplementation)."""

    def rewrite(m: re.Match) -> str:
        tag = m.group(0)
        name_m = re.match(r"<\s*(/?)(\w+)", tag)
        if not name_m or name_m.group(1):
            return tag
        tname = name_m.group(2).lower()
        if tname == "section":
            return tag
        attrs = _attrs(tag)
        if tname == "img":
            kept = {k: v for k, v in attrs.items() if k in _KEEP_IMG_ATTRS}
        else:
            kept = {k: v for k, v in attrs.items() if k not in _STRIP_ATTRS}
        inner = "".join(f' {k}="{v}"' for k, v in kept.items())
        close = " /" if tag.rstrip(">").endswith("/") else ""
        return f"<{tname}{inner}{close}>"

    return re.sub(r"<[^>]+>", rewrite, html or "")


def _marker_span(html: str, spec: str) -> tuple[int, int] | None:
    """Locate a trim marker. Spec grammar (rules.pattern for
    kind='trim'):

      lit:<text>        first occurrence of the literal text
      tag-first:<tag>   first <tag> element (full element span when the
                        tag is paired, the void tag otherwise)
      tag-last:<tag>    last <tag> element

    A bare string (no recognized prefix) is treated as a literal for
    back-compat — which means a bare literal that HAPPENS to start
    with 'lit:'/'tag-first:'/'tag-last:' is parsed as a prefixed spec,
    not searched verbatim (ADVICE r2). The escape is the lit: prefix
    itself: every literal is expressible by prefixing, e.g.
    ``lit:tag-first: intro`` searches for the text 'tag-first: intro'
    and ``lit:lit:x`` for 'lit:x'. Rule authors should always write
    the explicit prefix; the bare form exists only for legacy rows.
    Returns (start, end) byte offsets or None. Paired-tag spans are
    matched non-greedily — nested same-name tags are out of scope (the
    reference's marker elements are flat)."""
    kind, _, arg = spec.partition(":")
    if kind == "lit":
        i = html.find(arg)
        return (i, i + len(arg)) if i >= 0 else None
    if kind in ("tag-first", "tag-last"):
        tag = re.escape(arg)
        pat = re.compile(rf"<{tag}\b[^>]*>(?:.*?</{tag}\s*>)?", re.I | re.S)
        if kind == "tag-first":
            m = pat.search(html)
            return m.span() if m else None
        last = None
        for m in pat.finditer(html):
            last = m
        return last.span() if last else None
    i = html.find(spec)
    return (i, i + len(spec)) if i >= 0 else None


def trim_dom(html: str, marker: str, direction: str) -> str:
    """D6: data-driven replacement for the reference's 11-branch
    per-account trim chain (weixin_public.py:374-501). The marker is a
    ``_marker_span`` spec; direction is one of:

      strip_after   remove the marker and everything after it
                    (span-text / 【END】 cases, weixin_public.py:381-398,
                    431-438; next_elements + marker.extract())
      strip_before  remove everything before the marker and the marker
                    itself (the previous_elements backward case,
                    weixin_public.py:439-449)
      remove_only   remove just the marker element (the 华商韬略
                    last-section case, weixin_public.py:404-409, which
                    extracts the section but not its next_elements)
    """
    if not html or not marker:
        return html or ""
    span = _marker_span(html, marker)
    if span is None:
        return html
    lo, hi = span
    if direction == "strip_before":
        return html[hi:]
    if direction == "remove_only":
        return html[:lo] + html[hi:]
    return html[:lo]
