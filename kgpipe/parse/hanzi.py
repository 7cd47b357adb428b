# -*- coding: utf-8 -*-
"""Character (汉字) page extraction — all seven ``data-id`` sections.

The reference fetches the same page seven times, once per section parser
(/root/reference/hanzi/hanyuguoxue.py:1081-1099). Here every section is a
projection over one ``content`` column read once — the scan-once /
project-7× restatement called out in SURVEY.md §3.3.

Section semantics reproduced:
  * 基本信息  — /root/reference/hanzi/extract_basic_info.py:6-151
  * 概述      — /root/reference/hanzi/extract_gaishu.py:71-111
  * 意思      — /root/reference/hanzi/extract_yisi.py:62-287 (incl. the
               nearest-preceding-explain grouping of p.extra, :138-212,
               and 古壮字释义 blocks, :215-243)
  * 翻译      — /root/reference/hanzi/extract_fanyi.py:25-102 (whitespace
               collapse ``re.sub(r'\\s+', ' ')`` at :95)
  * 国语辞典  — /root/reference/hanzi/extract_guoyu.py:25-220
  * 两岸词典  — /root/reference/hanzi/extract_liangan.py:25-270 (pinyin nav
               with <sup><small>n</small></sup> homograph indexes)
  * 字源字形  — pure-regex, tolerant of unquoted attributes
               (/root/reference/hanzi/hanyuguoxue.py:180-251)

Callers that read only the flat 基本信息 / 翻译 cards (the KG pipeline)
get the DOM built over just those cards: ``_cut_cards`` splits the page
at its card markers and proves the cut with one strict-markup regex
match per region (the definitions shared with parse/fastterm.py) plus a
tag-stack check over each kept card; anything it cannot prove is parsed
as the full page.

The ``quotes``/``examples``/``english`` fields are initialized as lists
but overwritten with the extra's text when present — a reference quirk
(extract_yisi.py:206-210) we normalize to always-string ('' when absent)
so the Spark struct stays typed.
"""

from __future__ import annotations

import re
from typing import Optional

from kgpipe.htmldom import _COMMENT_CLOSE, _RAW_END, VOID_ELEMENTS, Element, parse_html
from kgpipe.parse.fastterm import (
    STRICT_ATTRS,
    STRICT_CLOSE,
    STRICT_COMMENT,
    STRICT_DECL,
    STRICT_OPEN,
)

CODEPOINT_RE = re.compile(r"zi-(\d+)")


def codepoint_from_path(path: str) -> Optional[int]:
    """unicode_decimal from a zidian path — hanzi/hanyuguoxue.py:18-21."""
    m = CODEPOINT_RE.search(path or "")
    return int(m.group(1)) if m else None


# ---------------------------------------------------------------------------
# 基本信息 (basic info)
# ---------------------------------------------------------------------------

_ATTR_LABEL_FIELDS = {
    "结构": "structure",
    "造字法": "formation_method",
    "五行": "five_elements",
    "五笔": "wubi",
    "仓颉": "cangjie",
    "郑码": "zhengma",
    "四角": "sijiaohaoma",
    "中文电码": "telegraph_code",
    "区位码": "zone_code",
    "统一码": "unicode_full",
}


def _pinyin_entry(voice_span: Element) -> dict:
    py = voice_span.find("em", class_="py")
    zy = voice_span.find("em", class_="zy")
    return {
        "pinyin": py.get_text().strip() if py else "",
        "zhuyin": zy.get_text().strip() if zy else "",
        "audio_file": voice_span.get("data-voice", ""),
    }


def parse_basic_info(doc: Element) -> dict:
    section = doc.find("div", attrs={"data-id": "基本信息"})
    if not section:
        return {"error": "section 基本信息 not found"}
    zi_title = section.find("div", class_="zi-title")
    if not zi_title:
        return {"error": "zi-title not found"}

    data: dict = {}
    h2 = zi_title.find("h2")
    if h2:
        data["character"] = h2.get_text().strip()

    pinyin_div = zi_title.find("div", class_="pinyin")
    if pinyin_div:
        data["pinyin_info"] = [
            _pinyin_entry(v) for v in pinyin_div.find_all("span", class_="voice")
        ]

    extra = zi_title.find("div", class_="zi-title-extra")
    if extra:
        for span in extra.find_all("span"):
            text = span.get_text().strip()
            if "部" in text and not text.endswith("部"):
                data["bushou"] = text
            elif "画" in text and "共" in text:
                data["bihua_count"] = text
            elif "独体字" in text or "左右结构" in text or "上下结构" in text:
                data["character_type"] = text
            elif "U+" in text:
                data["unicode_basic"] = text
            elif "CJK" in text:
                data["character_set"] = text

    zi_tags = zi_title.find("div", class_="zi-tags")
    if zi_tags:
        data["tags"] = [a.get_text().strip() for a in zi_tags.find_all("a", class_="badge")]

    zi_category = zi_title.find("div", class_="zi-category")
    if zi_category:
        data["category"] = zi_category.get_text().strip()

    zi_attrs = section.find("div", class_="zi-attrs")
    if zi_attrs:
        attrs_list = zi_attrs.find("div", class_="zi-attrs-list")
        if attrs_list:
            for p in attrs_list.find_all("p"):
                label = p.find("label")
                if not label:
                    continue
                label_text = label.get_text().strip()
                span = p.find("span")
                if not span:
                    continue
                value_text = span.get_text().strip()
                if label_text == "部首":
                    link = span.find("a")
                    data["bushou_detail"] = {
                        "text": value_text,
                        "link": link.get("href", "") if link else "",
                    }
                elif label_text == "总笔画":
                    link = span.find("a")
                    data["total_strokes"] = {
                        "text": value_text,
                        "link": link.get("href", "") if link else "",
                    }
                elif label_text in _ATTR_LABEL_FIELDS:
                    data[_ATTR_LABEL_FIELDS[label_text]] = value_text
                elif label_text == "笔画":
                    ems = span.find_all("em")
                    if len(ems) >= 2:
                        data["stroke_order"] = {
                            "code": ems[0].get_text().strip(),
                            "description": ems[1].get_text().strip(),
                        }
                elif label_text == "异体字":
                    variants = []
                    for link in span.find_all("a"):
                        ch = link.get_text().strip()
                        if ch:
                            variants.append({"character": ch, "url": link.get("href", "")})
                    data["variant_characters"] = variants

    return {"data": data}


# ---------------------------------------------------------------------------
# 概述 (overview)
# ---------------------------------------------------------------------------

def parse_gaishu(doc: Element) -> dict:
    section = doc.find("div", attrs={"data-id": "概述"})
    if not section:
        return {"error": "section 概述 not found"}
    data: dict = {}
    h2 = section.find("h2")
    if h2:
        data["title"] = h2.get_text().strip()
    body = section.find("div", class_="content-card-body")
    if body:
        summary = body.find("div", class_="zi-summary")
        if summary:
            data["summary_info"] = [
                {"full_text": t}
                for t in (p.get_text().strip() for p in summary.find_all("p"))
                if t
            ]
    return {"data": data}


# ---------------------------------------------------------------------------
# shared: explain/extra grouping (意思 / 国语辞典 / 两岸词典)
# ---------------------------------------------------------------------------

def _group_extras(detail_div: Element) -> dict[int, list[Element]]:
    """Map explain-index → its p.extra elements.

    The reference assigns each ``p.extra`` to the *nearest preceding*
    ``p.explain`` sibling (extract_yisi.py:169-194). Re-expressed as one
    forward pass over the container's direct children.
    """
    explains = detail_div.find_all("p", class_="explain")
    index_of = {id(e): i for i, e in enumerate(explains)}
    groups: dict[int, list[Element]] = {}
    current: Optional[int] = None
    for node in detail_div.iter_elements(recursive=True):
        if node.name != "p":
            continue
        classes = node.classes
        if "explain" in classes and id(node) in index_of:
            current = index_of[id(node)]
        elif "extra" in classes and current is not None:
            groups.setdefault(current, []).append(node)
    return groups


def _extra_fields(extras: list[Element], want_english: bool) -> dict:
    out = {"quotes": "", "examples": ""}
    if want_english:
        out["english"] = ""
    for extra in extras:
        span = extra.find("span")
        content = span.get_text().strip() if span else ""
        classes = extra.classes
        if "quotes" in classes:
            out["quotes"] = content
        elif "eg" in classes:
            out["examples"] = content
        elif "en" in classes and want_english:
            out["english"] = content
    return out


def _detailed_items(detail_div: Element, want_english: bool, track_cixing: bool = True) -> list[dict]:
    groups = _group_extras(detail_div)
    explains = detail_div.find_all("p", class_="explain")
    items: list[dict] = []
    current_cixing = ""
    explain_idx = -1
    for node in detail_div.iter_elements(recursive=False):
        if node.name != "p":
            continue
        classes = node.classes
        if track_cixing and "cixing" in classes:
            current_cixing = node.get_text().strip()
        elif "explain" in classes:
            explain_idx += 1
            no_span = node.find("span", class_="no")
            item = {
                "cixing": current_cixing if track_cixing else "",
                "number": no_span.get_text().strip() if no_span else "",
                "content": node.get_text().strip(),
            }
            item.update(_extra_fields(groups.get(explain_idx, []), want_english))
            items.append(item)
    # guard against containers whose explains are not direct children
    if not items and explains:
        for i, p in enumerate(explains):
            no_span = p.find("span", class_="no")
            item = {
                "cixing": "",
                "number": no_span.get_text().strip() if no_span else "",
                "content": p.get_text().strip(),
            }
            item.update(_extra_fields(groups.get(i, []), want_english))
            items.append(item)
    return items


# ---------------------------------------------------------------------------
# 意思 (meanings)
# ---------------------------------------------------------------------------

def parse_yisi(doc: Element) -> dict:
    section = doc.find("div", attrs={"data-id": "意思"})
    if not section:
        return {"error": "section 意思 not found"}
    data: dict = {}
    h2 = section.find("h2")
    if h2:
        data["title"] = h2.get_text().strip()
    body = section.find("div", class_="content-card-body")
    explanations: list[dict] = []
    if body:
        for zi_content in body.find_all("div", class_="zi-content"):
            main = _yisi_main_content(zi_content)
            if main:
                explanations.append(main)
            ancient = _yisi_ancient(zi_content)
            if ancient:
                explanations.append(ancient)
    data["explanations"] = explanations
    return {"data": data}


def _yisi_main_content(zi_content: Element) -> Optional[dict]:
    main_heading = zi_content.find("div", class_="zi-heading main")
    if not main_heading:
        return None
    h3 = main_heading.find("h3")
    character = h3.get_text().strip() if h3 else ""
    pinyin_info = []
    voice = main_heading.find("span", class_="voice")
    if voice:
        pinyin_info.append(_pinyin_entry(voice))

    out = {
        "character": character,
        "pinyin_info": pinyin_info,
        "basic_explanation": [],
        "detailed_explanation": [],
    }

    if zi_content.find("h4", string=lambda t: t and "基本解释" in t):
        basic_div = zi_content.find("div", class_="zi-basic-explain")
        if basic_div:
            for p in basic_div.find_all("p", class_="explain"):
                no = p.find("span", class_="no")
                text = p.find("span", class_="text")
                eg = p.find("span", class_="eg")
                out["basic_explanation"].append(
                    {
                        "number": no.get_text().strip() if no else "",
                        "explanation": text.get_text().strip() if text else "",
                        "example": eg.get_text().strip() if eg else "",
                        "full_text": p.get_text().strip(),
                    }
                )

    if zi_content.find("h4", string=lambda t: t and "详细解释" in t):
        detail_div = zi_content.find("div", class_="zi-detail-explain")
        if detail_div:
            out["detailed_explanation"] = _detailed_items(detail_div, want_english=True)

    return out


def _yisi_ancient(zi_content: Element) -> Optional[dict]:
    heading = zi_content.find("h4", string=lambda t: t and "古壮字释义" in t)
    if not heading:
        return None
    out = {"type": "古壮字释义", "explanations": []}
    sibling = zi_content.find_next_sibling("div")
    if sibling and "zi-content" in sibling.classes:
        for p in sibling.find_all("p", class_="explain"):
            no = p.find("span", class_="no")
            text = p.get_text().strip()
            out["explanations"].append(
                {
                    "number": no.get_text().strip() if no else "",
                    "explanation": text,
                    "full_text": text,
                }
            )
    return out


# ---------------------------------------------------------------------------
# 翻译 (translations)
# ---------------------------------------------------------------------------

def parse_fanyi(doc: Element) -> dict:
    section = doc.find("div", attrs={"data-id": "翻译"})
    if not section:
        return {"error": "section 翻译 not found"}
    data: dict = {}
    h2 = section.find("h2")
    if h2:
        data["title"] = h2.get_text().strip()
    body = section.find("div", class_="content-card-body")
    if body:
        ol = body.find("ol", class_="zi-fanyi")
        if ol:
            translations = []
            for li in ol.find_all("li"):
                label = li.find("label", class_="badge")
                if not label:
                    continue
                language = label.get_text().strip()
                label.decompose()
                text = re.sub(r"\s+", " ", li.get_text().strip())
                translations.append({"language": language, "translation": text})
            data["translations"] = translations
    return {"data": data}


# ---------------------------------------------------------------------------
# 国语辞典 (Guoyu dictionary)
# ---------------------------------------------------------------------------

def parse_guoyu(doc: Element) -> dict:
    section = doc.find("div", attrs={"data-id": "国语辞典"})
    if not section:
        return {"error": "section 国语辞典 not found"}
    data: dict = {}
    h2 = section.find("h2")
    if h2:
        data["title"] = h2.get_text().strip()
    body = section.find("div", class_="content-card-body")
    if body:
        contents = body.find("div", class_="zi-contents")
        if contents:
            main = []
            for zi_content in contents.find_all("div", class_="zi-content"):
                entry: dict = {}
                heading = zi_content.find("div", class_="zi-heading main")
                if heading:
                    h3 = heading.find("h3")
                    if h3:
                        entry["character"] = h3.get_text().strip()
                    voice = heading.find("span", class_="voice")
                    if voice:
                        entry["pinyin_info"] = _pinyin_entry(voice)
                detail_div = zi_content.find("div", class_="zi-detail-explain")
                if detail_div:
                    entry["detailed_explanations"] = _detailed_items(
                        detail_div, want_english=False
                    )
                if entry:
                    main.append(entry)
            data["main_content"] = main
        notes = body.find("div", class_="zi-notes")
        if notes:
            data["notes"] = notes.get_text().strip()
    return {"data": data}


# ---------------------------------------------------------------------------
# 两岸词典 (Cross-strait dictionary)
# ---------------------------------------------------------------------------

def parse_liangan(doc: Element) -> dict:
    section = doc.find("div", attrs={"data-id": "两岸词典"})
    if not section:
        return {"error": "section 两岸词典 not found"}
    data: dict = {}
    h2 = section.find("h2")
    if h2:
        data["title"] = h2.get_text().strip()
    body = section.find("div", class_="content-card-body")
    if body:
        nav = _pinyin_navigation(body)
        if nav:
            data["pinyin_navigation"] = nav
        contents = body.find("div", class_="zi-contents")
        if contents:
            main = []
            for zi_content in contents.find_all("div", class_="zi-content"):
                entry: dict = {}
                heading = zi_content.find("div", class_="zi-heading main")
                if heading:
                    h3 = heading.find("h3")
                    if h3:
                        entry["character"] = h3.get_text().strip()
                    sup = heading.find("sup")
                    if sup:
                        entry["index"] = sup.get_text().strip()
                    voice = heading.find("span", class_="voice")
                    if voice:
                        entry["pinyin_info"] = _pinyin_entry(voice)
                detail_div = zi_content.find("div", class_="zi-detail-explain")
                if detail_div:
                    # liangan keeps no cixing state (extract_liangan.py:184-198)
                    entry["detailed_explanations"] = _detailed_items(
                        detail_div, want_english=False, track_cixing=False
                    )
                if entry:
                    main.append(entry)
            data["main_content"] = main
        notes = body.find("div", class_="zi-notes")
        if notes:
            data["notes"] = notes.get_text().strip()
    return {"data": data}


def _pinyin_navigation(body: Element) -> Optional[dict]:
    nav = body.find("div", class_="zi-pinyin-nav")
    if not nav:
        return None
    zi_pinyin = nav.find("div", class_="zi-pinyin")
    if not zi_pinyin:
        return None
    entries = []
    for link in zi_pinyin.find_all("a"):
        classes = link.classes
        if "active" in classes:
            entries.append({"type": "全部", "pinyin": "全部", "index": "", "active": True})
        elif "pinyin" in classes:
            text = link.get_text().strip()
            sup = link.find("sup")
            if sup:
                small = sup.find("small")
                index = small.get_text().strip() if small else ""
                base = text.replace(sup.get_text(), "").strip()
            else:
                base, index = text, ""
            entries.append({"type": "pinyin", "pinyin": base, "index": index, "active": False})
    return {
        "pinyin_count": str(zi_pinyin.get("data-length", len(entries))),
        "pinyin_list": entries,
    }


# ---------------------------------------------------------------------------
# 字源字形 (character evolution) — pure regex like the reference
# ---------------------------------------------------------------------------

_H2_RE = re.compile(r'<h2 id\s*=\s*(["\']?)zyzx\1\s*>([^<]+?)的字源字形</h2>')
_ZYXC_RE = re.compile(r'<div\s+class\s*=\s*(["\']?)zi-zyxc\1\s*>(.*?)</div>', re.DOTALL)
_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_ALT_RE = re.compile(r'alt\s*=\s*(["\']?)([^"\']+?)\1(?=\s+(class|data-src|src)|>)')
_SRC_RE = re.compile(r'src\s*=\s*(["\']?)([^"\'>]+?)\1(?=\s+[^=]|>)')
_DATA_SRC_RE = re.compile(r'data-src\s*=\s*(["\']?)([^"\'>]+?)\1(?=\s+[^=]|>)')
_PERIOD_RE = re.compile(r'<span\s+class\s*=\s*(["\']?)period\1\s*>([^<]*)</span>')
_STYLE_RE = re.compile(r'<span\s+class\s*=\s*(["\']?)style\1\s*>([^<]*)</span>')
_SOURCE_RE = re.compile(r'<span\s+class\s*=\s*(["\']?)source\1\s*>([^<]*)</span>')


def parse_evolution(html: str) -> list[dict]:
    """Tolerates quoted AND unquoted attributes — hanyuguoxue.py:180-251."""
    m = _H2_RE.search(html)
    character = m.group(2).strip() if m else "未知"
    zyxc = _ZYXC_RE.search(html)
    if not zyxc:
        return []
    out = []
    for block in _P_RE.findall(zyxc.group(2)):
        alt_m = _ALT_RE.search(block)
        src_m = _SRC_RE.search(block)
        data_src_m = _DATA_SRC_RE.search(block)
        image_url = (src_m.group(2).strip() if src_m else "") or (
            data_src_m.group(2).strip() if data_src_m else ""
        )
        if not image_url:
            continue
        period_m = _PERIOD_RE.search(block)
        style_m = _STYLE_RE.search(block)
        source_m = _SOURCE_RE.search(block)
        out.append(
            {
                "character": character,
                "image_url": image_url,
                "alt": alt_m.group(2).strip() if alt_m else "",
                "period": period_m.group(2).strip() if period_m else "",
                "style": style_m.group(2).strip() if style_m else "",
                "source": source_m.group(2).strip() if source_m else "",
            }
        )
    return out


# ---------------------------------------------------------------------------
# whole-page merge — the 7-fetch loop becomes one parse + 7 projections
# (hanyuguoxue.py:1074-1121)
# ---------------------------------------------------------------------------

#: section name → extractor over the parsed DOM (evolution runs on raw html)
_SECTION_FNS = {
    "basic_info": lambda doc, html: parse_basic_info(doc),
    "gaishu_info": lambda doc, html: parse_gaishu(doc),
    "yisi_info": lambda doc, html: parse_yisi(doc),
    "fanyi_info": lambda doc, html: parse_fanyi(doc),
    "guoyu_info": lambda doc, html: parse_guoyu(doc),
    "liangan_info": lambda doc, html: parse_liangan(doc),
    "evolution_data": lambda doc, html: parse_evolution(html),
}

ALL_SECTIONS = tuple(_SECTION_FNS)

#: section → its card's data-id (hanyuguoxue page vocabulary; evolution
#: runs on raw html and needs no card)
_SECTION_CARD_ID = {
    "basic_info": "基本信息",
    "gaishu_info": "概述",
    "yisi_info": "意思",
    "fanyi_info": "翻译",
    "guoyu_info": "国语辞典",
    "liangan_info": "两岸词典",
}

#: the hot-path section sets eligible for the card cut: flat cards whose
#: subtrees hold no nested data-id markers (the 意思-family cards can
#: nest sub-blocks, so they always take the full parse).
_CUT_SAFE = {"basic_info", "fanyi_info", "evolution_data"}

#: a card marker: a div start tag carrying a data-id attribute (group 1)
_CARD_MARK = re.compile(r'<div\b(?=[^>]*?\sdata-id="([^"]*)")')

#: one strict-markup construct (fastterm's definitions, groups 1=close
#: name, 2=open name, 4=self-close slash) or a whole script/style
#: element: its raw text runs to the first htmldom._RAW_END match, which
#: must be the strict close
_STRICT_TOKEN = "<(?>%s)" % "|".join(
    [
        STRICT_CLOSE,
        "(?!(?:script|style)[\\s/>])" + STRICT_OPEN,
        "%s(?s:.*?)(?:%s)" % (STRICT_COMMENT, _COMMENT_CLOSE.pattern),
        STRICT_DECL,
    ]
    + [
        "%s%s\\s*+>(?:[^<]++|(?!(?i:%s))<)*+</%s\\s*+>"
        % (t, STRICT_ATTRS, _RAW_END[t].pattern, t)
        for t in ("script", "style")
    ]
)
_STRICT_TOKEN_RE = re.compile(_STRICT_TOKEN)
#: a region of strict markup; its groups are made non-capturing, since
#: re raises SystemError on a capturing group that a possessive repeat
#: sets in one pass and not in the next (CPython 3.11, on '<p><!>')
_STRICT_REGION = re.compile("(?>[^<]++|%s)*+" % re.sub(r"\((?!\?)", "(?:", _STRICT_TOKEN))


def _drains(card: str) -> bool:
    """Tag-stack check over a kept card's own tokens: its open elements
    all close by its end, and no close reaches past them while one is
    open (in the full page such a close may bind to an element of the
    prefix or of a dropped card and close the kept ones with it). A
    close on an empty stack is allowed: it can only pop elements outside
    the kept cards."""
    stack: list = []
    for m in _STRICT_TOKEN_RE.finditer(card):
        close, tag, slash = m.group(1, 2, 4)
        if tag is not None:
            if not slash and tag not in VOID_ELEMENTS:
                stack.append(tag)
        elif close is not None and stack:
            if close not in stack:
                return False
            del stack[len(stack) - 1 - stack[::-1].index(close) :]
    return not stack


def _cut_cards(html: str, sections: tuple) -> Optional[str]:
    """The page cut down to the wanted sections' cards, for the DOM to
    be built over them alone; None (the caller parses the full page,
    output unchanged) unless the cut provably reads the same cards.

    The page splits at its card markers into a prefix and cards, each
    card running to the next marker. Each wanted section reads the
    first card with its id in document order, so only the regions up to
    and including the last of those first cards are proven:
      * each fullmatches ``_STRICT_REGION``: every construct ends inside
        its own region, so each marker is real markup and the regions
        tokenize alike in the page and in the cut;
      * the prefix holds no ``data-id`` and each card exactly one, its
        own marker, whose id holds no ``&`` (a character reference or
        a repeated attribute would give the DOM another id);
      * each kept card passes ``_drains``, so its subtree is the same in
        both parses.
    The regions after it get no proof: they follow every kept card,
    which is closed by then, so they cannot change what the extractors
    read (and the real pages' 字源字形 tail uses unquoted attributes)."""
    if not set(sections) <= _CUT_SAFE:
        return None
    wanted = {_SECTION_CARD_ID[s] for s in sections if s in _SECTION_CARD_ID}
    if not wanted:
        return None
    marks = list(_CARD_MARK.finditer(html))
    first: dict = {}
    for last, m in enumerate(marks):
        if m.group(1) in wanted:
            first.setdefault(m.group(1), last)
            if len(first) == len(wanted):
                break
    else:
        return None  # a wanted card is missing: the DOM decides
    starts = [m.start() for m in marks[: last + 2]] + [len(html)]
    prefix = html[: starts[0]]
    if "data-id" in prefix or _STRICT_REGION.fullmatch(prefix) is None:
        return None
    kept_at = set(first.values())
    kept = []
    for i in range(last + 1):
        card = html[starts[i] : starts[i + 1]]
        if (
            "&" in marks[i].group(1)
            or card.count("data-id") != 1
            or _STRICT_REGION.fullmatch(card) is None
        ):
            return None
        if i in kept_at:
            if not _drains(card):
                return None
            kept.append(card)
    return "".join(kept)


def parse_hanzi_html(
    html: str, url: Optional[str] = None, sections: tuple = ALL_SECTIONS
) -> dict:
    """Parse a zidian page; ``sections`` is the parser-level projection
    pushdown — callers that consume only a subset of the 7 sections (the
    KG pipeline needs basic_info + fanyi_info) skip the extraction AND
    the serialization of the rest. For a cut-safe subset the DOM is
    built over only the wanted cards when ``_cut_cards`` proves that
    reads the same cards, else over the full page. Skipped sections are
    absent from the result dict (the UDF adapter emits them as NULL
    structs)."""
    try:
        cut = _cut_cards(html, sections)
        doc = parse_html(html if cut is None else cut)
        out = {"url": url, "unicode_decimal": codepoint_from_path(url or "")}
        for name in sections:
            out[name] = _SECTION_FNS[name](doc, html)
        return out
    except Exception as exc:
        return {
            "url": url,
            "unicode_decimal": codepoint_from_path(url or ""),
            "error": f"parse failed: {exc}",
        }
