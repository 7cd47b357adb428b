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

The ``quotes``/``examples``/``english`` fields are initialized as lists
but overwritten with the extra's text when present — a reference quirk
(extract_yisi.py:206-210) we normalize to always-string ('' when absent)
so the Spark struct stays typed.
"""

from __future__ import annotations

import re
from typing import Optional

from kgpipe.htmldom import Element, parse_html
from kgpipe.parse.slicing import block_self_contained, raw_prefix_terminated

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

#: the hot-path pruned section sets eligible for card slicing: flat
#: cards whose subtrees provably contain no nested data-id markers (the
#: 意思-family cards can nest sub-blocks, so they always take the full
#: parse).
_SLICE_SAFE = {"basic_info", "fanyi_info", "evolution_data"}

_CARD_MARK = re.compile(r'(?=<div\b[^>]*?\bdata-id=")')
_CARD_ID = re.compile(r'<div\b[^>]*?\bdata-id="([^"]+)"')


def _slice_cards(html: str, sections: tuple) -> Optional[str]:
    """DOM-input pruning for the pipeline hot path: cut the page down to
    just the wanted sections' card blocks BEFORE DOM construction — the
    full-page DOM parse is ~85% of the pruned parse cost (BENCH.md
    round-5 profile: the zidian pandas-UDF stage is the pipeline's
    second-biggest cost center), and the hot path reads 2 of 7 cards.

    Returns None (→ caller falls back to the full parse, output
    unchanged) unless the page is positively sliceable: every wanted
    section is slice-safe, every wanted card's marker is found, the
    page prefix before the first marker ends in data mode (no
    unterminated script/style/comment the marker could sit inside), AND
    every marker block is a detachable forest under the tree builders'
    actual close semantics (``block_self_contained``: every construct
    span terminates inside the block, every close binds inside it or to
    the always-dropped prefix, open elements drain by block end). A
    card block runs to the next data-id marker, so slicing assumes
    sibling-card layout; the per-block simulation is what proves it per
    page — a card nesting another card, a div scope crossing a marker
    boundary, or a non-div close reaching across blocks (the '<p>'
    dropped / '</p>' kept divergence hypothesis found on the term
    slicer) all fail it. Guarded end-to-end by
    test_pruned_slice_equals_full_parse and the never-diverges fuzz."""
    if not set(sections) <= _SLICE_SAFE:
        return None
    wanted = {_SECTION_CARD_ID[s] for s in sections if s in _SECTION_CARD_ID}
    if not wanted:
        return None
    parts = _CARD_MARK.split(html)
    if len(parts) <= 1:
        return None
    if not raw_prefix_terminated(parts[0]):
        return None  # first marker may sit inside raw text / a comment
    kept, found = [], set()
    for part in parts[1:]:
        m = _CARD_ID.match(part)
        keep = m is not None and m.group(1) in wanted
        # kept blocks must also drain their element stack (a kept
        # residue's subtree would differ between the two parses);
        # dropped blocks may leave residues — see slicing._scan_region
        if not block_self_contained(part, require_drain=keep):
            return None  # scope crosses a marker boundary → full parse
        if m is None:
            continue
        found.add(m.group(1))
        if keep:
            kept.append(part)
    if not wanted <= found:
        return None  # a wanted card is missing → conservative full parse
    return "".join(kept)


def parse_hanzi_html(
    html: str, url: Optional[str] = None, sections: tuple = ALL_SECTIONS
) -> dict:
    """Parse a zidian page; ``sections`` is the parser-level projection
    pushdown — callers that consume only a subset of the 7 sections (the
    KG pipeline needs basic_info + fanyi_info) skip the extraction AND
    the serialization of the rest, and (for slice-safe subsets) the DOM
    parse itself runs over only the wanted cards (``_slice_cards``).
    Skipped sections are absent from the result dict (the UDF adapter
    emits them as NULL structs)."""
    try:
        sliced = _slice_cards(html, sections)
        doc = parse_html(html if sliced is None else sliced)
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
