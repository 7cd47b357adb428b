# -*- coding: utf-8 -*-
"""Word (词语) detail-page extraction.

Reproduces ``extract_ciyu_details_from_html``
(/root/reference/ciyu/extract_ciyu.py:73-132):

  * word           — div.ci-title-wrap h1, stripped (:82-86)
  * pinyin         — ' '-join of non-empty div.pinyin span texts (:88-91),
                     overridden by the <label>拼音</label> sibling span when
                     present (:101-106, "more stable" per reference comment)
  * is_common      — div.ci-tag text contains 常用词 (:93-96)
  * zhuyin / part_of_speech — <label>注音/词性</label> → next-sibling <span> (:108-118)
  * synonyms / antonyms — label → parent → span.ci-list a texts, empties
                     dropped (:120-121, helper :60-70)
  * definition     — <h3>网络解释</h3> parent's next-sibling div,
                     get_text(' ', strip=True) (:124-128)

``fields`` is the parser-level projection pushdown, as in chengyu.py:
``HOT_FIELDS`` go through the guarded flat scan
(kgpipe/parse/fastterm.py) first; a page it declines, and every other
field set, takes the DOM parse.
"""

from __future__ import annotations

from typing import Optional

from kgpipe.htmldom import Element, parse_html
from kgpipe.parse.fastterm import fast_hot_ciyu

ALL_FIELDS = (
    "word",
    "pinyin",
    "is_common",
    "zhuyin",
    "part_of_speech",
    "synonyms",
    "antonyms",
    "definition",
)

#: what the KG triple derivation reads (pipeline.py _term_frame)
HOT_FIELDS = ("word", "pinyin", "synonyms", "antonyms")
_HOT_FSET = frozenset(HOT_FIELDS)


def _list_from_label(ci_attrs: Optional[Element], label_text: str) -> list[str]:
    if not ci_attrs:
        return []
    label = ci_attrs.find("label", string=label_text)
    if not label or label.parent is None:
        return []
    texts = [a.get_text(strip=True) for a in label.parent.select("span.ci-list a")]
    return [t for t in texts if t]


def parse_ciyu_html(
    html: str,
    url: Optional[str] = None,
    fields: Optional[tuple] = None,
    fast: bool = True,
) -> dict:
    fset = frozenset(ALL_FIELDS if fields is None else fields)
    try:
        if fast and fset == _HOT_FSET:
            # guarded flat scan first (see the chengyu.py twin)
            data = fast_hot_ciyu(html)
            if data is not None:
                return {"url": url, "data": data}
        doc = parse_html(html)
        data: dict = {}

        if fset & {"word", "pinyin", "is_common"}:
            title_wrap = doc.find("div", class_="ci-title-wrap")
            if title_wrap:
                if "word" in fset:
                    h1 = title_wrap.find("h1")
                    if h1:
                        data["word"] = h1.get_text(strip=True)
                if "pinyin" in fset:
                    pinyin_div = title_wrap.find("div", class_="pinyin")
                    if pinyin_div:
                        spans = [s.get_text(strip=True) for s in pinyin_div.find_all("span")]
                        data["pinyin"] = " ".join(s for s in spans if s)
                if "is_common" in fset:
                    common_tag = title_wrap.find("div", class_="ci-tag")
                    data["is_common"] = (
                        common_tag is not None
                        and "常用词" in common_tag.get_text(strip=True)
                    )

        attr_fields = fset & {"pinyin", "zhuyin", "part_of_speech", "synonyms", "antonyms"}
        if attr_fields:
            ci_attrs = doc.find("div", class_="ci-attrs")
            if ci_attrs:
                for label_text, field in (
                    ("拼音", "pinyin"),
                    ("注音", "zhuyin"),
                    ("词性", "part_of_speech"),
                ):
                    if field not in fset:
                        continue
                    label = ci_attrs.find("label", string=label_text)
                    if label:
                        span = label.find_next_sibling("span")
                        if span:
                            data[field] = span.get_text(strip=True)
                if "synonyms" in fset:
                    data["synonyms"] = _list_from_label(ci_attrs, "近义词")
                if "antonyms" in fset:
                    data["antonyms"] = _list_from_label(ci_attrs, "反义词")

        if "definition" in fset:
            heading = doc.find("h3", string="网络解释")
            if heading and heading.parent is not None:
                block = heading.parent.find_next_sibling("div")
                if block:
                    data["definition"] = block.get_text(" ", strip=True)

        return {"url": url, "data": data}
    except Exception as exc:
        return {"url": url, "error": f"HTML parse failed: {exc}"}
