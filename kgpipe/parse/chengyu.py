# -*- coding: utf-8 -*-
"""Idiom (成语) detail-page extraction.

Reproduces the field semantics of the reference parser
``extract_chengyu_details_from_html`` (/root/reference/chengyu/extract_chengyu.py:62-176):

  * chengyu      — first <h1> text, stripped (:80-82)
  * pinyin       — ' '-join of div.ci-title > div.pinyin > span texts (:85-91)
  * zhuyin       — regex ``注音[：:]\\s*([^\\n]+)`` over div.ci-attrs p text (:97-104)
  * emotion      — first <a> text in the 感情 paragraph (:107-111)
  * synonyms     — all <a> texts in the 近义词 paragraph (:114-117)
  * antonyms     — all <a> texts in the 反义词 paragraph (:120-123)
  * explanation  — p.explain.primary text after removing button.btn-copy (:129-136)
  * source/usage/example — regex ``出处|用法|例子[：:]\\s*(.+)`` over p.ext (:139-153)
  * translation  — "<label>: <text>" per ol.ci-fanyi li, '; '-joined, label
                   decomposed before text capture (:156-168)
  * parse failure → {'url', 'error'} (:172-176)

Absent fields are simply missing from the dict (the reference sets keys
only when found); the Spark layer surfaces them as nulls.

``fields`` selects which of the above to extract (parser-level
projection pushdown); unrequested fields skip their extraction. The KG
triple derivation consumes only ``HOT_FIELDS``, which the guarded flat
scan (kgpipe/parse/fastterm.py) extracts without building a DOM; a page
it declines, and every other field set, takes the DOM parse.
"""

from __future__ import annotations

import re
from typing import Optional

from kgpipe.htmldom import parse_html
from kgpipe.parse.fastterm import fast_hot_chengyu

_ZHUYIN_RE = re.compile(r"注音[：:]\s*([^\n]+)")
_SOURCE_RE = re.compile(r"出处[：:]\s*(.+)")
_USAGE_RE = re.compile(r"用法[：:]\s*(.+)")
_EXAMPLE_RE = re.compile(r"例子[：:]\s*(.+)")

ALL_FIELDS = (
    "chengyu",
    "pinyin",
    "zhuyin",
    "emotion",
    "synonyms",
    "antonyms",
    "explanation",
    "source",
    "usage",
    "example",
    "translation",
)

#: what the KG triple derivation reads (pipeline.py _term_frame):
#: name, pinyin, the two mention lists, and the translation string
HOT_FIELDS = ("chengyu", "pinyin", "synonyms", "antonyms", "translation")
_HOT_FSET = frozenset(HOT_FIELDS)


def parse_chengyu_html(
    html: str,
    url: Optional[str] = None,
    fields: Optional[tuple] = None,
    fast: bool = True,
) -> dict:
    fset = frozenset(ALL_FIELDS if fields is None else fields)
    try:
        if fast and fset == _HOT_FSET:
            # guarded flat-scan extraction of exactly the HOT fields;
            # None on any page it cannot prove simple → the DOM parse
            # below. Field semantics mirrored and fuzz-pinned
            # (kgpipe/parse/fastterm.py, tests/test_fastterm.py)
            data = fast_hot_chengyu(html)
            if data is not None:
                return {"url": url, "data": data}
        doc = parse_html(html)
        data: dict = {}

        if "chengyu" in fset:
            h1 = doc.find("h1")
            if h1:
                data["chengyu"] = h1.get_text().strip()

        if "pinyin" in fset:
            ci_title = doc.find("div", class_="ci-title")
            if ci_title:
                pinyin_div = ci_title.find("div", class_="pinyin")
                if pinyin_div:
                    spans = pinyin_div.find_all("span")
                    data["pinyin"] = " ".join(s.get_text().strip() for s in spans)

        if fset & {"zhuyin", "emotion", "synonyms", "antonyms"}:
            ci_attrs = doc.find("div", class_="ci-attrs")
            if ci_attrs:
                for p in ci_attrs.find_all("p"):
                    p_text = p.get_text().strip()
                    if "zhuyin" in fset and "注音" in p_text:
                        m = _ZHUYIN_RE.search(p_text)
                        if m:
                            data["zhuyin"] = m.group(1).strip()
                    if "emotion" in fset and "感情" in p_text:
                        link = p.find("a")
                        if link:
                            data["emotion"] = link.get_text().strip()
                    if "synonyms" in fset and "近义词" in p_text:
                        data["synonyms"] = [a.get_text().strip() for a in p.find_all("a")]
                    if "antonyms" in fset and "反义词" in p_text:
                        data["antonyms"] = [a.get_text().strip() for a in p.find_all("a")]

        if fset & {"explanation", "source", "usage", "example"}:
            ci_content = doc.find("div", class_="ci-content")
            if ci_content:
                if "explanation" in fset:
                    primary = ci_content.find("p", class_="explain primary")
                    if primary:
                        btn = primary.find("button", class_="btn-copy")
                        if btn:
                            btn.decompose()
                        data["explanation"] = primary.get_text().strip()

                if fset & {"source", "usage", "example"}:
                    for p in ci_content.find_all("p", class_="ext"):
                        p_text = p.get_text().strip()
                        if "出处" in p_text:
                            m = _SOURCE_RE.search(p_text)
                            if m and "source" in fset:
                                data["source"] = m.group(1).strip()
                        elif "用法" in p_text:
                            m = _USAGE_RE.search(p_text)
                            if m and "usage" in fset:
                                data["usage"] = m.group(1).strip()
                        elif "例子" in p_text:
                            m = _EXAMPLE_RE.search(p_text)
                            if m and "example" in fset:
                                data["example"] = m.group(1).strip()

        if "translation" in fset:
            ci_fanyi = doc.find("ol", class_="ci-fanyi")
            if ci_fanyi:
                items = []
                for li in ci_fanyi.find_all("li"):
                    label = li.find("label")
                    if label:
                        language = label.get_text().strip()
                        label.decompose()
                        items.append(f"{language}: {li.get_text().strip()}")
                data["translation"] = "; ".join(items)

        return {"url": url, "data": data}
    except Exception as exc:  # mirrors the reference's blanket error record
        return {"url": url, "error": f"HTML parse failed: {exc}"}
