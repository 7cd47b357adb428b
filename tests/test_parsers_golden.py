# -*- coding: utf-8 -*-
"""Golden parser tests.

Two layers (SURVEY.md §5):
  1. Reference-fixture goldens — the reference repo embeds real HTML
     fragments for 王 (U+738B) in each hanzi parser's test function;
     when the reference checkout is present we extract those fragments
     and assert our parsers produce the documented values.
  2. Self-contained goldens — handcrafted pages in the same dialect with
     literal expected structs (run everywhere).
"""

import os
import re

import pytest

from kgpipe.htmldom import parse_html
from kgpipe.parse import hanzi as H
from kgpipe.parse.chengyu import parse_chengyu_html
from kgpipe.parse.ciyu import parse_ciyu_html

REF = "/root/reference"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present"
)


def _ref_fixture(path: str) -> str:
    src = open(os.path.join(REF, path), encoding="utf-8").read()
    m = re.search(r"(?:test_html|html_fragment)\s*=\s*'''(.*?)'''", src, re.DOTALL)
    return m.group(1)


# ---------------------------------------------------------------------------
# layer 1: reference-embedded 王 fixtures
# ---------------------------------------------------------------------------


@needs_reference
def test_basic_info_golden_wang():
    data = H.parse_basic_info(parse_html(_ref_fixture("hanzi/extract_basic_info.py")))["data"]
    assert data["character"] == "王"
    assert data["pinyin_info"] == [
        {"pinyin": "wáng", "zhuyin": "ㄨㄤˊ", "audio_file": "wang2.mp3"},
        {"pinyin": "wàng", "zhuyin": "ㄨㄤˋ", "audio_file": "wang4.mp3"},
    ]
    # '王部' ends with 部 so the reference's own rule skips it (:57)
    assert "bushou" not in data
    assert data["bihua_count"] == "共4画"
    assert data["character_type"] == "独体字"
    assert data["unicode_basic"] == "U+738B"
    assert data["character_set"] == "CJK 基本汉字"
    assert data["tags"] == ["最常用字", "一级汉字", "常用字", "通用字", "独体字"]
    assert data["category"] == "汉语字典"
    assert data["bushou_detail"] == {"text": "王部", "link": "/zidian/bushou-29579"}
    assert data["total_strokes"] == {"text": "4画", "link": "/zidian/bihua-4"}
    assert data["structure"] == "独体字"
    assert data["formation_method"] == "会意字"
    assert data["five_elements"] == "土"
    assert data["wubi"] == "GGGG"
    assert data["cangjie"] == "MG"
    assert data["zhengma"] == "CA"
    assert data["sijiaohaoma"] == "10104"
    assert data["telegraph_code"] == "3769"
    assert data["zone_code"] == "4585"
    assert data["unicode_full"] == "U+738B"
    # fixture has a single <em> in the 笔画 span → reference rule needs ≥2
    assert "stroke_order" not in data
    assert [v["character"] for v in data["variant_characters"]] == [
        "玉", "𠙻", "𠰶", "𡭤", "𤤇", "𥝍",
    ]
    assert data["variant_characters"][0]["url"] == "/zidian/zi-29577"


@needs_reference
def test_gaishu_golden_wang():
    data = H.parse_gaishu(parse_html(_ref_fixture("hanzi/extract_gaishu.py")))["data"]
    assert data["title"] == "王字概述"
    assert len(data["summary_info"]) == 7
    assert data["summary_info"][0]["full_text"].startswith("〔王〕字是多音字")


@needs_reference
def test_yisi_golden_wang():
    data = H.parse_yisi(parse_html(_ref_fixture("hanzi/extract_yisi.py")))["data"]
    assert data["title"] == "王的意思"
    assert len(data["explanations"]) == 2
    r0, r1 = data["explanations"]
    assert r0["character"] == "王"
    assert r0["pinyin_info"] == [{"pinyin": "wáng", "zhuyin": "ㄨㄤˊ", "audio_file": "wang2.mp3"}]
    assert len(r0["basic_explanation"]) == 5
    assert r0["basic_explanation"][0]["number"] == "①"
    assert r0["basic_explanation"][0]["explanation"] == "古代一国君主的称号，现代有些国家仍用这种称号。"
    assert len(r0["detailed_explanation"]) == 12
    d1 = r0["detailed_explanation"][1]
    assert d1["cixing"] == "名词"
    assert d1["number"] == "2."
    assert d1["quotes"].startswith("溥天之下，莫非王土。")
    assert d1["english"] == "emperor; monarch;"
    # first explain has no extras of its own
    assert r0["detailed_explanation"][0]["quotes"] == ""
    assert r1["pinyin_info"][0]["pinyin"] == "wàng"
    assert len(r1["basic_explanation"]) == 1
    assert len(r1["detailed_explanation"]) == 4
    assert r1["detailed_explanation"][0]["cixing"] == "动词"


@needs_reference
def test_fanyi_golden_wang():
    data = H.parse_fanyi(parse_html(_ref_fixture("hanzi/extract_fanyi.py")))["data"]
    assert data["title"] == "王字的翻译"
    assert data["translations"] == [
        {"language": "英语", "translation": "king, ruler; royal; surname"},
        {"language": "德语", "translation": "Radikal Nr. 96 , König (S)"},
        {"language": "法语", "translation": "roi, prince, (nom de famille)​, régner sur"},
    ]


@needs_reference
def test_guoyu_golden_wang():
    data = H.parse_guoyu(parse_html(_ref_fixture("hanzi/extract_guoyu.py")))["data"]
    assert data["title"] == "王的国语辞典解释"
    assert data["notes"] == "注：国语辞典来源于台湾重编国语辞典修订本"
    readings = data["main_content"]
    assert [c["pinyin_info"]["pinyin"] for c in readings] == ["wáng", "yù", "wàng"]
    assert [len(c["detailed_explanations"]) for c in readings] == [8, 1, 2]
    e0 = readings[0]["detailed_explanations"][0]
    assert e0["cixing"] == "名" and e0["number"] == "1."
    assert e0["quotes"] == "《书经 · 洪范》：“天子作民父母，以为天下王。”"
    assert e0["examples"] == "君王、帝王、国王。"
    # cixing switches 名 → 动 → 形 through the reading
    assert readings[0]["detailed_explanations"][6]["cixing"] == "动"
    assert readings[0]["detailed_explanations"][7]["cixing"] == "形"


@needs_reference
def test_liangan_golden_wang():
    data = H.parse_liangan(parse_html(_ref_fixture("hanzi/extract_liangan.py")))["data"]
    assert data["title"] == "王的两岸词典解释"
    nav = data["pinyin_navigation"]
    assert nav["pinyin_count"] == "2"
    assert nav["pinyin_list"][0] == {"type": "全部", "pinyin": "全部", "index": "", "active": True}
    assert nav["pinyin_list"][1]["pinyin"] == "wáng" and nav["pinyin_list"][1]["index"] == "1"
    readings = data["main_content"]
    assert [c["index"] for c in readings] == ["1", "2"]
    assert [len(c["detailed_explanations"]) for c in readings] == [6, 2]
    assert readings[0]["detailed_explanations"][0]["examples"] == "君王、国王、帝王。"


# ---------------------------------------------------------------------------
# layer 2: self-contained goldens
# ---------------------------------------------------------------------------

CHENGYU_HTML = """<html><body>
<div class="ci-title"><h1>一字千金</h1><div class="pinyin"><span>yī</span><span>zì</span><span>qiān</span><span>jīn</span></div></div>
<div class="ci-attrs">
<p>注音：ㄧ ㄗˋ ㄑㄧㄢ ㄐㄧㄣ</p>
<p>感情：<a href="/e">褒义</a></p>
<p>近义词：<a>一字千钧</a><a>字字珠玑</a></p>
<p>反义词：<a>一文不值</a></p>
</div>
<div class="ci-content">
<p class="explain primary">称赞文辞精妙。<button class="btn-copy">复制</button></p>
<p class="ext">出处：《史记》。</p>
<p class="ext">用法：作定语。</p>
<p class="ext">例子：这文章真是一字千金。</p>
</div>
<ol class="ci-fanyi"><li><label>英语</label>one word worth gold</li><li><label>德语</label>Goldwort</li></ol>
</body></html>"""


def test_chengyu_parser_golden():
    out = parse_chengyu_html(CHENGYU_HTML, "chengyu/一字千金")
    assert out["url"] == "chengyu/一字千金"
    d = out["data"]
    assert d["chengyu"] == "一字千金"
    assert d["pinyin"] == "yī zì qiān jīn"
    assert d["zhuyin"] == "ㄧ ㄗˋ ㄑㄧㄢ ㄐㄧㄣ"
    assert d["emotion"] == "褒义"
    assert d["synonyms"] == ["一字千钧", "字字珠玑"]
    assert d["antonyms"] == ["一文不值"]
    assert d["explanation"] == "称赞文辞精妙。"  # btn-copy removed
    assert d["source"] == "《史记》。"
    assert d["usage"] == "作定语。"
    assert d["example"] == "这文章真是一字千金。"
    assert d["translation"] == "英语: one word worth gold; 德语: Goldwort"


CIYU_HTML = """<html><body>
<div class="ci-title-wrap"><h1>学习</h1><div class="pinyin"><span>xué</span><span>xí</span></div><div class="ci-tag">常用词</div></div>
<div class="ci-attrs">
<p><label>拼音</label><span>xué xí</span></p>
<p><label>注音</label><span>ㄒㄩㄝˊ ㄒㄧˊ</span></p>
<p><label>词性</label><span>动词</span></p>
<p><label>近义词</label><span class="ci-list"><a>进修</a><a></a><a>研习</a></span></p>
<p><label>反义词</label><span class="ci-list"><a>荒废</a></span></p>
</div>
<div><h3>网络解释</h3></div><div>学习  是获取 知识的过程。</div>
</body></html>"""


def test_ciyu_parser_golden():
    d = parse_ciyu_html(CIYU_HTML, "cidian/学习")["data"]
    assert d["word"] == "学习"
    assert d["pinyin"] == "xué xí"  # label override path (:101-106)
    assert d["is_common"] is True
    assert d["zhuyin"] == "ㄒㄩㄝˊ ㄒㄧˊ"
    assert d["part_of_speech"] == "动词"
    assert d["synonyms"] == ["进修", "研习"]  # empty <a> dropped (:70)
    assert d["antonyms"] == ["荒废"]
    # get_text(' ', strip=True): fragments stripped at ends only, internal
    # whitespace within one text node preserved (bs4 semantics)
    assert d["definition"] == "学习  是获取 知识的过程。"


def test_ciyu_not_common():
    d = parse_ciyu_html(CIYU_HTML.replace("常用词", "词语"), None)["data"]
    assert d["is_common"] is False


def test_evolution_quoted_and_unquoted():
    quoted = (
        '<h2 id="zyzx">中的字源字形</h2><div class="zi-zyxc">'
        '<p><img alt="商 甲骨文" src="//img/1.png"><span class="period">商</span>'
        '<span class="style">甲骨文</span><span class="source">合集</span></p></div>'
    )
    unquoted = (
        "<h2 id=zyzx>中的字源字形</h2><div class=zi-zyxc>"
        "<p><img alt=商 甲骨文 class=\"lazy\" data-src=//img/2.png>"
        "<span class=period>商</span><span class=style>甲骨文</span><span class=source>合集</span></p>"
        "<p><span class=period>无图跳过</span></p></div>"
    )
    q = H.parse_evolution(quoted)
    u = H.parse_evolution(unquoted)
    assert q == [
        {"character": "中", "image_url": "//img/1.png", "alt": "商 甲骨文",
         "period": "商", "style": "甲骨文", "source": "合集"}
    ]
    assert len(u) == 1  # image-less <p> skipped (hanyuguoxue.py:226-228)
    assert u[0]["image_url"] == "//img/2.png"
    assert u[0]["alt"] == "商 甲骨文"


def test_parse_failure_shape():
    out = parse_chengyu_html(None, "x")  # type: ignore[arg-type]
    assert out["url"] == "x" and "error" in out


def test_codepoint_from_path():
    assert H.codepoint_from_path("zidian/zi-29579") == 29579
    assert H.codepoint_from_path("cidian/foo") is None


def test_pruned_slice_equals_full_parse(small_corpus):
    """The card cut (_cut_cards) must be output-invariant — the pruned
    parse over the cut page equals the full parse restricted to the
    pruned sections — and taken on every synthetic zidian page, bare and
    chromed: a silent decline only slows the parse, which no equality
    check would show."""
    from kgpipe.corpus import generate_corpus

    chromed = generate_corpus(n_hanzi=20, n_words=0, n_idioms=0, seed=42, chrome=True)
    for corpus in (small_corpus, chromed):
        pages = [
            (r["path"], r["content"])
            for r in corpus.rows
            if r["path"].startswith("zidian/")
        ]
        assert pages
        for p, html in pages:
            assert H._cut_cards(html, ("basic_info", "fanyi_info")) is not None, p
            pruned = H.parse_hanzi_html(html, p, sections=("basic_info", "fanyi_info"))
            full = H.parse_hanzi_html(html, p)
            for k in ("url", "unicode_decimal", "basic_info", "fanyi_info"):
                assert pruned.get(k) == full.get(k), (p, k)


@needs_reference
def test_pruned_slice_on_reference_card_markup():
    """The card cut must handle REAL hanyuguoxue card markup (class
    lists with extra tokens: <div class="card pb-3" data-id=...>): wrap
    the reference's embedded 王 basic_info card into a multi-card page
    and check the cut pruned parse equals the full parse."""
    card = _ref_fixture("hanzi/extract_basic_info.py")
    page = (
        '<html><body><div class="page-head">chrome</div>'
        + card
        + '<div class="card pb-3" data-id="意思"><div class="content-card-body">x</div></div>'
        + '<div class="card pb-3" data-id="翻译"><div class="content-card-body">'
        + '<ol class="zi-fanyi"><li>英语: king</li></ol></div></div>'
        + "</body></html>"
    )
    cut = H._cut_cards(page, ("basic_info", "fanyi_info"))
    assert cut is not None and 'data-id="意思"' not in cut
    pruned = H.parse_hanzi_html(page, "zidian/zi-29579", sections=("basic_info", "fanyi_info"))
    full = H.parse_hanzi_html(page, "zidian/zi-29579")
    assert pruned["basic_info"] == full["basic_info"]
    assert pruned["fanyi_info"] == full["fanyi_info"]
    assert pruned["basic_info"]["data"]["character"] == "王"
    # a page missing a wanted card falls back (None) — never mis-cuts
    assert H._cut_cards("<html><p>no cards</p></html>", ("basic_info",)) is None
