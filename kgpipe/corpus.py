# -*- coding: utf-8 -*-
"""Deterministic synthetic corpus generator.

Emits an Iceberg-shaped ``corpus(repo, path, commit, lang, content)`` table
whose HTML pages follow the site dialect the reference parses
(FIXTURES.md §1): three page families

  * ``chengyu/<idiom>``   — idiom detail pages  (extract_chengyu.py:62-176 dialect)
  * ``cidian/<word>``     — word detail pages   (extract_ciyu.py:73-132 dialect)
  * ``zidian/zi-<dec>``   — character pages with all seven data-id sections

plus the ``seed_entities`` universe (replacing the reference's Neo4j seed
scans — chengyu_neo4j.py:21-42) and a sha256(content) manifest enforcing
the per-row invariant from BASELINE.json.

Everything is seeded and pure: same (seed, sizes) → byte-identical pages.
The ``scale`` knob replicates entities with suffixed surface forms so the
triple set stays derivable at bench sizes (FIXTURES.md §4).

Deliberate edge cases baked in (FIXTURES.md §2-3):
  * seeds with no page (missing_detail_pages path),
  * a page whose <h1> mismatches its seed (validation P13),
  * whitespace-variant seed names (normalization ``replace(" ","")``),
  * a synonym cycle A↔B↔C, an antonym pair shared by two heads,
  * a head-skew character (一) contained in many words,
  * a variant chain of length ≥ 3 (connected components must merge it),
  * evolution sections in both quoted and unquoted attribute styles.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

REPO = "hanyuguoxue"
COMMIT = "synthetic-v1"

# Head-skew characters: 一 and 不 dominate composed-of mentions
HEAD_CHARS = ["一", "不"]  # 一 不
SMOKE_CHARS = ["王", "玉", "中", "大"]  # 王 玉 中 大

_INITIALS = ["b", "p", "m", "f", "d", "t", "n", "l", "g", "k", "h", "j", "q", "x", "zh", "ch", "sh", "r", "z", "c", "s", "w", "y"]
_FINALS = ["a", "o", "e", "i", "u", "ai", "ei", "ao", "ou", "an", "en", "ang", "eng", "ong"]
_TONED = {"a": "áàǎā", "o": "óòǒō", "e": "éèěē", "i": "íìǐī", "u": "úùǔū"}
_ZHUYIN = "ㄅㄆㄇㄈㄉㄊㄋㄌㄍㄎㄏㄐㄑㄒㄓㄔㄕㄖㄗㄘㄙ"
_RADICALS = ["王", "木", "水", "火", "土", "口", "日", "月", "人", "心"]
_EMOTIONS = ["褒义", "贬义", "中性"]
_POS = ["名词", "动词", "形容词", "副词"]
_PERIODS = ["商", "西周", "春秋", "战国", "秦", "汉"]
_STYLES = ["甲骨文", "金文", "小篆", "隶书", "楷书"]


def _pinyin(rng: random.Random) -> tuple[str, str]:
    ini = rng.choice(_INITIALS)
    fin = rng.choice(_FINALS)
    tone = rng.randrange(4)
    syl = ini + fin
    for vowel in "aoeiu":
        if vowel in syl:
            syl = syl.replace(vowel, _TONED[vowel][tone], 1)
            break
    zy = "".join(rng.choice(_ZHUYIN) for _ in range(2)) + "ˊˇˋˉ"[tone]
    return syl, zy


@dataclass
class HanziSpec:
    char: str
    codepoint: int
    pinyin: list[tuple[str, str]]  # [(pinyin, zhuyin)]
    radical: str
    strokes: int
    variants: list[str] = field(default_factory=list)
    unquoted_evolution: bool = False


@dataclass
class TermSpec:
    name: str  # surface form
    kind: str  # Idiom | Word
    pinyin: str
    zhuyin: str
    synonyms: list[str] = field(default_factory=list)
    antonyms: list[str] = field(default_factory=list)
    emotion: str = ""
    pos: str = ""
    is_common: bool = False
    missing_fields: set = field(default_factory=set)


@dataclass
class Corpus:
    rows: list[dict]  # corpus table rows
    seeds: list[dict]  # seed_entities rows
    manifest: dict  # path -> sha256(content)
    hanzi: list[HanziSpec]
    terms: list[TermSpec]


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# universe construction
# ---------------------------------------------------------------------------

def _build_hanzi(rng: random.Random, n_hanzi: int) -> list[HanziSpec]:
    fixed = HEAD_CHARS + SMOKE_CHARS
    pool: list[int] = [ord(c) for c in fixed]
    seen = set(pool)
    while len(pool) < n_hanzi:
        cp = rng.randrange(0x4E00, 0x9FFF + 1)
        if cp not in seen:
            seen.add(cp)
            pool.append(cp)
    specs = []
    for i, cp in enumerate(pool[:n_hanzi]):
        n_readings = 2 if rng.random() < 0.2 else 1
        specs.append(
            HanziSpec(
                char=chr(cp),
                codepoint=cp,
                pinyin=[_pinyin(rng) for _ in range(n_readings)],
                radical=_RADICALS[i % len(_RADICALS)],
                strokes=rng.randrange(1, 30),
                unquoted_evolution=(i % 2 == 0),
            )
        )
    # variant chains: chain of length >=3 among the first chars (王→玉 style),
    # then random pairs. Variants connect transitively via CC.
    if len(specs) >= 3:
        specs[2].variants.append(specs[3].char if len(specs) > 3 else specs[0].char)
        specs[3].variants.append(specs[4].char if len(specs) > 4 else specs[0].char)
    for i in range(6, len(specs) - 1, 17):
        specs[i].variants.append(specs[i + 1].char)
    return specs


def _compose_terms(
    rng: random.Random, hanzi: list[HanziSpec], n_words: int, n_idioms: int, scale: int
) -> list[TermSpec]:
    by_char = {h.char: h for h in hanzi}

    def mk(name_chars: list[str], kind: str) -> TermSpec:
        name = "".join(name_chars)
        pys, zys = [], []
        for c in name_chars:
            h = by_char.get(c)
            if h:
                pys.append(h.pinyin[0][0])
                zys.append(h.pinyin[0][1])
        return TermSpec(
            name=name,
            kind=kind,
            pinyin=" ".join(pys),
            zhuyin=" ".join(zys),
            emotion=rng.choice(_EMOTIONS),
            pos=rng.choice(_POS),
            is_common=rng.random() < 0.5,
        )

    chars = [h.char for h in hanzi]
    terms: list[TermSpec] = []
    names_seen: set[str] = set()

    def push(t: TermSpec) -> None:
        if t.name not in names_seen:
            names_seen.add(t.name)
            terms.append(t)

    # head-skew: many words containing 一 (FIXTURES.md §3.2 skew check)
    for _ in range(max(4, n_words // 5)):
        push(mk([HEAD_CHARS[0], rng.choice(chars)], "Word"))
    while sum(1 for t in terms if t.kind == "Word") < n_words:
        k = rng.choice([2, 2, 2, 3])
        push(mk([rng.choice(chars) for _ in range(k)], "Word"))
    while sum(1 for t in terms if t.kind == "Idiom") < n_idioms:
        push(mk([rng.choice(chars) for _ in range(4)], "Idiom"))

    # relations within kind
    words = [t for t in terms if t.kind == "Word"]
    idioms = [t for t in terms if t.kind == "Idiom"]
    for group in (words, idioms):
        if len(group) >= 3:
            a, b, c = group[0], group[1], group[2]
            # synonym cycle A↔B↔C
            a.synonyms.append(b.name)
            b.synonyms.append(c.name)
            c.synonyms.append(a.name)
        if len(group) >= 5:
            # antonym pair shared across two head words (dedup check)
            group[3].antonyms.append(group[4].name)
            group[4].antonyms.append(group[3].name)
            group[0].antonyms.append(group[4].name)
        for t in group[5:]:
            if rng.random() < 0.6:
                t.synonyms.append(rng.choice(group).name)
            if rng.random() < 0.3:
                t.antonyms.append(rng.choice(group).name)
            if rng.random() < 0.1:
                t.synonyms.append(t.name)  # self-loop — must be dropped (J3)
            if rng.random() < 0.15:
                t.missing_fields.add(rng.choice(["zhuyin", "emotion", "source", "usage"]))

    # scale-up: clone entities with suffixed surface forms; clone relations
    # point within the clone generation so triples stay derivable
    if scale > 1:
        base = list(terms)
        for g in range(1, scale):
            sfx = f"之{g}"
            for t in base:
                clone = TermSpec(
                    name=t.name + sfx,
                    kind=t.kind,
                    pinyin=t.pinyin,
                    zhuyin=t.zhuyin,
                    synonyms=[s + sfx for s in t.synonyms],
                    antonyms=[a + sfx for a in t.antonyms],
                    emotion=t.emotion,
                    pos=t.pos,
                    is_common=t.is_common,
                    missing_fields=set(t.missing_fields),
                )
                push(clone)
    return terms


# ---------------------------------------------------------------------------
# page rendering (site dialect)
# ---------------------------------------------------------------------------

def render_chengyu_page(t: TermSpec) -> str:
    syn = "".join(f'<a href="/chengyu/{s}">{s}</a>' for s in t.synonyms)
    ant = "".join(f'<a href="/chengyu/{a}">{a}</a>' for a in t.antonyms)
    py_spans = "".join(f"<span>{p}</span>" for p in t.pinyin.split())
    parts = [
        '<html><body><div class="ci-title"><h1>%s</h1><div class="pinyin">%s</div></div>' % (t.name, py_spans),
        '<div class="ci-attrs">',
    ]
    if "zhuyin" not in t.missing_fields:
        parts.append(f"<p>注音：{t.zhuyin}</p>")
    if "emotion" not in t.missing_fields:
        parts.append(f'<p>感情：<a href="/e">{t.emotion}</a></p>')
    if t.synonyms:
        parts.append(f"<p>近义词：{syn}</p>")
    if t.antonyms:
        parts.append(f"<p>反义词：{ant}</p>")
    parts.append("</div>")
    parts.append(
        '<div class="ci-content">'
        f'<p class="explain primary">形容{t.name}的样子。<button class="btn-copy">复制</button></p>'
    )
    if "source" not in t.missing_fields:
        parts.append(f'<p class="ext">出处：《{t.name[0]}书》："{t.name}"。</p>')
    if "usage" not in t.missing_fields:
        parts.append(f'<p class="ext">用法：作谓语；指{t.name[:2]}。</p>')
    parts.append(f'<p class="ext">例子：他真是{t.name}。</p></div>')
    parts.append(
        '<ol class="ci-fanyi">'
        f"<li><label>英语</label>like {t.pinyin}</li>"
        f"<li><label>法语</label>comme {t.pinyin}</li></ol>"
    )
    parts.append("</body></html>")
    return "".join(parts)


def render_ciyu_page(t: TermSpec) -> str:
    py_spans = "".join(f"<span>{p}</span>" for p in t.pinyin.split())
    tag = '<div class="ci-tag">常用词</div>' if t.is_common else '<div class="ci-tag">词语</div>'
    syn = "".join(f'<a href="/cidian/{s}">{s}</a>' for s in t.synonyms)
    ant = "".join(f'<a href="/cidian/{a}">{a}</a>' for a in t.antonyms)
    parts = [
        '<html><body><div class="ci-title-wrap"><h1>%s</h1><div class="pinyin">%s</div>%s</div>' % (t.name, py_spans, tag),
        '<div class="ci-attrs">',
        f"<p><label>拼音</label><span>{t.pinyin}</span></p>",
    ]
    if "zhuyin" not in t.missing_fields:
        parts.append(f"<p><label>注音</label><span>{t.zhuyin}</span></p>")
    parts.append(f"<p><label>词性</label><span>{t.pos}</span></p>")
    if t.synonyms:
        parts.append(f'<p><label>近义词</label><span class="ci-list">{syn}</span></p>')
    if t.antonyms:
        parts.append(f'<p><label>反义词</label><span class="ci-list">{ant}</span></p>')
    parts.append("</div>")
    parts.append(
        f"<div><h3>网络解释</h3></div><div>{t.name} 是一个汉语词语，意思是{t.name}。</div>"
    )
    parts.append("</body></html>")
    return "".join(parts)


def _voice(py: str, zy: str, i: int) -> str:
    return (
        f'<span class="voice" data-voice="{py}{i}.mp3">'
        f'<em class="py">{py}</em> <em class="zy">{zy}</em></span>'
    )


def render_hanzi_page(h: HanziSpec) -> str:
    voices = " ".join(_voice(p, z, i + 1) for i, (p, z) in enumerate(h.pinyin))
    variants_html = " 、 ".join(
        f'<a class="primary" href="/zidian/zi-{ord(v)}"> {v} </a>' for v in h.variants
    )
    variant_p = (
        f'<p class="w-100"><label>异体字</label> <span class="font-18">{variants_html}</span></p>'
        if h.variants
        else ""
    )
    basic = (
        f'<div class="card" data-id="基本信息"><div class="zi-title">'
        f"<div class=\"zi-title-main\"><h2>{h.char}</h2></div>"
        f'<div class="pinyin"><p>{voices}</p></div>'
        f'<div class="zi-title-extra"><span>{h.radical}部</span><span>共{h.strokes}画</span>'
        f'<span>独体字</span><span class="unicode">U+{h.codepoint:04X}</span><span>CJK 基本汉字</span></div>'
        f'<div class="zi-tags"><a class="badge" href="/t1">常用字</a><a class="badge" href="/t2">通用字</a></div>'
        f'<div class="zi-category">汉语字典</div></div>'
        f'<div class="zi-attrs"><div class="zi-attrs-list">'
        f'<p><label>部首</label> <span> <a class="primary" href="/zidian/bushou-{ord(h.radical)}">{h.radical}部</a> </span></p>'
        f'<p><label>总笔画</label> <span> <a class="primary" href="/zidian/bihua-{h.strokes}">{h.strokes}画</a> </span></p>'
        f"<p><label>结构</label> <span>独体字</span></p>"
        f"<p><label>五行</label> <span>土</span></p>"
        f"<p><label>统一码</label> <span>U+{h.codepoint:04X}</span></p>"
        f'<p class="bishun"><label>笔画</label> <span> <em>1121</em> <em>横、横、竖、横</em> </span></p>'
        f"{variant_p}"
        f"</div></div></div>"
    )
    py0, zy0 = h.pinyin[0]
    gaishu = (
        f'<div class="card" data-id="概述"><div class="content-card-header"><h2 id="gaishu">{h.char}字概述</h2></div>'
        f'<div class="content-card-body"><div class="zi-summary">'
        f"<p>〔{h.char}〕字拼音是（{py0}），部首是<em>{h.radical}部</em>，总笔画是<em>{h.strokes}画</em>。</p>"
        f"<p>〔{h.char}〕字五行属土。</p>"
        f"</div></div></div>"
    )
    yisi_contents = []
    for i, (py, zy) in enumerate(h.pinyin):
        yisi_contents.append(
            f'<div class="zi-content"><div class="zi-heading main"><h3 class="zi-title">{h.char}</h3>'
            f"<sup>{i + 1}</sup>{_voice(py, zy, i + 1)}</div>"
            f'<div class="zi-heading secondary"><h4 class="mb-0">基本解释</h4></div>'
            f'<div class="zi-basic-explain">'
            f'<p class="explain"><span class="no">①</span><span class="text">{h.char}的基本意思（{py}）。</span>'
            f'<span class="eg"><label>例如</label>～{h.char}。</span></p></div>'
            f'<div class="zi-heading secondary"><h4 class="mb-0">详细解释</h4></div>'
            f'<div class="zi-detail-explain"><p class="cixing">名词</p>'
            f'<p class="explain"><span class="no">1.</span>{h.char}的本义。</p>'
            f'<p class="extra quotes"><label>引证</label><span>古书云{h.char}。 <span class="author">《说文》</span></span></p>'
            f'<p class="extra eg"><label>例如</label><span>{h.char}者。</span></p>'
            f'<p class="extra en"><label>英文</label><span>meaning-{py};</span></p>'
            f'<p class="explain"><span class="no">2.</span>{h.char}的引申义。</p>'
            f"</div></div>"
        )
    yisi = (
        f'<div class="card" data-id="意思"><div class="content-card-header"><h2 id="jieshi">{h.char}的意思</h2></div>'
        f'<div class="content-card-body"><div class="zi-contents">{"".join(yisi_contents)}</div></div></div>'
    )
    fanyi = (
        f'<div class="card" data-id="翻译"><div class="content-card-header"><h2 id="fanyi">{h.char}字的翻译</h2></div>'
        f'<div class="content-card-body"><ol class="zi-fanyi">'
        f'<li><label class="badge">英语</label> meaning of {py0}</li>'
        f'<li><label class="badge">德语</label> Bedeutung  von   {py0}</li>'
        f"</ol></div></div>"
    )
    guoyu_contents = []
    for i, (py, zy) in enumerate(h.pinyin):
        guoyu_contents.append(
            f'<div class="zi-content"><div class="zi-heading main"><h3 class="zi-title">{h.char}</h3>'
            f"<sup>{i + 1}</sup>{_voice(py, zy, i + 1)}</div>"
            f'<div class="zi-detail-explain"><p class="cixing">名</p>'
            f'<p class="explain"><span class="no">1.</span>国语释义{h.char}。</p>'
            f'<p class="extra quotes"><label>引证</label><span>《书经》：{h.char}。</span></p>'
            f"</div></div>"
        )
    guoyu = (
        f'<div class="card" data-id="国语辞典"><div class="content-card-header"><h2 id="gycd">{h.char}的国语辞典解释</h2></div>'
        f'<div class="content-card-body"><div class="zi-contents">{"".join(guoyu_contents)}</div>'
        f'<div class="zi-notes">注：国语辞典来源于台湾重编国语辞典修订本</div></div></div>'
    )
    nav_links = '<a class="active" href="#">全部</a>' + "".join(
        f'<a class="pinyin" href="#">{p}<sup><small>{i + 1}</small></sup></a>'
        for i, (p, z) in enumerate(h.pinyin)
    )
    liangan_contents = []
    for i, (py, zy) in enumerate(h.pinyin):
        liangan_contents.append(
            f'<div class="zi-content"><div class="zi-heading main"><h3 class="zi-title">{h.char}</h3>'
            f"<sup>{i + 1}</sup>{_voice(py, zy, i + 1)}</div>"
            f'<div class="zi-detail-explain">'
            f'<p class="explain"><span class="no">1.</span>两岸释义{h.char}。</p>'
            f'<p class="extra eg"><label>例如</label><span>{h.char}例。</span></p>'
            f"</div></div>"
        )
    liangan = (
        f'<div class="card" data-id="两岸词典"><div class="content-card-header"><h2 id="lacd">{h.char}的两岸词典解释</h2></div>'
        f'<div class="content-card-body">'
        f'<div class="content-nav-list zi-pinyin-nav"><div class="list"><div class="wrap zi-pinyin" data-length="{len(h.pinyin)}">{nav_links}</div></div></div>'
        f'<div class="zi-contents">{"".join(liangan_contents)}</div>'
        f'<div class="zi-notes">注：两岸词典来源于中华文化总会</div></div></div>'
    )
    # evolution: alternate quoted / unquoted attribute styles (P5 tolerance)
    period = _PERIODS[h.codepoint % len(_PERIODS)]
    style = _STYLES[h.codepoint % len(_STYLES)]
    if h.unquoted_evolution:
        evolution = (
            f"<h2 id=zyzx>{h.char}的字源字形</h2><div class=zi-zyxc>"
            f"<p><img alt={period} {style} class=\"lazy\" data-src=//img/{h.codepoint}-1.png>"
            f"<span class=period>{period}</span><span class=style>{style}</span><span class=source>合集</span></p>"
            f"<p><span class=period>孤例</span></p>"
            f"</div>"
        )
    else:
        evolution = (
            f'<h2 id="zyzx">{h.char}的字源字形</h2><div class="zi-zyxc">'
            f'<p><img alt="{period} {style}" src="//img/{h.codepoint}-1.png">'
            f'<span class="period">{period}</span><span class="style">{style}</span><span class="source">合集</span></p>'
            f"</div>"
        )
    return f"<html><body>{basic}{gaishu}{yisi}{fanyi}{guoyu}{liangan}{evolution}</body></html>"


# ---------------------------------------------------------------------------
# realistic page chrome (round 7): the reference crawls a LIVE site whose
# pages carry head/nav/breadcrumb/ad chrome before the content blocks and
# a footer after them — the shape the term flat scan (parse/fastterm.py)
# and the zidian card cut (parse/hanzi.py:_cut_cards) must read without
# a change of output. chrome=True wraps every page in
# deterministic chrome (seeded per path) WITHOUT touching the content
# blocks, so every golden/oracle gate must stay green with it on.
# ---------------------------------------------------------------------------

_CHROME_NAV = "".join(
    f'<li class="nav-item"><a class="nav-link" href="/nav/{i}" title="栏目{i}">栏目{i}</a>'
    '<ul class="dropdown">'
    + "".join(f'<li><a href="/nav/{i}/{j}">子栏{i}-{j}</a></li>' for j in range(4))
    + "</ul></li>"
    for i in range(12)
)
_CHROME_SIDEBAR = "".join(
    f'<li><a href="/hot/{i}" rel="nofollow">热门词条 {i} · 今日推荐</a></li>' for i in range(16)
)
_CHROME_FOOT = "".join(
    '<div class="col"><h5>页脚栏目%d</h5><ul>' % c
    + "".join(f'<li><a href="/foot/{c}/{i}">链接{c}-{i}</a></li>' for i in range(6))
    + "</ul></div>"
    for c in range(4)
)


def _chromify(path: str, page: str) -> str:
    """Wrap a bare '<html><body>…</body></html>' page in realistic site
    chrome: head (title/meta/style/two scripts — one holding
    markup-lookalike strings and a bare '<', the raw-text shapes the
    term flat scan and the card cut's prefix proof must read), a
    two-tier dropdown nav, a breadcrumb with character references, ad
    and sidebar blocks before the content; a multi-column footer after.
    On real dictionary sites this template weighs 3-10x the content
    blocks; here it is ~4 KB against ~0.5 KB of content. Pure function
    of the path, so the sha256 manifest stays exact."""
    h = int(hashlib.md5(path.encode("utf-8")).hexdigest()[:8], 16)
    title = path.rsplit("/", 1)[-1]
    assert page.startswith("<html><body>") and page.endswith("</body></html>")
    body = page[len("<html><body>") : -len("</body></html>")]
    return (
        f'<html><head><meta charset="utf-8"><title>{title} - 汉语国学</title>'
        f'<meta name="keywords" content="{title},词典,汉语"><meta name="description" content="{title}的解释">'
        f'<link rel="canonical" href="https://example.org/{path}">'
        '<style>.topbar{color:#333;display:flex}.dropdown{display:none}.ad{margin:4px}'
        '.crumb{font-size:12px}.sidebar{float:right}.col{width:25%}</style>'
        f"<script>var slot_{h % 997} = '<div class=\"ad\">'; if (2<{h % 7 + 3}) track({h});</script>"
        '<script type="application/ld+json">{"@context":"https://schema.org",'
        f'"@type":"DefinedTerm","name":"{title}","inLanguage":"zh","position":{h % 1000},'
        '"publisher":{"name":"汉语国学","logo":"/img/logo.png"}}</script>'
        '</head><body><header><nav class="topbar"><ul>'
        f"{_CHROME_NAV}</ul></nav>"
        f'<form action="/search" class="searchbox"><input name="q" placeholder="查词"><button>搜索</button></form></header>'
        f'<div class="crumb"><a href="/">首页</a> &gt; <a href="/{path.split("/", 1)[0]}">词典</a> &gt; <a href="/{path}">{title}</a></div>'
        f'<aside class="ad">推广内容 {h % 10000}<img src="/img/ad-{h % 97}.png"></aside>'
        f'<aside class="sidebar"><h4>大家都在查</h4><ul>{_CHROME_SIDEBAR}</ul></aside>'
        f"{body}"
        f'<footer><div class="row">{_CHROME_FOOT}</div>'
        f"<p>© 汉语国学 {2020 + h % 6} · 浙ICP备{h % 100000}号</p></footer>"
        f"<script>window.pv && window.pv.send('{path}', {h % 8191});</script>"
        "</body></html>"
    )


# ---------------------------------------------------------------------------
# top-level generation
# ---------------------------------------------------------------------------

def generate_corpus(
    n_hanzi: int = 40,
    n_words: int = 60,
    n_idioms: int = 40,
    seed: int = 42,
    scale: int = 1,
    chrome: bool = False,
) -> Corpus:
    rng = random.Random(seed)
    hanzi = _build_hanzi(rng, n_hanzi)
    terms = _compose_terms(rng, hanzi, n_words, n_idioms, scale)

    rows: list[dict] = []
    seeds: list[dict] = []

    def add(path: str, content: str) -> None:
        if chrome:
            content = _chromify(path, content)
        rows.append(
            {"repo": REPO, "path": path, "commit": COMMIT, "lang": "html", "content": content}
        )

    for h in hanzi:
        add(f"zidian/zi-{h.codepoint}", render_hanzi_page(h))

    n_missing = 0
    for i, t in enumerate(terms):
        family = "chengyu" if t.kind == "Idiom" else "cidian"
        render = render_chengyu_page if t.kind == "Idiom" else render_ciyu_page
        seeds.append({"name": t.name, "entity_type": t.kind})
        if i % 29 == 7:  # seed with no page → missing_detail_pages
            n_missing += 1
            continue
        if i % 31 == 11:  # page whose <h1> mismatches the seed → linkage miss
            mutated = TermSpec(**{**t.__dict__, "name": t.name + "异"})
            add(f"{family}/{t.name}", render(mutated))
            continue
        add(f"{family}/{t.name}", render(t))
    # whitespace-variant seed: normalization replace(" ","") must link it
    if terms:
        t0 = terms[0]
        seeds.append({"name": t0.name[0] + " " + t0.name[1:], "entity_type": t0.kind})

    manifest = {r["path"]: _sha256(r["content"]) for r in rows}
    return Corpus(rows=rows, seeds=seeds, manifest=manifest, hanzi=hanzi, terms=terms)


def corpus_to_dataframes(spark, corpus: Corpus):
    """(corpus_df, seeds_df) as Spark DataFrames with the declared schemas."""
    from kgpipe.schemas import CORPUS_SCHEMA, SEED_SCHEMA

    corpus_df = spark.createDataFrame(corpus.rows, CORPUS_SCHEMA)
    seeds_df = spark.createDataFrame(corpus.seeds, SEED_SCHEMA)
    return corpus_df, seeds_df


def verify_manifest(spark, corpus_df, manifest: dict) -> int:
    """Row invariant: sha256(content) equality (BASELINE.json input_hint).

    Returns the number of mismatching rows (0 = pass). Runs as one
    distributed aggregation — the manifest is broadcast as a lookup table.
    """
    from pyspark.sql import functions as F

    manifest_df = spark.createDataFrame(
        [(k, v) for k, v in manifest.items()], ["m_path", "m_sha"]
    )
    joined = corpus_df.select(
        "path", F.sha2(F.col("content"), 256).alias("sha")
    ).join(F.broadcast(manifest_df), F.col("path") == F.col("m_path"), "full_outer")
    return joined.where(
        F.col("sha").isNull() | F.col("m_sha").isNull() | (F.col("sha") != F.col("m_sha"))
    ).count()
