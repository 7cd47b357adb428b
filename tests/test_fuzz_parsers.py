# -*- coding: utf-8 -*-
"""Property tests: parsers must never raise on arbitrary input, and the
mini-DOM must uphold its structural invariants (SURVEY.md §5 item 6).

Pure-Python (no Spark session) — these cover the per-document UDF body.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from kgpipe.htmldom import Element, parse_html
from kgpipe.parse.chengyu import parse_chengyu_html
from kgpipe.parse.ciyu import parse_ciyu_html
from kgpipe.parse.hanzi import parse_evolution, parse_hanzi_html

# fragments that bias the fuzzer toward parser-relevant structure
_TOKENS = st.sampled_from(
    [
        "<div class='ci-title'>", "</div>", "<h1>", "</h1>", "<p>", "</p>",
        "<span>", "</span>", "<a href='/x'>", "</a>", "<label>", "</label>",
        "注音：ㄨㄤ", "近义词", "反义词", "感情", "出处：x", "<br>", "&amp;",
        "<div data-id=\"基本信息\">", "<div class=\"zi-title\">", "<h2>王</h2>",
        "<img src=x>", "text 文本", "<p class='explain'>", "<span class='no'>1.</span>",
        "<", ">", "'", '"', "=",
    ]
)
_SOUP = st.lists(_TOKENS, max_size=40).map("".join)


@settings(max_examples=200, deadline=None)
@given(_SOUP)
def test_parsers_never_raise(html):
    for fn in (parse_chengyu_html, parse_ciyu_html, parse_hanzi_html):
        out = fn(html, "p")
        assert isinstance(out, dict) and out.get("url") == "p"
    assert isinstance(parse_evolution(html), list)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_parsers_survive_arbitrary_text(text):
    out = parse_chengyu_html(text, None)
    assert isinstance(out, dict)
    out = parse_hanzi_html(text, "zidian/zi-1")
    assert out["unicode_decimal"] == 1


@settings(max_examples=150, deadline=None)
@given(_SOUP)
def test_dom_structural_invariants(html):
    doc = parse_html(html)
    seen = set()
    for node in doc.iter_descendants():
        assert id(node) not in seen, "cycle in DOM"
        seen.add(id(node))
        if isinstance(node, Element):
            assert node.parent is not None
            assert any(child is node for child in node.parent.children)
    # text round-trip never raises and is a plain string
    assert isinstance(doc.get_text(), str)


@settings(max_examples=150, deadline=None)
@given(
    _SOUP,
    st.sampled_from(["div", "p", "span", "a", "h1", "label", None]),
    st.sampled_from(["ci-title", "explain", "no", "explain primary", None]),
)
def test_root_index_find_matches_dfs(html, tag, cls):
    """Root-level searches served from the build-time tag/class indexes
    must return the IDENTICAL element sequence as the pure-DFS walk —
    including after decompose() detaches candidates (the index is never
    edited; lookups re-verify attachment)."""
    doc = parse_html(html)
    assert doc.class_index is not None  # both build paths populate it

    def both(d):
        via_index = d.find_all(tag, class_=cls)
        saved_t, saved_c = d.tag_index, d.class_index
        d.tag_index = d.class_index = None  # force the DFS path
        try:
            via_dfs = d.find_all(tag, class_=cls)
        finally:
            d.tag_index, d.class_index = saved_t, saved_c
        assert len(via_index) == len(via_dfs)
        for a, b in zip(via_index, via_dfs):
            assert a is b
        return via_index

    hits = both(doc)
    if hits:
        hits[0].decompose()
        both(doc)


@settings(max_examples=100, deadline=None)
@given(_SOUP, st.sampled_from(["div", "p", "span", "a"]))
def test_find_all_consistent_with_find(html, tag):
    doc = parse_html(html)
    all_hits = doc.find_all(tag)
    first = doc.find(tag)
    assert (first is None) == (len(all_hits) == 0)
    if all_hits:
        assert first is all_hits[0]


# card-soup generator: random card blocks (wanted and unwanted ids, some
# nested/truncated markup) — the pruned parse must equal the full-page
# DOM whether or not the card cut is taken
_CARD_BITS = st.sampled_from(
    [
        '<div class="card" data-id="基本信息"><div class="zi-title"><h2>王</h2></div></div>',
        '<div class="card pb-3" data-id="翻译"><ol class="zi-fanyi"><li>英语: king</li></ol></div>',
        '<div class="card" data-id="意思"><p>x</p></div>',
        '<div class="card" data-id="概述">s</div>',
        '<div class="page-head">chrome</div>',
        '<div class="card" data-id="基本信息">',  # truncated card
        "loose text",
        "</div>",
        '<div data-id="翻译">alt-form</div>',
        # non-div scopes that can cross block boundaries — the close-
        # binding divergence channel the kept-card stack check guards
        "<p>",
        "</p>",
        '<span class="x">',
        "</span>",
        '<div class="card" data-id="基本信息"><h2></p>王</div>',
        # ids the DOM reads differently from the marker's raw text: a
        # character reference, and a repeated attribute (last one wins)
        '<div class="card" data-id="&#22522;&#26412;&#20449;&#24687;">'
        '<div class="zi-title"><h2>甲</h2></div></div>',
        '<div class="card" data-id="概述" data-id="基本信息">'
        '<div class="zi-title"><h2>甲</h2></div></div>',
    ]
)
_CARD_SOUP = st.lists(_CARD_BITS, max_size=12).map("".join)
_HOT_SECTIONS = ("basic_info", "fanyi_info")


def _cut_equals_full(html):
    """Assert the pruned parse equals the pruned parse forced onto the
    full-page DOM; return whether the card cut was taken."""
    import kgpipe.parse.hanzi as H

    taken = H._cut_cards(html, _HOT_SECTIONS) is not None
    pruned = parse_hanzi_html(html, "p", sections=_HOT_SECTIONS)
    orig = H._cut_cards
    H._cut_cards = lambda *a, **k: None  # force the full-page DOM
    try:
        full = parse_hanzi_html(html, "p", sections=_HOT_SECTIONS)
    finally:
        H._cut_cards = orig
    assert pruned == full
    return taken


@settings(max_examples=200, deadline=None)
@given(_CARD_SOUP)
def test_slice_cards_never_diverges(html):
    """The card cut is an optimization: for arbitrary card soups,
    including truncated and nested markup, the pruned parse equals the
    full-page DOM's."""
    _cut_equals_full(html)


def test_slice_cards_nested_card_regression():
    """Hypothesis counterexample, pinned: a 基本信息 card NESTING another
    card used to lose its close tags when the nested block was dropped,
    re-rooting a later card inside it. The cut must decline this page:
    the kept card does not drain before the next marker."""
    from kgpipe.parse.hanzi import _cut_cards, parse_hanzi_html

    html = (
        '<div class="card pb-3" data-id="翻译"><ol class="zi-fanyi">'
        "<li>英语: king</li></ol></div>"
        '<div class="card" data-id="基本信息">'
        '<div class="card" data-id="意思"><p>x</p></div></div>'
        '<div class="card" data-id="基本信息"><div class="zi-title">'
        "<h2>王</h2></div></div>"
    )
    assert _cut_cards(html, _HOT_SECTIONS) is None
    out = parse_hanzi_html(html, "p", sections=_HOT_SECTIONS)
    # full-parse semantics: the FIRST 基本信息 card wins and has no title
    assert out["basic_info"] == {"error": "zi-title not found"}


def test_slice_cards_cross_block_close_regression():
    """The dropped page prefix leaves '<p>' open and the KEPT 基本信息
    card carries the stray '</p>' while its own elements are open: in
    the full page that close pops the h2 before 王 arrives ('' full vs
    '王' cut). The kept-card stack check must decline."""
    from kgpipe.parse.hanzi import _cut_cards

    html = (
        "<p>chrome"
        '<div class="card" data-id="基本信息"><div class="zi-title">'
        "<h2></p>王</h2></div></div>"
        '<div class="card pb-3" data-id="翻译"><ol class="zi-fanyi">'
        "<li>英语: king</li></ol></div>"
    )
    assert _cut_cards(html, _HOT_SECTIONS) is None
    out = parse_hanzi_html(html, "p", sections=_HOT_SECTIONS)
    # full-parse semantics: '</p>' pops the h2 before 王 arrives
    assert out["basic_info"].get("data", {}).get("character") != "王"


def test_slice_cards_dropped_residue_still_slices():
    """The drain requirement applies to KEPT cards only: a DROPPED card
    leaving an element open (residue) merely deepens where later cards
    attach — invisible to the kept subtrees — so the page must still be
    cut, and the cut parse must equal the full parse."""
    from kgpipe.parse.hanzi import _cut_cards

    html = (
        '<div class="card" data-id="概述"><p>summary</div>'  # p residue, dropped
        '<div class="card" data-id="基本信息"><div class="zi-title">'
        "<h2>王</h2></div></div>"
        '<div class="card pb-3" data-id="翻译"><ol class="zi-fanyi">'
        "<li>英语: king</li></ol></div>"
    )
    assert _cut_cards(html, _HOT_SECTIONS) is not None
    assert _cut_equals_full(html)
    out = parse_hanzi_html(html, "p", sections=_HOT_SECTIONS)
    assert out["basic_info"]["data"]["character"] == "王"


def test_card_cut_mutation_fuzz_never_diverges():
    """Random edits of real-shaped zidian pages, bare and chromed: the
    pruned parse equals the full-page DOM's, and the edits that keep
    the page strict still take the cut."""
    import random

    from kgpipe.corpus import generate_corpus

    pages = [
        r["content"]
        for chrome in (False, True)
        for r in generate_corpus(n_hanzi=8, n_words=0, n_idioms=0, seed=42, chrome=chrome).rows
        if r["path"].startswith("zidian/")
    ]
    muts = [
        "<p>", "</p>", "<div>", "</div>", "<span>", "</span>", "</br>", "<br>",
        "<DIV>", "<a href='x'>", "< 3", "&amp;", "<!-- c -->", "<!--", "-->",
        "<!x>", "<![CDATA[x]]>", "<?pi?>", "<script>", "</script>",
        "<script>a<b</script>", "<script>x</scriptx>", "<style>", '"', "=",
        'data-id', ' data-id="基本信息"', '<div class="card" data-id="基本信息">',
        '<div data-id="翻译">', '<div data-id="&#32763;&#35793;">',
        '<div foo-data-id="基本信息">', '<DIV data-id="基本信息">',
        '<div class="zi-title"><h2>甲</h2></div>', "<h2>", "</h2>",
        '<ol class="zi-fanyi"><li>英语: x</li></ol>', "<li>", "</li>",
        '<label class="badge">法语</label>',
    ]
    rng = random.Random(5)
    taken = 0
    for _ in range(600):
        html = rng.choice(pages)
        for _k in range(rng.randint(1, 3)):
            i = rng.randrange(len(html) + 1)
            html = html[:i] + rng.choice(muts) + html[i:]
        taken += _cut_equals_full(html)
    assert taken > 0


_FANYI_CARD = (
    '<div class="card pb-3" data-id="翻译"><ol class="zi-fanyi">'
    "<li>英语: king</li></ol></div>"
)


def _assert_pruned_reads_full_dom(html):
    # the unpruned parse never cuts (its sections are not all cut-safe)
    pruned = parse_hanzi_html(html, "zidian/zi-1", sections=_HOT_SECTIONS)
    full = parse_hanzi_html(html, "zidian/zi-1")
    assert full["basic_info"]["data"]["character"] == "甲"
    for k in ("url", "unicode_decimal", "basic_info", "fanyi_info"):
        assert pruned[k] == full[k], k


def test_cut_cards_encoded_card_id_regression():
    """The DOM resolves character references in attribute values, so a
    first card whose data-id is '基本信息' spelled as references IS the
    基本信息 card; the cut must not skip it for the later literal one."""
    _assert_pruned_reads_full_dom(
        '<div class="card" data-id="&#22522;&#26412;&#20449;&#24687;">'
        '<div class="zi-title"><h2>甲</h2></div></div>'
        '<div class="card" data-id="基本信息"><div class="zi-title"><h2>乙</h2></div></div>'
        + _FANYI_CARD
    )


def test_cut_cards_repeated_card_id_regression():
    """A repeated attribute's last value wins in the DOM, so a first card
    marked data-id="概述" data-id="基本信息" IS the 基本信息 card; the cut
    must not read it as 概述 and skip it for the later one."""
    _assert_pruned_reads_full_dom(
        '<div class="card" data-id="概述" data-id="基本信息">'
        '<div class="zi-title"><h2>甲</h2></div></div>'
        '<div class="card" data-id="基本信息"><div class="zi-title"><h2>乙</h2></div></div>'
        + _FANYI_CARD
    )


# ---------------------------------------------------------------------------
# pure-expression properties of the round-5 corpus operators, checked on
# their Python-side building blocks (no Spark session needed here): the
# PII rule set itself must be well-formed and deterministic
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_pii_rules_are_total_and_idempotent(text):
    """The PII regex chain must (a) never raise on arbitrary text under
    BOTH regex engines it targets (Python re stands in for the Java∩RE2
    subset), (b) be idempotent — scrubbing already-scrubbed text changes
    nothing (placeholders contain no digits/@, so no rule re-fires)."""
    import re as _re

    from kgpipe.ops.textops import PII_RULES

    out = text
    for pat, repl in PII_RULES:
        out = _re.sub(pat, repl, out)
    again = out
    for pat, repl in PII_RULES:
        again = _re.sub(pat, repl, again)
    assert again == out


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1000, 9999),
    st.integers(1, 12),
    st.integers(1, 28),
    st.integers(0, 23),
    st.integers(0, 59),
    st.integers(0, 16 ** 8 - 1),
)
def test_pii_phone_rules_spare_digit_bearing_non_phones(y, mo, d, h, mi, hx):
    """VERDICT r5: the tightened phone rules require a phone SHAPE, so
    years, space-separated date-times, ISBNs, 16-digit ids and
    hex-embedded digit runs all survive the scrub unchanged."""
    import re as _re

    from kgpipe.ops.textops import PII_RULES

    text = (
        f"in {y}, logged {y} {mo:02d} {d:02d} {h:02d} {mi:02d}, "
        f"isbn 978-0-306-40615-7, id 1234567890123456, "
        f"ref {hx:08x}deadbeef1234567"
    )
    out = text
    for pat, repl in PII_RULES:
        out = _re.sub(pat, repl, out)
    assert out == text


def test_pii_parenthesized_phone_and_precise_variant():
    """Round 7 (VERDICT r6 #6): the parenthesized NANP form redacts;
    parenthesized years/dates survive; the PRECISE rule set drops the
    bare digit-run rule so order ids / 8-digit dates survive while
    every separator-bearing phone form still redacts."""
    import re as _re

    from kgpipe.ops.textops import PII_RULES, PII_RULES_PRECISE

    def scrub(text, rules):
        for pat, repl in rules:
            text = _re.sub(pat, repl, text)
        return text

    assert scrub("call (555) 123-4567 now", PII_RULES) == "call <PHONE> now"
    assert scrub("call (555)123-4567 now", PII_RULES) == "call <PHONE> now"
    assert scrub("(2026) was the year 08 17", PII_RULES) == "(2026) was the year 08 17"
    # recall-biased default redacts the bare run; PRECISE spares it
    assert scrub("order 20260817 shipped", PII_RULES) == "order <PHONE> shipped"
    assert scrub("order 20260817 shipped", PII_RULES_PRECISE) == "order 20260817 shipped"
    for phone in ("+1 555 123 4567", "(555) 123-4567", "555-123-4567"):
        assert "<PHONE>" in scrub(f"at {phone}.", PII_RULES_PRECISE), phone


# ---------------------------------------------------------------------------
# term pages: the flat scan (fast=True) must equal the DOM parse
# (fast=False) at the hot fields, or decline — on chrome + page soups
# and on garbage
# ---------------------------------------------------------------------------

_CHROME = st.sampled_from(
    [
        "",
        "<html><head><title>站点</title><script>var nav = '<div>';</script></head><body>",
        '<!DOCTYPE html><html><head><meta charset="utf-8">'
        "<style>.a{color:#333}</style></head><body>",
        '<div id="page"><nav class="topbar"><ul><li><a href="/">首页</a></li></ul></nav>',
        '<header><div class="banner"><img src=/logo.png></div></header>'
        "<!-- ad slot --><aside>推广内容 123</aside>",
        '<div class="crumb"><a href="/">首页</a> &gt; <a href="/c" title="词&amp;典">词典</a></div>',
        # chrome carrying the content's own markers: the first match wins
        "<header><h1>站点标题</h1></header>",
        '<div class="promo">关于 ci-title 的说明</div>',  # marker substring in text
        "<script>if (a<b) document.write('<div class=\"ci-attrs\">');</script>",
        "<H1>UPPER</H1><div>x</div>",
        "<!-- <div class='ci-content'> commented out -->",
        # unclosed chrome elements whose close tags land in the content
        "<p>",
        "<div><p>intro",
        "<ul><li>菜单",
    ]
)

_TERM_BITS = st.sampled_from(
    [
        '<div class="ci-title"><h1>一心一意</h1><div class="pinyin"><span>yī</span></div></div>',
        '<div class="ci-title-wrap"><h1>学习</h1><div class="pinyin"><span>xué</span></div>'
        '<div class="ci-tag">常用词</div></div>',
        '<div class="ci-attrs"><p>注音：ㄧ</p><p>感情：<a href="/e">褒义</a></p>'
        '<p>近义词：<a href="/a">全心全意</a></p></div>',
        '<div class="ci-attrs"><p><label>拼音</label><span>xué xí</span></p>'
        '<p><label>近义词</label><span class="ci-list"><a href="/s">研习</a></span></p></div>',
        '<div class="ci-content"><p class="explain primary">形容专心。'
        '<button class="btn-copy">复制</button></p><p class="ext">出处：《书》。</p></div>',
        '<ol class="ci-fanyi"><li><label>英语</label>wholeheartedly</li></ol>',
        '<div><h3>网络解释</h3></div><div>一心一意 是成语。</div>',
        '<div class="chrome-banner"><ul><li>广告</li></ul></div>',
        "<script>var x = '<div class=\"ci-title\">';</script>",
        '<div class="ci-content">',  # truncated block
        "</div>",
        "</body>",  # stray close
        "<p>",
        "</p>",
        "<!-- ci-attrs in a comment -->",
        "loose 文本",
        "a &lt;b&gt; &amp;c",
        '<div class="wrap"><div class="ci-attrs"><p>注音：ㄨ</p></div>',  # unclosed
    ]
)
_TERM_SOUP = st.lists(_TERM_BITS, max_size=10).map("".join)


def _fast_equals_dom(html):
    import kgpipe.parse.chengyu as C
    import kgpipe.parse.ciyu as Y

    for fn, hot in ((C.parse_chengyu_html, C.HOT_FIELDS), (Y.parse_ciyu_html, Y.HOT_FIELDS)):
        assert fn(html, "p", fields=hot, fast=True) == fn(html, "p", fields=hot, fast=False)


@settings(max_examples=200, deadline=None)
@given(_CHROME, _SOUP)
def test_term_slice_never_diverges(chrome, soup):
    """Named for the deleted term-page slicer these strategies were
    written against: any chrome + parser-token soup parses identically
    through the flat scan and the DOM, at the hot fields of both
    families."""
    _fast_equals_dom(chrome + soup)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="<>/&=\"' cih1-титle网络解释divattrs!-", max_size=120))
def test_term_slice_never_diverges_garbage(text):
    _fast_equals_dom(text)


def test_term_slice_prefix_close_binding_regression():
    """Hypothesis counterexample, pinned: a '<p>' opened in the chrome
    whose '</p>' lands inside the content closes the <div>/<h1> opened
    after it, so the h1 is empty when the text arrives. The flat scan
    must decline the page (the DOM parse decides) and agree with it."""
    from kgpipe.parse import fastterm

    html = "<p><div class='ci-title'><h1></p>注音：ㄨㄤ"
    assert fastterm.fast_hot_chengyu(html) is None
    assert fastterm.fast_hot_ciyu(html) is None
    _fast_equals_dom(html)
    assert parse_chengyu_html(html, "p")["data"]["chengyu"] == ""


@settings(max_examples=300, deadline=None)
@given(_CHROME, _TERM_SOUP)
def test_term_interior_slice_never_diverges(chrome, soup):
    """Same property as test_term_slice_never_diverges over soups of
    whole and truncated term-page blocks."""
    _fast_equals_dom(chrome + soup)


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet="<>/&=\"' cih13-title网络解释divbodyattrs!-;#gtscrp", max_size=160))
def test_term_interior_slice_never_diverges_garbage(text):
    _fast_equals_dom(text)


@settings(max_examples=300, deadline=None)
@given(_CHROME, _CARD_SOUP)
def test_card_cut_never_diverges_under_chrome(chrome, soup):
    """Any chrome + card soup: the pruned parse equals the full-page
    DOM's, cut or not."""
    _cut_equals_full(chrome + soup)
