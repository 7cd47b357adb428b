# -*- coding: utf-8 -*-
"""Fast term-field extraction (kgpipe/parse/fastterm.py) — the flat-scan
HOT-fields path must produce EXACTLY the DOM path's output or decline.

Three layers:
  * full-corpus sweeps (bare + chromed generator modes) comparing
    ``fast=True`` vs ``fast=False`` end to end;
  * randomized mutation fuzz — entities, comments, declarations,
    uppercase tags, stray ``<``, unclosed/nested tags, raw-text scripts
    with look-alike or missing closes spliced into bare and chromed
    pages: on every mutant the two paths must still agree (the fast path
    is free to decline, never to diverge);
  * targeted adversarial fixtures for the trickiest mirrored semantics
    (nested spans, label decompose, Element.string single-child descent,
    select() identity dedup, find_next_sibling skipping text).
"""

import random

from kgpipe.corpus import generate_corpus
from kgpipe.parse import fastterm
from kgpipe.parse.chengyu import HOT_FIELDS as CY_HOT
from kgpipe.parse.chengyu import parse_chengyu_html
from kgpipe.parse.ciyu import HOT_FIELDS as CI_HOT
from kgpipe.parse.ciyu import parse_ciyu_html

_FAMS = {
    "chengyu": (parse_chengyu_html, CY_HOT),
    "cidian": (parse_ciyu_html, CI_HOT),
}


def _pages(corpus, fam):
    return [
        (r["path"], r["content"])
        for r in corpus.rows
        if r["path"].startswith(fam + "/")
    ]


def test_fastterm_equals_dom_on_corpus():
    bare = generate_corpus(n_hanzi=20, n_words=60, n_idioms=40, seed=42, scale=3)
    chromed = generate_corpus(n_hanzi=10, n_words=40, n_idioms=30, seed=42, chrome=True)
    for corpus in (bare, chromed):
        for fam, (fn, hot) in _FAMS.items():
            for p, h in _pages(corpus, fam):
                assert fn(h, p, fields=hot, fast=True) == fn(
                    h, p, fields=hot, fast=False
                ), p


def test_fastterm_mutation_fuzz_never_diverges():
    bare = generate_corpus(n_hanzi=10, n_words=40, n_idioms=30, seed=42)
    chromed = generate_corpus(n_hanzi=10, n_words=40, n_idioms=30, seed=42, chrome=True)
    pages = [
        (p, h)
        for corpus in (bare, chromed)
        for fam in _FAMS
        for p, h in _pages(corpus, fam)
    ]
    muts = [
        "&amp;", "&#65;", "<!-- c -->", "<DIV>", "<span>", "</span>", "<p >",
        "<a href='x'>", "<br>", "<img src=\"y\"/>", "< 3", "\x00", "<li>",
        "<script>var a=1<2;</script>", "</div>", "<label>近义词</label>",
        "<b>近</b>义词", "<span class=\"ci-list\">", "近义词",
        "<ol class=\"ci-fanyi\"><li><label>x</label>y</li></ol>",
        "<div class=\"ci-attrs\">", "<h1></h1>", "<span a=1>",
        # chrome constructs: declarations, raw text with a missing or
        # look-alike close, uppercase raw tags, references in attributes
        "<!DOCTYPE html>", "<script>", "</scriptx>", "<SCRIPT>",
        "<script>x</scriptx>", "<style>a<b</style>", "<!-- <h1>x</h1> -->",
        "<a title=\"x&gt;y\">", "<span class=\"ci-list&#32;z\">", "&#1;",
    ]
    rng = random.Random(11)
    for _ in range(1500):
        p, h = pages[rng.randrange(len(pages))]
        h2_pos = rng.randrange(len(h))
        h2 = h[:h2_pos] + rng.choice(muts) + h[h2_pos:]
        fam = "chengyu" if p.startswith("chengyu/") else "cidian"
        fn, hot = _FAMS[fam]
        assert fn(h2, p, fields=hot, fast=True) == fn(h2, p, fields=hot, fast=False)


def _both_chengyu(html):
    return (
        parse_chengyu_html(html, "u", fields=CY_HOT, fast=True),
        parse_chengyu_html(html, "u", fields=CY_HOT, fast=False),
    )


def _both_ciyu(html):
    return (
        parse_ciyu_html(html, "u", fields=CI_HOT, fast=True),
        parse_ciyu_html(html, "u", fields=CI_HOT, fast=False),
    )


def test_fastterm_adversarial_fixtures():
    cases_cy = [
        # nested spans in the pinyin div: outer text includes inner (DOM
        # find_all returns both)
        '<div class="ci-title"><div class="pinyin"><span>a<span>b</span></span></div></div>',
        # li without label contributes no translation item; label
        # decompose removes only the FIRST label
        '<ol class="ci-fanyi"><li>no label</li>'
        '<li><label>en</label> one <label>x</label> two</li></ol>',
        # keyword split across tags still matches on concatenated text
        '<div class="ci-attrs"><p>近<b>义词</b>：<a href="/x">甲</a></p></div>',
        # first h1 wins; whitespace preserved then stripped once
        "<h1>  好 词  </h1><h1>second</h1>",
        # empty span text still joined (chengyu keeps empties)
        '<div class="ci-title"><div class="pinyin"><span></span><span>b</span></div></div>',
        # decompose cross-iteration rules (both directions, fuzz-found):
        # a label consumed by an outer li is invisible to later lis that
        # reach it through the tree...
        '<ol class="ci-fanyi"><li><li><label>en</label>one</li><li><label>fr</label>two</li></ol>',
        # ...but an li INSIDE a detached subtree still sees its own label
        '<ol class="ci-fanyi"><li><label>fr<ol class="ci-fanyi">'
        '<li><label>x</label>y</li></ol></label>rest</li></ol>',
        # multi-token class attribute matches by membership
        '<div class="x ci-attrs y"><p>反义词：<a>乙</a></p></div>',
    ]
    for html in cases_cy:
        a, b = _both_chengyu(html)
        assert a == b, html
    cases_ci = [
        # Element.string: label with nested single-child chain matches;
        # label with two children does not
        '<div class="ci-attrs"><p><label><b>拼音</b></label><span>pí</span></p></div>',
        '<div class="ci-attrs"><p><label>拼<b>音</b></label><span>no</span></p></div>',
        # find_next_sibling skips text and non-span elements
        '<div class="ci-attrs"><p><label>拼音</label> text <i>x</i> <span>yīn</span></p></div>',
        # select("span.ci-list a"): nested ci-list spans dedup anchors
        '<div class="ci-attrs"><p><label>近义词</label>'
        '<span class="ci-list"><span class="ci-list"><a>甲</a></span><a>乙</a></span></p></div>',
        # empty anchor texts dropped (ciyu filters empties)
        '<div class="ci-attrs"><p><label>反义词</label>'
        '<span class="ci-list"><a></a><a>丙</a></span></p></div>',
        # ci-title-wrap pinyin overridden by the 拼音 label span
        '<div class="ci-title-wrap"><h1>词</h1><div class="pinyin"><span>x</span></div></div>'
        '<div class="ci-attrs"><p><label>拼音</label><span>yī</span></p></div>',
    ]
    for html in cases_ci:
        a, b = _both_ciyu(html)
        assert a == b, html


def test_fastterm_declines_are_conservative():
    """Inputs outside the precondition must decline (return None from the
    flat scan), never guess."""
    for html in (
        "<H1>upper</H1>",
        "<h1>a < b</h1>",
        "<h1 a='x'>single-quoted</h1>",
        "<SCRIPT>x</SCRIPT><h1>x</h1>",
        "<script>x</scriptx><h1>x</h1>",  # look-alike raw-text close
        "<h1>x</h1><script>unterminated",
        "<!-- unterminated <h1>x</h1>",
        "<![CDATA[x]]><h1>x</h1>",
        "<?php x ?><h1>x</h1>",
    ):
        assert fastterm.fast_hot_chengyu(html) is None, html
    # ...and the parser still answers correctly through the DOM path
    out = parse_chengyu_html("<h1>a < b</h1>", "u", fields=CY_HOT)
    assert out["data"]["chengyu"] == "a < b"


def test_fastterm_reads_chrome_constructs():
    """The constructs of a live page's chrome are inside the precondition
    and read as the DOM reads them: references resolved in text and
    attribute values, comments and declarations dropped, script/style
    raw text kept verbatim up to the strict close tag."""
    html = (
        '<!DOCTYPE html><html><head><script>var s = "<h1>no</h1>&amp;";</script>'
        "<style>p>a{}</style></head><body><!-- <h1>no</h1> -->"
        "<h1>a &amp; b<!-- c --> &#x4e00;</h1>"
        '<div class="ci-attrs"><p>近义词：<a title="x&gt;y">甲&lt;</a></p></div>'
        "</body></html>"
    )
    fast = fastterm.fast_hot_chengyu(html)
    assert fast == {"chengyu": "a & b 一", "synonyms": ["甲<"]}
    assert fast == parse_chengyu_html(html, "u", fields=CY_HOT, fast=False)["data"]
    # a character reference that makes an attribute's class list
    ciyu = (
        '<div class="ci-attrs"><p><label>近义词</label>'
        '<span class="ci-list&#32;x"><a>乙</a></span></p></div>'
    )
    assert fastterm.fast_hot_ciyu(ciyu)["synonyms"] == ["乙"]
    a, b = _both_ciyu(ciyu)
    assert a == b
