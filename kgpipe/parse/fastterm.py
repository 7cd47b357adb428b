# -*- coding: utf-8 -*-
"""Guarded fast extraction of the HOT term fields.

The term parse floor is DOM construction: ``parse_html`` builds Element
objects + find-indexes for every node although the KG hot path reads
five chengyu / four ciyu fields. This module extracts exactly those
fields from one C-speed regex token scan over the page — **declining to
the DOM path on any input it cannot prove simple**, the contract the
fast scanner (htmldom) and the zidian card cut (parse/hanzi.py) also
follow; the card cut proves its regions against the same strict markup
defined here:

  * a strict precondition on every ``<``: it opens a lowercase tag with
    double-quoted (or valueless) attributes, a strict lowercase close
    tag, a comment, or a ``<!…>`` declaration such as ``<!DOCTYPE>``;
  * the constructs a live page's chrome carries get exactly the
    semantics ``htmldom._fast_parse`` gives them, with its own rules
    (``_RAW_END``, ``_ENDTAGFIND``, ``_COMMENT_CLOSE``, ``html.unescape``):
    ``script``/``style`` raw text runs to the strict close tag and is not
    unescaped; comments and declarations are dropped, splitting the text
    around them; character references resolve in text and attribute
    values;
  * the token stream is folded into flat event arrays (open/close/text
    with parent and extent links) replicating html.parser's close-tag
    recovery, void elements and self-closing tags exactly as
    ``htmldom._fast_parse`` does;
  * the per-field extraction mirrors ``parse_chengyu_html`` /
    ``parse_ciyu_html`` line by line (document-preorder ``find``,
    word-based class matching, ``get_text`` raw vs ``strip=True``
    variants, ``Element.string`` single-child descent,
    ``find_next_sibling``, ``select`` stage order + identity dedup,
    first-label ``decompose``);
  * ANY surprise — a literal ``<``, an uppercase tag, a single-quoted
    attribute, a processing instruction or marked section, a raw-text
    look-alike or missing close, an unterminated comment, an exception —
    returns None and the caller falls back to the full DOM parse.

Equality fast-vs-DOM is pinned by tests over the bare and chromed
corpora, randomized mutation fuzz and hypothesis chrome + soup fuzz
(tests/test_fastterm.py, tests/test_fuzz_parsers.py); the golden P/R
gate and the kg oracles gate the end-to-end result.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Optional

from kgpipe.htmldom import _COMMENT_CLOSE, _ENDTAGFIND, _RAW_END, VOID_ELEMENTS

#: Strict markup, each construct written once as the pattern that
#: follows its '<', spanning exactly what htmldom._fast_parse consumes
#: for it. The term flat scan (``_TOKEN_RE``) and the zidian card cut
#: (``hanzi._STRICT_TOKEN``) are both built from these.
#:   * a lowercase close tag; group: name;
#:   * a lowercase open tag whose attribute values are double-quoted and
#:     hold no '<' or '>'; groups: name, attribute blob, self-close
#:     slash (always participates, even when empty);
#:   * a comment opener, whose span ends at html.parser's commentclose;
#:   * a ``<!…>`` declaration: neither a comment nor a marked section.
STRICT_CLOSE = r"/([a-z][a-z0-9]*+)\s*+>"
STRICT_ATTRS = r"(?:\s++[a-z][a-z0-9-]*+(?:=\"[^\"<>]*+\")?+)*+"
STRICT_OPEN = r"([a-z][a-z0-9]*+)(%s)\s*+(/?)>" % STRICT_ATTRS
STRICT_COMMENT = r"!--"
STRICT_DECL = r"!(?!\[|--)[^>]*+>"

#: one match per '<'. Groups: 1=close-tag name; 2=open-tag name, 3=attrs
#: blob, 4=self-close slash (lastindex==4 marks an open tag); 5=comment
#: opener (span finished with _COMMENT_CLOSE); 6=declaration. The empty
#: last alternative takes any other '<' with lastindex None: a decline.
_TOKEN_RE = re.compile(
    "<(?:%s|%s|(%s)|(%s)|)" % (STRICT_CLOSE, STRICT_OPEN, STRICT_COMMENT, STRICT_DECL)
)
_ATTR_RE = re.compile(r"([a-z][a-z0-9-]*)(?:=\"([^\"]*)\")?")

_OPEN, _TEXT = 0, 2


class _Events:
    """Flat token-scan of a precondition-checked page.

    kinds[i] ∈ {_OPEN, _TEXT}; payload[i] = tag name or text;
    attrblob[i] = raw attribute string for opens; parent[i] = index of
    the enclosing open (-1 for root); close[i] = exclusive extent end
    (index into the event list) for opens.
    """

    __slots__ = ("kinds", "payload", "attrblob", "parent", "close", "_attrs_cache")

    def __init__(self, html: str):
        kinds: list = []
        payload: list = []
        attrblob: list = []
        parent: list = []
        close: list = []
        stack: list = []  # (event_index, tag)
        top = -1  # event index of the innermost open element, -1 at root
        append_k, append_p, append_a, append_par, append_c = (
            kinds.append, payload.append, attrblob.append, parent.append, close.append
        )
        search = _TOKEN_RE.search
        pos = 0
        end = len(html)
        while pos < end:
            m = search(html, pos)
            s = end if m is None else m.start()
            if s > pos:
                # one text node per run between constructs, as
                # _fast_parse builds it (resolved, even to '')
                t = html[pos:s]
                append_k(_TEXT)
                append_p(unescape(t) if "&" in t else t)
                append_a(None)
                append_par(top)
                append_c(0)
            if m is None:
                break
            pos = m.end()
            kind = m.lastindex
            if kind == 4:  # open tag
                tag, blob, slash = m.group(2, 3, 4)
                idx = len(kinds)
                append_k(_OPEN)
                append_p(tag)
                append_a(blob)
                append_par(top)
                append_c(idx + 1)  # provisional: empty extent
                if slash or tag in VOID_ELEMENTS:
                    continue
                if tag in _RAW_END:
                    # raw text up to the strict close tag, not resolved;
                    # a look-alike first close or none at all declines
                    em = _RAW_END[tag].search(html, pos)
                    if em is None:
                        raise _Decline
                    gm = _ENDTAGFIND.match(html, em.start())
                    if gm is None or gm.group(1).lower() != tag:
                        raise _Decline
                    if em.start() > pos:
                        append_k(_TEXT)
                        append_p(html[pos : em.start()])
                        append_a(None)
                        append_par(idx)
                        append_c(0)
                    close[idx] = len(kinds)
                    pos = gm.end()
                else:
                    stack.append((idx, tag))
                    top = idx
            elif kind == 1:
                # close tag: html.parser recovery — pop to the matching
                # open (closing everything above it); ignore if unmatched
                ctag = m.group(1)
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i][1] == ctag:
                        here = len(kinds)
                        for j in range(len(stack) - 1, i - 1, -1):
                            close[stack[j][0]] = here
                        del stack[i:]
                        top = stack[-1][0] if stack else -1
                        break
            elif kind == 5:  # comment: dropped up to its close
                cm = _COMMENT_CLOSE.search(html, pos)
                if cm is None:
                    raise _Decline
                pos = cm.end()
            elif kind != 6:  # a '<' outside the precondition
                raise _Decline
        n_events = len(kinds)
        for idx, _tag in stack:
            close[idx] = n_events
        self.kinds = kinds
        self.payload = payload
        self.attrblob = attrblob
        self.parent = parent
        self.close = close
        self._attrs_cache: dict = {}

    # -- attribute / class helpers -------------------------------------
    def attrs(self, i: int) -> dict:
        d = self._attrs_cache.get(i)
        if d is None:
            # last duplicate wins; a valueless attribute reads ''
            blob = self.attrblob[i]
            d = dict(_ATTR_RE.findall(blob))
            if "&" in blob:
                d = {k: unescape(v) for k, v in d.items()}
            self._attrs_cache[i] = d
        return d

    def has_class(self, i: int, token: str) -> bool:
        cls = self.attrs(i).get("class")
        return cls is not None and token in cls.split()

    # -- queries (all preorder == event order) --------------------------
    def find_open(self, tag: str, cls: Optional[str] = None,
                  start: int = 0, end: Optional[int] = None) -> int:
        kinds, payload = self.kinds, self.payload
        if end is None:
            end = len(kinds)
        for i in range(start, end):
            if kinds[i] == _OPEN and payload[i] == tag and (
                cls is None or self.has_class(i, cls)
            ):
                return i
        return -1

    def all_opens(self, tag: str, start: int, end: int) -> list:
        kinds, payload = self.kinds, self.payload
        return [i for i in range(start, end)
                if kinds[i] == _OPEN and payload[i] == tag]

    def text_raw(self, i: int, skips: Optional[list] = None) -> str:
        """get_text() of open i — raw concatenation of text events in
        its extent; ``skips`` is a list of (s, e) sub-extents to exclude
        (decomposed subtrees)."""
        kinds, payload = self.kinds, self.payload
        parts = []
        j = i + 1
        end = self.close[i]
        while j < end:
            if skips:
                hit = False
                for s, e in skips:
                    if s <= j < e:
                        j = e
                        hit = True
                        break
                if hit:
                    continue
            if kinds[j] == _TEXT:
                parts.append(payload[j])
            j += 1
        return "".join(parts)

    def text_stripjoin(self, i: int) -> str:
        """get_text(strip=True) of open i — per-text-node strip, empties
        dropped, '' separator."""
        kinds, payload = self.kinds, self.payload
        parts = []
        for j in range(i + 1, self.close[i]):
            if kinds[j] == _TEXT:
                s = payload[j].strip()
                if s:
                    parts.append(s)
        return "".join(parts)

    def string_of(self, i: int) -> Optional[str]:
        """Element.string: descend through single-child elements to the
        lone TextNode; None when any level has ≠1 child."""
        while True:
            kids = [j for j in range(i + 1, self.close[i]) if self.parent[j] == i]
            if len(kids) != 1:
                return None
            k = kids[0]
            if self.kinds[k] == _TEXT:
                return self.payload[k]
            i = k

    def next_sibling_open(self, i: int, tag: str) -> int:
        p = self.parent[i]
        end = self.close[p] if p >= 0 else len(self.kinds)
        for j in range(self.close[i], end):
            if self.kinds[j] == _OPEN and self.parent[j] == p and self.payload[j] == tag:
                return j
        return -1


class _Decline(Exception):
    pass


def fast_hot_chengyu(html: str) -> Optional[dict]:
    """HOT_FIELDS extraction (chengyu, pinyin, synonyms, antonyms,
    translation) mirroring parse_chengyu_html over the same input; None
    to decline."""
    try:
        ev = _Events(html)
        data: dict = {}
        h1 = ev.find_open("h1")
        if h1 >= 0:
            data["chengyu"] = ev.text_raw(h1).strip()

        ci_title = ev.find_open("div", "ci-title")
        if ci_title >= 0:
            pinyin_div = ev.find_open("div", "pinyin", ci_title + 1, ev.close[ci_title])
            if pinyin_div >= 0:
                spans = ev.all_opens("span", pinyin_div + 1, ev.close[pinyin_div])
                data["pinyin"] = " ".join(ev.text_raw(s).strip() for s in spans)

        ci_attrs = ev.find_open("div", "ci-attrs")
        if ci_attrs >= 0:
            for p in ev.all_opens("p", ci_attrs + 1, ev.close[ci_attrs]):
                p_text = ev.text_raw(p).strip()
                if "近义词" in p_text:
                    data["synonyms"] = [
                        ev.text_raw(a).strip()
                        for a in ev.all_opens("a", p + 1, ev.close[p])
                    ]
                if "反义词" in p_text:
                    data["antonyms"] = [
                        ev.text_raw(a).strip()
                        for a in ev.all_opens("a", p + 1, ev.close[p])
                    ]

        ci_fanyi = ev.find_open("ol", "ci-fanyi")
        if ci_fanyi >= 0:
            items = []
            # label.decompose() in the DOM path mutates the tree: a label
            # consumed by one li is invisible to LATER traversals that
            # pass through its (former) parent — but a traversal that
            # STARTS INSIDE the detached subtree still sees its own
            # children. Replicate with a removed-extent list where a
            # removal applies to a node's query only when nested
            # STRICTLY WITHIN that node's extent (both rules were pinned
            # by mutation-fuzz divergences on nested <li>/<ol> mutants).
            removed: list = []
            for li in ev.all_opens("li", ci_fanyi + 1, ev.close[ci_fanyi]):
                li_end = ev.close[li]
                eff = [r for r in removed if li < r[0] and r[1] <= li_end]
                label = -1
                for cand in ev.all_opens("label", li + 1, li_end):
                    if not any(s <= cand < e for s, e in eff):
                        label = cand
                        break
                if label >= 0:
                    lab_end = ev.close[label]
                    lab_eff = [r for r in eff if label < r[0] and r[1] <= lab_end]
                    language = ev.text_raw(label, skips=lab_eff).strip()
                    removed.append((label, lab_end))
                    eff.append((label, lab_end))
                    rest = ev.text_raw(li, skips=eff).strip()
                    items.append(f"{language}: {rest}")
            data["translation"] = "; ".join(items)
        return data
    except _Decline:
        return None
    except Exception:
        return None  # any surprise: let the DOM path decide


def fast_hot_ciyu(html: str) -> Optional[dict]:
    """HOT_FIELDS extraction (word, pinyin, synonyms, antonyms)
    mirroring parse_ciyu_html over the same input; None to decline."""
    try:
        ev = _Events(html)
        data: dict = {}
        title_wrap = ev.find_open("div", "ci-title-wrap")
        if title_wrap >= 0:
            tw_end = ev.close[title_wrap]
            h1 = ev.find_open("h1", None, title_wrap + 1, tw_end)
            if h1 >= 0:
                data["word"] = ev.text_stripjoin(h1)
            pinyin_div = ev.find_open("div", "pinyin", title_wrap + 1, tw_end)
            if pinyin_div >= 0:
                spans = ev.all_opens("span", pinyin_div + 1, ev.close[pinyin_div])
                data["pinyin"] = " ".join(
                    s for s in (ev.text_stripjoin(x) for x in spans) if s
                )

        ci_attrs = ev.find_open("div", "ci-attrs")
        if ci_attrs >= 0:
            ca_end = ev.close[ci_attrs]

            def _label_with_string(text: str) -> int:
                for i in ev.all_opens("label", ci_attrs + 1, ca_end):
                    if ev.string_of(i) == text:
                        return i
                return -1

            lab = _label_with_string("拼音")
            if lab >= 0:
                span = ev.next_sibling_open(lab, "span")
                if span >= 0:
                    data["pinyin"] = ev.text_stripjoin(span)

            for label_text, field in (("近义词", "synonyms"), ("反义词", "antonyms")):
                lab = _label_with_string(label_text)
                out: list = []
                if lab >= 0 and ev.parent[lab] >= 0:
                    par = ev.parent[lab]
                    seen = set()
                    lists = [
                        i for i in ev.all_opens("span", par + 1, ev.close[par])
                        if ev.has_class(i, "ci-list")
                    ]
                    anchors = []
                    for sp in lists:
                        for a in ev.all_opens("a", sp + 1, ev.close[sp]):
                            if a not in seen:
                                seen.add(a)
                                anchors.append(a)
                    out = [t for t in (ev.text_stripjoin(a) for a in anchors) if t]
                data[field] = out
        return data
    except _Decline:
        return None
    except Exception:
        return None
