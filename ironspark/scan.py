"""Single-pass HTML scanner — the hot-path extraction core.

One linear scan per page replaces the three ``html.parser`` tree passes
the spiders used to run (article parse + article text + link harvest),
which profiling showed dominated crawl CPU (the 8v32 scaling ceiling:
463 -> 2,135 parse CPU-seconds, BENCH_SCALING.json). The scanner keeps
only a stack of open tag NAMES (no node objects) and emits exactly the
three artifacts the spiders need:

* text of the FIRST ``<article>`` element (all descendant text nodes in
  document order, charrefs converted, script/style content raw),
* text of that article's first DIRECT-child ``<author>`` element,
* every non-empty ``<a href>`` value in document order.

Token-level semantics are defined by ``ironspark.extract``'s
``html.parser``-based implementations (kept there as the executable
spec, ``*_spec``); tests/test_scan_parity.py asserts equality across
the corpus grammar, the reference fixtures, adversarial inputs, and
hypothesis-generated soup. Spec behaviors this mirrors (probed against
CPython's HTMLParser with ``convert_charrefs=True``):

* end tags pop to the INNERMOST matching open element (everything
  above is discarded from the open stack, reference tree-builder
  semantics) — a stray end tag with no open match is ignored;
* void elements and ``<x/>`` self-closing tags never push;
* ``<script>/<style>`` switch to CDATA mode: content up to the
  matching end tag is ONE raw text node (no charref conversion, no tag
  parsing); unterminated CDATA at EOF is dropped;
* comments / ``<!...>`` declarations / ``<?...>`` PIs produce nothing;
* a start tag whose attributes cannot be parsed (unmatched quote)
  degrades to DATA up to and including the first ``>``;
* ``<`` not opening a valid construct — including any construct left
  unterminated at EOF — is emitted as the text ``"<"`` and scanning
  resumes at the next character (HTMLParser's close() flush);
* charrefs are converted in data and in href values (``html.unescape``,
  which HTMLParser itself calls).

Reference parity target: the extraction contract of
``examples/basic_spider.rs:32-66`` (first <article>, direct-child
<author>, descendant text in document order).
"""

from __future__ import annotations

import re
from html import unescape

# void elements never take children (mirrors extract._VOID)
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

_TAG_RE = re.compile(r"<(/?)([a-zA-Z][^\t\n\r\f />\x00]*)")
# the spec's own tolerant tag grammar — start-tag end location and
# attribute parsing MUST match html.parser bit-for-bit, so use its
# compiled module regexes directly; fall back to verbatim copies of the
# CPython 3.11 definitions if a future stdlib renames the internals
try:  # noqa: SIM105
    from html.parser import attrfind_tolerant as _ATTR_RE  # noqa: E402
    from html.parser import (  # noqa: E402
        locatestarttagend_tolerant as _LOCATE_RE,
    )
    from html.parser import tagfind_tolerant as _TAGFIND_RE  # noqa: E402
except ImportError:  # pragma: no cover — pinned stdlib in this container
    _ATTR_RE = re.compile(
        r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
        r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*'
    )
    _LOCATE_RE = re.compile(
        r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
         (?:\s*,)*                   # possibly followed by a comma
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
        re.VERBOSE,
    )
    _TAGFIND_RE = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")

# html.parser's set_cdata_mode (3.11.7) grammar is r'</\s*{tag}\s*>':
# CDATA ends only at a COMPLETE end tag (whitespace allowed around the
# name — '</ script >' ends CDATA; '</script foo>' is data and CDATA
# continues; an unterminated '</script' at EOF never ends it)
_CDATA_END = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}

# the spec's end-tag grammar (html.parser endtagfind): whitespace is
# allowed between '</' and the name, so '</ article>' closes article
try:  # noqa: SIM105
    from html.parser import endtagfind as _ENDTAG_RE  # noqa: E402
except ImportError:  # pragma: no cover — pinned stdlib in this container
    _ENDTAG_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")

# marked sections (<![CDATA[..]]>, <![if ..]>): _markupbase grammar
_DECLNAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MS_CLOSE = re.compile(r"]\s*]\s*>")   # cdata/temp/ignore/include/rcdata
_MS_MSCLOSE = re.compile(r"]\s*>")     # if/else/endif (MS extension)
_MS_BRACKET = {"cdata", "temp", "ignore", "include", "rcdata"}
_MS_MS = {"if", "else", "endif"}


class _SpecParseError(Exception):
    """The spec parser RAISES on some junk (<![unknown]>); the tree
    builders catch Exception and fail the whole parse — mirror that."""


# ---------------------------------------------------------------------------
# Fast front-ends (round 7). ``_scan`` below remains the referee
# implementation; the two tiers here are exact-or-bail accelerators:
#
# * tier 1 ``_scan_simple``: pages whose WHOLE structure is
#   text(tag text)* with no charrefs / CDATA / mixed-case article
#   markers and a plain ``<article>…</article>`` as the outermost first
#   element get article text from ONE C-level tag-strip and the author
#   from two slices; only attribute-carrying tags are walked in Python
#   (to validate them with the spec grammar and harvest hrefs).
# * tier 2 ``_scan_tokens``: any page matching the text(tag text)*
#   shape is tokenized by ONE ``findall`` (C) and replayed through the
#   same state machine as ``_scan``, skipping the per-construct
#   find/match/group calls of the referee loop.
#
# Anything outside a tier's precondition falls through to the next
# tier, ending at ``_scan`` — so every quirk case (comments, PIs,
# marked sections, CDATA, junk tags, quoted '>', EOF recovery) is
# handled by exactly the code the parity suite pins against the
# html.parser spec. All quantifiers in the tier preconditions are
# POSSESSIVE: the grammar is deterministic (neither character class
# can consume '<' or '>'), and the greedy equivalents backtrack
# exponentially on adversarial unterminated-tag input.

# token: <(/?)(name)(attrs)> (text) — name is the spec tag charset
# minus '<'/'>', attrs any run free of '<'/'>'
_TOK = re.compile(
    r"<(/?+)([a-zA-Z][^\t\n\r\f /><\x00]*+)([^<>]*+)>([^<]*+)"
)
# precondition for both tiers: the WHOLE document is text (tag text)*
_OK = re.compile(
    r"[^<]*+(?:<(?:/?+)[a-zA-Z][^\t\n\r\f /><\x00]*+[^<>]*+>[^<]*+)*+"
)
# start tags that carry attributes (the only ones tier 1 must walk)
_ATTRTAG = re.compile(r"<([a-zA-Z][^\t\n\r\f /><\x00]*+)([^<>]++)>")
_TAGSTRIP = re.compile(r"<[^>]*+>")
# tier-1 deflectors: CDATA elements in any case (their content is raw
# text, not markup) and article/author markers in anything but exact
# lowercase (tier 1 searches the lowercase literals)
_SPECIAL = re.compile(r"(?i)</?+(?:script|style|article|author)")


def _attr_start_tag(html: str, lt: int, gtpos: int, want_href: bool):
    """Validate the start tag at ``lt`` whose first '>' is at ``gtpos``
    with the spec grammar (mirrors ``_scan``'s slow path).

    Returns (endpos, selfclose, href): endpos == -1 means the tag is
    junk (degrades to data up to and including ``gtpos``); endpos == -2
    means the spec locate grammar consumed PAST ``gtpos`` (a quoted
    '>'), i.e. the caller's tokenization is wrong for this page and it
    must fall back to ``_scan``.
    """
    n = len(html)
    j = _LOCATE_RE.match(html, lt).end()
    if j < n and html[j] == ">":
        endpos = j + 1
    elif html.startswith("/>", j):
        endpos = j + 2
    else:
        return -1, False, None
    if endpos != gtpos + 1:
        return -2, False, None
    k = _TAGFIND_RE.match(html, lt + 1).end()
    href = None
    while k < endpos:
        am = _ATTR_RE.match(html, k)
        if am is None:
            break
        if want_href and href is None and am.group(1).lower() == "href":
            rest, v = am.group(2), am.group(3)
            if rest and v:
                if v[:1] == "'" == v[-1:] or v[:1] == '"' == v[-1:]:
                    v = v[1:-1]
                if v:
                    # first NON-EMPTY href wins (spec harvester)
                    href = unescape(v) if "&" in v else v
        k = am.end()
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        return -1, False, None
    # selfclose is decided by the TRAILING '/>' after the attribute
    # walk, exactly as in ``_scan`` — the locate grammar can absorb the
    # '/' of '<x/>' into its [\s/]* run, so the j-branch alone is wrong
    return endpos, end == "/>", href


def _scan_simple(html: str) -> tuple[str | None, str | None, list[str]]:
    """Tier 1: article text via one C-level tag strip. Exact-or-bail."""
    if _OK.fullmatch(html) is None:
        return _scan(html)
    if "&" in html:
        return _scan_tokens_checked(html)
    for m in _SPECIAL.finditer(html):
        t = m.group()
        u = t.lower()
        if "scr" in u or "sty" in u or t != u:
            return _scan_tokens_checked(html)
    p = html.find("<article")
    if p != -1:
        # the plain '<article>' must be the document's FIRST tag (so
        # nothing is open beneath it and no stray end tag can pop
        # through it), closed by a plain '</article>' with no second
        # '<article' before the close
        if p != html.find("<") or not html.startswith("<article>", p):
            return _scan_tokens_checked(html)
        e = html.find("</article")
        if e == -1 or not html.startswith("</article>", e) or \
                html.find("<article", p + 1, e) != -1:
            return _scan_tokens_checked(html)
    hrefs: list[str] = []
    for m in _ATTRTAG.finditer(html):
        endpos, _sc, href = _attr_start_tag(
            html, m.start(), m.end() - 1, m.group(1).lower() == "a"
        )
        if endpos < 0:
            # junk start tags emit data (not strip-safe) and quoted
            # '>' re-tokenizes the page — both bail to tier 2
            return _scan_tokens_checked(html)
        if href:
            hrefs.append(href)
    if p == -1:
        return None, None, hrefs
    article = _TAGSTRIP.sub("", html[p + 9:e])
    author = None
    q = html.find("<author", p)
    if q != -1 and q < e:
        # direct child with text-only gaps: no tag between article
        # open and author open, none inside author
        if not html.startswith("<author>", q) or html.find("<", p + 9) != q:
            return _scan_tokens_checked(html)
        qe = html.find("</author", q)
        if qe == -1 or not html.startswith("</author>", qe) or \
                html.find("<", q + 8, qe) != -1:
            return _scan_tokens_checked(html)
        author = html[q + 8:qe]
    return article, author, hrefs


def _scan_tokens(html: str) -> tuple[str | None, str | None, list[str]]:
    """Tier 2: one findall tokenization feeding ``_scan``'s state
    machine. Bails to ``_scan`` on CDATA elements or tokenization
    mismatches (quoted '>')."""
    if _OK.fullmatch(html) is None:
        return _scan(html)
    return _scan_tokens_checked(html)


def _scan_tokens_checked(html: str) -> tuple[str | None, str | None, list[str]]:
    """``_scan_tokens`` for a document already known to match ``_OK``."""
    stack: list[str] = []
    art_idx = -1
    art_seen = False
    art_parts: list[str] = []
    auth_idx = -1
    auth_seen = False
    auth_parts: list[str] = []
    hrefs: list[str] = []
    first = html.find("<")
    pos = len(html) if first < 0 else first

    for slash, name_raw, attrs, txt in _TOK.findall(html):
        lt = pos
        gtpos = lt + 1 + len(slash) + len(name_raw) + len(attrs)
        pos = gtpos + 1 + len(txt)
        name = name_raw.lower()
        if slash:
            # end tag: pop to the innermost match (attr junk ignored —
            # the spec consumes to the first '>', which is gtpos here)
            for j in range(len(stack) - 1, -1, -1):
                if stack[j] == name:
                    del stack[j:]
                    if auth_idx >= 0 and j <= auth_idx:
                        auth_idx = -1
                    if art_idx >= 0 and j <= art_idx:
                        art_idx = -1
                    break
        elif not attrs:
            # attribute-less start tag — the fast majority
            if name == "article" and not art_seen:
                art_seen = True
                stack.append(name)
                art_idx = len(stack) - 1
            elif (
                name == "author"
                and not auth_seen
                and art_idx >= 0
                and len(stack) == art_idx + 1
            ):
                auth_seen = True
                stack.append(name)
                auth_idx = len(stack) - 1
            elif name not in _VOID:
                if name in _CDATA_END:
                    return _scan(html)  # CDATA raw-text semantics
                stack.append(name)
        else:
            endpos, selfclose, href = _attr_start_tag(
                html, lt, gtpos, name == "a"
            )
            if endpos == -2:
                return _scan(html)  # quoted '>': tokenization is wrong
            if endpos == -1:
                # junk start tag degrades to data up to and including
                # the first '>', which is gtpos by construction
                if art_idx >= 0:
                    s = html[lt:gtpos + 1]
                    if "&" in s:
                        s = unescape(s)
                    art_parts.append(s)
                    if auth_idx >= 0:
                        auth_parts.append(s)
            else:
                if href:
                    hrefs.append(href)
                at = len(stack)
                if name == "article" and not art_seen:
                    art_seen = True
                    if not selfclose:
                        stack.append(name)
                        art_idx = at
                elif (
                    name == "author"
                    and not auth_seen
                    and art_idx >= 0
                    and at == art_idx + 1
                ):
                    auth_seen = True
                    if not selfclose:
                        stack.append(name)
                        auth_idx = at
                elif not selfclose and name not in _VOID:
                    if name in _CDATA_END:
                        return _scan(html)
                    stack.append(name)
        if txt and art_idx >= 0:
            if "&" in txt:
                txt = unescape(txt)
            art_parts.append(txt)
            if auth_idx >= 0:
                auth_parts.append(txt)

    article_text = "".join(art_parts) if art_seen else None
    author_text = "".join(auth_parts) if auth_seen else None
    return article_text, author_text, hrefs


def scan_page(html: str) -> tuple[str | None, str | None, list[str]]:
    """(article_text, author_text, hrefs) in one linear pass.

    article_text is None when the document has no <article> element
    (untrimmed otherwise); author_text is None when the first article
    has no direct-child <author>. hrefs are raw (unescaped) values in
    document order, empty values dropped.
    """
    try:
        return _scan_simple(html)
    except _SpecParseError:
        # spec tree builders catch feed() exceptions and fail the parse
        return None, None, []


def _scan(html: str) -> tuple[str | None, str | None, list[str]]:
    i, n = 0, len(html)
    stack: list[str] = []
    art_idx = -1      # stack index of the open first article, -1 = not open
    art_seen = False
    art_parts: list[str] = []
    auth_idx = -1
    auth_seen = False
    auth_parts: list[str] = []
    hrefs: list[str] = []

    def text(s: str, raw: bool = False) -> None:
        # only article-descendant text is ever needed downstream
        if art_idx >= 0 and s:
            if not raw and "&" in s:
                s = unescape(s)
            art_parts.append(s)
            if auth_idx >= 0:
                auth_parts.append(s)

    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            text(html[i:])
            break
        if lt > i:
            text(html[i:lt])
        c = html[lt + 1] if lt + 1 < n else ""
        if c == "!" or c == "?":
            if html.startswith("<![", lt):
                # marked section: close at ]]> (or ]> for if/else/endif);
                # unknown keyword raises in the spec -> whole parse fails
                nm = _DECLNAME_RE.match(html, lt + 3)
                cm = None
                if nm is None:
                    if lt + 3 < n:  # junk (non-EOF) name: spec raises
                        raise _SpecParseError("marked section name")
                    # EOF mid-construct: fall through to recovery
                elif nm.end() >= n:
                    pass  # name truncated by EOF: recovery
                else:
                    name = nm.group().strip().lower()
                    if name in _MS_BRACKET:
                        cm = _MS_CLOSE.search(html, lt + 3)
                    elif name in _MS_MS:
                        cm = _MS_MSCLOSE.search(html, lt + 3)
                    else:
                        raise _SpecParseError(f"marked section {name!r}")
                if cm is not None:
                    i = cm.end()
                    continue
                # unterminated: EOF recovery (data to first '>')
                fgt = html.find(">", lt)
                if fgt >= 0:
                    text(html[lt:fgt + 1])
                    i = fgt + 1
                    continue
                text("<")
                i = lt + 1
                continue
            if html.startswith("<!--", lt):
                end = html.find("-->", lt + 4)
                if end >= 0:
                    i = end + 3
                    continue
                # unterminated comment degrades to data up to and
                # including the FIRST '>', then parsing resumes (probed)
                fgt = html.find(">", lt)
                if fgt >= 0:
                    text(html[lt:fgt + 1])
                    i = fgt + 1
                    continue
            end = html.find(">", lt + 2)
            if end >= 0:
                i = end + 1
                continue
            text("<")  # unterminated at EOF: '<' is data, rest rescans
            i = lt + 1
            continue
        m = _TAG_RE.match(html, lt)
        if m is None:
            if c == "/":
                em = _ENDTAG_RE.match(html, lt)
                if em is not None:
                    # '</ name >' IS an end tag per endtagfind (spec
                    # parse_endtag matches it before the bogus path)
                    name = em.group(1).lower()
                    i = em.end()
                    for j in range(len(stack) - 1, -1, -1):
                        if stack[j] == name:
                            del stack[j:]
                            if auth_idx >= 0 and j <= auth_idx:
                                auth_idx = -1
                            if art_idx >= 0 and j <= art_idx:
                                art_idx = -1
                            break
                    continue
                # bogus end tag (</>, </3...>, '</ name junk>'): dropped
                # to the next '>'; with no '>', EOF recovery emits it as
                # data (spec parse_bogus_comment / goahead end-recovery)
                end = html.find(">", lt + 2)
                if end >= 0:
                    i = end + 1
                else:
                    nlt = html.find("<", lt + 1)
                    text(html[lt:] if nlt < 0 else html[lt:nlt])
                    i = n if nlt < 0 else nlt
                continue
            text("<")  # stray '<' is text; resume at the next char
            i = lt + 1
            continue
        closing, name = m.group(1), m.group(2).lower()

        if closing:
            gt = html.find(">", m.end())
            if gt < 0:
                # unterminated end tag at EOF: '<' is data, rest rescans
                text("<")
                i = lt + 1
                continue
            i = gt + 1
            for j in range(len(stack) - 1, -1, -1):
                if stack[j] == name:
                    del stack[j:]
                    if auth_idx >= 0 and j <= auth_idx:
                        auth_idx = -1
                    if art_idx >= 0 and j <= art_idx:
                        art_idx = -1
                    break
            continue

        # start tag. Fast path: '<name>' with NO attributes — the char
        # right after the tag name is '>', so the spec's locate grammar
        # consumes nothing further (an attribute needs [\s/] before it)
        # and the attribute walk has nothing to do. This is the vast
        # majority of tags on real markup and skips two regex matches
        # plus the walk per tag (measured ~35% of whole-scan CPU);
        # byte-equality with the spec path is pinned by
        # tests/test_scan_parity.py (corpus grammar + fixtures +
        # hypothesis soup).
        me = m.end()
        if me < n and html[me] == ">":
            i = me + 1
            if name == "article" and not art_seen:
                art_seen = True
                stack.append(name)
                art_idx = len(stack) - 1
                continue
            if (
                name == "author"
                and not auth_seen
                and art_idx >= 0
                and len(stack) == art_idx + 1
            ):
                auth_seen = True
                stack.append(name)
                auth_idx = len(stack) - 1
                continue
            if name not in _VOID:
                stack.append(name)
                if name in _CDATA_END:
                    cm = _CDATA_END[name].search(html, i)
                    if cm is None:
                        break  # unterminated CDATA: content dropped
                    text(html[i:cm.start()], raw=True)
                    i = cm.start()
            continue

        # slow path: locate the end with the spec's tolerant grammar
        # (mirrors HTMLParser.check_for_whole_start_tag/parse_starttag)
        j = _LOCATE_RE.match(html, lt).end()
        if j < n and html[j] == ">":
            endpos = j + 1
        elif html.startswith("/>", j):
            endpos = j + 2
        else:
            # incomplete / junk start tag: degrades to data up to and
            # including the first '>'; with no '>', up to the next '<'
            # (HTMLParser's goahead EOF recovery, probed)
            fgt = html.find(">", lt + 1)
            if fgt >= 0:
                text(html[lt:fgt + 1])
                i = fgt + 1
            else:
                nlt = html.find("<", lt + 1)
                if nlt < 0:
                    text(html[lt:])
                    i = n
                else:
                    text(html[lt:nlt])
                    i = nlt
            continue

        # attribute walk (spec attrfind_tolerant loop): needed both to
        # validate the tag (junk remainder -> data) and for <a href>.
        # tagfind consumes the name AND trailing ws/slashes (spec k)
        k = _TAGFIND_RE.match(html, lt + 1).end()
        href = None
        want_href = name == "a"
        while k < endpos:
            am = _ATTR_RE.match(html, k)
            if am is None:
                break
            if want_href and href is None and am.group(1).lower() == "href":
                rest, v = am.group(2), am.group(3)
                if rest and v:
                    if v[:1] == "'" == v[-1:] or v[:1] == '"' == v[-1:]:
                        v = v[1:-1]
                    if v:
                        # first NON-EMPTY href wins (spec harvester)
                        href = unescape(v) if "&" in v else v
            k = am.end()
        end = html[k:endpos].strip()
        if end not in (">", "/>"):
            # junk in start tag: the whole tag text becomes data
            text(html[lt:endpos])
            i = endpos
            continue
        i = endpos
        selfclose = end == "/>"
        if href:
            hrefs.append(href)

        at = len(stack)
        if name == "article" and not art_seen:
            art_seen = True
            if not selfclose:
                stack.append(name)
                art_idx = at
            continue
        if (
            name == "author"
            and not auth_seen
            and art_idx >= 0
            and at == art_idx + 1
        ):
            auth_seen = True
            if not selfclose:
                stack.append(name)
                auth_idx = at
            continue
        if not selfclose and name not in _VOID:
            stack.append(name)
            if name in _CDATA_END:
                cm = _CDATA_END[name].search(html, i)
                if cm is None:
                    # unterminated CDATA: content dropped (spec probe)
                    break
                text(html[i:cm.start()], raw=True)  # no charref conversion
                i = cm.start()  # the end tag is parsed normally

    article_text = "".join(art_parts) if art_seen else None
    author_text = "".join(auth_parts) if auth_seen else None
    return article_text, author_text, hrefs
