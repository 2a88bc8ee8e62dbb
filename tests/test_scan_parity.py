"""Scanner ≡ executable-spec parity (ironspark.scan vs html.parser tree).

The single-pass scanner (ironspark/scan.py) replaced three
html.parser passes in the crawl hot path. These tests pin it to the
tree-based spec implementations retained in ironspark/extract.py
(`*_spec`) — byte equality of article text, author/title, and the
harvested link list — across the corpus grammar, hand-built
adversarial markup, and randomized HTML-ish soup.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ironspark.corpus import chain_pages, graph_page
from ironspark.extract import (
    article_text_of,
    article_text_of_spec,
    harvest_links,
    harvest_links_spec,
    parse_article_html,
    parse_article_html_spec,
)

BASE = "http://h.example.com/dir/page/7"


def assert_parity(html: str, base: str = BASE) -> None:
    assert parse_article_html(html) == parse_article_html_spec(html), html
    assert article_text_of(html) == article_text_of_spec(html), html
    assert harvest_links(html, base) == harvest_links_spec(html, base), html


CORPUS_GRAMMAR = [
    # plain article + author + nav links (the graph_page shape)
    '<article>Article 7<author>Author 3</author><p>w <b>x</b> y</p>'
    '<a href="http://a.example.com/page/1">p1</a>'
    '<a href="http://b.example.com/page/2">p2</a></article>',
    # chain grammar
    "<article>Article 4<author>Author 4</author></article>",
    # missing author
    "<article>Article 9 no author</article>",
    # no article at all
    '<div>plain<a href="./rel/link">r</a></div>',
]

ADVERSARIAL = [
    "",
    "plain text only",
    "a < b > c",
    "<div",
    "<article>tail<b",
    "<!-- unterminated",
    "<?pi junk>t",
    "<!decl>t",
    "</>x",
    "</3bogus>x",
    '<a href="x>y">t</a>',
    "<a href=unq>u</a>",
    '<a data-href="n" href="y">t</a>',
    '<a href="" href="second">t</a>',
    "<a href href='later'>t</a>",
    "<a HREF='CAP'>t</a>",
    '<a href="A&amp;B">amp</a>',
    '<!-- <a href="no"> -->z',
    "<article>a &amp; b<script>x<b>&amp;</script>c</article>",
    "<article>s<script>raw to eof",
    "<article>a<script/>b</article>",
    "<style>s{}</style><article>t<author>u</author></article>",
    "<article>x</ARTICLE>y<article>second</article>",
    "<ARTICLE>x<AUTHOR>a</AUTHOR></ARTICLE>",
    "<article/>after",
    "<article>a<author/>b</article>",
    "<article>a<author></author>b</article>",
    "<article>a<div><author>deep</author></div>b</article>",
    "<article>a<div></div><author>direct-late</author>b</article>",
    "<article>n1<article>n2<author>inner</author></article></article>",
    "<div><article>a</div>b</article>",
    "<div><article>text</div>more</article>",
    "</article><article>x<author>y</author></article>",
    "<article>a<br>b<img src=x>c</article>",
    "<article>a<b/ >c</article>",
    "<article>one</article><article>two<author>t2</author></article>",
    "<article>&#65;&amp;&quot;</article>",
    "<article>a<author>x</author>mid<author>second</author></article>",
    '<a href="http://">empty-netloc</a>',
    '<a href="http:///pathonly">e2</a>',
    '<a href="https://">e3</a>',
    '<a href="../up/one">rel</a>',
    '<a href="./same">rel2</a>',
    '<a href="//proto.example.com/x">protorel</a>',
    '<a href="?q=1">qonly</a>',
    '<a href="#frag">frag</a>',
    "<article>unclosed author<author>to eof",
    "<article>deep<div><div><div>x</div></div></div>end</article>",
    "<article>a<author>b</author",
    "<a><a href='x'>nested-a</a></a>",
    "<article><p>p1<p>p2</article>",  # unclosed <p>s
    "<script><article>inside cdata<author>n</author></article></script>"
    "<article>real</article>",
    # whitespace-after-'</' grammar (endtagfind allows '</ name >';
    # set_cdata_mode's interesting is the FULL r'</\s*script\s*>')
    "<article>a<script>x</ script>y</script>b</article>",
    "<article>a<script>x</script foo>y</script>b</article>",
    "<article>a<script>x</ script foo>y</script>b</article>",
    "<article><script>x</ script><author>A</author></article>",
    "<article>a</ article>b",
    "<article>a</ article b>c</article>",
    "<article>a<style>s</ style>b</article>",
    "<article>a<script>x</scripty>z</script>b</article>",
    "<article>a<script>x</ scr!pt>z</script>b</article>",
    "<article>a<script>x</ scri",
    "<article>a<script>x</script",
    "<article>a<script>x</script/>y</script>b</article>",
    "<article>a<script>x</ ScRiPt >y<b>c</article>",
    "<article><author>A</ author>t</article>",
    "<article>a<script>x</scriptyQ</script>b</article>",
    "<article>a<script>x</script<i></script>b</article>",
    "<article>a</ >b</article>",
    "<article>a</\t\narticle>b",
]


@pytest.mark.parametrize("html", CORPUS_GRAMMAR + ADVERSARIAL)
def test_fixture_parity(html):
    assert_parity(html)


def test_corpus_page_parity():
    # every corpus-grammar variant incl. filler/markup-dense benchmark pages
    for pid in list(range(0, 120)) + [991 + 7, 997 + 13, 991 * 2 + 7]:
        page = graph_page(pid, 5000, 20, filler_words=120, markup_every=2)
        html = page["html"]
        try:
            html = html.decode("utf-8")
        except UnicodeDecodeError:
            continue
        assert_parity(html, page["url"])
    for page in chain_pages("c0.example.com", 6):
        assert_parity(page["html"].decode("utf-8"), page["url"])


_soup_atom = st.sampled_from(
    [
        "<article>", "</article>", "<author>", "</author>", "<div>",
        "</div>", "<a href='", "<a href=\"", "'>", "\">", ">", "<", "&amp;",
        "&#65;", "text ", "x", " ", "<br>", "<img>", "<script>", "</script>",
        "<b/>", "</b>", "<!--", "-->", "<!", "<?", "http://h/x", "../r",
        "<ARTICLE>", "</ARTICLE>", "href=", "=", "/", "\"", "'",
        "</ script>", "</ article>", "</ ", "</\t", "</ script foo>",
    ]
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_soup_atom, min_size=0, max_size=30))
def test_random_soup_parity(atoms):
    assert_parity("".join(atoms))


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="<>/ab &;#'\"=-!?", max_size=60))
def test_random_text_parity(s):
    assert_parity(s)


def test_unsafe_bytes_in_absolute_href():
    """urllib strips tab/CR/LF anywhere in a URL (WHATWG-aligned,
    bpo-43882); the absolute-href fast path must not skip that.
    Hypothesis-found 2026-08-18."""
    for html, want in [
        ("<a href='http://h/x</\t<a href='<article>", ["http://h/x</<a href="]),
        ("<a href='http://h/a\nb'>", ["http://h/ab"]),
        # cross-scheme: urljoin returns the href UNCHANGED before its
        # unsafe-byte strip (scheme != base scheme short-circuits), so
        # the \r survives — parity is with urljoin, not with WHATWG
        ("<a href='https://h/a\rb'>", ["https://h/a\rb"]),
        ("<a href='http://\th/x'>", ["http://h/x"]),
    ]:
        assert harvest_links(html, BASE) == harvest_links_spec(html, BASE), html
        assert harvest_links(html, BASE) == want, html


# --- round-7 fast front-ends: tier parity + precondition pins ----------


TIER_FIXTURES = [
    # tier-1 shape (the graph_page grammar)
    '<article>Article 7<author>Author 3</author><p>w <b>x</b> y</p>'
    '<a href="http://a.example.com/page/1">p1</a></article>',
    "<article>Article 9 no author</article>",
    '<div>plain<a href="./rel">r</a></div>',
    "no tags at all",
    # tier-1 deflectors (each must land in tier 2 or _scan with the
    # same result): charrefs, CDATA, mixed-case markers, nested
    # article, attr-carrying author, non-direct-child author
    "<article>a &amp; b<author>A</author></article>",
    "<article>s<script>x<b></script>t</article>",
    "<ARTICLE>x<AUTHOR>a</AUTHOR></ARTICLE>",
    "<article>n1<article>n2</article></article>",
    "<article>a<author x=1>A</author></article>",
    "<article>a<div><author>deep</author></div>b</article>",
    "<article/>after",
    "<article>a<author/>b</article>",
    # tokenizer deflectors: quoted '>', comments, junk start tags
    '<article><a href="q>r">x</a></article>',
    "<!-- c --><article>t</article>",
    "<article><b =junk>t</b></article>",
    "<article><b junk=\"unclosed>text</b></article>",
    "<article>t</article >u",
    "<div><article>not-first-tag</article></div>",
    "pre-text<article>t</article>",
]


@pytest.mark.parametrize("html", TIER_FIXTURES)
def test_tier_parity(html):
    from ironspark.scan import _scan, _scan_simple, _scan_tokens

    assert _scan_simple(html) == _scan(html), html
    assert _scan_tokens(html) == _scan(html), html


def test_tier1_taken_on_corpus_shape(monkeypatch):
    """The benchmark-corpus page grammar must stay on the tag-strip
    tier — if a precondition rots, this fails loudly instead of
    silently falling back to the slow path."""
    import ironspark.scan as scan_mod

    def boom(html):  # pragma: no cover - failure path
        raise AssertionError("tier 1 fell back on a corpus-shaped page")

    for fallback in ("_scan_tokens", "_scan_tokens_checked", "_scan"):
        monkeypatch.setattr(scan_mod, fallback, boom)
    for pid in (0, 1, 2, 991 + 7):  # incl. the no-author variant
        page = graph_page(pid, 5000, 20, filler_words=120, markup_every=2)
        html = page["html"].decode("utf-8")
        art, author, hrefs = scan_mod._scan_simple(html)
        assert art is not None


def test_precondition_regex_is_linear():
    """The tier preconditions use possessive quantifiers; the greedy
    equivalent backtracks exponentially on unterminated-tag soup
    (~2 s at 23 repetitions, doubling per rep). 400 reps must be
    effectively instant. Best of 3, so one stalled sample on a shared
    host does not fail it."""
    import time

    from ironspark.scan import scan_page

    evil = "<ab>" * 400 + "<a href="
    timings = []
    for _ in range(3):
        t0 = time.perf_counter()
        scan_page(evil)
        timings.append(time.perf_counter() - t0)
    assert min(timings) < 1.0
