"""Deterministic synthetic page corpus (FIXTURES.md §1; seed-free arithmetic).

The corpus stands in for live HTTP at test scale (the reference fetches
with reqwest, ``src/downloader/downloader.rs:181-187``; we fetch by
equi-joining the scheduled frontier against this table). Shape is the
BASELINE.json ``input_hint``: pages(url, warc_ts, html, text, lang).

Everything is a pure function of the row id — no RNG state — so the
same corpus can be built driver-side (pandas, tests) or distributed
(spark.range + mapInPandas, bench at any scale) and is reproducible.

Structure:
  (a) article chains in the reference fixture grammar, following the
      real RFC 3986 nesting of ./article/{n-1} joins;
  (b) a general web graph with out-degree 0-20 <a href> links;
  (c) one mega-host holding ~80% of URLs (skew scenario);
  (d) invalid-UTF-8 bodies and missing-<author> pages (decode tests).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pandas as pd

from ironspark.extract import article_text_of, next_link
from ironspark.schemas import PAGES_SCHEMA

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
MEGA_HOST = "mega.example.com"
_LANGS = ["en", "en", "en", "de", "fr", "es", "en", "zh"]

# multiplicative hash constant (Knuth); keeps link targets well spread
_KNUTH = 2654435761


def _host_for(pid: int, n_hosts: int, mega_share: float = 0.8) -> str:
    if (pid * _KNUTH) % 100 < int(mega_share * 100):
        return MEGA_HOST
    return f"h{(pid * _KNUTH) % max(n_hosts - 1, 1):04d}.example.com"


_VOCAB = (
    "web crawl spark frontier parse table index fetch robots corpus token "
    "batch shard layout column filter stream vector merge scan query page "
    "the of and to in that for with archive snapshot lineage metric"
).split()


def _filler(pid: int, n_words: int, markup_every: int = 0) -> str:
    """Deterministic filler paragraphs (heavy-page realism).

    markup_every=k wraps every k-th word in an inline tag — real web
    pages are tag-dense (30-50% markup), which is what makes HTML
    parsing CPU-bound rather than memory-bound.
    """
    v = len(_VOCAB)
    words = [_VOCAB[(pid * 31 + i * 7) % v] for i in range(n_words)]
    if markup_every:
        tags = ("b", "i", "em", "span")
        words = [
            f"<{tags[i % 4]}>{w}</{tags[i % 4]}>" if i % markup_every == 0 else w
            for i, w in enumerate(words)
        ]
    paras = []
    for i in range(0, n_words, 60):
        paras.append("<p>" + " ".join(words[i : i + 60]) + "</p>")
    return "".join(paras)


def graph_page(
    pid: int,
    n_pages: int,
    n_hosts: int,
    mega_share: float = 0.8,
    filler_words: int = 0,
    markup_every: int = 0,
) -> dict:
    """One deterministic web-graph page (component b/c/d).

    filler_words > 0 produces Common-Crawl-weight pages (several KB of
    paragraph text) for the throughput benchmark; 0 keeps the tiny
    test-corpus shape.
    """
    host = _host_for(pid, n_hosts, mega_share)
    url = f"http://{host}/page/{pid}"
    author = f"Author {(pid * 7) % 97}"
    out_deg = (pid * 13) % 21 if not filler_words else 5 + (pid * 13) % 16
    links = []
    for k in range(out_deg):
        tgt = (pid * _KNUTH + 97 * (k + 1)) % n_pages
        links.append(
            f'<a href="http://{_host_for(tgt, n_hosts, mega_share)}/page/{tgt}">p{tgt}</a>'
        )
    nav = "".join(links)
    body = _filler(pid, filler_words, markup_every) if filler_words else ""

    if pid % 997 == 13:  # invalid UTF-8 body
        html = b"\xff\xfe<article>broken</article>"
        text = None
    elif pid % 991 == 7:  # missing <author>
        html = f"<article>Article {pid}{body}{nav}</article>".encode()
        text = article_text_of(html.decode())
    else:
        html_s = (
            f"<article>Article {pid}<author>{author}</author>{body}{nav}</article>"
        )
        html = html_s.encode()
        text = article_text_of(html_s)

    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=pid % 86400),
        "html": html,
        "text": text,
        "lang": _LANGS[pid % len(_LANGS)],
    }


def chain_pages(host: str, length: int, port: int | None = 5000) -> list[dict]:
    """Article chain in the reference grammar: seed /article/{length},
    each page linking ./article/{n-1}; page URLs follow the true RFC
    3986 nesting the crawl produces (see tests/test_extract.py)."""
    netloc = f"{host}:{port}" if port else host
    url = f"http://{netloc}/article/{length}"
    pages = []
    for n in range(length, 0, -1):
        html_s = f"<article>Article {n}<author>Author {n % 7}</author></article>"
        pages.append(
            {
                "url": url,
                "warc_ts": EPOCH + timedelta(seconds=n),
                "html": html_s.encode(),
                "text": article_text_of(html_s),
                "lang": "en",
            }
        )
        if n > 1:
            url = next_link(url, n)
    return pages


def build_chain_corpus(n_chains: int = 3, length: int = 5) -> pd.DataFrame:
    rows: list[dict] = []
    for c in range(n_chains):
        rows.extend(chain_pages(f"c{c}.example.com", length))
    return pd.DataFrame(rows)


def build_graph_corpus_pdf(n_pages: int, n_hosts: int = 20) -> pd.DataFrame:
    """Driver-side (tests)."""
    return pd.DataFrame([graph_page(i, n_pages, n_hosts) for i in range(n_pages)])


def build_graph_corpus(
    spark,
    n_pages: int,
    n_hosts: int = 50,
    parallelism: int = 32,
    mega_share: float = 0.8,
    filler_words: int = 0,
    markup_every: int = 0,
):
    """Distributed (bench scale): spark.range + mapInPandas."""

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [
                    graph_page(int(i), n_pages, n_hosts, mega_share,
                               filler_words, markup_every)
                    for i in pdf["id"]
                ]
            )

    return (
        spark.range(0, n_pages, 1, parallelism)
        .mapInPandas(synth, PAGES_SCHEMA)
    )


def article_seeds(
    n_chains: int = 3, length: int = 5, dup: int = 3, port: int | None = 5000
) -> pd.DataFrame:
    """Seed list for the chain spiders; duplicates on purpose (the
    reference example emits 30 identical seeds, basic_spider.rs:93-107)."""
    rows = []
    for c in range(n_chains):
        netloc = f"c{c}.example.com:{port}" if port else f"c{c}.example.com"
        for d in range(dup):
            rows.append(
                {
                    "spider_id": c + 1,
                    "url": f"http://{netloc}/article/{length}",
                    "seed_rank": d,
                }
            )
    return pd.DataFrame(rows)


def graph_seeds(
    n_pages: int,
    n_seeds: int,
    n_hosts: int = 20,
    spider_id: int = 1,
    mega_share: float = 0.8,
) -> pd.DataFrame:
    rows = []
    for s in range(n_seeds):
        pid = (s * _KNUTH + 17) % n_pages
        rows.append(
            {
                "spider_id": spider_id,
                "url": f"http://{_host_for(pid, n_hosts, mega_share)}/page/{pid}",
                "seed_rank": s,
            }
        )
    return pd.DataFrame(rows)
