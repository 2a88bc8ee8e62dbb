"""Live HTTP fetch stage vs the corpus join (VERDICT r2 "Next round" #4).

An in-process loopback ThreadingHTTPServer serves the synthetic chain
corpus; the SAME crawl runs once as a live fetch (the engine gets
pages=None) and once with the corpus join — items, crawl
order, and the seen set must be identical. Also covers real Set-Cookie
harvesting into the engine jar (and replay as a cookie request header),
redirect following to the final url, and timeout classification.

Reference behaviors exercised for real here (previously simulated):
src/downloader/downloader.rs:43-76 (client UA/timeouts/redirects),
:152-226 (dispatch), :236-247 (acceptance), src/response.rs:10 (final
url after redirects).
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd
import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import chain_pages
from ironspark.engine import CrawlEngine
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import ArticleSpider


class _CorpusHandler(BaseHTTPRequestHandler):
    pages: dict[str, bytes] = {}          # path -> html bytes
    redirects: dict[str, str] = {}        # path -> Location
    slow: set[str] = set()
    cookie: str | None = None
    seen_cookies: list[tuple[str, str]] = []  # (path, Cookie header)

    def do_GET(self):  # noqa: N802 (stdlib naming)
        ck = self.headers.get("Cookie")
        if ck:
            type(self).seen_cookies.append((self.path, ck))
        if self.path in self.slow:
            time.sleep(1.5)
        if self.path in self.redirects:
            self.send_response(302)
            self.send_header("Location", self.redirects[self.path])
            self.end_headers()
            return
        body = self.pages.get(self.path)
        if body is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        if self.cookie:
            self.send_header("Set-Cookie", self.cookie)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _CorpusHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _CorpusHandler.pages = {}
    _CorpusHandler.redirects = {}
    _CorpusHandler.slow = set()
    _CorpusHandler.cookie = None
    _CorpusHandler.seen_cookies = []
    yield srv.server_port
    srv.shutdown()


def _load_chain(port: int, length: int = 4):
    pages = chain_pages("127.0.0.1", length, port=port)
    for p in pages:
        path = p["url"].split(f":{port}", 1)[1]
        _CorpusHandler.pages[path] = p["html"]
    return pages


def _seeds(spark, port, path="/article/4"):
    return spark.createDataFrame(
        pd.DataFrame(
            [(1, f"http://127.0.0.1:{port}{path}", 0)],
            columns=["spider_id", "url", "seed_rank"],
        ),
        SEEDS_SCHEMA,
    )


def _crawl_state(eng, run_dir):
    items = (
        eng.items_df(run_dir)
        .toPandas()
        .sort_values("number")[["title", "author", "number", "src_url", "text"]]
        .reset_index(drop=True)
    )
    order = [
        (r.seq, r.wave, r.url_canon)
        for r in eng.crawl_order_df(run_dir).orderBy("seq", "wave").collect()
    ]
    seen = {r.url_canon for r in eng.seen_df(run_dir).collect()}
    return items, order, seen


def test_http_matches_corpus_join(spark, tmp_path, server):
    port = server
    pages = _load_chain(port)
    cfg_common = dict(
        dedup=True, seen_backend="exact", max_waves=10,
        respect_robots=False, wave_seconds=3600.0,
    )

    eng_h = CrawlEngine(spark, None, {1: ArticleSpider()},
                        EngineConfig(**cfg_common))
    stats_h = eng_h.run(seeds=_seeds(spark, port), run_dir=str(tmp_path / "h"))

    corpus_df = spark.createDataFrame(pd.DataFrame(pages), PAGES_SCHEMA)
    eng_c = CrawlEngine(spark, corpus_df, {1: ArticleSpider()},
                        EngineConfig(**cfg_common))
    stats_c = eng_c.run(seeds=_seeds(spark, port), run_dir=str(tmp_path / "c"))

    items_h, order_h, seen_h = _crawl_state(eng_h, str(tmp_path / "h"))
    items_c, order_c, seen_c = _crawl_state(eng_c, str(tmp_path / "c"))
    assert stats_h.items == stats_c.items == 4
    pd.testing.assert_frame_equal(items_h, items_c)  # byte-identical text
    assert order_h == order_c
    assert seen_h == seen_c


def test_http_cookie_jar_roundtrip(spark, tmp_path, server):
    """Real Set-Cookie -> engine jar -> cookie header on the NEXT wave's
    requests, observed by the server itself."""
    port = server
    _load_chain(port)
    _CorpusHandler.cookie = "sid=abc123; Path=/"
    cfg = EngineConfig(
        store_cookies=True, dedup=True, seen_backend="exact",
        max_waves=10, respect_robots=False, wave_seconds=3600.0,
    )
    eng = CrawlEngine(spark, None, {1: ArticleSpider()}, cfg)
    stats = eng.run(seeds=_seeds(spark, port), run_dir=str(tmp_path / "ck"))
    assert stats.items == 4
    assert eng._cookie_jar.get("127.0.0.1") == "sid=abc123; Path=/"
    # wave-0 request carries no cookie; every later wave replays the jar
    got = dict(_CorpusHandler.seen_cookies)
    assert "/article/4" not in got            # seed request: jar empty
    assert got.get("/article/article/3") == "sid=abc123; Path=/"


def test_http_redirect_final_url(spark, tmp_path, server):
    port = server
    _load_chain(port)
    _CorpusHandler.redirects["/r/head"] = f"http://127.0.0.1:{port}/article/4"
    cfg = EngineConfig(dedup=True, seen_backend="exact", max_waves=10,
                       respect_robots=False, wave_seconds=3600.0)
    eng = CrawlEngine(spark, None, {1: ArticleSpider()}, cfg)
    stats = eng.run(seeds=_seeds(spark, port, "/r/head"),
                    run_dir=str(tmp_path / "r"))
    assert stats.items == 4
    _, order, seen = _crawl_state(eng, str(tmp_path / "r"))
    # the order row for the seed keeps the scheduled (pre-fetch) url;
    # every downstream link resolved against the FINAL redirect target
    assert f"http://127.0.0.1:{port}/article/article/3" in seen


def test_http_timeout_retry_exhaust(spark, tmp_path, server):
    port = server
    _CorpusHandler.slow.add("/slow")
    cfg = EngineConfig(
        dedup=True, seen_backend="exact",
        max_waves=10, respect_robots=False, wave_seconds=3600.0,
        max_retry_times=1, downloader_request_timeout_s=0.4,
        downloader_connect_timeout_s=0.4,
    )
    eng = CrawlEngine(spark, None, {1: ArticleSpider()}, cfg)
    stats = eng.run(seeds=_seeds(spark, port, "/slow"),
                    run_dir=str(tmp_path / "t"))
    assert stats.items == 0
    assert stats.failed == 2      # original + 1 retry, both timed out
    assert stats.exhausted == 1


def test_http_cross_host_redirect_strips_credentials(spark, server):
    """Cookie/Authorization must NOT follow a redirect to another host
    (reqwest's redirect policy, downloader.rs:43-76); same-host
    redirects keep them.  127.0.0.1 vs localhost are distinct host
    strings on the loopback, giving a real cross-host hop."""
    from ironspark.fetch import http_fetch_stage

    port = server
    html = b"<article>T<author>A</author></article>"
    _CorpusHandler.pages["/dest"] = html
    _CorpusHandler.pages["/same-dest"] = html
    _CorpusHandler.redirects["/cross"] = f"http://localhost:{port}/dest"
    _CorpusHandler.redirects["/same"] = f"http://127.0.0.1:{port}/same-dest"
    _CorpusHandler.seen_headers = []

    orig_do_get = _CorpusHandler.do_GET

    def spy(self):
        type(self).seen_headers.append(
            (self.path,
             self.headers.get("Cookie"),
             self.headers.get("Authorization"))
        )
        orig_do_get(self)

    _CorpusHandler.do_GET = spy
    try:
        hdrs = {"cookie": "sid=s3cret", "authorization": "Bearer tok",
                "x-trace": "keep-me"}
        rows = [
            (f"http://127.0.0.1:{port}/cross",) ,
            (f"http://127.0.0.1:{port}/same",),
        ]
        sched = spark.createDataFrame(
            [
                (u, u, "127.0.0.1", 1, i, 0, "GET", hdrs, None)
                for i, (u,) in enumerate(rows)
            ],
            "url_canon string, url string, host string, spider_id int, "
            "seq long, attempt int, method string, "
            "headers map<string,string>, body string",
        )
        from ironspark.config import EngineConfig
        out = http_fetch_stage(sched, EngineConfig()).collect()
        by_url = {r.url: r for r in out}
        # both redirects followed to 200 with the body served
        assert all(r.resp_status == 200 for r in out)
        got = {p: (ck, auth) for p, ck, auth in _CorpusHandler.seen_headers}
        # first hops carry the credentials
        assert got["/cross"] == ("sid=s3cret", "Bearer tok")
        assert got["/same"] == ("sid=s3cret", "Bearer tok")
        # cross-host hop: stripped; same-host hop: kept
        assert got["/dest"] == (None, None)
        assert got["/same-dest"] == ("sid=s3cret", "Bearer tok")
        # non-sensitive headers survive the cross-host hop (spot check:
        # the request succeeded and was not credential-bearing)
        assert f"http://localhost:{port}/dest" in by_url
    finally:
        _CorpusHandler.do_GET = orig_do_get
