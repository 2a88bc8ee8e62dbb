"""Fetch stage: corpus equi-join, or live HTTP when there is no corpus.

At test scale, "fetch" is a deterministic left join of the scheduled
frontier against the pages corpus (the reference's live reqwest GET,
``src/downloader/downloader.rs:152-226``, replaced per SURVEY §2.1 S3).
A live crawl swaps in a pooled-HTTP ``mapInPandas`` behind the same
column contract (``http_fetch_stage``; the engine runs it when it has
no pages table).

Scale shape: the scheduled batch is orders of magnitude smaller than
the corpus. The session enables Spark's runtime Bloom-filter pushdown,
which injects the scheduled url_canon set into the corpus parquet scan;
AQE then picks broadcast/skew-safe strategies. The corpus read prunes
to exactly the joined columns (url, warc_ts, html) — Catalyst column
pruning keeps ``text``/``lang`` out of the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ironspark.config import EngineConfig

# HTTP wire-size estimate, reference Request::size (src/request.rs:18-47):
# "METHOD path HTTP/1.1\r\n" + headers + "\r\n" + body
_REQ_OVERHEAD = 1 + 1 + 8 + 2 + 2  # spaces + "HTTP/1.1" + CRLFs


def _headers_bytes():
    """Per-header wire bytes: name + value + 4 ("k: v\\r\\n"), summed over
    the headers map — the reference's exact term (src/request.rs:18-47).
    Null/empty map contributes 0."""
    return F.coalesce(
        F.aggregate(
            F.map_entries(F.col("headers")),
            F.lit(0),
            lambda acc, e: acc + F.length(e["key"]) + F.length(e["value"]) + 4,
        ),
        F.lit(0),
    )


def fetch_from_corpus(
    scheduled: DataFrame,
    pages: DataFrame,
    redirects: DataFrame | None = None,
    corpus_urls: DataFrame | None = None,
) -> DataFrame:
    """scheduled frontier rows -> response rows (status, body bytes).

    Corpus hit -> 200 with the page's html bytes; miss -> 404 with null
    body (the reference surfaces non-2xx as rejectable responses,
    ``downloader.rs:236-247``). An optional redirects(src, dst) table
    simulates the reference's redirect-following (final URL lands in
    ``url_canon``; reqwest follows redirects transparently,
    ``src/response.rs:10`` "url: final URL after redirects").

    Misses come from a ``shuffle_hash`` anti-join of the scheduled GETs
    against the url-only corpus side: ``corpus_urls`` when given (the
    engine persists it once, hash-partitioned by url into
    ``spark.sql.shuffle.partitions`` partitions, so a wave exchanges
    only its own GET keys and probes the cached partitions in place),
    else the urls of ``pages``. No step collects corpus urls to the
    driver.
    """
    if redirects is not None:
        r = F.broadcast(redirects.select(
            F.col("src").alias("_r_src"), F.col("dst").alias("_r_dst")
        ))
        scheduled = (
            scheduled.join(r, scheduled["url_canon"] == F.col("_r_src"), "left")
            .withColumn("url_canon", F.coalesce(F.col("_r_dst"), F.col("url_canon")))
            # Response.url is the FINAL url after redirects
            # (src/response.rs:10) — relative links resolve against it
            .withColumn("url", F.coalesce(F.col("_r_dst"), F.col("url")))
            .drop("_r_src", "_r_dst")
        )
    corpus = pages.select(
        F.col("url").alias("_page_url"),
        F.col("html").alias("body_bytes"),
        F.col("warc_ts"),
    )
    # NEVER shuffle the html: a wave's scheduled batch is tiny next
    # to the page store, so hits = corpus scan probing a broadcast
    # hash table of the batch (zero shuffle, zero sort; parallelism =
    # parquet splits), and misses = an anti-join against the url-only
    # corpus side (see the docstring), never the html.
    # A plain left join would shuffle wave-sized HTML every wave —
    # measured as the scaling killer (disk-bound, flat across cores).
    # The broadcast build side is projected to exactly what the
    # parse stage consumes: probing a full frontier row (incl. null
    # MAP columns) measured 2x the whole stage cost, since every
    # matched row copies the build side. The engine's max_wave_size
    # bounds the broadcast side for corpora whose waves would
    # otherwise outgrow it.
    slim = scheduled.select(
        "url_canon", "url", "host", "spider_id", "seq", "attempt",
        "method", "headers", "body",
    )
    # method-aware: the page store answers GETs; any other method is
    # an explicit miss, never a silent GET (a ported POST spider
    # sees 404s, not wrong pages; the live-HTTP stage would serve
    # these). Reference sends the request's real method,
    # downloader.rs:152-226.
    is_get = F.coalesce(F.col("method"), F.lit("GET")) == "GET"
    gets = slim.filter(is_get)
    nongets = slim.filter(~is_get)
    hits = corpus.join(
        F.broadcast(gets), corpus["_page_url"] == gets["url_canon"]
    ).drop("_page_url")
    url_side = corpus_urls if corpus_urls is not None else pages
    misses = (
        gets.join(
            url_side.select(F.col("url").alias("_page_url")).hint("shuffle_hash"),
            gets["url_canon"] == F.col("_page_url"),
            "left_anti",
        )
        .unionByName(nongets)
        .withColumn("body_bytes", F.lit(None).cast("binary"))
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
    )
    joined = hits.unionByName(misses.select(*hits.columns))

    # path length via a codegen-friendly regex strip of scheme://host —
    # parse_url lowers to an interpreted evaluator invoke (measured hot)
    path = F.regexp_replace(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return (
        joined.withColumn(
            "resp_status",
            F.when(F.col("body_bytes").isNotNull(), F.lit(200)).otherwise(F.lit(404)),
        )
        .withColumn(
            "bytes_req",
            (
                F.length("method")
                + F.length(path)
                + F.lit(_REQ_OVERHEAD)
                + _headers_bytes()
                + F.coalesce(F.length("body"), F.lit(0))
            ).cast("long"),
        )
        .withColumn(
            "bytes_resp", F.coalesce(F.length("body_bytes"), F.lit(0)).cast("long")
        )
        # set_cookie: the response-side cookie seam (reference jar,
        # src/config.rs:14 store_cookies). The corpus join never sets
        # it; a response hook or the live-HTTP stage fills it, and the
        # engine folds it into its per-host jar (engine.py).
        .withColumn("set_cookie", F.lit(None).cast("string"))
    )


_HTTP_OUT_SCHEMA = (
    "url_canon string, url string, host string, spider_id long, seq long, "
    "attempt int, method string, headers map<string,string>, body string, "
    "body_bytes binary, warc_ts timestamp, resp_status int, set_cookie string"
)
_MAX_REDIRECTS = 10  # reqwest's default redirect Policy (downloader.rs:52)


def http_fetch_stage(scheduled: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Live-HTTP fetch: pooled http.client inside ONE mapInPandas pass.

    Same column contract as ``fetch_from_corpus`` so the parse stage is
    oblivious to the fetch path (the engine runs it when constructed
    with ``pages=None``). Mirrors the reference client
    (``src/downloader/downloader.rs:43-76``: UA, connect/request
    timeouts, redirect following; ``:152-226``: dispatch with the
    request's real method/headers/body):

    * one connection pool per task, keyed by (host, port) — politeness
      is already enforced upstream, so per-partition sequential
      requests respect the scheduled budget;
    * redirects followed up to 10 hops; ``url`` becomes the FINAL url
      (``src/response.rs:10``) and ``url_canon`` is recanonicalized;
    * ``Set-Cookie`` response headers are harvested into ``set_cookie``
      (the engine folds them into its per-host jar);
    * transport errors map onto the reference's error classes
      (timeout -> 408, connect/other -> 503 — both retryable);
    * wire-size columns (bytes_req/bytes_resp) use the SAME expressions
      as the corpus path (Request::size, src/request.rs:18-47).
    """
    import http.client as _hc
    import socket
    from urllib.parse import urlsplit, urljoin

    from ironspark.url import canonicalize_series, host_series

    ua = cfg.user_agent
    connect_timeout = cfg.downloader_connect_timeout_s
    request_timeout = cfg.downloader_request_timeout_s
    # headers the reference client (reqwest) strips when a redirect
    # leaves the original host — replaying credentials to an arbitrary
    # redirect target is a credential leak
    _SENSITIVE = ("cookie", "authorization", "proxy-authorization",
                  "www-authenticate")

    def run(batches):
        import pandas as pd

        pool: dict[tuple[str, str, int], _hc.HTTPConnection] = {}

        def conn_for(scheme: str, host: str, port: int) -> _hc.HTTPConnection:
            key = (scheme, host, port)
            c = pool.get(key)
            if c is None:
                # the CONNECT timeout applies while the socket is being
                # established (http.client connects lazily on the first
                # request); the per-request timeout is applied to the
                # connected socket before the response is read
                cls = _hc.HTTPSConnection if scheme == "https" else _hc.HTTPConnection
                c = cls(host, port, timeout=connect_timeout)
                pool[key] = c
            return c

        def one(url, method, headers, body):
            """-> (final_url, status, body_bytes, set_cookie)."""
            method = method or "GET"
            hdrs = dict(headers) if headers else {}
            hdrs.setdefault("user-agent", ua)
            cur = url
            prev_host = None
            for _hop in range(_MAX_REDIRECTS + 1):
                parts = urlsplit(cur)
                host = parts.hostname or ""
                if prev_host is not None and host != prev_host:
                    # cross-host redirect: drop credential-bearing
                    # headers, as the reference's reqwest policy does
                    hdrs = {
                        k: v for k, v in hdrs.items()
                        if k.lower() not in _SENSITIVE
                    }
                prev_host = host
                port = parts.port or (443 if parts.scheme == "https" else 80)
                path = parts.path or "/"
                if parts.query:
                    path += "?" + parts.query
                payload = body.encode("utf-8") if body else None
                try:
                    c = conn_for(parts.scheme, host, port)
                    try:
                        c.request(method, path, body=payload, headers=hdrs)
                        if c.sock is not None:
                            c.sock.settimeout(request_timeout)
                        r = c.getresponse()
                    except (_hc.HTTPException, ConnectionError, BrokenPipeError):
                        # stale pooled connection: recreate once
                        c.close()
                        pool.pop((parts.scheme, host, port), None)
                        c = conn_for(parts.scheme, host, port)
                        c.request(method, path, body=payload, headers=hdrs)
                        if c.sock is not None:
                            c.sock.settimeout(request_timeout)
                        r = c.getresponse()
                    data = r.read()
                    cookies = r.headers.get_all("Set-Cookie")
                    set_cookie = "; ".join(cookies) if cookies else None
                    if r.status in (301, 302, 303, 307, 308):
                        loc = r.headers.get("Location")
                        if loc and _hop < _MAX_REDIRECTS:
                            cur = urljoin(cur, loc)
                            if r.status == 303:
                                method, body, payload = "GET", None, None
                            continue
                    return cur, r.status, data if data else None, set_cookie
                except socket.timeout:
                    return cur, 408, None, None
                except OSError:
                    return cur, 503, None, None
            return cur, 508, None, None  # redirect loop exhausted

        for pdf in batches:
            if not len(pdf):
                continue
            finals, statuses, bodies, cookies = [], [], [], []
            for url, method, headers, body in zip(
                pdf["url"], pdf["method"], pdf["headers"], pdf["body"]
            ):
                f, s, b, ck = one(url, method, headers, body)
                finals.append(f)
                statuses.append(s)
                bodies.append(b)
                cookies.append(ck)
            out = pdf[
                ["spider_id", "seq", "attempt", "method", "headers", "body"]
            ].copy()
            out["url"] = finals
            out["url_canon"] = canonicalize_series(pd.Series(finals))
            out["host"] = host_series(pd.Series(finals))
            out["body_bytes"] = bodies
            out["warc_ts"] = None
            out["resp_status"] = statuses
            out["set_cookie"] = cookies
            yield out[
                [
                    "url_canon", "url", "host", "spider_id", "seq", "attempt",
                    "method", "headers", "body", "body_bytes", "warc_ts",
                    "resp_status", "set_cookie",
                ]
            ]

        for c in pool.values():
            c.close()

    slim = scheduled.select(
        "url_canon", "url", "host", "spider_id", "seq", "attempt",
        "method", "headers", "body",
    )
    fetched = slim.mapInPandas(run, _HTTP_OUT_SCHEMA)
    path = F.regexp_replace(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return fetched.withColumn(
        "bytes_req",
        (
            F.length("method")
            + F.length(path)
            + F.lit(_REQ_OVERHEAD)
            + _headers_bytes()
            + F.coalesce(F.length("body"), F.lit(0))
        ).cast("long"),
    ).withColumn(
        "bytes_resp", F.coalesce(F.length("body_bytes"), F.lit(0)).cast("long")
    )
