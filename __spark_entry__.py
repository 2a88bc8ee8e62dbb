"""Flagship crawl entry point plus the operator contract.

entry(spark)   — flagship: the full crawl-engine loop on a deterministic
                 synthetic page corpus (chains + web graph), returning the
                 extracted-items DataFrame.
queries()      — one entry per operator (SURVEY.md §2 + the
                 training-data pipeline ops), each (spark, sf_dir) -> DF.
oracle_sql()   — matching ANSI SQL for DuckDB over the same tables.
                 Column names/aliases match the Spark results exactly.
                 ``tests/test_oracle_parity.py`` checks every entry
                 against its oracle.

Hash arithmetic shared by both sides is md5-hex based (engine-portable):
Spark  CAST(conv(substr(md5(x),1,15),16,10) AS BIGINT)
DuckDB CAST(concat('0x',substr(md5(x),1,15)) AS BIGINT)
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # ironspark pkg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """_t + HASH repartition (on ``keys``) to the session's core count.

    The sf test tables are single-file, SINGLE-ROW-GROUP parquet, and a
    row group is parquet's unit of scan parallelism — so every scan
    stage otherwise runs as ONE task and any per-row-heavy work above
    it (shingle explodes, regex stacks) serializes
    on one core of local[N] (optimization guide §2.5 "input skew" /
    §6.1). The repartition shuffles only the table's projected rows
    (KB-MB here) to buy back N-way parallelism; it is applied per
    query below only where per-row work dominates, because a real
    multi-row-group corpus would get the parallelism from the scan
    itself and the extra exchange would be pure overhead.

    HASH partitioning on the table's unique key,
    never keyless round-robin — `repartition(n)` pays its
    sort-before-repartition (SPARK-23207) INSIDE the single scan task,
    i.e. a serial sort of the whole table before any parallelism is
    bought (measured: the sort was the bulk of several queries'
    fan-out cost). A unique key spreads as
    evenly as round-robin, and a downstream aggregate/window keyed on
    (a superset of) it reuses the exchange outright (guide §2.4)."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism, *keys
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Full crawl: seeds -> politeness schedule -> fetch(corpus join) ->
    Arrow parse/extract -> dedup -> frontier loop; returns items.

    The items are checkpointed into Spark's block store, so the crawl's
    temporary run dir is deleted before they are returned."""
    import shutil
    import tempfile

    from ironspark.config import EngineConfig
    from ironspark.corpus import (
        article_seeds,
        build_chain_corpus,
        build_graph_corpus_pdf,
        graph_seeds,
    )
    from ironspark.engine import CrawlEngine
    from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
    from ironspark.spider import ArticleSpider, LinkSpider

    import pandas as pd

    chain_pdf = build_chain_corpus(2, 4)
    graph_pdf = build_graph_corpus_pdf(300, 8)
    pages = spark.createDataFrame(
        pd.concat([chain_pdf, graph_pdf], ignore_index=True), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(
        pd.concat(
            [article_seeds(2, 4, dup=2), graph_seeds(300, 5, 8, spider_id=10)],
            ignore_index=True,
        ),
        SEEDS_SCHEMA,
    )
    spiders = {1: ArticleSpider(), 2: ArticleSpider(), 10: LinkSpider()}
    cfg = EngineConfig(
        dedup=True,
        seen_backend="bloom",
        max_waves=4,
        respect_robots=False,
        wave_seconds=600.0,
        default_crawl_delay=0.5,
    )
    eng = CrawlEngine(spark, pages, spiders, cfg)
    run_dir = tempfile.mkdtemp(prefix="ironspark_entry_")
    try:
        eng.run(seeds=seeds, run_dir=run_dir)
        return eng.items_df(run_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# operator queries (SURVEY.md §2 mapping per FIXTURES.md §7)
# ---------------------------------------------------------------------------

def _m1_counter_sums(spark, sf):
    # M1 counter sums (src/downloader/stat.rs:174-216)
    return _t(spark, sf, "events").agg(
        F.count("*").alias("n_requests"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _m2_status_histogram(spark, sf):
    # M2 status-code histogram (src/downloader/stat.rs:124,203-207)
    return _t(spark, sf, "events").groupBy("event_type").agg(
        F.count("*").alias("cnt")
    )


def _m3_error_histogram(spark, sf):
    # M3 exception-type histogram (src/downloader/stat.rs:127,218-226)
    return _t(spark, sf, "orders").groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt")
    )


def _m4_minmax(spark, sf):
    # M4 min/max via CAS loop (src/downloader/stat.rs:283-311)
    return _t(spark, sf, "events").agg(
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


def _m5_avg(spark, sf):
    # M5 running average (src/downloader/stat.rs:352-364)
    return _t(spark, sf, "events").agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.count("*").alias("n"),
    )


def _m6_peak_gauge(spark, sf):
    # M6 peak concurrent gauge (src/downloader/stat.rs:268-281)
    per_user = _t(spark, sf, "events").groupBy("user_id").agg(
        F.count("*").alias("cnt")
    )
    return per_user.agg(F.max("cnt").alias("peak"))


def _f2_fifo_order_limit(spark, sf):
    # F2 FIFO dequeue order (src/scheduler/scheduler.rs:34-76)
    return (
        _t(spark, sf, "orders")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderdate")
    )


def _f3_politeness_topk(spark, sf):
    # F3 window-rank priority queue (downloader dequeue-with-budget,
    # src/downloader/downloader.rs:99-137) — top-3 per host(source)
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        _t(spark, sf, "documents")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", "doc_id", "rk")
    )


def _f5_backpressure_cap(spark, sf):
    # F5 max-waiting cap = 2*concurrent_limit = 64 (downloader.rs:23,64)
    return (
        _t(spark, sf, "events")
        .orderBy("ts", "event_id")
        .limit(64)
        .select("event_id")
    )


def _f7_rate_budget(spark, sf):
    # F7 per-host rate budget (governor quota, downloader.rs:45-48):
    # budget(host) = floor(wave_seconds / crawl_delay)
    per_host = _t(spark, sf, "documents").groupBy("source").agg(
        F.count("*").alias("pending")
    )
    budget = F.floor(60.0 / (1.0 + F.length("source") % 5)).cast("long")
    return per_host.select(
        "source",
        "pending",
        budget.alias("budget"),
        F.least(F.col("pending"), budget).alias("scheduled"),
    )


def _d1_retry_union(spark, sf):
    # D1 retry with backoff as a union (downloader.rs:162-223)
    o = _t(spark, sf, "orders")
    pending = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.lit(0).alias("attempt")
    )
    retried = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", (F.lit(0) + 1).alias("attempt")
    )
    return pending.unionByName(retried)


def _d2_status_filter(spark, sf):
    # D2 acceptance filter: <400 OR in allow set (downloader.rs:236-247)
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_quantity") < 10) | F.col("l_returnflag").isin("R")
    ).select("l_orderkey", "l_linenumber")


def _d3_error_classify(spark, sf):
    # D3 error classification (downloader.rs:266-286)
    e = _t(spark, sf, "events")
    cls = (
        F.when(F.col("value") < 10, F.lit("timeout"))
        .when(F.col("value") < 50, F.lit("connect"))
        .otherwise(F.lit("unknown"))
    )
    return e.groupBy(cls.alias("error_class")).agg(F.count("*").alias("cnt"))


def _d4_wire_size(spark, sf):
    # D4 request wire-size arithmetic (src/request.rs:18-47)
    o = _t(spark, sf, "orders")
    size = (
        F.length(F.lit("GET"))
        + 1
        + F.length(F.concat(F.lit("/order/"), F.col("o_orderkey").cast("string")))
        + 1
        + 10
    )
    return o.agg(F.sum(size).cast("long").alias("total_bytes"))


def _p5_regexp_extract(spark, sf):
    # P5 first \d+ extraction (basic_spider.rs:32-36)
    return _t(spark, sf, "documents").select(
        "doc_id", F.regexp_extract(F.col("text"), r"\d+", 0).alias("first_num")
    )


def _p7_antijoin_dedup(spark, sf):
    # P7 URL-seen anti-join dedup (basic_spider.rs:29,75-89)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


def _l1_registration(spark, sf):
    # L1 monotonic spider-id assignment (src/spider/manager.rs:32,45-53)
    from pyspark.sql import Window

    w = Window.orderBy("n_name")
    return _t(spark, sf, "nation").select(
        "n_name", F.row_number().over(w).alias("spider_id")
    )


def _x1_exchange_join(spark, sf):
    # X1/X2 stage boundaries exercised as a 4-table join + agg
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def _q2_supplier_region(spark, sf):
    """Fact-to-dim star join: lineitem joined through the
    supplier -> nation -> region dimension chain, revenue per
    (region, nation). The dimension chain is pre-joined and BROADCAST
    (three dim tables, tiny at any scale next to the fact) so the
    fact table is scanned once with zero shuffle before the
    aggregation — the plan that survives a 100 TB lineitem."""
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    dims = (
        s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "n_name", "r_name")
    )
    li = _t(spark, sf, "lineitem")
    return (
        li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q3_part_brand(spark, sf):
    """Selective dim filter pushed through a broadcast join: small
    parts only (p_size <= 25), revenue + retail-price stats per
    brand. The part filter prunes the broadcast build side BEFORE the
    fact scan probes it."""
    p = _t(spark, sf, "part").filter(F.col("p_size") <= 25)
    li = _t(spark, sf, "lineitem")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_retail"),
            F.count("*").alias("n_items"),
        )
    )


def _q1_lineitem_agg(spark, sf):
    # the classic pricing-summary aggregation (hash agg + filters)
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2025-06-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _skew2p_salted_agg(spark, sf):
    # the north rule's salting + two-phase aggregation, verified equal
    # to the plain group-by (oracle): phase 1 aggregates (key, salt),
    # phase 2 merges partials per key
    li = _t(spark, sf, "lineitem")
    salted = li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
    p1 = salted.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("c"), F.sum("l_quantity").alias("q")
    )
    return p1.groupBy("l_returnflag").agg(
        F.sum("c").alias("cnt"), F.round(F.sum("q"), 2).alias("sum_qty")
    )


# -- general relational coverage (set ops, rollup, dates, JSON, arrays, windows)

def _s_set_ops(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        a.intersect(b).withColumn("src", F.lit("both"))
        .unionByName(a.exceptAll(b).distinct().withColumn("src", F.lit("big_only")))
    )


def _g_rollup(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "cnt", "qty",
        )
    )


def _dt_date_funcs(spark, sf):
    o = _t(spark, sf, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
    ).agg(
        F.count("*").alias("cnt"),
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("first_month"),
    )


def _j_json_extract(spark, sf):
    e = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy((k % 10).alias("k_mod")).agg(
        F.count("*").alias("cnt"), F.sum(k).alias("k_sum")
    )


def _arr_array_funcs(spark, sf):
    emb = _t(spark, sf, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(F.slice(vec, 1, 8), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("head_sum"),
        F.round(F.array_max(vec), 6).alias("vmax"),
    )


def _w_lag_running(spark, sf):
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
    )


# -- training-data pipeline ops ------------------------------------------------

def _t_token_count(spark, sf):
    from ironspark.textops import token_count

    return token_count(_t(spark, sf, "documents"))


def _t_quality(spark, sf):
    from ironspark.textops import quality_score

    return quality_score(_t(spark, sf, "documents")).select(
        "doc_id", "n_chars", "n_tokens", "n_punct", "punct_ratio", "stop_ratio"
    )


def _t_dup_ngrams(spark, sf):
    from ironspark.textops import dup_ngram_ratio

    return dup_ngram_ratio(_t(spark, sf, "documents"), n=5)


def _t_vocab_topk(spark, sf):
    from ironspark.textops import vocab_topk

    return vocab_topk(_t(spark, sf, "documents"), k=50)


def _t_pii_scrub(spark, sf):
    from ironspark.textops import pii_scrub

    return pii_scrub(_t(spark, sf, "documents"))


def _t_decontaminate(spark, sf):
    from ironspark.textops import decontaminate

    docs = _t(spark, sf, "documents")
    # deterministic stand-in benchmark set: every 97th document plays
    # the eval suite; contamination = sharing any 8-gram with it
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=8)


def _t_gopher_quality(spark, sf):
    from ironspark.textops import gopher_quality

    # min_words=20 / min_stop_hits=1 so the short synthetic docs (one
    # in-list stopword in their vocab) split into a real keep/drop
    # mix (367/133 at sf0.01); other thresholds are the Gopher defaults
    return gopher_quality(
        _t(spark, sf, "documents"), min_words=20, min_stop_hits=1
    )


def _t_tfidf_topk(spark, sf):
    from ironspark.textops import tfidf_topk

    return tfidf_topk(_tpd(spark, sf), k=3)


def _t_stratified_sample(spark, sf):
    from ironspark.textops import stratified_sample

    return stratified_sample(_t(spark, sf, "documents"))


def _t_domain_stats(spark, sf):
    from ironspark.textops import domain_stats

    return domain_stats(_t(spark, sf, "documents"))


def _t_length_quantiles(spark, sf):
    from ironspark.textops import length_quantiles

    return length_quantiles(_t(spark, sf, "documents"))


def _chunked_docs(spark, sf):
    # The synthetic corpus is single-line; derive deterministic "lines"
    # as 10-word chunks (identically in the oracle), so repetition
    # signals run against their natural newline contract. Near-dup and
    # exact-dup documents share chunks, so the signals do real work here.
    docs = _t(spark, sf, "documents")
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
    )
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(10.0)).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.array_join(F.slice(words, (i - 1) * 10 + 1, 10), " "),
    )
    return docs.select("doc_id", F.array_join(chunks, "\n").alias("text"))


def _t_rep_signals(spark, sf):
    from ironspark.textops import repetition_signals

    return repetition_signals(_chunked_docs(spark, sf), n=2)


# -- fanned-out scans -----------------------------------------------------------

def _docids(spark, sf):
    """doc_id-only scan fanned out to the core count (see _tp) for the
    queries that derive their rows from the key alone: only the 8-byte
    key needs to cross the exchange."""
    return (
        _t(spark, sf, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


def _tpd(spark, sf):
    """(doc_id, text) scan fanned out to the core count for t_tfidf_topk
    (the _tp rationale: its per-row word explode dominates at scale),
    projected first so the exchange never carries unused columns."""
    return (
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


def _f9_robots_wildcard(spark, sf):
    """RFC 9309 wildcard enforcement (robots.compile_rule_regex +
    politeness.robots_disallow_filter, new in round 5), driver-attested
    cross-engine: synthetic pending URLs derive deterministically from
    doc_id (query strings, .pdf suffixes, /cc/pub nesting), three hosts
    carry FIXED literal rule sets exercising `*`, trailing `$`,
    prefix-vs-wildcard precedence, and allow-beats-shorter-disallow;
    the oracle re-derives the same keep set with hand-expanded
    per-host CASE logic in DuckDB's regex dialect. Plan: broadcast
    rules join + codegen array folds, zero shuffle (plus the _tp
    fan-out exchange so the per-row regex folds use every core)."""
    docs = _docids(spark, sf)
    did = F.col("doc_id")
    pq = F.concat(
        F.lit("/"),
        F.element_at(
            F.lit(["cc/pub/p", "cc/p", "docs/p", "p"]),
            (did % 4 + 1).cast("int"),
        ),
        did.cast("string"),
        F.when(did % 5 == 0, F.lit(".pdf")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(F.lit("?sessionid="), did.cast("string")))
        .otherwise(F.lit("")),
    )
    host = F.concat(F.lit("h"), (did % 3).cast("string"), F.lit(".test"))
    pending = docs.select(
        "doc_id", host.alias("host"),
        F.concat(F.lit("http://"), host, pq).alias("url"),
    )
    robots = spark.createDataFrame(
        [
            ("h0.test", ["/*?sessionid=", "/*.pdf$"], []),
            ("h1.test", ["/cc"], ["/cc/pub"]),
            ("h2.test", ["/docs/*.pdf$"], ["/docs"]),
        ],
        "host string, disallow array<string>, allow array<string>",
    )
    from ironspark.politeness import robots_disallow_filter

    return robots_disallow_filter(pending, robots).select(
        "doc_id", "host", "url"
    )


def _fr_recrawl_due(spark, sf):
    """Freshness-driven recrawl selection (frontier.recrawl_due, new in
    round 5): events rows act as fetch history — url keyed by
    (user_id, event_type), host = user_id % 20 — and the scheduler
    re-admits the stalest URLs (>= 3 days since last fetch as of the
    fixed 'now') under a per-host budget of 5, stalest-first with a
    deterministic url tie-break. One hash-agg + one per-host window."""
    from ironspark.frontier import recrawl_due

    ev = _t(spark, sf, "events")
    host = F.concat(
        F.lit("h"), (F.col("user_id") % 20).cast("string"), F.lit(".test")
    )
    hist = ev.select(
        F.concat(
            F.lit("http://"), host, F.lit("/u"),
            F.col("user_id").cast("string"), F.lit("/"), F.col("event_type"),
        ).alias("url"),
        host.alias("host"),
        "ts",
    )
    out = recrawl_due(
        hist, "2024-01-31 00:00:00", interval_seconds=3 * 86400.0,
        per_host_budget=5,
    )
    return out.withColumn("age_seconds", F.round("age_seconds", 6))


# -- URL canonicalization (P8; pandas UDF — oracle restricted to fixed shapes) --

def _p8_canonicalize(spark, sf):
    from ironspark.url import canonicalize_udf

    docs = (
        _t(spark, sf, "documents")
        .select("doc_id", "source")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    raw = F.concat(
        F.lit("HTTP://"),
        F.upper("source"),
        F.lit(".Example.COM:80/A/./"),
        F.col("doc_id").cast("string"),
        F.lit("?z=1&a=2#frag"),
    )
    return docs.select(
        "doc_id", canonicalize_udf(raw).alias("url_canon")
    )


# -- round-2 additions: control-plane ops with SQL oracles ---------------------

def _f4_admission(spark, sf):
    # F4 staged admission math (manager.rs:239-279): a group is admitted
    # while the backlog of previously admitted groups is <= threshold
    from pyspark.sql import Window

    groups = (
        _t(spark, sf, "events")
        .groupBy((F.col("user_id") % 8).alias("grp"))
        .agg(F.count("*").alias("pending"))
    )
    w = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
    prior = F.coalesce(F.sum("pending").over(w), F.lit(0))
    return groups.select(
        "grp", "pending", (prior <= 5000).alias("admitted")
    )


def _d5_redirects(spark, sf):
    # D5 redirect resolution through the REAL fetch stage: /r/ urls
    # follow a redirects table to their /d/ page (final url lands in
    # url_canon, reference response.rs:10); /m/ urls are misses.
    from ironspark.fetch import fetch_from_corpus

    d = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    base = F.concat(F.lit("http://"), F.col("source"), F.lit(".ex.com/d/"), did)
    rsrc = F.concat(F.lit("http://"), F.col("source"), F.lit(".ex.com/r/"), did)
    miss = F.concat(F.lit("http://"), F.col("source"), F.lit(".ex.com/m/"), did)
    pages = d.select(
        base.alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
    )
    url = (
        F.when(F.col("doc_id") % 3 == 0, base)
        .when(F.col("doc_id") % 3 == 1, rsrc)
        .otherwise(miss)
    )
    sched = d.select(
        url.alias("url_canon"),
        url.alias("url"),
        F.concat(F.col("source"), F.lit(".ex.com")).alias("host"),
        F.lit(1).cast("long").alias("spider_id"),
        F.col("doc_id").alias("seq"),
        F.lit(0).alias("attempt"),
        F.lit("GET").alias("method"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit(None).cast("string").alias("body"),
    )
    redirects = d.filter(F.col("doc_id") % 3 == 1).select(
        rsrc.alias("src"), base.alias("dst")
    )
    resp = fetch_from_corpus(sched, pages, redirects)
    return resp.select(
        F.col("seq").alias("doc_id"),
        "url_canon",
        F.col("resp_status").cast("int").alias("resp_status"),
        "bytes_resp",
    )


def _m8_spider_counters(spark, sf):
    # M8 spider-manager counters: pending per spider over the spider
    # universe; a spider with zero in-flight work is closed (L3 sweep)
    sp = spark.range(4).select(F.col("id").cast("long").alias("spider_id"))
    pend = (
        _t(spark, sf, "documents")
        .filter(F.col("n_chars") > 290)
        .groupBy((F.col("doc_id") % 4).alias("spider_id"))
        .agg(F.count("*").alias("pending"))
    )
    return sp.join(pend, "spider_id", "left").select(
        "spider_id",
        F.coalesce("pending", F.lit(0)).alias("pending"),
        (F.coalesce("pending", F.lit(0)) == 0).alias("closed"),
    )


def _m9_scheduler_depth(spark, sf):
    # M9 scheduler depth: running enqueue(+1)/dequeue(-1) per user queue
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    delta = F.when(F.col("event_type").isin("click", "view"), 1).otherwise(-1)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return e.select(
        "user_id", "event_id", F.sum(delta).over(w).cast("long").alias("depth")
    )


def _i1_routing_counts(spark, sf):
    # I1/M7 through the REAL PipelineManager: typed routing + transform
    # chains + unrouted counting (manager.rs:51-99)
    from ironspark.pipeline import PipelineManager

    d = _t(spark, sf, "documents")
    items = d.select(
        (
            F.when(F.col("doc_id") % 3 == 0, F.lit("article"))
            .when(F.col("doc_id") % 3 == 1, F.lit("page"))
            .otherwise(F.lit("media"))
        ).alias("item_type"),
        "doc_id",
    )
    pm = PipelineManager()
    pm.add_pipeline("article", lambda df: df.filter(F.col("doc_id") % 2 == 0))
    pm.add_pipeline("page", lambda df: df)
    processed, unrouted = pm.process(items)
    return processed.groupBy("item_type").agg(
        F.count("*").alias("cnt")
    ).unionByName(
        unrouted.groupBy().agg(F.count("*").alias("cnt")).select(
            F.lit("__unrouted__").alias("item_type"), "cnt"
        )
    )


def _c_url_templates(spark, sf):
    # deterministic URL log derived from events: hosts h0..h49; h0 is a
    # session-id trap (every URL unique, one {H} template, share 1.0),
    # the rest paginate by event_type with numeric item ids ({D}
    # templates whose share splits across the host's event types)
    from ironspark.url import url_templates

    # project the three consumed columns before the parallelizing
    # exchange (_tp rationale) so the shuffle never carries props/ts
    ev = (
        _t(spark, sf, "events")
        .select("user_id", "event_id", "event_type")
        .repartition(
            spark.sparkContext.defaultParallelism, "user_id", "event_id"
        )
    )
    url = F.when(
        F.col("user_id") % 50 == 0,
        F.concat(
            F.lit("https://h0.example.com/s/"),
            F.md5(F.col("event_id").cast("string")),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 50).cast("string"),
            F.lit(".example.com/"),
            F.lower("event_type"),
            F.lit("/item"),
            (F.col("event_id") % 1000).cast("string"),
        )
    )
    return url_templates(
        ev.select(url.alias("url")), min_urls=10, trap_share=0.5
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "fr_recrawl_due": _fr_recrawl_due,
        "t_decontaminate": _t_decontaminate,
        "t_gopher_quality": _t_gopher_quality,
        "t_tfidf_topk": _t_tfidf_topk,
        "t_dup_ngrams": _t_dup_ngrams,
        "t_vocab_topk": _t_vocab_topk,
        "t_pii_scrub": _t_pii_scrub,
        "t_stratified_sample": _t_stratified_sample,
        "t_domain_stats": _t_domain_stats,
        "t_length_quantiles": _t_length_quantiles,
        "t_rep_signals": _t_rep_signals,
        "q2_supplier_region": _q2_supplier_region,
        "q3_part_brand": _q3_part_brand,
        "f3_politeness_topk": _f3_politeness_topk,
        "d5_redirects": _d5_redirects,
        "p7_antijoin_dedup": _p7_antijoin_dedup,
        "x1_exchange_join": _x1_exchange_join,
        "q1_lineitem_agg": _q1_lineitem_agg,
        "skew2p_salted_agg": _skew2p_salted_agg,
        "f4_admission": _f4_admission,
        "m8_spider_counters": _m8_spider_counters,
        "d2_status_filter": _d2_status_filter,
        "d1_retry_union": _d1_retry_union,
        "p8_canonicalize": _p8_canonicalize,
        "m1_counter_sums": _m1_counter_sums,
        "m2_status_histogram": _m2_status_histogram,
        "m3_error_histogram": _m3_error_histogram,
        "m6_peak_gauge": _m6_peak_gauge,
        "f2_fifo_order_limit": _f2_fifo_order_limit,
        "f5_backpressure_cap": _f5_backpressure_cap,
        "f7_rate_budget": _f7_rate_budget,
        "d3_error_classify": _d3_error_classify,
        "d4_wire_size": _d4_wire_size,
        "t_token_count": _t_token_count,
        "t_quality": _t_quality,
        "c_url_templates": _c_url_templates,
        "m9_scheduler_depth": _m9_scheduler_depth,
        "i1_routing_counts": _i1_routing_counts,
        "m5_avg": _m5_avg,
        "p5_regexp_extract": _p5_regexp_extract,
        "l1_registration": _l1_registration,
        "w_lag_running": _w_lag_running,
        "m4_minmax": _m4_minmax,
        "arr_array_funcs": _arr_array_funcs,
        "s_set_ops": _s_set_ops,
        "g_rollup": _g_rollup,
        "dt_date_funcs": _dt_date_funcs,
        "j_json_extract": _j_json_extract,
        "f9_robots_wildcard": _f9_robots_wildcard,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_MD5NUM_DUCK = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

# 10-word-chunk "lines" for the t_rep_signals oracle (mirrors
# _chunked_docs)
_CHUNKED_CTE = (
    "ws0 AS (SELECT doc_id, "
    "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws "
    "FROM documents), "
    "chunked AS (SELECT doc_id, array_to_string(list_transform("
    "generate_series(1, greatest(CAST(ceil(len(ws) / 10.0) AS INT), 1)), "
    "i -> array_to_string(ws[((i-1)*10+1):(i*10)], ' ')), chr(10)) AS text "
    "FROM ws0)"
)

# PII patterns (textops._PII_*) with SQL-literal quoting; identical
# byte-for-byte so the oracle exercises the same regex dialect subset
_PII_EMAIL_SQL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE_SQL = r"\+?\d(?:[ -]?\d){7,}"
_PII_IP_SQL = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_WORDS_CTE = (
    "words AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word "
    "FROM documents), w AS (SELECT doc_id, word FROM words WHERE word <> '')"
)


def oracle_sql() -> dict[str, str]:
    return {
        "m1_counter_sums": (
            "SELECT COUNT(*) AS n_requests, ROUND(SUM(value), 2) AS total_value FROM events"
        ),
        "m2_status_histogram": (
            "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type"
        ),
        "m3_error_histogram": (
            "SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus"
        ),
        "m4_minmax": (
            "SELECT ROUND(MIN(value), 6) AS min_value, ROUND(MAX(value), 6) AS max_value FROM events"
        ),
        "m5_avg": "SELECT ROUND(AVG(value), 6) AS avg_value, COUNT(*) AS n FROM events",
        "m6_peak_gauge": (
            "SELECT MAX(cnt) AS peak FROM "
            "(SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)"
        ),
        "f2_fifo_order_limit": (
            "SELECT o_orderkey, o_orderdate FROM orders "
            "ORDER BY o_orderdate, o_orderkey LIMIT 100"
        ),
        "f3_politeness_topk": (
            "SELECT source, doc_id, rk FROM (SELECT source, doc_id, "
            "ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk "
            "FROM documents) WHERE rk <= 3"
        ),
        "f5_backpressure_cap": (
            "SELECT event_id FROM events ORDER BY ts, event_id LIMIT 64"
        ),
        "f7_rate_budget": (
            "SELECT source, COUNT(*) AS pending, "
            "CAST(FLOOR(60.0 / (1.0 + LENGTH(source) % 5)) AS BIGINT) AS budget, "
            "LEAST(COUNT(*), CAST(FLOOR(60.0 / (1.0 + LENGTH(source) % 5)) AS BIGINT)) AS scheduled "
            "FROM documents GROUP BY source"
        ),
        "d1_retry_union": (
            "SELECT o_orderkey, 0 AS attempt FROM orders WHERE o_orderstatus = 'O' "
            "UNION ALL "
            "SELECT o_orderkey, 1 AS attempt FROM orders WHERE o_orderstatus = 'F'"
        ),
        "d2_status_filter": (
            "SELECT l_orderkey, l_linenumber FROM lineitem "
            "WHERE l_quantity < 10 OR l_returnflag IN ('R')"
        ),
        "d3_error_classify": (
            "SELECT CASE WHEN value < 10 THEN 'timeout' WHEN value < 50 THEN 'connect' "
            "ELSE 'unknown' END AS error_class, COUNT(*) AS cnt FROM events "
            "GROUP BY 1"
        ),
        "d4_wire_size": (
            "SELECT CAST(SUM(LENGTH('GET') + 1 + "
            "LENGTH(concat('/order/', CAST(o_orderkey AS VARCHAR))) + 1 + 10) AS BIGINT) "
            "AS total_bytes FROM orders"
        ),
        "p5_regexp_extract": (
            "SELECT doc_id, regexp_extract(text, '\\d+') AS first_num FROM documents"
        ),
        "p7_antijoin_dedup": (
            "SELECT c_custkey, c_name FROM customer c "
            "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "l1_registration": (
            "SELECT n_name, CAST(ROW_NUMBER() OVER (ORDER BY n_name) AS INT) AS spider_id "
            "FROM nation"
        ),
        "x1_exchange_join": (
            "SELECT r_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
        ),
        "q2_supplier_region": (
            "SELECT r_name, n_name, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "COUNT(*) AS n_items "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name, n_name"
        ),
        "q3_part_brand": (
            "SELECT p_brand, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "ROUND(AVG(p_retailprice), 6) AS avg_retail, "
            "COUNT(*) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_size <= 25 GROUP BY p_brand"
        ),
        "q1_lineitem_agg": (
            "SELECT l_returnflag, l_linestatus, "
            "ROUND(SUM(l_quantity), 2) AS sum_qty, "
            "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "ROUND(AVG(l_quantity), 6) AS avg_qty, "
            "COUNT(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2025-06-01' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "skew2p_salted_agg": (
            "SELECT l_returnflag, COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "s_set_ops": (
            "WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000), "
            "b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') "
            "SELECT o_custkey, 'both' AS src FROM (SELECT * FROM a INTERSECT SELECT * FROM b) "
            "UNION ALL "
            "SELECT DISTINCT o_custkey, 'big_only' AS src FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)"
        ),
        "g_rollup": (
            "SELECT COALESCE(l_returnflag, 'ALL') AS rf, "
            "COALESCE(l_linestatus, 'ALL') AS ls, "
            "COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS qty "
            "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "dt_date_funcs": (
            "SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y, "
            "CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q, "
            "COUNT(*) AS cnt, "
            "CAST(MIN(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS first_month "
            "FROM orders GROUP BY 1, 2"
        ),
        "j_json_extract": (
            # CAST the SUM: DuckDB SUM(BIGINT) yields HUGEINT (int128),
            # Spark sum(long) yields long — same value, different type,
            # and the driver's value-hash gate is type-sensitive.
            "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod, "
            "COUNT(*) AS cnt, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum "
            "FROM events GROUP BY 1"
        ),
        "arr_array_funcs": (
            "SELECT vec_id, CAST(len(embedding) AS INT) AS dim, "
            "ROUND(list_sum(embedding[1:8]::DOUBLE[]), 6) AS head_sum, "
            "ROUND(list_max(embedding::DOUBLE[]), 6) AS vmax "
            "FROM embeddings"
        ),
        "w_lag_running": (
            "SELECT user_id, event_id, "
            "LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event, "
            "ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value "
            "FROM events"
        ),
        "t_token_count": (
            "SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) "
            "AS n_tokens FROM documents"
        ),
        "t_quality": (
            "SELECT doc_id, "
            "CAST(LENGTH(text) AS BIGINT) AS n_chars, "
            "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, "
            "CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct, "
            "ROUND((LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))) "
            "/ GREATEST(LENGTH(text), 1), 6) AS punct_ratio, "
            "ROUND(len(list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x IN ('the','and','of','to','in','is','that','it','for','was'))) "
            "/ GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stop_ratio "
            "FROM documents"
        ),
        "t_dup_ngrams": (
            "WITH wl AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') AS ws FROM documents), "
            "sh AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(len(ws) - 4, 0)), "
            "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]"
            ")) AS shingle FROM wl), "
            "a AS (SELECT doc_id, COUNT(*) AS n_ngrams, COUNT(DISTINCT shingle) AS n_distinct "
            "FROM sh GROUP BY doc_id) "
            "SELECT d.doc_id, CAST(COALESCE(a.n_ngrams, 0) AS BIGINT) AS n_ngrams, "
            "CAST(COALESCE(a.n_distinct, 0) AS BIGINT) AS n_distinct, "
            "COALESCE(ROUND(1.0 - a.n_distinct * 1.0 / a.n_ngrams, 6), 0.0) AS dup_ratio "
            "FROM documents d LEFT JOIN a USING (doc_id)"
        ),
        "t_vocab_topk": (
            "WITH " + _WORDS_CTE + " SELECT word, CAST(COUNT(*) AS BIGINT) AS n "
            "FROM w GROUP BY word ORDER BY n DESC, word LIMIT 50"
        ),
        "t_stratified_sample": (
            "WITH keyed AS (SELECT doc_id, lang, source, "
            + _MD5NUM_DUCK.format(
                x="concat_ws('|', CAST(doc_id AS VARCHAR), 'split')"
            )
            + " % 1000 AS sample_bucket, "
            + _MD5NUM_DUCK.format(
                x="concat_ws('|', CAST(doc_id AS VARCHAR), 'split2')"
            )
            + " % 1000 AS split_bucket, "
            "CASE lang WHEN 'en' THEN 900 WHEN 'de' THEN 500 "
            "WHEN 'fr' THEN 500 WHEN 'es' THEN 250 ELSE 100 END AS keep_rate "
            "FROM documents) "
            "SELECT doc_id, lang, source, "
            "CAST(sample_bucket AS INT) AS sample_bucket, "
            "CASE WHEN split_bucket < 980 THEN 'train' "
            "WHEN split_bucket < 990 THEN 'val' ELSE 'test' END AS split "
            "FROM keyed WHERE sample_bucket < keep_rate"
        ),
        "t_length_quantiles": (
            "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "ROUND(quantile_cont(n_chars, 0.5), 6) AS p50, "
            "ROUND(quantile_cont(n_chars, 0.9), 6) AS p90, "
            "ROUND(quantile_cont(n_chars, 0.99), 6) AS p99 "
            "FROM documents GROUP BY lang"
        ),
        "c_url_templates": (
            "WITH u AS (SELECT CASE WHEN user_id % 50 = 0 "
            "THEN 'https://h0.example.com/s/' || md5(CAST(event_id AS VARCHAR)) "
            "ELSE 'https://h' || CAST(user_id % 50 AS VARCHAR) || '.example.com/' "
            "|| lower(event_type) || '/item' || CAST(event_id % 1000 AS VARCHAR) "
            "END AS url FROM events), "
            "t AS (SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host, "
            "regexp_replace(regexp_replace("
            "regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(.*)$', 1), "
            "'[0-9a-f]{8,}', '{H}', 'g'), '[0-9]+', '{D}', 'g') AS template FROM u), "
            "g AS (SELECT host, template, CAST(COUNT(*) AS BIGINT) AS n_urls "
            "FROM t WHERE host <> '' GROUP BY host, template), "
            "h AS (SELECT host, CAST(SUM(n_urls) AS BIGINT) AS host_urls "
            "FROM g GROUP BY host) "
            "SELECT host, template, n_urls, host_urls, "
            "ROUND(n_urls / host_urls, 6) AS url_share, "
            "(template LIKE '%{%' AND n_urls >= 10 AND n_urls / host_urls >= 0.5) "
            "AS is_trap FROM g JOIN h USING (host)"
        ),
        "t_rep_signals": (
            f"WITH {_CHUNKED_CTE}, "
            "lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line "
            "FROM chunked), "
            "pl AS (SELECT doc_id, line, CAST(COUNT(*) AS BIGINT) AS cnt "
            "FROM lines GROUP BY doc_id, line), "
            "ls AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines, "
            "CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_dup_lines, "
            "CAST(SUM((cnt - 1) * length(line)) AS BIGINT) AS dup_line_chars, "
            "CAST(SUM(cnt * length(line)) AS BIGINT) AS line_chars "
            "FROM pl GROUP BY doc_id), "
            "wl AS (SELECT doc_id, "
            "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws "
            "FROM chunked), "
            "sh AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(len(ws) - 1, 0)), "
            "i -> ws[i] || ' ' || ws[i+1])) AS shingle FROM wl), "
            "pg AS (SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS cnt "
            "FROM sh GROUP BY doc_id, shingle), "
            "tg AS (SELECT doc_id, CAST(MAX(cnt * length(shingle)) AS BIGINT) "
            "AS top_gram_chars FROM pg GROUP BY doc_id) "
            "SELECT c.doc_id, ls.n_lines, ls.n_dup_lines, "
            "ROUND(ls.n_dup_lines / ls.n_lines, 6) AS dup_line_frac, "
            "ROUND(ls.dup_line_chars / greatest(ls.line_chars, 1), 6) "
            "AS dup_line_char_frac, "
            "ROUND(COALESCE(tg.top_gram_chars, 0) / greatest(length(c.text), 1), 6) "
            "AS top_ngram_char_frac "
            "FROM chunked c LEFT JOIN ls USING (doc_id) "
            "LEFT JOIN tg USING (doc_id)"
        ),
        "t_domain_stats": (
            "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct, "
            "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
            "CAST(MIN(n_chars) AS BIGINT) AS min_chars, "
            "CAST(MAX(n_chars) AS BIGINT) AS max_chars, "
            "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, "
            "ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS BIGINT) "
            "/ CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio "
            "FROM documents GROUP BY source"
        ),
        "t_pii_scrub": (
            "SELECT doc_id, "
            "CAST(len(regexp_extract_all(text, '" + _PII_EMAIL_SQL + "')) AS BIGINT) AS n_emails, "
            "CAST(len(regexp_extract_all(text, '" + _PII_PHONE_SQL + "')) AS BIGINT) AS n_phones, "
            "CAST(len(regexp_extract_all(text, '" + _PII_IP_SQL + "')) AS BIGINT) AS n_ips, "
            "regexp_replace(regexp_replace(regexp_replace(text, "
            "'" + _PII_EMAIL_SQL + "', '<EMAIL>', 'g'), "
            "'" + _PII_PHONE_SQL + "', '<PHONE>', 'g'), "
            "'" + _PII_IP_SQL + "', '<IP>', 'g') AS clean_text "
            "FROM documents"
        ),
        "t_decontaminate": (
            "WITH wl AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') AS ws FROM documents), "
            "sh AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(len(ws) - 7, 0)), "
            "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' "
            "|| ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]"
            ")) AS shingle FROM wl), "
            "bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0), "
            "hits AS (SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_hits "
            "FROM sh s JOIN bench b USING (shingle) GROUP BY s.doc_id) "
            "SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, "
            "COALESCE(h.n_hits, 0) > 0 AS contaminated "
            "FROM documents d LEFT JOIN hits h USING (doc_id)"
        ),
        "t_gopher_quality": (
            "WITH wl AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') AS ws FROM documents), "
            "m AS (SELECT doc_id, len(ws) AS n_words, "
            "LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS n_nonws, "
            "len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS n_alpha, "
            "len(list_filter(['the','and','of','to','in','is','that','it','for','was'], "
            "s -> list_contains(ws, s))) AS n_stop FROM wl) "
            "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
            "ROUND(n_nonws * 1.0 / GREATEST(n_words, 1), 6) AS mean_word_len, "
            "ROUND(n_alpha * 1.0 / GREATEST(n_words, 1), 6) AS alpha_ratio, "
            "CAST(n_stop AS BIGINT) AS n_stop_hits, "
            "((n_words BETWEEN 20 AND 100000) "
            "AND (n_nonws * 1.0 / GREATEST(n_words, 1) >= 3.0) "
            "AND (n_nonws * 1.0 / GREATEST(n_words, 1) <= 10.0) "
            "AND (n_alpha * 1.0 / GREATEST(n_words, 1) >= 0.8) "
            "AND (n_stop >= 1)) AS keep FROM m"
        ),
        "t_tfidf_topk": (
            "WITH " + _WORDS_CTE + ", "
            "tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word), "
            "df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word), "
            "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
            "s AS (SELECT doc_id, word, tf, "
            "tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf "
            "FROM tf JOIN df USING (word) CROSS JOIN n), "
            "r AS (SELECT doc_id, word, tf, tfidf, row_number() OVER ("
            "PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn FROM s) "
            "SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, "
            "ROUND(tfidf, 6) AS tfidf, CAST(rn AS INT) AS rn FROM r WHERE rn <= 3"
        ),
        # f9: the robots rule sets are FIXED literals, so the RFC 9309
        # most-specific-match decision (wildcards compiled to regex on
        # the Spark side) expands to per-host CASE logic in DuckDB's
        # regex dialect — a cross-engine check of the wildcard
        # translation itself.
        "f9_robots_wildcard": (
            "WITH p AS (SELECT doc_id, 'h' || (doc_id % 3) || '.test' AS host, "
            "'/' || (['cc/pub/p','cc/p','docs/p','p'])[CAST(doc_id % 4 AS INT) + 1] "
            "|| doc_id "
            "|| CASE WHEN doc_id % 5 = 0 THEN '.pdf' ELSE '' END "
            "|| CASE WHEN doc_id % 7 = 0 THEN '?sessionid=' || doc_id ELSE '' END "
            "AS pq FROM documents) "
            "SELECT doc_id, host, 'http://' || host || pq AS url FROM p "
            "WHERE NOT ("
            "(host = 'h0.test' AND (regexp_matches(pq, '^/.*\\?sessionid=') "
            "OR regexp_matches(pq, '^/.*\\.pdf$'))) "
            "OR (host = 'h1.test' AND starts_with(pq, '/cc') "
            "AND NOT starts_with(pq, '/cc/pub')) "
            "OR (host = 'h2.test' AND regexp_matches(pq, '^/docs/.*\\.pdf$')))"
        ),
        "fr_recrawl_due": (
            "WITH h AS (SELECT 'http://h' || (user_id % 20) || '.test/u' || "
            "user_id || '/' || event_type AS url, "
            "'h' || (user_id % 20) || '.test' AS host, ts FROM events), "
            "l AS (SELECT url, host, max(ts) AS last_fetch, "
            "CAST(count(*) AS BIGINT) AS n_fetches FROM h GROUP BY url, host), "
            "d AS (SELECT *, epoch(TIMESTAMP '2024-01-31 00:00:00') - "
            "epoch(last_fetch) AS age_s FROM l "
            "WHERE epoch(TIMESTAMP '2024-01-31 00:00:00') - epoch(last_fetch) "
            ">= 259200.0), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY host "
            "ORDER BY age_s DESC, url) AS rk FROM d) "
            "SELECT url, host, last_fetch, n_fetches, "
            "ROUND(age_s, 6) AS age_seconds FROM r WHERE rk <= 5"
        ),
        # p8: the query template is a FIXED URL shape, so the pandas-UDF
        # canonicalization (scheme/host lowercase, :80 drop, dot-segment
        # removal, query sort, fragment strip) is expressible as string
        # arithmetic for exactly that shape.
        "p8_canonicalize": (
            "SELECT doc_id, concat('http://', lower(source), '.example.com/A/', "
            "CAST(doc_id AS VARCHAR), '?a=2&z=1') AS url_canon FROM documents"
        ),
        "f4_admission": (
            "WITH g AS (SELECT user_id % 8 AS grp, COUNT(*) AS pending "
            "FROM events GROUP BY 1) "
            "SELECT grp, pending, COALESCE(SUM(pending) OVER (ORDER BY grp "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) <= 5000 "
            "AS admitted FROM g"
        ),
        "d5_redirects": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 3 = 2 THEN concat('http://', source, '.ex.com/m/', CAST(doc_id AS VARCHAR)) "
            "ELSE concat('http://', source, '.ex.com/d/', CAST(doc_id AS VARCHAR)) END AS url_canon, "
            "CAST(CASE WHEN doc_id % 3 = 2 THEN 404 ELSE 200 END AS INT) AS resp_status, "
            "CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE octet_length(encode(text)) END AS BIGINT) AS bytes_resp "
            "FROM documents"
        ),
        "m8_spider_counters": (
            "WITH sp AS (SELECT unnest(generate_series(0, 3)) AS spider_id), "
            "p AS (SELECT doc_id % 4 AS spider_id, COUNT(*) AS pending "
            "FROM documents WHERE n_chars > 290 GROUP BY 1) "
            "SELECT CAST(sp.spider_id AS BIGINT) AS spider_id, "
            "CAST(COALESCE(p.pending, 0) AS BIGINT) AS pending, "
            "COALESCE(p.pending, 0) = 0 AS closed "
            "FROM sp LEFT JOIN p ON p.spider_id = sp.spider_id"
        ),
        "m9_scheduler_depth": (
            "SELECT user_id, event_id, "
            "CAST(SUM(CASE WHEN event_type IN ('click','view') THEN 1 ELSE -1 END) "
            "OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth "
            "FROM events"
        ),
        "i1_routing_counts": (
            "SELECT CASE WHEN doc_id % 3 = 0 THEN 'article' ELSE 'page' END AS item_type, "
            "COUNT(*) AS cnt FROM documents "
            "WHERE (doc_id % 3 = 0 AND doc_id % 2 = 0) OR doc_id % 3 = 1 GROUP BY 1 "
            "UNION ALL "
            "SELECT '__unrouted__' AS item_type, COUNT(*) AS cnt FROM documents "
            "WHERE doc_id % 3 = 2"
        ),
    }
