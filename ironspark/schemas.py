"""All StructType schemas for the engine plane (SURVEY.md §1).

Reference record types (cites into /root/reference):
  Request  src/request.rs:8-15   -> FRONTIER_SCHEMA rows
  Response src/response.rs:8-26  -> RESPONSE columns (body BINARY)
  items    src/item.rs:3         -> per-type item schemas + item_type tag
  stats    src/*/stat.rs         -> METRICS_SCHEMA rows per (wave, partition)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# -- corpus: the crawl substrate (BASELINE.json input_hint shape) -----------
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# -- seeds (FIXTURES.md §2) --------------------------------------------------
SEEDS_SCHEMA = StructType(
    [
        StructField("spider_id", LongType()),
        StructField("url", StringType()),
        StructField("seed_rank", IntegerType()),
    ]
)

# -- frontier: the scheduler state table (FIXTURES.md §3) ---------------------
# status: pending | fetched | failed | exhausted
FRONTIER_SCHEMA = StructType(
    [
        StructField("url_canon", StringType()),
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("spider_id", LongType()),
        StructField("seq", LongType()),
        # NOTE: wave is NOT a data column — it is the segment directory
        # (frontier/wave=N), derived by partition discovery on read
        StructField("attempt", IntegerType()),
        StructField("method", StringType()),
        StructField("headers", MapType(StringType(), StringType())),
        StructField("body", StringType()),
        StructField("meta", MapType(StringType(), StringType())),
        StructField("status", StringType()),
    ]
)

# -- robots / politeness budgets (FIXTURES.md §4) -----------------------------
ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("crawl_delay", DoubleType()),
        StructField("disallow", ArrayType(StringType())),
        # RFC 9309 Allow rules; precedence is longest-match, allow wins
        # ties (politeness.robots_disallow_filter)
        StructField("allow", ArrayType(StringType())),
    ]
)

# -- parse output: a union of outlink rows, item rows, and response rows -----
# kind: "request" | "item" | "resp"  (reference SpiderResult enum,
# src/spider/spider.rs:37-45; routing src/spider/manager.rs:283-307).
# "resp" rows carry per-response fetch lineage (one per scheduled row:
# status, acceptance, retryability, wire bytes) so metrics and the retry
# path never re-run the corpus join. "request" rows carry url_canon +
# host computed inside the same Arrow pass (one Python round-trip per
# wave total).
PARSE_OUT_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("spider_id", LongType()),
        StructField("parent_seq", LongType()),
        StructField("link_index", IntegerType()),
        StructField("out_url", StringType()),
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
        StructField("item_type", StringType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
        StructField("number", LongType()),
        StructField("src_url", StringType()),
        StructField("text", StringType()),
        StructField("resp_status", IntegerType()),
        StructField("accepted", BooleanType()),
        StructField("routed", BooleanType()),
        StructField("retryable", BooleanType()),
        StructField("bytes_req", LongType()),
        StructField("bytes_resp", LongType()),
        # response-side cookie seam (S6): carried on "resp" rows so the
        # engine's per-host jar never re-runs the fetch join
        StructField("set_cookie", StringType()),
    ]
)

# -- per-(wave, partition) lineage + metrics (FIXTURES.md §8) ------------------
METRICS_SCHEMA = StructType(
    [
        StructField("wave", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("scheduled", LongType()),
        StructField("fetched", LongType()),
        StructField("failed", LongType()),
        StructField("retried", LongType()),
        StructField("parsed", LongType()),
        StructField("items", LongType()),
        StructField("outlinks", LongType()),
        StructField("deduped", LongType()),
        # dropped: accepted responses whose spider_id has no registered
        # spider (reference counts these, src/pipeline/manager.rs:96-98)
        StructField("dropped", LongType()),
        # unrouted: items whose item_type has no pipeline chain (M7)
        StructField("unrouted", LongType()),
        StructField("bytes_req", LongType()),
        StructField("bytes_resp", LongType()),
        StructField("t_fetch_ms", DoubleType()),
        StructField("t_parse_ms", DoubleType()),
    ]
)

SEEN_SCHEMA = StructType([StructField("url_canon", StringType())])

# merge-on-read tombstones: the (seq, attempt) keys scheduled so far
CONSUMED_SCHEMA = StructType(
    [StructField("seq", LongType()), StructField("attempt", IntegerType())]
)

# per-wave status histogram (monitor M2 pane)
STATUS_SCHEMA = StructType(
    [
        StructField("wave", IntegerType()),
        StructField("resp_status", IntegerType()),
        StructField("count", LongType()),
    ]
)

# wave comes from the partition directory (order/wave=N) on read.
# host + spider_id + fetch_ts make the order sink double as the FETCH
# HISTORY a continuous crawl needs: frontier.recrawl_due reads
# (url, host, ts) from here to pick stale URLs for re-admission.
CRAWL_ORDER_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
        StructField("spider_id", LongType()),
        StructField("fetch_ts", TimestampType()),
    ]
)
