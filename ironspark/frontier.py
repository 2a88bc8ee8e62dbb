"""Frontier operations: FIFO seq discipline, seed injection, enqueue.

Reference: the FIFO SimpleScheduler (``src/scheduler/scheduler.rs:34-76``)
made deterministic — Spark promises no cross-partition order, so FIFO is
materialized as a monotone ``seq`` column (SURVEY.md §4.3.3): seeds are
numbered by (spider_id, seed_rank, url); discovered links by
(parent_seq, link_index). Dequeue order is then simply ``orderBy(seq)``.

Scale note: a naive ``row_number().over(Window.orderBy(...))`` funnels
the whole frontier through ONE task. ``with_global_seq`` instead does a
distributed range-partitioned sort, numbers rows per partition in
parallel, and shifts by per-partition offsets (a tiny driver-side
cumulative sum) — the classic scalable zip-with-index.

Cache ownership: the module keeps no state. ``with_global_seq`` (and
through it ``seeds_to_frontier`` and ``enqueue_outlinks``) appends the
two frames it persists to the caller's ``caches`` list; the engine
passes its wave's one list (``engine.RunState.caches``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ironspark.url import with_canonical

# NOTE: no `wave` data column — a frontier row's wave is its segment
# directory (frontier/wave=N), and order/items tables likewise derive
# wave from their partition directory at read time. Keeping it out of
# the data keeps every per-wave plan literal-free, so whole-stage
# codegen compiles ONCE per plan shape instead of once per wave
# (wave-varying int literals inline into the generated source).
_FRONTIER_COLS = (
    "url_canon", "url", "host", "spider_id", "seq", "attempt",
    "method", "headers", "body", "meta", "status",
)


def with_global_seq(
    df: DataFrame,
    order_cols: list[str],
    base_seq: int = 0,
    bounds: tuple[int, int] | None = None,
    *,
    caches: list,
) -> tuple[DataFrame, int]:
    """Dense global 1-based sequence by order_cols, offset by base_seq.

    Returns (df_with_seq, total_rows) — the total falls out of the
    offset computation for free (callers use it as the enqueue count).

    order_cols must be a unique total order. Three parallel steps:
    contiguous-run bucketing by the leading order column, per-bucket
    row_number (parallel window), per-bucket offsets via a tiny
    count-collect. No single-partition global window anywhere.

    Bucketing strategies (both give buckets that are contiguous runs of
    the total order, which is all the offset cumsum needs):

    * ``bounds=(lo, hi)`` — KNOWN bounds of order_cols[0]: the bucket
      id is a pure column expression, linear in the leading key. ONE
      job materializes the input (the count); this is the wave hot
      path — the engine gets the bounds for free from the fused
      metrics pass (wave_metrics_fine ps_min/ps_max).
    * ``bounds=None`` — repartitionByRange: adds the range-boundary
      SAMPLING job, which executes the whole child plan a second time.
      Kept for callers with no cheap bounds (seed numbering).

    The INPUT is persisted first so the sampling/count job's execution
    of the child plan (dedup groupBy + seen anti-join) is not repeated
    by the later consumer of the returned frame. Both persisted frames
    go into ``caches`` (module docstring).
    """
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    src = df.persist()
    caches.append(src)
    if bounds is not None and bounds[0] is not None and bounds[1] is not None:
        lo, hi = int(bounds[0]), int(bounds[1])
        span = max(hi - lo + 1, 1)
        lead = F.col(order_cols[0])
        # 8x more buckets than partitions: the window stage places
        # BUCKETS on shuffle partitions by hash, and with exactly
        # nparts bucket ids the collisions leave some partitions with
        # 2-3 buckets and others empty (measured as window-stage skew
        # at the 400k scale); oversampling smooths the placement the
        # way repartitionByRange's exact ranges did
        nbuckets = nparts * 8
        pid = F.least(
            F.lit(nbuckets - 1),
            F.greatest(
                F.lit(0),
                ((lead - F.lit(lo)) * F.lit(nbuckets) / F.lit(span)).cast("int"),
            ),
        )
        d = src.withColumn("_pid", pid)
    else:
        nbuckets = nparts
        d = src.repartitionByRange(
            nparts, *[F.col(c) for c in order_cols]
        ).withColumn("_pid", F.spark_partition_id())
    d = d.persist()
    caches.append(d)
    counts = dict(d.groupBy("_pid").count().collect())
    acc = 0
    offs = [0] * nbuckets
    for p in sorted(counts):
        offs[p] = acc
        acc += counts[p]
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    # ONE array literal (a codegen reference object, not an inlined
    # constant — keeps the write plan's generated source identical
    # across waves) carrying base_seq folded into every offset
    off_expr = F.element_at(
        F.lit([int(base_seq + o) for o in offs]), F.col("_pid") + 1
    )
    out_df = (
        d.withColumn("_rn", F.row_number().over(w))
        .withColumn("seq", (off_expr + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn")
    )
    return out_df, acc


def _first_per_url(f: DataFrame) -> DataFrame:
    """Keep the lowest-seq row per url_canon (within-batch self-dedup)."""
    wd = Window.partitionBy("url_canon").orderBy("seq")
    return (
        f.withColumn("_rk", F.row_number().over(wd))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def _finish_frontier(f: DataFrame) -> DataFrame:
    return (
        f.withColumn("attempt", F.lit(0))
        .withColumn("method", F.lit("GET"))
        .withColumn("headers", F.lit(None).cast("map<string,string>"))
        .withColumn("body", F.lit(None).cast("string"))
        .withColumn("meta", F.lit(None).cast("map<string,string>"))
        .withColumn("status", F.lit("pending"))
        .select(*_FRONTIER_COLS)
    )


def seeds_to_frontier(
    seeds: DataFrame, dedup: bool = True, base_seq: int = 0, *, caches: list
) -> tuple[DataFrame, int]:
    """Seed rows -> (wave-0 pending frontier with deterministic seq,
    total seed rows numbered).

    Reference seed injection: ``src/spider/manager.rs:239-279``. Seed
    dedup (dedup=True) keeps the FIRST occurrence per url_canon — the
    reference example emits 30 duplicate seeds on purpose
    (basic_spider.rs:93-107), which reference-parity mode (dedup=False)
    preserves. The returned total counts EVERY numbered seed including
    dropped duplicates — the reference's seq counter advances for
    duplicates too (spec: tests/reference_executor.py seed loop), so
    callers must continue from base_seq + total, not max(surviving seq).
    """
    f = with_canonical(seeds, "url").filter(F.col("url_canon").isNotNull())
    f, total = with_global_seq(
        f, ["spider_id", "seed_rank", "url_canon"], base_seq, caches=caches
    )
    if dedup:
        f = _first_per_url(f)
    return _finish_frontier(f), total


def prepare_candidates(outlinks: DataFrame, dedup: bool = True) -> DataFrame:
    """Parse-emitted request rows -> candidate frontier rows.

    outlinks columns: spider_id, parent_seq, link_index, out_url,
    url_canon, host (canonicalization already done inside the parse
    pass — see parse.py). dedup=True self-dedups within the batch,
    first occurrence in (parent_seq, link_index) order winning — the
    reference's arrival discipline under canonical single-threaded
    execution (SURVEY.md §4.3.3). Implemented as groupBy + min_by so
    the output stays hash-partitioned by url_canon and the subsequent
    seen anti-join reuses the exchange (one shuffle, not two).
    Cross-wave dedup (seen) and seq assignment happen AFTER this step,
    so dropped duplicates never consume seq numbers.
    """
    f = outlinks.filter(F.col("url_canon").isNotNull())
    if not dedup:
        return f.withColumnRenamed("out_url", "url").select(
            "url_canon", "url", "host", "spider_id", "parent_seq", "link_index"
        )
    first = F.min_by(
        F.struct("out_url", "host", "spider_id", "parent_seq", "link_index"),
        F.struct("parent_seq", "link_index"),
    ).alias("w")
    return f.groupBy("url_canon").agg(first).select(
        "url_canon",
        F.col("w.out_url").alias("url"),
        F.col("w.host").alias("host"),
        F.col("w.spider_id").alias("spider_id"),
        F.col("w.parent_seq").alias("parent_seq"),
        F.col("w.link_index").alias("link_index"),
    )


def enqueue_outlinks(
    candidates: DataFrame,
    base_seq: int,
    bounds: tuple[int, int] | None = None,
    *,
    caches: list,
) -> tuple[DataFrame, int]:
    """Canonicalized (and seen-filtered) candidates -> (pending frontier
    rows with seq continuing the global FIFO, row count). bounds =
    (min, max) parent_seq of the wave's outlinks when known (fused
    metrics pass) — elides the range-sampling job."""
    f, n = with_global_seq(
        candidates, ["parent_seq", "link_index"], base_seq, bounds=bounds,
        caches=caches,
    )
    return _finish_frontier(f.drop("parent_seq", "link_index")), n


def recrawl_due(
    history: DataFrame,
    now,
    interval_seconds: float = 7 * 86400.0,
    per_host_budget: int = 5,
) -> DataFrame:
    """Freshness-driven recrawl selection for a CONTINUOUS crawl.

    The reference crawls once and stops; a production frontier cycles:
    every URL carries its fetch history, and each scheduling round
    re-admits the stalest due URLs under the same per-host politeness
    budget the first-visit scheduler uses (the deletable cuckoo seen
    backend exists exactly so re-admitted URLs can clear their seen
    fingerprint, seen.py ShardedCuckoo).

    history: (url, host, ts) — one row per past fetch. A URL is due
    when now - last_fetch >= interval_seconds; due URLs rank
    stalest-first per host and the top ``per_host_budget`` win.
    Deterministic tie-break on url so reruns (and the DuckDB oracle)
    agree.

    Scale shape: ONE hash-agg by (url, host) — shuffle carries only
    the key columns — then a per-host window over the due subset.
    Hosts number in the millions at web scale so the window
    partitioning is naturally wide; a single mega-host's due set is
    bounded by its own URL count, and the same two-phase salted-rank
    treatment as politeness.select_wave applies if one host ever
    dominates a round (budget here is small, so phase 1 alone would
    cut it to buckets x budget rows).

    Returns (url, host, last_fetch, n_fetches, age_seconds) of the
    scheduled URLs.
    """
    last = history.groupBy("url", "host").agg(
        F.max("ts").alias("last_fetch"), F.count("*").alias("n_fetches")
    )
    age = F.col("age_seconds")
    due = last.withColumn(
        "age_seconds",
        F.lit(now).cast("timestamp").cast("double")
        # NTZ columns (parquet default) refuse a direct double cast;
        # the hop through TIMESTAMP is exact under the UTC session tz
        - F.col("last_fetch").cast("timestamp").cast("double"),
    ).filter(age >= F.lit(float(interval_seconds)))
    w = Window.partitionBy("host").orderBy(
        F.col("age_seconds").desc(), F.col("url")
    )
    return (
        due.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= per_host_budget)
        .drop("_rk")
    )
