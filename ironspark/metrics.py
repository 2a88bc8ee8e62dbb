"""Per-(wave, partition) lineage + metrics (FIXTURES.md §8).

The reference's atomic counters (``src/downloader/stat.rs``,
``src/pipeline/stat.rs``, ``src/spider/stat.rs``,
``src/scheduler/stat.rs``) become one metrics row per (wave,
partition), derived entirely from the parse stage's output: kind="resp"
rows carry fetch lineage (status, acceptance, retryability, wire
bytes), item/request rows carry parse lineage. ONE aggregation pass,
zero extra scans of the corpus or responses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ironspark.schemas import METRICS_SCHEMA


_SUM_COLS = [
    "scheduled", "fetched", "failed", "retried", "parsed", "dropped",
    "items", "outlinks", "bytes_req", "bytes_resp",
]


def wave_metrics_fine(
    parse_out: DataFrame, unrouted: Column | None = None
) -> DataFrame:
    """ONE aggregation per wave at (partition_id, resp_status) grain.

    Serves BOTH consumers of wave lineage — the per-partition metrics
    rows AND the per-status histogram (monitor M2) — from a single
    collect (the histogram used to be its own job per wave; at ~96
    grouped rows the extra grain is free, the saved job launch is not).
    Item/request rows land in the null-status group of their partition
    and roll up normally. ``unrouted`` is the pipelines' routing
    predicate (PipelineManager.unrouted): the item rows it holds for
    are counted here (M7), not by a job of their own; None counts 0.
    """
    is_item = F.col("kind") == "item"
    if unrouted is None:
        unrouted = F.lit(False)
    is_resp = F.col("kind") == "resp"
    # fetched/failed follow the ACCEPTANCE rule (status < 400 OR in
    # http_error_allow_codes — already evaluated into `accepted` by the
    # parse pass), not a bare status threshold: with allow codes set, an
    # allow-listed 4xx counts as fetched (downloader.rs:236-247).
    ok = F.col("accepted")
    return parse_out.groupBy("partition_id", "resp_status").agg(
        F.sum(is_resp.cast("long")).alias("scheduled"),
        F.sum((is_resp & ok).cast("long")).alias("fetched"),
        F.sum((is_resp & ~ok).cast("long")).alias("failed"),
        F.sum((is_resp & F.col("retryable")).cast("long")).alias("retried"),
        F.sum((is_resp & F.col("accepted")).cast("long")).alias("parsed"),
        F.sum((is_resp & ok & ~F.col("routed")).cast("long")).alias("dropped"),
        F.sum(is_item.cast("long")).alias("items"),
        F.sum((F.col("kind") == "request").cast("long")).alias("outlinks"),
        F.sum(F.when(is_resp, F.col("bytes_req")).otherwise(0)).alias("bytes_req"),
        F.sum(F.when(is_resp, F.col("bytes_resp")).otherwise(0)).alias("bytes_resp"),
        # a null predicate (null item_type beside chains) counts 0
        F.sum((is_item & unrouted).cast("long")).alias("unrouted"),
        # parent_seq bounds of the wave's outlinks, piggybacked on the
        # same pass: they parameterize the enqueue's monotone bucket
        # partitioner (frontier.with_global_seq bounds=), replacing the
        # range-sampling job that used to re-execute the whole
        # candidate chain once per wave
        F.min(F.when(F.col("kind") == "request", F.col("parent_seq"))).alias("ps_min"),
        F.max(F.when(F.col("kind") == "request", F.col("parent_seq"))).alias("ps_max"),
    )


def rollup_wave_metrics(
    fine_rows, wave: int, t_fetch_ms: float
) -> tuple[list[dict], dict[int, int], tuple]:
    """(metrics rows per METRICS_SCHEMA, {resp_status: count},
    (ps_min, ps_max)) from the fine collect — pure driver-side
    arithmetic over ~partitions x statuses rows. One row per partition,
    then the wave's partition_id -1 row, which holds the wave's
    unrouted count; the engine sets its ``deduped`` once the seen
    anti-join has run."""
    per_part: dict[int, dict] = {}
    status_counts: dict[int, int] = {}
    ps_min = ps_max = None
    unrouted = 0
    for r in fine_rows:
        p = int(r["partition_id"])
        d = per_part.setdefault(p, {c: 0 for c in _SUM_COLS})
        for c in _SUM_COLS:
            d[c] += int(r[c] or 0)
        unrouted += int(r["unrouted"] or 0)
        if r["resp_status"] is not None and r["scheduled"]:
            s = int(r["resp_status"])
            status_counts[s] = status_counts.get(s, 0) + int(r["scheduled"])
        if r["ps_min"] is not None:
            v = int(r["ps_min"])
            ps_min = v if ps_min is None else min(ps_min, v)
        if r["ps_max"] is not None:
            v = int(r["ps_max"])
            ps_max = v if ps_max is None else max(ps_max, v)
    base = {f.name: 0 for f in METRICS_SCHEMA.fields}
    base.update(wave=wave, t_fetch_ms=float(t_fetch_ms), t_parse_ms=0.0)
    mrows = [{**base, **per_part[p], "partition_id": p} for p in sorted(per_part)]
    mrows.append({**base, "partition_id": -1, "unrouted": unrouted})
    return mrows, status_counts, (ps_min, ps_max)
