"""Seen-join regime equivalence: every physical plan for the exact
dedup anti-join ("broadcast", "flip", "shuffle_hash") must produce the
IDENTICAL crawl (items, order, seen). flip is the mid-regime for a seen
set that has outgrown the wave but not the shuffle crossover;
shuffle_hash is the 10^10-url plan (config.py threshold comments).

The engine picks the regime itself, so each one is forced through the
thresholds it resolves from, and the run must record that regime for
every wave."""

from __future__ import annotations

import pandas as pd
import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
from ironspark.engine import CrawlEngine
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import LinkSpider


# thresholds that force each regime on every wave (seen rows > 0)
_FORCE = {
    "broadcast": {"seen_flip_ratio": float("inf")},
    "flip": {"seen_flip_ratio": 0.0},
    "shuffle_hash": {"seen_broadcast_max_rows": 0},
}


def _run(spark, tmp_path, regime):
    pages = spark.createDataFrame(
        build_graph_corpus_pdf(90, n_hosts=7), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(graph_seeds(90, 9, 7), SEEDS_SCHEMA)
    cfg = EngineConfig(
        dedup=True, seen_backend="bloom", max_waves=8,
        respect_robots=False, wave_seconds=3600.0, bloom_capacity=1 << 12,
        **_FORCE[regime],
    )
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg)
    run_dir = str(tmp_path / regime)
    stats = eng.run(seeds=seeds, run_dir=run_dir)
    assert stats.waves >= 2
    assert set(stats.wave_seen_join) == {regime}
    items = (
        eng.items_df(run_dir).toPandas()
        .sort_values(["src_url", "wave"]).reset_index(drop=True)
        [["item_type", "title", "author", "src_url", "text", "wave"]]
    )
    order = [
        (r.seq, r.wave, r.url_canon)
        for r in eng.crawl_order_df(run_dir).orderBy("seq", "wave").collect()
    ]
    seen = {r.url_canon for r in eng.seen_df(run_dir).collect()}
    return stats, items, order, seen


@pytest.mark.parametrize("mode", ["flip", "shuffle_hash"])
def test_seen_join_regimes_equal_broadcast(spark, tmp_path, mode):
    sb, items_b, order_b, seen_b = _run(spark, tmp_path, "broadcast")
    sm, items_m, order_m, seen_m = _run(spark, tmp_path, mode)
    assert (sb.items, sb.scheduled, sb.deduped) == (
        sm.items, sm.scheduled, sm.deduped
    )
    pd.testing.assert_frame_equal(items_b, items_m)
    assert order_b == order_m
    assert seen_b == seen_m
