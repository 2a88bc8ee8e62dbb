"""Merge-on-read frontier: per-wave writes are O(wave), compaction is
amortized, resume works mid-contention (segments + tombstones in the
manifest), and the fast path hands each wave's frame to the next."""

import os

import pandas as pd
import pytest

from ironspark import engine as engine_mod
from ironspark.config import EngineConfig
from ironspark.corpus import (
    article_seeds,
    build_chain_corpus,
    build_graph_corpus_pdf,
    graph_seeds,
)
from ironspark.engine import CrawlEngine
from ironspark.schemas import PAGES_SCHEMA, ROBOTS_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import ArticleSpider, LinkSpider
from tests.reference_executor import run_reference

N_PAGES, N_HOSTS = 400, 4


@pytest.fixture(scope="module")
def contended(spark):
    """Tight budgets: hosts hold far more pending than a wave schedules,
    so the deferred backlog dominates — the slow (tombstone) path."""
    pages_pdf = build_graph_corpus_pdf(N_PAGES, N_HOSTS)
    seeds_pdf = graph_seeds(N_PAGES, 40, N_HOSTS)
    hosts = sorted(pages_pdf["url"].map(lambda u: u.split("/")[2]).unique())
    delays = {h: 6.0 for h in hosts}  # budget 10/host/wave at 60s waves
    robots_pdf = pd.DataFrame(
        [{"host": h, "crawl_delay": d, "disallow": [], "allow": []}
         for h, d in delays.items()]
    )
    corpus = {row["url"]: row["html"] for _, row in pages_pdf.iterrows()}
    return (
        spark.createDataFrame(pages_pdf, PAGES_SCHEMA),
        spark.createDataFrame(seeds_pdf, SEEDS_SCHEMA),
        spark.createDataFrame(robots_pdf, ROBOTS_SCHEMA),
        corpus,
        seeds_pdf,
        delays,
    )


def _cfg(**kw):
    return EngineConfig(
        dedup=True, wave_seconds=60.0, default_crawl_delay=1.0,
        respect_robots=True, **kw,
    )


def test_delta_write_volume_and_parity(spark, contended, tmp_path, monkeypatch):
    pages, seeds, robots, corpus, seeds_pdf, delays = contended
    monkeypatch.setattr(engine_mod, "_FRONTIER_MAX_SEGMENTS", 3)
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg(max_waves=8),
                      robots=robots)
    run_dir = str(tmp_path / "delta")
    stats = eng.run(seeds=seeds, run_dir=run_dir)

    # per-wave frontier writes: delta dirs hold exactly retry+new rows
    for w, n_rows in enumerate(stats.wave_frontier_rows):
        d = os.path.join(run_dir, "frontier", f"wave={w + 1}")
        got = spark.read.parquet(d).count()
        assert got == n_rows, f"wave {w}: delta dir {got} != lineage {n_rows}"
    # contention really happened: politeness capped every wave at
    # hosts x budget (4 x 10) while the discovered backlog kept growing
    assert max(stats.wave_scheduled) <= N_HOSTS * 10
    assert stats.outlinks - stats.deduped + 40 > stats.scheduled, (
        "no deferred backlog — test corpus no longer exercises the slow path"
    )
    # compaction kicked in (segment cap 3) and wrote a base segment
    assert os.path.isdir(os.path.join(run_dir, "frontier_base")) or (
        stats.waves <= 3
    ), "no compaction despite > max_segments contended waves"

    # exactness: crawl order still matches the single-threaded spec
    ref = run_reference(
        corpus,
        [(r.spider_id, r.url, r.seed_rank) for r in seeds_pdf.itertuples()],
        dedup=True, wave_seconds=60.0, default_crawl_delay=1.0,
        crawl_delays=delays, max_waves=8, spider_kind="link",
    )
    order = eng.crawl_order_df(run_dir).orderBy("seq", "wave").collect()
    got = [(r.seq, r.wave, r.url_canon) for r in order]
    assert got == sorted(ref.order)


def test_resume_mid_contention(spark, contended, tmp_path):
    """Interrupt while segments+tombstones are live; resume must replay
    identically to the uninterrupted crawl."""
    pages, seeds, robots, corpus, seeds_pdf, delays = contended
    full_dir = str(tmp_path / "full")
    eng = CrawlEngine(spark, pages, {1: LinkSpider()},
                      _cfg(max_waves=6), robots=robots)
    eng.run(seeds=seeds, run_dir=full_dir)

    part_dir = str(tmp_path / "part")
    eng2 = CrawlEngine(spark, pages, {1: LinkSpider()},
                       _cfg(max_waves=3), robots=robots)
    eng2.run(seeds=seeds, run_dir=part_dir)
    eng3 = CrawlEngine(spark, pages, {1: LinkSpider()},
                       _cfg(max_waves=6), robots=robots)
    eng3.run(run_dir=part_dir, resume=True)

    oa = eng.crawl_order_df(full_dir).toPandas().sort_values(["seq", "wave"])
    ob = eng3.crawl_order_df(part_dir).toPandas().sort_values(["seq", "wave"])
    assert list(oa["url_canon"]) == list(ob["url_canon"])
    assert list(oa["seq"]) == list(ob["seq"])
    assert list(oa["wave"]) == list(ob["wave"])


def test_fast_path_hands_off_every_wave(spark, tmp_path, monkeypatch):
    """On the fast path (everything pending scheduled, no staged seeds
    or hooks) each wave plans against the previous wave's checkpointed
    frame: the pending plan is a bare LogicalRDD scan however long the
    chain, and no wave reads its segment back from parquet."""
    n_waves = 12
    pages = spark.createDataFrame(build_chain_corpus(1, n_waves), PAGES_SCHEMA)
    seeds = spark.createDataFrame(article_seeds(1, n_waves, dup=1), SEEDS_SCHEMA)
    plans = []
    select = engine_mod.select_wave

    def select_spy(pending, *args, **kwargs):
        plans.append(pending._jdf.queryExecution().logical())
        return select(pending, *args, **kwargs)

    monkeypatch.setattr(engine_mod, "select_wave", select_spy)
    cfg = EngineConfig(dedup=True, max_waves=n_waves + 2, respect_robots=False)
    stats = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg).run(
        seeds=seeds, run_dir=str(tmp_path / "run")
    )
    assert stats.waves == n_waves == len(plans)
    for wave, plan in enumerate(plans[1:], start=1):
        assert plan.nodeName() == "LogicalRDD", (wave, plan.toString())
        assert plan.children().size() == 0, (wave, plan.toString())
