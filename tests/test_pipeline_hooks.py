"""Item pipelines, request/response hooks, and spider admission (F4/I*)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ironspark.config import EngineConfig
from ironspark.corpus import article_seeds, build_chain_corpus
from ironspark.engine import CrawlEngine
from ironspark.pipeline import PipelineManager
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import ArticleSpider


@pytest.fixture(scope="module")
def setup(spark):
    pages = spark.createDataFrame(build_chain_corpus(2, 4), PAGES_SCHEMA)
    seeds = spark.createDataFrame(article_seeds(2, 4, dup=1), SEEDS_SCHEMA)
    return pages, seeds


def test_pipeline_priority_chain_and_drop(spark, setup, tmp_path):
    """Reference semantics (manager.rs:51-99): chains run ascending by
    priority; a drop (filter) short-circuits later transforms."""
    pages, seeds = setup
    pm = PipelineManager()
    # priority 10 runs FIRST: rewrite author (basic_spider.rs transform)
    pm.add_pipeline(
        "article",
        lambda df: df.withColumn("author", F.lit("Transformed author")),
        priority=10,
    )
    # priority 30 runs second: drop articles with number <= 1
    pm.add_pipeline("article", lambda df: df.filter(F.col("number") > 1), priority=30)
    cfg = EngineConfig(dedup=True, max_waves=8, respect_robots=False)
    eng = CrawlEngine(
        spark, pages, {1: ArticleSpider(), 2: ArticleSpider()}, cfg, pipelines=pm
    )
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "r1"))
    items = eng.items_df(stats.run_dir).toPandas()
    assert set(items["author"]) == {"Transformed author"}
    assert (items["number"] > 1).all()
    assert len(items) == 2 * 3  # 4-chains minus the number==1 page


def test_pipeline_unrouted_counted(spark, setup):
    pm = PipelineManager()
    pm.add_pipeline("article", lambda df: df, priority=1)
    items = spark.createDataFrame(
        pd.DataFrame(
            {"item_type": ["article", "unknown"], "title": ["a", "b"]}
        )
    )
    processed, unrouted = pm.process(items)
    assert processed.count() == 1
    assert unrouted.count() == 1
    assert unrouted.first()["item_type"] == "unknown"


def _parse_out(spark):
    """A wave's parse output over 3 partitions: 2 responses, 5 items
    (one with a null item_type) and an outlink."""
    from ironspark.schemas import PARSE_OUT_SCHEMA

    base = {f.name: None for f in PARSE_OUT_SCHEMA.fields}
    resp = dict(base, kind="resp", resp_status=200, accepted=True,
                routed=True, retryable=False, bytes_req=10, bytes_resp=20)
    rows = [
        dict(resp, partition_id=0),
        dict(resp, partition_id=1),
        dict(base, kind="request", partition_id=1, parent_seq=3),
    ] + [
        dict(base, kind="item", partition_id=p, item_type=t, title=str(p))
        for p, t in ((0, "article"), (0, "unknown"), (1, "unknown"),
                     (2, "article"), (2, None))
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=list(base)), PARSE_OUT_SCHEMA
    )


@pytest.mark.parametrize("chains", [("article",), (), None])
def test_fused_unrouted_count_equals_process(spark, chains):
    """The metrics pass counts the unrouted items the wave used to count
    with a job of its own, PipelineManager.process(items)[1].count(),
    and its rollup puts the total on the partition_id -1 row: a null
    item_type beside chains is not counted, with no chains every item
    is, and with no pipelines none is."""
    from ironspark.metrics import rollup_wave_metrics, wave_metrics_fine

    parse_out = _parse_out(spark)
    items = parse_out.filter(F.col("kind") == "item")
    if chains is None:
        pm, want = None, 0
    else:
        pm = PipelineManager()
        for t in chains:
            pm.add_pipeline(t, lambda df: df)
        want = pm.process(items)[1].count()
    assert want == {("article",): 2, (): 5, None: 0}[chains]
    fine = wave_metrics_fine(
        parse_out, None if pm is None else pm.unrouted()
    ).collect()
    assert sum(r["unrouted"] for r in fine) == want
    mrows, status, _ = rollup_wave_metrics(fine, 4, 1.5)
    assert [r["partition_id"] for r in mrows] == [0, 1, 2, -1]
    assert [r["unrouted"] for r in mrows] == [0, 0, 0, want]
    assert [r["items"] for r in mrows] == [2, 1, 2, 0]
    assert all(r["wave"] == 4 and r["t_parse_ms"] == 0.0 for r in mrows)
    assert status == {200: 2}


def test_request_response_hooks(spark, setup, tmp_path):
    """North rule: middleware hooks are DataFrame transform stages."""
    pages, seeds = setup
    cfg = EngineConfig(dedup=True, max_waves=8, respect_robots=False)
    eng = CrawlEngine(spark, pages, {1: ArticleSpider(), 2: ArticleSpider()}, cfg)
    # request hook: drop every c1.example.com request pre-fetch
    eng.register_request_hook(
        lambda df: df.filter(~F.col("host").startswith("c1."))
    )
    # response hook: tag protocol-style metadata post-fetch
    eng.register_response_hook(
        lambda df: df.withColumn("resp_status", F.col("resp_status"))
    )
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "r2"))
    items = eng.items_df(stats.run_dir).toPandas()
    assert len(items) == 4  # only the c0 chain crawled
    assert all("c0.example.com" in u for u in items["src_url"])


def test_deactivation_sweep_closes_idle_spiders(spark, tmp_path):
    """L3: a spider with zero in-flight work is closed mid-run
    (reference sweep, manager.rs:188-199)."""
    from ironspark.corpus import build_chain_corpus
    import pandas as pd

    closed_at = {}

    class TrackingSpider(ArticleSpider):
        def __init__(self, sid):
            super().__init__()
            self.sid = sid

        def close(self):
            closed_at.setdefault(self.sid, True)

    # spider 1 crawls a 2-chain, spider 2 a 5-chain
    pages = spark.createDataFrame(
        pd.concat(
            [
                pd.DataFrame(__import__("ironspark.corpus", fromlist=["chain_pages"]).chain_pages("c0.example.com", 2)),
                pd.DataFrame(__import__("ironspark.corpus", fromlist=["chain_pages"]).chain_pages("c1.example.com", 5)),
            ],
            ignore_index=True,
        ),
        PAGES_SCHEMA,
    )
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {
                "spider_id": [1, 2],
                "url": [
                    "http://c0.example.com:5000/article/2",
                    "http://c1.example.com:5000/article/5",
                ],
                "seed_rank": [0, 0],
            }
        ),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(
        dedup=True, max_waves=10, respect_robots=False, track_spiders=True
    )
    eng = CrawlEngine(
        spark, pages, {1: TrackingSpider(1), 2: TrackingSpider(2)}, cfg
    )
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "sweep"))
    assert closed_at == {1: True, 2: True}
    assert stats.closed_spiders >= 1  # spider 1 closed before shutdown
    assert stats.items == 7


def test_spider_admission_staggered(spark, setup, tmp_path):
    """F4: staged seed groups activate only while the frontier holds
    <= scheduler_holding_threshold pending requests."""
    pages, seeds_all = setup
    g1 = seeds_all.filter(F.col("spider_id") == 1)
    g2 = seeds_all.filter(F.col("spider_id") == 2)
    cfg = EngineConfig(
        dedup=True, max_waves=20, respect_robots=False,
        scheduler_holding_threshold=0,  # activate only when frontier empty
    )
    eng = CrawlEngine(spark, pages, {1: ArticleSpider(), 2: ArticleSpider()}, cfg)
    stats = eng.run(
        seeds=g1, run_dir=str(tmp_path / "r3"), staged_seeds=[g2]
    )
    items = eng.items_df(stats.run_dir).toPandas()
    # both spiders eventually crawled their full chains
    assert len(items) == 8
    order = eng.crawl_order_df(stats.run_dir).toPandas().sort_values("seq")
    # spider 2's seed is scheduled only after spider 1's chain drained
    c1_waves = order[order["url_canon"].str.contains("c0.example")]["wave"]
    c2_waves = order[order["url_canon"].str.contains("c1.example")]["wave"]
    assert c2_waves.min() > c1_waves.max()
