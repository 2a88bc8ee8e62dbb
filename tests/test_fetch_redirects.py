"""Fetch stage: redirects table, misses and corpus-scan pruning."""

import pandas as pd

from ironspark.config import EngineConfig
from ironspark.corpus import article_seeds, build_chain_corpus
from ironspark.engine import CrawlEngine, TableIO
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import ArticleSpider


def test_redirects_resolution(spark, tmp_path):
    """D5: a redirects(src,dst) table maps the request to the final URL
    before the corpus probe (reqwest follows redirects transparently);
    a URL neither redirected nor in the corpus is a 404 miss."""
    pages = spark.createDataFrame(build_chain_corpus(1, 2), PAGES_SCHEMA)
    # seed 0 points at a MOVED url; redirect maps it onto the real chain
    # head. Seed 1 is gone: no redirect, no page.
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {
                "spider_id": [1, 1],
                "url": [
                    "http://old.example.com/article/2",
                    "http://old.example.com/article/9",
                ],
                "seed_rank": [0, 1],
            }
        ),
        SEEDS_SCHEMA,
    )
    redirects = spark.createDataFrame(
        pd.DataFrame(
            {
                "src": ["http://old.example.com/article/2"],
                "dst": ["http://c0.example.com:5000/article/2"],
            }
        )
    )
    cfg = EngineConfig(dedup=True, max_waves=4, respect_robots=False)
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg, redirects=redirects)
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "redir"))
    items = eng.items_df(stats.run_dir).toPandas()
    assert len(items) == 2  # followed the redirected chain 2 -> 1
    assert set(items["title"]) == {"Article 2", "Article 1"}
    # the miss is fetched once plus max_retry_times retries, all 404
    status = TableIO(spark, stats.run_dir).read("status").toPandas()
    assert set(status["resp_status"]) == {200, 404}
    assert status.loc[status["resp_status"] == 404, "count"].sum() == (
        cfg.max_retry_times + 1
    )
    assert stats.exhausted == 1


def test_corpus_scan_column_pruning(spark):
    """The fetch plan must prune the corpus scan to url/html/warc_ts and
    keep text/lang out (Catalyst column pruning through the join)."""
    from ironspark.fetch import fetch_from_corpus
    from ironspark.frontier import seeds_to_frontier

    pages = spark.createDataFrame(build_chain_corpus(1, 2), PAGES_SCHEMA)
    seeds = spark.createDataFrame(article_seeds(1, 2, dup=1), SEEDS_SCHEMA)
    sched, _ = seeds_to_frontier(seeds, caches=[])
    plan = fetch_from_corpus(
        sched, pages.select("url", "html", "warc_ts")
    )._jdf.queryExecution().executedPlan().toString()
    assert "text" not in plan.lower() or "ReadSchema" not in plan  # pruned
