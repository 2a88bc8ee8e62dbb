"""End-to-end smoke: 3 article chains, duplicate seeds, full wave loop."""

import pandas as pd
import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import article_seeds, build_chain_corpus
from ironspark.engine import CrawlEngine
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import ArticleSpider


@pytest.fixture(scope="module")
def chain_setup(spark):
    pages = spark.createDataFrame(build_chain_corpus(3, 5), PAGES_SCHEMA)
    seeds = spark.createDataFrame(article_seeds(3, 5, dup=3), SEEDS_SCHEMA)
    spiders = {i: ArticleSpider() for i in (1, 2, 3)}
    return pages, seeds, spiders


def test_chain_crawl_dedup(spark, chain_setup, tmp_path):
    pages, seeds, spiders = chain_setup
    cfg = EngineConfig(dedup=True, max_waves=10, respect_robots=False)
    eng = CrawlEngine(spark, pages, spiders, cfg)
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "run"))

    # 3 chains x 5 articles; dedup folds the 3x duplicate seeds
    assert stats.waves == 5  # one wave per chain level
    assert stats.scheduled == 15
    assert stats.items == 15
    items = eng.items_df(stats.run_dir)
    pdf = items.toPandas()
    assert len(pdf) == 15
    assert set(pdf["title"]) == {f"Article {n}" for n in range(1, 6)}
    assert set(pdf["author"]) == {f"Author {n % 7}" for n in range(1, 6)}
    # byte-identity: item text matches the corpus ground-truth text
    truth = pages.select("url", "text").toPandas().set_index("url")["text"]
    for _, row in pdf.iterrows():
        assert row["text"] == truth[row["src_url"]]


def test_trace_phases_per_wave(spark, chain_setup, tmp_path, capsys, monkeypatch):
    """The [trace] lines perfbench/trace.py parses: every wave prints
    these phases, once each, in this order."""
    import re

    import ironspark.engine as engine_mod

    monkeypatch.setattr(engine_mod, "_TRACE", True)
    pages, seeds, spiders = chain_setup
    cfg = EngineConfig(dedup=True, max_waves=10, respect_robots=False)
    stats = CrawlEngine(spark, pages, spiders, cfg).run(
        seeds=seeds, run_dir=str(tmp_path / "run")
    )
    phases: dict[int, list[str]] = {}
    for m in re.finditer(
        r"^\[trace\] wave=(\d+) (\S+): [\d.]+s$", capsys.readouterr().out, re.M
    ):
        phases.setdefault(int(m[1]), []).append(m[2])
    assert sorted(phases) == list(range(stats.waves))
    for wave in phases.values():
        assert wave == [
            "schedule+order", "fetch+parse+metrics", "items", "await-seen",
            "enqueue(seq-jobs)", "tail(submit)", "dedup+seq+frontier",
        ]


def test_chain_crawl_no_dedup_reference_parity(spark, chain_setup, tmp_path):
    """dedup=False: the reference engine never dedups (scheduler is a plain
    FIFO channel) — 9 seeds stay 9 chains-in-flight."""
    pages, seeds, spiders = chain_setup
    cfg = EngineConfig(dedup=False, max_waves=10, respect_robots=False)
    eng = CrawlEngine(spark, pages, spiders, cfg)
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "run2"))
    # 3 spiders x 3 dup seeds x 5 levels = 45 fetches, 45 items
    assert stats.scheduled == 45
    assert stats.items == 45


def test_crawl_order_is_fifo(spark, chain_setup, tmp_path):
    pages, seeds, spiders = chain_setup
    cfg = EngineConfig(dedup=True, max_waves=10, respect_robots=False)
    eng = CrawlEngine(spark, pages, spiders, cfg)
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "run3"))
    order = eng.crawl_order_df(stats.run_dir).toPandas()
    order = order.sort_values("seq")
    # seq strictly increasing and wave non-decreasing along seq
    assert order["seq"].is_unique
    assert (order.sort_values("seq")["wave"].diff().dropna() >= 0).all()
    # wave 0 = the three deduped seeds in (spider_id, seed_rank) order
    w0 = order[order["wave"] == 0]
    assert list(w0["url_canon"]) == [
        "http://c0.example.com:5000/article/5",
        "http://c1.example.com:5000/article/5",
        "http://c2.example.com:5000/article/5",
    ]


def test_resume_matches_uninterrupted(spark, chain_setup, tmp_path):
    pages, seeds, spiders = chain_setup
    cfg_full = EngineConfig(dedup=True, max_waves=10, respect_robots=False)
    eng = CrawlEngine(spark, pages, spiders, cfg_full)
    full = eng.run(seeds=seeds, run_dir=str(tmp_path / "full"))

    cfg_half = EngineConfig(dedup=True, max_waves=3, respect_robots=False)
    eng2 = CrawlEngine(spark, pages, spiders, cfg_half)
    eng2.run(seeds=seeds, run_dir=str(tmp_path / "part"))
    cfg_rest = EngineConfig(dedup=True, max_waves=10, respect_robots=False)
    eng3 = CrawlEngine(spark, pages, spiders, cfg_rest)
    resumed = eng3.run(run_dir=str(tmp_path / "part"), resume=True)

    a = eng.items_df(str(tmp_path / "full")).select("src_url", "title", "author", "text")
    b = eng3.items_df(str(tmp_path / "part")).select("src_url", "title", "author", "text")
    assert sorted(a.collect()) == sorted(b.collect())
    oa = eng.crawl_order_df(str(tmp_path / "full")).toPandas().sort_values("seq")
    ob = eng3.crawl_order_df(str(tmp_path / "part")).toPandas().sort_values("seq")
    assert list(oa["url_canon"]) == list(ob["url_canon"])
    assert list(oa["seq"]) == list(ob["seq"])


def test_raising_crawl_restores_session(spark, tmp_path):
    """A spider that raises mid-wave must leave the shared session as it
    found it: AQE and the corpus scan split size restored, and the
    engine's I/O pool threads joined."""
    import threading

    from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
    from ironspark.spider import LinkSpider

    class BrokenSpider(LinkSpider):
        def parse_batch(self, pdf):
            raise RuntimeError("spider boom")

    pdir = str(tmp_path / "pages")
    spark.createDataFrame(
        build_graph_corpus_pdf(40, n_hosts=4), PAGES_SCHEMA
    ).write.parquet(pdir)
    pages = spark.read.parquet(pdir)  # file-backed: split size overridden
    seeds = spark.createDataFrame(graph_seeds(40, 4, 4), SEEDS_SCHEMA)
    keys = ("spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes")
    before = {k: spark.conf.get(k, None) for k in keys}
    pools_before = {
        t for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor")
    }
    eng = CrawlEngine(
        spark, pages, {1: BrokenSpider()},
        EngineConfig(max_waves=3, respect_robots=False),
    )
    assert eng._scan_split_bytes() is not None
    with pytest.raises(Exception, match="spider boom"):
        eng.run(seeds=seeds, run_dir=str(tmp_path / "run"))
    assert {k: spark.conf.get(k, None) for k in keys} == before
    pools_after = {
        t for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor")
    }
    assert pools_after <= pools_before
