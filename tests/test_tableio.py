"""TableIO, the engine's state store: a full crawl and a resumed leg
read back through it, the seen-set invalidation rewrite (committed as a
snapshot), and recovery from a crash inside that rewrite."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
from ironspark.engine import CrawlEngine, TableIO
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import LinkSpider


def _setup(spark, n=80):
    pages = spark.createDataFrame(
        build_graph_corpus_pdf(n, n_hosts=6), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(graph_seeds(n, 8, 6), SEEDS_SCHEMA)
    return pages, seeds


def test_crawl_and_resume(spark, tmp_path):
    """Full crawl, then a resumed second leg with an injected seed
    group; the resumed leg keeps the first leg's metrics history and
    crawl order."""
    pages, seeds = _setup(spark)
    cfg = EngineConfig(dedup=True, seen_backend="bloom", max_waves=3,
                       respect_robots=False, wave_seconds=3600.0,
                       bloom_capacity=1 << 12)
    run_dir = str(tmp_path / "run")
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg)
    stats1 = eng.run(seeds=seeds, run_dir=run_dir)
    assert stats1.items > 0 and stats1.waves >= 2

    io = TableIO(spark, run_dir)
    man = io.manifest()
    assert man is not None and man["next_wave"] == stats1.waves
    n_items_1 = eng.items_df(run_dir).count()
    n_seen_1 = eng.seen_df(run_dir).count()
    assert n_seen_1 >= n_items_1 > 0
    assert eng.metrics_df(run_dir).count() > 0

    # resume with more waves allowed + a fresh staged seed group
    cfg2 = EngineConfig(dedup=True, seen_backend="bloom", max_waves=10,
                        respect_robots=False, wave_seconds=3600.0,
                        bloom_capacity=1 << 12,
                        scheduler_holding_threshold=10**9)
    grp = spark.createDataFrame(
        pd.DataFrame([(1, "http://h0001.example.com/page/3", 0)],
                     columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )
    eng2 = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg2)
    stats2 = eng2.run(run_dir=run_dir, resume=True, staged_seeds=[grp])
    assert stats2.waves > stats1.waves and stats2.scheduled > 0
    assert eng2.items_df(run_dir).count() >= n_items_1
    assert eng2.seen_df(run_dir).count() >= n_seen_1
    # the metrics flush of the resumed leg keeps every wave of the first,
    # and appends each (wave, partition) row once
    m2 = eng2.metrics_df(run_dir).toPandas()
    assert set(m2["wave"]) >= set(range(stats1.waves))
    assert not m2.duplicated(["wave", "partition_id"]).any()
    # seq numbers never reused across the resume boundary (a retry may
    # re-schedule its seq, but always in a distinct wave)
    order = eng2.crawl_order_df(run_dir)
    assert order.count() == stats1.scheduled + stats2.scheduled
    assert not order.toPandas().duplicated(["seq", "wave"]).any()


def test_invalidation_rewrite(spark, tmp_path):
    pages, seeds = _setup(spark)
    cfg = EngineConfig(dedup=True, seen_backend="cuckoo", max_waves=3,
                       respect_robots=False, wave_seconds=3600.0,
                       bloom_capacity=1 << 12)
    run_dir = str(tmp_path / "inv")
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg)
    eng.run(seeds=seeds, run_dir=run_dir)
    seen = [r.url_canon for r in eng.seen_df(run_dir).collect()]
    victim = sorted(seen)[0]
    assert eng.invalidate_seen(run_dir, [victim]) == 1
    left = {r.url_canon for r in eng.seen_df(run_dir).collect()}
    assert victim not in left and len(left) == len(seen) - 1
    # the rewrite committed a snapshot listing the swapped-in files
    io = TableIO(spark, run_dir)
    via_snap = [r.url_canon for r in io.read_at_snapshot("seen").collect()]
    assert sorted(via_snap) == sorted(left)
    duck = duckdb.connect().execute(
        "SELECT url_canon FROM read_parquet(?)",
        [io.snapshot_table_files("seen")],
    ).fetchall()
    assert sorted(r[0] for r in duck) == sorted(left)


def test_rewrite_crash_recovers_on_resume(spark, tmp_path, monkeypatch):
    """A crash inside the seen rewrite loses nothing. Before its
    snapshot commit, the resume's restore() deletes the new files and
    the table is the old one; after it, restore() deletes the old files
    and the table is the rewritten one. Opening a TableIO deletes
    nothing."""
    urls = [f"http://h{i % 3}.example.com/p/{i}" for i in range(12)]
    victims = urls[:3]
    eng = CrawlEngine(
        spark, None, {1: LinkSpider()}, EngineConfig(seen_backend="exact")
    )

    def crash(*a, **kw):
        raise OSError("injected crash")

    # (method that raises, seen set the resume must find)
    cases = [("commit", set(urls)), ("_prune", set(urls) - set(victims))]
    for i, (attr, want) in enumerate(cases):
        run_dir = str(tmp_path / f"crash{i}")
        io = TableIO(spark, run_dir)
        for wave in (0, 1):
            io.write(
                spark.createDataFrame(
                    [(u,) for u in urls[wave::2]], "url_canon string"
                ),
                "seen", wave,
            )
        io.commit({"next_wave": 2})
        monkeypatch.setattr(TableIO, attr, crash)
        with pytest.raises(OSError, match="injected crash"):
            eng.invalidate_seen(run_dir, victims)
        monkeypatch.undo()

        reopened = TableIO(spark, run_dir)
        # both sides of the swap are still on disk
        assert reopened.read("seen").count() == 2 * len(urls) - len(victims)
        assert reopened.restore() == {"next_wave": 2}
        got = [r.url_canon for r in reopened.read("seen").collect()]
        assert sorted(got) == sorted(want), attr
        via_snap = [r.url_canon for r in reopened.read_at_snapshot("seen").collect()]
        assert sorted(via_snap) == sorted(want), attr
