"""Continuous-crawl composition: crawl → age → recrawl (VERDICT r5 #1).

frontier.recrawl_due (stalest-first per-host selection) composed
through the engine wave loop: a crawl completes, the clock advances
past cfg.recrawl_interval_s, a resumed run re-admits the stale URLs
stalest-first under the recrawl budget and re-fetches them. The due
URLs go straight into the frontier, so seen membership is left as it
was: the seen table keeps each crawled URL exactly once, and the
cuckoo prune the resumed run builds at its first shuffle_hash probe
answers "maybe seen" for every one of them.
"""

from datetime import datetime, timedelta

import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import article_seeds, build_chain_corpus
from ironspark.engine import CrawlEngine
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import ArticleSpider

T0 = datetime(2026, 1, 1, 0, 0, 0)
N_CHAINS, LENGTH = 3, 4  # hosts c0..c2.example.com, 4 articles each


class TickClock:
    """Deterministic auto-advancing clock: every engine _now() call
    moves wall time forward, so each wave stamps a distinct fetch_ts
    (distinct staleness per chain level)."""

    def __init__(self, start: datetime, step_s: float = 100.0):
        self.t = start
        self.step = timedelta(seconds=step_s)

    def advance(self, seconds: float) -> None:
        self.t += timedelta(seconds=seconds)

    def __call__(self) -> datetime:
        self.t += self.step
        return self.t


def _build(spark, clock, **over):
    pages = spark.createDataFrame(
        build_chain_corpus(N_CHAINS, LENGTH), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(
        article_seeds(N_CHAINS, LENGTH, dup=1), SEEDS_SCHEMA
    )
    spiders = {i: ArticleSpider() for i in range(1, N_CHAINS + 1)}
    kw = dict(
        dedup=True,
        respect_robots=False,
        seen_backend="cuckoo",
        recrawl_interval_s=3600.0,
        recrawl_per_host_budget=2,
        max_waves=40,
        seen_broadcast_max_rows=0,  # shuffle regime: the prune is probed
        extra={"clock": clock},
    )
    kw.update(over)
    cfg = EngineConfig(**kw)
    return CrawlEngine(spark, pages, spiders, cfg), seeds


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("recrawl") / "run")
    clock = TickClock(T0)
    eng, seeds = _build(spark, clock)
    stats1 = eng.run(seeds=seeds, run_dir=run_dir)
    order1 = eng.crawl_order_df(run_dir).toPandas()

    # age the crawl past the interval, then resume: the frontier is
    # empty, so the loop's freshness tick must drive the whole cycle
    clock.advance(7200.0)
    eng2, _ = _build(spark, clock)
    stats2 = eng2.run(run_dir=run_dir, resume=True)
    order2 = eng2.crawl_order_df(run_dir).toPandas()
    return eng2, run_dir, stats1, stats2, order1, order2


def test_first_run_stops_fresh(cycle):
    _, _, stats1, _, order1, _ = cycle
    # nothing was due at the first frontier-empty tick (max age ≈
    # waves × 100 s < interval), so the run shut down normally
    assert stats1.waves == LENGTH
    assert len(order1) == N_CHAINS * LENGTH


def test_resume_refetches_every_stale_url(cycle):
    _, _, _, stats2, order1, order2 = cycle
    # every aged url is re-fetched exactly once across the recrawl
    # cycles (budget 2/host per tick -> 2 ticks per host)
    re = order2[~order2["seq"].isin(order1["seq"])]
    assert len(re) == N_CHAINS * LENGTH
    assert sorted(re["url_canon"]) == sorted(order1["url_canon"])
    assert stats2.scheduled == N_CHAINS * LENGTH
    # and the run terminated by itself (ticks ran dry), not max_waves
    assert stats2.waves < 40


def test_recrawl_order_is_stalest_first_per_host(cycle):
    _, _, _, _, order1, order2 = cycle
    re = order2[~order2["seq"].isin(order1["seq"])]
    orig_ts = order1.set_index("url_canon")["fetch_ts"]
    for host, grp in re.groupby("host"):
        got = list(grp.sort_values("seq")["url_canon"])
        want = sorted(got, key=lambda u: (orig_ts[u], u))
        assert got == want, f"host {host}: {got} != stalest-first {want}"


def test_seen_membership_exact_after_delete_readd(spark, cycle):
    eng2, run_dir, _, _, order1, _ = cycle
    from ironspark.engine import TableIO

    seen = TableIO(spark, run_dir).read("seen").toPandas()
    # exactly the crawled url set, each url present exactly once: a
    # re-admitted url that is still seen is not appended again
    assert sorted(seen["url_canon"]) == sorted(order1["url_canon"])


def test_cuckoo_prune_consistent_after_cycle(spark, cycle):
    eng2, run_dir, _, _, order1, _ = cycle
    from pyspark.sql import functions as F

    from ironspark.seen import ShardedCuckoo

    assert isinstance(eng2._bloom, ShardedCuckoo)
    urls = spark.createDataFrame(
        [(u,) for u in order1["url_canon"]], "url_canon string"
    )
    got = urls.withColumn(
        "m", eng2._bloom.maybe_seen_udf()(F.col("url_canon"))
    ).toPandas()
    assert got["m"].all()  # no false negatives after the recrawl cycle


def test_recrawl_off_by_default(spark, tmp_path):
    clock = TickClock(T0)
    eng, seeds = _build(spark, clock, recrawl_interval_s=None)
    run_dir = str(tmp_path / "off")
    stats = eng.run(seeds=seeds, run_dir=run_dir)
    clock.advance(7200.0)
    eng2, _ = _build(spark, clock, recrawl_interval_s=None)
    stats2 = eng2.run(run_dir=run_dir, resume=True)
    # no tick: the resumed run sees an empty frontier, executes zero
    # waves, and stops (stats.waves counts waves run THIS call)
    assert stats.waves == LENGTH
    assert stats2.scheduled == 0 and stats2.waves == 0
