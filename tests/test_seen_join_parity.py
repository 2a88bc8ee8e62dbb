"""Seen-join regime equivalence: every physical plan for the exact
dedup anti-join ("broadcast", "flip", "shuffle_hash") must produce the
IDENTICAL crawl (items, order, seen). flip is the mid-regime for a seen
set that has outgrown the wave but not the shuffle crossover;
shuffle_hash is the 10^10-url plan (config.py threshold comments).

The engine picks the regime itself, so each one is forced through the
thresholds it resolves from, and the run must record the regimes it was
meant to take. The Bloom/cuckoo prune is built at the first
shuffle_hash probe, from the whole seen table, so the cases also cover
a crawl that crosses into shuffle_hash mid-run, a resume that crosses
it, and one engine running two crawls; a crawl or resume that never
probes builds no filter."""

from __future__ import annotations

import pandas as pd
import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
from ironspark.engine import CrawlEngine
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.seen import ShardedBloom, ShardedCuckoo
from ironspark.spider import LinkSpider
from tests.reference_executor import run_reference

N_PAGES, N_SEEDS, N_HOSTS, MAX_WAVES = 90, 9, 7, 8

# thresholds that force each regime on every wave (seen rows > 0)
_FORCE = {
    "broadcast": {"seen_flip_ratio": float("inf")},
    "flip": {"seen_flip_ratio": 0.0},
    "shuffle_hash": {"seen_broadcast_max_rows": 0},
}
# seen rows at the three waves' dedup are 9, 42 and 90: wave 0 stays
# broadcast, waves 1-2 cross into shuffle_hash
_CROSS = {"seen_flip_ratio": float("inf"), "seen_broadcast_max_rows": 20}


@pytest.fixture(scope="module")
def corpus(spark):
    pages_pdf = build_graph_corpus_pdf(N_PAGES, n_hosts=N_HOSTS)
    seeds_pdf = graph_seeds(N_PAGES, N_SEEDS, N_HOSTS)
    pages = spark.createDataFrame(pages_pdf, PAGES_SCHEMA)
    return pages, pages_pdf, seeds_pdf


def _engine(spark, corpus, backend="bloom", **over):
    kw = dict(
        dedup=True, seen_backend=backend, max_waves=MAX_WAVES,
        respect_robots=False, wave_seconds=3600.0, bloom_capacity=1 << 12,
    )
    cfg = EngineConfig(**{**kw, **over})
    return CrawlEngine(spark, corpus[0], {1: LinkSpider()}, cfg)


def _seeds(spark, corpus):
    return spark.createDataFrame(corpus[2], SEEDS_SCHEMA)


def _result(eng, run_dir, counts):
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
    return counts, items, order, seen


def _counts(*runs):
    # items/scheduled count per run(); deduped continues from the manifest
    return (
        sum(s.items for s in runs),
        sum(s.scheduled for s in runs),
        runs[-1].deduped,
    )


def _run(spark, corpus, tmp_path, mode):
    run_dir = str(tmp_path / mode)
    if mode == "resume-crossing":
        # cut after one broadcast wave: nothing probed, nothing built
        eng = _engine(spark, corpus, "cuckoo", max_waves=1, **_FORCE["broadcast"])
        s1 = eng.run(seeds=_seeds(spark, corpus), run_dir=run_dir)
        assert s1.wave_seen_join == ["broadcast"] and eng._bloom is None
        # a fresh engine resumes in shuffle_hash: the filter is built
        # from the whole seen table at its first probe
        eng = _engine(spark, corpus, "cuckoo", **_FORCE["shuffle_hash"])
        s2 = eng.run(run_dir=run_dir, resume=True)
        assert s2.waves >= 2 and set(s2.wave_seen_join) == {"shuffle_hash"}
        assert isinstance(eng._bloom, ShardedCuckoo)
        # restoring the finished crawl in broadcast builds nothing
        probe = _engine(spark, corpus, "cuckoo", **_FORCE["broadcast"])
        assert probe.run(run_dir=run_dir, resume=True).waves == 0
        assert probe._bloom is None
        return _result(eng, run_dir, _counts(s1, s2))
    if mode == "reused-engine":
        # a first crawl of a dead url builds a filter that knows none of
        # the second crawl's urls; the second run must start without it
        eng = _engine(spark, corpus, "cuckoo", **_FORCE["shuffle_hash"])
        dead = spark.createDataFrame(
            [(1, "http://dead.example.com/gone", 0)], SEEDS_SCHEMA
        )
        eng.run(seeds=dead, run_dir=str(tmp_path / "dead"))
        assert eng._bloom is not None
        stats = eng.run(seeds=_seeds(spark, corpus), run_dir=run_dir)
        assert set(stats.wave_seen_join) == {"shuffle_hash"}
        return _result(eng, run_dir, _counts(stats))
    if mode.startswith("crossing-"):
        eng = _engine(spark, corpus, mode.split("-", 1)[1], **_CROSS)
        stats = eng.run(seeds=_seeds(spark, corpus), run_dir=run_dir)
        assert stats.wave_seen_join == ["broadcast", "shuffle_hash", "shuffle_hash"]
        assert isinstance(eng._bloom, (ShardedBloom, ShardedCuckoo))
        return _result(eng, run_dir, _counts(stats))
    eng = _engine(spark, corpus, **_FORCE[mode])
    stats = eng.run(seeds=_seeds(spark, corpus), run_dir=run_dir)
    assert stats.waves >= 2
    assert set(stats.wave_seen_join) == {mode}
    # the prune is probed only in shuffle_hash, and built only there
    assert (eng._bloom is None) == (mode != "shuffle_hash")
    return _result(eng, run_dir, _counts(stats))


@pytest.fixture(scope="module")
def broadcast(spark, corpus, tmp_path_factory):
    res = _run(spark, corpus, tmp_path_factory.mktemp("seen_join"), "broadcast")
    _, pages_pdf, seeds_pdf = corpus
    ref = run_reference(
        {r["url"]: r["html"] for _, r in pages_pdf.iterrows()},
        [(r.spider_id, r.url, r.seed_rank) for r in seeds_pdf.itertuples()],
        dedup=True, wave_seconds=3600.0, max_waves=MAX_WAVES,
        spider_kind="link",
    )
    assert res[2] == sorted(ref.order)
    assert res[3] == ref.seen
    return res


@pytest.mark.parametrize(
    "mode",
    [
        "flip", "shuffle_hash", "crossing-bloom", "crossing-cuckoo",
        "resume-crossing", "reused-engine",
    ],
)
def test_seen_join_regimes_equal_broadcast(spark, corpus, broadcast, tmp_path, mode):
    counts_b, items_b, order_b, seen_b = broadcast
    counts_m, items_m, order_m, seen_m = _run(spark, corpus, tmp_path, mode)
    assert counts_b == counts_m
    pd.testing.assert_frame_equal(items_b, items_m)
    assert order_b == order_m
    assert seen_b == seen_m
