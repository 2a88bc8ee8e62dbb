"""Crawl-order + URL-seen + items parity vs the single-threaded executor.

The distributed engine must reproduce the canonical semantics EXACTLY:
same (seq -> url) schedule, same seen membership, same items — on a
corpus with politeness contention, 404s/retries, duplicate links,
invalid UTF-8, and a skewed host (FIXTURES.md §6).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
from ironspark.engine import CrawlEngine
from ironspark.schemas import PAGES_SCHEMA, ROBOTS_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import LinkSpider
from tests.reference_executor import run_reference

N_PAGES = 600
N_HOSTS = 10


@pytest.fixture(scope="module")
def graph(spark):
    pages_pdf = build_graph_corpus_pdf(N_PAGES, N_HOSTS)
    seeds_pdf = graph_seeds(N_PAGES, 8, N_HOSTS)
    # politeness pressure: small budgets on some hosts
    hosts = sorted(pages_pdf["url"].map(lambda u: u.split("/")[2]).unique())
    delays = {h: [2.0, 5.0, 10.0, 30.0][i % 4] for i, h in enumerate(hosts)}
    robots_pdf = pd.DataFrame(
        [{"host": h, "crawl_delay": d, "disallow": [], "allow": []}
         for h, d in delays.items()]
    )
    corpus = {
        row["url"]: row["html"] for _, row in pages_pdf.iterrows()
    }
    pages = spark.createDataFrame(pages_pdf, PAGES_SCHEMA)
    seeds = spark.createDataFrame(seeds_pdf, SEEDS_SCHEMA)
    robots = spark.createDataFrame(robots_pdf, ROBOTS_SCHEMA)
    return pages, seeds, robots, corpus, seeds_pdf, delays


def _run_both(spark, graph, tmp_path, *, dedup, seen_backend="exact", max_waves=6,
              max_wave_size=None):
    pages, seeds, robots, corpus, seeds_pdf, delays = graph
    cfg = EngineConfig(
        dedup=dedup,
        seen_backend=seen_backend,
        # force the shuffle regime so the bloom/cuckoo PRUNE path (the
        # thing these parity tests exist to verify) actually executes —
        # the default crossover resolves to broadcast at toy scale,
        # which skips the prune
        seen_broadcast_max_rows=(
            0 if seen_backend != "exact"
            else EngineConfig.seen_broadcast_max_rows
        ),
        max_waves=max_waves,
        wave_seconds=60.0,
        default_crawl_delay=1.0,
        max_wave_size=max_wave_size,
        respect_robots=True,
        bloom_capacity=1 << 14,
    )
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg, robots=robots)
    run_dir = str(tmp_path / f"parity_{dedup}_{seen_backend}_{max_wave_size}")
    stats = eng.run(seeds=seeds, run_dir=run_dir)

    ref = run_reference(
        corpus,
        [(r.spider_id, r.url, r.seed_rank) for r in seeds_pdf.itertuples()],
        dedup=dedup,
        wave_seconds=60.0,
        default_crawl_delay=1.0,
        crawl_delays=delays,
        max_wave_size=max_wave_size,
        max_waves=max_waves,
        spider_kind="link",
    )
    return eng, stats, ref, run_dir


def test_parity_dedup_exact(spark, graph, tmp_path):
    eng, stats, ref, run_dir = _run_both(spark, graph, tmp_path, dedup=True)

    order = (
        eng.crawl_order_df(run_dir).orderBy("seq").select("seq", "wave", "url_canon").collect()
    )
    got = [(r.seq, r.wave, r.url_canon) for r in order]
    assert got == sorted(ref.order), (
        f"engine {len(got)} rows vs ref {len(ref.order)}; first diff: "
        f"{next((a, b) for a, b in zip(got, sorted(ref.order)) if a != b)}"
    )

    seen = {r.url_canon for r in eng.seen_df(run_dir).collect()}
    assert seen == ref.seen

    items = eng.items_df(run_dir).select("src_url", "title", "author", "text", "wave").collect()
    got_items = sorted((r.src_url, r.title, r.author, r.text, r.wave) for r in items)
    ref_items = sorted((u, t, a, x, w) for (_sid, u, t, a, _n, x, w) in ref.items)
    assert got_items == ref_items


def test_parity_dedup_bloom(spark, graph, tmp_path):
    """Bloom backend must give byte-identical results to exact."""
    eng, stats, ref, run_dir = _run_both(
        spark, graph, tmp_path, dedup=True, seen_backend="bloom"
    )
    order = eng.crawl_order_df(run_dir).orderBy("seq").collect()
    got = [(r.seq, r.wave, r.url_canon) for r in order]
    assert got == sorted(ref.order)
    seen = {r.url_canon for r in eng.seen_df(run_dir).collect()}
    assert seen == ref.seen


def test_parity_no_dedup_with_cap(spark, graph, tmp_path):
    """Reference-parity FIFO mode + global wave cap (backpressure analog)."""
    eng, stats, ref, run_dir = _run_both(
        spark, graph, tmp_path, dedup=False, max_waves=4, max_wave_size=50
    )
    order = eng.crawl_order_df(run_dir).orderBy("seq").collect()
    got = [(r.seq, r.wave, r.url_canon) for r in order]
    assert got == sorted(ref.order)


def test_politeness_budget_never_exceeded(spark, graph, tmp_path):
    pages, seeds, robots, corpus, seeds_pdf, delays = graph
    eng, stats, ref, run_dir = _run_both(spark, graph, tmp_path, dedup=True)
    order = eng.crawl_order_df(run_dir).toPandas()
    order["host"] = order["url_canon"].map(lambda u: u.split("/")[2])
    per = order.groupby(["wave", "host"]).size()
    for (w, h), n in per.items():
        budget = max(1, int(60.0 / delays[h]))
        assert n <= budget, f"host {h} wave {w}: {n} > budget {budget}"
        # within-host order is seq-ascending is implied by global seq sort


def test_parity_dedup_cuckoo(spark, graph, tmp_path):
    """Cuckoo backend (deletable prune) must also be byte-identical to
    exact — same contract as Bloom: prune only, exact join confirms."""
    eng, stats, ref, run_dir = _run_both(
        spark, graph, tmp_path, dedup=True, seen_backend="cuckoo"
    )
    order = eng.crawl_order_df(run_dir).orderBy("seq", "wave").collect()
    got = [(r.seq, r.wave, r.url_canon) for r in order]
    assert got == sorted(ref.order)
    seen = {r.url_canon for r in eng.seen_df(run_dir).collect()}
    assert seen == ref.seen
