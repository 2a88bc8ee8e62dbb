"""Round-2 correctness fixes: hook-drop pending accounting, dup-seed seq
parity, pipeline close hooks + unrouted counters, acceptance-rule metrics."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ironspark.config import EngineConfig
from ironspark.corpus import article_seeds, build_chain_corpus, chain_pages
from ironspark.engine import CrawlEngine
from ironspark.pipeline import PipelineManager
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import ArticleSpider
from tests.reference_executor import run_reference


@pytest.fixture(scope="module")
def setup(spark):
    pages = spark.createDataFrame(build_chain_corpus(2, 4), PAGES_SCHEMA)
    seeds = spark.createDataFrame(article_seeds(2, 4, dup=1), SEEDS_SCHEMA)
    return pages, seeds


def test_request_hook_drop_does_not_stall_shutdown(spark, setup, tmp_path):
    """A request hook that drops rows must not leave pending_count
    overcounted: idle shutdown fires (no empty-wave spin to max_waves)
    and staged-seed admission unblocks (ADVICE r1, medium)."""
    pages, seeds_all = setup
    g1 = seeds_all.filter(F.col("spider_id") == 1)
    g2 = seeds_all.filter(F.col("spider_id") == 2)
    cfg = EngineConfig(
        dedup=True, max_waves=40, respect_robots=False,
        scheduler_holding_threshold=0,  # staged group needs empty frontier
    )
    eng = CrawlEngine(spark, pages, {1: ArticleSpider(), 2: ArticleSpider()}, cfg)
    # drop every second request of chain c0 — the dropped rows are
    # consumed (never fetched, never retried)
    eng.register_request_hook(
        lambda df: df.filter(
            ~(F.col("host").startswith("c0.") & (F.col("seq") % 2 == 0))
        )
    )
    stats = eng.run(seeds=g1, run_dir=str(tmp_path / "hookdrop"),
                    staged_seeds=[g2])
    # idle shutdown fired well before max_waves (old bug: spin to 40)
    assert stats.waves < 15, f"spun {stats.waves} waves — pending overcount"
    # the staged spider DID activate (old bug: blocked forever)
    items = eng.items_df(stats.run_dir).toPandas()
    assert (items["spider_id"] == 2).any(), "staged spider never activated"


def test_duplicate_last_seed_seq_parity(spark, tmp_path):
    """Seeds whose LAST row in (spider_id, seed_rank, url_canon) order is
    a duplicate must still advance next_seq past the dup (spec consumes a
    seq per seed); outlink seqs then match the reference exactly."""
    pages_pdf = pd.DataFrame(chain_pages("c0.example.com", 4))
    pages = spark.createDataFrame(pages_pdf, PAGES_SCHEMA)
    # seed 0: the chain head; seeds 1+2: duplicate of a short page —
    # the duplicate sorts LAST and is dropped by seed-dedup
    seed_rows = [
        (1, "http://c0.example.com:5000/article/4", 0),
        (1, "http://c0.example.com:5000/article/9", 1),  # miss -> 404
        (1, "http://c0.example.com:5000/article/9", 2),  # dup, sorts last
    ]
    seeds = spark.createDataFrame(
        pd.DataFrame(seed_rows, columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(dedup=True, max_waves=10, respect_robots=False)
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "dupseed"))

    corpus = {row["url"]: row["html"] for _, row in pages_pdf.iterrows()}
    ref = run_reference(corpus, seed_rows, dedup=True, max_waves=10)

    # retries repeat a seq across waves -> order by (seq, wave)
    order = eng.crawl_order_df(stats.run_dir).orderBy("seq", "wave").collect()
    got = [(r.seq, r.wave, r.url_canon) for r in order]
    assert got == sorted(ref.order), (
        f"engine vs ref first diff: "
        f"{next(((a, b) for a, b in zip(got, sorted(ref.order)) if a != b), None)}"
    )


def test_pipeline_close_hooks_and_unrouted_metric(spark, setup, tmp_path):
    """I5/M7: close() hooks fire once, in (item_type, priority) order, at
    engine shutdown; items with no chain are counted as unrouted."""
    pages, seeds = setup
    closed = []
    pm = PipelineManager()
    # only 'other' is registered -> every 'article' item is unrouted
    pm.add_pipeline("other", lambda df: df, priority=5,
                    close=lambda: closed.append(("other", 5)))
    pm.add_pipeline("other", lambda df: df, priority=1,
                    close=lambda: closed.append(("other", 1)))
    cfg = EngineConfig(dedup=True, max_waves=8, respect_robots=False)
    eng = CrawlEngine(
        spark, pages, {1: ArticleSpider(), 2: ArticleSpider()}, cfg, pipelines=pm
    )
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "close"))
    assert closed == [("other", 1), ("other", 5)]  # priority order, once
    pm.close_all()
    assert closed == [("other", 1), ("other", 5)]  # idempotent
    assert stats.unrouted == 8  # both 4-chains' articles unrouted
    m = eng.metrics_df(stats.run_dir).toPandas()
    assert m[m["partition_id"] == -1]["unrouted"].sum() == 8


def test_allow_codes_follow_acceptance_rule(spark, tmp_path):
    """With 404 allow-listed, a corpus miss counts as FETCHED (accepted),
    not failed/retried/exhausted (ADVICE r1: metrics must follow the
    acceptance rule, downloader.rs:236-247)."""
    pages = spark.createDataFrame(
        pd.DataFrame(chain_pages("c0.example.com", 2)), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(
        pd.DataFrame(
            [(1, "http://c0.example.com:5000/article/2", 0),
             (1, "http://c0.example.com:5000/article/404", 1)],
            columns=["spider_id", "url", "seed_rank"],
        ),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(
        dedup=True, max_waves=6, respect_robots=False,
        http_error_allow_codes=frozenset({404}),
    )
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "allow"))
    assert stats.failed == 0
    assert stats.exhausted == 0
    assert stats.fetched == stats.scheduled  # every response accepted


def test_unregistered_spider_dropped_counter(spark, tmp_path):
    """Accepted responses owned by an unregistered spider are counted as
    dropped (reference counts these; previously silent)."""
    pages = spark.createDataFrame(
        pd.DataFrame(chain_pages("c0.example.com", 2)), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(
        pd.DataFrame(
            # chain page urls nest: the second page is article/article/1
            [(1, "http://c0.example.com:5000/article/2", 0),
             (99, "http://c0.example.com:5000/article/article/1", 0)],
            columns=["spider_id", "url", "seed_rank"],
        ),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(dedup=True, max_waves=6, respect_robots=False)
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)  # 99 missing
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "dropped"))
    assert stats.dropped == 1
    m = eng.metrics_df(stats.run_dir).toPandas()
    assert m["dropped"].sum() == 1


def test_wire_bytes_include_headers_exact(spark, tmp_path):
    """D4 parity: bytes_req = len(method)+1+len(path)+1+8+2 + per-header
    (name+value+4) + 2 + len(body) — the reference Request::size formula
    (src/request.rs:18-47) — once a hook sets headers."""
    pages = spark.createDataFrame(
        pd.DataFrame(chain_pages("c0.example.com", 1)), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(
        pd.DataFrame([(1, "http://c0.example.com:5000/article/1", 0)],
                     columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(dedup=True, max_waves=3, respect_robots=False)
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)
    eng.register_request_hook(
        lambda df: df.withColumn(
            "headers", F.create_map(F.lit("x-trace"), F.lit("abc123"))
        )
    )
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "wire"))
    m = eng.metrics_df(stats.run_dir).toPandas()
    got = int(m[m["wave"] == 0]["bytes_req"].sum())
    path = "/article/1"
    expected = (
        len("GET") + 1 + len(path) + 1 + 8 + 2  # request line
        + (len("x-trace") + len("abc123") + 4)  # headers
        + 2  # blank line
        + 0  # no body
    )
    assert got == expected, f"bytes_req {got} != reference {expected}"


def test_non_get_is_explicit_miss(spark, tmp_path):
    """A POST to a corpus page must surface as a 404 miss, never a
    silent GET (method-aware fetch)."""
    pages = spark.createDataFrame(
        pd.DataFrame(chain_pages("c0.example.com", 1)), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(
        pd.DataFrame([(1, "http://c0.example.com:5000/article/1", 0)],
                     columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(dedup=True, max_waves=2, respect_robots=False,
                       max_retry_times=0)
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)
    eng.register_request_hook(
        lambda df: df.withColumn("method", F.lit("POST"))
    )
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "post"))
    assert stats.fetched == 0 and stats.failed == 1 and stats.items == 0


def test_cookie_jar_round_trip(spark, tmp_path):
    """S6: set_cookie lineage (filled by a response hook) lands in the
    per-host jar; the NEXT wave's requests carry it as a `cookie` header
    — observable in the exact bytes_req delta."""
    pages = spark.createDataFrame(
        pd.DataFrame(chain_pages("c0.example.com", 3)), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(
        pd.DataFrame([(1, "http://c0.example.com:5000/article/3", 0)],
                     columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(dedup=True, max_waves=6, respect_robots=False,
                       store_cookies=True)
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)
    eng.register_response_hook(
        lambda df: df.withColumn(
            "set_cookie",
            F.when(F.col("resp_status") == 200, F.lit("sid=42")),
        )
    )
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "cookies"))
    assert eng._cookie_jar == {"c0.example.com": "sid=42"}
    m = eng.metrics_df(stats.run_dir).toPandas()
    by_wave = m.groupby("wave")["bytes_req"].sum()
    # wave 0: no cookie yet; wave 1+: + (len("cookie")+len("sid=42")+4)
    cookie_bytes = len("cookie") + len("sid=42") + 4
    base0 = len("GET") + 1 + len("/article/3") + 1 + 8 + 2 + 2
    assert by_wave[0] == base0
    base1 = len("GET") + 1 + len("/article/article/2") + 1 + 8 + 2 + 2
    assert by_wave[1] == base1 + cookie_bytes


def test_invalidate_seen_recrawl(spark, tmp_path):
    """Re-crawl invalidation (north rule: cuckoo fallback for deletable
    entries): invalidated urls leave the seen set and are crawled again
    on a resumed run; everything else stays deduped."""
    pages = spark.createDataFrame(
        pd.DataFrame(chain_pages("c0.example.com", 3)), PAGES_SCHEMA
    )
    head = "http://c0.example.com:5000/article/3"
    mid = "http://c0.example.com:5000/article/article/2"
    seeds = spark.createDataFrame(
        pd.DataFrame([(1, head, 0)], columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )
    cfg = EngineConfig(dedup=True, seen_backend="cuckoo", max_waves=10,
                       respect_robots=False, bloom_capacity=1 << 12,
                       seen_broadcast_max_rows=0)  # exercise the prune path
    run_dir = str(tmp_path / "recrawl")
    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)
    stats = eng.run(seeds=seeds, run_dir=run_dir)
    assert stats.items == 3

    # invalidate head+mid; tail stays seen
    eng2 = CrawlEngine(spark, pages, {1: ArticleSpider()}, cfg)
    removed = eng2.invalidate_seen(run_dir, [head, mid])
    assert removed == 2
    g = spark.createDataFrame(
        pd.DataFrame([(1, head, 0)], columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )
    stats2 = eng2.run(run_dir=run_dir, resume=True, staged_seeds=[g])
    items = eng2.items_df(run_dir).toPandas()
    # 3 originals + head and mid re-crawled; tail deduped
    assert len(items) == 5
    assert stats2.items == 2
