"""The crawl workloads: inputs, engine settings, one timed cycle
and the output checks against the single-threaded reference executor.

Inputs are a pure function of (workload, size, seed): the seed picks
the crawl's seed URLs and the dead-page set. The engine only ever sees
the generated tables (pages parquet, seeds DataFrame).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import zlib
from collections import defaultdict
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus, graph_page
from ironspark.engine import CrawlEngine
from ironspark.pipeline import PipelineManager
from ironspark.schemas import SEEDS_SCHEMA
from ironspark.spider import LinkSpider
from tests.reference_executor import run_reference

from perfbench.procstat import TreeSampler

T0 = datetime(2026, 1, 1)
# freshness phase: every URL fetched before the clock jump is due
# (age >= interval), every URL re-fetched after it is not
RECRAWL_INTERVAL_S = 1.0e6
CLOCK_JUMP_S = 2.0e6
# freshness ticks after the crawl, and re-fetches per host in a tick
RECRAWL_TICKS = 1
RECRAWL_PER_HOST = 3
# restores of the finished crawl per cycle; resume_s is their median
# (one restore is ~2 s and alone swings by a quarter between runs)
RESTORES = 3


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_hosts: int
    mega_share: float
    n_seeds: int
    filler_words: int = 0
    markup_every: int = 0
    dead_share: float = 0.0
    seen_backend: str = "exact"
    # per-host politeness budget per wave (wave_seconds / crawl_delay)
    host_budget: int = 100_000
    checkpoint_every: int = 1
    pipeline: bool = False
    # cut the first run after this many waves and resume it (None = one run)
    cut_waves: int | None = None

    def config(self, clock, **over) -> EngineConfig:
        kw = dict(
            dedup=True,
            seen_backend=self.seen_backend,
            bloom_capacity=1 << 16,
            respect_robots=False,
            default_crawl_delay=1.0,
            wave_seconds=float(self.host_budget),
            checkpoint_every=self.checkpoint_every,
            max_waves=200,
            extra={"clock": clock},
        )
        kw.update(over)
        return EngineConfig(**kw)


WORKLOADS = {
    "broad_bfs": Workload(
        "broad_bfs", n_pages=800, n_hosts=20, mega_share=0.1, n_seeds=120,
        filler_words=600, markup_every=2, seen_backend="bloom",
        checkpoint_every=100, pipeline=True,
    ),
    "polite_resume": Workload(
        "polite_resume", n_pages=500, n_hosts=10, mega_share=0.8, n_seeds=50,
        dead_share=0.02, host_budget=200, seen_backend="cuckoo", cut_waves=1,
    ),
}


def warmup_workload(w: Workload) -> Workload:
    """The same workload on a hundred-page corpus."""
    return replace(w, n_pages=100, n_seeds=4, cut_waves=None)


def warmup(spark, w: Workload, pages_dir: str, run_dir: str) -> None:
    """One crawl wave of ``warmup_workload(w)`` over its corpus at
    ``pages_dir``: the wave's plans compile and the Python workers start
    before timing."""
    small = warmup_workload(w)
    shutil.rmtree(run_dir, ignore_errors=True)
    pm = text_pipeline() if w.pipeline else None
    CrawlEngine(
        spark, spark.read.parquet(pages_dir), {1: LinkSpider()},
        small.config(TickClock(), max_waves=1), pipelines=pm,
    ).run(seeds=seeds_df(spark, seed_rows(small, 0)), run_dir=run_dir)


# a few hundred pages per workload: the self-test size
TOY = {
    name: replace(w, n_pages=300, n_seeds=30)
    for name, w in WORKLOADS.items()
}


class TickClock:
    """Deterministic clock: every read advances it by one second, so each
    wave stamps a distinct, reproducible fetch time."""

    def __init__(self, start: datetime = T0):
        self.t = start

    def jump(self, seconds: float) -> None:
        self.t += timedelta(seconds=seconds)

    def __call__(self) -> datetime:
        self.t += timedelta(seconds=1)
        return self.t


# -- inputs -----------------------------------------------------------------


def _url(w: Workload, pid: int) -> str:
    return graph_page(pid, w.n_pages, w.n_hosts, w.mega_share)["url"]


def pick_inputs(w: Workload, seed: int) -> tuple[list[int], list[int]]:
    """(seed page ids, dead page ids) — both drawn from the seed. Dead
    pages are stale seeds: their 404s and retries ride along the first
    waves instead of adding retry-only waves at the end of the crawl."""
    rng = random.Random(f"{w.name}:{w.n_pages}:{seed}")
    seed_ids = rng.sample(range(w.n_pages), w.n_seeds)
    dead = sorted(rng.sample(seed_ids, int(w.dead_share * w.n_pages)))
    return seed_ids, dead


def _build_once(final: str, build) -> str:
    """``build(tmp)`` into a temp dir renamed to ``final`` only when
    complete, so an interrupted build never leaves a half-written cache
    entry (Spark then fails to infer its schema)."""
    if not os.path.isdir(final):
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.rename(tmp, final)
    return final


def corpus_dir(spark, w: Workload, seed: int, cache_root: str) -> str:
    """Pages parquet for (workload, size, the seed's dead-page set),
    built once. The full corpus comes from ``build_graph_corpus``; a
    seed's dead pages are then dropped part file by part file with
    pyarrow — same files and types, and no Spark job, so a run's JVM is
    equally cold whether or not its seed's corpus was cached (only the
    first run in a fresh cache builds the full corpus with Spark)."""
    base = _build_once(
        os.path.join(cache_root, f"pages_{w.name}_{w.n_pages}"),
        lambda tmp: build_graph_corpus(
            spark, w.n_pages, n_hosts=w.n_hosts, parallelism=8,
            mega_share=w.mega_share, filler_words=w.filler_words,
            markup_every=w.markup_every,
        ).write.parquet(tmp),
    )
    _, dead = pick_inputs(w, seed)
    if not dead:
        return base
    gone = pa.array([_url(w, p) for p in dead])

    def drop_dead(tmp):
        os.makedirs(tmp)
        for f in sorted(os.listdir(base)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(base, f))
                pq.write_table(
                    t.filter(pc.invert(pc.is_in(t["url"], gone))),
                    os.path.join(tmp, f), compression="snappy",
                    use_deprecated_int96_timestamps=True,
                )

    key = zlib.crc32(",".join(map(str, dead)).encode())
    return _build_once(f"{base}_{key:08x}", drop_dead)


def seed_rows(w: Workload, seed: int) -> list[tuple[int, str, int]]:
    seed_ids, _ = pick_inputs(w, seed)
    return [(1, _url(w, p), rank) for rank, p in enumerate(seed_ids)]


def seeds_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["spider_id", "url", "seed_rank"]), SEEDS_SCHEMA
    )


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def text_pipeline() -> PipelineManager:
    """Two-stage item chain: annotate, then filter on the annotation.
    Every page item passes, so items stay comparable to the reference."""
    return (
        PipelineManager()
        .add_pipeline(
            "page", lambda df: df.withColumn("_chars", F.length("text")), 0
        )
        .add_pipeline(
            "page",
            lambda df: df.filter(F.col("_chars") >= 0).drop("_chars"),
            1,
        )
    )


# -- reference --------------------------------------------------------------


@dataclass
class Reference:
    order: list
    seen: set
    items: list


def reference(w: Workload, pages_dir: str, seeds: list) -> Reference:
    t = pq.read_table(pages_dir, columns=["url", "html"])
    corpus = dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
    cfg = w.config(None)
    ref = run_reference(
        corpus, seeds, dedup=True, wave_seconds=cfg.wave_seconds,
        default_crawl_delay=cfg.default_crawl_delay,
        max_retry_times=cfg.max_retry_times, max_waves=cfg.max_waves,
        spider_kind="link",
    )
    items = sorted((src, text) for (_s, src, _t, _a, _n, text, _w) in ref.items)
    return Reference(sorted(ref.order), ref.seen, items)


# -- checks -----------------------------------------------------------------


def expected_refetch(history: list, budget: int, ticks: int) -> list[list[str]]:
    """Per tick, the URLs a freshness tick must re-fetch, in seq order:
    per host the ``budget`` stalest not yet re-fetched (last fetch time,
    then url), all ticks' URLs ordered stalest-first globally."""
    last: dict[str, tuple] = {}
    for url, host, ts in history:
        if url not in last or ts > last[url][0]:
            last[url] = (ts, host)
    by_host: dict[str, list] = defaultdict(list)
    for url, (ts, host) in last.items():
        by_host[host].append((ts, url))
    for lst in by_host.values():
        lst.sort()
    out = []
    for t in range(ticks):
        batch = sorted(
            x for lst in by_host.values() for x in lst[t * budget:(t + 1) * budget]
        )
        out.append([u for _, u in batch])
    return out


def check_crawl(order: list, seen_rows: list, items: list | None, ref: Reference) -> list[str]:
    """Mismatches between one crawl and the reference (empty = correct)."""
    bad = []
    if order != ref.order:
        diff = next(
            ((a, b) for a, b in zip(order, ref.order) if a != b),
            (len(order), len(ref.order)),
        )
        bad.append(f"crawl order differs from reference, first diff {diff}")
    if len(seen_rows) != len(set(seen_rows)) or set(seen_rows) != ref.seen:
        bad.append(
            f"seen set differs: {len(seen_rows)} rows, "
            f"{len(set(seen_rows) ^ ref.seen)} urls off"
        )
    if items is not None and items != ref.items:
        bad.append(f"items differ: {len(items)} vs {len(ref.items)} reference")
    return bad


def _order_rows(eng, run_dir):
    return [
        (r.seq, r.wave, r.url_canon, r.host, r.fetch_ts)
        for r in eng.crawl_order_df(run_dir).orderBy("seq", "wave").collect()
    ]


def _seen_rows(eng, run_dir):
    return [r.url_canon for r in eng.seen_df(run_dir).collect()]


# -- one timed cycle --------------------------------------------------------


@dataclass
class Cycle:
    crawl_s: float = 0.0
    urls: int = 0
    fetched: int = 0
    wave_walls: list = field(default_factory=list)
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    state_bytes: int = 0
    resume_s: float = 0.0
    recrawl_s: float = 0.0
    refetched: int = 0
    errors: list = field(default_factory=list)
    crawl_stats: list = field(default_factory=list)  # CrawlStats up to frontier-empty

    def metrics(self) -> dict:
        """The end-to-end metrics of a cycle run up to its restore."""
        return {
            "crawl_s": self.crawl_s,
            "urls_per_s": self.urls / self.crawl_s,
            "cpu_s": self.cpu_s,
            "peak_rss_mb": self.peak_rss_mb,
            "state_bytes_per_page": self.state_bytes / max(self.fetched, 1),
            "resume_s": self.resume_s,
        }


def run_cycle(
    spark, w: Workload, pages, seeds: list, ref: Reference, run_dir: str,
    spider_factory=LinkSpider, after_crawl=None, upto="freshness",
) -> Cycle:
    """Crawl to frontier-empty (timed: crawl_s, cpu_s, peak_rss_mb) ->
    check -> restore (resume_s) -> freshness ticks (recrawl_urls_per_s)
    -> check; mismatches land in ``Cycle.errors``. ``after_crawl(cycle)``
    is called once the timed crawl has returned. ``upto`` ("crawl",
    "restore" or "freshness") names the last step run.

    With ``cut_waves`` the crawl is two runs: cut after that many waves,
    then a fresh engine resumes it to frontier-empty (inside crawl_s).
    resume_s is the median wall of RESTORES resumes of the finished
    crawl by fresh engines: manifest, buffer reload, seen-prune rebuild,
    frontier found empty.
    """
    c = Cycle()
    clock = TickClock()
    shutil.rmtree(run_dir, ignore_errors=True)

    def engine(**over):
        pm = text_pipeline() if w.pipeline else None
        cfg = w.config(clock, **over)
        return CrawlEngine(spark, pages, {1: spider_factory()}, cfg, pipelines=pm)

    with TreeSampler() as samp:
        t0 = time.monotonic()
        if w.cut_waves is None:
            runs = [engine().run(seeds=seeds_df(spark, seeds), run_dir=run_dir)]
        else:
            runs = [
                engine(max_waves=w.cut_waves).run(
                    seeds=seeds_df(spark, seeds), run_dir=run_dir
                ),
                engine().run(run_dir=run_dir, resume=True),
            ]
        c.crawl_s = time.monotonic() - t0
    c.crawl_stats = runs
    if after_crawl is not None:
        after_crawl(c)
    c.cpu_s, c.peak_rss_mb = samp.cpu_s, samp.peak_rss_mb
    c.state_bytes = dir_bytes(run_dir)
    c.fetched = sum(s.fetched for s in runs)
    # CrawlStats.deduped continues from the manifest on resume
    c.urls = sum(s.scheduled for s in runs) + runs[-1].deduped
    c.wave_walls = [x for s in runs for x in s.wave_walls]
    waves_done = len(c.wave_walls)

    probe = engine()
    order = _order_rows(probe, run_dir)
    items = sorted(
        (r.src_url, r.text)
        for r in probe.items_df(run_dir).select("src_url", "text").collect()
    )
    c.errors += check_crawl(
        [(s, wv, u) for s, wv, u, _, _ in order], _seen_rows(probe, run_dir),
        items, ref,
    )
    if upto == "crawl":
        return c
    c.resume_s = statistics.median(
        engine().run(run_dir=run_dir, resume=True).wall_s for _ in range(RESTORES)
    )
    if upto == "restore":
        return c

    # freshness: jump the clock past the interval and resume for exactly
    # RECRAWL_TICKS ticks, one re-fetch wave each (no retries, so a dead
    # page re-fetched stays one row of its tick's wave)
    clock.jump(CLOCK_JUMP_S)
    st = engine(
        recrawl_interval_s=RECRAWL_INTERVAL_S,
        recrawl_per_host_budget=RECRAWL_PER_HOST,
        max_retry_times=0,
        max_waves=waves_done + RECRAWL_TICKS,
    ).run(run_dir=run_dir, resume=True)
    c.recrawl_s, c.refetched = st.wall_s, st.scheduled

    order = _order_rows(probe, run_dir)
    history = [(u, h, ts) for _, wv, u, h, ts in order if wv < waves_done]
    want = expected_refetch(history, RECRAWL_PER_HOST, RECRAWL_TICKS)
    got = [
        [u for _, wv, u, _, _ in order if wv == waves_done + t]
        for t in range(RECRAWL_TICKS)
    ]
    if got != want:
        c.errors.append(
            f"re-fetches differ from the due set: got {[len(g) for g in got]} "
            f"urls per tick, want {[len(x) for x in want]}"
        )
    seen = _seen_rows(probe, run_dir)
    if len(seen) != len(set(seen)) or set(seen) != ref.seen:
        c.errors.append("seen set after recrawl differs from every url enqueued")
    return c
