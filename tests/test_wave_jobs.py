"""The Spark jobs of one steady-state crawl wave.

On a small wave every job is a driver round trip of 0.1-0.4 s, so the
wave's job count is its serial floor. This pins the count of one wave
of a small crawl with a pipeline and corpus misses, and checks that the
fetch's miss anti-join probes the persisted corpus-url side in place,
with no exchange (a broadcast build or a shuffle) above it.
"""

from concurrent.futures import Future

from ironspark import engine as engine_mod
from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
from ironspark.engine import CrawlEngine
from ironspark.pipeline import PipelineManager
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import LinkSpider

# order write, fetch broadcast of the wave's GETs, the heavy
# fetch+parse+metrics collect, items write, with_global_seq's seen
# broadcast and per-bucket count, the tail's retry-key broadcast and
# its frontier and seen writes; 12 before the over-budget probe, the
# corpus-url broadcast and the unrouted count left the wave
STEADY_WAVE_JOBS = 9


class _InlinePool:
    """The engine's I/O pool run inline: a wave's overlapped writes and
    its tail submit their jobs from the wave's own thread, in program
    order, so they count in that wave's job group."""

    def __init__(self, max_workers=None):
        pass

    def submit(self, fn, *args):
        fut = Future()
        try:
            fut.set_result(fn(*args))
        except BaseException as e:  # noqa: BLE001 — re-raised by result()
            fut.set_exception(e)
        return fut

    def shutdown(self, wait=True, cancel_futures=False):
        pass


def _scan_paths(node, above=()):
    """For each scan of the engine's persisted corpus-url side under
    the physical plan ``node``: the names of the nodes above it."""
    name = node.nodeName()
    if name == "InMemoryTableScan":
        cached = node.relation().cachedPlan().toString()
        if "hashpartitioning(url#" in cached:
            yield above
    kids = node.children()
    for i in range(kids.size()):
        yield from _scan_paths(kids.apply(i), above + (name,))


def test_steady_wave_job_count(spark, tmp_path, monkeypatch):
    n = 60
    corpus = build_graph_corpus_pdf(n, n_hosts=5)
    # every 7th page is gone: its fetch is a corpus miss (a 404)
    pages = spark.createDataFrame(corpus[corpus.index % 7 != 3], PAGES_SCHEMA)
    seeds = spark.createDataFrame(graph_seeds(n, 6, 5), SEEDS_SCHEMA)
    cfg = EngineConfig(dedup=True, seen_backend="bloom", max_waves=3,
                       respect_robots=False, wave_seconds=3600.0,
                       bloom_capacity=1 << 12, checkpoint_every=100)
    pm = PipelineManager().add_pipeline("page", lambda df: df)
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg, pipelines=pm)
    sc = spark.sparkContext
    group = f"wave-jobs-{id(eng)}"

    monkeypatch.setattr(engine_mod, "ThreadPoolExecutor", _InlinePool)
    admit = CrawlEngine._admit

    def admit_in_group(self, st):
        sc.setJobGroup(f"{group}-{st.wave}", "crawl wave")
        return admit(self, st)

    monkeypatch.setattr(CrawlEngine, "_admit", admit_in_group)
    plans = []
    fetch = engine_mod.fetch_from_corpus

    def fetch_planned(*args, **kwargs):
        df = fetch(*args, **kwargs)
        plans.append(df._jdf.queryExecution().executedPlan())
        return df

    monkeypatch.setattr(engine_mod, "fetch_from_corpus", fetch_planned)
    try:
        stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "run"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    assert stats.waves == 3 and len(plans) == 3
    assert stats.wave_scheduled[1] > 0 and stats.failed > 0  # corpus misses
    assert stats.items > 0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(f"{group}-1")
    assert len(jobs) == STEADY_WAVE_JOBS

    paths = list(_scan_paths(plans[1]))
    assert paths
    for above in paths:
        joins = [i for i, name in enumerate(above) if "Join" in name]
        assert above[joins[-1]] == "ShuffledHashJoin", above
        assert not any("Exchange" in name for name in above[joins[-1]:]), above
