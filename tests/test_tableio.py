"""TableIO, the engine's state store: a full crawl and a resumed leg
read back through it, the seen-set invalidation rewrite (committed as a
snapshot), recovery from a crash inside that rewrite, and reads that
start no Spark listing job."""

from __future__ import annotations

import os
import re
import shutil
import sys
import threading
import uuid

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


def _disk_files(path):
    """Absolute paths of the parquet files under ``path``."""
    return {
        os.path.join(d, f)
        for d, _, names in os.walk(path)
        for f in names if f.endswith(".parquet")
    }


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
    head = io.current_snapshot_id()
    via_snap = [r.url_canon for r in io.read("seen", snapshot_id=head).collect()]
    assert sorted(via_snap) == sorted(left)
    duck = duckdb.connect().execute(
        "SELECT url_canon FROM read_parquet(?)",
        [io.snapshot_table_files("seen")],
    ).fetchall()
    assert sorted(r[0] for r in duck) == sorted(left)
    # the replaced files stay on disk until a resume's sweep; once it
    # has deleted them, a rollback past the rewrite refuses, naming one
    old = set(io.snapshot_table_files("seen", head - 1))
    assert old - set(io.snapshot_table_files("seen")) and all(map(os.path.exists, old))
    io.restore()
    gone = sorted(old - set(io.snapshot_table_files("seen")))[0]
    assert not os.path.exists(gone)
    with pytest.raises(FileNotFoundError, match=re.escape(os.path.relpath(gone, run_dir))):
        io.rollback(head - 1)
    assert io.current_snapshot_id() == head and io.snapshot(head) is not None


def test_rewrite_crash_recovers_on_resume(spark, tmp_path, monkeypatch):
    """A crash inside the seen rewrite, or any time after it, loses
    nothing. The rewrite deletes nothing: both sides stay on disk, and
    reads follow the current snapshot — before its commit the old table,
    after it the rewritten one. The resume's restore() then deletes the
    side that snapshot does not list. Opening a TableIO deletes
    nothing."""
    urls = [f"http://h{i % 3}.example.com/p/{i}" for i in range(12)]
    victims = urls[:3]
    eng = CrawlEngine(
        spark, None, {1: LinkSpider()}, EngineConfig(seen_backend="exact")
    )

    def crash(*a, **kw):
        raise OSError("injected crash")

    # (method that raises, seen set the resume must find): a crash
    # before the commit, or after the rewrite returned (None)
    cases = [("commit", set(urls)), (None, set(urls) - set(victims))]
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
        old = set(io.snapshot_table_files("seen"))
        if attr is None:
            eng.invalidate_seen(run_dir, victims)
        else:
            monkeypatch.setattr(TableIO, attr, crash)
            with pytest.raises(OSError, match="injected crash"):
                eng.invalidate_seen(run_dir, victims)
            monkeypatch.undo()

        reopened = TableIO(spark, run_dir)
        # both sides of the swap are still on disk: the old files and
        # the new ones beside them
        assert old < _disk_files(reopened.path("seen")), attr
        # a read before the resume sees the snapshot's side only
        got = [r.url_canon for r in eng.seen_df(run_dir).collect()]
        assert sorted(got) == sorted(want), attr
        assert reopened.restore() == {"next_wave": 2}
        got = [r.url_canon for r in reopened.read("seen").collect()]
        assert sorted(got) == sorted(want), attr
        assert _disk_files(reopened.path("seen")) == set(
            reopened.snapshot_table_files("seen")
        ), attr


def test_read_in_a_run_starts_no_listing_job(spark, tmp_path, monkeypatch):
    """Inside a run, a read of a table listing more than 32 files
    (Spark's parallel-listing threshold) submits no Spark job: TableIO
    names every file, and the run raises the threshold that would start
    a job to list them again; run() restores it."""
    conf_key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(conf_key, None)
    sc = spark.sparkContext
    got = {}

    def probe(self, st):
        row = spark.createDataFrame([("u",)], "url_canon string").coalesce(1)
        for wave in range(1, 34):
            st.io.write(row, "seen", wave, mode="append")
        got["files"] = len(st.io.snapshot_table_files("seen")) + 33
        sc.setJobGroup("tableio-read-probe", "read")
        try:
            seen = st.io.read("seen")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got["jobs"] = list(sc.statusTracker().getJobIdsForGroup("tableio-read-probe"))
        got["rows"] = seen.count()
        return st.stats

    monkeypatch.setattr(CrawlEngine, "_crawl", probe)
    eng = CrawlEngine(spark, None, {1: LinkSpider()}, EngineConfig(seen_backend="exact"))
    eng.run(seeds=[(1, "http://h0.example.com/a", 0)], run_dir=str(tmp_path / "r"))
    assert got["files"] > 32
    assert got["jobs"] == []
    assert got["rows"] == 34
    assert spark.conf.get(conf_key, None) == before


class _FileFrame:
    """Stands in for a DataFrame in TableIO.write: its parquet write
    drops one empty part file (an overwrite clears the dir first)."""

    def __init__(self):
        self.write = self

    def mode(self, mode):
        self._mode = mode
        return self

    def parquet(self, path):
        if self._mode == "overwrite":
            shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, f"part-{uuid.uuid4()}.parquet"), "w").close()


def test_read_only_open_leaves_no_run_dir(spark, tmp_path):
    """Only the writers create the run dir: opening a missing one to
    read it (the accessors, invalidate_seen) leaves nothing behind."""
    missing = tmp_path / "missing"
    io = TableIO(spark, str(missing))
    assert io.manifest() is None and io.read("seen") is None
    eng = CrawlEngine(spark, None, {}, EngineConfig())
    assert eng.items_df(str(missing)) is None
    assert eng.invalidate_seen(str(missing), ["http://a.com/"]) == 0
    assert not missing.exists()


def test_concurrent_writes_keep_every_file_listed(tmp_path):
    """Writes from more threads than cores — the I/O pool's tail and
    sinks write concurrently — each register their files in the live
    list: a lost update would leave a file on disk that the commit does
    not list, or keep one an overwrite removed."""
    io = TableIO(None, str(tmp_path / "run"))
    n_threads, n_writes = 4 * (os.cpu_count() or 1), 40

    def writer(t):
        for k in range(n_writes):
            io.write(_FileFrame(), f"t{t}", k % 5, mode="append" if k % 3 else "overwrite")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(interval)
    io.commit({})
    listed = {f for t in range(n_threads) for f in io.snapshot_table_files(f"t{t}")}
    assert listed == _disk_files(io.root) and len(listed) > n_threads * 5
