"""The snapshot chain on TableIO: the engine's only commit record.

Every ``commit()`` appends ``<run_dir>/metadata/snap-<id>.json``: the
parent id, the engine summary (``TableIO.manifest()``) and the parquet
files this commit added or removed relative to its parent, with sizes
and paths relative to the run dir; ``version-hint.text`` is written
LAST as the commit point (the hadoop-catalog protocol). A snapshot's
file list is the fold of its chain. These tests assert the claims the
metadata makes:

  * a checkpoint table is readable STRICTLY from a snapshot's file
    list — by Spark AND by a foreign engine (DuckDB), equal to the
    parquet files on disk; listed sizes are real; an earlier snapshot
    lists fewer files;
  * the parent chain walks back to snapshot 0 and summaries advance
    monotonically with the wave counter; no stored path is absolute,
    and each commit lists exactly the files it added or removed;
  * a resume from the head, a rolled-back mid-chain snapshot or a
    snapshot before a seen rewrite converges to the same items + crawl
    order as an uninterrupted run;
  * reads of a crashed run dir, before any resume, see exactly the
    current snapshot's rows; a resume after the crash removes what the
    crashed run wrote past its last commit, and converges the same way,
    also without that sweep.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import pandas as pd
import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
from ironspark.engine import CrawlEngine, TableIO
from ironspark.monitor import render_run
from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
from ironspark.spider import LinkSpider


@pytest.fixture()
def crawl_setup(spark):
    pages = spark.createDataFrame(
        build_graph_corpus_pdf(80, n_hosts=6), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(graph_seeds(80, 8, 6), SEEDS_SCHEMA)
    return pages, seeds


def _cfg(**kw):
    base = dict(
        dedup=True, max_waves=10, respect_robots=False,
        wave_seconds=3600.0, checkpoint_every=1,
    )
    base.update(kw)
    return EngineConfig(**base)


_TABLES = ("frontier", "frontier_base", "seen", "order", "items", "consumed",
           "metrics", "status")


def _disk_parquet(run_dir):
    """Relative paths of the parquet files outside Spark's work dirs."""
    out = set()
    for d, dirs, names in os.walk(run_dir):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out |= {
            os.path.relpath(os.path.join(d, f), run_dir)
            for f in names if f.endswith(".parquet")
        }
    return out


def test_snapshot_chain_and_manifest_reads(spark, crawl_setup, tmp_path, monkeypatch):
    pages, seeds = crawl_setup
    run_dir = str(tmp_path / "run")
    # the parquet files on disk at each commit, in commit order
    at_commit = []
    real_commit = TableIO.commit

    def spy(io, manifest, **kw):
        at_commit.append(_disk_parquet(io.root))
        return real_commit(io, manifest, **kw)

    monkeypatch.setattr(TableIO, "commit", spy)
    # a per-host budget of 12 fetches a wave spreads the mega-host over
    # more than 5 waves (tombstones and compactions included)
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg(wave_seconds=12.0))
    stats = eng.run(seeds=seeds, run_dir=run_dir)
    monkeypatch.undo()
    assert stats.waves >= 5

    io = TableIO(spark, run_dir)
    head = io.current_snapshot_id()
    assert head == len(at_commit) - 1  # one snapshot per commit

    # parent chain walks to snapshot 0; waves never decrease
    sid, seen_waves, chain = head, [], []
    while sid is not None:
        snap = io.snapshot(sid)
        assert snap["snapshot-id"] == sid
        chain.append(snap)
        seen_waves.append(snap["summary"]["next_wave"])
        parent = snap["parent-snapshot-id"]
        assert parent is None or parent == sid - 1
        sid = parent
    assert seen_waves[-1] == 0  # chain reaches the seed commit
    assert seen_waves == sorted(seen_waves, reverse=True)
    assert io.manifest() == io.snapshot(head)["summary"]
    assert io.manifest()["done"] is True
    assert not os.path.exists(os.path.join(run_dir, "manifest.json"))

    # each commit stores exactly the files it added or removed, by
    # run-dir-relative path: metadata per commit is O(delta)
    before = set()
    for snap, disk in zip(reversed(chain), at_commit):
        added = {e["file-path"] for e in snap["added-files"]}
        removed = {e["file-path"] for e in snap["removed-files"]}
        paths = added | removed
        assert not any(os.path.isabs(p) for p in paths)
        assert added == disk - before and removed == before - disk
        before = disk

    # strictly-metadata-driven read == the seen files on disk, for Spark…
    con = duckdb.connect()
    direct = {
        r[0]
        for r in con.execute(
            "SELECT url_canon FROM read_parquet(?)",
            [[os.path.join(run_dir, p) for p in sorted(_disk_parquet(run_dir))
              if p.startswith("seen/")]],
        ).fetchall()
    }
    via_snap = {
        r.url_canon for r in io.read("seen", snapshot_id=head).collect()
    }
    assert via_snap == direct and direct

    # …and for a FOREIGN engine consuming only the snapshot's file list
    files = io.snapshot_table_files("seen", head)
    assert files and all(os.path.isabs(f) and f.endswith(".parquet") for f in files)
    duck = {
        r[0]
        for r in con.execute(
            "SELECT url_canon FROM read_parquet(?)", [files]
        ).fetchall()
    }
    assert duck == direct

    # listed entries carry real sizes (Iceberg file stats shape)
    listed = {
        e["file-path"]: e["file-size-in-bytes"]
        for snap in chain for e in snap["added-files"]
    }
    for f in files:
        rel = os.path.relpath(f, run_dir)
        assert listed[rel] == os.path.getsize(f)
    with open(os.path.join(run_dir, "metadata", f"snap-{head}.json")) as fh:
        assert json.load(fh)["summary"]["next_wave"] == stats.waves

    # an EARLIER snapshot sees strictly fewer seen files — time travel
    # over the append-only table
    early = io.snapshot_table_files("seen", 1)
    assert set(early) < set(files)


def test_resume_strictly_from_snapshot_summary(spark, crawl_setup, tmp_path):
    pages, seeds = crawl_setup

    full_dir = str(tmp_path / "full")
    eng_full = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg())
    eng_full.run(seeds=seeds, run_dir=full_dir)
    a = eng_full.items_df(full_dir).select("src_url", "title", "text")
    oa = eng_full.crawl_order_df(full_dir).toPandas().sort_values("seq")

    # (waves the first run crawls, snapshot rolled back to, config,
    # seen urls invalidated before the rollback): the head snapshot of
    # a run cut at max_waves; a mid-chain snapshot whose next wave's
    # overlapped tail already wrote seen/wave=3, which the resumed
    # dedup (and the prune's base build) must not read; and the head
    # snapshot before a seen rewrite, whose replaced files the resume
    # must still find
    cases = [
        (2, None, {}, 0),
        (3, 2, {"seen_backend": "exact"}, 0),
        (3, 2, {"seen_backend": "cuckoo", "seen_broadcast_max_rows": 0}, 0),
        (2, None, {}, 3),
    ]
    for i, (waves, snap, kw, n_invalid) in enumerate(cases):
        part_dir = str(tmp_path / f"part{i}")
        cfg1 = _cfg(max_waves=waves, **kw)
        eng1 = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg1)
        eng1.run(seeds=seeds, run_dir=part_dir)

        # the ONLY recovery input is the snapshot chain
        io = TableIO(spark, part_dir)
        with pytest.raises(FileNotFoundError):
            io.rollback(snapshot_id=10_000)
        target = io.current_snapshot_id() if snap is None else snap
        if n_invalid:
            urls = sorted(r.url_canon for r in eng1.seen_df(part_dir).collect())
            assert eng1.invalidate_seen(part_dir, urls[:n_invalid]) == n_invalid
            assert io.current_snapshot_id() == target + 1
        io.rollback(target)
        assert io.current_snapshot_id() == target
        assert io.snapshot(target + 1) is None  # later snapshots deleted
        assert io.manifest()["next_wave"] == 2

        eng2 = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg(**kw))
        eng2.run(run_dir=part_dir, resume=True)

        b = eng2.items_df(part_dir).select("src_url", "title", "text")
        assert sorted(a.collect()) == sorted(b.collect()), kw
        ob = eng2.crawl_order_df(part_dir).toPandas().sort_values("seq")
        assert list(oa["url_canon"]) == list(ob["url_canon"]), kw
        assert list(oa["seq"]) == list(ob["seq"]), kw

        # the resumed leg extended the chain past the rolled-back head,
        # and the run dir holds exactly the files its head lists
        resumed_head = io.current_snapshot_id()
        assert resumed_head > target
        assert io.snapshot(resumed_head)["parent-snapshot-id"] == resumed_head - 1
        assert io.manifest().get("done") is True
        assert _disk_parquet(part_dir) == {
            os.path.relpath(f, part_dir)
            for t in _TABLES
            for f in io.snapshot_table_files(t)
        }


def _order(eng, run_dir):
    return sorted(
        (r.seq, r.wave, r.url_canon)
        for r in eng.crawl_order_df(run_dir).collect()
    )


def _group(spark):
    return spark.createDataFrame(
        pd.DataFrame([(1, "http://h0001.example.com/page/3", 0)],
                     columns=["spider_id", "url", "seed_rank"]),
        SEEDS_SCHEMA,
    )


def _crash_cfg(**kw):
    return _cfg(max_waves=3, scheduler_holding_threshold=10**9, **kw)


def _schedule_raises(real):
    def patched(self, st, pending):
        raise RuntimeError("injected crash in _schedule")
    return patched


def _tail_raises(real):
    # the tail's seen slice is wave + 1; admission appends to wave 0
    def patched(self, io, urls, wave):
        if wave == 3:
            raise RuntimeError("injected crash in _write_tail")
        return real(self, io, urls, wave)
    return patched


# runs that raise after writing past their last commit: (method
# patched, its injected raise, config, whether the resumed leg stages
# the group again: only a crash before the commit that follows its
# admission loses it). Admission already appended a staged seed group
# to the committed frontier slice; or the overlapped tail wrote its
# frontier slice, and the wave its order and items, but not its seen
# slice.
_CRASHES = [
    ("_schedule", _schedule_raises, dict(dedup=False, checkpoint_every=1), True),
    ("_append_seen", _tail_raises, dict(dedup=True, checkpoint_every=2), False),
]


def _crash(spark, pages, seeds, run_dir, monkeypatch, attr, inject, kw):
    monkeypatch.setattr(CrawlEngine, attr, inject(getattr(CrawlEngine, attr)))
    with pytest.raises(RuntimeError, match="injected crash"):
        CrawlEngine(spark, pages, {1: LinkSpider()}, _crash_cfg(**kw)).run(
            seeds=seeds, run_dir=run_dir, staged_seeds=[_group(spark)]
        )
    monkeypatch.undo()


def test_resume_after_crash_past_the_last_commit(
    spark, crawl_setup, tmp_path, monkeypatch
):
    """A run that raises after writing past its last commit resumes
    from exactly the files that commit lists and reaches the
    uninterrupted run's crawl order and items — also when the resume's
    sweep (TableIO.restore) deletes nothing, since reads follow the
    snapshot's file list."""
    pages, seeds = crawl_setup

    def no_sweep(io):
        return io.manifest()

    for i, (attr, inject, kw, restage) in enumerate(_CRASHES):
        full_dir = str(tmp_path / f"full{i}")
        eng = CrawlEngine(spark, pages, {1: LinkSpider()}, _crash_cfg(**kw))
        eng.run(seeds=seeds, run_dir=full_dir, staged_seeds=[_group(spark)])
        want_order = _order(eng, full_dir)
        want_items = sorted(eng.items_df(full_dir).select("src_url", "text").collect())

        for sweep in (True, False):
            run_dir = str(tmp_path / f"crash{i}{'' if sweep else '-nosweep'}")
            _crash(spark, pages, seeds, run_dir, monkeypatch, attr, inject, kw)
            if not sweep:
                monkeypatch.setattr(TableIO, "restore", no_sweep)
            eng2 = CrawlEngine(spark, pages, {1: LinkSpider()}, _crash_cfg(**kw))
            eng2.run(
                run_dir=run_dir, resume=True,
                staged_seeds=[_group(spark)] if restage else None,
            )
            monkeypatch.undo()

            got = _order(eng2, run_dir)
            assert len(got) == len(want_order) and got == want_order, (attr, sweep)
            assert len({(s, w) for s, w, _ in got}) == len(got), (attr, sweep)
            got_items = sorted(eng2.items_df(run_dir).select("src_url", "text").collect())
            assert got_items == want_items, (attr, sweep)


def _rows(df):
    return None if df is None else sorted(map(tuple, df.collect()))


def test_reads_of_a_crashed_run_see_the_snapshot(
    spark, crawl_setup, tmp_path, monkeypatch
):
    """Before any resume, every read of a crashed run dir — the result
    accessors and the monitor — sees exactly the current snapshot's
    rows, not the files the crash left unlisted: the same as a copy of
    the dir that a resume's sweep has returned to the snapshot's list."""
    pages, seeds = crawl_setup
    crashed = []
    for i, (attr, inject, kw, _) in enumerate(_CRASHES):
        run_dir = str(tmp_path / f"crash{i}")
        _crash(spark, pages, seeds, run_dir, monkeypatch, attr, inject, kw)
        crashed.append(run_dir)
    # a crash inside the seen rewrite, before its snapshot commit
    run_dir = str(tmp_path / "rewrite")
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg(max_waves=2))
    eng.run(seeds=seeds, run_dir=run_dir)
    victims = sorted(r.url_canon for r in eng.seen_df(run_dir).collect())[:3]

    def crash(*a, **kw):
        raise OSError("injected crash")

    monkeypatch.setattr(TableIO, "commit", crash)
    with pytest.raises(OSError, match="injected crash"):
        eng.invalidate_seen(run_dir, victims)
    monkeypatch.undo()
    crashed.append(run_dir)

    for run_dir in crashed:
        io = TableIO(spark, run_dir)
        listed = {
            os.path.relpath(f, run_dir)
            for t in _TABLES
            for f in io.snapshot_table_files(t)
        }
        assert _disk_parquet(run_dir) > listed, run_dir  # unlisted files left
        swept = run_dir + "-swept"
        shutil.copytree(run_dir, swept)
        TableIO(spark, swept).restore()
        for read in ("items_df", "crawl_order_df", "seen_df", "metrics_df"):
            got = _rows(getattr(eng, read)(run_dir))
            assert got == _rows(getattr(eng, read)(swept)), (run_dir, read)
        assert render_run(spark, run_dir) == render_run(spark, swept), run_dir
