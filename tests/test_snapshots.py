"""Iceberg-shaped snapshot chain on the TableIO seam (round 6).

Every ``commit()`` appends a snapshot under ``<run_dir>/metadata/``:
``snap-<id>.json`` (parent pointer + manifest list + engine-manifest
summary), one ``manifest-<id>-<table>.json`` per state table listing
the concrete parquet data files, and a ``version-hint.text`` written
LAST as the commit point — the hadoop-catalog protocol. These tests
assert the three claims the metadata makes:

  * a checkpoint table is readable STRICTLY from a snapshot manifest's
    file list — by Spark AND by a foreign engine (DuckDB), byte-equal
    to the direct read;
  * the parent chain walks back to snapshot 0 and summaries advance
    monotonically with the wave counter;
  * a crawl whose engine manifest.json is LOST resumes purely from the
    snapshot summary (restore_manifest) — the head or a mid-chain
    snapshot — and converges to the same items + crawl order as an
    uninterrupted run.
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest

from ironspark.config import EngineConfig
from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
from ironspark.engine import CrawlEngine, TableIO
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


def test_snapshot_chain_and_manifest_reads(spark, crawl_setup, tmp_path):
    pages, seeds = crawl_setup
    run_dir = str(tmp_path / "run")
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg())
    eng.run(seeds=seeds, run_dir=run_dir)

    io = TableIO(spark, run_dir)
    head = io.current_snapshot_id()
    assert head is not None and head >= 1  # seed commit + >=1 wave

    # parent chain walks to snapshot 0; waves never decrease
    sid, seen_waves = head, []
    while sid is not None:
        snap = io.snapshot(sid)
        assert snap["snapshot-id"] == sid
        seen_waves.append(snap["summary"]["next_wave"])
        parent = snap["parent-snapshot-id"]
        assert parent is None or parent == sid - 1
        sid = parent
    assert seen_waves[-1] == 0  # chain reaches the seed commit
    assert seen_waves == sorted(seen_waves, reverse=True)
    assert io.snapshot(head)["summary"].get("done") is True

    # strictly-metadata-driven read == direct read, for Spark…
    direct = {r.url_canon for r in io.read_all_waves("seen").collect()}
    via_snap = {
        r.url_canon for r in io.read_at_snapshot("seen", head).collect()
    }
    assert via_snap == direct and direct

    # …and for a FOREIGN engine consuming only the manifest file list
    files = io.snapshot_table_files("seen", head)
    assert files and all(os.path.isabs(f) and f.endswith(".parquet") for f in files)
    con = duckdb.connect()
    duck = {
        r[0]
        for r in con.execute(
            "SELECT url_canon FROM read_parquet(?)", [files]
        ).fetchall()
    }
    assert duck == direct

    # manifest entries carry real sizes (Iceberg file stats shape)
    meta = os.path.join(run_dir, "metadata")
    mf = json.load(
        open(os.path.join(meta, f"manifest-{head}-seen.json"))
    )
    for d in mf["data-files"]:
        assert d["file-format"] == "PARQUET"
        assert d["file-size-in-bytes"] == os.path.getsize(d["file-path"])

    # an EARLIER snapshot sees strictly fewer (or equal) seen files —
    # time travel over the append-only table
    first_wave_sid = 1
    early = io.snapshot_table_files("seen", first_wave_sid)
    assert set(early) <= set(files) and len(early) < len(files)


def test_resume_strictly_from_snapshot_summary(spark, crawl_setup, tmp_path):
    pages, seeds = crawl_setup

    full_dir = str(tmp_path / "full")
    eng_full = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg())
    eng_full.run(seeds=seeds, run_dir=full_dir)
    a = eng_full.items_df(full_dir).select("src_url", "title", "text")
    oa = eng_full.crawl_order_df(full_dir).toPandas().sort_values("seq")

    # (waves the first run crawls, snapshot restored, config): the head
    # snapshot of a run cut at max_waves; and a mid-chain snapshot whose
    # next wave's overlapped tail already wrote seen/wave=3, which the
    # resumed dedup (and the prune's base build) must not read
    cases = [
        (2, None, {}),
        (3, 2, {"seen_backend": "exact"}),
        (3, 2, {"seen_backend": "cuckoo", "seen_broadcast_max_rows": 0}),
    ]
    for i, (waves, snap, kw) in enumerate(cases):
        part_dir = str(tmp_path / f"part{i}")
        cfg1 = _cfg(max_waves=waves, **kw)
        CrawlEngine(spark, pages, {1: LinkSpider()}, cfg1).run(
            seeds=seeds, run_dir=part_dir
        )

        # simulate a torn/lost engine manifest: the ONLY recovery input
        # is the snapshot chain
        os.remove(os.path.join(part_dir, "manifest.json"))
        io = TableIO(spark, part_dir)
        with pytest.raises(FileNotFoundError):
            io.restore_manifest(snapshot_id=10_000)
        restored = io.restore_manifest(snap)
        assert restored["next_wave"] == 2

        eng2 = CrawlEngine(spark, pages, {1: LinkSpider()}, _cfg(**kw))
        eng2.run(run_dir=part_dir, resume=True)

        b = eng2.items_df(part_dir).select("src_url", "title", "text")
        assert sorted(a.collect()) == sorted(b.collect()), kw
        ob = eng2.crawl_order_df(part_dir).toPandas().sort_values("seq")
        assert list(oa["url_canon"]) == list(ob["url_canon"]), kw
        assert list(oa["seq"]) == list(ob["seq"]), kw

        # recovery did not mint a snapshot; the resumed leg extended the
        # chain past the pre-crash head
        resumed_head = io.current_snapshot_id()
        assert resumed_head > restored["next_wave"]
        assert io.snapshot(resumed_head)["summary"].get("done") is True
