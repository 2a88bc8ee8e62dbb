"""Round-4 fix pins (VERDICT r3 "Next round" + ADVICE items).

* cookie-jar harvest is an EXECUTOR-side reduction: the driver collect
  is O(distinct cookie hosts), not O(cookie-bearing responses);
* invalidate_seen repairs cuckoo delete collisions even when the
  invalidated url was never in the seen table (resync gated on zeroed
  entries, not on seen-table rows);
* metrics/status flush goes through TableIO so resume and the monitor
  read them back through the same store.
"""

from __future__ import annotations

import pandas as pd
import pytest

from ironspark.config import EngineConfig
from ironspark.engine import CrawlEngine, RunState, TableIO
from ironspark.seen import ShardedCuckoo, _hash128
from ironspark.spider import ArticleSpider


def _engine(spark, **cfg):
    return CrawlEngine(
        spark, None, {1: ArticleSpider()}, EngineConfig(**cfg)
    )


def test_cookie_harvest_is_per_host(spark):
    """VERDICT r3 #3: 1000 cookie-bearing responses over 3 hosts must
    reach the driver as exactly 3 rows, and the per-host winner is the
    lexicographic max (the documented deterministic tie-break)."""
    rows = []
    for i in range(1000):
        host = f"h{i % 3}.example.com"
        rows.append(("resp", host, f"sid=c{i:04d}"))
    rows.append(("resp", "h9.example.com", None))   # no cookie: ignored
    rows.append(("item", "h0.example.com", "sid=zzzz"))  # wrong kind
    parse_out = spark.createDataFrame(
        pd.DataFrame(rows, columns=["kind", "host", "set_cookie"]),
        "kind string, host string, set_cookie string",
    )
    eng = _engine(spark, store_cookies=True)
    jar_rows = eng._harvest_cookies(parse_out)
    assert len(jar_rows) == 3          # O(hosts), not O(responses)
    assert eng._cookie_jar == {
        "h0.example.com": "sid=c0999",
        "h1.example.com": "sid=c0997",
        "h2.example.com": "sid=c0998",
    }


# a (shard, fp, bucket)-colliding url pair for the cuckoo geometry
# capacity=4096 / shards=4 (nbuckets=512), found by brute force:
# both hash to shard 3, fp 58931, buckets {460, 268}
_COLL_A = "http://h.example.com/p/3843"
_COLL_B = "http://h.example.com/p/4352"


def test_collision_pair_still_collides():
    """Guard: the hard-coded pair must keep colliding under the current
    hash — if this fails, re-run the brute-force search in the file
    history and update the pair."""
    cf = ShardedCuckoo.__new__(ShardedCuckoo)  # geometry math only
    nshards, nbuckets = 4, 512
    keys = []
    for u in (_COLL_A, _COLL_B):
        h1, h2 = _hash128(u)
        s = h1 % nshards
        fp = (h1 & 0xFFFF) or 1
        i1 = int(h2 % nbuckets)
        i2 = (i1 ^ int(_hash128(str(fp))[0])) % nbuckets
        keys.append((s, fp, frozenset((i1, i2))))
    assert keys[0][:2] == keys[1][:2]
    assert keys[0][2] & keys[1][2]


def test_invalidate_absent_url_repairs_collision(spark, tmp_path):
    """ADVICE r3: invalidating a url that is NOT in the seen table can
    still zero a colliding survivor's fingerprint; the resync must run
    (gate on zeroed entries) so the survivor stays in the prune."""
    run_dir = str(tmp_path / "run")
    eng = _engine(
        spark, dedup=True, seen_backend="cuckoo", bloom_capacity=1 << 12,
        seen_broadcast_max_rows=0,
    )
    io = TableIO(spark, run_dir)
    io.write(
        spark.createDataFrame([(_COLL_A,)], "url_canon string"), "seen", 0
    )
    eng._bloom = ShardedCuckoo(spark, 1 << 12, shards=4)
    eng._bloom.add_urls([_COLL_A])
    assert eng._bloom._contains_local(_COLL_A)

    removed = eng.invalidate_seen(run_dir, [_COLL_B])
    assert removed == 0                      # B was never seen
    # the survivor must still answer "maybe seen" — without the resync
    # the zeroed shared fingerprint makes A a false NEGATIVE and the
    # exact-dedup contract breaks (duplicate enqueue)
    assert eng._bloom._contains_local(_COLL_A)


def test_metrics_flush_through_tableio(spark, tmp_path, monkeypatch):
    """_flush_metrics must land via io.write, not direct parquet:
    the commit lists what the store wrote, and monitor.render_run finds
    metrics/status only through TableIO's read(). Each flush
    appends only the rows buffered since the previous one, and a flush
    with nothing buffered writes nothing."""
    calls = []
    eng = _engine(spark, store_cookies=False)
    io = TableIO(spark, str(tmp_path / "m"))
    st = RunState(io)
    st.metrics_buf = [
        {
            "wave": 0, "partition_id": 0, "scheduled": 1, "fetched": 1,
            "failed": 0, "retried": 0, "parsed": 1, "items": 1,
            "outlinks": 0, "deduped": 0, "dropped": 0, "unrouted": 0,
            "bytes_req": 10, "bytes_resp": 20,
            "t_fetch_ms": 1.0, "t_parse_ms": 1.0,
        }
    ]
    st.status_buf = [{"wave": 0, "resp_status": 200, "count": 1}]
    orig_write = io.write

    def spy(df, name, wave=None, mode="overwrite"):
        calls.append(name)
        return orig_write(df, name, wave, mode)

    monkeypatch.setattr(io, "write", spy)
    row = dict(st.metrics_buf[0])
    eng._flush_metrics(st)
    assert "metrics" in calls and "status" in calls
    assert io.read("metrics") is not None and io.read("status") is not None
    assert io.read("metrics").count() == 1
    assert io.read("status").count() == 1
    assert st.metrics_buf == [] and st.status_buf == []
    # nothing new buffered: no write
    eng._flush_metrics(st)
    assert len(calls) == 2
    # the next wave's rows are appended, the earlier ones kept; no
    # partition dir overrides the wave column
    st.metrics_buf = [{**row, "wave": 1}]
    eng._flush_metrics(st)
    assert calls == ["metrics", "status", "metrics"]
    waves = sorted(r.wave for r in io.read("metrics").collect())
    assert waves == [0, 1]
    assert io.read("status").count() == 1


def test_seen_join_regime_resolution(spark):
    """The seen-join regime switches broadcast -> shuffle_hash at the
    documented crossover, and the resolved mode shows up in the
    physical plan: broadcast regime = BroadcastHashJoin with NO bloom
    tag column; shuffle regime = the pruned split over a shuffled hash
    join (the plan the 10^10-url crawl needs)."""
    import pandas as pd

    from ironspark.seen import ShardedBloom

    eng = _engine(spark, seen_broadcast_max_rows=1000)
    assert eng._resolve_seen_join(seen_rows=1000) == "broadcast"
    assert eng._resolve_seen_join(seen_rows=1001) == "shuffle_hash"
    assert eng._resolve_seen_join(seen_rows=None) == "shuffle_hash"
    # flip regime: seen outgrew the wave (ratio default 2.0) but still
    # fits under the shuffle crossover
    assert (
        eng._resolve_seen_join(seen_rows=1000, wave_outlinks=499) == "flip"
    )
    assert (
        eng._resolve_seen_join(seen_rows=1000, wave_outlinks=500)
        == "broadcast"
    )
    assert (
        eng._resolve_seen_join(seen_rows=1001, wave_outlinks=10)
        == "shuffle_hash"
    )

    cand = spark.createDataFrame(
        pd.DataFrame({"url_canon": [f"http://h/{i}" for i in range(20)]})
    )
    seen = spark.createDataFrame(
        pd.DataFrame({"url_canon": [f"http://h/{i}" for i in range(0, 20, 2)]})
    )
    caches = []
    # broadcast regime: map-side anti-join, no prune stage
    plan_b = eng._filter_new(
        cand, seen, eng._resolve_seen_join(seen_rows=10), caches
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b and "LeftAnti" in plan_b
    assert "_maybe" not in plan_b

    # flip regime: BOTH broadcasts are wave-sized (the seen side is
    # only scanned); plan shows a semi (dupes) feeding an anti probe,
    # and the result is exactly the unseen candidates
    flipped = eng._filter_new(
        cand, seen, eng._resolve_seen_join(seen_rows=10, wave_outlinks=1), caches
    )
    plan_f = flipped._jdf.queryExecution().executedPlan().toString()
    assert plan_f.count("BroadcastHashJoin") == 2
    assert "LeftSemi" in plan_f and "LeftAnti" in plan_f
    got_f = {r.url_canon for r in flipped.collect()}
    assert got_f == {f"http://h/{i}" for i in range(1, 20, 2)}

    # shuffle regime with live slices: pruned split + shuffled hash join
    eng._bloom = ShardedBloom(spark, 1 << 12, 0.01, 4)
    eng._bloom.add_local(["http://h/0"])
    pruned = eng._filter_new(
        cand, seen, eng._resolve_seen_join(seen_rows=10**9), caches
    )
    plan_s = pruned._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_s and "_maybe" not in pruned.columns
    got = {r.url_canon for r in pruned.collect()}
    assert got == {f"http://h/{i}" for i in range(1, 20, 2)}
    for df in caches:
        df.unpersist()


def test_scan_split_sizing(spark, tmp_path):
    """Corpus-scan splits are sized for >=4 tasks per core (clamped to
    [4 MB, 128 MB]); without a corpus (http fetch mode) it no-ops."""
    import os

    import pyspark.sql.functions as F

    pdir = str(tmp_path / "pages")
    spark.range(2000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
        F.encode(F.lit("x" * 2000), "utf-8").alias("html"),
        F.current_timestamp().alias("warc_ts"),
    ).repartition(4).write.parquet(pdir)
    pages = spark.read.parquet(pdir)

    total = sum(
        os.path.getsize(os.path.join(pdir, f))
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    )
    par = spark.sparkContext.defaultParallelism

    eng = CrawlEngine(spark, pages, {1: ArticleSpider()}, EngineConfig())
    got = eng._scan_split_bytes()
    assert got == min(128 << 20, max(4 << 20, total // (4 * par)))

    # no corpus (http fetch mode) disables
    assert _engine(spark)._scan_split_bytes() is None
