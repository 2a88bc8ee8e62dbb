"""Regression pins for round-6 fixes (VERDICT/ADVICE r5)."""

import numpy as np

from ironspark.robots import parse_robots_txt


# -- RFC 9309 §2.2.1 exact UA-token group matching (VERDICT r5 #2) ----------

PREFIX_TRAP = """
User-agent: iron
Disallow: /iron-only/
Crawl-delay: 9

User-agent: *
Disallow: /everyone/
Crawl-delay: 2
"""


def test_ua_exact_match_does_not_adopt_prefix_group():
    # agent "ironspark" must NOT adopt the "iron" group (prefix match
    # would); strict RFC assigns that group to a different crawler
    delay, dis, _ = parse_robots_txt(PREFIX_TRAP, agent="ironspark")
    assert delay == 2.0
    assert dis == ["/everyone/"]


def test_ua_exact_match_still_selects_own_group():
    delay, dis, _ = parse_robots_txt(PREFIX_TRAP, agent="iron")
    assert delay == 9.0
    assert dis == ["/iron-only/"]


def test_ua_exact_match_case_insensitive():
    delay, dis, _ = parse_robots_txt(
        "User-agent: IronSpark\nDisallow: /mine/", agent="ironspark"
    )
    assert dis == ["/mine/"]


def test_ua_duplicate_groups_merge():
    txt = (
        "User-agent: ironspark\nDisallow: /a/\n\n"
        "User-agent: ironspark\nDisallow: /b/\n"
    )
    _, dis, _ = parse_robots_txt(txt, agent="ironspark")
    assert sorted(dis) == ["/a/", "/b/"]


# -- JVM-side xxhash64 seen-set hashing (VERDICT r5 #1 / task #3) ------------
#
# The per-wave executor paths (bloom build, bloom/cuckoo probes, cuckoo
# distributed build) now consume Spark `xxhash64` COLUMNS; the pure-
# Python xxh64 twin serves only small driver-side adds. These pins prove
# the two are bit-identical, so driver-added seeds and executor-added
# waves land in the same bitset positions / cuckoo buckets.

HASH_CASES = [
    "",
    "a",
    "abc",
    "http://h.example.com/page/1",
    "x" * 31,
    "y" * 32,
    "z" * 100,
    "http://ünïcode.example/päth?q=日本語",
    "exactly-eight",
    "http://h0.com/" + "long/" * 50,
]


def test_python_xxh64_matches_spark_xxhash64(spark):
    from pyspark.sql import functions as F

    from ironspark.seen import _H2_SEED, xxh64

    df = spark.createDataFrame([(s,) for s in HASH_CASES], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h1"),
        F.xxhash64(F.lit("ironspark-h2"), F.col("s")).alias("h2"),
    ).collect()
    assert len(rows) == len(HASH_CASES)
    for r in rows:
        b = r["s"].encode("utf-8")
        assert xxh64(b) == np.int64(r["h1"]).astype(np.uint64).astype(object)
        assert xxh64(b, _H2_SEED) == np.int64(r["h2"]).astype(
            np.uint64
        ).astype(object)


def test_hash_cols_match_hash128(spark):
    from ironspark.seen import _hash128, hash_cols

    df = spark.createDataFrame([(s,) for s in HASH_CASES], "s string")
    h1, h2 = hash_cols("s")
    rows = df.select("s", h1.alias("h1"), h2.alias("h2")).collect()
    for r in rows:
        a, b = _hash128(r["s"])
        assert a == int(np.int64(r["h1"]).astype(np.uint64))
        assert b == int(np.int64(r["h2"]).astype(np.uint64))


def test_shard_col_matches_numpy_uint64_mod(spark):
    from pyspark.sql import functions as F

    from ironspark.seen import _shard_col, hash_cols

    df = spark.createDataFrame(
        [(f"http://h{i}.com/{i}",) for i in range(500)], "s string"
    )
    h1, _ = hash_cols("s")
    for K in (3, 4, 7):
        rows = (
            df.select(h1.alias("h1"))
            .withColumn("shard", _shard_col(F.col("h1"), K))
            .collect()
        )
        for r in rows:
            expect = int(np.int64(r["h1"]).astype(np.uint64) % np.uint64(K))
            assert r["shard"] == expect, (r["h1"], K)


def test_bloom_build_runs_partials_in_parallel_tasks(spark):
    # ADVICE r5 (medium): the old coalesce chain collapsed hashing +
    # every OR level into ONE task. The repartition fan-in must leave
    # the partial stage as 8 separate tasks.
    from ironspark.seen import _bloom_merged_partials, BloomFilter

    urls = [(f"http://h{i % 5}.com/p/{i}",) for i in range(4000)]
    df = spark.createDataFrame(urls, "url_canon string").repartition(8)
    proto = BloomFilter(8192, 0.01)
    plan = _bloom_merged_partials(
        df, "url_canon", proto.m, proto.k
    )._jdf.queryExecution().executedPlan().toString()
    # a shuffle Exchange must separate the partial map stage from the
    # OR-merge stage (coalesce would show none)
    assert "Exchange" in plan


def test_cuckoo_distributed_build_matches_driver_adds(spark):
    from ironspark.seen import ShardedCuckoo

    urls = [f"http://h{i % 9}.com/p/{i}" for i in range(3000)]
    df = spark.createDataFrame([(u,) for u in urls], "url_canon string").repartition(6)

    dist = ShardedCuckoo(spark, 8192, shards=4)
    dist.add_df(df, "url_canon")
    drv = ShardedCuckoo(spark, 8192, shards=4)
    drv.add_urls(urls)
    # same hash family -> same occupancy (every url inserted exactly
    # once in both builds; no saturation) and identical membership.
    # Bucket-level layout may differ: an fp legally sits in i1 or i2
    # depending on insertion order, so tables aren't compared bit-wise.
    dt, vt = dist._slices[0][1], drv._slices[0][1]
    assert np.count_nonzero(dt) == np.count_nonzero(vt) == len(urls)
    assert not dist._slices[0][2].any() and not drv._slices[0][2].any()
    for u in urls:
        assert dist._contains_local(u) and drv._contains_local(u)
    dist.unpersist_all()
    drv.unpersist_all()


def test_cuckoo_probe_and_resync_after_jvm_hash_swap(spark):
    from pyspark.sql import functions as F

    from ironspark.seen import ShardedCuckoo

    urls = [f"http://h{i % 3}.com/p/{i}" for i in range(400)]
    df = spark.createDataFrame([(u,) for u in urls], "url_canon string")
    sc = ShardedCuckoo(spark, 4096, shards=2)
    sc.add_df(df, "url_canon")
    got = df.withColumn("m", sc.maybe_seen_udf()(F.col("url_canon"))).toPandas()
    assert got["m"].all()  # no false negatives
    # delete a handful, then resync against the surviving table
    victims = urls[:20]
    assert sorted(sc.delete_urls(victims)) == sorted(victims)
    survivors = df.join(
        spark.createDataFrame([(u,) for u in victims], "url_canon string"),
        "url_canon",
        "left_anti",
    )
    sc.resync_after_delete(survivors)
    got2 = survivors.withColumn(
        "m", sc.maybe_seen_udf()(F.col("url_canon"))
    ).toPandas()
    assert got2["m"].all()  # survivors still all "maybe seen"
    sc.unpersist_all()


# -- per-wave seen-join regime log (VERDICT r5 #5) ---------------------------


def test_wave_seen_join_regime_recorded(spark, tmp_path):
    """CrawlStats.wave_seen_join records the resolved regime per wave;
    forcing seen_broadcast_max_rows to 0 drives every wave to
    shuffle_hash, the default leaves small crawls on broadcast."""
    from ironspark.config import EngineConfig
    from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
    from ironspark.engine import CrawlEngine
    from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
    from ironspark.spider import LinkSpider

    pages = spark.createDataFrame(
        build_graph_corpus_pdf(60, n_hosts=4), PAGES_SCHEMA
    )
    seeds = spark.createDataFrame(graph_seeds(60, 6, 4), SEEDS_SCHEMA)

    cfg = EngineConfig(dedup=True, max_waves=4, respect_robots=False,
                       wave_seconds=3600.0)
    stats = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg).run(
        seeds=seeds, run_dir=str(tmp_path / "a"))
    assert len(stats.wave_seen_join) == stats.waves
    assert all(m == "broadcast" for m in stats.wave_seen_join)

    cfg2 = EngineConfig(dedup=True, max_waves=4, respect_robots=False,
                        wave_seconds=3600.0, seen_backend="bloom",
                        bloom_capacity=1 << 12,
                        seen_broadcast_max_rows=0)
    stats2 = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg2).run(
        seeds=seeds, run_dir=str(tmp_path / "b"))
    assert len(stats2.wave_seen_join) == stats2.waves
    assert all(m == "shuffle_hash" for m in stats2.wave_seen_join)
    # regime choice never changes results
    assert stats2.scheduled == stats.scheduled
    assert stats2.items == stats.items
