"""Bloom / cuckoo filter unit + equivalence tests (SURVEY.md §2.4 P7)."""

import numpy as np
import pandas as pd

from ironspark.seen import BloomFilter, CuckooFilter, build_bloom


def _urls(n, prefix="http://h.example.com/page/"):
    return pd.Series([f"{prefix}{i}" for i in range(n)])


def test_bloom_no_false_negatives():
    bf = BloomFilter(10_000, 0.01)
    urls = _urls(5000)
    bf.add_series(urls)
    assert bf.contains_series(urls).all()


def test_bloom_fpp_bounded():
    bf = BloomFilter(10_000, 0.01)
    bf.add_series(_urls(10_000))
    other = _urls(20_000, prefix="http://other.example.com/x/")
    fp = bf.contains_series(other).mean()
    assert fp < 0.03, f"false-positive rate {fp} above bound"


def test_bloom_merge_is_union():
    a, b = BloomFilter(1000, 0.01), BloomFilter(1000, 0.01)
    ua, ub = _urls(300), _urls(300, prefix="http://b.com/")
    a.add_series(ua)
    b.add_series(ub)
    a.merge(b)
    assert a.contains_series(ua).all() and a.contains_series(ub).all()


def test_bloom_distributed_build_matches_local(spark):
    urls = [f"http://h{i % 7}.com/p/{i}" for i in range(2000)]
    df = spark.createDataFrame([(u,) for u in urls], "url_canon string").repartition(8)
    dist = build_bloom(df, "url_canon", 4096, 0.01)
    local = BloomFilter(4096, 0.01)
    local.add_series(pd.Series(urls))
    assert np.array_equal(dist.bits, local.bits)


def test_cuckoo_insert_lookup_delete():
    cf = CuckooFilter(4096)
    urls = [f"http://h.com/{i}" for i in range(2000)]
    for u in urls:
        assert cf.add(u)
    assert all(cf.contains(u) for u in urls)
    # delete half, they disappear; others remain
    for u in urls[:1000]:
        assert cf.delete(u)
    assert all(cf.contains(u) for u in urls[1000:])
    # no false negatives for remaining; deleted mostly gone (fp possible)
    still = sum(cf.contains(u) for u in urls[:1000])
    assert still < 50


def test_cuckoo_capacity():
    cf = CuckooFilter(1000)
    ok = sum(cf.add(f"http://x.com/{i}") for i in range(1000))
    assert ok == 1000  # fits up to design capacity


def test_sharded_bloom_membership_and_compaction(spark):
    """Slices answer membership like one big filter; compaction bounds
    live slices and releases every superseded broadcast."""
    from ironspark.seen import ShardedBloom

    sb = ShardedBloom(spark, capacity=4096, fpp=0.01, max_slices=3)
    waves = []
    for w in range(7):
        urls = [f"http://h{w}.com/p/{i}" for i in range(200)]
        waves.append(urls)
        df = spark.createDataFrame([(u,) for u in urls], "url_canon string")
        sb.add_delta(df, "url_canon")
        assert sb.n_slices <= 3
    # no false negatives across every wave ever added
    all_urls = [u for ws in waves for u in ws]
    df = spark.createDataFrame([(u,) for u in all_urls], "url_canon string")
    got = df.withColumn("m", sb.maybe_seen_udf()(df["url_canon"])).toPandas()
    assert got["m"].all()
    # one broadcast per delta + one per compaction; stale ones released
    assert sb.n_broadcast == sb.n_unpersisted + sb.n_slices
    assert sb.n_unpersisted > 0  # compaction actually happened
    sb.unpersist_all()
    assert sb.n_broadcast == sb.n_unpersisted


def test_engine_bloom_broadcast_discipline(spark, tmp_path):
    """Per wave the engine creates O(1) Bloom broadcasts (one delta
    slice, +1 on compaction) and releases superseded ones — never a
    re-broadcast of the whole merged bitset (round-1 leak)."""
    import pandas as pd

    from ironspark.config import EngineConfig
    from ironspark.corpus import build_graph_corpus_pdf, graph_seeds
    from ironspark.engine import CrawlEngine
    from ironspark.schemas import PAGES_SCHEMA, SEEDS_SCHEMA
    from ironspark.spider import LinkSpider

    pages = spark.createDataFrame(build_graph_corpus_pdf(300, 6), PAGES_SCHEMA)
    seeds = spark.createDataFrame(graph_seeds(300, 5, 6), SEEDS_SCHEMA)
    cfg = EngineConfig(
        dedup=True, seen_backend="bloom", bloom_max_slices=2,
        max_waves=10, respect_robots=False, bloom_capacity=1 << 12,
        seen_broadcast_max_rows=0,  # shuffle regime: exercise the prune path
    )
    eng = CrawlEngine(spark, pages, {1: LinkSpider()}, cfg)
    stats = eng.run(seeds=seeds, run_dir=str(tmp_path / "bloomrun"))
    sb = eng._bloom
    assert sb is not None and stats.waves >= 2
    # adds = one per wave that produced new urls (+ the seed wave);
    # broadcasts = adds + compactions <= 2 * adds, and everything not
    # live has been unpersisted
    assert sb.n_broadcast <= 2 * (stats.waves + 1)
    assert sb.n_slices <= cfg.bloom_max_slices
    assert sb.n_unpersisted == sb.n_broadcast - sb.n_slices


def test_bloom_tree_merge_driver_bytes_bounded(spark):
    """The driver must receive ONE geometry-sized bitset row no matter
    how many input partitions exist (the old shape collected one full
    bitset PER partition — partitions × geometry through the driver)."""
    import pandas as pd

    from ironspark.seen import _bloom_merged_partials

    urls = pd.DataFrame({"url_canon": [f"http://h{i}.test/p{i}" for i in range(500)]})
    df = spark.createDataFrame(urls).repartition(64)
    proto = BloomFilter(4096, 0.01)
    rows = _bloom_merged_partials(df, "url_canon", proto.m, proto.k).collect()
    assert len(rows) == 1                       # ≤ 2× geometry: one row
    assert len(rows[0]["bits"]) == proto.m // 8  # exactly the geometry

    # and the merged result is still the exact union
    dist = build_bloom(df, "url_canon", 4096, 0.01)
    assert dist.contains_series(urls["url_canon"]).all()
