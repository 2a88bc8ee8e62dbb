"""Semantic tests for connected components (ironspark.graph)."""

from ironspark.graph import connected_components


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["src", "dst"])


def _uf_components(edges):
    # independent union-find reference
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min node id reachable
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    return comp


def _cc(spark, edges, **kw):
    df = connected_components(_edges(spark, edges), **kw)
    return {r["node"]: r["component"] for r in df.collect()}


def test_cc_matches_union_find_on_pseudorandom_graph(spark):
    # deterministic hash-derived graph: mixed component sizes, hubs,
    # parallel edges, self loops
    import hashlib

    edges = []
    for i in range(250):
        h = int.from_bytes(
            hashlib.md5(f"e{i}".encode()).digest()[:8], "big"
        )
        edges.append((h % 97, (h // 97) % 211 + 100))
    edges += [(5, 5), (3, 8), (3, 8)]  # self loop + parallel
    expect = _uf_components(edges)
    assert _cc(spark, edges) == expect


def test_cc_long_chain_converges_in_few_rounds(spark):
    # diameter-120 chain: plain min-label propagation needs 120 rounds;
    # large/small-star must land it within the default 20
    chain = [(i, i + 1) for i in range(120)]
    out = _cc(spark, chain)
    assert set(out.values()) == {0}
    assert len(out) == 121


def test_cc_star_and_singleton_components(spark):
    edges = [(10, 2), (10, 7), (10, 30), (40, 41), (50, 50)]
    out = _cc(spark, edges)
    assert out == {2: 2, 7: 2, 10: 2, 30: 2, 40: 40, 41: 40, 50: 50}
