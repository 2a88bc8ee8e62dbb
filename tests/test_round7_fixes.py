"""Round-7 optimization pins.

Each test guards one round-7 optimization:
- the LSH bucket-guard broadcast inversion (VERDICT r6 #1),
- the connected-components star-forest convergence probe (VERDICT r6 #3),
- the r6 ADVICE guard on the near_dup_clusters algorithm.
"""

import pytest

from ironspark.graph import _star_violations, connected_components
from ironspark.textops import (
    _incr_candidates,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_clusters,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


NEAR_DUP_TEXTS = [
    "the quick brown fox jumps over the lazy dog tonight",
    "the quick brown fox jumps over the lazy dog today",
    "a completely different document about spark physical plans",
    "the quick brown fox jumps over the lazy dog tonight",
]


def test_lsh_bucket_guard_is_not_hint_broadcast(spark):
    # VERDICT r6 #1: the under-cap bucket-key list (corpus-sized at
    # scale) must never be FORCE-broadcast — the guard join now carries
    # no broadcast hint (AQE may still broadcast at runtime when the
    # list actually fits, which is the point), so the analyzed plan
    # must contain no hint node.
    analyzed = (
        lsh_candidate_pairs(_docs(spark, NEAR_DUP_TEXTS), bands=4)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "Hint" not in analyzed
    # and it still finds the near-dup pairs
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(_docs(spark, NEAR_DUP_TEXTS), bands=4).collect()
    }
    assert (0, 3) in pairs  # exact dup docs share every bucket


def test_incremental_candidate_guard_broadcasts_only_overcap_side(spark):
    # the only BroadcastExchange in the candidate plan must feed the
    # LEFT-ANTI join that removes over-cap buckets; the under-cap
    # (corpus-sized) side must not be broadcast anywhere.
    new = _docs(spark, NEAR_DUP_TEXTS[:1])
    old = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(NEAR_DUP_TEXTS[1:])],
        ["doc_id", "text"],
    )
    cand = _incr_candidates(
        minhash_signatures(new, 4), minhash_signatures(old, 4), max_bucket=50
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1
    anti = plan.find("LeftAnti")
    bc = plan.find("BroadcastExchange")
    assert anti != -1 and bc > anti  # the broadcast is the anti-join's build side
    got = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (0, 102) in got  # new doc 0 == corpus doc 102 (same text)


def test_star_violations_detects_fixpoint_exactly(spark):
    def edges(rows):
        return spark.createDataFrame(rows, "u long, v long")

    # disjoint stars rooted at minima: a fixpoint -> zero violations
    assert _star_violations(edges([(1, 2), (1, 3), (10, 11)])) == 0
    # a chain is NOT a star forest (2 is both a hub side and a leaf)
    assert _star_violations(edges([(1, 2), (2, 3)])) > 0
    # a v-side node with two hubs is a violation
    assert _star_violations(edges([(1, 3), (2, 3)])) > 0
    # empty edge set: trivially converged
    assert _star_violations(edges([]).limit(0)) == 0


def test_components_still_correct_on_chain_and_star(spark):
    # the convergence probe changed (star-forest aggregate instead of
    # two exceptAll diffs) — labels must be unchanged
    rows = [(i, i + 1) for i in range(0, 12)] + [(20, 21), (21, 22), (30, 30)]
    e = spark.createDataFrame(rows, ["src", "dst"])
    out = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert all(out[n] == 0 for n in range(13))
    assert out[20] == out[21] == out[22] == 20
    assert out[30] == 30


def test_near_dup_clusters_rejects_unknown_algorithm(spark):
    with pytest.raises(ValueError):
        near_dup_clusters(_docs(spark, NEAR_DUP_TEXTS), algorithm="stars")
