"""Round-15 pins: large-star/small-star rewiring in dedup_cluster's CC loop.

The r14 verdict's top open scale play: plain min-contraction removes ONE
node per round on a path component — O(diameter) rounds on a high-diameter
100 TB near-dup graph, where the round count (not the per-round cost) is
the killer.  r15 interleaves one Kiveris et al. large-star/small-star pair
per deep-residual round (_cc_star_pair), bounding the rounds
polylogarithmically.  The fixture never reaches the deep path (residual
3.6k edges << 5M threshold), so these tests force it by patching
io.LOCAL_ENDGAME_EDGES to 0 and pin three things:

* value: _cc_star_pair preserves component structure exactly on planted
  graphs (chain / star / clique / forest) — same components in, same out;
* rounds: a planted deep chain converges in O(log n) contraction rounds
  with the pair interleaved (the old loop needed n-1);
* equivalence: the deep-distributed path and the local-endgame path label
  a mixed planted graph identically, and labels are the component min;
* drift: with the stats-reset's private Spark API gone, the loop falls
  back to plain localCheckpoint, logs one WARNING and labels identically.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
import pytest
from py4j.protocol import Py4JError

import recommend_spark.io as io
import recommend_spark.queries.dedup as dd
from recommend_spark.queries.dedup import _cc_components, _cc_star_pair


def _doubled(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )


def _true_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _components_of_edges(rows):
    return _true_components([(r["src"], r["dst"]) for r in rows])


PLANTED = {
    "chain": [(i, i + 1) for i in range(1, 40)],
    "star": [(100, v) for v in range(101, 140)],
    "clique": [(a, b) for a in range(200, 210) for b in range(a + 1, 210)],
    "forest": [(1, 5), (5, 9), (2, 6), (6, 10), (3, 7)],
}


def test_cc_star_pair_preserves_components(spark):
    for name, pairs in PLANTED.items():
        e = _doubled(spark, pairs)
        out = _cc_star_pair(e, width=4)
        rows = out.collect()
        # still doubled and self-loop-free
        assert all(r["src"] != r["dst"] for r in rows), name
        pairs_out = {(r["src"], r["dst"]) for r in rows}
        assert {(b, a) for a, b in pairs_out} == pairs_out, name
        # exact component preservation: same partition of the node set
        before = _true_components(pairs)
        after = _components_of_edges(rows)
        assert set(before) == set(after), name
        assert before == after, name


def test_cc_checkpoint_resets_catalyst_stats(spark):
    # Dataset.localCheckpoint inherits the source plan's ESTIMATED stats,
    # so per-round join estimates compound ~3x in DIGITS per round until
    # BigInteger overflows (~round 16) — _cc_checkpoint must keep the
    # loop's sizeInBytes flat (the per-table default) forever
    import pyspark.sql.functions as F

    pairs = spark.range(1, 40).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    e = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF(
        "src", "dst"
    )
    rep = None
    digits = []
    for _ in range(6):
        rep, e = dd._cc_round(e, rep, n_edges=80, rep_width=4)
        sb = str(e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        digits.append(len(sb))
    assert max(digits) <= 25, digits  # compounding would be >2000 by round 6


def test_cc_components_deep_chain_round_count(spark, monkeypatch):
    # force the deep-distributed path on a 256-node chain and count
    # contraction rounds: old loop = 255, star-interleaved must be O(log n)
    monkeypatch.setattr(io, "LOCAL_ENDGAME_EDGES", 0)
    calls = {"rounds": 0}
    real_round = dd._cc_round

    def counting_round(*a, **k):
        calls["rounds"] += 1
        return real_round(*a, **k)

    monkeypatch.setattr(dd, "_cc_round", counting_round)
    pairs = [(i, i + 1) for i in range(1, 256)]
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    rep, _ = _cc_components(pdf)
    labels = {r["orig"]: r["cur"] for r in rep.collect()}
    assert labels == {v: 1 for v in range(1, 257)}
    assert calls["rounds"] <= 20, calls["rounds"]


def test_cc_components_deep_path_matches_endgame_path(spark, monkeypatch):
    # mixed planted graph: chain + star + clique + isolated-in-pairs edge
    pairs = (
        PLANTED["chain"] + PLANTED["star"] + PLANTED["clique"] + [(500, 501)]
    )
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    rep_endgame, _ = _cc_components(pdf)  # default threshold: local endgame
    monkeypatch.setattr(io, "LOCAL_ENDGAME_EDGES", 0)
    rep_deep, _ = _cc_components(pdf)  # deep path: stars + contraction only
    a = sorted(map(tuple, rep_endgame.collect()))
    b = sorted(map(tuple, rep_deep.collect()))
    assert a == b
    truth = _true_components(pairs)
    assert dict(a) == truth


@pytest.mark.parametrize(
    "drift",
    [
        ImportError("No module named 'pyspark.sql.classic'"),
        Py4JError("Method internalCreateDataFrame([...]) does not exist"),
    ],
    ids=["no_classic_module", "no_internalCreateDataFrame"],
)
def test_cc_checkpoint_falls_back_on_private_api_drift(
    spark, monkeypatch, caplog, drift
):
    # every planted shape in one graph (forest shifted off the chain's ids)
    forest = [(a + 1000, b + 1000) for a, b in PLANTED["forest"]]
    pairs = PLANTED["chain"] + PLANTED["star"] + PLANTED["clique"] + forest
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    ref = sorted(map(tuple, _cc_components(pdf)[0].collect()))

    def broken(ck):
        raise drift

    monkeypatch.setattr(dd, "_drop_inherited_stats", broken)
    monkeypatch.setattr(dd, "_STATS_RESET_WARNED", False)
    with caplog.at_level(logging.WARNING, logger=dd.__name__):
        endgame = sorted(map(tuple, _cc_components(pdf)[0].collect()))
        monkeypatch.setattr(io, "LOCAL_ENDGAME_EDGES", 0)
        deep = sorted(map(tuple, _cc_components(pdf)[0].collect()))
    assert endgame == ref
    assert deep == ref
    assert dict(ref) == _true_components(pairs)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1, warnings
    assert type(drift).__name__ in warnings[0].getMessage()
