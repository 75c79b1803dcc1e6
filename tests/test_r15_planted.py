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
* io.checkpoint: the count comes from the materializing job (no more
  jobs than a plain localCheckpoint), and only a stats-reset checkpoint
  stops the planner from broadcasting it on its own;
* drift: with io.checkpoint's private Spark API gone (the count path or
  the stats reset), the loop falls back to the public API, logs one
  WARNING and labels identically.
"""

from __future__ import annotations

import logging
import time
import uuid

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


def _jobs(spark, call):
    sc = spark.sparkContext
    group = f"ckpt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    time.sleep(0.5)  # the status store is fed by the async listener bus
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _grouped(spark):
    # a shuffle, so AQE runs a stage job before the result job
    return spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 37).alias("k")).count()


def test_checkpoint_counts_in_the_materializing_job(spark):
    (ck, n), ck_jobs = _jobs(spark, lambda: io.checkpoint(_grouped(spark)))
    _, lc_jobs = _jobs(spark, lambda: _grouped(spark).localCheckpoint())
    assert n == 37
    assert ck_jobs <= lc_jobs, (ck_jobs, lc_jobs)
    assert sorted(map(tuple, ck.collect())) == sorted(
        map(tuple, _grouped(spark).collect())
    )


@pytest.mark.parametrize("drift", [False, True], ids=["private_api", "fallback"])
def test_checkpoint_materializes_once(spark, monkeypatch, drift):
    # a udf that counts its own evaluations: the checkpoint evaluates each
    # source row once, and later reads run on the stored blocks
    if drift:

        def broken(*_):
            raise AttributeError("'DataFrame' object has no attribute '_jdf'")

        monkeypatch.setattr(io, "_internal_rows", broken)
        monkeypatch.setattr(io, "_PRIVATE_API_WARNED", False)
    evals = spark.sparkContext.accumulator(0)

    def tick(v):
        evals.add(1)
        return v

    src = spark.range(0, 50, 1, 4).select(F.udf(tick, "long")("id").alias("id"))
    ck, n = io.checkpoint(src, reset_stats=True)
    assert (n, evals.value) == (50, 50)
    assert sorted(r["id"] for r in ck.collect()) == list(range(50))
    assert ck.count() == 50
    assert evals.value == 50


def test_checkpoint_stats_reset_gates_auto_broadcast(spark):
    # the invariant behind reset_stats being CC-only: a checkpoint keeps
    # its source's size estimate, so the planner still broadcasts it on
    # its own; a reset one reads as the per-table default and never is
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10485760b"
    big = spark.range(10**9)

    def plan(small):
        return big.join(small, "id")._jdf.queryExecution().executedPlan().toString()

    kept, _ = io.checkpoint(spark.range(10))
    reset, _ = io.checkpoint(spark.range(10), reset_stats=True)
    assert "BroadcastHashJoin" in plan(kept), plan(kept)
    assert "BroadcastHashJoin" not in plan(reset), plan(reset)


def test_cc_checkpoint_resets_catalyst_stats(spark):
    # Dataset.localCheckpoint inherits the source plan's ESTIMATED stats,
    # so per-round join estimates compound ~3x in DIGITS per round until
    # BigInteger overflows (~round 16) — io.checkpoint(reset_stats=True)
    # must keep the loop's sizeInBytes flat (the per-table default) forever
    import pyspark.sql.functions as F

    pairs = spark.range(1, 40).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    e = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF(
        "src", "dst"
    )
    rep = None
    digits = []
    for _ in range(6):
        rep, e = dd._cc_round(e, rep, n_edges=80, rep_width=4)
        rep, _ = io.checkpoint(rep, reset_stats=True)
        e, _ = io.checkpoint(e, reset_stats=True)
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
    rep = _cc_components(pdf)
    labels = {r["orig"]: r["cur"] for r in rep.collect()}
    assert labels == {v: 1 for v in range(1, 257)}
    assert calls["rounds"] <= 20, calls["rounds"]


def test_cc_components_deep_path_matches_endgame_path(spark, monkeypatch):
    # mixed planted graph: chain + star + clique + isolated-in-pairs edge
    pairs = (
        PLANTED["chain"] + PLANTED["star"] + PLANTED["clique"] + [(500, 501)]
    )
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    rep_endgame = _cc_components(pdf)  # default threshold: local endgame
    monkeypatch.setattr(io, "LOCAL_ENDGAME_EDGES", 0)
    rep_deep = _cc_components(pdf)  # deep path: stars + contraction only
    a = sorted(map(tuple, rep_endgame.collect()))
    b = sorted(map(tuple, rep_deep.collect()))
    assert a == b
    truth = _true_components(pairs)
    assert dict(a) == truth


@pytest.mark.parametrize(
    "seam,drift",
    [
        ("_internal_rows", AttributeError("'DataFrame' has no attribute '_jdf'")),
        ("_internal_rows", Py4JError("Method toRdd([]) does not exist")),
        ("_without_inherited_stats", ImportError("No module named 'pyspark.sql.classic'")),
        (
            "_without_inherited_stats",
            Py4JError("Method internalCreateDataFrame([...]) does not exist"),
        ),
    ],
    ids=["no_jdf", "no_toRdd", "no_classic_module", "no_internalCreateDataFrame"],
)
def test_cc_checkpoint_falls_back_on_private_api_drift(
    spark, monkeypatch, caplog, seam, drift
):
    # every planted shape in one graph (forest shifted off the chain's ids)
    forest = [(a + 1000, b + 1000) for a, b in PLANTED["forest"]]
    pairs = PLANTED["chain"] + PLANTED["star"] + PLANTED["clique"] + forest
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    ref = sorted(map(tuple, _cc_components(pdf).collect()))

    def broken(*_):
        raise drift

    monkeypatch.setattr(io, seam, broken)
    monkeypatch.setattr(io, "_PRIVATE_API_WARNED", False)
    with caplog.at_level(logging.WARNING, logger=io.__name__):
        endgame = sorted(map(tuple, _cc_components(pdf).collect()))
        monkeypatch.setattr(io, "LOCAL_ENDGAME_EDGES", 0)
        deep = sorted(map(tuple, _cc_components(pdf).collect()))
    assert endgame == ref
    assert deep == ref
    assert dict(ref) == _true_components(pairs)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1, warnings
    assert type(drift).__name__ in warnings[0].getMessage()
