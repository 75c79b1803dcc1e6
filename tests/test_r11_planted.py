"""Round-11 pins: the size-gated broadcast in dedup_cluster's contraction.

The r10 verdict flagged dedup_cluster's round-1 `F.broadcast` as
unconditional — correct at fixture scale ("the node set is tiny AFTER the
first contraction") but an executor OOM on a near-dup-dense 100x corpus
where the round-1 node→label map is as big as the raw node set, and AQE
cannot override an explicit hint.  The hint goes through ``io.hint_if`` on
the map's exact row count (returned by the checkpoint that materializes
it), and the checkpoint partition widths derive from the edge count
instead of a pinned coalesce(4).  These tests pin both halves of that
contract:

* plan: with auto-broadcast disabled, _cc_round under the budget still
  plans BroadcastHashJoins (the hint is real), and over the budget plans
  NO broadcast join and carries NO hint (AQE owns the decision); the
  bound is the map's node count, not the edge count, so a dense clique
  whose edges alone would exceed the budget still hints;
* value: dedup_cluster's output is row-identical with the gate forced
  off (``io.BROADCAST_HINT_BUDGET`` patched to 0) — the hint is a pure
  physical lever.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from recommend_spark import io
from recommend_spark.queries import QUERIES
from recommend_spark.queries.dedup import _cc_round, _cc_width
from tests.conftest import SF_DIR


def _fixture_graph(spark):
    # two components (min labels 1 and 10) plus a chain, doubled like the
    # operator's edge set
    pairs = [(1, 2), (2, 3), (10, 11), (3, 4)]
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs], "src long, dst long"
    )
    rep = (
        e.select(F.col("src").alias("orig"))
        .distinct()
        .select("orig", F.col("orig").alias("cur"))
    )
    return e, rep


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_cc_round_hints_broadcast_under_budget(spark):
    e, rep = _fixture_graph(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rep2, e2 = _cc_round(e, rep, n_edges=8, rep_width=4)
        # threshold is -1, so any BroadcastHashJoin here comes from the hint
        assert "BroadcastHashJoin" in _plan(rep2), _plan(rep2)[:2000]
        assert "BroadcastHashJoin" in _plan(e2), _plan(e2)[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cc_round_hints_dense_clique_by_node_count(spark, monkeypatch):
    # 40-node clique: 1,560 doubled edges but a 40-row map.  A budget
    # between map rows x 16 B and edges x 16 B must still hint: the gate
    # reads the map's exact row count, not the edge count.
    nodes = range(1, 41)
    e = spark.createDataFrame(
        [(a, b) for a in nodes for b in nodes if a != b], "src long, dst long"
    )
    rep = spark.createDataFrame([(v, v) for v in nodes], "orig long, cur long")
    n_edges = e.count()
    assert n_edges == 1560
    monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", 40 * 16 * 4)
    assert 40 * 16 < io.BROADCAST_HINT_BUDGET < n_edges * 16
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rep2, e2 = _cc_round(e, rep, n_edges=n_edges, rep_width=4)
        assert "BroadcastHashJoin" in _plan(rep2), _plan(rep2)[:2000]
        assert "BroadcastHashJoin" in _plan(e2), _plan(e2)[:2000]
        assert sorted(map(tuple, rep2.collect())) == [(v, 1) for v in nodes]
        assert e2.count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cc_round_gated_path_carries_no_hint(spark, monkeypatch):
    e, rep = _fixture_graph(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # a map past the hint budget must suppress the hint: no
        # ResolvedHint in the analyzed plan (the decision is AQE's, not
        # forced) and, with auto-broadcast off, no broadcast join in the
        # physical plan either
        monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", 0)
        rep2, e2 = _cc_round(e, rep, n_edges=8, rep_width=4)
        for df in (rep2, e2):
            assert "ResolvedHint" not in _analyzed(df), _analyzed(df)[:2000]
            assert "BroadcastHashJoin" not in _plan(df), _plan(df)[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cc_round_gated_path_value_identical(spark, monkeypatch):
    e, rep = _fixture_graph(spark)
    out = {}
    for tag, budget in (("hinted", io.BROADCAST_HINT_BUDGET), ("gated", 0)):
        monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", budget)
        rep2, e2 = _cc_round(e, rep, n_edges=8, rep_width=4)
        out[tag] = (
            sorted(map(tuple, rep2.collect())),
            sorted(map(tuple, e2.collect())),
        )
    assert out["hinted"] == out["gated"]


def test_cc_width_derives_from_edge_count():
    assert _cc_width(0) == 4  # floor
    assert _cc_width(7_999) == 4
    assert _cc_width(10_000_000) == 5
    assert _cc_width(10**12) == 256  # ceiling


def test_dedup_cluster_value_identical_with_gate_forced_off(spark, monkeypatch):
    base = sorted(map(tuple, QUERIES["dedup_cluster"](spark, SF_DIR).collect()))
    monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", 0)
    gated = sorted(map(tuple, QUERIES["dedup_cluster"](spark, SF_DIR).collect()))
    assert gated == base
    assert len(base) > 0
