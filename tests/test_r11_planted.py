"""Round-11 pins: the size-gated broadcast in dedup_cluster's contraction.

The r10 verdict flagged dedup_cluster's round-1 `F.broadcast` as
unconditional — correct at fixture scale ("the node set is tiny AFTER the
first contraction") but an executor OOM on a near-dup-dense 100x corpus
where the round-1 node→label map is as big as the raw node set, and AQE
cannot override an explicit hint.  r11 gates the hint on the current edge
count (an upper bound on map rows) with a row budget, and derives the
checkpoint partition widths from the edge count instead of pinning
coalesce(4).  These tests pin both halves of that contract:

* plan: with auto-broadcast disabled, _cc_round under the budget still
  plans BroadcastHashJoins (the hint is real), and over the budget plans
  NO broadcast join and carries NO hint (AQE owns the decision);
* value: dedup_cluster's output is row-identical with the gate forced
  off (budget patched to 0) — the hint is a pure physical lever.
"""

from __future__ import annotations

import pyspark.sql.functions as F

import recommend_spark.queries.dedup as dd
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


def test_cc_round_gated_path_carries_no_hint(spark):
    e, rep = _fixture_graph(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # an edge count past the default budget must suppress the hint:
        # no ResolvedHint in the analyzed plan (the decision is AQE's,
        # not forced) and, with auto-broadcast off, no broadcast join in
        # the physical plan either
        rep2, e2 = _cc_round(e, rep, n_edges=10**9, rep_width=4)
        for df in (rep2, e2):
            assert "ResolvedHint" not in _analyzed(df), _analyzed(df)[:2000]
            assert "BroadcastHashJoin" not in _plan(df), _plan(df)[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cc_round_gated_path_value_identical(spark):
    e, rep = _fixture_graph(spark)
    out = {}
    for tag, n_edges in (("hinted", 8), ("gated", 10**9)):
        rep2, e2 = _cc_round(e, rep, n_edges=n_edges, rep_width=4)
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
    monkeypatch.setattr(dd, "_CC_BROADCAST_MAX_MAP_ROWS", 0)
    gated = sorted(map(tuple, QUERIES["dedup_cluster"](spark, SF_DIR).collect()))
    assert gated == base
    assert len(base) > 0
