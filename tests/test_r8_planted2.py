"""Planted-value pins for the round-8 table-maintenance and privacy ops.

These four ops derive their change stream / noise / commit log
deterministically from the input table, so a tiny planted orders or
events table makes every output cell hand-computable — pinning the
semantics that Spark/DuckDB parity alone cannot (both engines share the
derivation, so a shared misconception would pass parity):

* pipeline_cdc_apply — tombstones WIN over the insert at the same key
  (key%10==1 disappears), updates replace price AND status, untouched
  keys pass through byte-identical;
* pipeline_dp_counts — the published value equals true count + the
  md5-seeded noise EXACTLY (recomputed independently with hashlib), a
  below-k group publishes NULL (never its count), and noisy_n is
  floored at zero;
* scan_time_travel — snapshot@v2 sees every key, snapshot@v3 only the
  %4==3 file: add/remove replay, not a table rewrite;
* dq_snapshot_diff — each %7 residue class lands in its designed
  change_type with the designed per-column counts and exact drift.
"""

from __future__ import annotations

import hashlib
from datetime import datetime

from recommend_spark import io
from recommend_spark.queries import QUERIES

_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _orders_dir(spark, root, n=14):
    rows = [
        (
            k,
            k,
            "O",
            100.0 + k,
            datetime(2024, 1, 1),
            f"{1 + k % 3}-PRI",
        )
        for k in range(1, n + 1)
    ]
    spark.createDataFrame(rows, _ORDERS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(root / "orders.parquet"))
    return str(root)


def test_cdc_apply_tombstone_update_passthrough(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cdc")
    out = {
        r["o_orderkey"]: r
        for r in QUERIES["pipeline_cdc_apply"](
            spark, _orders_dir(spark, root, n=14)
        ).collect()
    }
    # key 1 and 11 (%10==1) are tombstoned: gone entirely
    assert 1 not in out and 11 not in out
    # key 10 (%10==0) took the update: +50.0 and restatused
    assert out[10]["o_totalprice"] == 160.0
    assert out[10]["o_orderstatus"] == "UPDATED"
    # untouched key passes through byte-identical
    assert out[7]["o_totalprice"] == 107.0 and out[7]["o_orderstatus"] == "O"
    assert len(out) == 12  # 14 - 2 tombstones


def test_dp_counts_noise_exact_and_suppression(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dp")
    d0 = datetime(2024, 1, 1, 12, 0, 0)
    day_idx = 19723  # 2024-01-01
    rows = [
        (i, d0, i, "big", 1.0, "{}") for i in range(30)
    ] + [(100 + i, d0, i, "small", 1.0, "{}") for i in range(24)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(root / "events.parquet")
    )
    out = {
        r["event_type"]: r
        for r in QUERIES["pipeline_dp_counts"](spark, str(root)).collect()
    }
    # below k=25: suppressed, and the true count is NOT published
    assert out["small"]["suppressed"] is True
    assert out["small"]["noisy_n"] is None
    # at/above k: published value == n + md5-seeded noise, recomputed
    # independently here (the release must be exactly reproducible)
    noise = int(hashlib.md5(f"big:{day_idx}".encode()).hexdigest()[:8], 16) % 21 - 10
    assert out["big"]["suppressed"] is False
    assert out["big"]["noisy_n"] == max(30 + noise, 0)


def test_time_travel_replay(spark, tmp_path_factory, tmp_path, monkeypatch):
    monkeypatch.setattr(io, "ART_ROOT", str(tmp_path))  # a per-run corpus
    root = tmp_path_factory.mktemp("tt")
    sf_dir = _orders_dir(spark, root, n=8)
    rows = QUERIES["scan_time_travel"](spark, sf_dir).collect()
    v2 = sum(r["n_orders"] for r in rows if r["snapshot_v"] == 2)
    v3 = sum(r["n_orders"] for r in rows if r["snapshot_v"] == 3)
    assert v2 == 8  # v2 = file A (%4 != 3) + file B (%4 == 3): everything
    assert v3 == 2  # v3 removed file A: only keys 3 and 7 remain
    v3_price = sum(
        r["sum_price"] for r in rows if r["snapshot_v"] == 3
    )
    assert v3_price == 103.0 + 107.0


def test_snapshot_diff_classification(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("diff")
    out = {
        r["change_type"]: r
        for r in QUERIES["dq_snapshot_diff"](
            spark, _orders_dir(spark, root, n=14)
        ).collect()
    }
    # keys 1..14: %7==0 -> {7,14} removed; %7==1 -> {1,8} repriced;
    # %7==2 -> {2,9} restatused; %7==3 -> {3,10} cloned as added
    assert out["removed"]["n_rows"] == 2
    assert out["added"]["n_rows"] == 2
    assert out["changed"]["n_rows"] == 4
    assert out["changed"]["n_price_chg"] == 2
    assert out["changed"]["n_status_chg"] == 2
    assert out["changed"]["price_delta"] == 20.0  # two rows at +10.0
    # added rows are NEW keys (clones), so they don't reduce the base:
    # same = 14 base keys - 2 removed - 4 changed
    assert out["same"]["n_rows"] == 14 - 2 - 4
