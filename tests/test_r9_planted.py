"""Planted-value pins for the round-9 operators and fixes.

* stream_session_ttl — a user whose sessions all ended long before the
  corpus watermark emits EVERY session (gap-closes mid-stream, TTL-closes
  the final one via the event-time timeout); a user still active inside
  the gap+delay horizon keeps the open session IN STATE (not emitted).
  Parity alone cannot pin which mechanism fired; the planted corpus can.
* sf_key — two fixture dirs sharing a basename must never share an
  artifact (the r8 advice finding: basename-keyed ART caches silently
  served a prior run's staged data).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from recommend_spark import io
from recommend_spark.queries import QUERIES

_EVENTS_SCHEMA = (
    "event_id long, user_id long, event_type string,"
    " value double, ts timestamp"
)


def _events_dir(spark, root, rows):
    d = root / "sfp"
    d.mkdir(exist_ok=True)
    spark.createDataFrame(rows, _EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "events.parquet"))
    return str(d)


def test_session_ttl_planted_expiry_and_open_state(
    spark, tmp_path_factory, tmp_path, monkeypatch
):
    monkeypatch.setattr(io, "ART_ROOT", str(tmp_path))  # a per-run corpus
    t0 = datetime(2020, 1, 1, 0, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, uid, "view", 1.0, t0 + timedelta(minutes=minutes))

    rows = [
        # user 1: two sessions -- [0, 5] then [60, 61]; the 55-min gap
        # closes session 1 on arrival; session 2 ends 24h before the
        # corpus max ts, far past gap+delay, so the TTL timer fires
        ev(1, 1, 0), ev(2, 1, 5), ev(3, 1, 60), ev(4, 1, 61),
        # user 2: still active at the very end -- the open session's
        # deadline (last+30min) is beyond the final watermark
        # (max_ts - 10min), so it must stay in state, NOT in the output
        ev(5, 2, 24 * 60 - 5), ev(6, 2, 24 * 60),
    ]
    sf_dir = _events_dir(spark, tmp_path_factory.mktemp("ttl"), rows)
    out = sorted(
        (r["user_id"], r["start_s"], r["end_s"], r["n_events"])
        for r in QUERIES["stream_session_ttl"](spark, sf_dir).collect()
    )
    e = lambda m: int((t0 + timedelta(minutes=m)).timestamp())
    assert out == [
        (1, e(0), e(5), 2),    # gap-closed when event 3 arrived
        (1, e(60), e(61), 2),  # TTL-closed by the event-time timeout
    ], out
    # user 2 emitted nothing: the open session survived as state


def test_sf_key_distinguishes_same_basename_dirs(
    spark, tmp_path_factory, tmp_path, monkeypatch
):
    """Two corpora whose dirs share a basename must get DIFFERENT staged
    artifacts: sink_compact on corpus A then on corpus B (same basename,
    different content) must each round-trip its own rows."""
    from recommend_spark.io import load_table, sf_key

    monkeypatch.setattr(io, "ART_ROOT", str(tmp_path))  # per-run corpora

    ra = tmp_path_factory.mktemp("ka") / "sfX"
    rb = tmp_path_factory.mktemp("kb") / "sfX"
    assert ra.name == rb.name
    assert sf_key(str(ra)) != sf_key(str(rb))
    schema = "o_orderkey long, o_custkey long, o_totalprice double"
    for root, keys in ((ra, range(10)), (rb, range(100, 250))):
        root.mkdir()
        spark.createDataFrame(
            [(k, k, 1.0) for k in keys], schema
        ).write.mode("overwrite").parquet(str(root / "orders.parquet"))
    na = QUERIES["sink_compact"](spark, str(ra)).count()
    nb = QUERIES["sink_compact"](spark, str(rb)).count()
    assert (na, nb) == (10, 150), (na, nb)
