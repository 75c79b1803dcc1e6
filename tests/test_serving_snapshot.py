"""Serving generations: the driver-side snapshot must answer exactly as the
distributed path it replaces, through the append log, a retrain and a
warm start; a retrain must swap generations atomically; and a factor
matrix past the byte budget must fall back to the distributed path."""

from __future__ import annotations

import logging
import threading
import uuid

import pyarrow.parquet as pq
import pytest

from recommend_spark import io, serving
from recommend_spark.serving import RecommendationService
from tests.conftest import SF_DIR

NEW_USER = 1_000_000  # in no corpus table
EMPTY_USER = 1_000_001  # rates only an item that has no factor
NO_FACTOR_ITEM = 10_000_000


@pytest.fixture(scope="module")
def users():
    """Every customer of the corpus, including those with no orders."""
    keys = pq.read_table(f"{SF_DIR}/customer.parquet", columns=["c_custkey"])
    return sorted(int(k) for k in keys["c_custkey"].to_pylist())


@pytest.fixture(scope="module")
def fresh(spark, tmp_path_factory):
    """A service over the corpus's memoized ALS model (no refit) and the
    path of its save() output, taken before any test changes its state."""
    from recommend_spark.queries.recommender import _fit_als, _ratings

    _, model = _fit_als(spark, SF_DIR)
    gen = serving._generation(_ratings(spark, SF_DIR).cache(), model)
    svc = RecommendationService.__new__(RecommendationService)
    svc._start(spark, SF_DIR, gen, [])
    path = str(tmp_path_factory.mktemp("serving") / "model")
    svc.save(path)
    return svc, path


def reference(gen):
    return serving._Distributed(gen.ratings, gen.model, len(gen.item_ids))


def assert_same(got: dict, want: dict, users, what: str) -> None:
    for u in users:
        g, w = got.get(u, []), want.get(u, [])
        assert [r["item_id"] for r in g] == [r["item_id"] for r in w], (what, u)
        for a, b in zip(g, w):
            assert a["score"] == pytest.approx(b["score"], abs=1e-9), (what, u)


def assert_top_parity(svc, users, what: str) -> None:
    """Snapshot answers for every user against ONE batched distributed
    call (its window partitions by user)."""
    gen, extra = svc._state()
    assert gen.kind == "snapshot"
    ref = reference(gen)
    try:
        want = ref.top(extra, users, 10)
    finally:
        ref.unpersist()
    got = gen.top(extra, users, 10)
    assert sum(1 for u in users if got.get(u)) > len(users) // 2, what
    assert_same(got, want, users, what)


def top_all(svc, users) -> dict:
    """``svc.top_ratings(u, 10)`` for every user, in one batched read."""
    gen, extra = svc._state()
    return gen.top(extra, users, 10)


def jobs_of(spark, call) -> int:
    sc = spark.sparkContext
    group = f"serving-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_matches_distributed_across_states(spark, fresh, users, tmp_path):
    svc, _ = fresh
    assert_top_parity(svc, users, "empty log")

    svc.add_ratings(
        [
            (NEW_USER, 1, 3.0),
            (NEW_USER, 2, 1.0),
            (NEW_USER, 3, 2.0),
            (EMPTY_USER, NO_FACTOR_ITEM, 4.0),
            (users[0], NO_FACTOR_ITEM, 5.0),
            (users[1], 7, 2.0),
            (users[2], 11, 1.5),
        ]
    )
    pending = users + [NEW_USER, EMPTY_USER]
    assert_top_parity(svc, pending, "non-empty log")
    gen, extra = svc._state()
    items = list(range(0, 220, 3)) + [NO_FACTOR_ITEM]
    ref = reference(gen)
    try:
        want = ref.scores_for(extra, pending, items)
    finally:
        ref.unpersist()
    assert_same(gen.scores_for(extra, pending, items), want, pending, "scores_for")
    assert svc.top_ratings(NEW_USER, 5), "a brand-new user is served by fold-in"

    # the public routes: one Spark job per read, and the edge answers
    u = users[0]
    top = []
    assert jobs_of(spark, lambda: top.extend(svc.top_ratings(u, 10))) == 1
    assert top == gen.top(extra, [u], 10)[u]
    assert jobs_of(spark, lambda: svc.ratings_for_items(u, [top[0]["item_id"]])) == 1
    assert svc.top_ratings(u, 0) == [] == ref.top(extra, [u], 0).get(u, [])
    assert svc.ratings_for_items(u, [NO_FACTOR_ITEM]) == []
    assert svc.top_ratings(EMPTY_USER, 10) == []
    assert svc.ratings_for_items(EMPTY_USER, [1]) == []
    assert svc.top_ratings(NEW_USER + 7, 10) == []  # no rows at all
    # the POSTed factorless item still counts as seen, not as n_u
    assert NO_FACTOR_ITEM not in {r["item_id"] for r in top}

    svc.retrain()
    assert svc.pending_foldin_backlog == 0
    assert_top_parity(svc, pending, "after retrain")

    svc.add_ratings([(users[3], 5, 1.0)])
    svc.save(str(tmp_path / "model"))
    warm = RecommendationService.load(spark, SF_DIR, str(tmp_path / "model"))
    assert warm.pending_foldin_backlog == 1
    assert_top_parity(warm, pending, "after save/load")
    # the warm start serves what the saved service served: the rows the
    # retrain merged (NEW_USER's among them) survive the restart
    want, got = top_all(svc, pending), top_all(warm, pending)
    assert want.get(NEW_USER), "NEW_USER is served before the restart"
    assert_same(got, want, pending, "warm vs saved")
    for u in (NEW_USER, users[1]):
        assert_same({u: warm.top_ratings(u, 10)}, {u: svc.top_ratings(u, 10)}, [u], "route")


def test_budget_overflow_falls_back_to_distributed(
    spark, fresh, users, monkeypatch, caplog
):
    """A factor matrix past the broadcast budget keeps the distributed
    path, says so in the log with the deciding bytes, and answers as the
    snapshot would."""
    _, path = fresh
    monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", 0)
    with caplog.at_level(logging.INFO, logger="recommend_spark.serving"):
        svc = RecommendationService.load(spark, SF_DIR, path)
    gen = svc._gen
    assert gen.kind == "distributed"
    (rec,) = [r for r in caplog.records if r.name == "recommend_spark.serving"]
    assert "distributed path" in rec.getMessage()
    assert f"factors {gen.n_items * gen.model.rank * 8} B, budget 0 B" in rec.getMessage()

    snap = serving._Snapshot(gen.ratings, gen.model)
    assert_same(gen.top([], users, 10), snap.top([], users, 10), users, "fallback")
    u = users[0]
    assert_same({u: svc.top_ratings(u, 10)}, snap.top([], [u], 10), [u], "route")
    gen.unpersist()


def test_retrain_swaps_generation_atomically(spark, fresh, monkeypatch):
    """A read overlapping a retrain sees the old generation with the whole
    log; rows POSTed during the fit stay pending after the swap.  The
    blocked fit hands back the loaded model: the swap, not the training,
    is under test."""
    from pyspark.ml.recommendation import ALS

    _, path = fresh
    svc = RecommendationService.load(spark, SF_DIR, path)
    svc.add_ratings([(1, 3, 4.0), (NEW_USER, 1, 2.0)])
    before = svc.top_ratings(1, 10)
    old_gen = svc._gen

    entered, release = threading.Event(), threading.Event()

    def blocking_fit(self, *args, **kwargs):
        entered.set()
        assert release.wait(300)
        return old_gen.model

    monkeypatch.setattr(ALS, "fit", blocking_fit)
    errors, mid = [], {}

    def run(fn):
        def wrapped():
            try:
                fn()
            except Exception as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
        return threading.Thread(target=wrapped)

    retrain = run(svc.retrain)
    retrain.start()
    try:
        assert entered.wait(300), "retrain never reached the fit"

        def client():
            mid["top"] = svc.top_ratings(1, 10)
            mid["accepted"] = svc.add_ratings([(2, 4, 1.0), (2, 5, 2.0)])

        c = run(client)
        c.start()
        c.join(300)
        assert not c.is_alive() and not errors, errors
        assert mid["top"] == before
        assert mid["accepted"] == 2
        assert svc._gen is old_gen
    finally:
        release.set()
        retrain.join(600)
    assert not retrain.is_alive() and not errors, errors
    assert svc._gen is not old_gen
    assert svc._extra_rows == [(2, 4, 1.0), (2, 5, 2.0)]


def test_concurrent_posts_and_retrains_lose_no_rows(spark, fresh, monkeypatch):
    """More posting threads than cores against back-to-back retrains, with
    a short switch interval: every POSTed row must end up merged into the
    base exactly once or still pending — never lost, never doubled."""
    import sys
    import time

    import pyspark.sql.functions as F
    from pyspark.ml.recommendation import ALS

    _, path = fresh
    svc = RecommendationService.load(spark, SF_DIR, path)
    model = svc._gen.model
    monkeypatch.setattr(ALS, "fit", lambda self, *a, **kw: model)
    first, n_threads = 2_000_000, 8
    done, posted, errors = threading.Event(), [0] * n_threads, []

    def post(t):
        try:
            while not done.is_set():
                svc.add_ratings([(first + t, 1 + posted[t] % 20, 1.0)])
                posted[t] += 1
                time.sleep(0.005)
        except Exception as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    posters = [threading.Thread(target=post, args=(t,)) for t in range(n_threads)]
    try:
        for p in posters:
            p.start()
        for _ in range(3):
            svc.retrain()
    finally:
        done.set()
        for p in posters:
            p.join(60)
        sys.setswitchinterval(interval)
    assert not any(p.is_alive() for p in posters) and not errors, errors
    total = (
        svc._current_ratings()
        .filter(F.col("user_id") >= first)
        .agg(F.sum("strength"))
        .first()[0]
    )
    assert min(posted) > 0 and total == sum(posted), (posted, total)
