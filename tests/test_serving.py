"""Serving-layer parity (SURVEY §3.1 E2/E3): the reference's three routes
answered by RecommendationService, with fold-in instead of retrain-per-write."""

from __future__ import annotations

import pytest

from recommend_spark.serving import MIN_AUDIENCE, RecommendationService
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def service(spark):
    return RecommendationService(spark, SF_DIR)


def test_top_ratings_unseen_and_popular(service):
    recs = service.top_ratings(user_id=1, count=5)
    assert 0 < len(recs) <= 5
    items = [r["item_id"] for r in recs]
    assert len(set(items)) == len(items)
    seen = {
        r.item_id
        for r in service._current_ratings()
        .filter("user_id = 1")
        .select("item_id")
        .collect()
    }
    assert not (set(items) & seen), "recommended items must be unseen"
    gen = service._gen  # a driver snapshot at fixture scale
    popular = set(gen.item_ids[gen.popular].tolist())
    assert set(items) <= popular, f"all recs must clear the >={MIN_AUDIENCE} gate"
    scores = [r["score"] for r in recs]
    assert scores == sorted(scores, reverse=True)


def test_ratings_for_items_scores_requested(service):
    recs = service.top_ratings(user_id=1, count=3)
    ids = [r["item_id"] for r in recs]
    scored = service.ratings_for_items(user_id=1, item_ids=ids)
    got = {r["item_id"]: r["score"] for r in scored}
    assert set(got) == set(ids)
    for r in recs:
        assert got[r["item_id"]] == pytest.approx(r["score"], rel=1e-9)


def test_add_ratings_served_without_retrain(service):
    before = service.ratings_for_items(user_id=1, item_ids=[1, 2])
    service.add_ratings([(1, 1, 50.0), (1, 2, 25.0)])
    after = service.ratings_for_items(user_id=1, item_ids=[1, 2])
    # the fold-in solve sees the new interactions: scores must move
    b = {r["item_id"]: r["score"] for r in before}
    a = {r["item_id"]: r["score"] for r in after}
    assert set(a) == {1, 2}
    assert any(abs(a[k] - b.get(k, 0.0)) > 1e-9 for k in a), (b, a)


def test_add_ratings_returns_this_call_count(service):
    assert service.add_ratings([(7, 1, 1.0)]) == 1
    assert service.add_ratings([(7, 2, 1.0), (7, 3, 1.0)]) == 2
    assert service.pending_foldin_backlog >= 3


def test_http_routes_over_socket(service):
    """The three reference routes answered over a real TCP socket."""
    import json
    from urllib.request import Request, urlopen

    from recommend_spark.http_api import serve

    srv, port = serve(service)
    try:
        base = f"http://127.0.0.1:{port}"
        top = json.load(urlopen(f"{base}/1/ratings/top/3"))
        assert 0 < len(top) <= 3 and {"item_id", "score"} <= set(top[0])
        item = top[0]["item_id"]
        one = json.load(urlopen(f"{base}/1/ratings/{item}"))
        assert len(one) == 1 and one[0]["item_id"] == item
        assert one[0]["score"] == pytest.approx(top[0]["score"], rel=1e-9)
        req = Request(
            f"{base}/1/ratings",
            data=json.dumps([[item, 9.5], [item + 1, 1.0]]).encode(),
            method="POST",
        )
        posted = json.load(urlopen(req))
        assert posted["accepted"] == 2
        # bad route -> 404, bad body -> 400
        from urllib.error import HTTPError

        for url, data in [(f"{base}/nope", None), (f"{base}/1/ratings", b"not json")]:
            try:
                urlopen(Request(url, data=data, method="POST" if data else "GET"))
                raise AssertionError("expected HTTPError")
            except HTTPError as e:
                assert e.code in (400, 404)
        # wrong JSON shape must 400, not silently record garbage: a dict
        # body's 2-char string keys would otherwise "unpack" into bogus
        # (item, strength) pairs and return 200
        backlog_before = service.pending_foldin_backlog
        for bad in [{"12": 5}, [[1]], [[1, 2, 3]], "12", 7]:
            try:
                urlopen(
                    Request(
                        f"{base}/1/ratings",
                        data=json.dumps(bad).encode(),
                        method="POST",
                    )
                )
                raise AssertionError(f"expected 400 for body {bad!r}")
            except HTTPError as e:
                assert e.code == 400, (bad, e.code)
        assert service.pending_foldin_backlog == backlog_before
    finally:
        srv.shutdown()

def test_retrain_clears_backlog_without_double_count(spark):
    """retrain() must fold the append log into the base EXACTLY once: the
    backlog clears, and total strength for the touched pair stays the
    base + appended sum (a second union of the same rows would double it)."""
    svc = RecommendationService(spark, SF_DIR)
    base_total = (
        svc._current_ratings().filter("user_id = 1 AND item_id = 1").collect()
    )
    base_strength = base_total[0]["strength"] if base_total else 0.0
    svc.add_ratings([(1, 1, 10.0)])
    svc.retrain()
    assert svc.pending_foldin_backlog == 0
    after = svc._current_ratings().filter("user_id = 1 AND item_id = 1").collect()
    assert after[0]["strength"] == pytest.approx(base_strength + 10.0)


def test_retrain_does_not_leak_cached_generations(spark):
    """Each retrain swaps in a fresh cached ratings/factors/popularity
    generation; the PREVIOUS generation must be unpersisted, so the
    persistent-RDD count stays bounded across nightly cycles instead of
    growing by ~3 entries per retrain."""
    import gc
    import time

    def settled_count():
        # the old ALS model's INTERNAL factor RDDs are not exposed for an
        # explicit unpersist; they are reclaimed by Spark's ContextCleaner
        # once the superseded model is unreachable — drive that path
        # (Python gc -> py4j release -> JVM gc -> cleaner) before counting
        # three passes: Python gc releases py4j handles, the JVM gc lets
        # the cleaner queue the unpersists, and a further cycle drains it
        for _ in range(3):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
        return jsc.getPersistentRDDs().size()

    svc = RecommendationService(spark, SF_DIR)
    jsc = spark.sparkContext._jsc.sc()
    svc.add_ratings([(1, 1, 1.0)])
    svc.retrain()
    baseline = settled_count()
    for k in range(3):
        svc.add_ratings([(1, 1 + k, 1.0)])
        svc.retrain()
    assert settled_count() <= baseline + 1, (baseline, jsc.getPersistentRDDs().size())


def test_save_load_warm_start_serves_identically(spark, tmp_path):
    """Model persistence (r12 verdict gap 1): save() then load() must
    answer every endpoint with the SAME values as the original service —
    including pending fold-in state — and must do it WITHOUT running an
    ALS fit (the warm-start path loads factor parquet only)."""
    svc = RecommendationService(spark, SF_DIR)
    svc.add_ratings([(1, 2, 3.0), (1, 5, 1.0)])  # pending fold-in rows
    svc.save(str(tmp_path / "model"))

    from pyspark.ml.recommendation import ALS

    def _no_fit(self, df):
        raise AssertionError("warm-start must not refit")

    orig_fit = ALS.fit
    ALS.fit = _no_fit
    try:
        warm = RecommendationService.load(spark, SF_DIR, str(tmp_path / "model"))
    finally:
        ALS.fit = orig_fit

    assert warm.pending_foldin_backlog == svc.pending_foldin_backlog == 2
    for u in (1, 3):
        a = svc.top_ratings(u, 5)
        b = warm.top_ratings(u, 5)
        assert [r["item_id"] for r in a] == [r["item_id"] for r in b]
        for ra, rb in zip(a, b):
            assert ra["score"] == pytest.approx(rb["score"], abs=1e-12)
    a = svc.ratings_for_items(1, [2])
    b = warm.ratings_for_items(1, [2])
    assert a and [r["item_id"] for r in a] == [r["item_id"] for r in b]
    assert a[0]["score"] == pytest.approx(b[0]["score"], abs=1e-12)
    # the loaded service retains the full lifecycle: a retrain works
    warm.retrain()
    assert warm.pending_foldin_backlog == 0


def test_als_model_io_roundtrip_is_bit_exact(spark):
    """The registered als_model_io op: MLlib writer round-trip must be
    BIT-equal on both factor matrices — the determinism gate behind the
    serving warm-start (any nonzero mismatch means the storage layer
    would serve different scores after a restart)."""
    from recommend_spark.queries import QUERIES

    rows = {
        r["matrix"]: r
        for r in QUERIES["als_model_io"](spark, SF_DIR).collect()
    }
    assert set(rows) == {"user_factors", "item_factors"}
    for r in rows.values():
        assert r["n_rows"] > 0
        assert r["n_rows"] == r["n_reloaded"]
        assert r["n_mismatch"] == 0
