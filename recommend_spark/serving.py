"""Serving layer — functional parity with the reference's web service.

The reference (upstream:app.py / upstream:server.py) exposes three HTTP
routes over a long-lived engine object:

  GET  /<user_id>/ratings/top/<count>   -> top-N unseen recommendations
  GET  /<user_id>/ratings/<item_id>     -> predicted score for one item
  POST /<user_id>/ratings               -> append ratings, retrain, reserve

This module is the engine-side equivalent, built entirely from the
registered operators (§2.10): a ``RecommendationService`` holds the
trained artifacts for a corpus and answers the three calls.  No HTTP
framework is bundled (the container has none; any of Flask/FastAPI would
wrap these three methods 1:1) — the point is that every semantic the
reference serves is reachable through this engine.

The reference's biggest wart is fixed here, not reproduced: its POST
retrains ALS from scratch on every write (upstream:engine.py §
add_ratings — minutes of latency per rating).  ``add_ratings`` instead
folds the affected users in against frozen item factors (als_foldin's
Gram-trick solve, O(rank² · interactions-of-user) per write) and defers
full retrain to an explicit ``retrain()`` — the production cadence:
per-write fold-in, nightly refit.

Scale: every fit (construction, ``load()``, ``retrain()``) builds one
immutable serving GENERATION — the cached base ratings plus what a read
needs from the model — and swaps it in with a single assignment.  Item
factors are frozen between fits, so a generation holds on the driver as
much as ``io.BROADCAST_HINT_BUDGET`` allows, in three regimes:

* factors and base ratings fit (|items| × rank × 8 B plus
  |ratings| × 24 B): a driver snapshot — sorted item ids, the factor
  matrix, YᵀY, the popularity mask and a per-user index of the base
  rows, fetched once.  A read runs NO Spark job: it slices the user's
  rows from the index, merges the append log, and does the fold-in
  solve, the scoring and the top-N in numpy;
* only the factors fit: the same snapshot without the index.  A read
  runs ONE Spark job, the requesting user's rows from the cached base
  (a scan of every partition, O(|ratings|)), and the rest in numpy;
* the factors do not fit: every read runs the distributed plan (fold-in
  via ``foldin_factors``, cross-join scoring, popularity and seen joins,
  a window).

The choice and its deciding bytes are logged at INFO.
"""

from __future__ import annotations

import logging
import threading

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W

from . import io
from .queries.recommender import _ALS_PARAMS, _ratings, foldin_factors, foldin_solve

log = logging.getLogger(__name__)

MIN_AUDIENCE = 25  # the reference's ">= 25 ratings" popularity rule

Rows = list[tuple[int, int, float]]  # (user_id, item_id, strength)


def _train(ratings: DataFrame):
    from pyspark.ml.recommendation import ALS

    return ALS(**_ALS_PARAMS).fit(ratings)


def _merge(base: DataFrame, extra_rows: Rows) -> DataFrame:
    if not extra_rows:
        return base
    extra = base.sparkSession.createDataFrame(
        extra_rows, "user_id int, item_id int, strength double"
    )
    return (
        base.unionByName(extra)
        .groupBy("user_id", "item_id")
        .agg(F.sum("strength").alias("strength"))
    )


def _write_rows(spark: SparkSession, rows: Rows, path: str) -> None:
    spark.createDataFrame(
        rows, "user_id int, item_id int, strength double"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _read_rows(spark: SparkSession, path: str) -> Rows:
    return [
        (r["user_id"], r["item_id"], r["strength"])
        for r in spark.read.parquet(path).collect()
    ]


def _popular(ratings: DataFrame) -> DataFrame:
    return (
        ratings.groupBy("item_id")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .filter(F.col("n_users") >= MIN_AUDIENCE)
        .select("item_id")
    )


def _by_user(rows, key) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for r in rows:
        out.setdefault(r["user_id"], []).append(
            {"item_id": r["item_id"], "score": r["score"]}
        )
    for recs in out.values():
        recs.sort(key=key)
    return out


class _Snapshot:
    """A generation served from the driver.  Reads return the same answers
    as ``_Distributed``: n_u counts only rated items that have a factor, a
    user with none gets no answer, scores sum rank terms left to right as
    the distributed ``aggregate`` does, and ties break on item id.

    With ``indexed`` the base ratings are held too, as ``index``: user ids,
    item ids and strengths sorted by user id, each user's rows in the
    cached base's row order, so a read runs no Spark job and sums a user's
    rows in the order the one-job read would.  Without it (``index`` is
    None) a read fetches the user's rows with one Spark job."""

    kind = "snapshot"

    def __init__(self, ratings: DataFrame, model, indexed: bool):
        self.ratings, self.model = ratings, model
        itf = model.itemFactors.toPandas()  # one Arrow job
        ids = itf["id"].to_numpy(np.int64)
        order = np.argsort(ids)
        self.item_ids = ids[order]
        Y = np.stack(itf["features"].to_numpy())[order].astype(np.float64)
        self.yt = np.ascontiguousarray(Y.T)  # rank x items: one row per term
        self.yty = Y.T @ Y
        popular = [r.item_id for r in _popular(ratings).collect()]
        self.popular = np.isin(self.item_ids, popular)
        self.index = None
        if indexed:
            base = ratings.select("user_id", "item_id", "strength").toPandas()
            users = base["user_id"].to_numpy(np.int64)
            order = np.argsort(users, kind="stable")  # keeps each user's order
            self.index = (
                users[order],
                base["item_id"].to_numpy(np.int64)[order],
                base["strength"].to_numpy(np.float64)[order],
            )

    def unpersist(self) -> None:
        pass

    def _lookup(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Positions in ``item_ids`` of those ``ids`` that have a factor,
        and the mask of which do."""
        pos = np.searchsorted(self.item_ids, ids)
        has = pos < len(self.item_ids)
        has[has] = self.item_ids[pos[has]] == ids[has]
        return pos[has], has

    def _score(self, x: np.ndarray, pos=slice(None)) -> np.ndarray:
        yt = self.yt[:, pos]
        s = np.zeros(yt.shape[1])
        for y_j, x_j in zip(yt, x):
            s += y_j * x_j
        return s

    def _factors(self, extra_rows: Rows, user_ids: list[int]) -> dict:
        """user -> (fold-in factor, positions of the items they rated), for
        the users with at least one rated item that has a factor."""
        merged: dict[int, dict[int, float]] = {u: {} for u in user_ids}
        if self.index is None:
            # one Spark job.  The ids go in as ONE array literal: codegen
            # binds it by reference, so every read reuses one compiled
            # filter, where an int literal is inlined into the generated
            # Java and compiles once per user id
            base = (
                self.ratings.filter(F.array_contains(F.lit(user_ids), F.col("user_id")))
                .select("user_id", "item_id", "strength")
                .collect()
            )
        else:
            users, items, strengths = self.index
            base = []
            for u in merged:
                lo, hi = users.searchsorted(u), users.searchsorted(u, "right")
                base += zip(users[lo:hi].tolist(), items[lo:hi].tolist(),
                            strengths[lo:hi].tolist())
        for u, i, s in [*base, *extra_rows]:
            if u in merged:  # strengths per (user, item) sum, as _merge does
                merged[u][i] = merged[u].get(i, 0.0) + s
        out = {}
        for u, m in merged.items():
            pos, has = self._lookup(np.fromiter(m, np.int64, len(m)))
            if len(pos):
                r = np.fromiter(m.values(), np.float64, len(m))[has]
                out[u] = (foldin_solve(self.yty, self.yt[:, pos].T, r), pos)
        return out

    def top(self, extra_rows: Rows, user_ids: list[int], count: int) -> dict:
        out = {}
        for u, (x, seen) in self._factors(extra_rows, user_ids).items():
            scores = self._score(x)
            ok = self.popular.copy()
            ok[seen] = False
            cand = np.flatnonzero(ok)
            best = cand[np.lexsort((self.item_ids[cand], -scores[cand]))]
            out[u] = [
                {"item_id": int(self.item_ids[i]), "score": float(scores[i])}
                for i in best[: max(count, 0)]
            ]
        return out

    def scores_for(self, extra_rows: Rows, user_ids: list[int], item_ids) -> dict:
        pos, _ = self._lookup(np.unique(np.asarray(item_ids, np.int64)))
        return {
            u: [
                {"item_id": int(self.item_ids[p]), "score": float(s)}
                for p, s in zip(pos, self._score(x, pos))
            ]
            for u, (x, _) in self._factors(extra_rows, user_ids).items()
        }


class _Distributed:
    """A generation served by distributed plans, for factor matrices past
    the driver budget; also the reference the snapshot is tested against."""

    kind = "distributed"

    def __init__(self, ratings: DataFrame, model, n_items: int):
        self.ratings, self.model, self.n_items = ratings, model, n_items
        self.item_factors = model.itemFactors.select(
            F.col("id").alias("item_id"),
            F.col("features").cast("array<double>").alias("y"),
        ).cache()
        self.popular = _popular(ratings).cache()

    def unpersist(self) -> None:
        self.item_factors.unpersist()
        self.popular.unpersist()

    def _scores(self, current: DataFrame, user_ids: list[int]) -> DataFrame:
        uf = foldin_factors(
            current.sparkSession, current, self.model, F.col("user_id").isin(user_ids)
        )
        return uf.join(self.item_factors).select(
            "user_id",
            "item_id",
            F.aggregate(
                F.zip_with("factor", "y", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("score"),
        )

    def top(self, extra_rows: Rows, user_ids: list[int], count: int) -> dict:
        current = _merge(self.ratings, extra_rows)
        seen = current.select("user_id", "item_id")
        w = W.partitionBy("user_id").orderBy(F.col("score").desc(), "item_id")
        rows = (
            self._scores(current, user_ids)
            # one int column per popular item: 16 B a row bounds the side
            .join(io.hint_if(self.popular, self.n_items * 16), "item_id")
            .join(seen, ["user_id", "item_id"], "left_anti")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= count)
            .select("user_id", "item_id", "score")
            .collect()
        )
        return _by_user(rows, lambda rec: (-rec["score"], rec["item_id"]))

    def scores_for(self, extra_rows: Rows, user_ids: list[int], item_ids) -> dict:
        rows = (
            self._scores(_merge(self.ratings, extra_rows), user_ids)
            .filter(F.col("item_id").isin(item_ids))
            .select("user_id", "item_id", "score")
            .collect()
        )
        return _by_user(rows, lambda rec: rec["item_id"])


def _generation(ratings: DataFrame, model):
    """The serving generation for one (base ratings, model) pair: a driver
    snapshot when the item-factor matrix fits the broadcast budget, indexed
    when the base ratings fit beside it, the distributed path otherwise."""
    n_items = model.itemFactors.count()
    factor_bytes = n_items * model.rank * 8
    budget = io.BROADCAST_HINT_BUDGET
    if factor_bytes <= budget:
        n_rows = ratings.count()
        index_bytes = n_rows * 24  # user and item ids as int64, strength as float64
        indexed = factor_bytes + index_bytes <= budget
        gen = _Snapshot(ratings, model, indexed)
        rows = "from a driver index" if indexed else "by one Spark job per read"
        rows += f" ({n_rows} rows, index {index_bytes} B)"
    else:
        gen, rows = _Distributed(ratings, model, n_items), "by the distributed plan"
    log.info(
        "serving generation: %s path (%d items, factors %d B, budget %d B),"
        " user rows %s",
        gen.kind, n_items, factor_bytes, budget, rows,
    )
    return gen


class RecommendationService:
    """Long-lived per-corpus serving object (the reference's
    RecommendationEngine, DataFrame-native)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        ratings = _ratings(spark, sf_dir).cache()
        self._start(spark, sf_dir, _generation(ratings, _train(ratings)), [])

    def _start(self, spark, sf_dir, gen, extra_rows: Rows, merged: Rows = ()) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self._gen = gen
        self._extra_rows = extra_rows
        # the log rows retrains folded into gen's base, beyond the corpus
        self._merged = list(merged)
        # ThreadingHTTPServer serves each request on its own thread: the
        # generation and the append log change together (retrain swaps one
        # and trims the other), so every reader takes both under this lock
        # and a POST's extend never interleaves with a read of the log.
        self._extra_lock = threading.Lock()
        self._retrain_lock = threading.Lock()  # one refit at a time

    # -- persistence (warm-start) ------------------------------------------

    def save(self, path: str) -> None:
        """Persist the trained ALS model, the rows retrains merged into the
        base ratings, and the append log.

        The upstream lifecycle refits at every boot (its engine holds the
        model only in memory); a real deployment wants the nightly-retrain
        artifact reloadable, so a restarted process answers its first
        request in seconds, not after a full ALS fit.  Uses MLlib's own
        ``ALSModel`` writer (factors as parquet + params as JSON) — the
        factors are distributed DataFrames, so save/load never funnels
        them through the driver.  The merged rows and the append log ride
        along as parquet, so the restarted base holds what the model was
        trained on and pending fold-in state survives too."""
        base = path.rstrip("/")
        with self._extra_lock:
            gen, merged, extra = self._gen, list(self._merged), list(self._extra_rows)
        gen.model.write().overwrite().save(base + "/als_model")
        _write_rows(self.spark, merged, base + "/merged_ratings.parquet")
        _write_rows(self.spark, extra, base + "/extra_ratings.parquet")

    @classmethod
    def load(
        cls, spark: SparkSession, sf_dir: str, path: str
    ) -> "RecommendationService":
        """Warm-start a service from ``save()`` output: no ALS refit —
        the model's factor DataFrames load straight from parquet, and the
        serving generation re-derives from them + the corpus ratings with
        the saved merged rows folded back in."""
        from pyspark.ml.recommendation import ALSModel

        base = path.rstrip("/")
        merged = _read_rows(spark, base + "/merged_ratings.parquet")
        extra = _read_rows(spark, base + "/extra_ratings.parquet")
        ratings = _merge(_ratings(spark, sf_dir), merged).cache()
        gen = _generation(ratings, ALSModel.load(base + "/als_model"))
        svc = cls.__new__(cls)
        svc._start(spark, sf_dir, gen, extra, merged)
        return svc

    def retrain(self) -> None:
        """Full refit over base + appended ratings (the nightly path).

        The new generation is built off to the side while reads keep
        serving the old one with the full log.  One critical section then
        swaps it in and drops exactly the log rows it merged — rows POSTed
        during the fit stay pending, and none is counted twice.  The old
        generation's caches are released only after the swap."""
        with self._retrain_lock:
            old, merged = self._state()
            ratings = _merge(old.ratings, merged).cache()
            gen = _generation(ratings, _train(ratings))
            with self._extra_lock:
                self._gen = gen
                self._merged += merged
                del self._extra_rows[: len(merged)]  # the log only grows
            old.unpersist()
            if old.ratings is not ratings:
                old.ratings.unpersist()

    # -- state ------------------------------------------------------------

    def _state(self):
        """The current generation and a copy of the append log, taken
        together: a log copy paired with a different generation would
        double-count (or drop) the rows a retrain merged."""
        with self._extra_lock:
            return self._gen, list(self._extra_rows)

    def _current_ratings(self) -> DataFrame:
        gen, extra = self._state()
        return _merge(gen.ratings, extra)

    # -- the three reference endpoints ------------------------------------

    def top_ratings(self, user_id: int, count: int) -> list[dict]:
        """GET /<user>/ratings/top/<count>: top-N unseen popular items."""
        gen, extra = self._state()
        return gen.top(extra, [user_id], count).get(user_id, [])

    def ratings_for_items(self, user_id: int, item_ids: list[int]) -> list[dict]:
        """GET /<user>/ratings/<item>: predicted strength for given items."""
        gen, extra = self._state()
        return gen.scores_for(extra, [user_id], item_ids).get(user_id, [])

    def add_ratings(self, rows: Rows) -> int:
        """POST /<user>/ratings: append interactions; affected users are
        served via fold-in immediately (no retrain).  Returns the number of
        ratings accepted in THIS call (the natural POST response)."""
        batch = [(int(u), int(i), float(s)) for u, i, s in rows]
        with self._extra_lock:  # atomic append: readers see whole batches
            self._extra_rows.extend(batch)
        return len(batch)

    @property
    def pending_foldin_backlog(self) -> int:
        """Rows appended since the last full retrain (ops metric)."""
        with self._extra_lock:
            return len(self._extra_rows)
