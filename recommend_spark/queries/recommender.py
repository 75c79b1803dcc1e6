"""§2.10 Recommender operators — the reference's core capability.

Reference parity (upstream:engine.py): CSV ratings → ALS.train(rank=8,
seed=5, iterations=10, lambda_=0.1) → predictAll → join titles/counts →
popularity filter (>=25) → takeOrdered.  Ours uses the DataFrame-native
``pyspark.ml.recommendation.ALS`` (implicit feedback — the fixture's
order-quantity matrix is implicit strength data), and the relational
wrapper reuses oracle-checked operators (join_anti / agg_having /
win_topk_per_group shapes).

Scale notes: ml.ALS block-partitions both factor matrices (regParam/rank
unchanged at any scale); recommendForUserSubset is a blocked cross-join
with per-block top-k — no full user x item materialization.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from ..canon import dsum
from ..io import disk_memo, load_table, sf_key
from ..registry import register


def _baskets_artifact(spark, sf_dir):
    """Distinct (customer, item) basket table, disk-memoized per corpus.

    Shared staging table for the co-purchase family (rec_item_item,
    graph_triangles): the orders⨝lineitem distinct runs once per corpus
    snapshot; every consumer reads the parquet artifact.  Written
    pre-clustered on the self-join key u for file-level locality."""
    from pathlib import Path

    def build():
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
            .distinct()
            .repartition(32, "u")
        )

    return disk_memo(spark, f"baskets_v1_{sf_key(sf_dir)}", build)

def _guarded_baskets(spark, sf_dir):
    """Basket table with the MAX_BASKET hyper-user guard applied: one tiny
    count aggregate finds over-cap users, a broadcast LEFT ANTI join drops
    them.  THE single definition of the guard — the pair artifact builder
    and rec_item_item's audience counts both consume this, so the pair
    exclusion set and the cosine denominator can never drift apart."""
    return _guard_baskets(_baskets_artifact(spark, sf_dir))


def _guard_baskets(b):
    """The MAX_BASKET guard over an explicit (u, i) basket table — split
    out so the skew gate can exercise it on an injected hyper-active
    user (the fixtures never cross the cap)."""
    hyper = (
        b.groupBy("u")
        .agg(F.count("*").alias("basket_len"))
        .filter(F.col("basket_len") > MAX_BASKET)
        .select("u")
    )
    return b.join(F.broadcast(hyper), "u", "left_anti")


def _copurchase_pairs(spark, sf_dir):
    """The co-purchase pair aggregate (p < q, cooc >= 3), UNmaterialized.

    This is the quadratic stage of the whole co-purchase family: basket
    self-join on the user key -> pair count shuffle (12.7M intermediate
    pairs at sf0.1).  The MAX_BASKET hyper-user guard runs INSIDE it (via
    `_guarded_baskets`), so every downstream consumer inherits the skew
    bound; it is a no-op at fixture scale (asserted in
    tests/test_properties.py), which keeps all oracles — none of which
    carry a cap — hash-identical.  Exposed unmaterialized so
    tests/test_plans.py can assert the guard is in the plan."""
    return _copurchase_pairs_from(_guarded_baskets(spark, sf_dir))


def _copurchase_pairs_from(g):
    x, y = g.alias("x"), g.alias("y")
    return (
        x.join(y, (F.col("x.u") == F.col("y.u")) & (F.col("x.i") < F.col("y.i")))
        .groupBy(F.col("x.i").alias("p"), F.col("y.i").alias("q"))
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= 3)
        .select("p", "q", "cooc")
    )


def _copurchase_edges_artifact(spark, sf_dir):
    """Co-purchase pair table (p < q, cooc >= 3 with counts), disk-memoized.

    The quadratic basket self-join + cooc aggregate is the shared upstream
    of the whole co-purchase family (rec_item_item at cooc>=3;
    graph_triangles, graph_pagerank, rec_association_rules and
    sql_recursive_cte filter cooc>=5 on top): computing it once per corpus
    and reading the small parquet artifact afterwards removes a repeated
    10-15 s stage per query — and for the recursive CTE it is the
    difference between O(1) and O(steps) evaluations of the join, because
    Spark re-plans recursive-CTE base relations at every iteration step.
    The >=3 floor keeps the artifact tiny (singleton pairs dominate the
    12.7M raw pairs and no consumer wants them)."""
    from pathlib import Path

    return disk_memo(
        spark,
        f"copurchase_edges_v2_{sf_key(sf_dir)}",
        lambda: _copurchase_pairs(spark, sf_dir),
    )


_ALS_PARAMS = dict(
    rank=8, maxIter=10, regParam=0.1, seed=5, implicitPrefs=True,
    coldStartStrategy="drop", userCol="user_id", itemCol="item_id",
    ratingCol="strength",
)

# Pair-expansion skew guard: users with more than MAX_BASKET distinct items
# are dropped before the quadratic co-occurrence self-join.  A single 10k-item
# user alone contributes 5*10^7 pairs and near-zero signal (hyper-active
# accounts are bots/aggregators in every published item-CF recipe).  Sized so
# NO fixture user is affected (TPC-H basket lengths are scale-independent,
# max ~60 — asserted in tests/test_properties.py), i.e. a pure 100x guard.
MAX_BASKET = 1000


def _als_key_max(sf_dir) -> int:
    """Largest o_custkey / l_partkey from parquet FOOTER column stats —
    metadata only, no Spark job.  Missing stats count as unbounded."""
    import pyarrow.parquet as pq

    mx = 0
    for table, col in (("orders", "o_custkey"), ("lineitem", "l_partkey")):
        f = pq.ParquetFile(f"{sf_dir}/{table}.parquet")
        names = [
            f.metadata.schema.column(i).path
            for i in range(f.metadata.num_columns)
        ]
        ci = names.index(col)
        for rg in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return 1 << 62
            mx = max(mx, int(st.max))
    return mx


def _dense_codes(df, col):
    """Deterministic dense int32 codes for a distinct key column:
    sorted ``zipWithIndex`` (one shuffle + two passes, one-off per
    corpus and dwarfed by the ALS fit it enables).  Returns
    (``col`` long, ``code`` int)."""
    rdd = (
        df.select(col)
        .distinct()
        .rdd.map(lambda r: r[0])
        .sortBy(lambda x: x)
        .zipWithIndex()
    )
    spark = df.sparkSession
    return spark.createDataFrame(rdd, f"{col} long, code long").select(
        col, F.col("code").cast("int").alias("code")
    )


def _ratings(spark, sf_dir):
    """Implicit ratings matrix: (customer, part, total quantity ordered).

    MLlib ALS hard-requires int32 ids (the Scala implementation's block
    layout).  Fixture keys fit, so the direct cast is the default path —
    but a 100 TB corpus's keys do not (the r12 perturbed campaign's
    replica-shifted custkeys sit at 3e9+, and ANSI mode rightly threw
    CAST_OVERFLOW).  When parquet-footer column stats show keys past
    int32, each key space maps through DETERMINISTIC dense codes
    (``_dense_codes``) and the whole ALS family trains/evaluates
    self-consistently in code space; a production deployment keeps the
    two code dimension tables for decode at the serving edge."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_key"),
            F.col("l_partkey").alias("item_key"),
        )
        .agg(dsum("l_quantity", "strength"))
    )
    if _als_key_max(sf_dir) <= (1 << 31) - 1:
        return base.select(
            F.col("user_key").cast("int").alias("user_id"),
            F.col("item_key").cast("int").alias("item_id"),
            "strength",
        )
    uc = _dense_codes(base, "user_key").withColumnRenamed("code", "user_id")
    ic = _dense_codes(base, "item_key").withColumnRenamed("code", "item_id")
    return (
        base.join(uc, "user_key")
        .join(ic, "item_key")
        .select("user_id", "item_id", "strength")
    )


_ALS_CACHE: dict = {}


def _fit_als(spark, sf_dir):
    """Fit (or reuse) the ALS model for a corpus.

    Two memo layers, same rationale as the pair/edge artifacts: the model
    is deterministic for a given seed + corpus, so reuse is sound.
    (1) per-(session, sf_dir) — four als_* queries and the recsys eval
    share one fit inside a sweep; (2) on DISK under .artifacts via
    ml's native ALSModel.save/load — a fresh process (the driver's bench
    and correctness runs are separate processes) loads the exact trained
    factors (~0.5 s) instead of re-running the ~10 s fit.  Factor floats
    round-trip bit-exactly through the parquet model format, so every
    downstream gate (fold-in cosine, recall eval) sees identical values."""
    from pathlib import Path

    from pyspark.ml.recommendation import ALS, ALSModel

    from ..io import ART_ROOT

    key = (id(spark.sparkContext), sf_dir)
    if key not in _ALS_CACHE:
        ratings = _ratings(spark, sf_dir).cache()
        disk = Path(ART_ROOT) / f"als_model_v1_{sf_key(sf_dir)}"
        if (disk / "_DONE").exists():
            model = ALSModel.load(str(disk / "model"))
        else:
            model = ALS(**_ALS_PARAMS).fit(ratings)
            model.write().overwrite().save(str(disk / "model"))
            (disk / "_DONE").touch()
        # factors are tiny (|users|+|items| rank-8 rows) and consumed by
        # four queries — pin them so the loaded-model path doesn't re-read
        # the model parquet per consumer
        model.userFactors.cache()
        model.itemFactors.cache()
        _ALS_CACHE[key] = (ratings, model)
    return _ALS_CACHE[key]


@register(
    "rec_ratings_matrix",
    oracle="""
    SELECT CAST(o_custkey AS INT) AS user_id,
           CAST(l_partkey AS INT) AS item_id,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS strength
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
)
def rec_ratings_matrix(spark, sf_dir):
    """The MovieLens-ratings stand-in built from fixtures (pure relational,
    so it carries a full oracle; everything ALS consumes is hash-checked)."""
    return _ratings(spark, sf_dir)


@register("als_train")  # rows-only: factor values are ML-internal
def als_train(spark, sf_dir):
    """Train ALS (reference hyperparameters: rank=8, 10 iters, reg 0.1,
    seed=5).  Emits model shape + per-factor-matrix norms; training RMSE
    quality gate lives in tests/test_ml_quality.py."""
    ratings, model = _fit_als(spark, sf_dir)
    uf, itf = model.userFactors, model.itemFactors
    return spark.createDataFrame(
        [
            (
                "als",
                model.rank,
                uf.count(),
                itf.count(),
                ratings.count(),
            )
        ],
        "model string, rank int, n_users long, n_items long, n_ratings long",
    )


@register("als_predict_pairs")  # rows-only: scores are float ML output
def als_predict_pairs(spark, sf_dir):
    """Score explicit (user, item) pairs — the reference's predictAll on a
    fixed candidate set (here: the 200 heaviest observed pairs)."""
    ratings, model = _fit_als(spark, sf_dir)
    pairs = (
        ratings.orderBy(F.col("strength").desc(), "user_id", "item_id")
        .limit(200)
        .select("user_id", "item_id")
    )
    return model.transform(pairs).select(
        "user_id", "item_id", F.col("prediction").cast("double").alias("score")
    )


@register("als_recommend_topk")  # rows-only: ranking of float scores
def als_recommend_topk(spark, sf_dir):
    """The reference's flagship op: top-5 *unseen* items per user among
    popular items (>=25 interactions) for the first 20 users.

    recommendForUserSubset gives blocked top-N; the unseen filter is the
    join_anti shape and the popularity rule the agg_having shape."""
    ratings, model = _fit_als(spark, sf_dir)
    users = ratings.select("user_id").distinct().orderBy("user_id").limit(20)
    recs = model.recommendForUserSubset(users, 50).select(
        "user_id", F.explode("recommendations").alias("rec")
    ).select(
        "user_id",
        F.col("rec.item_id").alias("item_id"),
        F.col("rec.rating").cast("double").alias("score"),
    )
    seen = ratings.select("user_id", "item_id")
    unseen = recs.join(seen, ["user_id", "item_id"], "left_anti")
    popular = (
        ratings.groupBy("item_id")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .filter(F.col("n_users") >= 25)
        .select("item_id")
    )
    # popular is ITEMS-sized (every item with >= 25 raters) — no forced
    # broadcast; AQE broadcasts it while it fits (r12: unbounded-side
    # hints removed across the CF/graph family, the dedup-gate rule)
    filtered = unseen.join(popular, "item_id")
    w = W.partitionBy("user_id").orderBy(F.col("score").desc(), "item_id")
    return (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "item_id", "score")
    )


@register(
    "rec_add_ratings",
    oracle="""
    WITH base AS (
      SELECT CAST(o_custkey AS INT) AS user_id,
             CAST(l_partkey AS INT) AS item_id,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS strength
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ), incoming AS (
      SELECT * FROM (VALUES (1, 1, 10.0), (1, 2, 5.0), (2, 1, 7.5))
        AS t(user_id, item_id, strength)
    )
    SELECT user_id, item_id,
           CAST(SUM(CAST(strength AS DECIMAL(18,2))) AS DOUBLE) AS strength
    FROM (SELECT * FROM base UNION ALL SELECT * FROM incoming)
    WHERE user_id IN (1, 2)
    GROUP BY user_id, item_id
    """,
)
def rec_add_ratings(spark, sf_dir):
    """The reference's add_ratings path (upstream:engine.py § add_ratings):
    union new interaction rows into the matrix and re-aggregate.  Batch form
    is oracle-checked on the affected users; the retrain step is als_train.
    (The streaming upsert twin is stream_stateful_count's shape.)"""
    base = _ratings(spark, sf_dir)
    incoming = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 5.0), (2, 1, 7.5)],
        "user_id int, item_id int, strength double",
    )
    return (
        base.unionByName(incoming)
        .filter(F.col("user_id").isin(1, 2))
        .groupBy("user_id", "item_id")
        .agg(dsum("strength", "strength"))
    )


def foldin_solve(yty, Y, r):
    """One user's fold-in factor: the implicit-ALS normal equations against
    frozen item factors, with the Gram trick.  ``yty`` is the rank x rank
    Gram matrix of ALL item factors, ``Y`` the float64 factors of the items
    the user rated (one row each) and ``r`` their strengths; ``len(r)`` is
    the user's n_u.  The one copy of the math, shared by the distributed
    ``foldin_factors`` and the serving layer's driver-side snapshot."""
    import numpy as np

    alpha, lam = 1.0, _ALS_PARAMS["regParam"]
    A = yty + (Y.T * (alpha * r)) @ Y + lam * len(r) * np.eye(len(yty))
    b = Y.T @ (1.0 + alpha * r)
    return np.linalg.solve(A, b)


def foldin_factors(spark, ratings, model, user_pred):
    """Solve fold-in factors for the users selected by ``user_pred`` against
    the frozen item factors of ``model`` (implicit-ALS normal equations with
    the Gram trick).  Returns DataFrame(user_id int, factor array<double>).
    Shared by the als_foldin query and its quality gate."""
    import numpy as np
    import pandas as pd

    k = model.rank
    itf = model.itemFactors  # id:int, features:array<float>

    def gram_parts(batches):
        for pdf in batches:
            if len(pdf):
                Y = np.stack(pdf["features"].to_numpy()).astype("float64")
                yield pd.DataFrame({"g": [(Y.T @ Y).ravel().tolist()]})

    parts = itf.mapInPandas(gram_parts, "g array<double>").collect()
    yty = np.sum([np.array(r.g) for r in parts], axis=0).reshape(k, k)

    joined = (
        ratings.filter(user_pred)
        .join(itf.withColumnRenamed("id", "item_id"), "item_id")
        .select("user_id", "strength", "features")
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        Y = np.stack(pdf["features"].to_numpy()).astype("float64")
        r = pdf["strength"].to_numpy().astype("float64")
        x = foldin_solve(yty, Y, r)
        return pd.DataFrame(
            {"user_id": [int(pdf["user_id"].iloc[0])], "factor": [x.tolist()]}
        )

    return joined.groupBy("user_id").applyInPandas(
        solve, "user_id int, factor array<double>"
    )


@register("als_foldin")  # rows-only: factor values are ML-internal
def als_foldin(spark, sf_dir):
    """Incremental fold-in of users WITHOUT retraining — the fix for the
    reference's biggest wart (upstream:engine.py § add_ratings does a full
    ALS retrain on every POST; SURVEY.md §3.1 E3).

    Math (implicit ALS, Hu-Koren-Volinsky): with item factors Y frozen, a
    user's factor is the ridge solution
        x_u = (YtY + Y_u^T diag(a*r_u) Y_u + lam*n_u*I)^-1  Y_u^T (1 + a*r_u)
    using the Gram trick: the O(#items) term YtY is computed ONCE as a
    rank x rank matrix (distributed partial Grams via mapInPandas, summed on
    the driver — 64 doubles per partition), so each fold-in touches only the
    items that user interacted with.  Per-user solves run distributed via
    applyInPandas (an 8x8 system each).  At 100 TB this is the production
    serve path: nightly full retrain, per-minute fold-in of new users.

    Quality gate (tests/test_ml_quality.py): folding in a TRAINED user's own
    interactions must reproduce their trained factor (cosine ~ 1)."""
    ratings, model = _fit_als(spark, sf_dir)
    itf = model.itemFactors
    # fold in the first 10 users' interactions as if they were new arrivals
    factors = foldin_factors(spark, ratings, model, F.col("user_id") < 10)

    # score folded users against all items; top-5 unseen each
    scored = factors.join(
        itf.select(
            F.col("id").alias("item_id"),
            F.col("features").cast("array<double>").alias("y"),
        )
    ).select(
        "user_id",
        "item_id",
        F.aggregate(
            F.zip_with("factor", "y", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    seen = ratings.select("user_id", "item_id")
    w = W.partitionBy("user_id").orderBy(F.col("score").desc(), "item_id")
    return (
        scored.join(seen, ["user_id", "item_id"], "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "item_id", F.col("score").cast("double").alias("score"))
    )


@register("als_model_io")  # rows-only: persistence round-trip verdict
def als_model_io(spark, sf_dir):
    """ALS model persistence round-trip (r12 verdict item 6): write the
    trained model with MLlib's NATIVE writer (factor parquet + params
    JSON — the factors never funnel through the driver), load it back,
    and verify both factor matrices are BIT-EQUAL to the in-memory
    model's.  This is the determinism gate behind the serving layer's
    warm-start (serving.py save()/load()): a restarted deployment that
    loads the nightly artifact must answer every request with values
    identical to the process that trained it.

    Floats round-trip bit-exactly through parquet (no text formatting
    anywhere), so the mismatch counts are REQUIRED to be zero — the op
    emits one row per factor matrix with row counts, join coverage, and
    the exact-mismatch count, making any storage-layer drift visible in
    the driver's rows/schema check.  100 TB: factor matrices are
    |users|+|items| rank-k DataFrames; save/load stays distributed
    parquet I/O regardless of model size."""
    from pathlib import Path

    from pyspark.ml.recommendation import ALSModel

    from ..io import ART_ROOT

    _, model = _fit_als(spark, sf_dir)
    dst = Path(ART_ROOT) / f"als_model_io_v1_{sf_key(sf_dir)}" / "model"
    model.write().overwrite().save(str(dst))
    reloaded = ALSModel.load(str(dst))

    def verdict(tag, orig, back):
        o = orig.select(
            F.col("id"), F.col("features").alias("f_orig")
        )
        b = back.select(F.col("id"), F.col("features").alias("f_back"))
        j = o.join(b, "id", "full")
        # exact float equality elementwise; NULL side = missing row.  The
        # explicit size check closes the zip_with blind spot: a truncated
        # or padded reloaded vector whose shared prefix matches would pad
        # with nulls, a==null yields null, and F.filter drops null
        # predicates — exactly the storage-drift mode this gate exists
        # to catch.
        mismatch = F.when(
            F.col("f_orig").isNull()
            | F.col("f_back").isNull()
            | (F.size("f_orig") != F.size("f_back"))
            | (
                F.size(
                    F.filter(
                        F.zip_with(
                            "f_orig", "f_back", lambda a, c: a == c
                        ),
                        lambda eq: ~eq,
                    )
                )
                > 0
            ),
            1,
        ).otherwise(0)
        return j.agg(
            F.lit(tag).alias("matrix"),
            F.count("f_orig").alias("n_rows"),
            F.count("f_back").alias("n_reloaded"),
            F.sum(mismatch).cast("long").alias("n_mismatch"),
        )

    return verdict("user_factors", model.userFactors, reloaded.userFactors).unionAll(
        verdict("item_factors", model.itemFactors, reloaded.itemFactors)
    ).orderBy("matrix")


@register(
    "rec_item_item",
    oracle="""
    WITH b AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), n AS (
      SELECT i, count(*) AS n_users FROM b GROUP BY i
    ), p AS (
      SELECT a.i AS item_a, b2.i AS item_b, count(*) AS cooc
      FROM b a JOIN b b2 ON a.u = b2.u AND a.i < b2.i
      GROUP BY 1, 2
    ), sym AS (
      SELECT item_a, item_b, cooc FROM p
      UNION ALL
      SELECT item_b, item_a, cooc FROM p
    ), scored AS (
      SELECT s.item_a, s.item_b, s.cooc,
             s.cooc / sqrt(CAST(na.n_users * nb.n_users AS DOUBLE)) AS cos_sim
      FROM sym s
      JOIN n na ON s.item_a = na.i
      JOIN n nb ON s.item_b = nb.i
      WHERE s.cooc >= 3
    )
    SELECT item_a, item_b, cooc, cos_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY item_a ORDER BY cos_sim DESC, item_b) <= 5
    """,
)
def rec_item_item(spark, sf_dir):
    """Item-item collaborative filtering: cosine similarity over the binary
    user-item co-occurrence matrix, top-5 neighbors per item — the classic
    memory-based recommender (the serving-side complement to ALS: neighbor
    lists are precomputed batch-side and looked up at request time, which is
    what the reference's predictAll+join pipeline approximates).

    cos(i,j) = |U_i ∩ U_j| / sqrt(|U_i|·|U_j|) — all three terms exact
    integers, so the one division + sqrt is bit-deterministic (no rounding).
    Plan: distinct baskets (one shuffle on user), basket-length cap (tiny
    partial-agg count of over-cap users, broadcast LEFT ANTI join — the
    exclusion list is ~empty, so the guard costs nothing when it has
    nothing to do), per-user pair expansion via self-join on user (AQE
    handles residual skew), count shuffle on the pair, then the top-k
    window.  The 100 TB guards are both IN the plan: MAX_BASKET drops
    hyper-active users (who add quadratic pairs but no signal) before the
    self-join, and the min-count prune (cooc >= 3) runs before scoring —
    the published item-CF production recipe.  MAX_BASKET is sized to be a
    no-op at fixture scale (oracle carries no cap; no-op asserted in
    tests/test_properties.py)."""
    # The whole quadratic stage (hyper guard -> basket self-join -> cooc
    # count, 12.7M intermediate pairs at sf0.1) lives in the shared
    # co-purchase pair artifact: built once per corpus snapshot, read as a
    # small parquet afterwards — "materialize the interaction table once
    # per snapshot", the standard item-CF staging step.  Measured at
    # sf0.1: 14-15 s computing inline, ~1 s from the artifact.  Only the
    # cheap per-item audience counts remain inline.
    b = _guarded_baskets(spark, sf_dir)
    n = b.groupBy("i").agg(F.count("*").alias("n_users"))
    p = _copurchase_edges_artifact(spark, sf_dir).select(
        F.col("p").alias("item_a"), F.col("q").alias("item_b"), "cooc"
    )
    sym = p.unionByName(
        p.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "cooc",
        )
    )
    na = n.select(F.col("i").alias("item_a"), F.col("n_users").alias("na"))
    nb = n.select(F.col("i").alias("item_b"), F.col("n_users").alias("nb"))
    scored = (
        sym.filter(F.col("cooc") >= 3)
        # na/nb are per-ITEM stat tables (unbounded at catalog scale) —
        # AQE broadcasts them while they fit; a forced hint here is the
        # same executor-OOM class the r11 verdict flagged on the
        # minhash rescore
        .join(na, "item_a")
        .join(nb, "item_b")
        .withColumn(
            "cos_sim",
            F.col("cooc") / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
    )
    w = W.partitionBy("item_a").orderBy(F.col("cos_sim").desc(), "item_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("item_a", "item_b", "cooc", "cos_sim")
    )


@register(
    "rec_popularity_topk",
    oracle="""
    WITH m AS (
      SELECT l.l_partkey AS item,
             count(DISTINCT o.o_custkey) AS n_users,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS strength
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_partkey
    )
    SELECT item, n_users, strength FROM m
    WHERE n_users >= 5
    ORDER BY strength DESC, item
    LIMIT 10
    """,
)
def rec_popularity_topk(spark, sf_dir):
    """Popularity baseline: top-10 items by total interaction strength with
    a minimum-audience gate — the reference's ">= 25 ratings" popularity
    rule as a standalone recommender (the fallback every ALS deployment
    serves to cold-start users).  Partial-agg shuffle + TakeOrderedAndProject;
    total order (strength DESC, item) before the limit."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    m = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_partkey").alias("item"))
        .agg(
            F.countDistinct("o_custkey").alias("n_users"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("strength"),
        )
    )
    return (
        m.filter(F.col("n_users") >= 5)
        .orderBy(F.col("strength").desc(), "item")
        .limit(10)
    )


@register(
    "graph_triangles",
    oracle="""
    WITH b AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS (
      SELECT a.i AS src, b2.i AS dst
      FROM b a JOIN b b2 ON a.u = b2.u AND a.i < b2.i
      GROUP BY 1, 2
      HAVING count(*) >= 5
    )
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM e e1
    JOIN e e2 ON e1.dst = e2.src
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
)
def graph_triangles(spark, sf_dir):
    """Triangle enumeration over the co-purchase graph (edges: item pairs
    co-bought by >= 5 customers) — the graph-analytics primitive under
    clustering coefficients and community detection.

    Edges are oriented by the total order (degree, id) — every edge points
    from its lower-degree endpoint to its higher-degree endpoint (id breaks
    ties), so each triangle has exactly ONE source node with two out-edges
    and is found exactly once by the two-hop + closing-edge join.  This is
    the production orientation: a hub with degree d that would contribute
    O(d^2) two-hop candidates under id-orientation gets near-ZERO out-degree
    (almost all its neighbors have lower degree), bounding the join fan-out
    by the graph's degeneracy instead of its max degree — the difference
    between hours and minutes on a 100 TB co-purchase graph.  Degrees come
    from one tiny agg over the thresholded edge set and broadcast onto both
    endpoints.  Output rows are re-canonicalized to id order (a<b<c), so the
    result — and the oracle hash — is identical to id-orientation."""
    # The thresholded edge set is consumed FOUR times (the degree agg +
    # e1/e2/e3); it comes from the disk-memoized shared artifact, so the
    # quadratic pair self-join runs once PER CORPUS, not once per consumer
    # (previously a localCheckpoint bounded it to once per query).
    und = (
        _copurchase_edges_artifact(spark, sf_dir)
        .filter(F.col("cooc") >= 5)
        .select("p", "q")
    )
    deg = (
        und.select(F.col("p").alias("node"))
        .unionAll(und.select(F.col("q").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # deg is per-NODE (unbounded) — unhinted, AQE picks the strategy
    dp = deg.select(F.col("node").alias("p"), F.col("deg").alias("dp"))
    dq = deg.select(F.col("node").alias("q"), F.col("deg").alias("dq"))
    lower_first = (F.col("dp") < F.col("dq")) | (
        (F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q"))
    )
    e = (
        und.join(dp, "p")
        .join(dq, "q")
        .select(
            F.when(lower_first, F.col("p")).otherwise(F.col("q")).alias("src"),
            F.when(lower_first, F.col("q")).otherwise(F.col("p")).alias("dst"),
        )
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.array_sort(
                F.array(F.col("e1.src"), F.col("e1.dst"), F.col("e2.dst"))
            ).alias("t")
        )
    )
    return tri.select(
        F.col("t")[0].alias("a"), F.col("t")[1].alias("b"), F.col("t")[2].alias("c")
    )


def _fold_bucket():
    """Deterministic 0-99 bucket per (user, item) pair — the md5 primitive
    of sample_hash_split, reused so the 80/20 eval fold is identical in
    every process."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("user_id"), F.col("item_id"))
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )


_TRAINFOLD_CACHE: dict = {}


def _fit_als_trainfold(spark, sf_dir):
    """Fit (or reuse) ALS on the 80% md5-bucket train fold.

    Same two memo layers as _fit_als, keyed separately
    (als_trainfold_v1_*): the fold is a pure function of (corpus, md5
    bucket rule), and the fit of (fold, seed) — so a staged model is
    bit-identical to a fresh fit and carries no test-set leakage (the
    held-out 20% never reaches the fit in either path).  Returns
    (tagged_ratings, model) where tagged carries the bucket column `b`."""
    from pathlib import Path

    from pyspark.ml.recommendation import ALS, ALSModel

    from ..io import ART_ROOT

    key = (id(spark.sparkContext), sf_dir)
    if key not in _TRAINFOLD_CACHE:
        tagged = _ratings(spark, sf_dir).withColumn("b", _fold_bucket()).cache()
        train = tagged.filter(F.col("b") < 80).drop("b")
        disk = Path(ART_ROOT) / f"als_trainfold_v1_{sf_key(sf_dir)}"
        if (disk / "_DONE").exists():
            model = ALSModel.load(str(disk / "model"))
        else:
            model = ALS(**_ALS_PARAMS).fit(train)
            model.write().overwrite().save(str(disk / "model"))
            (disk / "_DONE").touch()
        _TRAINFOLD_CACHE[key] = (tagged, model)
    return _TRAINFOLD_CACHE[key]


@register("rec_eval_recall")  # rows-only: ML quality metric
def rec_eval_recall(spark, sf_dir):
    """Offline recommender evaluation: hash-split interactions 80/20,
    train ALS on the train fold, score recall@10 on held-out test items —
    the eval loop the reference never had (it shipped recommendations
    with no measurement).  The split reuses the deterministic md5-bucket
    primitive (sample_hash_split), so the fold — and with the fixed seed,
    the metric — is reproducible run to run; the train-fold model is
    disk-staged like als_train's (deterministic fold ⇒ no leakage).
    Emits one row (n_users_eval, n_hits, recall_at_10); the sanity gate
    (recall beats the random-item baseline by construction) lives in
    tests/test_ml_quality.py.

    Scale (r13): recommendForUserSubset scores every eval user against
    the FULL item catalog (a users × items blocked GEMM), so evaluating
    ALL test users grows quadratically when users and items scale
    together — measured 31× wall at 10× the perturbed corpus, 87 s at
    sf1, for a metric whose value a sample already pins (recall@10 is a
    mean of per-user Bernoulli-ish rates; at 30k users its CI is a few
    1e-3).  The eval therefore runs on a deterministic hash-ordered
    sample of at most EVAL_MAX_USERS test users (md5 order — the same
    reproducible-fold primitive as the 80/20 split; a LIMIT over a
    TakeOrdered, no full sort materialized).  Fixture scales sit far
    under the cap, so fold, metric and determinism gates are unchanged
    there; past the cap the reported n_users_eval/n_test say exactly
    what was measured."""
    tagged, model = _fit_als_trainfold(spark, sf_dir)
    test = tagged.filter(F.col("b") >= 80).drop("b")

    EVAL_MAX_USERS = 30_000
    test_users = (
        test.select("user_id")
        .distinct()
        .orderBy(F.md5(F.col("user_id").cast("string")), "user_id")
        .limit(EVAL_MAX_USERS)
    )
    # restrict the held-out set to the sampled users: the user list is
    # cap-bounded (<= 30k ids), so the hint is constant-bounded like
    # nation/region, never data-scaling
    test_eval = test.join(F.broadcast(test_users), "user_id")
    recs = (
        model.recommendForUserSubset(test_users, 10)
        .select("user_id", F.explode("recommendations").alias("r"))
        .select("user_id", F.col("r.item_id").alias("item_id"))
    )
    hits = recs.join(test_eval, ["user_id", "item_id"], "inner")
    n_users = test_users.count()
    n_test = test_eval.count()
    n_hits = hits.count()
    return spark.createDataFrame(
        [(n_users, n_test, n_hits, float(n_hits) / max(1, n_test))],
        "n_users_eval long, n_test long, n_hits long, recall_at_10 double",
    )


@register("graph_pagerank")  # rows-only: iterative fixpoint, gates in test_ml_quality
def graph_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 6 fixed iterations) over the co-purchase
    graph — the canonical iterative graph algorithm, implemented as a
    bounded sequence of join+aggregate rounds, no driver-side graph.

    Graph: the same cooc>=5 item-pair edges as `graph_triangles`,
    symmetrized (PageRank needs out-edges; an undirected graph gets both
    directions), so every node has out-degree >= 1 and there is no
    dangling-mass term.  Each round is contrib = rank/deg routed along
    edges, one hash-shuffle groupBy(dst); `localCheckpoint` per round cuts
    the lineage so round k+1 replans from materialized ranks instead of a
    2^k-deep DAG (the dedup_cluster / MapReduce-iteration recipe).

    Determinism (rows-only ops still gate on it): per-dst contribution
    sums accumulate in DECIMAL(38,18) — order-independent — and the
    double->decimal cast of each contribution is a pure per-row op, so two
    runs produce identical ranks bit-for-bit (asserted in
    tests/test_ml_quality.py, alongside mass conservation |sum(rank) - N|
    and positivity).  At 100 TB: 6 shuffles of O(edges) rows each, rank
    state O(nodes) — the textbook Pregel workload expressed as DataFrame
    ops; the node-sized rank/deg side is left to AQE — broadcast while
    it fits (fixture scale), shuffle-hash join on src beyond that —
    and no collect anywhere."""
    und = (
        _copurchase_edges_artifact(spark, sf_dir)
        .filter(F.col("cooc") >= 5)
        .select("p", "q")
    )
    edges = (
        und.select(F.col("p").alias("src"), F.col("q").alias("dst"))
        .unionAll(und.select(F.col("q").alias("src"), F.col("p").alias("dst")))
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # rank state CARRIES deg (r14): out-degree is loop-invariant, so
    # re-joining the node-sized deg table onto ranks every round paid a
    # join per iteration for a value the checkpoint can keep — 6 node-
    # sized joins removed for +8 bytes/row of checkpointed state.  The
    # state itself enumerates all nodes (the left join below never drops
    # one), so it also replaces deg as the rebuild's left base.  Values
    # are bit-identical: same per-row rank/deg division and decimal cast,
    # order-free DECIMAL sums.
    ranks = deg.select("src", "deg", F.lit(1.0).alias("rank"))
    for _ in range(6):
        contrib = (
            edges.join(ranks, "src")
            .select(
                "dst",
                (F.col("rank") / F.col("deg") * F.lit(0.85))
                .cast("decimal(38,18)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("inflow"))
        )
        ranks = (
            ranks.select("src", "deg")
            .join(contrib.withColumnRenamed("dst", "src"), "src", "left")
            .select(
                "src",
                "deg",
                (F.lit(0.15) + F.coalesce(F.col("inflow"), F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint()
        )
    return (
        ranks.select(F.col("src").alias("node"), "rank")
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


@register(
    "rec_association_rules",
    oracle="""
    WITH b0 AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), keep AS (
      SELECT u FROM b0 GROUP BY u HAVING COUNT(*) <= 1000
    ), b AS (
      SELECT b0.u, b0.i FROM b0 JOIN keep ON b0.u = keep.u
    ), n AS (
      SELECT COUNT(DISTINCT u) AS nu FROM b
    ), s AS (
      SELECT i, COUNT(*) AS c FROM b GROUP BY i
    ), pq AS (
      SELECT a.i AS p, c2.i AS q, COUNT(*) AS spq
      FROM b a JOIN b c2 ON a.u = c2.u AND a.i < c2.i
      GROUP BY a.i, c2.i
      HAVING COUNT(*) >= 5
    ), rules AS (
      SELECT p AS antecedent, q AS consequent, spq FROM pq
      UNION ALL
      SELECT q AS antecedent, p AS consequent, spq FROM pq
    )
    SELECT r.antecedent, r.consequent, r.spq AS support_n,
           CAST(r.spq AS DOUBLE) / sa.c AS confidence,
           CAST(r.spq AS DOUBLE) * n.nu / (CAST(sa.c AS DOUBLE) * sc.c) AS lift
    FROM rules r
    JOIN s sa ON sa.i = r.antecedent
    JOIN s sc ON sc.i = r.consequent
    CROSS JOIN n
    WHERE CAST(r.spq AS DOUBLE) / sa.c >= 0.2
    """,
)
def rec_association_rules(spark, sf_dir):
    """Association-rule mining over order baskets: support / confidence /
    lift for co-purchase pairs (the Apriori output at itemset size 2) —
    the interpretable sibling of `rec_item_item`'s cosine neighbors.

    Plan: same bucketed pair expansion as the co-purchase family (shared
    pair artifact, support>=5 prunes the pair tail), per-item supports are
    one tiny agg joined back (AQE broadcasts them), and the user count
    enters as a broadcast 1-row cross join.  Supports and the user count
    come from the SAME MAX_BASKET-guarded basket universe as the pair
    counts (``_guarded_baskets`` — and the oracle applies the identical
    HAVING cap), so confidence = spq/ca can never pair a guarded numerator
    with an unguarded denominator when the hyper-user guard fires at
    scale.  Confidence/lift are single fixed divisions over exact integer
    counts — hash-stable, fully oracle-checked.  Rules emit BOTH
    directions (confidence is asymmetric; lift is symmetric and serves as
    the cross-check)."""
    b = _guarded_baskets(spark, sf_dir)
    nu = b.select(F.count_distinct("u").alias("nu"))
    s = b.groupBy("i").agg(F.count("*").alias("c"))
    pq = (
        _copurchase_edges_artifact(spark, sf_dir)
        .filter(F.col("cooc") >= 5)
        .withColumnRenamed("cooc", "spq")
    )
    rules = pq.select(
        F.col("p").alias("antecedent"), F.col("q").alias("consequent"), "spq"
    ).unionByName(
        pq.select(
            F.col("q").alias("antecedent"), F.col("p").alias("consequent"), "spq"
        )
    )
    sa = s.select(F.col("i").alias("antecedent"), F.col("c").alias("ca"))
    sc_ = s.select(F.col("i").alias("consequent"), F.col("c").alias("cc"))
    out = (
        rules.join(sa, "antecedent")
        .join(sc_, "consequent")
        .crossJoin(F.broadcast(nu))
        .select(
            "antecedent",
            "consequent",
            F.col("spq").alias("support_n"),
            (F.col("spq").cast("double") / F.col("ca")).alias("confidence"),
            (
                F.col("spq").cast("double")
                * F.col("nu")
                / (F.col("ca").cast("double") * F.col("cc"))
            ).alias("lift"),
        )
    )
    return out.filter(F.col("confidence") >= 0.2)


@register(
    "rec_sequential_markov",
    oracle="""
    WITH s AS (
      SELECT o_custkey AS u, l_partkey AS item,
             lead(l_partkey) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey, l_linenumber, l_partkey
             ) AS next_item
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), c AS (
      SELECT item, next_item, count(*) AS n_trans
      FROM s WHERE next_item IS NOT NULL
      GROUP BY item, next_item
    ), tot AS (
      SELECT item, sum(n_trans) AS n_from FROM c GROUP BY item
    ), r AS (
      SELECT c.item, c.next_item, c.n_trans,
             CAST(c.n_trans AS DOUBLE) / tot.n_from AS prob,
             row_number() OVER (
               PARTITION BY c.item ORDER BY c.n_trans DESC, c.next_item
             ) AS rnk
      FROM c JOIN tot USING (item)
    )
    SELECT item, next_item, n_trans, prob, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def rec_sequential_markov(spark, sf_dir):
    """Sequential (first-order Markov) next-item recommender: per customer,
    purchases form an ordered item sequence; adjacent pairs are transition
    counts, and each item's top-3 most likely successors (with transition
    probability) are the "bought X, next buys Y" model — the item-level
    sibling of events_transition_matrix and the classic baseline under
    session-based recommenders.

    Order is effectively total — (o_orderdate, o_orderkey, l_linenumber,
    l_partkey); the fixture has duplicate line numbers within an order, and
    any rows still tied after the item tie-break are identical items, whose
    interchange cannot alter a transition pair — so lead() is
    deterministic under any partitioning; transition counts are exact
    ints and prob is one IEEE division (the events_transition_matrix
    discipline); the top-3 tie-break is (n_trans DESC, next_item).

    Scale: the orders side of the fact-fact join carries only the
    ordering key; the sequence window is one hash shuffle on the customer
    key, bounded by one customer's history; the transition aggregate then
    collapses to <= |items|^2 rows (item-pair space, corpus-size-free) and
    the per-item successor ranking windows over THAT.  At 100 TB nothing
    after the first shuffle sees corpus-scale data."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    seq = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("item"),
        "o_orderdate",
        "o_orderkey",
        "l_linenumber",
    )
    ws = W.partitionBy("u").orderBy(
        "o_orderdate", "o_orderkey", "l_linenumber", "item"
    )
    pairs = (
        seq.select("item", F.lead("item").over(ws).alias("next_item"))
        .filter(F.col("next_item").isNotNull())
    )
    c = pairs.groupBy("item", "next_item").agg(F.count("*").alias("n_trans"))
    # Per-item totals as a WINDOW sum over the same partitioning the
    # successor ranking already needs: both windows share ONE
    # Exchange(item) + Sort, replacing the former groupBy(item) + join-back
    # (two extra exchanges and a self-referenced subplan that needed a
    # localCheckpoint cut).  n_from is the same exact integer sum, prob the
    # same single IEEE division — bit-identical output.
    wt = W.partitionBy("item")
    wr = W.partitionBy("item").orderBy(F.col("n_trans").desc(), "next_item")
    return (
        c.select(
            "item",
            "next_item",
            "n_trans",
            (
                F.col("n_trans").cast("double")
                / F.sum("n_trans").over(wt)
            ).alias("prob"),
            F.row_number().over(wr).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


def label_propagation(symmetric_edges, rounds: int = 5):
    """Synchronous weighted label propagation over a SYMMETRIZED directed
    edge list ``(src, dst, w)`` with integer weights: every node starts as its own
    label and per round adopts the label carrying the most incoming weight
    among its neighbors, ties broken by smallest label.

    One edges-to-labels hash join + one (node, label) integer-sum
    aggregate + one max-by-struct reduction per round (max(struct(s,
    -label)) is max-weight-then-min-label without a second shuffle);
    localCheckpoint per round cuts the lineage (the graph_pagerank /
    dedup_cluster iteration recipe).  Integer weights + the total
    tie-break make every round a pure function of the previous labeling —
    bit-identical on any partitioning.  Module-level so the quality gate
    can drive it on a planted-partition graph where ground truth is
    known (the fixture's co-purchase graph is TPC-H-random and has no
    planted communities to recover).

    REQUIRES a symmetrized edge list (every dst also appears as a src —
    both callers union the swapped pairs): round 1's labeling is then
    the identity, so the initial distinct() node build and round 1's
    edges-to-labels join are skipped outright — the neighbor's label IS
    ``dst`` (the dedup_cluster identity-round recipe).  On a
    non-symmetrized list the old join would DROP edges whose dst never
    appears as a node, so the substitution would not be equivalent
    there."""
    assert rounds >= 1, "label_propagation needs at least one round"
    lbl = None
    for _ in range(rounds):
        if lbl is None:
            # round 1: every neighbor still carries its own id as label
            nbr = (
                symmetric_edges.select("src", F.col("dst").alias("label"), "w")
                .groupBy("src", "label")
                .agg(F.sum("w").alias("s"))
            )
        else:
            nbr = (
                symmetric_edges.join(lbl.withColumnRenamed("node", "dst"), "dst")
                .groupBy("src", "label")
                .agg(F.sum("w").alias("s"))
            )
        lbl = (
            nbr.groupBy(F.col("src").alias("node"))
            .agg(
                F.max(
                    F.struct(F.col("s"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
            .localCheckpoint()
        )
    return lbl


@register("graph_label_propagation")  # rows-only: iterative fixpoint, gates
# (planted-partition recovery, determinism) in tests/test_ml_quality.py
def graph_label_propagation(spark, sf_dir):
    """Community detection by bounded synchronous label propagation (5
    rounds) over the degree-sparsified co-purchase graph — "which items
    cluster into shopping neighborhoods", the unsupervised sibling of
    graph_pagerank on the same cooc>=5 edge set.

    The raw co-occurrence graph is near-complete at fixture scale (and
    its density grows with corpus size), so the operator first keeps each
    node's top-3 strongest edges — (cooc DESC, dst) per src, the standard
    kNN sparsification for community detection on dense similarity graphs
    — then symmetrizes the kept pairs.  That bounds per-node degree, so
    every later round shuffles O(nodes x 3) rows REGARDLESS of corpus
    size; propagation itself is `label_propagation` above (integer
    weights, deterministic ties, one hash shuffle per round, no
    driver-side graph, no collect).

    Determinism: the sparsification window has a total order and weights
    are exact ints, so the whole pipeline is bit-identical on any
    partitioning (covered by the partition-invariance gate); bounded
    rounds sidestep classic LPA's oscillation risk.  Quality is gated on
    a planted-partition graph in tests/test_ml_quality.py (exact
    recovery), because TPC-H co-purchases are random — there is no ground
    truth HERE to score against."""
    from pyspark.sql import Window as W

    und = (
        _copurchase_edges_artifact(spark, sf_dir)
        .filter(F.col("cooc") >= 5)
        .select("p", "q", "cooc")
    )
    sym = und.select(
        F.col("p").alias("src"), F.col("q").alias("dst"),
        F.col("cooc").alias("w"),
    ).unionAll(
        und.select(
            F.col("q").alias("src"), F.col("p").alias("dst"),
            F.col("cooc").alias("w"),
        )
    )
    wk = W.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    kept = sym.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") <= 3)
    pairs = kept.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        "w",
    ).distinct()
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    ).localCheckpoint(eager=False)
    lbl = label_propagation(edges, rounds=5)
    return lbl.select("node", F.col("label").alias("community")).orderBy("node")


@register(
    "graph_jaccard_neighbors",
    oracle="""
    WITH b AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS (
      SELECT a.i AS src, b2.i AS dst
      FROM b a JOIN b b2 ON a.u = b2.u AND a.i < b2.i
      GROUP BY 1, 2 HAVING count(*) >= 5
    ), adj AS (
      SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
    ), deg AS (
      SELECT src AS node, count(*) AS d FROM adj GROUP BY src
    ), sh AS (
      SELECT x.dst AS a, y.dst AS b, count(*) AS shared
      FROM adj x JOIN adj y ON x.src = y.src AND x.dst < y.dst
      GROUP BY 1, 2
    )
    SELECT s.a, s.b, s.shared,
           CAST(s.shared AS DOUBLE) / (da.d + db.d - s.shared) AS jaccard
    FROM sh s JOIN deg da ON s.a = da.node JOIN deg db ON s.b = db.node
    ORDER BY jaccard DESC, a, b LIMIT 20
    """,
)
def graph_jaccard_neighbors(spark, sf_dir):
    """Neighborhood-Jaccard link prediction on the co-purchase graph: for
    item pairs sharing at least one common neighbor, score
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| and return the strongest pairs — the
    classic structural-similarity / link-prediction baseline (items whose
    purchase contexts overlap even if never co-bought themselves).

    The intersection comes from the WEDGE join (adjacency self-joined on
    the shared neighbor, dst<dst dedup) — candidates are generated only
    through common neighbors, never all-pairs, so the cost is sum(deg²)
    over nodes, bounded at scale by the cooc>=5 sparsity floor plus the
    same top-k-per-node neighbor sparsification lever label_propagation
    uses.  Degrees are a node-sized aggregate that broadcasts onto the
    pair stream; one division per output row keeps the score engine-
    deterministic.  Edge set reads from the disk-memoized corpus artifact
    (one quadratic basket join per corpus, shared with the whole
    co-purchase family)."""
    und = (
        _copurchase_edges_artifact(spark, sf_dir)
        .filter(F.col("cooc") >= 5)
        .select("p", "q")
    )
    adj = und.select(F.col("p").alias("src"), F.col("q").alias("dst")).unionAll(
        und.select(F.col("q").alias("src"), F.col("p").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    sh = (
        x.join(y, (F.col("x.src") == F.col("y.src")) & (F.col("x.dst") < F.col("y.dst")))
        .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
        .agg(F.count("*").alias("shared"))
    )
    # deg is per-NODE (unbounded) — unhinted, AQE picks the strategy
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        sh.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "shared",
            (
                F.col("shared").cast("double")
                / (F.col("da") + F.col("db") - F.col("shared"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(20)
    )


#: user-user CF skew guard: items bought by more than this many distinct
#: customers are excluded from the pair expansion (a hyper-popular item
#: contributes |audience|² pairs and near-zero similarity signal).  Sized a
#: pure 15x+ guard: no fixture item's audience comes near it (asserted in
#: tests/test_properties.py), so the uncapped oracle hashes identically.
MAX_AUDIENCE = 1000


@register(
    "rec_user_user",
    oracle="""
    WITH b AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), n AS (
      SELECT u, count(*) AS n_items FROM b GROUP BY u
    ), p AS (
      SELECT a.u AS user_a, b2.u AS user_b, count(*) AS cooc
      FROM b a JOIN b b2 ON a.i = b2.i AND a.u < b2.u
      GROUP BY 1, 2
      HAVING count(*) >= 3
    ), sym AS (
      SELECT user_a, user_b, cooc FROM p
      UNION ALL
      SELECT user_b, user_a, cooc FROM p
    ), scored AS (
      SELECT s.user_a, s.user_b, s.cooc,
             s.cooc / sqrt(CAST(na.n_items * nb.n_items AS DOUBLE)) AS cos_sim
      FROM sym s
      JOIN n na ON s.user_a = na.u
      JOIN n nb ON s.user_b = nb.u
    )
    SELECT user_a, user_b, cooc, cos_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY user_a ORDER BY cos_sim DESC, user_b) <= 3
    """,
)
def rec_user_user(spark, sf_dir):
    """User-user collaborative filtering: cosine over binary baskets
    (cooc / sqrt(|A|·|B|)), top-3 most-similar customers per customer —
    the neighborhood-CF dual of rec_item_item, used for social-proof
    recommendations and account-sharing detection.

    The pair expansion self-joins baskets on the ITEM key, so the skew
    axis flips: hyper-popular items (not hyper-active users) explode the
    join, and the MAX_AUDIENCE guard drops them before the quadratic stage
    — a no-op at fixture scale (asserted), exactly like MAX_BASKET on the
    item-item side.  Basket sizes join onto the symmetric pair stream
    unhinted (per-USER table — AQE broadcasts it while it fits; r12);
    per-user top-3 prunes via WindowGroupLimit before the final
    exchange.  Scale profile (r12 perturbed-sf1 campaign,
    tools/scaleup_r12_cf_graph.json): Σ audience² — the inherent
    pair-expansion work the oracle also pays — scales 10.2x for 10x
    input (max audience 53, guard untouched); wall tracks it linearly.
    The guard itself is exercised under INJECTED basket skew in
    tests/test_skew_stress.py (a planted hyper-item past the cap is
    dropped before the quadratic stage; measured volume/wall in
    SCALE.md §10t)."""
    return _user_user_pairs(_baskets_artifact(spark, sf_dir))


def _user_user_pairs(b):
    """rec_user_user body over an explicit (u, i) basket table — split
    out so the skew gate can exercise MAX_AUDIENCE on an injected
    hyper-popular item (the fixtures never cross the cap)."""
    hyper_items = (
        b.groupBy("i")
        .agg(F.count("*").alias("audience"))
        .filter(F.col("audience") > MAX_AUDIENCE)
        .select("i")
    )
    g = b.join(F.broadcast(hyper_items), "i", "left_anti")
    n = g.groupBy("u").agg(F.count("*").alias("n_items"))
    x, y = g.alias("x"), g.alias("y")
    p = (
        x.join(y, (F.col("x.i") == F.col("y.i")) & (F.col("x.u") < F.col("y.u")))
        .groupBy(F.col("x.u").alias("user_a"), F.col("y.u").alias("user_b"))
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= 3)
    )
    sym = p.unionAll(
        p.select(
            F.col("user_b").alias("user_a"),
            F.col("user_a").alias("user_b"),
            "cooc",
        )
    )
    # n is per-USER (unbounded at 1e9 accounts) — unhinted; AQE
    # broadcasts it while it fits (r12 campaign triage: the expansion
    # itself is work-linear, this hint was the remaining scale flag)
    na = n.select(F.col("u").alias("user_a"), F.col("n_items").alias("na"))
    nb = n.select(F.col("u").alias("user_b"), F.col("n_items").alias("nb"))
    scored = (
        sym.join(na, "user_a")
        .join(nb, "user_b")
        .select(
            "user_a",
            "user_b",
            "cooc",
            (
                F.col("cooc")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("user_a").orderBy(F.col("cos_sim").desc(), "user_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_a", "user_b", "cooc", "cos_sim")
    )


#: rec_user_user_sampled: per-item audience sample size.  With the cap
#: FIXED, every inverse-inclusion pair weight is either 1 (audience <= cap,
#: the pair was seen for sure) or a(a-1)/(CAP*(CAP-1)) — so scaling every
#: weight by the constant denominator keeps the whole estimator in exact
#: INTEGER arithmetic (order-independent sums, hash-stable, oracle-able).
_UU_SAMPLE_CAP = 64
_UU_DENOM = _UU_SAMPLE_CAP * (_UU_SAMPLE_CAP - 1)

#: rec_item_item_sampled: basket-side cap.  Baskets run larger than item
#: audiences on this data model (sf0.001 already has 66-item baskets), so
#: the item-item twin samples at 128 — below it the estimator is exact.
_II_SAMPLE_CAP = 128
_II_DENOM = _II_SAMPLE_CAP * (_II_SAMPLE_CAP - 1)


@register(
    "rec_user_user_sampled",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), cnt AS (
      SELECT i, count(*) AS a FROM b GROUP BY i
    ), rk AS (
      SELECT u, i, row_number() OVER (
        PARTITION BY i
        ORDER BY md5(CAST(i AS VARCHAR) || '#' || CAST(u AS VARCHAR)), u
      ) AS r FROM b
    ), wts AS (
      SELECT rk.u, rk.i,
             CASE WHEN cnt.a <= {_UU_SAMPLE_CAP}
                  THEN {_UU_DENOM}
                  ELSE cnt.a * (cnt.a - 1) END AS w
      FROM rk JOIN cnt USING (i) WHERE rk.r <= {_UU_SAMPLE_CAP}
    ), p AS (
      SELECT x.u AS user_a, y.u AS user_b, SUM(x.w) AS est_scaled
      FROM wts x JOIN wts y ON x.i = y.i AND x.u < y.u
      GROUP BY 1, 2
      HAVING SUM(x.w) >= 3 * {_UU_DENOM}
    ), n AS (
      SELECT u, count(*) AS n_items FROM b GROUP BY u
    ), sym AS (
      SELECT user_a, user_b, est_scaled FROM p
      UNION ALL
      SELECT user_b, user_a, est_scaled FROM p
    ), scored AS (
      SELECT s.user_a, s.user_b,
             CAST(s.est_scaled AS DOUBLE) / {_UU_DENOM} AS est_cooc,
             (CAST(s.est_scaled AS DOUBLE) / {_UU_DENOM})
               / sqrt(CAST(na.n_items * nb.n_items AS DOUBLE)) AS cos_sim
      FROM sym s
      JOIN n na ON s.user_a = na.u
      JOIN n nb ON s.user_b = nb.u
    )
    SELECT user_a, user_b, est_cooc, cos_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY user_a ORDER BY cos_sim DESC, user_b) <= 3
    """,
)
def rec_user_user_sampled(spark, sf_dir):
    """User-user CF, DIMSUM-flavored sampled estimator — the SCALE PATH
    twin of the exact `rec_user_user` (Zadeh & Carlsson 2013's insight,
    deterministic variant): the exact op's pair expansion pays
    Σ audience² — inherently quadratic in item popularity — while this op
    pairs at most CAP=64 md5-ordered audience members per item and
    re-weights each observed co-occurrence by the inverse inclusion
    probability of an unordered pair, a(a-1)/(CAP·(CAP-1)).  Per-item
    pair work is bounded by C(64,2) REGARDLESS of audience, so total work
    is O(items · CAP²); no hyper-item guard is needed — popularity is
    absorbed, not dropped.

    The estimator is EXACT below the cap (weight 1: every pair is seen),
    unbiased above it, and conserves total pair mass exactly:
    Σ_pairs est = Σ_i C(a_i, 2) as an identity — C(s,2)·a(a-1)/(s(s-1))
    = C(a,2) — pinned in tests/test_ml_quality.py on an injected
    hyper-item corpus.  Determinism and a full DuckDB value-hash oracle
    come from keeping everything integer: with CAP fixed, all weights
    scale by the constant denominator CAP·(CAP-1)=4032, so `est_scaled`
    is an exact long sum (no float accumulation order); the two final
    divisions are identical per-row double ops in both engines.  The
    md5-rank sample is the reproducible-fold primitive, and the
    rank<=CAP filter sits directly on row_number so WindowGroupLimit
    keeps per-task heaps of 64 — a hyper item's audience never sorts in
    one task."""
    b = _baskets_artifact(spark, sf_dir)
    cnt = b.groupBy("i").agg(F.count("*").alias("a"))
    wi = W.partitionBy("i").orderBy(
        F.md5(
            F.concat_ws(
                "#", F.col("i").cast("string"), F.col("u").cast("string")
            )
        ),
        "u",
    )
    samp = (
        b.withColumn("r", F.row_number().over(wi))
        .filter(F.col("r") <= _UU_SAMPLE_CAP)
        .drop("r")
        .join(cnt, "i")
    )
    wts = samp.select(
        "i",
        "u",
        F.when(F.col("a") <= _UU_SAMPLE_CAP, F.lit(_UU_DENOM))
        .otherwise(F.col("a") * (F.col("a") - 1))
        .cast("long")
        .alias("w"),
    )
    x = wts.select(
        F.col("i"), F.col("u").alias("user_a"), F.col("w")
    )
    y = wts.select(F.col("i").alias("i2"), F.col("u").alias("user_b"))
    p = (
        x.join(
            y,
            (F.col("i") == F.col("i2"))
            & (F.col("user_a") < F.col("user_b")),
        )
        .groupBy("user_a", "user_b")
        .agg(F.sum("w").alias("est_scaled"))
        .filter(F.col("est_scaled") >= 3 * _UU_DENOM)
    )
    sym = p.unionAll(
        p.select(
            F.col("user_b").alias("user_a"),
            F.col("user_a").alias("user_b"),
            "est_scaled",
        )
    )
    n = b.groupBy("u").agg(F.count("*").alias("n_items"))
    na = n.select(F.col("u").alias("user_a"), F.col("n_items").alias("na"))
    nb = n.select(F.col("u").alias("user_b"), F.col("n_items").alias("nb"))
    scored = (
        sym.join(na, "user_a")
        .join(nb, "user_b")
        .select(
            "user_a",
            "user_b",
            (F.col("est_scaled").cast("double") / F.lit(_UU_DENOM)).alias(
                "est_cooc"
            ),
            (
                (F.col("est_scaled").cast("double") / F.lit(_UU_DENOM))
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("user_a").orderBy(F.col("cos_sim").desc(), "user_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_a", "user_b", "est_cooc", "cos_sim")
    )


@register(
    "rec_item_item_sampled",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), cnt AS (
      SELECT u, count(*) AS a FROM b GROUP BY u
    ), rk AS (
      SELECT u, i, row_number() OVER (
        PARTITION BY u
        ORDER BY md5(CAST(u AS VARCHAR) || '#' || CAST(i AS VARCHAR)), i
      ) AS r FROM b
    ), wts AS (
      SELECT rk.u, rk.i,
             CASE WHEN cnt.a <= {_II_SAMPLE_CAP}
                  THEN {_II_DENOM}
                  ELSE cnt.a * (cnt.a - 1) END AS w
      FROM rk JOIN cnt USING (u) WHERE rk.r <= {_II_SAMPLE_CAP}
    ), p AS (
      SELECT x.i AS item_a, y.i AS item_b, SUM(x.w) AS est_scaled
      FROM wts x JOIN wts y ON x.u = y.u AND x.i < y.i
      GROUP BY 1, 2
      HAVING SUM(x.w) >= 3 * {_II_DENOM}
    ), n AS (
      SELECT i, count(*) AS n_users FROM b GROUP BY i
    ), sym AS (
      SELECT item_a, item_b, est_scaled FROM p
      UNION ALL
      SELECT item_b, item_a, est_scaled FROM p
    ), scored AS (
      SELECT s.item_a, s.item_b,
             CAST(s.est_scaled AS DOUBLE) / {_II_DENOM} AS est_cooc,
             (CAST(s.est_scaled AS DOUBLE) / {_II_DENOM})
               / sqrt(CAST(na.n_users * nb.n_users AS DOUBLE)) AS cos_sim
      FROM sym s
      JOIN n na ON s.item_a = na.i
      JOIN n nb ON s.item_b = nb.i
    )
    SELECT item_a, item_b, est_cooc, cos_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY item_a ORDER BY cos_sim DESC, item_b) <= 5
    """,
)
def rec_item_item_sampled(spark, sf_dir):
    """Item-item CF, sampled estimator — the scale twin of
    `rec_item_item`, mirroring `rec_user_user_sampled` with the skew axis
    flipped: the exact op's self-join keys on USER, so hyper-ACTIVE users
    (basket size a) contribute C(a, 2) pairs and the MAX_BASKET guard
    DROPS them.  Here each user's basket keeps at most 64 md5-rank
    sampled items, every observed pair is re-weighted by the integer-
    scaled inverse inclusion probability (w = 4032 below the cap — every
    pair seen — else a(a-1)), and hyper-active users are absorbed at
    C(64,2) pair rows instead of dropped.  Same exactness contract as the
    user-user twin: integer est_scaled sums (order-independent,
    hash-stable, full DuckDB oracle), bitwise equality to the UNGUARDED
    exact expansion below the cap, exact pair-mass conservation above it
    (shared gate in tests/test_ml_quality.py).  NOTE the semantic win
    over the exact op at scale: rec_item_item's guard silently excludes
    over-cap users' evidence; this estimator keeps an unbiased slice of
    it."""
    b = _baskets_artifact(spark, sf_dir)
    cnt = b.groupBy("u").agg(F.count("*").alias("a"))
    wi = W.partitionBy("u").orderBy(
        F.md5(
            F.concat_ws(
                "#", F.col("u").cast("string"), F.col("i").cast("string")
            )
        ),
        "i",
    )
    samp = (
        b.withColumn("r", F.row_number().over(wi))
        .filter(F.col("r") <= _II_SAMPLE_CAP)
        .drop("r")
        .join(cnt, "u")
    )
    wts = samp.select(
        "u",
        "i",
        F.when(F.col("a") <= _II_SAMPLE_CAP, F.lit(_II_DENOM))
        .otherwise(F.col("a") * (F.col("a") - 1))
        .cast("long")
        .alias("w"),
    )
    x = wts.select(F.col("u"), F.col("i").alias("item_a"), F.col("w"))
    y = wts.select(F.col("u").alias("u2"), F.col("i").alias("item_b"))
    p = (
        x.join(
            y,
            (F.col("u") == F.col("u2"))
            & (F.col("item_a") < F.col("item_b")),
        )
        .groupBy("item_a", "item_b")
        .agg(F.sum("w").alias("est_scaled"))
        .filter(F.col("est_scaled") >= 3 * _II_DENOM)
    )
    sym = p.unionAll(
        p.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "est_scaled",
        )
    )
    n = b.groupBy("i").agg(F.count("*").alias("n_users"))
    na = n.select(F.col("i").alias("item_a"), F.col("n_users").alias("na"))
    nb = n.select(F.col("i").alias("item_b"), F.col("n_users").alias("nb"))
    scored = (
        sym.join(na, "item_a")
        .join(nb, "item_b")
        .select(
            "item_a",
            "item_b",
            (F.col("est_scaled").cast("double") / F.lit(_II_DENOM)).alias(
                "est_cooc"
            ),
            (
                (F.col("est_scaled").cast("double") / F.lit(_II_DENOM))
                / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("item_a").orderBy(F.col("cos_sim").desc(), "item_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("item_a", "item_b", "est_cooc", "cos_sim")
    )


@register(
    "graph_bfs_distances",
    oracle="""
    WITH RECURSIVE b AS (
      SELECT DISTINCT o_custkey AS u, l_partkey AS i
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS (
      SELECT a.i AS src, b2.i AS dst
      FROM b a JOIN b b2 ON a.u = b2.u AND a.i < b2.i
      GROUP BY 1, 2 HAVING count(*) >= 3
    ), adj AS (
      SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
    ), deg AS (
      SELECT src AS node, count(*) AS d FROM adj GROUP BY src
    ), seed AS (
      SELECT node FROM deg ORDER BY d DESC, node LIMIT 1
    ), bfs AS (
      SELECT node, 0 AS dist FROM seed
      UNION
      SELECT a.dst AS node, f.dist + 1 AS dist
      FROM bfs f JOIN adj a ON a.src = f.node
      WHERE f.dist < 4
    )
    SELECT node, min(dist) AS dist FROM bfs GROUP BY node
    """,
)
def graph_bfs_distances(spark, sf_dir):
    """Breadth-first hop distances (<= 4) from a deterministic seed — the
    highest-degree node of the cooc>=3 co-purchase graph (ties to the
    smallest id) — the reachability/radius primitive under "related
    items within k hops" and influence-sphere features.

    A fully ORACLE-BACKED iterative graph op: hop counts are integers and
    min() is order-free, so unlike pagerank's float mass this traversal
    hash-matches a DuckDB recursive CTE exactly.  Spark side runs the
    textbook frontier loop — 4 bounded rounds of frontier⨝adjacency then
    groupBy(node).min(dist), with localCheckpoint per round cutting the
    lineage (the pagerank/dedup_cluster recipe).  Each round shuffles
    O(frontier-edges) rows and state is O(nodes); at 100 TB this is
    Pregel-without-Pregel, and the bounded depth caps the rounds
    regardless of graph size.  Edge set reads from the shared disk-memoized
    artifact."""
    und = _copurchase_edges_artifact(spark, sf_dir).select("p", "q")
    # hash-partition the adjacency by the expansion key ONCE, inside the
    # checkpoint: every BFS round's frontier join then reuses this layout
    # (checkpoint preserves output partitioning) instead of re-shuffling
    # the full edge set per hop when the frontier outgrows a broadcast
    # (guide §2.4 — persist a partitioning that repeated joins reuse)
    adj = und.select(F.col("p").alias("src"), F.col("q").alias("dst")).unionAll(
        und.select(F.col("q").alias("src"), F.col("p").alias("dst"))
    ).repartition(F.col("src")).localCheckpoint()
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    seed = (
        deg.orderBy(F.col("d").desc(), "node")
        .limit(1)
        .select("node", F.lit(0).alias("dist"))
    )
    return bfs_distances(adj, seed, max_hops=4)


def bfs_distances(adj, seed, max_hops: int):
    """The bounded-frontier BFS kernel (see graph_bfs_distances): given a
    directed adjacency (src, dst) and seed rows (node, 0), returns
    (node, dist) with the minimum hop distance <= max_hops.  Seeds are at
    dist 0 (level-synchronous BFS: the frontier after round t is exactly
    the dist==t layer).  Module-level so tests can drive it with planted
    graphs of known distances (tests/test_properties.py)."""
    # LAYERED frontier BFS (r15): the settled set is kept as per-hop
    # LAYERS instead of one folded table.  The r14 union+min fold
    # re-shuffled the ENTIRE settled set (O(reachable nodes)) through the
    # groupBy exchange every round even though settled rows can never
    # change; and the expand join re-shuffled the full adjacency every
    # round whenever the frontier outgrew a broadcast.  Now:
    #   - the caller pre-partitions adj by src ONCE (graph_bfs_distances
    #     repartitions before its checkpoint), so each round's expand
    #     join leaves adj in place and moves only the frontier;
    #   - this round's discoveries dedup through ONE exchange
    #     (distinct on the expansion rows only);
    #   - already-settled nodes drop via left_anti joins against the
    #     previous layers — layers and the distinct output are all
    #     hash-partitioned on `node` at session width, so these anti
    #     joins are co-partitioned (zero exchange; at fixture scale AQE
    #     broadcasts the small layers instead, same zero-fact-shuffle
    #     effect).
    # Net per round: ONE exchange carrying only newly-expanded rows —
    # the level-synchronous minimum.  Bit-identity with the fold: in
    # level-synchronous BFS a node's min distance IS its first discovery
    # round, every expansion this round carries dist = hop exactly, and
    # the layers are disjoint by construction, so the union of layers
    # equals the folded min table row-for-row (planted path/star/island
    # tests pin it; the operator's DuckDB oracle hash-matches).
    # A round with no new discoveries ends the loop: every later frontier
    # is empty too, so the early exit is exact and skips the remaining
    # fixed per-round costs.
    layers = [seed.localCheckpoint()]
    frontier = layers[0]
    for hop in range(1, max_hops + 1):
        expand = frontier.join(adj, frontier["node"] == adj["src"]).select(
            F.col("dst").alias("node"), F.lit(hop).alias("dist")
        )
        fresh = expand.distinct()
        for prev in layers:
            fresh = fresh.join(prev, "node", "left_anti")
        frontier = fresh.localCheckpoint()
        if frontier.isEmpty():
            break
        layers.append(frontier)
    out = layers[0]
    for layer in layers[1:]:
        out = out.unionByName(layer)
    return out


@register(
    "rec_eval_hitrate",
    oracle="""
    WITH s AS (
      SELECT o_custkey AS u, l_partkey AS item,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC,
                        l_linenumber DESC, l_partkey DESC) AS rd,
             lead(l_partkey) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey, l_linenumber, l_partkey
             ) AS next_item
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), train AS (
      SELECT item, next_item, count(*) AS n
      FROM s WHERE next_item IS NOT NULL AND rd >= 3
      GROUP BY 1, 2
    ), top3 AS (
      SELECT item, next_item FROM (
        SELECT item, next_item,
               row_number() OVER (
                 PARTITION BY item ORDER BY n DESC, next_item) AS rnk
        FROM train) t WHERE rnk <= 3
    ), test AS (
      SELECT p.u, p.item AS prev_item, l.item AS actual
      FROM (SELECT u, item FROM s WHERE rd = 2) p
      JOIN (SELECT u, item FROM s WHERE rd = 1) l USING (u)
    )
    SELECT count(*) AS n_eval_users,
           CAST(count(*) FILTER (t3.next_item IS NOT NULL) AS BIGINT)
             AS n_hits,
           CAST(count(*) FILTER (t3.next_item IS NOT NULL) AS DOUBLE)
             / count(*) AS hitrate3
    FROM test LEFT JOIN top3 t3
      ON test.prev_item = t3.item AND test.actual = t3.next_item
    """,
)
def rec_eval_hitrate(spark, sf_dir):
    """Leave-last-out evaluation of the sequential recommender
    (rec_sequential_markov's exact transition semantics): every customer's
    FINAL purchase is held out, the transition model trains on everything
    before it (each user's last transition excluded — so no test edge ever
    reaches the counts), and hit-rate@3 asks how often the held-out item
    appears in the trained top-3 successors of the preceding item.

    Unlike rec_eval_recall (ALS, rows-only), this eval is fully
    ORACLE-BACKED: splits come from rank positions in the same total
    order both engines share, counts are integers, and the single output
    row divides once.  Two user-keyed windows share one shuffle; the
    transition aggregate and top-3 prune mirror the production query, so
    the eval measures exactly the model that serves.  100 TB: eval cost
    equals one extra pass over the purchase stream — the train/test split
    is a rank predicate, never a data copy (same staging argument as
    rec_eval_recall's train-fold rewrite, recommender.py:654)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    seq = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("item"),
        "o_orderdate",
        "o_orderkey",
        "l_linenumber",
    )
    asc = W.partitionBy("u").orderBy(
        "o_orderdate", "o_orderkey", "l_linenumber", "item"
    )
    desc = W.partitionBy("u").orderBy(
        F.col("o_orderdate").desc(),
        F.col("o_orderkey").desc(),
        F.col("l_linenumber").desc(),
        F.col("item").desc(),
    )
    # one join+window pass shared by train/prev/last: the three consumers'
    # different WindowGroupLimit pushdowns make their subtrees
    # non-identical, so ReuseExchange never fires and the fact join +
    # window ran THREE times (r14 plan audit); localCheckpoint
    # materializes the ranked stream once (graph_bfs recipe) — values are
    # deterministic, oracle hash unchanged
    s = seq.select(
        "u",
        "item",
        F.row_number().over(desc).alias("rd"),
        F.lead("item").over(asc).alias("next_item"),
    ).localCheckpoint()
    train = (
        s.filter(F.col("next_item").isNotNull() & (F.col("rd") >= 3))
        .groupBy("item", "next_item")
        .agg(F.count("*").alias("n"))
    )
    rnk = W.partitionBy("item").orderBy(F.col("n").desc(), "next_item")
    top3 = (
        train.withColumn("rnk", F.row_number().over(rnk))
        .filter(F.col("rnk") <= 3)
        .select(F.col("item").alias("prev_item"), F.col("next_item").alias("pred"))
    )
    prev = s.filter(F.col("rd") == 2).select("u", F.col("item").alias("prev_item"))
    last = s.filter(F.col("rd") == 1).select("u", F.col("item").alias("actual"))
    test = prev.join(last, "u")
    scored = test.join(
        top3,
        (test["prev_item"] == top3["prev_item"]) & (test["actual"] == top3["pred"]),
        "left",
    )
    return scored.agg(
        F.count("*").alias("n_eval_users"),
        F.count("pred").alias("n_hits"),
        (F.count("pred").cast("double") / F.count("*")).alias("hitrate3"),
    )


@register(
    "rec_eval_replay",
    oracle="""
    WITH t AS (
      SELECT user_id, event_type AS prev_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS next_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    ), tr AS (
      SELECT * FROM t WHERE next_type IS NOT NULL
    ), train AS (
      SELECT prev_type, next_type, count(*) AS c
      FROM tr WHERE rn > 2 GROUP BY prev_type, next_type
    ), model AS (
      SELECT prev_type, next_type,
             CAST(row_number() OVER (
               PARTITION BY prev_type ORDER BY c DESC, next_type
             ) AS INT) AS rnk
      FROM train
    ), test AS (
      SELECT prev_type, next_type FROM tr WHERE rn = 2
    )
    SELECT te.prev_type,
           CAST(COALESCE(m.rnk, 0) AS INT) AS rnk,
           count(*) AS n,
           CASE WHEN COALESCE(m.rnk, 0) = 0 THEN 0.0
                ELSE CAST(count(*) AS DOUBLE) / m.rnk END AS mrr_contrib
    FROM test te LEFT JOIN model m
      ON te.prev_type = m.prev_type AND te.next_type = m.next_type
    GROUP BY te.prev_type, COALESCE(m.rnk, 0), m.rnk
    """,
)
def rec_eval_replay(spark, sf_dir):
    """Session-replay next-event eval: every user's event stream is
    replayed leave-last-out — the final transition is held out, a Markov
    next-type model is trained on all remaining transitions, and each
    held-out true next-type is scored by the RANK the model gave it.
    Output is the per-prev-type rank histogram plus each cell's
    reciprocal-rank mass (n/rank) — summing mrr_contrib over a prev_type
    and dividing by its n gives the MRR, but the emitted cells stay
    integer-exact plus ONE IEEE division, so the eval is fully
    oracle-backed (generalizes rec_eval_hitrate's hit@3 to
    position-weighted ranks; rank 0 = the truth was unseen in training).

    100 TB: one user-keyed shuffle builds transitions (rank-predicate
    split, no data copy — train and test are WHERE clauses over the same
    window pass); the model collapses to |types|^2 rows and broadcasts
    back onto the |users|-sized test set."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    wf = W.partitionBy("user_id").orderBy(us, "event_id")
    wb = W.partitionBy("user_id").orderBy(us.desc(), F.col("event_id").desc())
    t = ev.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(wf).alias("next_type"),
        F.row_number().over(wb).alias("rn"),
    ).filter(F.col("next_type").isNotNull())
    train = (
        t.filter(F.col("rn") > 2)
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("c"))
    )
    model = train.select(
        "prev_type",
        "next_type",
        F.row_number()
        .over(W.partitionBy("prev_type").orderBy(F.col("c").desc(), "next_type"))
        .cast("int")
        .alias("rnk"),
    )
    test = t.filter(F.col("rn") == 2).select("prev_type", "next_type")
    return (
        test.join(F.broadcast(model), ["prev_type", "next_type"], "left")
        .groupBy(
            "prev_type", F.coalesce(F.col("rnk"), F.lit(0)).alias("rnk")
        )
        .agg(F.count("*").alias("n"))
        .select(
            "prev_type",
            "rnk",
            "n",
            F.when(F.col("rnk") == 0, F.lit(0.0))
            .otherwise(F.col("n").cast("double") / F.col("rnk"))
            .alias("mrr_contrib"),
        )
    )


def kcore_peel(edges, k: int, rounds: int):
    """k-core peeling over a symmetric edge list (src, dst) to the TRUE
    fixpoint: distributed synchronous rounds strip the mass periphery
    (each round = one degree aggregate + two semi joins, checkpointed
    eagerly per the iterative-fixpoint contract, early-exiting on an
    unchanged edge count), and once the surviving edge set fits a single
    task (``io.LOCAL_ENDGAME_EDGES``) the remaining cascade finishes
    EXACTLY inside one mapInPandas partition — no driver collect, no
    round budget.

    The two-phase shape is the honest answer to deep peel cascades: a
    chain of length L needs L synchronous rounds (measured: the sf0.1
    co-purchase graph's cascade depth is 23 — a pure round-budget loop
    either pays 23 checkpointed shuffles or returns a non-converged
    SUPERSET of the core).  Peeling is monotone, so after the first
    round or two the frontier has collapsed by orders of magnitude; at
    that size the exact single-task fixpoint costs one narrow job.  At
    100 TB the distributed rounds bound per-round work by the shrinking
    edge set, and a residual above the endgame bound keeps taking
    distributed rounds (``rounds`` caps them; callers size it to the
    measured depth of the periphery, not the full cascade).  Pure
    kernel — planted-graph tests (tests/test_ml_quality.py) exercise
    both phases by patching ``io.LOCAL_ENDGAME_EDGES``."""
    import pandas as pd

    from ..io import LOCAL_ENDGAME_EDGES

    def _local_fixpoint(iterator):
        # exact cascade on the residual in one task, fully vectorized:
        # at the 5M-edge threshold the working set is two int64 index
        # arrays (~80 MB) and each peel round is one bincount + one
        # boolean mask — O(E) numpy passes, no per-round Python-object
        # churn (a 5M-tuple set would be ~1 GB rebuilt every round)
        import numpy as np

        frames = [f for f in iterator]
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True)
        pairs = np.stack(
            [
                df["src"].to_numpy(dtype="int64"),
                df["dst"].to_numpy(dtype="int64"),
            ],
            axis=1,
        )
        # dedupe + (src, dst) sort in one pass; masking below preserves
        # the order, so the final frame is emitted sorted for free
        pairs = np.unique(pairs, axis=0)
        nodes, inv = np.unique(pairs, return_inverse=True)
        inv = inv.reshape(pairs.shape)
        s, d = inv[:, 0], inv[:, 1]
        while True:
            deg = np.bincount(s, minlength=len(nodes))
            mask = (deg[s] >= k) & (deg[d] >= k)
            if mask.all():
                break
            s, d = s[mask], d[mask]
            if len(s) == 0:
                break
        yield pd.DataFrame({"src": nodes[s], "dst": nodes[d]})

    cur = edges
    prev_n = None
    for _ in range(rounds):
        n = cur.count()
        if n == prev_n:
            return cur  # synchronous fixpoint reached
        prev_n = n
        if n <= LOCAL_ENDGAME_EDGES:
            return cur.coalesce(1).mapInPandas(
                _local_fixpoint, schema="src long, dst long"
            )
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        cur = (
            cur.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .localCheckpoint()
        )
    return cur


@register("graph_kcore")  # rows-only: iterative fixpoint; self-consistency
# + planted-graph gates in tests/test_ml_quality.py
def graph_kcore(spark, sf_dir):
    """2-core of the co-purchase graph (cooc≥2 edges): the maximal
    subgraph where every item keeps ≥2 qualifying neighbors — the
    classic "strip the tree periphery" pass (pendant items and dangling
    chains peel away; only cycle-supported structure survives) that
    fronts community/influence analysis.  k=2 is the scale-honest choice
    HERE: the synthetic co-purchase graph's degeneracy falls with corpus
    size (measured: the 3-core is non-empty at sf0.001/sf0.01 and empty
    at sf0.1), so the 2-core is the densest non-degenerate core at every
    fixture scale — the kernel takes k as a parameter and the planted
    tests exercise k=3 cores and peel cascades.  Synchronous peeling:
    drop degree<k nodes, re-check survivors — removals cascade (a node
    can fall under k only because its neighbor peeled), which is exactly
    what the bounded-round loop replays.

    100 TB: each distributed round shuffles the CURRENT edge set once
    for the degree aggregate plus two key-partitioned semi joins, and
    the edge set only shrinks; once the residual fits one task the deep
    tail of the cascade (measured depth 23 at sf0.1 — chains peel one
    link per synchronous round) finishes exactly in a single
    mapInPandas partition (see kcore_peel).  No driver-side graph
    state; the loop moves only DataFrame lineage."""
    und = (
        _copurchase_edges_artifact(spark, sf_dir)
        .filter(F.col("cooc") >= 2)
        .select("p", "q")
    )
    sym = und.select(
        F.col("p").alias("src"), F.col("q").alias("dst")
    ).unionAll(
        und.select(F.col("q").alias("src"), F.col("p").alias("dst"))
    )
    core = kcore_peel(sym, k=2, rounds=6)
    return (
        core.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("core_degree"))
        # at a true fixpoint (the early-exit's guarantee) this filter is
        # a no-op; if the round budget ever exhausts mid-cascade it stops
        # sub-core nodes (degree < k) leaking into the reported core
        .filter(F.col("core_degree") >= 2)
        .orderBy("node")
    )
