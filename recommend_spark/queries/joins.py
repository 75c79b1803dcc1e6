"""§2.3 Joins.

Reference parity: the reference's only join is the RDD inner equi-join of
predictions with titles and rating-counts (upstream:engine.py §
__predict_ratings, ~10 LoC); its "movies this user has NOT rated" step is
exactly an anti-join (§ get_top_ratings).  Everything else is harness /
100 TB-mandate surface.

Scale design:
- Equi-joins are declared; Catalyst+AQE pick broadcast vs sort-merge and
  demote/skew-split at runtime.  Dimension chains (nation, region) carry
  explicit broadcast() hints — at 100 TB a dim broadcast avoids shuffling
  the fact table entirely.
- Non-equi joins (range/as-of/interval) NEVER rely on Spark's
  BroadcastNestedLoop/cartesian fallback: they are rewritten as *bucketed
  equi-joins* (coarse bucket key + neighbor explode + exact residual filter)
  or as a union-merge window pass — both shapes shuffle O(n) rows on a key
  and survive a 1000-executor cluster.  OSS Spark has no range-join
  optimizer; this is the query-shape fix (SURVEY.md §4.2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from ..canon import r4
from ..io import (
    hint_if,
    load_table,
    sf_key,
    spread_width,
    stage,
    stats_memo,
    table_file_bytes,
    table_fingerprint,
    table_rows,
)
from ..registry import register


@register(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner(spark, sf_dir):
    """Hash equi-join orders⋈customer (Catalyst picks broadcast vs SMJ)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "join_multi_key",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, c.c_custkey, c.c_mktsegment
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_multi_key(spark, sf_dir):
    """Chained fact→dim joins (mirrors the reference's double-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("l_orderkey", "l_linenumber", "c_custkey", "c_mktsegment")
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name, r.r_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark, sf_dir):
    """Explicit broadcast of the dim chain — at 100 TB the fact side never
    shuffles; each executor map-side joins against the replicated dims."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_left(spark, sf_dir):
    """Left outer join: customers with no orders null-extend."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "join_right",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey
    FROM lineitem l RIGHT JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def join_right(spark, sf_dir):
    """Right outer join: parts with no lineitems null-extend."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return li.join(p, li.l_partkey == p.p_partkey, "right").select(
        "l_orderkey", "l_linenumber", "p_partkey"
    )


@register(
    "join_full",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c FULL JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_full(spark, sf_dir):
    """Full outer join with null extension on both sides."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark, sf_dir):
    """Left-semi join: customers having at least one order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    )
    """,
)
def join_anti(spark, sf_dir):
    """Left-anti join — the reference's "movies this user has NOT rated"
    relational skeleton (upstream:engine.py § get_top_ratings).

    The right side is restricted to one year of orders so survivors exist
    at every fixture scale (326 of 1,500 customers at sf0.01; the
    unrestricted form is vacuously empty because every fixture customer
    has >=1 order).  The date filter pushes to the orders parquet scan,
    shrinking the build side before the anti-join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
)
def join_cross(spark, sf_dir):
    """Bounded cartesian product (dims only — never on facts)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_range",
    oracle="""
    SELECT s.s_suppkey, count(*) AS n_close
    FROM supplier s JOIN customer c ON abs(s.s_acctbal - c.c_acctbal) < 10.0
    GROUP BY s.s_suppkey
    """,
)
def join_range(spark, sf_dir):
    """Band (theta) join: customers whose balance is within ±10 of each
    supplier's, as a *bucketed equi-join*.

    Shape: bucket = floor(bal/width) with width == band radius; the supplier
    side explodes to {b-1, b, b+1}; equi-join on bucket; exact residual
    filter.  Each true pair matches exactly one (expanded, actual) bucket
    pair, so no dedup is needed.  This shuffles O(n) rows 3x instead of the
    O(n·m) BroadcastNestedLoop Spark would otherwise plan."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    width = 10.0
    s_b = s.select(
        "s_suppkey",
        "s_acctbal",
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / width) - 1,
                F.floor(F.col("s_acctbal") / width),
                F.floor(F.col("s_acctbal") / width) + 1,
            )
        ).alias("bucket"),
    )
    c_b = c.select(
        "c_acctbal", F.floor(F.col("c_acctbal") / width).alias("bucket")
    )
    pairs = s_b.join(c_b, "bucket").filter(
        F.abs(F.col("s_acctbal") - F.col("c_acctbal")) < width
    )
    return pairs.groupBy("s_suppkey").agg(F.count("*").alias("n_close"))


@register(
    "join_asof",
    oracle="""
    SELECT e.event_id, p.value AS last_purchase_value
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id AND p.ts <= e.ts
    """,
)
def join_asof(spark, sf_dir):
    """As-of join: for each event, the same user's most recent purchase value
    at-or-before it, via the union-merge window pass (no range join needed).

    Shape: tag right rows (purchases) and left rows (all events), union,
    then one window per user ordered by (time, right-before-left) taking
    ``last(value ignore nulls)`` — a single shuffle on the join key, which is
    the optimal distribution at any scale.  Right rows sort before left rows
    at equal timestamps so ``p.ts <= e.ts`` ties are included, matching
    DuckDB ASOF semantics; among same-microsecond purchases the latest
    event_id wins (fixtures have no such ties — verified)."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(0).alias("is_right"),
        "event_id",
        F.lit(None).cast("double").alias("pval"),
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("t_us"),
            F.lit(1).alias("is_right"),
            "event_id",
            F.col("value").alias("pval"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t_us", F.col("is_right").desc(), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = left.unionByName(right).withColumn(
        "last_purchase_value", F.last("pval", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_right") == 0).select(
        "event_id", r4("last_purchase_value", "last_purchase_value")
    )


@register(
    "join_interval",
    oracle="""
    SELECT o.o_orderkey, count(*) AS n_shipped
    FROM orders o
    JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderkey
    """,
)
def join_interval(spark, sf_dir):
    """Interval containment join: lineitems (any order) shipped within 7 days
    of an urgent order's date — bucketed by week exactly like join_range.

    Interval length (7d) == bucket width, so candidate buckets are {b, b+1}
    for the order side; each (order, lineitem) pair lands in exactly one
    equi-match."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    week = 7 * 86400
    o_day = F.floor(F.col("o_orderdate").cast("timestamp").cast("double")).cast("long")
    l_day = F.floor(F.col("l_shipdate").cast("timestamp").cast("double")).cast("long")
    o_b = o.select(
        "o_orderkey",
        o_day.alias("o_sec"),
        F.explode(
            F.array(F.floor(o_day / week), F.floor(o_day / week) + 1)
        ).alias("bucket"),
    )
    # Pre-aggregate the big side to (day, count) BEFORE the non-equi join:
    # the join input shrinks from |lineitem| rows to #distinct ship-days
    # (a few thousand regardless of SF), and the day table broadcasts.
    l_days = (
        li.select(l_day.alias("l_sec"))
        .groupBy("l_sec")
        .agg(F.count("*").alias("day_cnt"))
        .withColumn("bucket", F.floor(F.col("l_sec") / week))
    )
    pairs = o_b.join(F.broadcast(l_days), "bucket").filter(
        (F.col("l_sec") >= F.col("o_sec"))
        & (F.col("l_sec") < F.col("o_sec") + week)
    )
    return pairs.groupBy("o_orderkey").agg(
        F.sum("day_cnt").alias("n_shipped")
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_skew_salted(spark, sf_dir):
    """Skew-resistant join: manual salting, the recipe for hot keys that
    AQE's skew splitting can't reach (e.g. a single tenant holding 30% of
    rows in a shuffle join).

    The big (fact) side salts each row into one of 8 subkeys using a value
    NOT correlated with the join key; the small (dim) side is exploded 8x
    so every (key, salt) bucket finds its match.  Each hot key's rows now
    spread over 8 reducers instead of one.  Result is provably identical
    to the plain join — which is exactly what the oracle checks."""
    n_salt = 8
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.col("o_orderkey"), F.lit(n_salt))
    )
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    j = o.join(
        c,
        (o.o_custkey == c.c_custkey) & (o.salt == c.salt),
        "inner",
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark, sf_dir):
    """Co-located (bucketed) fact-fact join — the 100 TB layout that makes
    the orders⋈lineitem shuffle disappear: both sides are written
    bucketed+sorted on the join key (8 buckets here; thousands at scale),
    so the sort-merge join reads matching buckets directly with NO
    Exchange on either side (plan-asserted in tests/test_plans.py).
    Tables are path-pinned under .artifacts/ (external tables in the
    session catalog); the bucketed write itself is the one-time layout
    cost that every subsequent join amortizes — so it is cached per
    sf_dir (fixtures are immutable): the first run pays the layout,
    repeat runs measure what production measures, the shuffle-free join
    itself."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    sides = ((o, "orders", "o_orderkey"), (li, "lineitem", "l_orderkey"))

    def build(root):
        # only saveAsTable writes bucketed files; dropping the external
        # table afterwards keeps them
        for df, name, key in sides:
            spark.sql(f"DROP TABLE IF EXISTS rs_bucketed_{name}")
            df.write.bucketBy(8, key).sortBy(key).option(
                "path", str(root / name)
            ).saveAsTable(f"rs_bucketed_{name}")
            spark.sql(f"DROP TABLE rs_bucketed_{name}")

    root = stage(f"bucketed_{sf_key(sf_dir)}", build)
    for df, name, key in sides:
        # register the external table WITH its bucket spec (bucketing
        # lives in catalog metadata, not the files — a plain createTable
        # would silently reintroduce the shuffle this operator exists to
        # eliminate); re-created per call so it points at this corpus
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(f"DROP TABLE IF EXISTS rs_bucketed_{name}")
        spark.sql(
            f"CREATE TABLE rs_bucketed_{name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
            f"LOCATION '{root / name}'"
        )
    ob = spark.table("rs_bucketed_orders")
    lb = spark.table("rs_bucketed_lineitem")
    j = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "join_partition_pruned",
    oracle="""
    WITH dim AS (
      SELECT * FROM (VALUES
        ('1-URGENT', 'high'), ('2-HIGH', 'high'), ('3-MEDIUM', 'mid'),
        ('4-NOT SPECIFIED', 'low'), ('5-LOW', 'low')
      ) AS t(priority, tier)
    )
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority, d.tier
    FROM orders o JOIN dim d ON o.o_orderpriority = d.priority
    WHERE d.tier = 'high'
    """,
)
def join_partition_pruned(spark, sf_dir):
    """Dynamic partition pruning: the fact table is hive-partitioned on the
    join key; the dim side's `tier = 'high'` filter is turned into a runtime
    subquery on the fact's PARTITION column, so non-qualifying partitions
    are never opened even though the qualifying set is only known at run
    time.  This is the star-schema scan-killer at 100 TB (static pruning
    can't help — the predicate is on the dim).  Plan-asserted in
    tests/test_plans.py (`dynamicpruning` in PartitionFilters)."""
    root = stage(
        f"orders_by_priority_{sf_key(sf_dir)}",
        lambda d: load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .parquet(str(d / "data")),
    )
    fact = spark.read.parquet(str(root / "data"))
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "high"), ("2-HIGH", "high"), ("3-MEDIUM", "mid"),
            ("4-NOT SPECIFIED", "low"), ("5-LOW", "low"),
        ],
        "priority string, tier string",
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("tier") == "high")),
            fact.o_orderpriority == F.col("priority"),
        )
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "tier")
    )


_BLOOM_M = 4096  # bits (64 longs); |keys| ~ m/13 at sf0.01 -> ~1% FP with k=3
_BLOOM_K = 3


@register(
    "join_bloom_filter",
    oracle=f"""
    WITH keys AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ), j AS (
      SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j
    ), setbits AS (
      SELECT CAST('0x' || substring(
               md5(CAST(k AS VARCHAR) || '#' || j), 1, 8) AS BIGINT)
             % {_BLOOM_M} AS bitpos
      FROM keys CROSS JOIN j
    ), slots AS (
      SELECT bitpos // 32 AS slot,
             bit_or(CAST(1 AS BIGINT) << CAST(bitpos % 32 AS INT)) AS bits
      FROM setbits GROUP BY bitpos // 32
    ), probe AS (
      SELECT o_orderkey, o_custkey,
             CAST('0x' || substring(
               md5(CAST(o_custkey AS VARCHAR) || '#' || j), 1, 8) AS BIGINT)
             % {_BLOOM_M} AS bitpos
      FROM orders CROSS JOIN j
    ), hit AS (
      SELECT p.o_orderkey, p.o_custkey
      FROM probe p JOIN slots s ON p.bitpos // 32 = s.slot
      WHERE (s.bits >> CAST(p.bitpos % 32 AS INT)) & 1 = 1
      GROUP BY p.o_orderkey, p.o_custkey
      HAVING count(*) = {_BLOOM_K}
    )
    SELECT h.o_orderkey, (kk.k IS NOT NULL) AS is_member
    FROM hit h LEFT JOIN (SELECT DISTINCT k FROM keys) kk ON h.o_custkey = kk.k
    """,
)
def join_bloom_filter(spark, sf_dir):
    """Bloom-filter pre-join: hash the build side's keys (BUILDING-segment
    customers) into a 4096-bit / k=3 bloom filter, then pass
    only the orders whose custkey clears every bit — the runtime-filter
    pattern Spark itself applies as InBloomFilter/DPP, built explicitly
    from engine-neutral md5 bits so the oracle reproduces it.

    The filter compresses an arbitrary build side into 128 BIGINT slots (32 bits
    each — shifts capped below 32 because DuckDB rejects 1<<63 on BIGINT) that
    broadcast to every task; at 100 TB this is what lets a selective dim
    predicate prune a fact scan WITHOUT shuffling the fact on the join key
    (the surviving ~1% then takes the real join).  The emitted is_member
    flag distinguishes true members from bloom false positives — the FP
    rate is the quality gate in tests."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    keys = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    jj = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("j"))

    def bitpos(key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            key_col.cast("string"),
                            F.lit("#"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    slots = (
        keys.crossJoin(F.broadcast(jj))
        .select(bitpos(F.col("k")).alias("bitpos"))
        .groupBy(F.expr("bitpos DIV 32").alias("slot"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, CAST(bitpos % 32 AS INT))")
            ).alias("bits")
        )
    )
    # The whole filter is 128 BIGINT slots — fold it into ONE map row and
    # broadcast that, so the fact side stays MAP-ONLY: each order computes
    # its k bit positions as columns (no k-way row expansion) and tests
    # them against the broadcast map (no per-hit aggregation shuffle).
    # Semantics are unchanged vs the probe-join formulation: each hash
    # function is tested independently, so same-bitpos collisions between
    # two j's count twice in both shapes.
    bloom = slots.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct("slot", "bits"))
        ).alias("bm")
    )

    def bit_set(key_col, j):
        bp = (
            F.conv(
                F.substring(
                    F.md5(F.concat(key_col.cast("string"), F.lit(f"#{j}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )
        # slot = bitpos DIV 32 and bit = bitpos % 32, in pure integer ops
        # (shiftright/AND) so the map key is exactly the slots build's LONG;
        # try_element_at because ANSI mode makes element_at THROW on a
        # missing map key
        word = F.try_element_at(F.col("bm"), F.shiftright(bp, 5))
        # a slot absent from the map has no bits set: NULL -> 0 keeps the
        # test a plain false, not a NULL filter
        return (
            F.call_function(
                "shiftright",
                F.coalesce(word, F.lit(0).cast("long")),
                (bp % 32).cast("int"),
            ).bitwiseAND(F.lit(1))
            == 1
        )

    from functools import reduce as _reduce

    all_bits = _reduce(
        lambda a, b: a & b,
        [bit_set(F.col("o_custkey"), j) for j in range(_BLOOM_K)],
    )
    hit = (
        o.select("o_orderkey", "o_custkey")
        .crossJoin(F.broadcast(bloom))
        .filter(all_bits)
        .select("o_orderkey", "o_custkey")
    )
    kk = keys.distinct().withColumnRenamed("k", "kk")
    return (
        hit.join(F.broadcast(kk), hit.o_custkey == F.col("kk"), "left")
        .select("o_orderkey", F.col("kk").isNotNull().alias("is_member"))
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT c_custkey, nullif(c_nationkey % 5, 0) AS grp FROM customer
    ), b AS (
      SELECT s_suppkey, nullif(s_nationkey % 5, 0) AS grp FROM supplier
    )
    SELECT a.c_custkey, b.s_suppkey, a.grp
    FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
    """,
)
def join_null_safe(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the three-valued-logic corner
    every SQL engine must get right.  Both sides derive a nullable group
    key (nullif), so the NULL bucket is exercised for real.  Catalyst
    plans <=> as a hash join on a null-safe key (NULL hashes to a bucket
    like any value) — no fallback to nested-loop.  With only 6 distinct
    key values a shuffle join would bottleneck on 6 reducers, so the small
    side broadcasts and the outer side repartitions (the er_name_match
    low-cardinality-key recipe; here wall-clock is bound by the ~3.7M-row
    output at sf0.1, not the join itself)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    a = c.select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("grp")
    ).repartition(spread_width(spark, 2))
    b = s.select(
        "s_suppkey", F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("grp_b")
    )
    return (
        a.join(hint_if(b, table_rows(sf_dir, "supplier") * 16), a.grp.eqNullSafe(b.grp_b))
        .select("c_custkey", "s_suppkey", "grp")
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH merged AS (
      SELECT user_id, epoch_us(ts) AS t_us, 0 AS is_right, event_id,
             CAST(NULL AS BIGINT) AS pt, CAST(NULL AS DOUBLE) AS pv
      FROM events
      UNION ALL
      SELECT user_id, epoch_us(ts) AS t_us, 1 AS is_right, event_id,
             epoch_us(ts) AS pt, value AS pv
      FROM events WHERE event_type = 'purchase'
    ), win AS (
      SELECT *,
        last(pt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t_us, is_right DESC, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_t,
        last(pv IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t_us, is_right DESC, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_v,
        first(pt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t_us, is_right DESC, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_t,
        first(pv IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t_us, is_right DESC, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_v
      FROM merged
    )
    SELECT event_id,
           CASE WHEN back_t IS NULL AND fwd_t IS NULL THEN NULL
                WHEN fwd_t IS NULL THEN back_v
                WHEN back_t IS NULL THEN fwd_v
                WHEN t_us - back_t <= fwd_t - t_us THEN back_v
                ELSE fwd_v END AS nearest_purchase_value
    FROM win WHERE is_right = 0
    """,
)
def join_asof_nearest(spark, sf_dir):
    """NEAREST-variant as-of join: each event matched to the same user's
    purchase with the smallest |Δt| in EITHER direction (ties prefer the
    past) — the kdb/QuestDB `asof nearest` mode that plain backward as-of
    (`join_asof`) can't express, used when enrichment data may arrive
    slightly after the fact row (sensor alignment, late ticks).

    Same union-merge recipe as `join_asof`, run symmetrically: ONE shuffle
    on the user key, then two frames over one sort — backward
    last(ignore nulls) and forward first(ignore nulls) — and a fixed CASE
    picks the closer timestamp.  No range join, no per-row subquery; the
    single-sort two-frame trick is what keeps this linear at any scale.
    All comparisons are exact integer microseconds, so the oracle hash is
    stable."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(0).alias("is_right"),
        "event_id",
        F.lit(None).cast("long").alias("pt"),
        F.lit(None).cast("double").alias("pv"),
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(1).alias("is_right"),
        "event_id",
        F.unix_micros(F.col("ts")).alias("pt"),
        F.col("value").alias("pv"),
    )
    order = [F.col("t_us"), F.col("is_right").desc(), F.col("event_id")]
    wb = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    win = (
        left.unionByName(right)
        .withColumn("back_t", F.last("pt", ignorenulls=True).over(wb))
        .withColumn("back_v", F.last("pv", ignorenulls=True).over(wb))
        .withColumn("fwd_t", F.first("pt", ignorenulls=True).over(wf))
        .withColumn("fwd_v", F.first("pv", ignorenulls=True).over(wf))
    )
    nearest = (
        F.when(F.col("back_t").isNull() & F.col("fwd_t").isNull(), F.lit(None))
        .when(F.col("fwd_t").isNull(), F.col("back_v"))
        .when(F.col("back_t").isNull(), F.col("fwd_v"))
        .when(
            F.col("t_us") - F.col("back_t") <= F.col("fwd_t") - F.col("t_us"),
            F.col("back_v"),
        )
        .otherwise(F.col("fwd_v"))
    )
    return win.filter(F.col("is_right") == 0).select(
        "event_id", nearest.cast("double").alias("nearest_purchase_value")
    )


@register(
    "join_asof_tolerance",
    oracle="""
    SELECT e.event_id,
           CASE WHEN p.ts IS NOT NULL AND e.ts - p.ts <= INTERVAL 7 DAY
                THEN p.value END AS recent_purchase_value
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id AND p.ts <= e.ts
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness tolerance: the most recent purchase
    at-or-before each event counts only if it is at most 7 days old —
    the pandas ``merge_asof(tolerance=...)`` / kdb ``wj`` bound that plain
    backward as-of can't express (a 2-year-old "latest purchase" is noise,
    not enrichment, in a feature pipeline).

    Same single-shuffle union-merge recipe as ``join_asof``, carrying the
    matched purchase TIME alongside its value through the window; the
    tolerance is then one map-side comparison on exact integer
    microseconds — no second pass, no range join, and the oracle's
    ASOF-plus-CASE expresses the identical semantics."""
    ev = load_table(spark, sf_dir, "events")
    tol_us = 7 * 24 * 3600 * 1000000
    left = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(0).alias("is_right"),
        "event_id",
        F.lit(None).cast("long").alias("pt"),
        F.lit(None).cast("double").alias("pval"),
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(1).alias("is_right"),
        "event_id",
        F.unix_micros(F.col("ts")).alias("pt"),
        F.col("value").alias("pval"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t_us", F.col("is_right").desc(), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = (
        left.unionByName(right)
        .withColumn("last_t", F.last("pt", ignorenulls=True).over(w))
        .withColumn("last_v", F.last("pval", ignorenulls=True).over(w))
    )
    return merged.filter(F.col("is_right") == 0).select(
        "event_id",
        F.when(
            F.col("last_t").isNotNull()
            & (F.col("t_us") - F.col("last_t") <= tol_us),
            F.col("last_v"),
        ).alias("recent_purchase_value"),
    )


@register(
    "join_point_in_time",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), dim AS (
      SELECT user_id, t_us AS valid_from, event_type AS state,
             lead(t_us) OVER (
               PARTITION BY user_id ORDER BY t_us, event_id) AS valid_to
      FROM seq WHERE prev_type IS NULL OR prev_type != event_type
    ), f AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, d.state AS state_at_purchase,
           d.valid_from AS state_since_us
    FROM f JOIN dim d ON f.user_id = d.user_id
      AND d.valid_from <= f.t_us
      AND (d.valid_to IS NULL OR f.t_us < d.valid_to)
    """,
)
def join_point_in_time(spark, sf_dir):
    """Point-in-time (PIT) join: each purchase enriched with the user's
    state DIMENSION row that was valid at the purchase timestamp — the
    feature-store correctness primitive (training features must reflect
    what was knowable AT the label's time; joining the current dimension
    row leaks the future).  The dimension is the SCD2 state history
    derived from the event stream (the pipeline_scd2 spans, at exact
    integer-microsecond grain).

    Scale shape: NOT the naive validity-range join (O(facts x spans) under
    Spark's nested-loop fallback).  Because SCD2 spans partition time per
    key, "the span containing t" == "the latest span starting at-or-before
    t", so this is the join_asof union-merge recipe: ONE shuffle on
    user_id, one sort, one last(ignore nulls) window carrying (state,
    valid_from) — linear at any scale, same plan at 100 TB.  Tie rule at
    equal t_us: the dimension row sorts first (is_right desc), matching
    the oracle's half-open [valid_from, valid_to) containment; empty
    same-microsecond spans are superseded by construction (the LAST
    boundary at a given t_us wins, which containment SQL agrees with
    because the earlier span is empty)."""
    ev = load_table(spark, sf_dir, "events")
    w_seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_id",
        F.lag("event_type").over(w_seq).alias("prev_type"),
    )
    dim = seq.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id",
        "t_us",
        F.lit(1).alias("is_right"),
        "event_id",
        F.col("event_type").alias("d_state"),
        F.col("t_us").alias("d_from"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(0).alias("is_right"),
        "event_id",
        F.lit(None).cast("string").alias("d_state"),
        F.lit(None).cast("long").alias("d_from"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t_us", F.col("is_right").desc(), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = (
        facts.unionByName(dim)
        .withColumn("state_at_purchase", F.last("d_state", ignorenulls=True).over(w))
        .withColumn("state_since_us", F.last("d_from", ignorenulls=True).over(w))
    )
    return merged.filter(F.col("is_right") == 0).select(
        "event_id", "state_at_purchase", "state_since_us"
    )


@register(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id, p.value AS next_purchase_value
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id AND p.ts >= e.ts
    """,
)
def join_asof_forward(spark, sf_dir):
    """Forward as-of join: for each event, the same user's NEXT purchase
    value at-or-after it (pandas ``merge_asof(direction='forward')``) —
    the label-construction join behind "time to next conversion" targets,
    completing the as-of family (backward `join_asof`, nearest,
    tolerance, point-in-time).

    Same union-merge recipe as `join_asof`, mirrored: one shuffle on the
    user key, one window ordered (time, LEFT-before-right, event_id) with
    a current-row-to-UNBOUNDED-FOLLOWING frame taking ``first(value
    ignore nulls)`` — left rows sort before right rows at equal
    timestamps so ``p.ts >= e.ts`` ties are included, matching DuckDB
    forward-ASOF semantics; among same-microsecond purchases the earliest
    event_id wins (fixtures have no such ties — verified for the
    backward twin).  Scale: identical plan family to `join_asof` — a
    single hash exchange at any cluster size, never a range join."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lit(0).alias("is_right"),
        "event_id",
        F.lit(None).cast("double").alias("pval"),
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("t_us"),
            F.lit(1).alias("is_right"),
            "event_id",
            F.col("value").alias("pval"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t_us", "is_right", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    merged = left.unionByName(right).withColumn(
        "next_purchase_value", F.first("pval", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_right") == 0).select(
        "event_id", r4("next_purchase_value", "next_purchase_value")
    )


# Retrieval threshold.  0.8 deliberately matches the dedup family's
# near-dup regime: the fixture corpus is a homogeneous word-salad (small
# shared vocabulary), so at tau ~0.5 nearly EVERY cross-relation pair
# qualifies and the true result set is quadratic in corpus size BY
# SEMANTICS — measured the hard way in the round-8 sf1 scale-up, where the
# tau=0.5 variant's output-sized final stage emitted ~100M pairs through
# one task for 20+ minutes.  A set-similarity join is only a scale-sane
# operator when the threshold keeps the result output-sparse.
_SSJ_TAU = 0.8


@register(
    "join_set_similarity",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    ), pr AS (
      SELECT doc_id, toks FROM d WHERE doc_id % 100 = 0
    ), co AS (
      SELECT doc_id, toks FROM d WHERE doc_id % 100 <> 0
    ), pairs AS (
      SELECT pr.doc_id AS probe_id, co.doc_id AS match_id,
             len(list_intersect(pr.toks, co.toks)) AS n_common,
             CAST(len(list_intersect(pr.toks, co.toks)) AS DOUBLE)
               / (len(pr.toks) + len(co.toks)
                  - len(list_intersect(pr.toks, co.toks))) AS jaccard
      FROM pr JOIN co ON TRUE
    )
    SELECT probe_id, match_id, n_common, jaccard
    FROM pairs WHERE jaccard >= {_SSJ_TAU}
    """,
)
def join_set_similarity(spark, sf_dir):
    """R-S set-similarity JOIN via prefix filtering: match a probe
    relation (1% of documents) against the corpus on token-set Jaccard
    >= {_SSJ_TAU} — the retrieval-join dual of dedup_near_jaccard's
    self-join (different relations, different survivor semantics: every
    qualifying cross-relation pair, not a dedup keeper set).

    Algorithm (PPJoin's lossless prefix filter, single-sided): order the
    vocabulary by ascending global frequency; a probe with |r| tokens
    only needs its |r| - ceil(tau*|r|) + 1 RAREST tokens indexed —
    any corpus set s with Jaccard >= tau shares >= ceil(tau*|r|) tokens
    with r, which cannot all hide in the suffix.  Candidates come from
    an equi-join on prefix tokens with |s| size bounds
    [ceil(tau*|r|), floor(|r|/tau)] plus the positional remaining-suffix
    bound min(|r|-ra, |s|-rb)+1 >= ceil(tau*|r|), then exact rescoring.
    The DuckDB oracle is the quadratic join — identical result set by
    the lemma.

    100 TB: no cross join anywhere — candidate generation is a
    token-keyed shuffle whose volume is governed by rare-token postings
    (the frequency ordering is exactly what keeps hot tokens out of
    prefixes); rescoring touches only candidates.  The vocabulary rank
    table is |vocab|-sized and broadcast.

    Degenerate-vocabulary regime: the corpus side of the candidate join
    is ALL tokens of all corpus docs (one-sided prefix — B's shared
    token may sit anywhere), so when the vocabulary is small every
    posting is corpus-sized and candidates degenerate quadratic
    (measured: 17 s for 394k true pairs at the perturbed sf1 campaign
    corpus).  When the whole vocabulary fits 1024 bits, route to the
    bitset GEMM kernel (blockkernel.bitset_gemm_pairs): within the
    driver staging budget the probes broadcast as a P×|V| incidence
    matrix and the corpus STREAMS map-only through mapInPandas — no
    shuffle at all, cost O(corpus·P) integer-exact GEMM cells; past it
    the same cells run on blockkernel.block_join's bucket grid."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("toks"),
    )
    # the prefix path's vocab hint is gated on corpus file bytes (the
    # vocab table is token-derived, unbounded at web scale)
    return _set_similarity_pairs(
        docs,
        vocab_est_bytes=table_file_bytes(sf_dir, "documents") * 8,
        stats_key=f"ssj_v1_{table_fingerprint(sf_dir, 'documents')}",
    )


def _set_similarity_pairs(
    docs,
    force_prefix_path: bool = False,
    vocab_est_bytes: int = 0,
    stats_key: str | None = None,
):
    """join_set_similarity body; ``force_prefix_path`` pins the web-scale
    prefix pipeline for tests on corpora the GEMM kernel would take.
    ``stats_key`` memoizes the route gate's scalars (vocabulary size,
    probe footprint) and the ≤1024-token kernel vocabulary into the
    io.stats_memo catalog, so only the FIRST build over a given corpus
    file runs the gate jobs (r12 verdict item 5); keyless test callers
    compute them on every build."""
    toks = docs.select(
        "doc_id", F.size("toks").alias("nt"), F.explode("toks").alias("tok")
    )
    # global rarity order; |vocab| rows, single pass + broadcast back.
    # The order is USED only inside the per-doc position window, so the
    # (count, token) pair serves as the sort key directly — materializing
    # an integer rank would need a no-partition row_number (a single-task
    # sort over |vocab|, the classic web-corpus bottleneck) for zero gain.
    # persist: BOTH the kernel gate's n_vocab count and the taken path's
    # consumers read this aggregate — without the persist the full
    # tokenize+groupBy would run once per consumer (the _token_sigs
    # precedent for the same freq table)
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c")).persist()
    is_probe = F.col("doc_id") % 100 == 0
    if not force_prefix_path:
        from ..blockkernel import bitset_gemm_pairs

        probes = docs.filter(is_probe).select(
            F.col("doc_id").alias("id"), F.size("toks").alias("nt"), "toks"
        )

        def _ssj_stats() -> dict:
            nv = vocab.count()
            out = {
                "n_vocab": nv,
                "n_probes": None,
                "n_ptoks": None,
                "toks": None,
            }
            if nv <= 1024:
                ps = probes.agg(F.count("*"), F.sum("nt")).first()
                out["n_probes"], out["n_ptoks"] = ps[0], ps[1] or 0
                # kernel vocabulary is bounded (≤1024) on this route; the
                # token→column order just has to be SOME fixed order, and
                # memoizing pins it stable across builds
                out["toks"] = [r["tok"] for r in vocab.collect()]
            return out

        gs = stats_memo(stats_key, _ssj_stats)
        n_vocab = gs["n_vocab"]
        if n_vocab <= 1024:
            n_probes, n_ptoks = gs["n_probes"], gs["n_ptoks"]
            vocab_map = {t: i for i, t in enumerate(gs["toks"])}
            # the kernel-path plan no longer references vocab (stream and
            # probes derive from docs) — release the cached table instead
            # of leaking it across bench reps (r11 ADVICE)
            vocab.unpersist(blocking=False)
            # single local parquet file = one input split; the staged
            # path spreads the corpus before the kernel so all cores
            # stream it
            stream = docs.filter(~is_probe).select(
                F.col("doc_id").alias("id"),
                F.size("toks").alias("nt"),
                "toks",
            )
            pairs = bitset_gemm_pairs(
                stream,
                probes,
                vocab_map,
                n_index=n_probes,
                n_index_toks=n_ptoks,
                metric="jaccard",
                tau=_SSJ_TAU,
            )
            return pairs.select(
                F.col("iid").alias("probe_id"),
                F.col("sid").alias("match_id"),
                F.col("n_common"),
                F.col("metric").alias("jaccard"),
            )
    # vocab is token-derived (unbounded at web scale): hint gated on
    # the corpus file bytes x a decompression factor (io.hint_if rule);
    # direct test callers pass 0 (always-hint, tiny corpora)
    ranked = toks.join(hint_if(vocab, vocab_est_bytes), "tok").select(
        "doc_id",
        "nt",
        "tok",
        F.row_number()
        .over(W.partitionBy("doc_id").orderBy("c", "tok"))
        .alias("pos"),
    )
    prefix = ranked.filter(is_probe).filter(
        F.col("pos")
        <= F.col("nt") - F.ceil(F.lit(_SSJ_TAU) * F.col("nt")) + 1
    ).select(
        F.col("doc_id").alias("probe_id"),
        F.col("nt").alias("na"),
        F.col("pos").alias("ra"),
        "tok",
    )
    corpus = ranked.filter(~is_probe).select(
        F.col("doc_id").alias("match_id"),
        F.col("nt").alias("nb"),
        F.col("pos").alias("rb"),
        "tok",
    )
    # positional filter (lossless: the FIRST shared token of a qualifying
    # pair has no common tokens before it in either ordered list, so the
    # remaining-suffix bound min(na-ra, nb-rb)+1 >= required overlap holds
    # at that occurrence and the pair is generated there)
    overlap_req = F.ceil(F.lit(_SSJ_TAU) * F.col("na"))
    overlap_ub = (
        F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")) + 1
    )
    cand = (
        prefix.join(
            corpus,
            (prefix.tok == corpus.tok)
            & (F.col("nb") >= overlap_req)
            & (F.col("nb") <= F.floor(F.col("na") / F.lit(_SSJ_TAU)))
            & (overlap_ub >= overlap_req),
        )
        .select("probe_id", "match_id")
        .distinct()
    )
    pa = docs.select(
        F.col("doc_id").alias("probe_id"),
        F.col("toks").alias("ta"),
        F.size("toks").alias("na"),
    )
    pb = docs.select(
        F.col("doc_id").alias("match_id"),
        F.col("toks").alias("tb"),
        F.size("toks").alias("nb"),
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(pa, "probe_id")
        .join(pb, "match_id")
        .withColumn("n_common", inter.cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= _SSJ_TAU)
        .select("probe_id", "match_id", "n_common", "jaccard")
    )


@register(
    "join_spatial_grid",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || ':x'),
                                    1, 8) AS BIGINT) % 1000 AS x,
             CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || ':y'),
                                    1, 8) AS BIGINT) % 1000 AS y
      FROM customer
    ), s AS (
      SELECT s_suppkey,
             CAST('0x' || substring(md5(CAST(s_suppkey AS VARCHAR) || ':x'),
                                    1, 8) AS BIGINT) % 1000 AS x,
             CAST('0x' || substring(md5(CAST(s_suppkey AS VARCHAR) || ':y'),
                                    1, 8) AS BIGINT) % 1000 AS y
      FROM supplier
    )
    SELECT s.s_suppkey, c.c_custkey,
           (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) AS dist2
    FROM s, c
    WHERE (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) <= 2500
    """,
)
def join_spatial_grid(spark, sf_dir):
    """Spatial radius join via grid bucketing: find every (supplier,
    customer) pair within Euclidean distance 50 on a 1000×1000 plane —
    the geo-join shape (stores near customers, sensors near events) that
    OSS Spark has no native operator for.  Coordinates derive
    deterministically from the keys (md5-uniform ints, canon.py md5_int
    doctrine: the fixture schema has no geo columns, so the operator IS
    the join shape on reproducible points).  The plane cuts into
    radius-sized cells (50); each probe row expands to its 3×3 cell
    neighborhood — a correctness-complete candidate set because no
    within-radius point can sit further than one cell away — then the
    candidate EQUI-join on cell id feeds the exact integer distance
    filter.  The quadratic form exists only as the sf0.01 oracle.

    100 TB: the plan is a plain hash join on cell keys — |probe|×9
    candidate rows instead of |probe|×|build|; density skew (a hot city
    cell) is ordinary join-key skew, handled by AQE splitting or the
    join_skew_salted recipe; integer squared distance keeps the predicate
    exact, codegen-friendly, and engine-identical (no sqrt needed for a
    radius test)."""
    from ..canon import md5_int

    CELL, R2 = 50, 2500

    def pts(df, key):
        return df.select(
            key,
            (md5_int(F.concat(F.col(key).cast("string"), F.lit(":x")), 8)
             % 1000).alias("x"),
            (md5_int(F.concat(F.col(key).cast("string"), F.lit(":y")), 8)
             % 1000).alias("y"),
        )

    c = pts(load_table(spark, sf_dir, "customer"), "c_custkey").select(
        "c_custkey",
        F.col("x").alias("cx"),
        F.col("y").alias("cy"),
        F.expr(f"x DIV {CELL}").alias("gx"),
        F.expr(f"y DIV {CELL}").alias("gy"),
    )
    s = pts(load_table(spark, sf_dir, "supplier"), "s_suppkey")
    probes = s.select(
        "s_suppkey",
        F.col("x").alias("sx"),
        F.col("y").alias("sy"),
        F.explode(
            F.expr(f"flatten(transform(sequence(-1, 1), dx -> "
                   f"transform(sequence(-1, 1), dy -> "
                   f"struct(x DIV {CELL} + dx AS gx, y DIV {CELL} + dy AS gy))))")
        ).alias("cell"),
    ).select("s_suppkey", "sx", "sy", "cell.gx", "cell.gy")
    d2 = (F.col("sx") - F.col("cx")) * (F.col("sx") - F.col("cx")) + (
        F.col("sy") - F.col("cy")
    ) * (F.col("sy") - F.col("cy"))
    return (
        probes.join(c, ["gx", "gy"])
        .filter(d2 <= R2)
        .select("s_suppkey", "c_custkey", d2.alias("dist2"))
    )
