"""Planted-value pins for the round-10 kernels.

The r10 rewrites moved three hot kernels onto new machinery; these tests
pin the exact semantic claims the rewrites make:

* banded_hamming_pairs — LOSSLESSNESS: the 4x6-bit block-banding
  equi-join must return exactly the brute-force Hamming<=3 pair set
  (pigeonhole), and the first-matching-block filter must emit each pair
  exactly once even when signatures collide on several blocks;
* _cc_min_local — the vectorized min-label propagation must converge on
  a DEEP chain (the pointer-jumping path) and label every node with its
  component minimum;
* kcore_peel local fixpoint — the numpy peel must dedupe duplicate input
  edges (the old set()-based kernel's contract) and converge a cascade
  to the exact core.

Plus the ANSI-divergence degenerate-corpus pins: this session runs Spark
with ANSI on (x/0 THROWS; DuckDB yields NULL; DuckDB sqrt(<0) errors
where Spark yields NaN), so every statistics op whose denominators can
degenerate must guard with lazily-evaluated CASE on BOTH sides — planted
single-day / constant-value / zero-purchase corpora prove Spark neither
throws nor diverges from the oracle.
"""

from __future__ import annotations

import itertools

from recommend_spark.queries.dedup import _cc_min_local, banded_hamming_pairs
from recommend_spark.queries.recommender import kcore_peel


def test_banded_pairs_lossless_vs_bruteforce(spark):
    # deterministic pseudo-random 24-bit population + adversarial cases:
    sigs = [(i * 2654435761) % (1 << 24) for i in range(120)]
    base = sigs[0]
    sigs += [
        base,                                   # hamming 0 twin (all 4 blocks collide)
        base ^ 0b1,                             # hamming 1
        base ^ (1 | 1 << 6 | 1 << 12),          # hamming 3 across 3 blocks -> only block 3 matches
        base ^ (1 | 1 << 6 | 1 << 12 | 1 << 18),  # hamming 4 across all 4 blocks -> no candidate
        base ^ 0b1111,                          # hamming 4 inside one block -> candidate, filtered
    ]
    rows = [(i, s) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in banded_hamming_pairs(df).collect()
    ]
    # exactly-once emission even for multi-block collisions (hamming-0 twin)
    assert len(got) == len(set(got))
    want = {
        (a, b, bin(sa ^ sb).count("1"))
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if a < b and bin(sa ^ sb).count("1") <= 3
    }
    assert set(got) == want
    # the planted hamming-3-across-3-blocks pair IS in the result
    assert (0, 122, 3) in want and (0, 122, 3) in set(got)
    # the planted hamming-4 cases are NOT
    assert not any(a == 0 and b in (123, 124) for a, b, _ in got)


def test_cc_min_local_deep_chain(spark):
    # a 1500-link path (deep pointer-jumping) + a disjoint second component
    edges = [(i, i + 1) for i in range(1500)]
    edges += [(5000 + i, 5000 + i + 1) for i in range(50)]
    edges += [(10, 11), (5000, 5001)]  # duplicate edges must be harmless
    df = spark.createDataFrame(edges, "src long, dst long")
    lab = {r["v"]: r["m"] for r in _cc_min_local(df).collect()}
    assert all(lab[v] == 0 for v in range(1501))
    assert all(lab[5000 + v] == 5000 for v in range(51))


def test_kcore_local_fixpoint_dedupes_and_converges(spark):
    # 4-clique {1,2,3,4} + a pendant chain 4-5-6; k=2 peels the chain
    # exactly (two cascade steps) and keeps the clique.  Duplicate edge
    # rows pin the set()-contract the numpy kernel inherited.
    und = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    sym = und + [(b, a) for a, b in und] + [(1, 2), (2, 1)]  # dup rows
    df = spark.createDataFrame(sym, "src long, dst long")
    # 18 edges sit far under the endgame bound, so the single-task local
    # fixpoint runs immediately
    core = kcore_peel(df, k=2, rounds=6)
    got = {(r["src"], r["dst"]) for r in core.collect()}
    clique = {(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b}
    assert got == clique


def test_anomaly_and_neyman_degenerate_corpus_parity(spark, tmp_path_factory):
    """ANSI-divergence guards (r10): this session runs Spark with ANSI on,
    where x/0 THROWS, while DuckDB yields NULL — so a single-active-day
    event type ((n-1)=0) or a constant-value stratum (variance 0, float
    cancellation can even push it epsilon-negative where DuckDB's sqrt
    ERRORS) must be handled by lazily-evaluated CASE guards on BOTH
    sides.  Plants exactly those corpora and asserts Spark == oracle."""
    import math
    from datetime import datetime, timedelta

    import duckdb

    from recommend_spark.queries import ORACLES, QUERIES

    d0 = datetime(2024, 1, 1)
    rows = []
    eid = 0

    def ev(day, user, etype, value):
        nonlocal eid
        eid += 1
        return (eid, d0 + timedelta(days=day, minutes=eid % 60), user, etype, value, "{}")

    # 'single': all events on ONE day -> n=1, (n-1)=0
    for i in range(5):
        rows.append(ev(3, 100 + i, "single", 10.0))
    # 'flat': constant ONE event per day -> zero variance; constant value
    # 0.1 (inexact in binary) -> the cancellation-epsilon stratum
    for day in range(10):
        rows.append(ev(day, 200, "flat", 0.1))
    # 'normal': 1/day baseline with a 9-event spike -> a real anomaly
    for day in range(10):
        rows.append(ev(day, 300, "normal", float(day)))
    for i in range(9):
        rows.append(ev(5, 300 + i, "normal", 1.0))

    root = tmp_path_factory.mktemp("degen")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(root / "events.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{root}/events.parquet/*.parquet')"
    )

    def canon(cols, recs):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [
            tuple(
                "NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
                for i in order
            )
            for r in recs
        ]
        out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
        return out

    for qid in ("events_anomaly_days", "sample_neyman_alloc"):
        sdf = QUERIES[qid](spark, str(root))
        srows = [tuple(r) for r in sdf.collect()]  # must not raise under ANSI
        res = con.execute(ORACLES[qid])
        assert canon(sdf.columns, srows) == canon(
            [d[0] for d in res.description], res.fetchall()
        ), qid

    # the anomaly op keeps ONLY the planted spike; degenerate types drop
    out = QUERIES["events_anomaly_days"](spark, str(root)).collect()
    assert {r["event_type"] for r in out} == {"normal"}
    assert any(r["cnt"] == 10 for r in out)
    # neyman clamps the degenerate strata to sd=0 / zero budget, keeps them
    alloc = {r["event_type"]: r for r in QUERIES["sample_neyman_alloc"](spark, str(root)).collect()}
    assert alloc["single"]["stddev"] == 0.0 and alloc["single"]["n_alloc"] == 0
    assert alloc["flat"]["stddev"] == 0.0 and alloc["flat"]["n_alloc"] == 0
    assert alloc["normal"]["n_alloc"] > 0


def test_ab_test_degenerate_corpus_parity(spark, tmp_path_factory):
    """events_ab_test's guards under ANSI: a zero-purchase corpus must
    short-circuit at the np>1 predicate before the Welch divisions
    evaluate, and a constant-purchase corpus (Welch variance ~0, possibly
    a cancellation epsilon) must agree with DuckDB either way."""
    import math
    from datetime import datetime, timedelta

    import duckdb

    from recommend_spark.queries import ORACLES, QUERIES

    d0 = datetime(2024, 1, 1)

    def build(tmp, purchases):
        rows = []
        eid = 0
        for u in range(40):
            eid += 1
            rows.append((eid, d0 + timedelta(hours=u), u, "view", 1.0, "{}"))
            if purchases == "constant":
                eid += 1
                rows.append(
                    (eid, d0 + timedelta(hours=u, minutes=30), u, "purchase", 0.1, "{}")
                )
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
        return str(tmp)

    def canon(cols, recs):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [
            tuple(
                "NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
                for i in order
            )
            for r in recs
        ]
        out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
        return out

    for variant in ("none", "constant"):
        root = build(tmp_path_factory.mktemp(f"ab_{variant}"), variant)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{root}/events.parquet/*.parquet')"
        )
        sdf = QUERIES["events_ab_test"](spark, root)
        srows = [tuple(r) for r in sdf.collect()]  # must not raise under ANSI
        res = con.execute(ORACLES["events_ab_test"])
        assert canon(sdf.columns, srows) == canon(
            [d[0] for d in res.description], res.fetchall()
        ), variant
        con.close()


def test_corr_family_degenerate_groups_parity(spark, tmp_path_factory):
    """The r2-era corr/stddev/regression guards, pinned against ANSI: a
    single-row group (Bessel n-1 = 0) and a constant-column group
    (variance 0) must be dropped/kept by the Filter BEFORE the projection
    divides (Filter->Project pipelining), agreeing with DuckDB exactly."""
    import math

    import duckdb

    from recommend_spark.queries import ORACLES, QUERIES

    rows = []
    # 'C': constant in BOTH columns (variance 0) -> corr & regression
    # drop it; stddev (over extendedprice) keeps it with sd exactly 0
    for i in range(4):
        rows.append(("C", 5.0, 100.0))
    # 'S': a single row -> n-1 = 0 everywhere -> dropped by n >= 2
    rows.append(("S", 1.0, 50.0))
    # 'N': both columns varying -> kept everywhere
    for i in range(5):
        rows.append(("N", 1.0 + i, 10.0 + 3 * i))
    root = tmp_path_factory.mktemp("corrdeg")
    spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    ).coalesce(1).write.mode("overwrite").parquet(str(root / "lineitem.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
        f"'{root}/lineitem.parquet/*.parquet')"
    )

    def canon(cols, recs):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [
            tuple(
                "NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i]
                for i in order
            )
            for r in recs
        ]
        out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
        return out

    for qid in ("agg_corr", "agg_regression", "agg_stddev_exact"):
        sdf = QUERIES[qid](spark, str(root))
        srows = [tuple(r) for r in sdf.collect()]  # must not raise under ANSI
        res = con.execute(ORACLES[qid])
        assert canon(sdf.columns, srows) == canon(
            [d[0] for d in res.description], res.fetchall()
        ), qid

    corr_groups = {
        r["l_returnflag"] for r in QUERIES["agg_corr"](spark, str(root)).collect()
    }
    assert corr_groups == {"N"}
    sd = {
        r["l_returnflag"]: r["stddev_samp"]
        for r in QUERIES["agg_stddev_exact"](spark, str(root)).collect()
    }
    assert sd["C"] == 0.0 and "S" not in sd and sd["N"] > 0


def test_q21_qualify_counts_distinct_suppliers_not_lines(spark, tmp_path):
    """r13 q21 rewrite pin: the qualify is per-order DISTINCT-supplier
    arithmetic, not line counting.  Planted orders:
      1: suppliers {10, 20}, supplier 10 late on THREE lines -> qualifies
         exactly once for supplier 10 (countDistinct(late)=1 even though
         late LINES = 3);
      2: suppliers {10, 20}, both late -> excluded (two late suppliers);
      3: single-supplier order, late -> excluded (no other supplier);
      4: suppliers {10, 20}, none late -> excluded.
    """
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from recommend_spark.queries import QUERIES

    d0 = datetime(1996, 1, 1)
    late = datetime(1996, 6, 1)     # > 90 days after d0
    ontime = datetime(1996, 1, 15)
    ts = pa.timestamp("us")
    li = pa.table(
        {
            "l_orderkey": pa.array([1, 1, 1, 1, 2, 2, 3, 4, 4], pa.int64()),
            "l_suppkey": pa.array([10, 10, 10, 20, 10, 20, 10, 10, 20], pa.int64()),
            "l_shipdate": pa.array(
                [late, late, late, ontime, late, late, late, ontime, ontime], ts
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
            "o_orderdate": pa.array([d0] * 4, ts),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array([10, 20], pa.int64()),
            "s_name": pa.array(["Supplier#10", "Supplier#20"]),
        }
    )
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))
    pq.write_table(orders, str(tmp_path / "orders.parquet"))
    pq.write_table(supplier, str(tmp_path / "supplier.parquet"))
    rows = [tuple(r) for r in QUERIES["tpch_q21"](spark, str(tmp_path)).collect()]
    assert rows == [("Supplier#10", 1)]


def test_knn_tie_break_on_planted_duplicate_embeddings(spark, tmp_path):
    """r13 top-k selection pin, end-to-end: EXACT duplicate vectors (the
    replica-perturbed-corpus regime) give bit-equal cosines, so boundary
    membership depends on the neighbor-id tie-break.  Reference computed
    by the full-lexsort definition in the test."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recommend_spark.queries import QUERIES

    rng = np.random.default_rng(21)
    base = rng.standard_normal((4, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # 12 vectors from only 4 distinct directions -> ties everywhere,
    # including AT the k=5 boundary for every query row
    mat = np.vstack([base, base, base])
    ids = np.arange(12, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids),
                "embedding": pa.array(
                    [list(map(float, row)) for row in mat],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    # reference: the same float32->float64 path + index-ordered fold +
    # lexsort definition the kernels promise
    m64 = mat.astype(np.float32).astype(np.float64)
    acc = np.zeros((12, 12))
    for k in range(64):
        acc += np.multiply.outer(m64[:, k], m64[:, k])
    acc[np.arange(12), np.arange(12)] = -np.inf
    order = np.lexsort((np.broadcast_to(ids, acc.shape), -acc), axis=1)[:, :5]
    expect = sorted(
        (int(q), int(ids[j]), acc[q, j])
        for q in range(12)
        for j in order[q]
    )
    got = sorted(
        tuple(r)
        for r in QUERIES["sim_knn_join"](spark, str(tmp_path)).collect()
    )
    assert got == expect
