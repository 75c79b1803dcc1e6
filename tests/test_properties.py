"""Property-based algebraic tests (hypothesis) on small generated frames —
SURVEY §5.4: join/set-op identities and 3-valued-logic edge cases that the
fixture data can't reach (nulls, empties, duplicates)."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
    ),
    max_size=12,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame(data or [(0, None)], "k int, v int").limit(
        len(data)
    )


@given(a=rows, b=rows)
@settings(**_SETTINGS)
def test_semi_plus_anti_partition_left(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    semi = da.join(db, "k", "left_semi").count()
    anti = da.join(db, "k", "left_anti").count()
    assert semi + anti == da.count()


@given(a=rows, b=rows)
@settings(**_SETTINGS)
def test_union_all_counts_add(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    assert da.unionByName(db).count() == da.count() + db.count()


@given(a=rows, b=rows)
@settings(**_SETTINGS)
def test_except_all_multiplicity(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    # |A exceptAll B| == sum over rows max(mult_A - mult_B, 0)
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    expect = sum(max(c - cb.get(r, 0), 0) for r, c in ca.items())
    assert da.exceptAll(db).count() == expect


@given(a=rows)
@settings(**_SETTINGS)
def test_null_comparison_three_valued(spark, a):
    da = _df(spark, a)
    n_null = sum(1 for _, v in a if v is None)
    eq = da.filter(F.col("v") == 0).count()
    ne = da.filter(F.col("v") != 0).count()
    # rows with NULL v satisfy neither predicate
    assert eq + ne == len(a) - n_null


def test_hash_split_stable_under_repartition(spark):
    """Split membership must be a pure function of the key: recomputing the
    assignment on an arbitrarily repartitioned input may not move a single
    row between splits."""
    from recommend_spark.io import load_table
    from tests.conftest import SF_DIR
    from recommend_spark.queries.sampling import _bucket

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey")
    a = {r.o_orderkey: r.b for r in o.select("o_orderkey", _bucket("o_orderkey").alias("b")).collect()}
    b = {
        r.o_orderkey: r.b
        for r in o.repartition(7, "o_orderkey")
        .select("o_orderkey", _bucket("o_orderkey").alias("b"))
        .collect()
    }
    assert a == b


def test_hash_split_fractions_near_nominal(spark):
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    counts = {
        r.split: r.n
        for r in QUERIES["sample_hash_split"](spark, SF_DIR)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    assert abs(counts["train"] / total - 0.80) < 0.05
    assert abs(counts["val"] / total - 0.10) < 0.05
    assert abs(counts["test"] / total - 0.10) < 0.05


def test_csv_malformed_counts(spark):
    """PERMISSIVE ingest must quarantine exactly the 3 injected bad lines
    and keep every clean row."""
    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES

    from tests.conftest import SF_DIR

    row = QUERIES["scan_csv_malformed"](spark, SF_DIR).collect()[0]
    n_orders = load_table(spark, SF_DIR, "orders").count()
    assert row["n_corrupt"] == 3
    assert row["n_good"] == n_orders
    assert row["sum_good"] > 0


def test_compaction_collapses_file_count(spark):
    from pathlib import Path

    from recommend_spark.queries import QUERIES
    from recommend_spark.io import sf_key
    from recommend_spark.queries.scans import ART

    from tests.conftest import SF_DIR

    QUERIES["sink_compact"](spark, SF_DIR).count()
    root = Path(ART) / f"sink_compact_{sf_key(SF_DIR)}"
    n_frag = len(list((root / "frag").glob("part-*.parquet")))
    n_compact = len(list((root / "compact").glob("part-*.parquet")))
    assert n_frag == 64
    assert n_compact <= 4


def test_binary_file_scan_matches_hashlib(spark):
    """binaryFile rows must carry the exact on-disk bytes."""
    import hashlib
    from pathlib import Path

    from recommend_spark.queries import QUERIES

    from tests.conftest import SF_DIR

    rows = {
        r["file_name"]: (r["length"], r["content_md5"])
        for r in QUERIES["scan_binary_files"](spark, SF_DIR).collect()
    }
    files = sorted(Path(SF_DIR).glob("*.parquet"))
    assert set(rows) == {f.name for f in files}
    for f in files:
        data = f.read_bytes()
        exp = hashlib.md5(data.hex().encode()).hexdigest()
        assert rows[f.name] == (len(data), exp), f.name


def test_item_cf_basket_cap_is_noop_at_fixture_scale(spark):
    """MAX_BASKET must not drop any fixture user (else rec_item_item's
    oracle, which carries no cap, would diverge) — and must exceed the
    observed max by a wide margin so sf0.1 stays safe too."""
    import pyspark.sql.functions as F

    from recommend_spark.io import load_table
    from recommend_spark.queries.recommender import MAX_BASKET

    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    max_basket = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
        .groupBy("u")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_basket * 4 < MAX_BASKET


def test_item_cf_basket_cap_drops_hyper_user(spark):
    """The guard itself must work: a synthetic user over the cap contributes
    zero pairs (checked via the same window-filter construct)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from recommend_spark.queries.recommender import MAX_BASKET

    hyper = [(999, i) for i in range(MAX_BASKET + 1)]
    normal = [(1, 1), (1, 2), (2, 1)]
    b = spark.createDataFrame(hyper + normal, "u int, i int")
    capped = (
        b.withColumn("basket_len", F.count("*").over(W.partitionBy("u")))
        .filter(F.col("basket_len") <= MAX_BASKET)
        .drop("basket_len")
    )
    users = {r["u"] for r in capped.select("u").distinct().collect()}
    assert users == {1, 2}


def test_triangle_degree_orientation_bounds_out_degree(spark):
    """(degree, id) orientation must give every hub near-zero out-degree: in
    a star + one closing edge, the hub (max degree) can only point at the
    other endpoint of equal-or-higher (deg, id) rank — here, none."""
    import pyspark.sql.functions as F

    # star: hub 0 connected to 1..6; plus edge (1,2) closing one triangle
    edges = [(0, k) for k in range(1, 7)] + [(1, 2)]
    und = spark.createDataFrame(edges, "p int, q int")
    deg = (
        und.select(F.col("p").alias("node"))
        .unionAll(und.select(F.col("q").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
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
    out_deg = {r["src"]: r["n"] for r in e.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # hub 0 has degree 6, every other node degree <= 3 -> all star edges point INTO 0
    assert 0 not in out_deg
    # and the triangle {0,1,2} is still found exactly once by the oriented join
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .count()
    )
    assert tri == 1


def test_containment_prefix_path_matches_brute_force(spark, monkeypatch):
    """The web-scale one-sided prefix pipeline must return EXACTLY the
    brute-force containment pairs on a corpus whose vocabulary (>1024
    tokens) defeats the bitmask fast path.  Its signature rescore joins
    both sides under size-gated broadcast hints (_sig_rescore)."""
    import random

    from recommend_spark import io
    from recommend_spark.queries.dedup import (
        _CONTAIN_MIN_TOKENS,
        _CONTAIN_TAU,
        _containment_pairs,
    )

    rng = random.Random(13)
    vocab = [f"tok{i:05d}" for i in range(1500)]
    docs = []
    # 90 docs draw 1,124 distinct tokens (60 drew only 937, the kernel's
    # regime)
    for doc_id in range(90):
        n = rng.randint(5, 40)
        toks = rng.sample(vocab, n)
        docs.append((doc_id, " ".join(toks)))
    # inject guaranteed near-subset pairs: doc 100+k holds doc k's tokens
    # plus a few extras; doc 200 is doc 0 minus one token (containment
    # just under/over tau depending on length)
    for k in range(5):
        base = docs[k][1].split()
        docs.append((100 + k, " ".join(base + rng.sample(vocab, 3))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    out = _containment_pairs(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, "a >1024-token vocabulary takes the prefix path"
    got = {(r["doc_a"], r["doc_b"], r["n_common"]) for r in out.collect()}

    sets = {i: set(t.lower().split()) for i, t in docs}
    want = set()
    for a, ta in sets.items():
        if len(ta) < _CONTAIN_MIN_TOKENS:
            continue
        for b, tb in sets.items():
            if a == b:
                continue
            inter = len(ta & tb)
            if inter / len(ta) >= _CONTAIN_TAU:
                want.add((a, b, inter))
    assert want, "fixture must contain at least one qualifying pair"
    assert got == want
    _assert_sig_rescore_hints(out, lambda: _containment_pairs(df), monkeypatch, io)


def _assert_sig_rescore_hints(out, rebuild, monkeypatch, io):
    """Pin the prefix paths' rescore plan: both signature sides carry a
    broadcast hint within ``io.BROADCAST_HINT_BUDGET``, and with the
    budget at 0 exactly those two hints go while the rows stay the
    same."""

    def hints(d):
        return d._jdf.queryExecution().optimizedPlan().toString().count(
            "strategy=broadcast"
        )

    hinted = hints(out)
    assert hinted >= 2
    monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", 0)
    gated = rebuild()
    assert hints(gated) == hinted - 2
    assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, out.collect()))


def test_containment_replica_collapse_matches_direct(spark):
    """The r14 replica-collapse route (pair one representative per
    distinct-token-set group, re-expand by joins) must return EXACTLY the
    direct pipeline's pairs on a replica-heavy corpus — including the
    intra-group containment-1.0 pairs and cross-group pairs seen from
    every replica."""
    import random

    from recommend_spark.queries.dedup import (
        _TOKS,
        _containment_collapsed,
        _containment_pairs,
    )

    rng = random.Random(7)
    vocab = [f"tok{i:05d}" for i in range(1500)]
    docs = []
    base_texts = []
    for doc_id in range(20):
        toks = rng.sample(vocab, rng.randint(5, 30))
        base_texts.append(" ".join(toks))
        docs.append((doc_id, base_texts[-1]))
    # heavy replication: 4 replicas of each base doc (distinct ids), some
    # with shuffled token order (same SET, different text) — ~80% replicas
    nid = 100
    for k, txt in enumerate(base_texts):
        for r in range(4):
            toks = txt.split()
            if r % 2:
                rng.shuffle(toks)
            docs.append((nid, " ".join(toks)))
            nid += 1
    # plus guaranteed near-subset cross-group pairs
    for k in range(4):
        docs.append((nid, base_texts[k] + " " + " ".join(rng.sample(vocab, 3))))
        nid += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    keyed = df.select(
        "doc_id",
        "text",
        F.sha2(F.concat_ws("\x1f", F.sort_array(_TOKS())), 256).alias("k"),
        F.size(_TOKS()).alias("nt"),
    )
    cols = ["doc_a", "doc_b", "n_common", "containment"]
    direct = {tuple(r) for r in _containment_pairs(df).select(cols).collect()}
    collapsed = {
        tuple(r) for r in _containment_collapsed(keyed).select(cols).collect()
    }
    assert direct, "fixture must produce qualifying pairs"
    assert collapsed == direct


@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**_SETTINGS)
def test_bmp_round_trip_any_dims(h, w, seed):
    """Row padding (w % 4) and tiny dims must never corrupt a pixel."""
    import numpy as np

    from recommend_spark.mm_codecs import decode_bmp, encode_bmp

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = decode_bmp(encode_bmp(img))
    assert out.shape == img.shape and (out == img).all()


@given(
    n=st.integers(min_value=0, max_value=5000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**_SETTINGS)
def test_wav_round_trip_any_length(n, rate, seed):
    import numpy as np

    from recommend_spark.mm_codecs import decode_wav, encode_wav

    samples = np.random.default_rng(seed).integers(
        -32768, 32768, size=n, dtype=np.int16
    )
    got_rate, out = decode_wav(encode_wav(samples, sample_rate=rate))
    assert got_rate == rate and len(out) == n and (out == samples).all()


@given(
    n=st.integers(min_value=1, max_value=6),
    hw=st.sampled_from([(2, 2), (4, 6), (16, 16), (10, 2)]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**_SETTINGS)
def test_y4m_round_trip_any_shape(n, hw, seed):
    import numpy as np

    from recommend_spark.mm_codecs import decode_y4m, encode_y4m

    h, w = hw
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
    u = rng.integers(0, 256, (n, h // 2, w // 2), dtype=np.uint8)
    v = rng.integers(0, 256, (n, h // 2, w // 2), dtype=np.uint8)
    gw, gh, fps, y2, u2, v2 = decode_y4m(encode_y4m(y, u, v))
    assert (gw, gh) == (w, h)
    assert (y2 == y).all() and (u2 == u).all() and (v2 == v).all()


def test_temperature_sampling_rates(spark):
    """The smallest source must keep 100% of its docs (rate exactly 1.0) and
    every rate must respect p_s = sqrt(m_min/m_s) — recomputed here
    independently from raw masses."""
    import math

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES

    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    masses = {
        r["source"]: r["m"]
        for r in d.groupBy("source").agg(F.sum("n_chars").alias("m")).collect()
    }
    m_min = min(masses.values())
    out = QUERIES["sample_temperature"](spark, SF_DIR)
    got = {
        r["source"]: r["keep_prob"]
        for r in out.select("source", "keep_prob").distinct().collect()
    }
    for src, p in got.items():
        assert p == math.sqrt(m_min / masses[src]), (src, p)
    smallest = min(masses, key=lambda s: masses[s])
    if smallest in got:
        assert got[smallest] == 1.0
    # rate 1.0 keeps every doc of that source
    n_small = d.filter(F.col("source") == smallest).count()
    kept_small = out.filter(F.col("source") == smallest).count()
    assert kept_small == n_small


def test_decontam_never_flags_benchmark_docs(spark):
    """The benchmark set itself (doc_id % 41 == 0) must never appear as a
    flagged training doc, and every flagged doc must have >= 1 hit."""
    from recommend_spark.queries import QUERIES

    from tests.conftest import SF_DIR

    out = QUERIES["pipeline_decontam"](spark, SF_DIR).collect()
    for r in out:
        assert r["doc_id"] % 41 != 0
        assert r["n_shingles_hit"] >= 1
        assert r["n_bench_docs"] >= 1


def test_repetition_fractions_bounded(spark):
    """Both repetition fractions live in [0, 1]; a doc of all-identical
    tokens hits top_word_frac == 1 and dup_bigram_frac == (n-2)/(n-1)."""
    from recommend_spark.queries import QUERIES

    from tests.conftest import SF_DIR

    out = QUERIES["text_repetition"](spark, SF_DIR).collect()
    assert out
    for r in out:
        assert 0.0 <= r["top_word_frac"] <= 1.0
        assert 0.0 <= r["dup_bigram_frac"] <= 1.0
        assert r["repetitive"] == (
            r["top_word_frac"] > 0.2 or r["dup_bigram_frac"] > 0.3
        )


def test_cms_never_underestimates(spark):
    """The count-min guarantee est >= true must hold on every probe row of
    the registered query itself (collisions only ever ADD)."""
    from tests.conftest import SF_DIR

    from recommend_spark.queries import QUERIES

    rows = QUERIES["agg_count_min"](spark, SF_DIR).collect()
    assert rows, "probe set empty"
    for r in rows:
        assert r["est_orders"] >= r["true_orders"], dict(r.asDict())


def test_bitmap_distinct_equals_direct_count(spark):
    """The bitmap recipe is EXACT: per-type results must equal a plain
    countDistinct computed independently on the same table."""
    from tests.conftest import SF_DIR

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES

    got = {
        r["event_type"]: r["n_users"]
        for r in QUERIES["agg_bitmap_distinct"](spark, SF_DIR).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_ewma_matches_python_reference(spark):
    """ts_ewma's truncated-lag expression must equal a direct python
    recomputation (same weights, same renormalization) on every row."""
    from tests.conftest import SF_DIR

    from recommend_spark.queries import QUERIES

    out = QUERIES["ts_ewma"](spark, SF_DIR).collect()
    series: dict[int, list[tuple[str, float]]] = {}
    for r in out:
        series.setdefault(r["user_id"], []).append((r["day"], r["day_value"]))
    for u in series:
        series[u].sort()
    got = {(r["user_id"], r["day"]): r["ewma"] for r in out}
    for u, pts in series.items():
        vals = [v for _, v in pts]
        for t, (day, _) in enumerate(pts):
            num = den = 0.0
            for j in range(min(t + 1, 8)):
                w = 0.5**j
                num += vals[t - j] * w
                den += w
            assert abs(got[(u, day)] - num / den) < 1e-9, (u, day)


def test_asof_tiebreak_invariant_no_same_instant_purchases(spark):
    """join_asof's docstring claims 'among same-microsecond purchases the
    latest event_id wins (fixtures have no such ties)' — the oracle's ASOF
    JOIN would be free to pick EITHER purchase if a (user_id, ts) purchase
    collision existed, so the parity guarantee rests on this invariant.
    Assert it instead of trusting it (ADVICE r3: joins.py as-of
    tie-break rested on an untested fixture invariant)."""
    from tests.conftest import SF_DIR

    from recommend_spark.io import load_table

    ties = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert ties == 0, (
        f"{ties} same-(user_id, ts) purchase collisions — join_asof's "
        "tie-break is no longer oracle-neutral; add an event_id tie-break "
        "to the oracle"
    )


def test_asof_nearest_matches_brute_force(spark):
    """join_asof_nearest must agree with a per-event brute-force scan of
    the same user's purchases (min |Δt|, ties to the past) on a sample."""
    from tests.conftest import SF_DIR

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t"), "event_type", "value"
    )
    sample_users = [r["user_id"] for r in ev.select("user_id").distinct().limit(5).collect()]
    local = ev.filter(F.col("user_id").isin(sample_users)).collect()
    purchases: dict[int, list[tuple[int, float, int]]] = {}
    for r in local:
        if r["event_type"] == "purchase":
            purchases.setdefault(r["user_id"], []).append(
                (r["t"], r["value"], r["event_id"])
            )
    got = {
        r["event_id"]: r["nearest_purchase_value"]
        for r in QUERIES["join_asof_nearest"](spark, SF_DIR).collect()
    }
    for r in local:
        ps = purchases.get(r["user_id"], [])
        if not ps:
            assert got[r["event_id"]] is None
            continue
        # full tie-break of the query's (t_us, is_right DESC, event_id)
        # window order: |dt|, then past-or-equal before future, then the
        # LAST past candidate (largest event_id) / FIRST future candidate
        # (smallest event_id) — without the event_id terms the brute force
        # is data-dependent on equal-timestamp purchases
        best = min(
            ps,
            key=lambda p: (
                abs(p[0] - r["t"]),
                p[0] > r["t"],
                p[2] if p[0] > r["t"] else -p[2],
            ),
        )
        assert got[r["event_id"]] == best[1], (r["event_id"], best, got[r["event_id"]])


def test_class_balanced_sample_is_balanced(spark):
    """Every label keeps exactly min-class-size rows, drawn from itself."""
    from collections import Counter

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    src = Counter(
        r["label"]
        for r in load_table(spark, SF_DIR, "embeddings").select("label").collect()
    )
    m = min(src.values())
    out = Counter(
        r["label"]
        for r in QUERIES["sample_class_balanced"](spark, SF_DIR).collect()
    )
    assert set(out) == set(src)
    assert all(c == m for c in out.values()), out


def test_point_in_time_join_no_future_leakage(spark):
    """Every purchase gets exactly one state, the state started at-or-before
    the purchase, and it equals a brute-force per-event recomputation."""
    import pyspark.sql.functions as F

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    out = {
        r["event_id"]: (r["state_at_purchase"], r["state_since_us"])
        for r in QUERIES["join_point_in_time"](spark, SF_DIR).collect()
    }
    ev = [
        (r["user_id"], r["ts"], r["event_id"], r["event_type"])
        for r in load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ]
    n_purchases = sum(1 for e in ev if e[3] == "purchase")
    assert len(out) == n_purchases
    # brute force: latest state-change boundary at-or-before each purchase
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, ts, eid, ty in ev:
        by_user[u].append((ts, eid, ty))
    for u, rows in by_user.items():
        rows.sort()
        bounds = []  # (ts, eid, state) at each state change
        prev = None
        for ts, eid, ty in rows:
            if prev is None or ty != prev:
                bounds.append((ts, eid, ty))
            prev = ty
        for ts, eid, ty in rows:
            if ty != "purchase":
                continue
            latest = max(b for b in bounds if (b[0], b[1]) <= (ts, eid))
            state, since = out[eid]
            assert state == latest[2], (u, eid)
            assert since == int(latest[0].timestamp() * 1_000_000)


def test_jsonl_shards_file_count_and_round_trip(spark):
    """The export writes exactly 4 JSONL shards and loses no rows."""
    from pathlib import Path

    from recommend_spark.io import ART_ROOT, load_table, sf_key
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    n_src = load_table(spark, SF_DIR, "documents").count()
    n_out = QUERIES["sink_jsonl_shards"](spark, SF_DIR).count()
    assert n_out == n_src
    # sf_key, not basename: the sink keys artifacts by basename + resolved
    # path hash (io.sf_key).  The basename form silently passed for rounds
    # on a STALE pre-sf_key shard dir until that leftover was cleaned.
    shard_dir = Path(ART_ROOT) / f"sink_jsonl_docs_{sf_key(SF_DIR)}"
    parts = list(shard_dir.glob("part-*.json"))
    assert len(parts) == 4, parts


def test_mad_outliers_satisfy_threshold(spark):
    """Every flagged row exceeds 3*MAD, and med/MAD are actual data values."""
    import pyspark.sql.functions as F

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["events_outlier_mad"](spark, SF_DIR).collect()
    assert rows, "fixture should contain MAD outliers"
    vals = {
        t: sorted(
            r["value"]
            for r in load_table(spark, SF_DIR, "events")
            .filter(F.col("event_type") == t)
            .select("value")
            .collect()
        )
        for t in {r["event_type"] for r in rows}
    }
    for r in rows:
        assert abs(r["value"] - r["med"]) > 3 * r["mad"]
        assert r["med"] in vals[r["event_type"]]


def test_dq_embeddings_clean_fixture(spark):
    """The fixture is clean: all dims 64, no non-finite, no zero vectors,
    norms positive and min <= max per label."""
    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["dq_embeddings"](spark, SF_DIR).collect()
    n_total = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_total
    for r in rows:
        assert r["n_bad_dim"] == 0 and r["n_nonfinite"] == 0 and r["n_zero"] == 0
        assert 0 < r["min_norm"] <= r["max_norm"]


def test_time_weighted_avg_matches_brute_force(spark):
    """TWA equals a per-user brute-force recompute (floor-second weights,
    microsecond+event_id ordering) and lies within [min, max] of value."""
    import math

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    out = {
        r["user_id"]: (r["n_intervals"], r["held_s"], r["twa_value"])
        for r in QUERIES["win_time_weighted_avg"](spark, SF_DIR).collect()
    }
    ev = [
        (r["user_id"], r["ts"], r["event_id"], r["value"])
        for r in load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ]
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, ts, eid, v in ev:
        by_user[u].append((int(ts.timestamp() * 1_000_000), eid, v))
    for u, rows in by_user.items():
        rows.sort()
        secs = [us // 1_000_000 for us, _, _ in rows]
        dts = [secs[i + 1] - secs[i] for i in range(len(rows) - 1)]
        vals = [v for _, _, v in rows[:-1]]
        held = sum(dts)
        if held == 0:
            assert u not in out
            continue
        n_int, held_s, twa = out[u]
        assert n_int == len(dts) and held_s == held
        brute = sum(v * dt for v, dt in zip(vals, dts)) / held
        assert math.isclose(twa, brute, rel_tol=1e-9), (u, twa, brute)
        lo, hi = min(v for _, _, v in rows), max(v for _, _, v in rows)
        assert lo - 1e-9 <= twa <= hi + 1e-9


def test_negative_pairs_disjoint_from_positives(spark):
    """No sampled negative is an observed positive; ranks are 1..3 dense
    per user; every item comes from the catalog."""
    from collections import defaultdict

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    pos = {
        (r["o_custkey"], r["l_partkey"])
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .collect()
    }
    catalog = {
        r["p_partkey"] for r in load_table(spark, SF_DIR, "part").collect()
    }
    rows = QUERIES["sample_negative_pairs"](spark, SF_DIR).collect()
    assert rows
    ranks = defaultdict(list)
    for r in rows:
        assert (r["user_id"], r["item_id"]) not in pos
        assert r["item_id"] in catalog
        ranks[r["user_id"]].append(r["neg_rank"])
    for u, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)) and len(rs) <= 3


def test_shard_manifest_covers_corpus(spark):
    """Shard ids are 0..7, doc counts sum to the corpus, and each shard's
    stats match a direct recompute of the md5 bucket."""
    import hashlib
    from collections import defaultdict

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    expect = defaultdict(lambda: [0, 0, None, None])
    for r in docs:
        b = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:6], 16) % 8
        e = expect[b]
        e[0] += 1
        e[1] += r["n_chars"]
        e[2] = r["doc_id"] if e[2] is None else min(e[2], r["doc_id"])
        e[3] = r["doc_id"] if e[3] is None else max(e[3], r["doc_id"])
    out = QUERIES["pipeline_shard_manifest"](spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in out) == len(docs)
    for r in out:
        assert 0 <= r["shard"] < 8
        e = expect[r["shard"]]
        assert [r["n_docs"], r["total_chars"], r["min_doc_id"], r["max_doc_id"]] == e


def test_doc_chunks_reconstruct_token_stream(spark):
    """Stride-advancing chunks tile every doc: chunk i starts at 24*i, all
    chunks have 1..32 tokens, the windows cover the full token stream, and
    de-overlapping the chunks reproduces it exactly."""
    from collections import defaultdict

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    toks = {
        r["doc_id"]: [w for w in r["text"].lower().split(" ") if w != ""]
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    chunks = defaultdict(dict)
    for r in QUERIES["pipeline_doc_chunks"](spark, SF_DIR).collect():
        assert r["start_pos"] == 24 * r["chunk_idx"]
        assert 1 <= r["n_tokens"] <= 32
        chunks[r["doc_id"]][r["chunk_idx"]] = r
    for doc_id, full in toks.items():
        if not full:
            assert doc_id not in chunks
            continue
        cs = chunks[doc_id]
        assert sorted(cs) == list(range(len(cs)))
        rebuilt = []
        for i in range(len(cs)):
            words = cs[i]["chunk_text"].split(" ")
            assert len(words) == cs[i]["n_tokens"]
            rebuilt.extend(words if i == len(cs) - 1 else words[:24])
        # the final chunk re-covers the overlap; trim to doc length
        assert rebuilt[: len(full)] == full
        last = cs[len(cs) - 1]
        assert last["start_pos"] + last["n_tokens"] == len(full)


def test_interleave_shards_is_round_robin_permutation(spark):
    """pipeline_interleave_shards: steps form a permutation of 0..N-1 and
    reading in step order cycles shards round-robin (a shard reappears
    only after every other still-alive shard has been visited)."""
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["pipeline_interleave_shards"](spark, SF_DIR).collect()
    n = len(rows)
    steps = sorted(r["step"] for r in rows)
    assert steps == list(range(n))
    # reconstruct expected round-robin order independently
    by_shard: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["pos"])):
        by_shard.setdefault(r["shard"], []).append(r["doc_id"])
    expect = []
    pos = 0
    while len(expect) < n:
        for s in sorted(by_shard):
            if pos < len(by_shard[s]):
                expect.append(by_shard[s][pos])
        pos += 1
    got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["step"])]
    assert got == expect


def test_quantile_binned_within_bin_width(spark, ddb):
    """agg_quantile_binned: every sketch estimate sits within one bin
    width (1000) of the exact continuous quantile."""
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR
    from tests.conftest import SF_DIR

    est = {
        (r["l_returnflag"], r["q"]): r["est"]
        for r in QUERIES["agg_quantile_binned"](spark, SF_DIR).collect()
    }
    exact = {}
    for q in (0.5, 0.9, 0.99):
        for f, v in ddb.execute(
            f"SELECT l_returnflag, quantile_cont(l_extendedprice, {q}) "
            "FROM lineitem GROUP BY l_returnflag"
        ).fetchall():
            exact[(f, q)] = v
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert abs(est[k] - v) <= 1000.0, (k, est[k], v)


def test_user_user_audience_cap_is_noop_at_fixture_scale(spark):
    """MAX_AUDIENCE must not bite on fixture data, or the uncapped oracle
    would diverge (same contract as the MAX_BASKET assertion)."""
    import pyspark.sql.functions as F

    from recommend_spark.queries.recommender import (
        MAX_AUDIENCE,
        _baskets_artifact,
    )
    from tests.conftest import SF_DIR

    b = _baskets_artifact(spark, SF_DIR)
    worst = (
        b.groupBy("i").agg(F.count("*").alias("aud")).agg(F.max("aud")).first()[0]
    )
    assert worst <= MAX_AUDIENCE / 10, worst


def test_interleave_kernel_round_robin_on_planted_ids():
    """Hypothesis-planted id sets through the interleave kernel: for ANY
    id set and shard count, steps are a permutation of 0..N-1 and the
    step order is exactly the round-robin reconstruction."""
    from hypothesis import given, settings, strategies as st

    from recommend_spark.queries.packing import interleave_steps
    from recommend_spark.session import get_spark

    spark = get_spark("recommend_spark_tests")

    @settings(max_examples=8, deadline=None)
    @given(
        ids=st.lists(
            st.integers(min_value=0, max_value=10**9),
            min_size=1,
            max_size=40,
            unique=True,
        ),
        n_shards=st.sampled_from([2, 3, 8]),
    )
    def check(ids, n_shards):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        rows = interleave_steps(docs, n_shards).collect()
        n = len(rows)
        assert sorted(r["step"] for r in rows) == list(range(n))
        by_shard: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["shard"], r["pos"])):
            by_shard.setdefault(r["shard"], []).append(r["doc_id"])
        expect, pos = [], 0
        while len(expect) < n:
            for s in sorted(by_shard):
                if pos < len(by_shard[s]):
                    expect.append(by_shard[s][pos])
            pos += 1
        got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["step"])]
        assert got == expect

    check()


def test_bfs_kernel_on_planted_graphs(spark):
    """The BFS kernel on graphs with hand-computable distances: a path
    (0-1-2-3-4-5) truncates at the hop bound, and a star reaches every
    leaf at distance 1 regardless of degree."""
    import pyspark.sql.functions as F

    from recommend_spark.queries.recommender import bfs_distances

    def sym(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return df.unionByName(
            df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    seed = spark.createDataFrame([(0, 0)], "node long, dist int")

    path = sym([(i, i + 1) for i in range(5)])
    got = {r["node"]: r["dist"] for r in bfs_distances(path, seed, 3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # nodes 4,5 beyond the bound

    star = sym([(0, i) for i in range(1, 8)])
    got = {r["node"]: r["dist"] for r in bfs_distances(star, seed, 4).collect()}
    assert got == {0: 0, **{i: 1 for i in range(1, 8)}}

    # two components: the island is never reached
    two = sym([(0, 1), (5, 6)])
    got = {r["node"]: r["dist"] for r in bfs_distances(two, seed, 4).collect()}
    assert got == {0: 0, 1: 1}

    # 10-cycle 0..9 with chord 2-6 and a tail 5-10-11-..-15: the cycle
    # rediscovers settled nodes from both sides every hop, the chord
    # shortcuts 6 (3 hops, not 4) and 5 (4, not 5), and the tail runs
    # past the hop bound
    cyc = sym(
        [(i, (i + 1) % 10) for i in range(10)]
        + [(2, 6), (5, 10)]
        + [(i, i + 1) for i in range(10, 15)]
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(cyc, seed, 8).collect()}
    assert got == {
        0: 0, 1: 1, 9: 1, 2: 2, 8: 2, 3: 3, 6: 3, 7: 3, 4: 4, 5: 4,
        10: 5, 11: 6, 12: 7, 13: 8,
    }


def _degenerate_corpus(rng, n_docs, vocab_size, id_of):
    """Small-vocabulary corpus (the bitset GEMM kernel's regime): every
    token posting is a large corpus fraction, so prefix filtering can't
    prune and the auto path must route to the kernel."""
    vocab = [f"w{i:03d}" for i in range(vocab_size)]
    docs = []
    for k in range(n_docs):
        n = rng.randint(3, min(30, vocab_size))
        docs.append((id_of(k), " ".join(rng.sample(vocab, n))))
    # planted near-subset family: doc id_of(1) ⊂ doc id_of(2) plus noise
    base = docs[1][1].split()
    docs[2] = (docs[2][0], " ".join(base + rng.sample(vocab, 2)))
    return docs


def test_containment_gemm_kernel_matches_brute_force(spark):
    """The degenerate-vocabulary GEMM kernel path must return EXACTLY the
    brute-force containment pairs — ids, counts AND the float64 metric
    (the kernel divides exact small ints in float64, the same operation
    Spark and DuckDB hash)."""
    import random

    from recommend_spark.queries.dedup import (
        _CONTAIN_MIN_TOKENS,
        _CONTAIN_TAU,
        _containment_pairs,
    )

    rng = random.Random(29)
    docs = _degenerate_corpus(rng, 90, 48, lambda k: k)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    out = _containment_pairs(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, "kernel path must engage on small vocab"
    got = {
        (r["doc_a"], r["doc_b"], r["n_common"], r["containment"])
        for r in out.collect()
    }

    sets = {i: set(t.lower().split()) for i, t in docs}
    want = set()
    for a, ta in sets.items():
        if len(ta) < _CONTAIN_MIN_TOKENS:
            continue
        for b, tb in sets.items():
            if a == b:
                continue
            inter = len(ta & tb)
            if inter / len(ta) >= _CONTAIN_TAU:
                want.add((a, b, inter, inter / len(ta)))
    assert want, "fixture must contain at least one qualifying pair"
    assert got == want


def test_ssj_gemm_kernel_matches_brute_force_and_prefix(spark):
    """join_set_similarity's GEMM kernel path must equal both the python
    brute force and the forced web-scale prefix path on the same
    degenerate-vocabulary corpus."""
    import random

    from recommend_spark.queries.joins import _SSJ_TAU, _set_similarity_pairs

    rng = random.Random(31)
    # ids 0..119 → probes {0, 100}; planted near-dup pair lands on 1/2
    docs = _degenerate_corpus(rng, 120, 40, lambda k: k)
    # make one PROBE a planted near-duplicate of a corpus doc so the
    # qualifying set is non-trivial on the probe side too
    docs[100] = (100, docs[3][1])
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("toks"),
    )

    got = {
        (r["probe_id"], r["match_id"], r["n_common"], r["jaccard"])
        for r in _set_similarity_pairs(df).collect()
    }
    forced = {
        (r["probe_id"], r["match_id"], r["n_common"], r["jaccard"])
        for r in _set_similarity_pairs(
            df, force_prefix_path=True
        ).collect()
    }

    sets = {i: set(t.lower().split()) for i, t in docs}
    want = set()
    for a, ta in sets.items():
        if a % 100 != 0:
            continue
        for b, tb in sets.items():
            if b % 100 == 0:
                continue
            inter = len(ta & tb)
            j = inter / (len(ta) + len(tb) - inter)
            if j >= _SSJ_TAU:
                want.add((a, b, inter, j))
    assert want, "fixture must contain at least one qualifying pair"
    assert got == want
    assert forced == want


def test_gemm_kernel_bucketed_fallback_matches_broadcast(spark, monkeypatch):
    """With the staging budget forced tiny, both GEMM ops must route to
    the bucketed cogroup twin (FlatMapCoGroupsInPandas, nothing
    collected driver-side) and return results identical to the
    broadcast kernel — the shared-scorer guarantee."""
    import random

    from recommend_spark import blockkernel
    from recommend_spark.queries.dedup import _containment_pairs
    from recommend_spark.queries.joins import _set_similarity_pairs

    # same corpora as the broadcast-path parity tests above (their seeds
    # are known to plant at least one qualifying pair for each op)
    cdocs = spark.createDataFrame(
        _degenerate_corpus(random.Random(29), 90, 48, lambda k: k),
        "doc_id long, text string",
    )
    sdocs_raw = _degenerate_corpus(random.Random(31), 120, 40, lambda k: k)
    sdocs_raw[100] = (100, sdocs_raw[3][1])
    sdocs = spark.createDataFrame(
        sdocs_raw, "doc_id long, text string"
    ).select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("toks"),
    )

    def rows(df):
        return {tuple(r) for r in df.collect()}

    base_contain = rows(_containment_pairs(cdocs))
    base_ssj = rows(_set_similarity_pairs(sdocs))
    assert base_contain and base_ssj

    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", 2048)
    bucketed_contain = _containment_pairs(cdocs)
    plan = bucketed_contain._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert rows(bucketed_contain) == base_contain

    bucketed_ssj = _set_similarity_pairs(sdocs)
    plan = bucketed_ssj._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert rows(bucketed_ssj) == base_ssj


def _jaccard_brute_force(docs):
    """Every (a < b) pair with token-set Jaccard >= tau.  Tokens split on
    single spaces exactly like Spark's split(lower(text), ' '), so an
    empty text is the one-token set {''}."""
    from recommend_spark.queries.dedup import _JACCARD_TAU

    sets = {i: set(t.lower().split(" ")) for i, t in docs}
    want = set()
    for a, ta in sets.items():
        for b, tb in sets.items():
            if a < b:
                inter = len(ta & tb)
                j = inter / (len(ta) + len(tb) - inter)
                if j >= _JACCARD_TAU:
                    want.add((a, b, inter, j))
    assert want, "fixture must contain at least one qualifying pair"
    return want


def _plant_jaccard_pairs(docs, vocab):
    """Planted pairs at J = 1 (a copy, two empty texts), J = 12/13 (one
    extra token) and J = 11/13 (one token swapped); ids are positions."""
    docs[10] = (10, docs[5][1])
    docs[20] = (20, " ".join(vocab[:12]))
    docs[21] = (21, " ".join(vocab[:13]))
    docs[22] = (22, " ".join(vocab[1:13]))
    docs[30] = (30, "")
    docs[31] = (31, "")
    return docs


def _jaccard_run(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = {
        (r["doc_a"], r["doc_b"], r["n_common"], r["jaccard"])
        for r in df.collect()
    }
    return plan, rows


def test_jaccard_kernel_matches_brute_force_staged_and_grid(spark, monkeypatch):
    """A ≤1024-token vocabulary sends _jaccard_pairs_exact to the bitset
    GEMM kernel: staged map-only within the budget, the bucket grid past
    it.  Both return EXACTLY the brute-force pairs (ids, counts and the
    float64 Jaccard), each unordered pair once."""
    import random

    from recommend_spark import blockkernel
    from recommend_spark.queries.dedup import _jaccard_pairs_exact

    docs = _plant_jaccard_pairs(
        _degenerate_corpus(random.Random(37), 90, 48, lambda k: k),
        [f"w{i:03d}" for i in range(48)],
    )
    want = _jaccard_brute_force(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    plan, staged = _jaccard_run(_jaccard_pairs_exact(df))
    assert "MapInPandas" in plan and "FlatMapCoGroupsInPandas" not in plan
    assert staged == want

    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", 2048)
    plan, grid = _jaccard_run(_jaccard_pairs_exact(df))
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert grid == want


def test_jaccard_prefix_path_matches_brute_force(spark, monkeypatch):
    """A >1024-token vocabulary keeps _jaccard_pairs_exact on the PPJoin
    prefix filter (no kernel), with the same exact pairs and the
    size-gated broadcast rescore."""
    import random

    from recommend_spark import io
    from recommend_spark.queries.dedup import _jaccard_pairs_exact

    rng = random.Random(43)
    vocab = [f"tok{i:05d}" for i in range(1500)]
    # 90 docs draw > 1024 distinct tokens
    docs = [(k, " ".join(rng.sample(vocab, rng.randint(5, 40)))) for k in range(90)]
    docs = _plant_jaccard_pairs(docs, vocab)
    want = _jaccard_brute_force(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    out = _jaccard_pairs_exact(df)
    plan, got = _jaccard_run(out)
    assert "MapInPandas" not in plan
    assert got == want
    _assert_sig_rescore_hints(out, lambda: _jaccard_pairs_exact(df), monkeypatch, io)


def test_minhash_banded_rescore_broadcast_gate(spark, monkeypatch):
    """The banded-LSH rescore's signature-table broadcast is SIZE-GATED
    (r11 verdict item 1): with the hint budget (``io.BROADCAST_HINT_BUDGET``)
    forced to 0 the two rescore hints must disappear from the optimized
    plan (the joins run plain under AQE instead of pinning the full
    per-doc signature table into every executor), and the pairs must be
    bit-identical — the gate changes the physical strategy only, never
    the math."""
    import random

    from recommend_spark import io
    from recommend_spark.queries.dedup import _minhash_banded_pairs_from

    rng = random.Random(7)
    vocab = [f"tok{i:04d}" for i in range(500)]
    docs = []
    for k in range(80):
        docs.append((k, " ".join(rng.sample(vocab, rng.randint(20, 60)))))
    docs[3] = (3, docs[2][1])  # exact dup: all bands match, J = 1
    near = docs[5][1].split()
    near[0] = "tok9999"
    docs[6] = (6, " ".join(near))  # near dup above the family threshold
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def hints(d):
        return (
            d._jdf.queryExecution()
            .optimizedPlan()
            .toString()
            .count("strategy=broadcast")
        )

    base = _minhash_banded_pairs_from(df)
    base_hints = hints(base)
    base_rows = sorted(tuple(r) for r in base.collect())
    assert base_rows, "planted dup pairs must be found"

    monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", 0)
    gated = _minhash_banded_pairs_from(df)
    # exactly the TWO rescore hints (sig side a, sig side b) are gated
    # off; the pipeline's other broadcasts (token hash, minhash params,
    # top-bits vocab) are bounded-size and keep their hints
    assert hints(gated) == base_hints - 2
    assert sorted(tuple(r) for r in gated.collect()) == base_rows


def test_er_prefix_filter_lossless_vs_brute_force(spark, tmp_path, monkeypatch):
    """Ed-Join positional q-gram prefix filter (er_name_match, r12): the
    rare-gram candidate join + position/length alignment must lose NO
    pair within edit distance 2 — including insert/delete edits that
    SHIFT every later gram's position, the case the +-tau alignment
    window exists for.  Randomized corpus with planted sub/ins/del
    variants, verified against the quadratic brute force."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from recommend_spark import io

    # the gate's stats entry is keyed by this run's tmp_path: keep it out
    # of the shared artifact root
    monkeypatch.setattr(io, "ART_ROOT", str(tmp_path))
    rng = random.Random(41)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    names = []
    for k in range(220):
        base = "Cust#" + "".join(rng.choice(alpha) for _ in range(rng.randint(6, 14)))
        names.append(base)
        if k % 4 == 0:  # substitution
            i = rng.randrange(len(base))
            names.append(base[:i] + rng.choice(alpha) + base[i + 1:])
        if k % 5 == 0:  # deletion (shifts all later grams)
            i = rng.randrange(len(base))
            names.append(base[:i] + base[i + 1:])
        if k % 6 == 0:  # insertion (shifts all later grams)
            i = rng.randrange(len(base) + 1)
            names.append(base[:i] + rng.choice(alpha) + base[i:])
        if k % 7 == 0:  # two edits: delete + substitute
            i = rng.randrange(len(base) - 1)
            t = base[:i] + base[i + 1:]
            j = rng.randrange(len(t))
            names.append(t[:j] + rng.choice(alpha) + t[j + 1:])
    names.append("ab")  # short-name branch
    names.append("ac")
    rows = [(i + 1, n, i % 3) for i, n in enumerate(names)]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
                "c_name": pa.array([r[1] for r in rows]),
                "c_nationkey": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )

    from recommend_spark.queries import QUERIES as _Q
    from recommend_spark.queries.text import _er_name_pairs

    got = {
        (r["cust_a"], r["cust_b"], r["edit_dist"])
        for r in _Q["er_name_match"](spark, str(tmp_path)).collect()
    }

    def ed(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            prev = cur
        return prev[-1]

    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if rows[i][2] != rows[j][2]:
                continue
            d = ed(rows[i][1], rows[j][1])
            if d <= 2:
                want.add((rows[i][0], rows[j][0], d))
    assert want, "corpus must contain planted near-dup pairs"
    assert got == want, (len(got), len(want), sorted(want - got)[:5])

    # ALL forced routes must be lossless — the cost gate picks between
    # equivalent plans, never between different answers
    cdf = spark.read.parquet(str(tmp_path / "customer.parquet")).select(
        F.col("c_custkey").alias("cust"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.length("c_name").alias("ln"),
    )
    for path in ("block", "block_collapsed", "prefix"):
        forced = {
            (r["cust_a"], r["cust_b"], r["edit_dist"])
            for r in _er_name_pairs(cdf, force_path=path).collect()
        }
        assert forced == want, (path, len(forced), len(want))


def test_er_collapsed_route_on_duplicated_names(spark):
    """The r13 third regime: a replica-heavy name space (each name
    repeated many times — the perturbed-sf1 blowup driver) must (a) be
    auto-routed to block_collapsed by the cost gate, and (b) produce
    exactly the brute-force pair set, including the edit-0 replica
    pairs and ins/del/sub near-dup pairs ACROSS replica groups."""
    import random

    rng = random.Random(13)
    alpha = "abcdefghij"
    bases = []
    for _ in range(12):
        bases.append("N#" + "".join(rng.choice(alpha) for _ in range(8)))
    variants = []
    for b in bases:
        variants.append(b)
        i = rng.randrange(len(b))
        variants.append(b[:i] + rng.choice(alpha) + b[i + 1:])   # sub
        i = rng.randrange(len(b))
        variants.append(b[:i] + b[i + 1:])                        # del
        i = rng.randrange(len(b) + 1)
        variants.append(b[:i] + rng.choice(alpha) + b[i:])        # ins
    rows = []
    k = 0
    for v in variants:
        for _ in range(rng.randint(2, 6)):  # replicas — the degenerate regime
            k += 1
            rows.append((k, v, k % 2))
    cdf = spark.createDataFrame(
        rows, "cust long, name string, nk int"
    ).withColumn("ln", F.length("name"))

    from recommend_spark.queries.text import _er_name_pairs

    def ed(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            prev = cur
        return prev[-1]

    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if rows[i][2] != rows[j][2]:
                continue
            d = ed(rows[i][1], rows[j][1])
            if d <= 2:
                want.add((rows[i][0], rows[j][0], d))
    assert want

    got = {
        (r["cust_a"], r["cust_b"], r["edit_dist"])
        for r in _er_name_pairs(cdf).collect()  # auto gate
    }
    assert got == want, (len(got), len(want))
    forced = {
        (r["cust_a"], r["cust_b"], r["edit_dist"])
        for r in _er_name_pairs(cdf, force_path="block_collapsed").collect()
    }
    assert forced == want
    # the gate itself must pick the collapsed route here: distinct-name
    # candidates are ~replication² smaller than row candidates
    # (replication mean ~4 ⇒ sd ≪ sk/2)
    n = cdf.groupBy("nk").count().agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
    d = (
        cdf.select("nk", "name").distinct().groupBy("nk").count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
    )
    assert 2 * d < n, "fixture must make the collapsed route the cheap one"
