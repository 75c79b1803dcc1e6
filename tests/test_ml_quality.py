"""Quality gates for the rows-only (ML/approximate) operators — SURVEY §5.4.

These cannot hash-match an oracle by design; instead each approximate
operator is held to a statistical contract against its exact twin.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from recommend_spark.queries import QUERIES
from tests.conftest import SF_DIR


def test_approx_distinct_within_rsd(spark, ddb):
    approx = {
        r["o_orderpriority"]: r["n_cust_approx"]
        for r in QUERIES["agg_approx_distinct"](spark, SF_DIR).collect()
    }
    exact = dict(
        ddb.execute(
            "SELECT o_orderpriority, count(DISTINCT o_custkey) FROM orders GROUP BY 1"
        ).fetchall()
    )
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.05, (k, approx[k], ex)


def test_minhash_recall_vs_exact_jaccard(spark):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_near_jaccard"](spark, SF_DIR).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_near_minhash"](spark, SF_DIR).collect()
    }
    assert exact, "fixture should contain J>=0.8 pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.98, f"MinHashLSH recall {recall:.3f} < 0.98"


def test_ann_lsh_recall_vs_exact(spark):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_cosine_topk"](spark, SF_DIR).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_ann_lsh"](spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.80, f"BRP-LSH recall@5 {recall:.3f} < 0.80"


def test_ivf_recall_vs_exact(spark):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_cosine_topk"](spark, SF_DIR).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["sim_ivf_topk"](spark, SF_DIR).collect()
    }
    # fixture vectors are random (no cluster structure): the adaptive
    # router must detect the flat coarse-assignment margin and widen
    # from nprobe=3 to _IVF_FLAT_FRAC of the 10 cells, lifting recall
    # off the ~nprobe/ncells=0.3 floor (r11 verdict item 5; measured
    # 0.78 at sf0.1 — tools/ann_recall_r12.json at commit 9b03a2d)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@5 {recall:.3f} below the flat-regime gate"


def test_als_training_quality(spark):
    """ALS with the reference hyperparameters must reconstruct the implicit
    matrix meaningfully: prediction-strength rank correlation > 0 and RMSE
    on observed cells below the degenerate all-mean baseline."""
    from recommend_spark.queries.recommender import _fit_als

    ratings, model = _fit_als(spark, SF_DIR)
    pred = model.transform(ratings)
    row = pred.agg(
        F.corr("prediction", "strength").alias("corr"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert row["n"] > 0
    assert row["corr"] is not None and row["corr"] > 0.05, row


def test_tfidf_ml_agrees_on_nnz(spark):
    """HashingTF nnz per doc ~= distinct token count (collisions only)."""
    ml = {r["doc_id"]: r["nnz"] for r in QUERIES["text_tfidf_ml"](spark, SF_DIR).collect()}
    from recommend_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split(F.lower("text"), " "))).alias("n"),
        ).collect()
    }
    for d, n in exact.items():
        assert ml[d] <= n and ml[d] >= n - 3, (d, ml[d], n)


def test_approx_quantile_within_tolerance(spark, ddb):
    approx = {
        r["l_returnflag"]: (r["median_approx"], r["p90_approx"])
        for r in QUERIES["agg_approx_quantile"](spark, SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: (r["median_qty"], r["p90_qty"])
        for r in QUERIES["agg_quantile_disc"](spark, SF_DIR).collect()
    }
    for k, (em, ep) in exact.items():
        am, ap = approx[k]
        assert abs(am - em) <= max(1.0, 0.02 * em), (k, am, em)
        assert abs(ap - ep) <= max(1.0, 0.02 * ep), (k, ap, ep)


def test_bmp_codec_byte_exact_round_trip():
    """decode(encode(img)) must reproduce every pixel for odd widths too
    (row padding) and both row orders."""
    import numpy as np

    from recommend_spark.mm_codecs import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (16, 16), (11, 7)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_bmp(encode_bmp(img))
        assert out.shape == img.shape
        assert (out == img).all(), (h, w)


def test_wav_codec_byte_exact_round_trip():
    import numpy as np

    from recommend_spark.mm_codecs import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    for n in [1, 255, 4096]:
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int16)
        rate, out = decode_wav(encode_wav(samples, sample_rate=22050))
        assert rate == 22050
        assert (out == samples).all(), n


def test_mm_image_pipeline_decodes_real_bmp(spark):
    """The pipeline's output must equal a local numpy decode of the same
    deterministically synthesized payload (byte-exact gate)."""
    import hashlib

    import numpy as np

    from recommend_spark.io import load_table
    from recommend_spark.mm_codecs import decode_bmp
    from recommend_spark.queries.similarity import synth_bmp

    rows = {
        r["doc_id"]: r
        for r in QUERIES["mm_image_pipeline"](spark, SF_DIR).limit(500).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id").isin(*[int(k) for k in list(rows)[:20]]))
        .collect()
    }
    assert docs
    for doc_id, text in docs.items():
        img = decode_bmp(synth_bmp(int(doc_id), text.encode("utf-8")))
        r = rows[doc_id]
        assert (r["width"], r["height"]) == (img.shape[1], img.shape[0])
        assert r["n_px"] == img.shape[0] * img.shape[1]
        assert r["mean_luma"] == float(img.mean()), doc_id


def test_mm_audio_pipeline_decodes_real_wav(spark):
    """Per-window RMS from the pipeline must match a local numpy decode of
    the same synthesized WAV payload exactly."""
    import numpy as np

    from recommend_spark.io import load_table
    from recommend_spark.mm_codecs import decode_wav
    from recommend_spark.queries.similarity import synth_wav

    audio = QUERIES["mm_audio_pipeline"](spark, SF_DIR)
    assert [f.name for f in audio.schema.fields] == [
        "doc_id", "frame_idx", "rms", "n_samples", "sample_rate",
    ]
    a = audio.limit(2000).collect()
    assert len(a) > 0 and all(r["rms"] >= 0 and r["sample_rate"] == 16000 for r in a)
    # 1->N expansion: at least one doc yields multiple frames
    from collections import Counter

    assert max(Counter(r["doc_id"] for r in a).values()) >= 2
    # byte-exact decode gate on one doc
    doc_id = a[0]["doc_id"]
    text = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") == int(doc_id))
        .collect()[0]["text"]
    )
    rate, pcm = decode_wav(synth_wav(int(doc_id), text.encode("utf-8")))
    x = pcm.astype(np.float64)
    got = {r["frame_idx"]: r["rms"] for r in a if r["doc_id"] == doc_id}
    for i, rms in got.items():
        w = x[i * 1024 : (i + 1) * 1024]
        assert rms == float(np.sqrt(np.mean(w * w))), i


def test_y4m_codec_byte_exact_round_trip():
    import numpy as np

    from recommend_spark.mm_codecs import decode_y4m, encode_y4m

    rng = np.random.default_rng(5)
    y = rng.integers(0, 256, (7, 16, 16), dtype=np.uint8)
    u = rng.integers(0, 256, (7, 8, 8), dtype=np.uint8)
    v = rng.integers(0, 256, (7, 8, 8), dtype=np.uint8)
    w, h, fps, y2, u2, v2 = decode_y4m(encode_y4m(y, u, v, fps=(30, 1)))
    assert (w, h, fps) == (16, 16, (30, 1))
    assert (y2 == y).all() and (u2 == u).all() and (v2 == v).all()


def test_mm_video_pipeline_decodes_real_y4m(spark):
    """Sampled-frame hashes and luma from the pipeline must equal a local
    numpy decode of the same synthesized Y4M payload (byte-exact gate)."""
    import hashlib

    from recommend_spark.io import load_table
    from recommend_spark.mm_codecs import decode_y4m
    from recommend_spark.queries.similarity import synth_y4m

    video = QUERIES["mm_video_frames"](spark, SF_DIR)
    v = video.limit(2000).collect()
    assert len(v) > 0
    assert all(r["frame_idx"] % 5 == 0 and r["ts_ms"] == r["frame_idx"] * 40 for r in v)
    assert all(len(r["frame_hash"]) == 16 for r in v)
    doc_id = v[0]["doc_id"]
    text = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") == int(doc_id))
        .collect()[0]["text"]
    )
    w, h, fps, y, u, vv = decode_y4m(synth_y4m(int(doc_id), text.encode("utf-8")))
    got = {r["frame_idx"]: (r["frame_hash"], r["mean_luma"]) for r in v if r["doc_id"] == doc_id}
    assert got
    for i, (fh, luma) in got.items():
        exp = hashlib.sha256(
            y[i].tobytes() + u[i].tobytes() + vv[i].tobytes()
        ).hexdigest()[:16]
        assert fh == exp and luma == float(y[i].mean()), i


def test_als_foldin_reproduces_trained_factors(spark):
    """Folding a trained user's own interactions into the frozen item factors
    must land on (approximately) that user's trained factor — the normal
    equations the trainer itself converged on."""
    import numpy as np

    from recommend_spark.queries.recommender import _fit_als, foldin_factors

    ratings, model = _fit_als(spark, SF_DIR)
    folded = {
        r.user_id: np.array(r.factor)
        for r in foldin_factors(
            spark, ratings, model, F.col("user_id") < 10
        ).collect()
    }
    trained = {
        r.id: np.array(r.features, dtype="float64")
        for r in model.userFactors.filter(F.col("id") < 10).collect()
    }
    assert set(folded) == set(trained)
    cosines = [
        float(
            folded[u] @ trained[u]
            / (np.linalg.norm(folded[u]) * np.linalg.norm(trained[u]))
        )
        for u in folded
    ]
    assert min(cosines) > 0.95, cosines


def test_kmeans_quality_and_determinism(spark):
    """The fixture's labels carry NO geometric signal (within-label cosine ==
    cross-label cosine == 0, verified), so purity is not a meaningful gate.
    What must hold: k distinct non-degenerate clusters, a deterministic
    seeded assignment, and a k-means objective meaningfully below the
    single-centroid baseline (total variance)."""
    import numpy as np

    rows = QUERIES["mm_embed_kmeans"](spark, SF_DIR).collect()
    sizes = {}
    for r in rows:
        sizes[r.cluster] = sizes.get(r.cluster, 0) + 1
    assert len(sizes) == 10
    assert min(sizes.values()) >= 5, sizes  # no collapsed clusters

    rows2 = QUERIES["mm_embed_kmeans"](spark, SF_DIR).collect()
    assert {(r.vec_id, r.cluster) for r in rows} == {
        (r.vec_id, r.cluster) for r in rows2
    }

    from recommend_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings").collect()
    X = np.stack([np.array(r.embedding) for r in emb])
    baseline = ((X - X.mean(axis=0)) ** 2).sum()
    by_cluster = {}
    cl = {r.vec_id: r.cluster for r in rows}
    for r in emb:
        by_cluster.setdefault(cl[r.vec_id], []).append(np.array(r.embedding))
    cost = sum(
        ((np.stack(v) - np.stack(v).mean(axis=0)) ** 2).sum()
        for v in by_cluster.values()
    )
    assert cost < 0.97 * baseline, (cost, baseline)


def test_minhash_banded_recall_vs_exact(spark):
    """The SQL-expressible banding (8 bands x 2 rows) must recover nearly
    every exact J>=0.8 pair; theory says 99.97% at the threshold."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_near_jaccard"](spark, SF_DIR).collect()
    }
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_banded"](spark, SF_DIR).collect()
    }
    assert exact, "fixture should contain J>=0.8 pairs"
    recall = len(exact & banded) / len(exact)
    assert recall >= 0.98, f"banded minhash recall {recall:.3f} < 0.98"
    # rescore keeps banding precision at 1.0: no pair below threshold
    assert banded <= exact or all(
        p in exact for p in banded
    ), "rescored banded pairs must all be true J>=0.8 pairs"


def test_bloom_filter_fp_rate(spark):
    """k=3 / 4096-bit bloom at the fixture load factor must stay under ~5%
    false positives while passing every true member (no false negatives)."""
    rows = QUERIES["join_bloom_filter"](spark, SF_DIR).collect()
    n_pass = len(rows)
    n_member = sum(1 for r in rows if r["is_member"])
    assert n_member > 0, "bloom must pass the true members"
    fp_rate = (n_pass - n_member) / max(1, n_pass)
    assert fp_rate < 0.05, f"bloom FP rate {fp_rate:.3f} too high"


def test_pca_quality_and_determinism(spark):
    """Basis must be orthonormal-projection-shaped: projections centered,
    per-component variance non-increasing, top-8 capturing real variance;
    repeat runs identical (sorted moment reduce + sign convention)."""
    import numpy as np

    def parse(rows):
        # pc is a comma-joined repr string (driver-canon discipline);
        # float(repr(x)) == x, so the parsed matrix is bit-exact.
        return np.array([[float(v) for v in r["pc"].split(",")] for r in rows])

    rows = QUERIES["mm_embed_pca"](spark, SF_DIR).collect()
    P = parse(rows)
    assert P.shape[1] == 8
    # centered: mean of projections ~ 0
    assert np.abs(P.mean(axis=0)).max() < 1e-9
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(7)), "variance must be non-increasing"
    assert var[0] > 0, "top component must carry variance"
    rows2 = QUERIES["mm_embed_pca"](spark, SF_DIR).collect()
    P2 = parse(sorted(rows2, key=lambda r: r["vec_id"]))
    P1 = parse(sorted(rows, key=lambda r: r["vec_id"]))
    assert np.array_equal(P1, P2), "PCA must be run-to-run deterministic"


def test_compression_ratio_matches_zlib(spark):
    import zlib

    rows = QUERIES["text_compression_ratio"](spark, SF_DIR).collect()
    from recommend_spark.io import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(texts)
    for r in rows[:50]:
        raw = texts[r["doc_id"]].encode()
        assert r["n_raw"] == len(raw)
        assert r["n_comp"] == len(zlib.compress(raw, 6))
        assert 0 < r["ratio"] < 1.5


def test_rec_eval_recall_sane_and_deterministic(spark):
    """The eval harness must produce a valid, reproducible metric.  (On
    this SYNTHETIC fixture interactions are near-random, so ALS cannot
    beat the random baseline — the gate checks harness integrity: a real
    preference dataset is where the metric becomes discriminative.)"""
    row = QUERIES["rec_eval_recall"](spark, SF_DIR).collect()[0]
    assert row["n_test"] > 0 and row["n_users_eval"] > 0
    assert 0.0 <= row["recall_at_10"] <= 1.0
    assert row["n_hits"] >= 0
    row2 = QUERIES["rec_eval_recall"](spark, SF_DIR).collect()[0]
    assert row2["recall_at_10"] == row["recall_at_10"], "must be reproducible"


def test_unigram_surprisal_clear_of_decimal_rounding_boundaries():
    """Cross-engine surprisal determinism rests on one DECIMAL(18,6)
    rounding of -ln(c/t) agreeing between JVM and DuckDB libm.  A 1-ulp
    divergence (~1e-15 abs at these magnitudes) only matters if a value
    lands within that distance of a 0.5e-6 rounding midpoint.  Assert every
    distinct token's surprisal keeps a >=1e-9 margin in grid units (1e6x
    the worst ulp gap) so the guarantee is structural, not luck."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    c = con.execute(
        f"""
        WITH tok AS (
          SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM read_parquet('{SF_DIR}/documents.parquet')
        )
        SELECT count(*) AS c FROM tok WHERE w != '' GROUP BY w
        """
    ).fetchnumpy()["c"].astype(np.float64)
    s = -np.log(c / c.sum())
    grid = s * 1e6  # rounding grid: midpoints at frac == 0.5
    dist_to_midpoint = np.abs((grid % 1.0) - 0.5)
    assert dist_to_midpoint.min() > 1e-9, (
        f"token surprisal {s[dist_to_midpoint.argmin()]} sits "
        f"{dist_to_midpoint.min():.2e} grid units from a rounding midpoint"
    )


def test_embedding_elements_clear_of_decimal_rounding_midpoints():
    """mm_tensor_reshape / mm_embed_quantize serialize embedding elements
    through DECIMAL(18,6); both engines round the SAME double, so the one
    structural risk is a rounding-rule disagreement at an exact 0.5e-6
    midpoint.  Assert every fixture element keeps a >=1e-9 margin in grid
    units (the unigram-surprisal bar) so the agreement is structural, not
    luck.  Measured: 5.9e-7 at sf0.001, 4.2e-6 at sf0.1."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    x = con.execute(
        f"SELECT flatten(list(embedding)) "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchone()[0]
    a = np.asarray(x, dtype=np.float64)
    dist = np.abs((a * 1e6 % 1.0) - 0.5)
    assert dist.min() > 1e-9, (
        f"embedding element {a[dist.argmin()]} sits {dist.min():.2e} grid "
        "units from a DECIMAL(18,6) rounding midpoint"
    )


def test_pq_quantization_quality_and_determinism(spark):
    """mm_embed_pq gates: (1) codes are valid codebook ids, (2) repeat runs
    are bit-identical (deterministic init + fixed fold order), (3) PQ
    reconstruction error is far below the k=1 baseline (reconstructing
    every vector as the global mean), the standard sanity bound for any
    vector quantizer."""
    import numpy as np

    from recommend_spark.io import load_table
    from recommend_spark.queries import QUERIES

    def codes_of(r):
        # codes is a comma-joined int string (driver-canon discipline)
        return tuple(int(c) for c in r["codes"].split(","))

    r1 = sorted(
        (r["vec_id"], codes_of(r), r["sq_err"])
        for r in QUERIES["mm_embed_pq"](spark, SF_DIR).collect()
    )
    r2 = sorted(
        (r["vec_id"], codes_of(r), r["sq_err"])
        for r in QUERIES["mm_embed_pq"](spark, SF_DIR).collect()
    )
    assert r1 == r2, "PQ is not deterministic across runs"
    assert all(0 <= c < 16 for _, codes, _ in r1 for c in codes)
    assert all(len(codes) == 8 for _, codes, _ in r1)

    X = np.asarray(
        [
            r["e"]
            for r in load_table(spark, SF_DIR, "embeddings")
            .select(F.col("embedding").cast("array<double>").alias("e"))
            .collect()
        ]
    )
    baseline = ((X - X.mean(axis=0)) ** 2).sum(axis=1).mean()
    pq_err = float(np.mean([e for _, _, e in r1]))
    # The fixture embeddings are near-isotropic noise — the hardest case
    # for any quantizer (16 centroids in an 8-dim Gaussian subspace buy
    # ~45% variance reduction, no more).  Gate at 25% improvement so the
    # bound is robust while still catching a broken codebook (which lands
    # at ~= baseline).
    assert pq_err < 0.75 * baseline, (pq_err, baseline)


def test_pagerank_mass_determinism_positivity(spark):
    """graph_pagerank gates: (a) two runs are bit-identical (the decimal
    contribution accumulation makes the float sums order-free), (b) every
    rank is positive and >= the damping floor 0.15, (c) the top-20 ranks
    are sorted descending with the declared (rank DESC, node) total order."""
    a = QUERIES["graph_pagerank"](spark, SF_DIR).collect()
    b = QUERIES["graph_pagerank"](spark, SF_DIR).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 20
    ranks = [r["rank"] for r in a]
    assert all(r >= 0.15 for r in ranks)
    assert ranks == sorted(ranks, reverse=True)
    # top nodes should concentrate mass: best node clearly above the floor
    assert ranks[0] > 0.5


def test_hll_sketch_accuracy_and_merge(spark, ddb):
    """agg_hll_sketch gates: per-type estimates within 5% of exact, and the
    __all__ row (computed by UNIONING the per-type sketches) within 5% of
    the exact global distinct — the mergeability contract."""
    rows = {r["event_type"]: r["est_users"]
            for r in QUERIES["agg_hll_sketch"](spark, SF_DIR).collect()}
    exact = dict(ddb.execute(
        "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
    ).fetchall())
    exact["__all__"] = ddb.execute(
        "SELECT count(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    for k, ex in exact.items():
        assert abs(rows[k] - ex) / ex < 0.05, (k, rows[k], ex)


def test_ivf_pq_determinism_and_quality(spark):
    """sim_ivf_pq gates: (a) two runs bit-identical (codebook + routing +
    ADC kernel are all deterministic), (b) retrieved-neighbor QUALITY —
    the mean TRUE cosine of the ADC-chosen top-5 must recover most of the
    exact top-5's mean cosine (ADC scores approximate, so rank agreement
    is the honest metric, not score equality), (c) shape: 5 neighbors per
    query, no self-pairs."""
    import numpy as np

    a = QUERIES["sim_ivf_pq"](spark, SF_DIR).collect()
    b = QUERIES["sim_ivf_pq"](spark, SF_DIR).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    got = {}
    for r in a:
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert r["query_id"] != r["neighbor_id"]
    assert all(len(v) == 5 for v in got.values())

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }
    ratios = []
    for qid, nbrs in got.items():
        q = emb[qid]
        scores = {v: float(q @ emb[v]) for v in emb if v != qid}
        best5 = sorted(scores.values(), reverse=True)[:5]
        picked = [scores[v] for v in nbrs]
        ratios.append(np.mean(picked) / np.mean(best5))
    # random top-5 on this fixture averages ~0 cosine; require the ADC
    # retrieval to recover a solid fraction of the exact optimum
    assert np.mean(ratios) > 0.5, ratios


def test_als_predict_pairs_scores_track_strength(spark):
    """Pair scoring covers the requested candidate set with finite scores
    that positively correlate with the observed interaction strength
    (the same signal gate as training, applied through the op's surface)."""
    import math

    from recommend_spark.queries.recommender import _fit_als

    ratings, _ = _fit_als(spark, SF_DIR)
    truth = {
        (r["user_id"], r["item_id"]): r["strength"] for r in ratings.collect()
    }
    rows = QUERIES["als_predict_pairs"](spark, SF_DIR).collect()
    assert len(rows) == min(200, len(truth))
    xs, ys = [], []
    for r in rows:
        assert math.isfinite(r["score"]), r
        xs.append(truth[(r["user_id"], r["item_id"])])
        ys.append(r["score"])
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
    vx = sum((a - mx) ** 2 for a in xs) or 1.0
    vy = sum((b - my) ** 2 for b in ys) or 1.0
    assert cov / (vx * vy) ** 0.5 > 0.05, "scores uncorrelated with strength"


def test_als_recommend_topk_shape_and_novelty(spark):
    """Top-k recs: <=5 per user, scores non-increasing per user with a
    total-order tiebreak, every item popular (>=25 raters), and none
    already seen by that user."""
    from collections import defaultdict

    from recommend_spark.queries.recommender import _fit_als

    ratings, _ = _fit_als(spark, SF_DIR)
    seen = {(r["user_id"], r["item_id"]) for r in ratings.collect()}
    pop = {
        r["item_id"]
        for r in ratings.groupBy("item_id")
        .agg(F.countDistinct("user_id").alias("n"))
        .filter(F.col("n") >= 25)
        .collect()
    }
    per_user = defaultdict(list)
    for r in QUERIES["als_recommend_topk"](spark, SF_DIR).collect():
        assert (r["user_id"], r["item_id"]) not in seen, "recommended a seen item"
        assert r["item_id"] in pop, "recommended an unpopular item"
        per_user[r["user_id"]].append(r["score"])
    assert per_user, "no recommendations produced"
    for u, scores in per_user.items():
        assert len(scores) <= 5
        assert scores == sorted(scores, reverse=True), (u, scores)


def test_heavy_hitters_bounds_on_fixture(spark, ddb):
    rows = QUERIES["agg_heavy_hitters"](spark, SF_DIR).collect()
    assert rows and len(rows) <= 20
    err_ub = rows[0]["err_ub"]
    assert all(r["err_ub"] == err_ub for r in rows)
    exact = dict(
        ddb.execute(
            "SELECT l_partkey, count(*) FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    for r in rows:
        true = exact.get(r["item"], 0)
        assert r["est_min"] <= true <= r["est_min"] + err_ub, (
            r["item"], r["est_min"], true, err_ub,
        )


def test_heavy_hitters_finds_planted_hitter(spark):
    """The Misra-Gries guarantee on a stream where a heavy hitter EXISTS
    (the fixture's part counts are near-uniform, so the bound is vacuous
    there): one key holds ~60% of a 5k-row stream over a 200-key tail
    domain wider than k=9 counters — the sketch must surface it with
    bounds that actually pin it."""
    import pyspark.sql.functions as SF

    from recommend_spark.queries.aggregates import mg_summaries

    hot = spark.range(3000).select(SF.lit(7).alias("k"))
    tail = spark.range(2000).select((100 + SF.col("id") % 200).alias("k"))
    df = hot.unionAll(tail).repartition(4)
    merged = (
        mg_summaries(df, "k", 9)
        .groupBy("key")
        .agg(SF.sum("cnt").alias("est_min"))
    )
    got = {r["key"]: r["est_min"] for r in merged.collect()}
    err_ub = got.pop(-1)
    # any key with true count > err_ub is guaranteed present, and the
    # planted hitter dominates every possible undercount
    assert err_ub < 3000
    assert 7 in got
    assert got[7] <= 3000 <= got[7] + err_ub
    for k, est in got.items():
        true = 3000 if k == 7 else 10
        assert est <= true <= est + err_ub, (k, est, true, err_ub)


def test_label_propagation_recovers_planted_partition(spark):
    """LPA on a graph with KNOWN communities (three 8-cliques with weak
    bridges) must recover exactly the planted blocks; the fixture's
    co-purchase graph is TPC-H-random, so recovery is gated here on a
    planted-partition graph driven through the same kernel."""
    from recommend_spark.queries.recommender import label_propagation

    cliques = [list(range(b, b + 8)) for b in (0, 100, 200)]
    pairs = [
        (a, b, 5)
        for cl in cliques
        for i, a in enumerate(cl)
        for b in cl[i + 1:]
    ] + [(0, 100, 1), (100, 200, 1)]  # weak inter-community bridges
    edges = spark.createDataFrame(
        [(s, d, w) for s, d, w in pairs] + [(d, s, w) for s, d, w in pairs],
        "src long, dst long, w long",
    )
    lbl = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert len(lbl) == 24
    for cl in cliques:
        labs = {lbl[n] for n in cl}
        assert labs == {cl[0]}, (cl[0], labs)


def test_label_propagation_fixture_determinism(spark):
    a = [tuple(r) for r in QUERIES["graph_label_propagation"](spark, SF_DIR).collect()]
    b = [tuple(r) for r in QUERIES["graph_label_propagation"](spark, SF_DIR).collect()]
    assert a == b and a
    nodes = {n for n, _ in a}
    assert all(c in nodes for _, c in a)


def test_markov_removal_effects_hand_chains():
    """The absorbing-chain kernel on chains small enough to solve by hand."""
    from recommend_spark.queries.analytics import markov_removal_effects

    # single path START -> a -> b -> CONV: removing either kills all
    # conversion, so both effects are 1 and shares split evenly
    counts = {("START", "a"): 10, ("a", "b"): 10, ("b", "CONV"): 10}
    p, eff, sh = markov_removal_effects(counts, ["a", "b"])
    assert abs(p - 1.0) < 1e-12
    assert abs(eff["a"] - 1.0) < 1e-12 and abs(eff["b"] - 1.0) < 1e-12
    assert abs(sh["a"] - 0.5) < 1e-12 and abs(sh["b"] - 0.5) < 1e-12

    # branch: a converts, b drops — all credit to a
    counts = {
        ("START", "a"): 5, ("a", "CONV"): 5,
        ("START", "b"): 5, ("b", "DROP"): 5,
    }
    p, eff, sh = markov_removal_effects(counts, ["a", "b"])
    assert abs(p - 0.5) < 1e-12
    assert abs(eff["a"] - 1.0) < 1e-12 and abs(eff["b"]) < 1e-12
    assert abs(sh["a"] - 1.0) < 1e-12


def test_markov_attribution_fixture_axioms(spark):
    rows = QUERIES["rec_markov_attribution"](spark, SF_DIR).collect()
    assert rows
    chans = [r["channel"] for r in rows]
    assert "START" not in chans and "CONV" not in chans and "DROP" not in chans
    assert all(0.0 <= r["removal_effect"] <= 1.0 for r in rows)
    assert all(0.0 <= r["attribution_share"] <= 1.0 for r in rows)
    assert abs(sum(r["attribution_share"] for r in rows) - 1.0) < 1e-9
    assert all(0.0 < r["p_conversion"] <= 1.0 for r in rows)
    again = QUERIES["rec_markov_attribution"](spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_mmr_rerank_gates(spark):
    """sim_rerank_mmr: picks come from the exact top-20, the first pick is
    the relevance argmax, and the diversified set is never MORE redundant
    than the plain top-5 (the one property MMR must deliver)."""
    import numpy as np

    mmr = QUERIES["sim_rerank_mmr"](spark, SF_DIR).collect()
    exact = QUERIES["sim_cosine_topk"](spark, SF_DIR).collect()
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    emb = {i: np.array(v, dtype=np.float64) for i, v in zip(ids, vecs)}

    by_q: dict[int, list] = {}
    for r in sorted(mmr, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    top5 = {}
    for r in exact:
        top5.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(by_q) == set(top5)

    def avg_pairwise(ids_):
        v = np.stack([emb[i] for i in ids_])
        sims = v @ v.T
        n = len(ids_)
        return (sims.sum() - np.trace(sims)) / (n * (n - 1))

    for qid, rows in by_q.items():
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        picks = [r["neighbor_id"] for r in rows]
        assert len(set(picks)) == 5
        # rank-1 pick is the relevance argmax = exact top-1 neighbor
        assert picks[0] == top5[qid][0]
        # MMR must not be more redundant than the plain top-5
        assert avg_pairwise(picks) <= avg_pairwise(top5[qid]) + 1e-9


def test_mmr_kernel_hand_case():
    """Hand-computable diversification: three candidates where the greedy
    must SKIP the second-most-relevant (a near-duplicate of the first)
    in favor of the orthogonal third."""
    import numpy as np

    from recommend_spark.queries.similarity import mmr_select

    v1 = np.array([1.0, 0.0])
    v2 = np.array([0.999, 0.0447213595])  # ~same direction as v1
    v3 = np.array([0.0, 1.0])
    vecs = np.stack([v1, v2, v3])
    rel = np.array([1.0, 0.95, 0.5])
    sel = mmr_select(rel, vecs, k=3, lam=0.7)
    order = [i for i, _ in sel]
    # pick1: argmax rel = 0.  pick2: cand1 scores .7*.95-.3*.999=.365,
    # cand2 scores .7*.5-.3*0=.35 -> cand1 barely wins... verify exactly:
    s1 = 0.7 * 0.95 - 0.3 * float(v1 @ v2)
    s2 = 0.7 * 0.5 - 0.3 * 0.0
    expected_second = 1 if s1 > s2 else 2
    assert order[0] == 0
    assert order[1] == expected_second
    assert sorted(order) == [0, 1, 2]
    # with a stronger diversity weight the duplicate must lose
    sel_div = mmr_select(rel, vecs, k=2, lam=0.5)
    assert [i for i, _ in sel_div] == [0, 2]


def test_mmr_kernel_tie_keeps_higher_relevance():
    import numpy as np

    from recommend_spark.queries.similarity import mmr_select

    vecs = np.eye(3)
    rel = np.array([0.9, 0.9, 0.9])
    sel = mmr_select(rel, vecs, k=3, lam=0.7)
    assert [i for i, _ in sel] == [0, 1, 2]


def test_kcore_peel_planted_k4_plus_chain(spark, monkeypatch):
    """K4 with a pendant chain hanging off it: the 3-core must be exactly
    the K4, and the chain must peel by CASCADE (5 falls first, then 6
    has degree 1, then 7) — a single non-iterated degree filter would
    leave 5 in place (initial degree 2... below 3 — so the cascade test
    is the chain under k=2 below)."""
    import recommend_spark.io as io
    from recommend_spark.queries.recommender import kcore_peel

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    chain = [(4, 5), (5, 4), (5, 6), (6, 5), (6, 7), (7, 6)]
    edges = spark.createDataFrame(k4 + chain, "src long, dst long")
    # an endgame bound of 0 forces the distributed synchronous rounds;
    # the default goes through the single-task residual fixpoint —
    # both phases must produce the identical core
    for thr in (0, 5_000_000):
        monkeypatch.setattr(io, "LOCAL_ENDGAME_EDGES", thr)
        core = kcore_peel(edges, k=3, rounds=6)
        nodes = {r["src"] for r in core.select("src").distinct().collect()}
        assert nodes == {1, 2, 3, 4}, f"threshold={thr}"


def test_kcore_peel_cascade_strips_chain_keeps_cycle(spark, monkeypatch):
    """Cycle 1-2-3-4-1 with chain 4-5-6-7: under k=2 the chain end (7,
    degree 1) peels first, which drops 6 to degree 1, then 5 — three
    cascade rounds — while the cycle survives untouched."""
    import recommend_spark.io as io
    from recommend_spark.queries.recommender import kcore_peel

    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    cyc = cyc + [(b, a) for a, b in cyc]
    chain = [(4, 5), (5, 6), (6, 7)]
    chain = chain + [(b, a) for a, b in chain]
    edges = spark.createDataFrame(cyc + chain, "src long, dst long")
    for thr in (0, 5_000_000):
        monkeypatch.setattr(io, "LOCAL_ENDGAME_EDGES", thr)
        core = kcore_peel(edges, k=2, rounds=6)
        nodes = {r["src"] for r in core.select("src").distinct().collect()}
        assert nodes == {1, 2, 3, 4}, f"threshold={thr}"


def test_kcore_local_fixpoint_converges_deep_cascade(spark):
    """A 30-link chain off a triangle needs 30 peel rounds; a round
    budget of 2 alone would return a non-converged superset.  The
    residual-collapse phase must finish the cascade exactly: only the
    triangle survives."""
    from recommend_spark.queries.recommender import kcore_peel

    tri = [(1, 2), (2, 3), (3, 1)]
    tri = tri + [(b, a) for a, b in tri]
    chain = [(100 + i, 101 + i) for i in range(30)] + [(3, 100)]
    chain = chain + [(b, a) for a, b in chain]
    edges = spark.createDataFrame(tri + chain, "src long, dst long")
    core = kcore_peel(edges, k=2, rounds=2)
    nodes = {r["src"] for r in core.select("src").distinct().collect()}
    assert nodes == {1, 2, 3}


def test_kcore_fixture_self_consistent(spark):
    """Every node the operator reports must still have core_degree >= 2
    (the defining k-core invariant) and the result must be non-empty on
    the fixture corpus."""
    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["graph_kcore"](spark, SF_DIR).collect()
    assert rows, "2-core unexpectedly empty on the fixture"
    assert all(r["core_degree"] >= 2 for r in rows)


def test_tdigest_kernel_rank_error_bounded():
    """Merging 8 disjoint partial digests must answer quantiles within
    the t-digest rank-error bound (~1/delta at the median) of the exact
    empirical quantile — and merged-partials must agree with a digest
    built in one shot (the mergeability contract)."""
    import numpy as np

    from recommend_spark.queries.aggregates import (
        tdigest_compress,
        tdigest_from_values,
        tdigest_quantile,
    )

    rng = np.random.RandomState(7)
    data = np.concatenate(
        [rng.lognormal(3.0, 1.2, 20_000), rng.uniform(0, 5, 5_000)]
    )
    parts = np.array_split(data, 8)
    ms, ws = [], []
    for i, p in enumerate(parts):
        # both build paths must produce mergeable digests: the vectorized
        # bulk builder (the operator's hot path) and the greedy walk
        if i % 2 == 0:
            m, w = tdigest_from_values(p, delta=100.0)
        else:
            m, w = tdigest_compress(p, np.ones(len(p)), delta=100.0)
        assert abs(sum(w) - len(p)) < 1e-9
        ms.extend(m)
        ws.extend(w)
    m, w = tdigest_compress(ms, ws, delta=100.0)
    assert len(m) <= 200, "digest did not stay bounded"
    s = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = tdigest_quantile(m, w, q)
        # rank error: where does est fall in the exact CDF?
        rank = np.searchsorted(s, est) / len(s)
        assert abs(rank - q) < 0.02, f"q={q}: est rank {rank}"


def test_agg_tdigest_operator_matches_exact_quantiles(spark):
    """The distributed operator's estimates must sit within 2% rank
    error of DuckDB's exact quantiles per group, and n must be exact."""
    import duckdb

    from recommend_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["agg_tdigest"](spark, SF_DIR).collect()
    assert rows
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    )
    for r in rows:
        rank, n = con.execute(
            """
            SELECT count(*) FILTER (l_extendedprice <= ?)
                     / CAST(count(*) AS DOUBLE),
                   count(*)
            FROM lineitem WHERE l_returnflag = ?
            """,
            [r["est"], r["grp"]],
        ).fetchone()
        assert n == r["n"], (r["grp"], n, r["n"])
        assert abs(rank - r["q"]) < 0.02, (r["grp"], r["q"], rank)


def test_ivf_adaptive_probe_widths(spark, tmp_path):
    """The adaptive router's regime split, pinned on synthetic corpora:
    clustered queries (one dominant cell) keep the narrow nprobe=3 probe
    — the planted-leg wall stays unregressed — while structure-free
    queries widen to _IVF_FLAT_FRAC of the cells, lifting recall off the
    nprobe/ncells floor (r11 verdict item 5)."""
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recommend_spark.queries.similarity import (
        _IVF_FLAT_FRAC,
        _IVF_NPROBE,
        _ivf_route,
    )

    K, dim, n = 10, 64, 400
    rng = np.random.default_rng(5)

    def write_corpus(dirname, clustered):
        cents = rng.normal(size=(K, dim))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        ids, labs, embs = [], [], []
        for i in range(n):
            lab = i % K
            v = (
                cents[lab] + 0.1 * rng.normal(size=dim)
                if clustered
                else rng.normal(size=dim)
            )
            v /= np.linalg.norm(v)
            ids.append(i)
            labs.append(lab)
            embs.append([float(x) for x in v])
        d = tmp_path / dirname
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(embs, pa.list_(pa.float32())),
                    "label": pa.array(labs, pa.int32()),
                }
            ),
            str(d / "embeddings.parquet"),
        )
        return str(d)

    def probes_per_query(sf_dir):
        rows = _ivf_route(spark, sf_dir).groupBy("query_id").count().collect()
        return {r["query_id"]: r["count"] for r in rows}

    planted = probes_per_query(write_corpus("planted", clustered=True))
    assert planted and all(v == _IVF_NPROBE for v in planted.values()), planted

    flat = probes_per_query(write_corpus("flat", clustered=False))
    wide = math.ceil(_IVF_FLAT_FRAC * K)
    # noise can make the odd query look structured; the REGIME must widen
    assert flat and sum(v == wide for v in flat.values()) >= len(flat) - 2, flat


def test_uu_sampled_equals_exact_below_cap(spark):
    """rec_user_user_sampled (r13): below the 64-member audience cap every
    pair weight is exactly 1, so the estimator must REPRODUCE the exact
    twin bit-for-bit (est_cooc == cooc, same top-3, same cos)."""
    exact = {
        (r["user_a"], r["user_b"]): (r["cooc"], r["cos_sim"])
        for r in QUERIES["rec_user_user"](spark, SF_DIR).collect()
    }
    sampled = {
        (r["user_a"], r["user_b"]): (r["est_cooc"], r["cos_sim"])
        for r in QUERIES["rec_user_user_sampled"](spark, SF_DIR).collect()
    }
    assert exact, "fixture must produce neighbor pairs"
    assert set(exact) == set(sampled)
    for k, (cooc, cos) in exact.items():
        est, cos2 = sampled[k]
        assert est == float(cooc), (k, est, cooc)
        assert cos2 == cos, k


def test_uu_sampled_conserves_pair_mass_and_bounds_work(spark):
    """Above the cap the estimator stays honest two ways, both EXACT
    identities (integer arithmetic, no tolerance):

    * mass conservation — summed est_scaled over all pairs equals
      DENOM * Σ_i C(a_i, 2): per item, C(s,2) sampled pairs each weighted
      a(a-1)/(s(s-1)) sum to exactly C(a,2);
    * bounded work — the pair join emits at most C(64,2) rows per item,
      regardless of audience (here a planted item with the FULL user
      population as its audience)."""
    from recommend_spark.queries.recommender import (
        _UU_DENOM,
        _UU_SAMPLE_CAP,
        _baskets_artifact,
    )

    b = _baskets_artifact(spark, SF_DIR)
    hyper = b.select("u").distinct().select(
        "u", F.lit(-777).cast(b.schema["i"].dataType).alias("i")
    )
    bb = b.unionByName(hyper.select("u", "i"))

    # inline re-derivation of the op's weighted pair stream over bb
    from pyspark.sql import Window as W

    cnt = bb.groupBy("i").agg(F.count("*").alias("a"))
    wi = W.partitionBy("i").orderBy(
        F.md5(F.concat_ws("#", F.col("i").cast("string"), F.col("u").cast("string"))),
        "u",
    )
    samp = (
        bb.withColumn("r", F.row_number().over(wi))
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
    x = wts.select("i", F.col("u").alias("ua"), "w")
    y = wts.select(F.col("i").alias("i2"), F.col("u").alias("ub"))
    pairs = x.join(
        y, (F.col("i") == F.col("i2")) & (F.col("ua") < F.col("ub"))
    ).select("i", "w")

    # bounded work: the hyper item contributes exactly C(cap, 2) pair rows
    cap_pairs = _UU_SAMPLE_CAP * (_UU_SAMPLE_CAP - 1) // 2
    n_hyper_pairs = pairs.filter(F.col("i") == -777).count()
    n_users = hyper.count()
    assert n_users > _UU_SAMPLE_CAP, "fixture population must exceed the cap"
    assert n_hyper_pairs == cap_pairs

    # exact mass conservation: DENOM * sum_i C(a_i, 2) == sum(w over pairs)
    want = (
        cnt.select(
            F.sum(F.col("a") * (F.col("a") - 1) / 2).cast("long").alias("m")
        ).first()["m"]
        * _UU_DENOM
    )
    got = pairs.agg(F.sum("w").alias("s")).first()["s"]
    assert got == want, (got, want)


def test_ii_sampled_equals_exact_below_cap_and_conserves_mass(spark):
    """rec_item_item_sampled (r13): below the 64-item basket cap it must
    reproduce the exact twin bit-for-bit (the MAX_BASKET guard is a
    fixture no-op, so the two ops see identical baskets); an injected
    hyper-active user (the full item population in one basket) must
    contribute exactly C(64,2) pair rows with exact mass conservation."""
    exact = {
        (r["item_a"], r["item_b"]): (r["cooc"], r["cos_sim"])
        for r in QUERIES["rec_item_item"](spark, SF_DIR).collect()
    }
    sampled = {
        (r["item_a"], r["item_b"]): (r["est_cooc"], r["cos_sim"])
        for r in QUERIES["rec_item_item_sampled"](spark, SF_DIR).collect()
    }
    assert exact and set(exact) == set(sampled)
    for k, (cooc, cos) in exact.items():
        est, cos2 = sampled[k]
        assert est == float(cooc) and cos2 == cos, k

    from pyspark.sql import Window as W

    from recommend_spark.queries.recommender import (
        _II_DENOM,
        _II_SAMPLE_CAP,
        _baskets_artifact,
    )

    b = _baskets_artifact(spark, SF_DIR)
    hyper = b.select("i").distinct().select(
        F.lit(-888).cast(b.schema["u"].dataType).alias("u"), "i"
    )
    bb = b.unionByName(hyper)
    cnt = bb.groupBy("u").agg(F.count("*").alias("a"))
    wi = W.partitionBy("u").orderBy(
        F.md5(F.concat_ws("#", F.col("u").cast("string"), F.col("i").cast("string"))),
        "i",
    )
    wts = (
        bb.withColumn("r", F.row_number().over(wi))
        .filter(F.col("r") <= _II_SAMPLE_CAP)
        .drop("r")
        .join(cnt, "u")
        .select(
            "u",
            "i",
            F.when(F.col("a") <= _II_SAMPLE_CAP, F.lit(_II_DENOM))
            .otherwise(F.col("a") * (F.col("a") - 1))
            .cast("long")
            .alias("w"),
        )
    )
    x = wts.select("u", F.col("i").alias("ia"), "w")
    y = wts.select(F.col("u").alias("u2"), F.col("i").alias("ib"))
    pairs = x.join(
        y, (F.col("u") == F.col("u2")) & (F.col("ia") < F.col("ib"))
    ).select("u", "w")
    assert (
        pairs.filter(F.col("u") == -888).count()
        == _II_SAMPLE_CAP * (_II_SAMPLE_CAP - 1) // 2
    )
    want = (
        cnt.select(
            F.sum(F.col("a") * (F.col("a") - 1) / 2).cast("long").alias("m")
        ).first()["m"]
        * _II_DENOM
    )
    assert pairs.agg(F.sum("w")).first()[0] == want
