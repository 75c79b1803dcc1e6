"""§2.9c Similarity search + multimodal operators (LLM-data-pipeline mandate).

- sim_cosine_topk   exact brute-force top-k (the baseline + the oracle)
- sim_ann_lsh       random-projection LSH ANN (the scale path; recall-tested)
- sim_ivf_topk      IVF-style: coarse quantizer (per-label centroids) → probe
                    one cell (the other scale path; recall-tested)
- mm_embed_join     multimodal join + per-label centroid (full 64-dim)
- mm_binary_meta    binary-column plumbing: encode → byte length / hashing
- mm_image_pipeline / mm_audio_pipeline / mm_video_frames
                    rows-only mapInPandas decode pipelines with REAL
                    pure-numpy codecs (BMP / WAV-PCM16 / YUV4MPEG2 —
                    recommend_spark.mm_codecs), byte-exact decode gates in
                    tests/test_ml_quality.py
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from .. import blockkernel
from ..blockkernel import (
    block_join,
    candidate_matrix_bytes,
    embeddings_from_rows,
    index_ordered_dot_block,
    iter_stream_tiles,
    staged_embeddings,
    topk_by_value_then_id,
)
from ..io import load_table, sf_key, spread_width, stage
from ..registry import register

_SQL_DOT_QC = """
  list_reduce(
    list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, 64),
        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
    (x, y) -> x + y)
"""


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@register(
    "sim_cosine_topk",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_SQL_DOT_QC} AS cosine
    FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id != c.vec_id
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id ORDER BY cosine DESC, c.vec_id
    ) <= 5
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """Exact top-5 cosine neighbors for the first 10 query vectors
    (unit-norm ⇒ cosine ≡ dot).  Brute force is the correctness baseline;
    at 100 TB the same ranking runs behind sim_ann_lsh / sim_ivf_topk.
    Bit-exact across engines because both left-fold the dot product."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("qe"), F.col("ce")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cosine")
    )


@register("sim_ann_lsh")  # rows-only: LSH buckets are engine-specific
def sim_ann_lsh(spark, sf_dir):
    """Approximate NN via random-projection (bucketed) LSH — hashes are
    data-independent so indexing is a narrow map; recall@5 vs the exact twin
    asserted in tests/test_ml_quality.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("vec")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=0.5, numHashTables=6, seed=42
    )
    model = lsh.fit(e)
    q = e.filter(F.col("vec_id") < 10)
    # distance threshold 2.0 covers the whole unit sphere => candidates only
    # bounded by the hash buckets; rescore + rank exactly like the twin
    pairs = model.approxSimilarityJoin(q, e, 2.0, "dist").select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        (1.0 - F.col("dist") * F.col("dist") / 2.0).alias("cosine_est"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_est").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cosine_est")
    )


#: IVF probe width shared by sim_ivf_topk and sim_ivf_pq — a nprobe/cell
#: retune lands in ONE place (the coarse-assignment block used to be
#: duplicated at both call sites; r10 verdict nit #2).
_IVF_NPROBE = 3

#: Adaptive widening (r11 verdict item 5): when a query's coarse
#: assignment is FLAT (no cell dominates — the structure-free regime
#: where fixed nprobe floors recall at ~nprobe/ncells), probe this
#: fraction of all cells instead.  0.7 of 10 fixture cells lifts the
#: random-leg recall@5 from the 0.36 floor to ~0.7 while planted
#: corpora (one dominant cell per query) keep the narrow 3-cell probe.
_IVF_FLAT_FRAC = 0.7


def _ivf_route(spark, sf_dir, nprobe: int = _IVF_NPROBE):
    """Shared IVF coarse routing: coarse cells = per-label mean centroids
    (the fixture's label is the trained-quantizer stand-in); each of the
    10 fixture queries is assigned to its ``nprobe`` highest-dot cells —
    widened adaptively per query when the assignment margin is flat.
    Returns one row per probe: (query_id, qe — the RAW-typed query
    embedding, callers cast as they need, cell).

    Flatness test (per query, over its K cell scores): STRUCTURED iff
    z1 = (max − mean)/sd ≥ 2.0 AND zgap = (top1 − top2)/sd ≥ 0.8 (the
    joint rule; thresholds simulated — see the inline comment).  Sharply
    clustered corpora keep the narrow probe (wall unregressed); flat or
    ambiguous queries widen to ``_IVF_FLAT_FRAC`` of the cells (recall
    off the nprobe/ncells floor; widening can only cost wall, never
    recall).  Measured: tools/ann_recall_r12.json at commit 9b03a2d.

    At 100 TB: the centroid table is |labels|-sized and broadcast; all
    downstream candidate work shuffles on cell id only.  nprobe is the
    recall/cost knob; the flatness stats are per-query window aggs over
    the tiny |cells| probe table — no extra shuffle of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select("vec_id", "label", F.posexplode("embedding").alias("pos", "x"))
    cent = (
        pos.groupBy("label", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s.getField("c")).alias("centroid"))
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # assign each query to its best cells (centroids are tiny -> broadcast)
    qc = q.crossJoin(F.broadcast(cent.withColumnRenamed("label", "cell"))).withColumn(
        "score", _dot(F.col("qe").cast("array<double>"), F.col("centroid"))
    )
    wq = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cell"))
    wall = W.partitionBy("query_id")
    sd = F.stddev("score").over(wall) + F.lit(1e-12)
    scored = (
        qc.withColumn("rn", F.row_number().over(wq))
        .withColumn("k_cells", F.count("*").over(wall))
        .withColumn(
            "z1", (F.max("score").over(wall) - F.avg("score").over(wall)) / sd
        )
        .withColumn(
            "zgap",
            (
                F.max("score").over(wall)
                - F.max(F.when(F.col("rn") >= 2, F.col("score"))).over(wall)
            )
            / sd,
        )
    )
    # regime split, joint rule (thresholds from a 4k-trial simulation of
    # both regimes at K=10/dim=64; see the r12 commit): STRUCTURED iff
    # z1 = (max−mean)/sd >= 2.0 AND zgap = (top1−top2)/sd >= 0.8.
    # Clustered queries: own-cell score dominates → both large (sharp
    # clusters: 100% structured).  Flat queries: z1 ≈ max of K iid
    # normals can cross 2.0 at large K, but the top-two ORDER-STAT gap
    # shrinks with K — the zgap conjunct is what keeps the rule valid as
    # cells grow, where any K-tuned z1 threshold alone would not.
    # Ambiguous corpora widen (probe-more-when-uncertain: widening can
    # only cost wall, never recall).  K=1 leaves z1/zgap NULL (sample
    # stddev of one row); NULL comparisons are falsy → flat arm off,
    # rn <= nprobe arm still fires.
    n_flat = F.greatest(
        F.lit(nprobe), F.ceil(F.lit(_IVF_FLAT_FRAC) * F.col("k_cells"))
    )
    structured = (F.col("z1") >= 2.0) & (F.col("zgap") >= 0.8)
    return scored.filter(
        (F.col("rn") <= nprobe)
        | (~structured & (F.col("rn") <= n_flat))
    ).select("query_id", "qe", "cell")


@register("sim_ivf_topk")  # rows-only: centroid assignment is float-order sensitive
def sim_ivf_topk(spark, sf_dir):
    """IVF-style ANN: coarse routing via the shared ``_ivf_route`` kernel,
    then exact ranking within the probed cells only.  At 100 TB:
    centroids broadcast, candidates shuffle on cell id only (nprobe
    controls recall)."""
    best = _ivf_route(spark, sf_dir)
    cand = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("ce"),
    )
    scored = best.join(cand, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).withColumn("cosine", _dot("qe", "ce"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cosine")
    )


@register(
    "mm_embed_join",
    oracle="""
    WITH j AS (
      SELECT d.lang, e.label, e.embedding
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ), pos AS (
      SELECT lang, label,
             unnest(embedding) AS x,
             unnest(generate_series(0, len(embedding) - 1)) AS pos
      FROM j
    )
    SELECT lang, label, pos,
           CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) AS centroid,
           COUNT(*) AS n
    FROM pos GROUP BY lang, label, pos
    """,
)
def mm_embed_join(spark, sf_dir):
    """Multimodal join (documents ⋈ embeddings by id) + full per-(lang,label)
    centroid via posexplode.  Component sums go through DECIMAL(18,6) so the
    grouped float accumulation is order-independent (canon discipline)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id).select("lang", "label", "embedding")
    pos = j.select("lang", "label", F.posexplode("embedding").alias("pos", "x"))
    return pos.groupBy("lang", "label", "pos").agg(
        (
            F.sum(F.col("x").cast("double").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("centroid"),
        F.count("*").alias("n"),
    )


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_hash,
           lang
    FROM documents
    """,
)
def mm_binary_meta(spark, sf_dir):
    """Opaque-binary-column plumbing: text → utf8 bytes (stand-in for
    image/audio payloads) with typed metadata alongside.  Byte lengths and
    content hashes computed on the binary column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(F.encode("text", "UTF-8")).alias("n_bytes"),
        F.sha2("text", 256).alias("content_hash"),
        "lang",
    )


def synth_bmp(doc_id: int, text: bytes):
    """Deterministic fixture image: dims from (doc_id, len(text)), pixels
    from the md5-seeded text bytes tiled across the RGB grid.  Pure
    function of the row — the round-trip gate re-derives it in tests."""
    import hashlib

    import numpy as np

    from ..mm_codecs import encode_bmp

    w = 8 + (doc_id % 24)
    h = 8 + (len(text) % 24)
    seed = hashlib.md5(text).digest()
    px = np.frombuffer(seed, dtype=np.uint8)
    img = np.resize(px, (h, w, 3))
    return encode_bmp(img)


@register("mm_image_pipeline")  # rows-only: binary payloads are
def mm_image_pipeline(spark, sf_dir):  # not SQL-expressible
    """Multimodal image pipeline over binary payloads via mapInPandas —
    with a REAL decoder (pure-numpy 24-bit BMP, recommend_spark.mm_codecs).

    Stage 1 synthesizes a deterministic BMP per document (the container
    ships no media fixtures) into a ``binary`` column; stage 2 decodes the
    bytes and emits typed features (dims + channel means).  Both stages are
    narrow Arrow-batched maps — no shuffle; at 100 TB stage 1 is replaced
    by the binaryFile scan (scan_binary_files) and stage 2 is unchanged
    apart from swapping decode_bmp for a JPEG codec call."""
    import pandas as pd

    from ..mm_codecs import decode_bmp

    # single small parquet -> 1-5 input splits; the decode stages are
    # CPU-heavy Python, so spread the doc stream across cores (r13: the
    # heavy-decade measured FLAT walls because task count, not work,
    # tracked the corpus — 2 of 32 cores busy at sf1)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spread_width(spark))
    )

    def encode_stage(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        synth_bmp(int(d), t.encode("utf-8"))
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    def decode_stage(batches):
        for pdf in batches:
            ids, ws, hs, npx, lum = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_bmp(payload)
                h, w = img.shape[:2]
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                npx.append(w * h)
                lum.append(float(img.mean()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": ws,
                    "height": hs,
                    "n_px": npx,
                    "mean_luma": lum,
                }
            )

    binary = docs.mapInPandas(encode_stage, schema="doc_id long, payload binary")
    return binary.mapInPandas(
        decode_stage,
        schema="doc_id long, width int, height int, n_px int, mean_luma double",
    )


def synth_wav(doc_id: int, text: bytes):
    """Deterministic fixture audio: >= 2 analysis windows of int16 samples
    derived from the md5-tiled text bytes.  Pure function of the row."""
    import hashlib

    import numpy as np

    from ..mm_codecs import encode_wav

    n = 2048 + (doc_id % 2048)
    seed = np.frombuffer(hashlib.md5(text).digest(), dtype=np.uint8)
    samples = (
        (np.resize(seed, n).astype(np.int32) - 128) * 256
    ).astype(np.int16)
    return encode_wav(samples, sample_rate=16000)


@register("mm_audio_pipeline")  # rows-only: binary payloads are
def mm_audio_pipeline(spark, sf_dir):  # not SQL-expressible
    """Multimodal audio pipeline: binary WAV payload → REAL PCM16 decode
    (pure-numpy RIFF parser, recommend_spark.mm_codecs) → per-window RMS
    feature frames (1→N row expansion) via mapInPandas.

    Stage 1 synthesizes a deterministic PCM16 WAV per document into a
    ``binary`` column; stage 2 parses the RIFF container, verifies the
    sample rate, and emits one row per 1024-sample analysis window —
    partition-parallel, no shuffle.  Swapping decode_wav for soundfile/
    ffmpeg changes one call; schema, batching, and the expansion shape are
    production-real."""
    import numpy as np
    import pandas as pd

    from ..mm_codecs import decode_wav

    # single small parquet -> 1-5 input splits; the decode stages are
    # CPU-heavy Python, so spread the doc stream across cores (r13: the
    # heavy-decade measured FLAT walls because task count, not work,
    # tracked the corpus — 2 of 32 cores busy at sf1)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spread_width(spark))
    )
    WIN = 1024

    def encode_stage(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        synth_wav(int(d), t.encode("utf-8"))
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    def frames(batches):
        for pdf in batches:
            ids, idxs, rms, n_samp, rates = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, pcm = decode_wav(payload)
                x = pcm.astype(np.float64)
                n_win = len(x) // WIN
                for i in range(n_win):
                    w = x[i * WIN : (i + 1) * WIN]
                    ids.append(doc_id)
                    idxs.append(i)
                    rms.append(float(np.sqrt(np.mean(w * w))))
                    n_samp.append(len(x))
                    rates.append(rate)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "rms": rms,
                    "n_samples": n_samp,
                    "sample_rate": rates,
                }
            )

    binary = docs.mapInPandas(encode_stage, schema="doc_id long, payload binary")
    return binary.mapInPandas(
        frames,
        schema=(
            "doc_id long, frame_idx int, rms double, n_samples long, "
            "sample_rate int"
        ),
    )


def synth_y4m(doc_id: int, text: bytes):
    """Deterministic fixture video: 16x16 4:2:0 YUV4MPEG2 clip whose frame
    count matches the old probe (10 + len(text) % 90) and whose planes
    derive from md5(text) xor a per-frame counter.  Pure function of the
    row — the decode gate re-derives it locally."""
    import hashlib

    import numpy as np

    from ..mm_codecs import encode_y4m

    h = w = 16
    n_frames = 10 + (len(text) % 90)
    seed = np.frombuffer(hashlib.md5(text).digest(), dtype=np.uint8)
    base_y = np.resize(seed, (h, w))
    base_c = np.resize(seed[::-1], (h // 2, w // 2))
    idx = np.arange(n_frames, dtype=np.uint8).reshape(-1, 1, 1)
    y = base_y[None, :, :] ^ idx
    u = base_c[None, :, :] ^ idx
    v = base_c[None, ::-1, :] ^ idx
    return encode_y4m(
        np.ascontiguousarray(y),
        np.ascontiguousarray(u),
        np.ascontiguousarray(v),
        fps=(25, 1),
    )


@register("mm_video_frames")  # rows-only: binary payloads are
def mm_video_frames(spark, sf_dir):  # not SQL-expressible
    """Multimodal video pipeline: binary Y4M payload → REAL container parse
    (pure-numpy YUV4MPEG2 4:2:0, recommend_spark.mm_codecs) → sample every
    5th frame (1→N expansion) via mapInPandas.

    Stage 1 synthesizes a deterministic uncompressed clip per document into
    a ``binary`` column; stage 2 parses the stream header (dims + frame
    rate), walks the FRAME records, and emits one row per sampled frame
    with its content hash and mean luma — narrow maps, no shuffle.  At
    100 TB frame extraction is embarrassingly parallel; swapping decode_y4m
    for an H.264 decoder changes one call, and the fps-derived ts_ms
    arithmetic, batching, and expansion shape are unchanged."""
    import hashlib

    import pandas as pd

    from ..mm_codecs import decode_y4m

    # single small parquet -> 1-5 input splits; the decode stages are
    # CPU-heavy Python, so spread the doc stream across cores (r13: the
    # heavy-decade measured FLAT walls because task count, not work,
    # tracked the corpus — 2 of 32 cores busy at sf1)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spread_width(spark))
    )
    STRIDE = 5

    def encode_stage(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        synth_y4m(int(d), t.encode("utf-8"))
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    def sample(batches):
        for pdf in batches:
            ids, fidx, ts, fh, luma = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, (fn, fd), y, u, v = decode_y4m(payload)
                ms_per_frame = 1000 * fd // fn
                for i in range(0, y.shape[0], STRIDE):
                    ids.append(doc_id)
                    fidx.append(i)
                    ts.append(i * ms_per_frame)
                    fh.append(
                        hashlib.sha256(
                            y[i].tobytes() + u[i].tobytes() + v[i].tobytes()
                        ).hexdigest()[:16]
                    )
                    luma.append(float(y[i].mean()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": fidx,
                    "ts_ms": ts,
                    "frame_hash": fh,
                    "mean_luma": luma,
                }
            )

    binary = docs.mapInPandas(encode_stage, schema="doc_id long, payload binary")
    return binary.mapInPandas(
        sample,
        schema=(
            "doc_id long, frame_idx int, ts_ms long, frame_hash string, "
            "mean_luma double"
        ),
    )


_SQL_DOT_AB = """
  list_reduce(
    list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, 64),
        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
    (x, y) -> x + y)
"""


@register(
    "sim_knn_join",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_SQL_DOT_AB} AS cosine
    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id ORDER BY cosine DESC, c.vec_id
    ) <= 5
    """,
)
def sim_knn_join(spark, sf_dir):
    """Full kNN self-join: exact top-5 neighbors for EVERY vector.

    Block-kernel layout (``blockkernel.block_join``): within the staging
    budget the candidate matrix (N×64 float64) ships via
    ``sparkContext.broadcast`` — one torrent transfer per executor, shared
    by all its tasks, NOT pickled into each task closure; each Arrow batch
    of query rows computes its cosine block as 64 index-ordered
    outer-product accumulations (bit-identical to the oracle's left fold)
    and keeps only its per-query top-5 — computed exactly inside the batch
    because the batch sees ALL candidates.  Zero shuffle: k rows per query
    come straight off the map.

    The staged matrix is a DRIVER-RAM bound (N×64×8 bytes — see
    recommend_spark/blockkernel.py and SCALE.md §10d-bis); past it the
    same scorer runs on each cell of a B×B bucket grid (~N/B queries ×
    ~N/B candidates), keeping a cell-local top-K, and a global
    (cosine DESC, neighbor_id) window merges the cells: the global top-K
    is a subset of the union of the cell-local ones, so the output is
    hash-identical with nothing staged driver-side.  At 100 TB the
    candidate side is usually the IVF/LSH bucket instead (sim_ivf_topk /
    sim_ann_lsh); this operator is their exact baseline and shares the
    kernel with dedup_embed_cosine."""
    import numpy as np

    K = 5
    path = f"{sf_dir}/embeddings.parquet"
    tile_budget = blockkernel.STREAM_TILE_BYTES

    def knn_score(pdf, value):
        import pandas as pd

        b_ids, b_mat = value
        a_ids = pdf["vec_id"].to_numpy()
        a_mat = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
        kk = min(K, len(b_ids))
        # stream-axis tiles bound the per-task score block (r13 decade
        # triage); each query row's whole candidate block stays inside
        # its tile, so the per-query top-K is exact and output identical.
        for t_ids, t_mat in iter_stream_tiles(
            a_ids, a_mat, len(b_ids), tile_budget
        ):
            acc = index_ordered_dot_block(t_mat, b_mat)
            # exclude self, then exact top-K by (cosine DESC,
            # neighbor_id ASC) via the shared selection kernel
            self_mask = t_ids[:, None] == b_ids[None, :]
            acc_m = np.where(self_mask, -np.inf, acc)
            order = topk_by_value_then_id(acc_m, b_ids, kk)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(t_ids, kk),
                    "neighbor_id": b_ids[order].ravel(),
                    "cosine": np.take_along_axis(acc_m, order, axis=1).ravel(),
                }
            )

    def global_topk(cells):
        # a cell with fewer than K non-self candidates pads with the
        # masked self (-inf); the window then keeps the global top-K
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), "neighbor_id"
        )
        return (
            cells.filter(F.col("cosine") != float("-inf"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .drop("rn")
        )

    # embeddings.parquet is a single file -> 1 input partition; the staged
    # path spreads the query side so the per-batch block kernel runs on all
    # cores instead of as one task (the candidate side is the broadcast).
    # The memo key is file identity: one executor-resident copy shared
    # with dedup_embed_cosine and across bench reps.
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return block_join(
        e,
        e,
        key="vec_id",
        need_bytes=candidate_matrix_bytes(path, dim=64),
        stage=lambda: staged_embeddings(path),
        from_rows=embeddings_from_rows,
        score=knn_score,
        schema="query_id long, neighbor_id long, cosine double",
        finish=global_topk,
    )


@register(
    "mm_embed_quantize",
    oracle="""
    WITH m AS (
      SELECT vec_id, label,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS maxabs
      FROM embeddings
    )
    SELECT e.vec_id, m.label,
           m.maxabs / 127 AS scale,
           array_to_string(list_transform(e.embedding,
             x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127 / m.maxabs)
                            AS INT) AS VARCHAR)), ',') AS qvec
    FROM embeddings e JOIN m ON e.vec_id = m.vec_id
    """,
)
def mm_embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the
    vector-infrastructure op that shrinks an ANN index 4× (float32 → int8).
    Per vector: scale = max|x| / 127, q_i = floor(x_i · 127 / max|x|).
    floor (not round) by spec: round()'s half-way rule differs across
    engines, floor does not.  Map-only — each vector quantizes
    independently, no shuffle at any scale; floats are cast to double
    before arithmetic so both engines run the same IEEE ops (FIXTURES.md
    Q5).

    Output discipline: ``qvec`` is emitted as a comma-joined string — raw
    array<int> cells crash the driver canon's pandas sort
    (CORRECTNESS_r03).  ``scale`` stays an unrounded double: one IEEE
    division of a bit-identical max, and canon.py's verified finding is
    that round() itself disagrees cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    return emb.select(
        "vec_id",
        "label",
        (maxabs / 127).alias("scale"),
        F.array_join(
            F.transform(
                "embedding",
                lambda x: F.floor(xd(x) * 127 / maxabs).cast("int").cast("string"),
            ),
            ",",
        ).alias("qvec"),
    )


@register("mm_embed_kmeans")  # rows-only: centroid values are ML-internal
def mm_embed_kmeans(spark, sf_dir):
    """K-means clustering of the embedding column (k=10, fixed seed) — the
    coarse quantizer that IVF indexing (sim_ivf_topk), dataset curation
    (cluster-balanced sampling), and near-dup blocking all build on.
    ml.clustering.KMeans runs Lloyd's iterations as joint map-side
    assignment + reduce-side centroid means — each iteration is one
    partial-agg shuffle of k×dim floats, never the points.  Emits
    (vec_id, label, cluster) assignments; the cluster↔label agreement
    quality gate lives in tests/test_ml_quality.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "label", array_to_vector("embedding").alias("features")
    )
    model = KMeans(k=10, seed=42, maxIter=20).fit(vecs)
    return model.transform(vecs).select(
        "vec_id", "label", F.col("prediction").alias("cluster")
    )


@register("mm_embed_pca")  # rows-only: eigenvector values are ML-internal
def mm_embed_pca(spark, sf_dir):
    """Distributed PCA over the embedding column: project every vector onto
    the top-8 principal components — the dimensionality-reduction step under
    embedding visualization, compact ANN indexes, and whitening.

    Same Gram-trick shape as als_foldin: ONE distributed pass accumulates
    per-partition moments (n, Σx, ΣxxT — 64 + 4096 doubles per partition)
    via mapInPandas; the driver eigendecomposes the 64×64 covariance (O(d³),
    micro); projection is a second map-only pass with the basis broadcast in
    the closure.  Nothing but the tiny moment rows ever moves — the layout
    that works unchanged at 10^9 vectors.  Partial moments are summed on the
    driver in a sorted order and eigenvector signs are fixed (largest-|x|
    coordinate positive), so repeat runs emit identical projections; the
    orthonormality / variance-ordering / reconstruction gates live in
    tests/test_ml_quality.py."""
    import numpy as np
    import pandas as pd

    dim, k = 64, 8
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def moments(batches):
        n, s, g = 0, np.zeros(dim), np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf):
                X = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
                n += X.shape[0]
                s += X.sum(axis=0)
                g += X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = sorted(
        emb.select("embedding")
        .mapInPandas(moments, "n long, s array<double>, g array<double>")
        .collect(),
        key=lambda r: (r.n, r.s[0]),
    )
    n = sum(r.n for r in parts)
    s = np.sum([np.array(r.s) for r in parts], axis=0)
    g = np.sum([np.array(r.g).reshape(dim, dim) for r in parts], axis=0)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    basis = evecs[:, ::-1][:, :k].copy()
    for j in range(k):  # deterministic sign convention
        i = int(np.argmax(np.abs(basis[:, j])))
        if basis[i, j] < 0:
            basis[:, j] = -basis[:, j]

    def project(batches):
        for pdf in batches:
            if len(pdf):
                X = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
                P = (X - mu) @ basis
                # Output discipline: comma-joined repr strings, not
                # array<double> — raw array cells crash the driver canon's
                # pandas sort (CORRECTNESS_r04), and repr round-trips each
                # IEEE double exactly so the quality gates lose nothing.
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "label": pdf["label"],
                        # float(v) first: repr(np.float64) becomes
                        # 'np.float64(0.5)' under numpy>=2, which would
                        # corrupt the column; repr(float) is version-stable
                        # and still round-trips the IEEE double exactly
                        "pc": [",".join(repr(float(v)) for v in row) for row in P],
                    }
                )

    return emb.mapInPandas(project, "vec_id long, label int, pc string")


_PQ_CACHE: dict = {}


def _pq_emb(spark, sf_dir):
    """The PQ training/encode input: embeddings as double arrays, spread to
    32 partitions (the source is a single parquet file — without the spread
    every mapInPandas kernel below runs on one task).  Carries the label
    column so residual-mode consumers can subtract their cell centroid."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("x"),
        )
        .repartition(spread_width(spark))
    )


def _cell_centroids(spark, sf_dir):
    """Per-label mean embedding as a (n_labels, dim) float64 array — the
    coarse-quantizer centroids the residual PQ mode subtracts (IVFADC,
    Jegou et al. 2011 §III: quantize x − centroid(cell(x)), not x).

    Distributed and deterministic: one mapInPandas pass emits per-
    partition (label, sum, count) partials — |partitions| × |labels| rows,
    never the points — and the driver folds them in a canonical sorted
    order (fixed float-add order, the _pq_train recipe).  Memoized per
    (session, corpus) and on disk: both the trainer and both encode/ADC
    kernels need bit-identical centroids."""
    import numpy as np
    import pandas as pd

    key = (id(spark.sparkContext), sf_dir, "ivf_cells")
    if key in _PQ_CACHE:
        return _PQ_CACHE[key]

    def partials(batches):
        sums: dict = {}
        cnts: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["x"].to_list(), dtype=np.float64)
            labs = np.asarray(pdf["label"].to_list(), dtype=np.int64)
            for lab in np.unique(labs):
                sel = X[labs == lab]
                sums[int(lab)] = sums.get(int(lab), 0.0) + sel.sum(axis=0)
                cnts[int(lab)] = cnts.get(int(lab), 0) + len(sel)
        if sums:
            yield pd.DataFrame(
                {
                    "label": list(sums),
                    "s": [sums[k].tolist() for k in sums],
                    "c": [cnts[k] for k in sums],
                }
            )

    def build(root):
        rows = (
            _pq_emb(spark, sf_dir)
            .mapInPandas(partials, "label int, s array<double>, c bigint")
            .collect()
        )
        n_labels = max(r["label"] for r in rows) + 1
        dim = len(rows[0]["s"])
        cells = np.zeros((n_labels, dim))
        counts = np.zeros(n_labels, dtype=np.int64)
        for r in sorted(rows, key=lambda r: (r["label"], r["c"], r["s"])):
            cells[r["label"]] += np.asarray(r["s"])
            counts[r["label"]] += r["c"]
        nz = counts > 0
        cells[nz] /= counts[nz][:, None]
        np.save(root / "cells.npy", cells)

    cells = np.load(stage(f"ivf_cells_{sf_key(sf_dir)}", build) / "cells.npy")
    _PQ_CACHE[key] = cells
    return cells


def _pq_assign(X, C, M, SUB):
    """Per-subspace nearest-centroid assignment: codes + summed sq error.

    THE single definition of the PQ encode kernel (mm_embed_pq and
    sim_ivf_pq both consume it): np.argmin's tie-to-lowest-code rule is
    part of the determinism contract both operators' gates assert, so a
    second copy of this loop risks the two encoders silently diverging."""
    import numpy as np

    codes = np.zeros((X.shape[0], M), dtype=np.int32)
    err = np.zeros(X.shape[0])
    for m in range(M):
        S = X[:, m * SUB:(m + 1) * SUB]
        d = ((S[:, None, :] - C[m][None, :, :]) ** 2).sum(-1)
        a = d.argmin(axis=1)
        codes[:, m] = a
        err += d[np.arange(X.shape[0]), a]
    return codes, err


def _pq_train(spark, sf_dir, M=8, SUB=8, K=16, iters=8, residual=False):
    """Train the M product-quantizer codebooks in one distributed pass per
    Lloyd iteration; memoized per (session, corpus) because both
    `mm_embed_pq` and `sim_ivf_pq` need the same deterministic codebook
    and the fit is the expensive part.  See `mm_embed_pq` for the full
    design rationale (partial-sum shuffle shape, determinism argument).

    ``residual=True`` trains on x − cell_centroid(label(x)) instead of
    raw x — the IVFADC recipe (Jegou et al. 2011 §III).  On clustered
    corpora raw-vector codes capture cluster identity, which the IVF
    routing already resolved, and carry no within-cell ranking signal
    (measured: recall@5 collapsed to 0.02 on the r11 planted-cluster
    corpus); residual codes spend all their bits on exactly the
    within-cell differences ADC must rank."""
    import numpy as np
    import pandas as pd

    key = (id(spark.sparkContext), sf_dir, M, SUB, K, iters, residual)
    if key in _PQ_CACHE:
        return _PQ_CACHE[key]
    # disk layer under the session cache: the codebook is deterministic for
    # a corpus, tiny (M*K*SUB doubles = 8 KiB), and costs ~8 Spark jobs to
    # fit — the same artifact rationale as disk_memo, stored as .npy
    def build(root):
        sc = spark.sparkContext
        cells = _cell_centroids(spark, sf_dir) if residual else None
        bc_cells = sc.broadcast(cells) if residual else None

        def as_train_X(pdf):
            X = np.asarray(pdf["x"].to_list(), dtype=np.float64)
            if residual:
                labs = np.asarray(pdf["label"].to_list(), dtype=np.int64)
                X = X - bc_cells.value[labs]
            return X

        emb = _pq_emb(spark, sf_dir)
        init = emb.orderBy("vec_id").limit(K).collect()
        init_X = np.asarray([r["x"] for r in init], dtype=np.float64)
        if residual:
            init_X = init_X - cells[
                np.asarray([r["label"] for r in init], dtype=np.int64)
            ]
        cents = init_X.reshape(K, M, SUB).transpose(1, 0, 2).copy()  # (M, K, SUB)

        for _ in range(iters):
            bc = sc.broadcast(cents)

            def partials(batches):
                C = bc.value
                sums = np.zeros((M, K, SUB))
                cnts = np.zeros((M, K), dtype=np.int64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = as_train_X(pdf)
                    for m in range(M):
                        S = X[:, m * SUB:(m + 1) * SUB]
                        d = ((S[:, None, :] - C[m][None, :, :]) ** 2).sum(-1)
                        a = d.argmin(axis=1)  # ties -> lowest code: deterministic
                        np.add.at(sums[m], a, S)
                        np.add.at(cnts[m], a, 1)
                yield pd.DataFrame(
                    {"s": [sums.ravel().tolist()], "c": [cnts.ravel().tolist()]}
                )

            rows = emb.mapInPandas(
                partials, "s array<double>, c array<bigint>"
            ).collect()
            # fold partials in a canonical order: float-add order is fixed
            rows = sorted(rows, key=lambda r: (r["c"], r["s"]))
            tot_s = np.zeros(M * K * SUB)
            tot_c = np.zeros(M * K, dtype=np.int64)
            for r in rows:
                tot_s += np.asarray(r["s"])
                tot_c += np.asarray(r["c"], dtype=np.int64)
            tot_s = tot_s.reshape(M, K, SUB)
            tot_c = tot_c.reshape(M, K)
            nz = tot_c > 0
            new = cents.copy()
            new[nz] = tot_s[nz] / tot_c[nz][:, None]
            bc.destroy()
            if np.array_equal(new, cents):
                break
            cents = new
        np.save(root / "codebook.npy", cents)

    tag = "_res" if residual else ""
    root = stage(f"pq_codebook_v{M}x{SUB}_{K}_{iters}{tag}_{sf_key(sf_dir)}", build)
    cents = np.load(root / "codebook.npy")
    _PQ_CACHE[key] = cents
    return cents


@register("mm_embed_pq")  # rows-only: k-means codebooks are ML-internal
def mm_embed_pq(spark, sf_dir):
    """Product quantization of the embedding column: split each 64-dim
    vector into M=8 contiguous 8-dim subvectors and k-means (k=16) each
    subspace independently — every vector compresses to 8 codebook ids
    (8 bytes, a 32x reduction) plus a shared 8x16x8-float codebook.  PQ is
    the memory layer of IVF-PQ ANN indexes (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): at 10^9+
    vectors the raw floats don't fit executor memory, the codes do.

    Spark-first shape: ALL M codebooks train in the SAME distributed pass —
    each Lloyd iteration is one mapInPandas job that assigns every
    subvector to its nearest centroid with a vectorized numpy kernel and
    emits per-(subspace, code) partial sums (M*K*8 doubles + M*K counts
    per partition, never the points); the driver folds partials in sorted
    order (fixed float-add order -> deterministic), updates the 4 KiB
    codebook, and rebroadcasts (`_pq_train` — shared with `sim_ivf_pq`).
    8 iterations = 8 jobs, vs 8 separate ml.KMeans fits = ~160 jobs
    (measured 26-32 s -> ~4 s at fixture scale).  Init is the first K
    vectors by vec_id (seedless, deterministic); empty clusters keep
    their previous centroid.  A final map-only pass emits
    (vec_id, codes, sq_err); determinism and reconstruction-quality gates
    (PQ error << global-mean baseline) live in tests/test_ml_quality.py."""
    import numpy as np
    import pandas as pd

    M, SUB = 8, 8
    emb = _pq_emb(spark, sf_dir)
    cents = _pq_train(spark, sf_dir)

    from ..blockkernel import content_digest, memo_broadcast

    bc_final = memo_broadcast(
        spark.sparkContext,
        ("pqcents", content_digest(cents.tobytes()), cents.shape),
        lambda: cents,
    )

    def encode(batches):
        C = bc_final.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["x"].to_list(), dtype=np.float64)
            codes, err = _pq_assign(X, C, M, SUB)
            # Output discipline: comma-joined code ids, not array<int> —
            # raw array cells crash the driver canon's pandas sort
            # (CORRECTNESS_r04); the 8 small ints serialize losslessly.
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": [",".join(str(int(v)) for v in c) for c in codes],
                    "sq_err": err,
                }
            )

    return emb.mapInPandas(
        encode, "vec_id long, codes string, sq_err double"
    )


@register("sim_ivf_pq")  # rows-only: ANN over learned codebooks (quality gates in tests)
def sim_ivf_pq(spark, sf_dir):
    """IVF-PQ approximate nearest neighbor: the two scale layers composed —
    IVF coarse cells prune WHICH candidates to score, PQ codes shrink WHAT
    is scored (Jegou et al. 2011; the FAISS `IVFx,PQy` index family).

    At 10^9+ vectors neither layer suffices alone: IVF over raw floats
    still holds N*64*4 bytes of vectors; PQ over all N still scans N codes
    per query.  Composed: candidates shuffle only on probed cell ids, and
    each candidate costs 8 bytes of codes + one table lookup per subspace.

    Pipeline (all deterministic): (1) encode every vector's RESIDUAL
    against its cell centroid with the shared memoized residual-mode
    `_pq_train` codebook (map-only; the IVFADC recipe — raw-vector codes
    spend their bits re-encoding cluster identity the routing already
    resolved, and collapsed to recall@5 = 0.02 on the r11
    planted-cluster corpus); (2) route queries to their 3 nearest
    label-cells exactly like `sim_ivf_topk`; (3) score candidates
    ASYMMETRICALLY — the query keeps full precision, score =
    dot(q, cell_centroid) + dot(q, recon(residual codes)) — via one
    vectorized numpy kernel in mapInPandas (the ADC table-lookup
    formulation, batched as a reconstruct+matmul which is numerically
    identical).  Top-5 per query by (adc_score DESC, neighbor_id).
    Gates in tests/test_ml_quality.py: bit-determinism across runs and
    retrieved-neighbor quality vs the exact `sim_cosine_topk` twin."""
    import numpy as np
    import pandas as pd

    M, SUB = 8, 8
    cents = _pq_train(spark, sf_dir, residual=True)  # (M, K, SUB)
    cells = _cell_centroids(spark, sf_dir)  # (n_labels, 64)

    # (1) PQ-encode every vector's residual (map-only, reuses codebook)
    from ..blockkernel import content_digest, memo_broadcast

    bc = memo_broadcast(
        spark.sparkContext,
        ("pqcents", content_digest(cents.tobytes()), cents.shape),
        lambda: cents,
    )
    bc_cells = memo_broadcast(
        spark.sparkContext,
        ("pqcells", content_digest(cells.tobytes()), cells.shape),
        lambda: cells,
    )

    def encode(batches):
        C = bc.value
        cellsC = bc_cells.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["x"].to_list(), dtype=np.float64)
            labs = np.asarray(pdf["label"].to_list(), dtype=np.int64)
            codes, _ = _pq_assign(X - cellsC[labs], C, M, SUB)
            yield pd.DataFrame(
                {"neighbor_id": pdf["vec_id"], "codes": [c.tolist() for c in codes]}
            )

    codes_df = _pq_emb(spark, sf_dir).mapInPandas(
        encode, "neighbor_id long, codes array<int>"
    )

    # (2) coarse routing via the shared kernel (ADC wants double queries;
    # float->double widening is exact, so casting after routing is
    # value-identical to the old cast-before-routing block)
    routed = _ivf_route(spark, sf_dir).withColumn(
        "qe", F.col("qe").cast("array<double>")
    )
    e = load_table(spark, sf_dir, "embeddings")

    # (3) ADC scoring inside probed cells only
    cand = codes_df.join(
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("cell")),
        "neighbor_id",
    )
    pairs = routed.join(cand, "cell").filter(F.col("query_id") != F.col("neighbor_id"))

    def adc(batches):
        C = bc.value
        cellsC = bc_cells.value
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.asarray(pdf["qe"].to_list(), dtype=np.float64)
            cell = np.asarray(pdf["cell"].to_list(), dtype=np.int64)
            codes = np.asarray(pdf["codes"].to_list(), dtype=np.int64)
            R = np.concatenate(
                [C[m][codes[:, m]] for m in range(M)], axis=1
            )  # (n, 64) reconstructed residuals
            # recon(x) = cell_centroid + recon(residual): score both terms
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "adc_score": (Q * (cellsC[cell] + R)).sum(axis=1),
                }
            )

    scored = pairs.mapInPandas(adc, "query_id long, neighbor_id long, adc_score double")

    # (4) refine: ADC ranks a SHORTLIST, exact dot ranks the final 5 (the
    # FAISS IVFPQR two-stage shape).  Quantization error at practical code
    # sizes cannot separate the top-5 from rank ~50 when within-cell
    # margins are tight (measured on the r11 planted corpus: pure ADC
    # recall@5 plateaus at ~0.2-0.34 even at 128-bit codes; refine at
    # R=100 reaches 0.92 at the 2k-vector leg).  R must scale with the
    # PROBED CANDIDATE count, not the corpus — a fixed R (or a fixed
    # corpus fraction) covers a shrinking share of what ADC actually
    # ranks as cells densify.  Measured on the 20k planted leg:
    # R=100 → 0.38, R=N/50=400 → 0.66, R=probed/6≈1000 → 0.84,
    # R=probed/3≈2000 → 0.98 recall@5 at IDENTICAL wall (the refine join
    # is |queries|×R rows either way).  probed/3 is the committed
    # setting; the clamp keeps the refine join bounded when a production
    # query batch is large.  At 10^9 vectors the refine join stays cheap
    # BY CONSTRUCTION: the shortlist is |queries| x R rows — broadcast
    # against the embedding table, only those rows' raw vectors are ever
    # fetched; the scan-heavy stage stays codes-only.
    # corpus size from the parquet FOOTER (row count only, no data, no
    # job) — an e.count() here would add a full-table job to every
    # invocation just to size the shortlist (blockkernel's
    # candidate_matrix_bytes precedent)
    import pyarrow.parquet as _pq

    n_vecs = _pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    # size the shortlist for the WIDEST probe the adaptive router can
    # pick (flat regime probes _IVF_FLAT_FRAC of the cells) — a
    # narrow-probe estimate would cover a shrinking share of what ADC
    # actually ranks exactly when flat corpora widen the candidate set
    probe_frac = max(_IVF_NPROBE / max(1, cells.shape[0]), _IVF_FLAT_FRAC)
    n_probed = int(probe_frac * n_vecs)
    REFINE = max(100, min(4000, n_probed // 3))
    wad = W.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("rn", F.row_number().over(wad))
        .filter(F.col("rn") <= REFINE)
        .select("query_id", "neighbor_id")
    )
    q_full = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    n_full = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("ne"),
    )
    refined = (
        F.broadcast(short)
        .join(n_full, "neighbor_id")
        .join(F.broadcast(q_full), "query_id")
        .withColumn("score", _dot(F.col("qe"), F.col("ne")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        refined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "score")
    )


@register(
    "dq_embeddings",
    oracle="""
    WITH v AS (
      SELECT label,
             sqrt(list_reduce(
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
               (a, b) -> a + b)) AS norm,
             len(embedding) AS dim,
             length(list_filter(embedding, x -> NOT isfinite(x))) AS n_bad
      FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           count(*) FILTER (dim != 64) AS n_bad_dim,
           count(*) FILTER (n_bad > 0) AS n_nonfinite,
           count(*) FILTER (norm = 0.0) AS n_zero,
           min(norm) AS min_norm,
           max(norm) AS max_norm
    FROM v GROUP BY label
    """,
)
def dq_embeddings(spark, sf_dir):
    """Data-quality expectations for a VECTOR column — dq_checks lifted to
    embeddings, the checks an ANN/training pipeline runs before indexing:
    per label, the count of wrong-dimension vectors, non-finite (NaN/Inf)
    components, exact-zero vectors (unnormalizable), and the norm range.

    Determinism: the squared-norm fold is SEQUENTIAL in both engines
    (Spark F.aggregate with 0.0 seed == DuckDB list_reduce from the first
    element, since 0.0 + x is exact), every float32 component widens to
    double exactly, and sqrt is IEEE-correctly-rounded everywhere — so
    min/max norms hash-match with no rounding.  Scale shape: map-only
    per-row expressions + one partial-aggregated groupBy on label; the
    whole check is one pass over the corpus."""
    inf = float("inf")
    x = F.col("embedding").cast("array<double>")
    v = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.sqrt(
            F.aggregate(
                F.transform(x, lambda c: c * c), F.lit(0.0), lambda a, c: a + c
            )
        ).alias("norm"),
        F.size("embedding").alias("dim"),
        F.size(
            F.filter(x, lambda c: F.isnan(c) | (F.abs(c) == F.lit(inf)))
        ).alias("n_bad"),
    )
    return v.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.count(F.when(F.col("dim") != 64, 1)).alias("n_bad_dim"),
        F.count(F.when(F.col("n_bad") > 0, 1)).alias("n_nonfinite"),
        F.count(F.when(F.col("norm") == 0.0, 1)).alias("n_zero"),
        F.min("norm").alias("min_norm"),
        F.max("norm").alias("max_norm"),
    )


@register(
    "mm_embed_matryoshka",
    oracle="""
    WITH x AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, label,
             list_reduce(list_transform(e[1:8],  v -> v * v),
                         (a, b) -> a + b) AS ss8,
             list_reduce(list_transform(e[1:16], v -> v * v),
                         (a, b) -> a + b) AS ss16,
             list_reduce(list_transform(e[1:32], v -> v * v),
                         (a, b) -> a + b) AS ss32,
             list_reduce(list_transform(e,       v -> v * v),
                         (a, b) -> a + b) AS ssf
      FROM x
    )
    SELECT vec_id, label,
           sqrt(ss8)  AS norm_8,
           sqrt(ss16) AS norm_16,
           sqrt(ss32) AS norm_32,
           sqrt(ssf)  AS norm_full,
           ss8  / ssf AS energy_8,
           ss16 / ssf AS energy_16,
           ss32 / ssf AS energy_32
    FROM s
    """,
)
def mm_embed_matryoshka(spark, sf_dir):
    """Matryoshka-embedding truncation audit: for each vector, the norm of
    its 8-, 16- and 32-dim prefixes and the fraction of the full vector's
    energy each prefix retains — the quantities that decide whether a
    matryoshka-trained model can serve a cheaper prefix index (renormalized
    prefix = prefix / norm_k; no arrays are emitted, the norms ARE the
    renormalization constants).

    Determinism (the dq_embeddings recipe): float32 components widen to
    double exactly; each squared-sum is a SEQUENTIAL fold, identical in
    both engines (Spark's 0.0 seed is exact under 0.0 + x, matching
    DuckDB's seedless list_reduce); sqrt is IEEE correctly-rounded; each
    energy ratio is one IEEE division of two such folds.  Scale: pure
    map-only per-row expressions — zero shuffles, pipelined into whatever
    scan feeds it, embarrassingly parallel at any corpus size."""
    x = F.col("embedding").cast("array<double>")

    def ssq(arr):
        return F.aggregate(
            F.transform(arr, lambda c: c * c), F.lit(0.0), lambda a, c: a + c
        )

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        ssq(F.slice(x, 1, 8)).alias("ss8"),
        ssq(F.slice(x, 1, 16)).alias("ss16"),
        ssq(F.slice(x, 1, 32)).alias("ss32"),
        ssq(x).alias("ssf"),
    )
    return v.select(
        "vec_id",
        "label",
        F.sqrt("ss8").alias("norm_8"),
        F.sqrt("ss16").alias("norm_16"),
        F.sqrt("ss32").alias("norm_32"),
        F.sqrt("ssf").alias("norm_full"),
        (F.col("ss8") / F.col("ssf")).alias("energy_8"),
        (F.col("ss16") / F.col("ssf")).alias("energy_16"),
        (F.col("ss32") / F.col("ssf")).alias("energy_32"),
    )


@register("sim_rerank_mmr")  # rows-only: greedy rerank is inherently iterative
def sim_rerank_mmr(spark, sf_dir):
    """Maximal-Marginal-Relevance diversified rerank: for each query
    (vec_id < 10), take the exact top-20 cosine candidates, then greedily
    pick 5 maximizing ``0.7*relevance - 0.3*max_sim_to_already_picked`` —
    the standard redundancy-suppression step between retrieval and serving
    (search results, RAG contexts, recommendation slates).

    Retrieval stays fully distributed (the sim_cosine_topk plan widened to
    k=20, WindowGroupLimit prunes per partition); only the greedy loop —
    20 candidates x 5 picks per query, O(k²) on a 20-row slice — runs in
    an Arrow-batched applyInPandas per query group, which is exactly the
    work shape applyInPandas is for.  Ties break by (score, candidate
    rank), and candidate order entering the loop is totally ordered
    (cosine desc, neighbor_id), so the output is partitioning-independent.
    Quality gate: tests/test_ml_quality.py (first pick = argmax relevance,
    picks ⊆ candidates, intra-set similarity never above the plain top-5's).
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        _dot(F.col("qe"), F.col("ce")).alias("relevance"),
        "ce",
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("relevance").desc(), F.col("neighbor_id")
    )
    cands = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 20
    )

    LAM = 0.7

    def rerank(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        vecs = np.stack(pdf["ce"].to_numpy()).astype(np.float64)
        rel = pdf["relevance"].to_numpy()
        sel = mmr_select(rel, vecs, k=5, lam=LAM)
        out = [
            (
                int(pdf["query_id"].iloc[0]),
                rank,
                int(pdf["neighbor_id"].iloc[i]),
                float(rel[i]),
                float(score),
            )
            for rank, (i, score) in enumerate(sel, start=1)
        ]
        return pd.DataFrame(
            out,
            columns=["query_id", "rank", "neighbor_id", "relevance", "mmr_score"],
        )

    return cands.groupBy("query_id").applyInPandas(
        rerank,
        "query_id long, rank int, neighbor_id long, relevance double, "
        "mmr_score double",
    )


def mmr_select(rel, vecs, k: int, lam: float):
    """The MMR greedy kernel (see sim_rerank_mmr): candidates ordered by
    descending relevance, pick k maximizing
    ``lam*rel[i] - (1-lam)*max_sim(i, picked)``; strict > keeps the
    earlier (higher-relevance) candidate on ties.  Returns
    [(index, mmr_score), ...] in pick order.  Module-level and pure numpy
    so tests can pin hand-computable diversification cases."""
    import numpy as np

    n = len(rel)
    picked: list[int] = []
    out: list[tuple[int, float]] = []
    for _ in range(min(k, n)):
        best_i, best_s = -1, -np.inf
        for i in range(n):
            if i in picked:
                continue
            max_sim = float(np.max(vecs[picked] @ vecs[i])) if picked else 0.0
            s = lam * rel[i] - (1.0 - lam) * max_sim
            if s > best_s:
                best_i, best_s = i, s
        picked.append(best_i)
        out.append((best_i, float(best_s)))
    return out


@register(
    "mm_embed_dim_stats",
    oracle="""
    WITH x AS (
      SELECT unnest(CAST(embedding AS DOUBLE[])) AS xv,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings
    ), xi AS (
      SELECT dim, CAST(floor(xv * 1000000000.0) AS BIGINT) AS q FROM x
    ), s AS (
      SELECT dim, count(*) AS n,
             CAST(SUM(q) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(q AS DECIMAL(19,0)) * q AS DECIMAL(38,0)))
                  AS DOUBLE) AS s2,
             CAST(count(*) FILTER (abs(q) < 10000000) AS BIGINT)
               AS n_near_zero
      FROM xi GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim, n,
           s1 / n / 1000000000.0 AS mean,
           (s2 / n - (s1 / n) * (s1 / n)) / 1e18 AS variance,
           n_near_zero
    FROM s
    """,
)
def mm_embed_dim_stats(spark, sf_dir):
    """Per-dimension embedding health profile: mean, variance, and
    near-zero count for each of the 64 dims — the table that exposes dead
    dimensions (variance ~ 0), biased dims (|mean| >> 0), and collapsed
    encoders before any downstream ANN/PQ work trusts the vectors
    (complements dq_embeddings' per-vector norm checks).

    Determinism without rows-only surrender: each component quantizes to
    integer nano-units via floor(x * 1e9) — per-row IEEE multiply + floor,
    engine-identical — so the two moments accumulate as exact
    integer/DECIMAL(38,0) sums and the mean/variance are fixed double
    expressions.  One explode + one 64-ary aggregate with map-side
    partials; state is |dims| regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "xv"
        )
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.floor(F.col("xv") * 1000000000.0).cast("long").alias("q"),
    )
    s = x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q").cast("double").alias("s1"),
        # promote to decimal BEFORE the multiply: a long*long q*q would
        # silently wrap in non-ANSI Spark once any |component| exceeds ~3.0
        F.sum(
            (F.col("q").cast("decimal(19,0)") * F.col("q")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("s2"),
        F.count_if(F.abs(F.col("q")) < 10000000).alias("n_near_zero"),
    )
    return s.select(
        "dim",
        "n",
        (F.col("s1") / F.col("n") / 1000000000.0).alias("mean"),
        (
            (
                F.col("s2") / F.col("n")
                - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
            )
            / F.lit(1e18)
        ).alias("variance"),
        "n_near_zero",
    )
