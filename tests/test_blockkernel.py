"""Block-kernel staging policy: the sizing rule, the grid cell bound, and
path equivalence.

All three block kernels (sim_knn_join, dedup_embed_cosine and the bitset
GEMM behind dedup_containment / join_set_similarity) run through
``blockkernel.block_join``: within the budget the index side is staged on
the driver and broadcast; past it ``n_buckets`` sizes a B×B cogroup grid.
Both paths must produce IDENTICAL rows (the fold arithmetic and
tie-breaks are the same, so even the doubles match bit-for-bit).
"""

from __future__ import annotations

import pyarrow.parquet as pq

from recommend_spark import blockkernel
from recommend_spark.queries import QUERIES

from tests.conftest import SF_DIR


def test_candidate_matrix_bytes_is_footer_math():
    path = f"{SF_DIR}/embeddings.parquet"
    n = pq.ParquetFile(path).metadata.num_rows
    assert blockkernel.candidate_matrix_bytes(path, dim=64) == n * 64 * 8


def test_threshold_flips_with_budget(monkeypatch):
    path = f"{SF_DIR}/embeddings.parquet"
    need = blockkernel.candidate_matrix_bytes(path, dim=64)
    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", 1 << 40)
    assert blockkernel.n_buckets(need) == 1
    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", 1)
    assert blockkernel.n_buckets(need) == blockkernel.MAX_BUCKETS
    # a budget of half the matrix needs exactly 2 buckets
    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", need // 2)
    assert blockkernel.n_buckets(need) == 2


def test_grid_cells_hold_a_bucket_of_each_side(spark):
    """Past the budget every grid cell holds ~N/B rows of EACH side, so a
    cell's block shrinks with B.  (A design that replicates the whole
    stream side into every bucket would report N stream rows per cell.)"""
    import math

    import pandas as pd

    from recommend_spark.io import load_table

    b = 4
    need = b * blockkernel.MAX_STAGED_BYTES
    assert blockkernel.n_buckets(need) == b
    n = pq.ParquetFile(f"{SF_DIR}/embeddings.parquet").metadata.num_rows

    def staged():
        raise AssertionError("the grid path must stage nothing")

    def count(stream_pdf, index_pdf):
        yield pd.DataFrame(
            {"n_stream": [len(stream_pdf)], "n_index": [len(index_pdf)]}
        )

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cells = blockkernel.block_join(
        e,
        e,
        key="vec_id",
        need_bytes=need,
        stage=staged,
        from_rows=lambda pdf: pdf,
        score=count,
        schema="n_stream long, n_index long",
    ).collect()
    assert len(cells) == b * b
    bound = math.ceil(n / b) + 2  # slack for uneven id residues
    assert all(r.n_stream <= bound and r.n_index <= bound for r in cells)
    assert sum(r.n_stream for r in cells) == n * b
    assert sum(r.n_index for r in cells) == n * b


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_knn_join_fallback_hash_identical(spark, monkeypatch):
    broadcast = _rows(QUERIES["sim_knn_join"](spark, SF_DIR))
    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", 1)
    bucketed = _rows(QUERIES["sim_knn_join"](spark, SF_DIR))
    assert broadcast == bucketed  # exact doubles: same fold, same tie-break


def test_embed_cosine_fallback_hash_identical(spark, monkeypatch):
    broadcast = _rows(QUERIES["dedup_embed_cosine"](spark, SF_DIR))
    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", 1)
    bucketed = _rows(QUERIES["dedup_embed_cosine"](spark, SF_DIR))
    assert broadcast == bucketed


def test_kernel_broadcasts_memoized_across_rebuilds(spark):
    """r11-ADVICE fix, pinned: rebuilding the same kernel query must
    REUSE the content-memoized torrent broadcast instead of accumulating
    a fresh driver+executor blob per bench rep, and the memo must stay
    bounded (evicting, not growing) under distinct corpora."""
    import recommend_spark.blockkernel as bk

    sc = spark.sparkContext
    calls = []

    def make(tag):
        def _make():
            calls.append(tag)
            return (tag,)

        return _make

    start = dict(bk._BC_MEMO)
    try:
        bk._BC_MEMO.clear()
        a1 = bk.memo_broadcast(sc, ("t", 1), make("a"))
        a2 = bk.memo_broadcast(sc, ("t", 1), make("a"))
        assert a1 is a2 and calls == ["a"]  # rebuilt -> same blob, one make
        for i in range(2, 2 + bk._BC_MEMO_MAX):
            bk.memo_broadcast(sc, ("t", i), make(str(i)))
        assert len(bk._BC_MEMO) == bk._BC_MEMO_MAX  # bounded
        assert ("t", 1) not in bk._BC_MEMO  # oldest evicted
        # evicted-then-requested: a fresh broadcast is built
        calls.clear()
        b = bk.memo_broadcast(sc, ("t", 1), make("a"))
        assert calls == ["a"] and b is not a1
    finally:
        bk._BC_MEMO.clear()
        bk._BC_MEMO.update(start)


def test_memo_dropped_on_context_change(spark):
    """r12-ADVICE fix, pinned: the memo is scoped to the SparkContext.
    A process that stops one session and starts another must never get
    a memo hit whose broadcast was registered with the dead context —
    on an applicationId change the memo is dropped (no unpersist: the
    old JVM-side blocks died with their context)."""
    import recommend_spark.blockkernel as bk

    sc = spark.sparkContext
    start = dict(bk._BC_MEMO)
    start_app = bk._BC_MEMO_APP
    try:
        bk._BC_MEMO.clear()
        bk._BC_MEMO_APP = None
        a = bk.memo_broadcast(sc, ("ctx", 1), lambda: ("a",))
        assert bk.memo_broadcast(sc, ("ctx", 1), lambda: ("a",)) is a

        class _FakeSC:
            applicationId = "some-other-app"

            @staticmethod
            def broadcast(v):
                return sc.broadcast(v)

        # same key, different context -> MISS (fresh broadcast), and the
        # dead-context entry is gone from the memo entirely
        b = bk.memo_broadcast(_FakeSC, ("ctx", 1), lambda: ("a",))
        assert b is not a
        assert bk._BC_MEMO[("ctx", 1)] is b
        assert bk._BC_MEMO_APP == "some-other-app"
    finally:
        bk._BC_MEMO.clear()
        bk._BC_MEMO.update(start)
        bk._BC_MEMO_APP = start_app


def test_iter_stream_tiles_bounds_and_covers():
    """Tile rows × candidates × 8 never exceeds the budget (min 1 row), and
    the tiles partition the stream in order with no overlap."""
    import numpy as np

    ids = np.arange(100)
    mat = np.arange(100 * 4, dtype=np.float64).reshape(100, 4)
    # peak-live-set budget 3200 bytes / LIVE_BUFFERS_PER_TILE(4) ->
    # 800 bytes per buffer, at 25 candidates x 8 B -> exactly 4 rows/tile
    assert blockkernel.LIVE_BUFFERS_PER_TILE == 4
    tiles = list(blockkernel.iter_stream_tiles(ids, mat, 25, 3200))
    assert all(len(t_ids) == 4 for t_ids, _ in tiles)
    assert np.concatenate([t for t, _ in tiles]).tolist() == ids.tolist()
    assert np.concatenate([m for _, m in tiles]).tolist() == mat.tolist()
    # degenerate budget still makes progress one row at a time
    tiles1 = list(blockkernel.iter_stream_tiles(ids, mat, 25, 1))
    assert len(tiles1) == 100 and all(len(t) == 1 for t, _ in tiles1)


def test_dot_block_tmp_reuse_bit_identical():
    """The out=tmp rewrite must reproduce the naive per-k allocation fold
    bit-for-bit (same IEEE multiply and add per element)."""
    import numpy as np

    rng = np.random.default_rng(13)
    a = rng.standard_normal((7, 64))
    b = rng.standard_normal((11, 64))
    naive = np.zeros((7, 11))
    for k in range(64):
        naive += np.multiply.outer(a[:, k], b[:, k])
    got = blockkernel.index_ordered_dot_block(a, b)
    assert got.tobytes() == naive.tobytes()


def test_stream_tiling_identical_broadcast_paths(spark, monkeypatch):
    """A tile budget small enough to split every Arrow batch into many
    stream tiles must not change a single row of either broadcast kernel
    (each pair's fold runs intact inside one tile)."""
    knn = _rows(QUERIES["sim_knn_join"](spark, SF_DIR))
    pairs = _rows(QUERIES["dedup_embed_cosine"](spark, SF_DIR))
    # ~3 stream rows per tile at the sf0.001 candidate count
    monkeypatch.setattr(blockkernel, "STREAM_TILE_BYTES", 3 * 2000 * 8)
    assert _rows(QUERIES["sim_knn_join"](spark, SF_DIR)) == knn
    assert _rows(QUERIES["dedup_embed_cosine"](spark, SF_DIR)) == pairs


def test_stream_tiling_identical_bucketed_paths(spark, monkeypatch):
    """Same pin for the grid: a staging budget below the 500×64×8 =
    256,000 B embedding matrix forces the bucket grid, and a tiny tile
    budget forces many stream tiles per cell."""
    want = {
        q: _rows(QUERIES[q](spark, SF_DIR))
        for q in ("sim_knn_join", "dedup_embed_cosine")
    }
    monkeypatch.setattr(blockkernel, "MAX_STAGED_BYTES", 1 << 17)
    monkeypatch.setattr(blockkernel, "STREAM_TILE_BYTES", 4096)
    for q, rows in want.items():
        df = QUERIES[q](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan, q
        assert _rows(df) == rows, q


def test_topk_by_value_then_id_matches_lexsort_reference():
    """The argpartition fast path must equal the full-lexsort definition
    on tie-heavy data: values drawn from a tiny set so boundary ties
    (membership decided by the id tie-break) occur in most rows, plus
    -inf self-mask entries and an n<=k+1 degenerate."""
    import numpy as np

    rng = np.random.default_rng(7)
    for r, n, k in [(40, 200, 5), (8, 6, 5), (3, 5, 5), (17, 1000, 3)]:
        acc = rng.integers(0, 4, size=(r, n)).astype(np.float64)
        ids = rng.permutation(n * 3)[:n].astype(np.int64)
        acc[np.arange(r), rng.integers(0, n, size=r)] = -np.inf
        ref = np.lexsort((np.broadcast_to(ids, acc.shape), -acc), axis=1)[
            :, : min(k, n)
        ]
        got = blockkernel.topk_by_value_then_id(acc, ids, min(k, n))
        assert got.tolist() == ref.tolist(), (r, n, k)
