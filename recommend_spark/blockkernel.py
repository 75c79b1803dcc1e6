"""The block kernels and their one staging decision.

Three exact kernels score a streamed side against a whole index side, one
dense block per Arrow batch:

- ``sim_knn_join``: float64 cosine blocks, per-query top-k;
- ``dedup_embed_cosine``: the same blocks, every pair at or over tau;
- ``bitset_gemm_pairs`` (``dedup_containment``, ``join_set_similarity``
  and the exact Jaccard pair tables behind ``dedup_near_jaccard``):
  float32 0/1 incidence GEMM blocks, pairs at or over a set metric.

``block_join`` runs all three.  The one decision is ``n_buckets``: when the
index side's driver footprint fits ``MAX_STAGED_BYTES``, the index value is
staged on the driver, torrent-broadcast once (``memo_broadcast``) and the
stream side runs map-only through ``mapInPandas``.  Past the budget nothing
is staged: both sides hash into B buckets and every (bi, bj) cell of the
B×B grid cogroups ~1/B of each side, builds the index value executor-side
and runs the SAME scorer.  The embedding footprint is a parquet FOOTER
read (row count only, no data); see SCALE.md §10d-bis.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from .io import spread_width

#: Driver-RAM budget for a staged index value.  Read at call time by
#: ``n_buckets``, so tests force the grid path by patching this attribute.
MAX_STAGED_BYTES = 2 << 30

#: Upper bound on the grid side B: the grid shuffles B copies of each
#: side, and past ~64 the per-cell block is small enough that scheduler
#: overhead dominates the kernel.
MAX_BUCKETS = 64


def candidate_matrix_bytes(parquet_path: str, dim: int) -> int:
    """float64 bytes needed to stage the candidate matrix driver-side.

    Metadata-only: reads the parquet footer's row count, never the data.
    """
    n = pq.ParquetFile(parquet_path).metadata.num_rows
    return n * dim * 8


def n_buckets(need_bytes: int) -> int:
    """Grid side B for an index side needing ``need_bytes`` of driver RAM:
    1 (stage and broadcast) within ``MAX_STAGED_BYTES``, otherwise
    ⌈need / budget⌉ capped at ``MAX_BUCKETS``, so each cell's ~1/B of the
    index side is within the budget."""
    if need_bytes <= MAX_STAGED_BYTES:
        return 1
    return min(MAX_BUCKETS, -(-need_bytes // MAX_STAGED_BYTES))


def block_join(
    stream_df,
    index_df,
    *,
    key,
    need_bytes,
    stage,
    from_rows,
    score,
    schema,
    finish=None,
):
    """Score every ``stream_df`` row against the whole of ``index_df`` on
    the path ``n_buckets(need_bytes)`` picks.  The staged path
    repartitions the stream to ``spread_width`` before the map, so the
    kernel runs one task per core (a single-file scan is one task
    otherwise); the grid's cogroup exchange spreads it already.

    Args:
      stream_df, index_df: DataFrames with the same columns; ``key`` is a
        long column of both that the grid path hashes into buckets.
      need_bytes: the index side's driver footprint if staged.
      stage: ``() -> (memo_key, make_value)``, called on the staged path
        only; ``make_value()`` builds the index value on the driver and
        ``memo_broadcast`` ships it under ``memo_key``.
      from_rows: ``pdf -> value``, the same value built on an executor
        from a pandas frame of index rows (grid path).
      score: ``(stream_pdf, value) -> iterator of pandas frames`` matching
        ``schema``; THE one scoring definition of both paths.
      schema: output DDL schema.
      finish: ``DataFrame -> DataFrame`` applied to the grid path's output
        only: a cell sees 1/B of the index side, so a per-stream-row
        selection (kNN's top-k) needs one global merge after the cells.

    A (stream, index) row pair meets in exactly one cell, (s%B, i%B), and
    a cell's scorer runs on the same arithmetic as the broadcast kernel,
    so both paths return identical rows (after ``finish``)."""
    nb = n_buckets(need_bytes)
    spark = stream_df.sparkSession
    if nb == 1:
        memo_key, make_value = stage()
        bc = memo_broadcast(spark.sparkContext, memo_key, make_value)

        def kernel(batches):
            value = bc.value
            for pdf in batches:
                if len(pdf):
                    yield from score(pdf, value)

        return stream_df.repartition(spread_width(spark)).mapInPandas(
            kernel, schema
        )

    import pyspark.sql.functions as F

    # Self-joins derive both sides from the SAME DataFrame: rename the
    # index side's columns and give each side its OWN explode expression,
    # otherwise the duplicated attribute ids trip the analyzer's
    # self-cogroup deduplication and the index columns arrive pruned in
    # the udf (observed: the right frame carrying only the grouping keys).
    cols = index_df.columns
    renamed = {f"_ix_{c}": c for c in cols}

    def grid():
        return F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))

    left = stream_df.withColumn(
        "bi", F.pmod(key, F.lit(nb)).cast("int")
    ).withColumn("bj", grid())
    right = (
        index_df.select(*[F.col(c).alias(r) for r, c in renamed.items()])
        .withColumn("bj", F.pmod(f"_ix_{key}", F.lit(nb)).cast("int"))
        .withColumn("bi", grid())
    )

    def cell(lpdf, rpdf):
        import pandas as pd

        # an empty frame with no columns is the cogroup udf's empty result
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame()
        outs = list(score(lpdf, from_rows(rpdf.rename(columns=renamed))))
        return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()

    out = (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(cell, schema)
    )
    return finish(out) if finish else out


#: Rough per-object driver costs of collect()ing (id, nt, toks) rows —
#: pyspark Row + list + short-str overhead.  The matrix-bytes gate alone
#: under-measures the GEMM kernels' collects by 10-100x at small
#: vocabularies (the matrix is N×V/8 bits but the token lists are
#: N×nt Python strings), so callers bound BOTH against the same budget.
COLLECT_ROW_BYTES = 96
COLLECT_TOKEN_BYTES = 80


def collected_toks_bytes(n_rows: int, n_tokens: int) -> int:
    """Estimated driver bytes for collecting n_rows (id, nt, toks) rows
    holding n_tokens token strings in total."""
    return n_rows * COLLECT_ROW_BYTES + n_tokens * COLLECT_TOKEN_BYTES


#: Content-keyed memo for kernel torrent broadcasts.  bench.py invokes
#: each query BUILDER multiple reps on one session, and a fresh
#: ``sparkContext.broadcast`` per build accumulates driver + executor
#: blobs across reps (r11 ADVICE).  Keyed by content hash, so identical
#: rebuilds reuse ONE blob; evicted entries are ``unpersist()``ed —
#: executors drop their blocks and any straggler plan that still
#: references the broadcast refetches from the driver (``destroy()``
#: would hard-break such a plan).  Bounded small: entries are
#: budget-gated (≤ MAX_STAGED_BYTES each).
_BC_MEMO: dict = {}
_BC_MEMO_MAX = 4
_BC_MEMO_APP: str | None = None


def content_digest(data: bytes) -> str:
    """Full-width content digest for memo keys.  Python ``hash()`` is only
    64-bit: a collision between two equal-shaped matrices would silently
    serve the wrong broadcast content — wrong results, no error (r12
    ADVICE).  blake2b costs about the same as the ``tobytes()`` copy the
    caller already pays and makes that failure mode cryptographically
    impossible."""
    return hashlib.blake2b(data, digest_size=32).hexdigest()


def memo_broadcast(sc, key, make_value):
    """Return a (possibly cached) broadcast of ``make_value()`` under the
    content ``key``; evicts oldest-inserted past ``_BC_MEMO_MAX``.

    Scoped to the calling SparkContext: broadcasts outlive ``spark.stop()``
    as Python objects, so a process that cycles sessions (stop one, start
    another) must never get a memo hit registered with the dead context —
    tasks in the new context would fail to fetch it (r12 ADVICE).  On an
    applicationId change the whole memo is dropped WITHOUT unpersist():
    the old context is gone and its JVM-side blocks with it; calling into
    a stopped context would raise."""
    global _BC_MEMO_APP
    app = sc.applicationId
    if app != _BC_MEMO_APP:
        _BC_MEMO.clear()
        _BC_MEMO_APP = app
    bc = _BC_MEMO.get(key)
    if bc is not None:
        return bc
    while len(_BC_MEMO) >= _BC_MEMO_MAX:
        oldest = next(iter(_BC_MEMO))
        _BC_MEMO.pop(oldest).unpersist(blocking=False)
    bc = sc.broadcast(make_value())
    _BC_MEMO[key] = bc
    return bc


def staged_embeddings(path: str):
    """``block_join``'s ``stage`` for the embedding kernels: a memo key and
    a maker of the (vec_id int64 array, N×dim float64 matrix) block read
    from ``path``.

    Keyed by FILE identity (path, mtime, size) — zero hashing of the
    gated-size matrix.  ``dedup_embed_cosine`` and ``sim_knn_join``
    stage the identical value from the same file, so they share ONE
    executor-resident copy, and bench reps stop accumulating a fresh
    corpus-matrix blob per invocation (r11 ADVICE, extended r12)."""
    st = os.stat(path)

    def make():
        import numpy as np

        t = pq.ParquetFile(path).read(columns=["vec_id", "embedding"])
        return (
            np.asarray(t["vec_id"]),
            np.asarray(t["embedding"].to_pylist(), dtype=np.float64),
        )

    return ("embstage", path, st.st_mtime_ns, st.st_size), make


def embeddings_from_rows(pdf):
    """``block_join``'s ``from_rows`` for the embedding kernels: the
    ``staged_embeddings`` value built from a pandas frame of rows."""
    import numpy as np

    return (
        pdf["vec_id"].to_numpy(),
        np.asarray(pdf["embedding"].to_list(), dtype=np.float64),
    )


#: Per-task working-set bound for one dense score block (stream-tile rows ×
#: N_candidates float64).  The kernel's flops follow the N² law, but its
#: PEAK MEMORY grows with the full block: at the r13 sf1→sf3 decade the
#: per-task accumulator went 95 MB → 858 MB and 32 concurrent tasks measured
#: 19.6×/17.3× wall for 9× flops — allocator churn + bandwidth saturation,
#: not compute.  Tiling the STREAM axis keeps every task in the regime that
#: measures at law, and is free of semantic risk: each (stream, candidate)
#: pair's k-fold runs intact inside exactly one tile, so output is
#: bit-identical at any tile size.
#: The budget bounds the PEAK live set, not one buffer: a kernel invocation
#: concurrently holds the acc block, the reused tmp block
#: (``index_ordered_dot_block``) and up to two consumer temporaries
#: (np.where / negation copies, boolean masks), so the tile step divides the
#: budget by LIVE_BUFFERS_PER_TILE.  256 MiB keeps the effective step
#: identical to the r13-measured 64 MB-per-buffer tiling (256 MB / 4).
#: Callers read ``blockkernel.STREAM_TILE_BYTES`` DRIVER-side at plan build
#: and close the value over into the kernel udf, so a patched value reaches
#: the Python workers.
LIVE_BUFFERS_PER_TILE = 4
STREAM_TILE_BYTES = 256 << 20


def iter_stream_tiles(ids, mat, n_candidates: int, budget_bytes: int):
    """Row-slices of a stream batch sized so the PEAK live set of one tile
    — the rows×N score block plus its kernel/consumer temporaries,
    ``LIVE_BUFFERS_PER_TILE`` buffers in all — stays within
    ``budget_bytes``.  Yields (ids_slice, mat_slice) views — no copies."""
    per_buffer = budget_bytes // LIVE_BUFFERS_PER_TILE
    step = max(1, per_buffer // (max(1, n_candidates) * 8))
    for s in range(0, len(ids), step):
        yield ids[s : s + step], mat[s : s + step]


def index_ordered_dot_block(a_mat, b_mat):
    """Dense dot-product block via an index-ordered left fold over the
    dimensions: acc[i,j] = (((0 + a[i,0]·b[j,0]) + a[i,1]·b[j,1]) + …) —
    bit-identical to the scalar fold that Spark's ``F.aggregate`` and
    DuckDB's ``list_reduce`` evaluate, which is what lets both
    ``block_join`` paths of the embedding kernels and the SQL oracles all
    hash-match.  THE single definition: a BLAS matmul would be faster and
    WRONG here (blocked/FMA accumulation order varies with shape), and a
    second copy of this loop risks the kernels silently diverging.
    Shared by the sim_knn_join and dedup_embed_cosine scorers, each of
    which bounds a_mat via ``iter_stream_tiles``.

    The per-k outer product writes into ONE reused buffer (``out=tmp``)
    instead of allocating a fresh rows×N temporary 64 times — same IEEE
    multiply and add per element, so bit-identical, without 64 large
    allocations per block."""
    import numpy as np

    acc = np.zeros((a_mat.shape[0], b_mat.shape[0]))
    tmp = np.empty_like(acc)
    for k in range(b_mat.shape[1]):
        np.multiply(a_mat[:, k, None], b_mat[None, :, k], out=tmp)
        acc += tmp
    return acc


def topk_by_value_then_id(acc_m, b_ids, k):
    """Exact per-row top-k selection over the candidate axis by
    (value DESC, id ASC) — returns an r×k index array equal to
    ``np.lexsort((broadcast(b_ids), -acc_m), axis=1)[:, :k]`` but O(N)
    per row instead of O(N log N): ``argpartition`` isolates the k best
    values, a k-element lexsort orders them, and only rows with a tie AT
    the k-th value (where membership itself depends on the id tie-break
    — real in replica-perturbed corpora, where duplicate embeddings give
    exactly equal cosines) fall back to the full-axis lexsort.  THE
    single selection definition, used by sim_knn_join's scorer on both
    ``block_join`` paths — same convention as ``index_ordered_dot_block``:
    one implementation, or the paths silently diverge."""
    import numpy as np

    n = acc_m.shape[1]
    if n <= k + 1:
        return np.lexsort(
            (np.broadcast_to(b_ids, acc_m.shape), -acc_m), axis=1
        )[:, :k]
    neg = -acc_m
    part = np.argpartition(neg, k - 1, axis=1)[:, :k]
    sel_neg = np.take_along_axis(neg, part, axis=1)
    kth = sel_neg.max(axis=1, keepdims=True)
    # order the k selected by (value DESC, id ASC); lexsort is stable,
    # last key primary
    o = np.lexsort((b_ids[part], sel_neg), axis=1)
    out = np.take_along_axis(part, o, axis=1)
    ties = (neg <= kth).sum(axis=1) > k
    if ties.any():
        nt = int(ties.sum())
        out[ties] = np.lexsort(
            (np.broadcast_to(b_ids, (nt, n)), neg[ties]), axis=1
        )[:, :k]
    return out


def bitset_gemm_pairs(
    stream_df,
    index_df,
    vocab_map,
    *,
    n_index,
    n_index_toks,
    metric,
    tau,
    pair_mask=None,
):
    """All qualifying (stream, index) set-intersection pairs via a dense
    0/1 GEMM block kernel — the degenerate-vocabulary twin of the
    embedding block kernels.

    When a corpus's whole vocabulary fits a small universe (templated or
    boilerplate-heavy corpora; the regime that DEFEATS rare-token prefix
    filtering, because every posting list is a large fraction of the
    corpus, so the candidate join degenerates toward the quadratic pair
    space it exists to avoid), each document's distinct-token set is a
    |V|-bit incidence vector and the exact intersection size of every
    pair is one matrix product: ``n_common = A_bits @ B_bits.T``.  Within
    the staging budget the index side ships as an N×V float32 incidence
    matrix via torrent broadcast (float32 at the source so each python
    worker holds exactly ONE budget-sized copy — the in-kernel transpose
    is a numpy view, and a uint8 transport would re-materialize a
    per-partition float32 cast on top of it) and the stream side flows
    through ``mapInPandas`` in Arrow batches — a map-only plan: no
    candidate shuffle, no pair materialization beyond the qualifying
    output.  Past it, ``block_join``'s grid builds each cell's matrix
    executor-side and NOTHING is collected to the driver.

    Callers: ``join_set_similarity`` (corpus stream × probe index) and
    two self-joins over one corpus, ``dedup_containment`` (directional,
    ``pair_mask=operator.ne``) and the exact Jaccard pair tables
    (symmetric, ``pair_mask=operator.lt``).  The mask is ANDed into the
    dense prefilter block, so a symmetric pair is divided and leaves
    Python once.

    The driver footprint counts both the f32 incidence matrix
    (``n_index`` × |V| × 4) and the Python-object cost of collecting the
    (id, nt, toks) rows it is built from (``collected_toks_bytes``),
    which exceeds the matrix by 10-100x at small vocabularies; sizing the
    grid from the matrix alone could hand each cell a block far over
    budget.

    Unlike ``index_ordered_dot_block`` (floats: accumulation order
    changes the bits, so BLAS is banned there), every partial sum here
    is an integer ≤ |V| ≤ 1024 < 2^24 — exact in float32 under ANY
    accumulation order, so this kernel may (and does) use the platform
    GEMM.  The final metric is one float64 division of exact small
    ints — bit-identical to Spark's and DuckDB's double division.

    Args:
      stream_df, index_df: DataFrames (id long, nt long, toks
        array<string>) — each document's distinct tokens.
      vocab_map: dict token -> bit index over the WHOLE corpus
        vocabulary (caller gates len(vocab_map) ≤ 1024).
      n_index, n_index_toks: index-side row and token counts.
      metric: 'containment' (n_common / nt_stream) or
        'jaccard' (n_common / (nt_stream + nt_index − n_common)).
      tau: qualifying threshold, metric ≥ tau.
      pair_mask: optional elementwise ``f(sid, iid) -> bool`` over id
        arrays; only pairs it keeps leave the kernel.  Self-joins pass
        ``operator.ne`` (directional: drop each doc against itself) or
        ``operator.lt`` (symmetric: each unordered pair once).

    Returns a DataFrame (sid long, iid long, n_common long, metric
    double); callers rename/reorder/cast to their output contract.
    """
    import functools

    import numpy as np

    def from_rows(pdf):
        return (
            pdf["id"].to_numpy(np.int64),
            pdf["nt"].to_numpy(np.float64),
            _toks_matrix(pdf["toks"], vocab_map),
        )

    def stage():
        # the collect IS the broadcast operand's materialization.
        # Content-memoized: bench reps rebuild the same index; hashing the
        # staged arrays (within budget) is far cheaper than re-broadcasting.
        value = from_rows(index_df.toPandas())
        ids, nt, mat = value
        key = (
            "bitset",
            mat.shape,
            content_digest(ids.tobytes()),
            content_digest(nt.tobytes()),
            content_digest(mat.tobytes()),
            content_digest(repr(sorted(vocab_map.items())).encode()),
        )
        return key, lambda: value

    return block_join(
        stream_df,
        index_df,
        key="id",
        need_bytes=max(
            n_index * len(vocab_map) * 4,
            collected_toks_bytes(n_index, n_index_toks),
        ),
        stage=stage,
        from_rows=from_rows,
        score=functools.partial(
            _score_bitset_blocks,
            vocab_map=vocab_map,
            metric=metric,
            tau=tau,
            pair_mask=pair_mask,
        ),
        schema="sid long, iid long, n_common long, metric double",
    )


def _toks_matrix(tok_lists, vocab_map):
    """|rows|×|V| float32 incidence matrix from token lists (float32 at
    the source — see bitset_gemm_pairs' transport note)."""
    import numpy as np

    m = np.zeros((len(tok_lists), len(vocab_map)), dtype=np.float32)
    for i, ts in enumerate(tok_lists):
        if len(ts):
            m[i, [vocab_map[t] for t in ts]] = 1.0
    return m


def _score_bitset_blocks(pdf, value, *, vocab_map, metric, tau, pair_mask):
    """The bitset kernel's ``block_join`` scorer: a stream batch against
    an (ids, nt, float32 incidence matrix) index value.  Yields pandas
    frames of qualifying (sid, iid, n_common, metric) pairs."""
    import numpy as np
    import pandas as pd

    b_ids, b_nt, b_mat = value
    bt = b_mat.T  # float32 already; transpose is a view, not a copy
    a = _toks_matrix(pdf["toks"], vocab_map)
    s_ids = pdf["id"].to_numpy(np.int64)
    s_nt = pdf["nt"].to_numpy(np.float64)
    # Sub-block the stream side so each (block × N_index) float32 score
    # matrix stays cache-sized (≤64 MB) regardless of input batch size.
    block = max(1, min(512, (64 << 20) // max(1, 4 * bt.shape[1])))
    for lo in range(0, a.shape[0], block):
        hi = min(a.shape[0], lo + block)
        c = a[lo:hi] @ bt  # exact small ints in float32
        # Conservative integer PREFILTER in float32 (c is integer-valued,
        # so c >= floor(x) admits every pair with c/denom >= tau and at
        # most one spurious count level); the exact float64 division —
        # the one both engines hash — runs only on the sparse survivors,
        # not the dense block.
        if metric == "containment":
            pre = c >= np.floor(tau * s_nt[lo:hi])[:, None].astype(
                np.float32
            )
        else:  # jaccard: c/(na+nb-c) >= tau  <=>  c >= t/(1+t)*(na+nb)
            pre = c >= np.floor(
                (tau / (1.0 + tau)) * (s_nt[lo:hi, None] + b_nt[None, :])
            ).astype(np.float32)
        if pair_mask is not None:
            pre &= pair_mask(s_ids[lo:hi, None], b_ids[None, :])
        si, ii = np.nonzero(pre)
        if len(si) == 0:
            continue
        cs = c[si, ii].astype(np.float64)
        na = s_nt[lo + si]
        denom = na if metric == "containment" else (na + b_nt[ii] - cs)
        with np.errstate(divide="ignore", invalid="ignore"):
            val = cs / denom
        ok = (denom > 0) & (val >= tau)
        if not ok.any():
            continue
        yield pd.DataFrame(
            {
                "sid": s_ids[lo + si[ok]],
                "iid": b_ids[ii[ok]],
                "n_common": cs[ok].astype(np.int64),
                "metric": val[ok],
            }
        )
