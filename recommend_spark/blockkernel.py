"""Sizing policy for driver-staged broadcast block kernels.

``sim_knn_join`` and ``dedup_embed_cosine`` ship the candidate embedding
matrix to executors via ``sparkContext.broadcast`` — one torrent transfer,
shared read-only by every task.  That matrix is materialized ON THE DRIVER
first (``pq.read_table``), so it is bounded by driver RAM:

    bytes = N_candidates × dim × 8   (float64)

At the fixtures' 64-dim embeddings the 2 GiB budget corresponds to
N ≈ 4.2M candidate vectors; a 100 TB corpus is far past it.  Callers check
``block_kernel_fits`` (a parquet FOOTER read — row count only, no data) and
route oversized candidate sides to their bucketed cogroup fallback, which
shuffles bucket-sized blocks instead of staging anything driver-side.  See
SCALE.md §"Block kernels".
"""

from __future__ import annotations

import hashlib
import math
import os

import pyarrow.parquet as pq

#: Driver-RAM budget for a staged candidate matrix.  Read at call time as
#: ``blockkernel.MAX_STAGED_BYTES``, so tests force the bucketed paths by
#: patching this attribute.
MAX_STAGED_BYTES = 2 << 30

#: Upper bound on fallback bucket count: replication cost of the bucketed
#: paths grows linearly with it, and past ~64 the per-bucket block is small
#: enough that scheduler overhead dominates the kernel.
MAX_BUCKETS = 64


def candidate_matrix_bytes(parquet_path: str, dim: int) -> int:
    """float64 bytes needed to stage the candidate matrix driver-side.

    Metadata-only: reads the parquet footer's row count, never the data.
    """
    n = pq.ParquetFile(parquet_path).metadata.num_rows
    return n * dim * 8


def block_kernel_fits(parquet_path: str, dim: int) -> bool:
    """True if the candidate side may be staged on the driver + broadcast."""
    return candidate_matrix_bytes(parquet_path, dim) <= MAX_STAGED_BYTES


def fallback_buckets(parquet_path: str, dim: int) -> int:
    """Bucket count for the cogroup fallback: each bucket's candidate block
    stays within the staging budget, capped at MAX_BUCKETS."""
    b = math.ceil(candidate_matrix_bytes(parquet_path, dim) / MAX_STAGED_BYTES)
    return max(1, min(MAX_BUCKETS, b))


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


def staged_embeddings_broadcast(sc, path: str):
    """Memoized torrent broadcast of the staged embedding block:
    (vec_id int64 array, N×dim float64 matrix) read from ``path``.

    Keyed by FILE identity (path, mtime, size) — zero hashing of the
    gated-size matrix.  ``dedup_embed_cosine`` and ``sim_knn_join``
    stage the identical value from the same file, so they share ONE
    executor-resident copy, and bench reps stop accumulating a fresh
    corpus-matrix blob per invocation (r11 ADVICE, extended r12)."""
    st = os.stat(path)
    key = ("embstage", path, st.st_mtime_ns, st.st_size)

    def make():
        import numpy as np

        t = pq.ParquetFile(path).read(columns=["vec_id", "embedding"])
        return (
            np.asarray(t["vec_id"]),
            np.asarray(t["embedding"].to_pylist(), dtype=np.float64),
        )

    return memo_broadcast(sc, key, make)


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
    DuckDB's ``list_reduce`` evaluate, which is what lets the broadcast
    kernels, their bucketed cogroup twins, and the SQL oracles all
    hash-match.  THE single definition: a BLAS matmul would be faster and
    WRONG here (blocked/FMA accumulation order varies with shape), and a
    second copy of this loop risks the two paths silently diverging.
    Shared by sim_knn_join, dedup_embed_cosine and both their fallbacks,
    each of which bounds a_mat via ``iter_stream_tiles``.

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
    single selection definition shared by sim_knn_join's broadcast
    kernel and its bucketed cogroup twin — same convention as
    ``index_ordered_dot_block``: one implementation, or the two paths
    silently diverge."""
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
    index_rows,
    vocab_map,
    *,
    metric,
    tau,
    exclude_self=False,
):
    """All qualifying (stream, index) set-intersection pairs via a dense
    0/1 GEMM block kernel — the degenerate-vocabulary twin of the
    embedding block kernels above.

    When a corpus's whole vocabulary fits a small universe (templated or
    boilerplate-heavy corpora; the regime that DEFEATS rare-token prefix
    filtering, because every posting list is a large fraction of the
    corpus, so the candidate join degenerates toward the quadratic pair
    space it exists to avoid), each document's distinct-token set is a
    |V|-bit incidence vector and the exact intersection size of every
    pair is one matrix product: ``n_common = A_bits @ B_bits.T``.  The
    index side ships as an N×V float32 incidence matrix via torrent
    broadcast (callers gate on ``MAX_STAGED_BYTES``; float32 at the
    source so each python worker holds exactly ONE gated-size copy —
    the in-kernel transpose is a numpy view, and a uint8 transport
    would re-materialize a per-partition float32 cast on top of it).
    The stream side flows through ``mapInPandas`` in Arrow batches — a
    map-only plan:
    no candidate shuffle, no pair materialization beyond the qualifying
    output.

    Unlike ``index_ordered_dot_block`` (floats: accumulation order
    changes the bits, so BLAS is banned there), every partial sum here
    is an integer ≤ |V| ≤ 1024 < 2^24 — exact in float32 under ANY
    accumulation order, so this kernel may (and does) use the platform
    GEMM.  The final metric is one float64 division of exact small
    ints — bit-identical to Spark's and DuckDB's double division.

    Args:
      stream_df: DataFrame (id long, nt long, toks array<string>) —
        each streamed document's distinct tokens.
      index_rows: list of (id, nt, toks-list) rows (already collected;
        the caller gates the size against ``MAX_STAGED_BYTES``).
      vocab_map: dict token -> bit index over the WHOLE corpus
        vocabulary (caller gates len(vocab_map) ≤ 1024).
      metric: 'containment' (n_common / nt_stream) or
        'jaccard' (n_common / (nt_stream + nt_index − n_common)).
      tau: qualifying threshold, metric ≥ tau.
      exclude_self: drop stream id == index id pairs (self-join mode).

    Returns a DataFrame (sid long, iid long, n_common long, metric
    double); callers rename/reorder/cast to their output contract.
    """
    import numpy as np

    idx_ids = np.asarray([r[0] for r in index_rows], dtype=np.int64)
    idx_nt = np.asarray([r[1] for r in index_rows], dtype=np.float64)
    idx_mat = _toks_matrix([r[2] for r in index_rows], vocab_map)
    # torrent broadcast, fetched once per python worker and shared by its
    # tasks — NOT a closure capture, which would re-pickle the matrix into
    # every task (the embed-cosine kernel's established transport).
    # Content-memoized: bench reps rebuild the same index; hashing the
    # staged arrays (gated ≤ budget) is far cheaper than re-broadcasting.
    key = (
        "bitset",
        idx_mat.shape,
        content_digest(idx_ids.tobytes()),
        content_digest(idx_nt.tobytes()),
        content_digest(idx_mat.tobytes()),
        content_digest(repr(sorted(vocab_map.items())).encode()),
    )
    bc = memo_broadcast(
        stream_df.sparkSession.sparkContext,
        key,
        lambda: (idx_ids, idx_nt, idx_mat),
    )

    def kernel(batches):
        b_ids, b_nt, b_mat = bc.value
        bt = b_mat.T  # float32 already; transpose is a view, not a copy
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = _toks_matrix(pdf["toks"], vocab_map)
            yield from _score_bitset_blocks(
                a,
                pdf["id"].to_numpy(np.int64),
                pdf["nt"].to_numpy(np.float64),
                bt,
                b_ids,
                b_nt,
                metric=metric,
                tau=tau,
                exclude_self=exclude_self,
            )

    return stream_df.mapInPandas(
        kernel, "sid long, iid long, n_common long, metric double"
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


def _score_bitset_blocks(
    a, s_ids, s_nt, bt, b_ids, b_nt, *, metric, tau, exclude_self
):
    """THE single scoring definition shared by the broadcast kernel and
    the bucketed cogroup twin (the index_ordered_dot_block convention:
    one implementation, or the two paths silently diverge).  Yields
    pandas frames of qualifying (sid, iid, n_common, metric) pairs."""
    import numpy as np
    import pandas as pd

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
        si, ii = np.nonzero(pre)
        if len(si) == 0:
            continue
        cs = c[si, ii].astype(np.float64)
        na = s_nt[lo + si]
        denom = na if metric == "containment" else (na + b_nt[ii] - cs)
        with np.errstate(divide="ignore", invalid="ignore"):
            val = cs / denom
        ok = (denom > 0) & (val >= tau)
        if exclude_self:
            ok &= s_ids[lo + si] != b_ids[ii]
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


def bitset_gemm_pairs_within_budget(
    stream_df,
    index_df,
    vocab_map,
    *,
    n_index,
    n_index_toks,
    metric,
    tau,
    exclude_self=False,
):
    """The bitset GEMM kernel on whichever path the staging budget allows:
    ``bitset_gemm_pairs`` when the index side fits on the driver,
    ``bitset_gemm_pairs_bucketed`` otherwise.

    Both driver-side footprints are gated: the f32 incidence matrix
    (``n_index`` × |V| × 4) AND the Python-object cost of collecting the
    (id, nt, toks) rows it is built from (``collected_toks_bytes`` of
    ``n_index`` rows holding ``n_index_toks`` tokens), which exceeds the
    matrix by 10-100x at small vocabularies.  B derives from the LARGER
    footprint: the fallback fires precisely when the token-list bytes blow
    the budget, so sizing from the matrix alone could pick B=2 and hand
    each cogroup cell a block far over budget.

    ``index_df`` has the stream side's columns (id long, nt long, toks
    array<string>); the output contract is ``bitset_gemm_pairs``'."""
    budget = MAX_STAGED_BYTES
    need = max(
        n_index * len(vocab_map) * 4, collected_toks_bytes(n_index, n_index_toks)
    )
    if need <= budget:
        index_rows = [(r["id"], r["nt"], r["toks"]) for r in index_df.collect()]
        return bitset_gemm_pairs(
            stream_df,
            index_rows,
            vocab_map,
            metric=metric,
            tau=tau,
            exclude_self=exclude_self,
        )
    return bitset_gemm_pairs_bucketed(
        stream_df,
        index_df,
        vocab_map,
        metric=metric,
        tau=tau,
        exclude_self=exclude_self,
        n_buckets=max(2, min(MAX_BUCKETS, -(-need // budget))),
    )


def bitset_gemm_pairs_bucketed(
    stream_df,
    index_df,
    vocab_map,
    *,
    metric,
    tau,
    exclude_self=False,
    n_buckets,
):
    """The bitset GEMM kernel WITHOUT driver staging — for index sides
    past ``MAX_STAGED_BYTES`` (the _embed_pairs_bucketed shape): both
    sides hash into B buckets, every (i, j) grid cell cogroups stream
    bucket i with index bucket j, and the cell runs the SAME
    ``_score_bitset_blocks`` scorer on matrices built executor-side from
    the cogrouped rows.  A (stream, index) pair lands in exactly one
    cell — (s%B, i%B) — so the output is identical to the broadcast
    path with no dedup pass.  Cost: BOTH sides shuffle B× — the stream
    side explodes over all B ``bj`` values and the index side over all
    B ``bi`` values, so the cogroup shuffle moves B·|stream| + B·|index|
    rows (the B²-grid has no one-sided replication; measured shuffle
    amplification is recorded beside the perturbed-sf1 12.2 s entry in
    SCALE.md §10s).  Each cell's index matrix is ~1/B of the whole, so
    B = ceil(index_bytes / budget) keeps every cell within the staging
    budget (callers cap at MAX_BUCKETS).

    Inputs are DataFrames (id long, nt long, toks array<string>);
    NOTHING is collected to the driver.  Output contract matches
    bitset_gemm_pairs."""
    import pandas as pd
    import pyspark.sql.functions as F

    # The two sides are usually derived from the SAME DataFrame (self
    # dedup) — rename the index side's data columns and give each side
    # its OWN explode expression, otherwise the duplicated attribute ids
    # trip the analyzer's self-cogroup deduplication and the right-side
    # data columns arrive pruned in the udf (observed: rpdf carrying
    # only the grouping keys).
    left = stream_df.withColumn(
        "bi", F.pmod("id", F.lit(n_buckets)).cast("int")
    ).withColumn("bj", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))))
    right = (
        index_df.select(
            F.col("id").alias("rid"),
            F.col("nt").alias("rnt"),
            F.col("toks").alias("rtoks"),
        )
        .withColumn("bj", F.pmod("rid", F.lit(n_buckets)).cast("int"))
        .withColumn(
            "bi", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
        )
    )

    def cell(lpdf, rpdf):
        import numpy as np

        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(
                {"sid": [], "iid": [], "n_common": [], "metric": []}
            ).astype(
                {
                    "sid": "int64",
                    "iid": "int64",
                    "n_common": "int64",
                    "metric": "float64",
                }
            )
        a = _toks_matrix(lpdf["toks"], vocab_map)
        bt = _toks_matrix(rpdf["rtoks"], vocab_map).T
        outs = list(
            _score_bitset_blocks(
                a,
                lpdf["id"].to_numpy(np.int64),
                lpdf["nt"].to_numpy(np.float64),
                bt,
                rpdf["rid"].to_numpy(np.int64),
                rpdf["rnt"].to_numpy(np.float64),
                metric=metric,
                tau=tau,
                exclude_self=exclude_self,
            )
        )
        if not outs:
            return pd.DataFrame(
                {"sid": [], "iid": [], "n_common": [], "metric": []}
            ).astype(
                {
                    "sid": "int64",
                    "iid": "int64",
                    "n_common": "int64",
                    "metric": "float64",
                }
            )
        return pd.concat(outs, ignore_index=True)

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(cell, "sid long, iid long, n_common long, metric double")
    )
