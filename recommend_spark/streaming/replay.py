"""Deterministic streaming replay harness.

Materializes the ``events`` fixture as N=8 time-ordered parquet chunks, then
runs a caller-supplied streaming graph over them with an ``availableNow``
trigger — a real micro-batch execution with deterministic batch boundaries
and real state-store semantics.  ``run_stream`` defaults to
``maxFilesPerTrigger=4`` (2 data micro-batches — A/B-measured as the best
cost/coverage point); watermark-timing-sensitive replays pass
``files_per_trigger=2`` explicitly to get more watermark advances per run.

At production scale the same graph reads a file/Kafka source continuously;
nothing in the query changes — availableNow vs processingTime is a trigger
swap.
"""

from __future__ import annotations

import os
import shutil
import threading
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window as W

from ..io import ART_ROOT, load_table, sf_key

ART = Path(ART_ROOT)
N_CHUNKS = 8

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def materialize_chunks(spark: SparkSession, sf_dir: str, shuffled: bool = False) -> str:
    """Write events as N_CHUNKS parquet files in ts order (or a deterministic
    out-of-order permutation for late-data tests).  Sequential writes give
    monotone mod-times, which fixes the FileStreamSource replay order."""
    tag = sf_key(sf_dir) + ("_shuffled" if shuffled else "")
    root = ART / f"stream_src_{tag}"
    done = root / "_DONE"
    if done.exists():
        return str(root)
    if root.exists():
        shutil.rmtree(root)
    root.mkdir(parents=True)
    ev = load_table(spark, sf_dir, "events")
    chunked = ev.withColumn(
        "chunk", F.ntile(N_CHUNKS).over(W.orderBy("ts", "event_id")) - 1
    ).cache()
    order = list(range(N_CHUNKS))
    if shuffled:
        # deterministic permutation: late chunks interleaved
        order = [0, 2, 1, 4, 3, 6, 5, 7]
    for i, c in enumerate(order):
        (
            chunked.filter(F.col("chunk") == c)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(root / f"chunk_{i:02d}"))
        )
    chunked.unpersist()
    done.touch()
    return str(root)


def proc_scoped_dir(prefix: str) -> Path:
    """Per-PROCESS artifact path under ART, pre-cleaned.

    The replay lock serializes replays within one process, but two
    concurrent pytest/driver processes on one repo share ART — a FIXED
    checkpoint path lets process A rmtree the dir while process B's query
    is mid-commit ("commits/.0.*.tmp does not exist", observed as a
    concurrent-halves flake in r13).  Suffixing the live pid removes the
    cross-process collision; same-process reruns still reuse (and clean)
    one dir per name.  Siblings left by DEAD pids are swept here so ART
    stays bounded across rounds — a sibling whose pid is still alive is
    never touched (that IS the other process's live checkpoint)."""
    for old in ART.glob(f"{prefix}_*"):
        pid = old.name.rsplit("_", 1)[-1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(old, ignore_errors=True)
    d = ART / f"{prefix}_{os.getpid()}"
    if d.exists():
        shutil.rmtree(d)
    return d


def run_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
    output_mode: str = "complete",
    shuffled: bool = False,
    files_per_trigger: int = 4,
    state_width: int = 2,
) -> DataFrame:
    """Replay events through ``build(stream_df) -> DataFrame`` and return the
    final memory-sink table (a fresh checkpoint every run -> repeatable).

    CONCURRENCY CONTRACT: replays run SERIALLY on the session.  The
    state-store width below is applied via a session-global
    ``spark.sql.shuffle.partitions`` set/restore (Structured Streaming pins
    the width from the session conf at first checkpoint — there is no
    per-query override), so a batch query planned on the same session
    DURING a replay would see width 8.  ``_REPLAY_LOCK`` serializes replays
    against each other; every in-repo consumer (driver sweep, bench.py,
    pytest, tools/t2_mirror.py) runs queries sequentially, which is the
    supported mode.  On a shared multi-tenant session, run replays on a
    dedicated session instead."""
    src = materialize_chunks(spark, sf_dir, shuffled=shuffled)
    chk = proc_scoped_dir(f"chk_{name}")
    # State-store width is pinned at first checkpoint; at fixture scale each
    # micro-batch is small, so fewer state partitions means fewer
    # task-launch + state-commit overheads per batch (batches × width).
    # On a real cluster size this to peak key cardinality instead
    # (the ``state_width`` argument).
    # r14 interleaved A/B (min-of-3, results bit-identical across widths):
    # JVM-state replays want width 2 — per-batch state commits scale with
    # width and dominate these tiny micro-batches (stream_stream_join
    # 3.90 → 2.65 s, outer 3.89 → 2.87, dedup 2.88 → 1.92, static
    # 3.12 → 2.62, tumbling 1.84 → 1.37) — while the two
    # applyInPandasWithState ops want width 8 (Python-worker parallelism
    # beats commit savings: stateful_count 3.70 vs 6.29 at width 2,
    # session_ttl 4.49 vs 8.40); those pass ``state_width=8`` explicitly.
    # A later same-session A/B reconfirmed width 2 (tools/ab_r15_width.py
    # and its .json record at commit e0718c1).
    # acquire and set/restore are ALL inside one try/finally: an exception
    # while building the readStream must not leak the lock (every later
    # replay would block forever) or the width conf (every later batch
    # query would shuffle at replay width)
    _REPLAY_LOCK.acquire()
    prev_parts = None
    try:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_width))
    # 4 files per micro-batch: still a genuine multi-batch execution (2
    # batches over 8 chunks — state carried across the batch boundary,
    # watermark advances batch-to-batch) at a quarter of the per-batch
    # scheduler + state-commit overhead.  All replay assertions are
    # batching-independent (prefix / convergence properties, never
    # per-batch contents; equality verified 2 vs 4 vs 8 files/trigger).
    # Watermark-timing-sensitive replays pass files_per_trigger=2
    # explicitly to keep more watermark advances in the run.
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", files_per_trigger)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(chk))
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        _REPLAY_LOCK.release()
    return spark.table(name)


#: Serializes replays: each one set/restores the session shuffle width.
_REPLAY_LOCK = threading.Lock()


def replay_floor(spark: SparkSession, sf_dir: str, files_per_trigger: int = 4) -> float:
    """Wall seconds of a MINIMAL stateful replay over the same chunked
    source: a global streaming count in complete mode — one state row per
    partition, no per-event work beyond counting.  This is the harness
    fixed cost every ``stream_*`` operator pays before doing anything
    real: source listing, micro-batch scheduling, checkpoint writes and
    state-store commits (batches × empty-batch cost).  bench.py reports
    it next to per-op wall so a genuine streaming regression is
    distinguishable from the replay floor (r10 verdict item 6).  Every
    registered stream op uses this exact config (8 chunks,
    files_per_trigger=4, unshuffled), so one floor covers the family."""
    import time

    t0 = time.perf_counter()
    run_stream(
        spark,
        sf_dir,
        "rs_replay_floor",
        lambda s: s.groupBy().count(),
        output_mode="complete",
        files_per_trigger=files_per_trigger,
    )
    return time.perf_counter() - t0
