"""§2.9b Deduplication operators (LLM-data-pipeline mandate).

Five dedup families, each with the shape that survives 100 TB:

- exact           content-hash groupBy (one shuffle on the hash)
- near (Jaccard)  EXACT similarity join via prefix filtering (PPJoin-style:
                  rare-token prefixes bound candidates losslessly), then
                  exact rescore — no quadratic cross join
- near (MinHash)  MinHashLSH banding (rows-only; recall-tested vs the exact
                  twin)
- SimHash         deterministic 24-bit simhash + Hamming pairs (engine-
                  neutral polynomial token hashes, so it IS oracle-checkable)
- embedding       cosine near-dup pairs over unit-norm vectors
"""

from __future__ import annotations

import operator

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from .. import blockkernel
from ..blockkernel import (
    bitset_gemm_pairs,
    block_join,
    candidate_matrix_bytes,
    embeddings_from_rows,
    index_ordered_dot_block,
    iter_stream_tiles,
    staged_embeddings,
)
from ..io import (
    checkpoint,
    hint_if,
    load_table,
    sf_key,
    stats_memo,
    table_file_bytes,
    table_fingerprint,
    table_rows,
)
from ..registry import register

_SQL_TOKS = "list_distinct(string_split(lower(text), ' '))"
_JACCARD_TAU = 0.8


def _TOKS():
    # lazy: Column construction requires an active SparkContext
    return F.array_distinct(F.split(F.lower(F.col("text")), " "))


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup keyed on sha256(text), keeping the min doc_id —
    deterministic keeper choice (bare dropDuplicates keeps an arbitrary
    row and is banned).  Fixtures have zero exact dups (verified), so the
    result is the identity set — still a full value-hash check."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


def _pairs_artifact(spark, sf_dir, variant, build):
    """Jaccard pair table, materialized ONCE per (corpus, token-set variant)
    as a parquet artifact and memoized on disk (fixtures are immutable).

    A production pipeline materializes similarity pairs once per corpus
    snapshot and fans consumers out from the artifact (dedup_near_jaccard
    reports the word-token pairs; dedup_cluster builds components over the
    same table), so the engine does too.  Parquet (not localCheckpoint)
    deliberately: the checkpoint's RDD materialization path skips AQE,
    losing the skew handling the similarity join depends on (~4× slower,
    measured).  See io.disk_memo for the shared mechanism."""
    from ..io import disk_memo

    # bump when the pair pipeline's semantics change: stale artifacts from
    # an older code version must never serve a newer engine
    version = "v1"
    return disk_memo(
        spark, f"jaccard_pairs_{version}_{variant}_{sf_key(sf_dir)}", build
    )


def _word_pairs_cached(spark, sf_dir):
    return _pairs_artifact(
        spark,
        sf_dir,
        "word",
        lambda: _jaccard_pairs_exact(
            load_table(spark, sf_dir, "documents"),
            stats_key=f"corpus_words_v2_{table_fingerprint(sf_dir, 'documents')}",
        ),
    )


def _token_sigs(docs, toks_expr, stats_key: str | None = None):
    """Tokenized corpus, compact rescore signatures and the gate
    statistics, shared by the exact Jaccard pipeline
    (_jaccard_pairs_exact), directional containment (_containment_pairs)
    and the banded rescore (dedup_minhash_banded).

    Persists the tokenized form: freq/ranked/sig/prefix all fan out from
    it, and without a persist every consumer re-runs text -> token-array
    over the corpus (the single most expensive narrow map here).  At
    100 TB the equivalent move is materializing the tokenized corpus to
    parquet once and running all dedup passes from it.

    Mask width is adaptive (driver-side, AQE-style): the most frequent
    tokens get bitmask slots, up to 16 longs = 1024 bits.  A small
    vocabulary (word tokens; shingles of a templated corpus) collapses
    ENTIRELY into the mask — rare arrays empty, rescore = pure popcount;
    a web-scale vocabulary keeps the top-1024 hybrid.

    This is the one owner of the gate statistics: a single io.stats_memo
    call returns ``stats`` = {n_vocab, n_docs, n_toks, kvocab}.
    ``kvocab`` is the whole vocabulary when it fits the mask universe
    (≤1024 tokens — the degenerate regime the consumers route to the
    bitset GEMM kernel) and None otherwise; its order is the kernel's
    token→column map, so memoizing it pins that map across builds.
    With ``stats_key`` (a content fingerprint of the corpus + a
    toks-semantics tag) only the first build over a given corpus file
    runs the stats jobs and every later build plans JOB-FREE from the
    catalog (r12 verdict item 5); keyless callers (tests over synthetic
    frames) get the same dict computed eagerly."""
    import math as _math

    # documents.parquet is a single file -> 1 input partition; spread before
    # tokenize so every downstream stage (explode, rescore) parallelizes
    # instead of running as one task.
    d = (
        docs.select("doc_id", toks_expr.alias("toks"))
        .withColumn("nt", F.size("toks"))
        .repartition(32, "doc_id")
        .persist()
    )
    tok = d.select("doc_id", "nt", F.explode("toks").alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("freq")).persist()

    def _corpus_stats() -> dict:
        n_vocab = freq.count()
        n_docs, n_toks = d.agg(F.count("*"), F.sum("nt")).first()
        return {
            "n_vocab": n_vocab,
            "n_docs": n_docs,
            "n_toks": n_toks or 0,
            "kvocab": (
                [r["w"] for r in freq.collect()] if n_vocab <= 1024 else None
            ),
        }

    stats = stats_memo(stats_key, _corpus_stats)
    n_slots = min(16, max(1, _math.ceil(min(stats["n_vocab"], 1024) / 64)))
    top_bits = n_slots * 64
    # limit-then-rank keeps the window on <= 1024 rows (never a
    # full-vocab single-task sort)
    topn = (
        freq.orderBy(F.col("freq").desc(), "w")
        .limit(top_bits)
        .withColumn(
            "bit", F.row_number().over(W.orderBy(F.col("freq").desc(), "w")) - 1
        )
        .select("w", "bit")
    )
    vocab = freq.join(F.broadcast(topn), "w", "left")
    ranked = tok.join(vocab, "w").withColumn(
        "r",
        F.row_number().over(W.partitionBy("doc_id").orderBy("freq", "w")),
    )
    mask_aggs = [
        F.coalesce(
            F.bit_or(
                F.when(
                    F.floor(F.col("bit") / 64) == s,
                    F.expr("shiftleft(1L, CAST(bit % 64 AS INT))"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias(f"mask{s}")
        for s in range(n_slots)
    ]
    sig = ranked.groupBy("doc_id", "nt").agg(
        *mask_aggs,
        F.sort_array(
            F.collect_list(F.when(F.col("bit").isNull(), F.col("w")))
        ).alias("rare"),
    )
    return dict(d=d, n_slots=n_slots, ranked=ranked, sig=sig, stats=stats)


def _kernel_self_pairs(parts, metric, tau, pair_mask, min_nt=0):
    """Degenerate-vocabulary self-join of _token_sigs' corpus through the
    bitset GEMM kernel (blockkernel.bitset_gemm_pairs: staged map-only
    within the driver budget, the bucket grid past it).  Docs with fewer
    than ``min_nt`` tokens sit on the index side only; ``pair_mask``
    picks which (stream, index) id pairs leave the kernel.  The staged
    path re-spreads the stream to the core count (block_join): one Python
    task per tokenize partition (32) costs more than the kernel on a
    small corpus (sf0.01, local[4]: word pairs ~1.3 s against ~0.4 s,
    containment repeat builds 2.1-3.4 s against 1.1-1.7 s).  Returns
    (doc_a, doc_b, n_common int, <metric> double)."""
    st = parts["stats"]
    side = parts["d"].select(F.col("doc_id").alias("id"), "nt", "toks")
    return bitset_gemm_pairs(
        side.filter(F.col("nt") >= min_nt),
        side,
        {w: i for i, w in enumerate(st["kvocab"])},
        n_index=st["n_docs"],
        n_index_toks=st["n_toks"],
        metric=metric,
        tau=tau,
        pair_mask=pair_mask,
    ).select(
        F.col("sid").alias("doc_a"),
        F.col("iid").alias("doc_b"),
        F.col("n_common").cast("int").alias("n_common"),
        F.col("metric").alias(metric),
    )


def _sig_rescore(parts, cand, metric, tau, min_na=0):
    """Exact rescore of candidate (doc_a, doc_b) pairs against
    _token_sigs' signatures, shared by the two prefix pipelines and the
    banded-LSH candidates: a pair's intersection is a few
    bit_count(maskA & maskB) ops plus an array_intersect over the rare
    remainder, and ``metric`` ('jaccard' or 'containment', as in
    bitset_gemm_pairs) is one division of exact ints.  Docs with fewer
    than ``min_na`` tokens never sit on the A side.

    SIZE-GATED broadcast (r11 verdict item 1): an unconditional hint
    pins the FULL per-doc signature table into every executor — right
    at fixture scale, a hard OOM at 1e8+ docs, and AQE cannot override
    an explicit hint.  io.hint_if bounds each side by the corpus
    footprint (collected_toks_bytes over _token_sigs' statistics, an
    over-estimate: rare ⊆ toks, and mask longs are within the per-row
    constant; 9.3 MiB at sf0.1); past the budget the joins run plain
    and AQE picks the strategy.  Returns (doc_a, doc_b, n_common int,
    <metric> double), metric >= tau."""
    sig, n_slots, st = parts["sig"], parts["n_slots"], parts["stats"]
    sig_bytes = blockkernel.collected_toks_bytes(st["n_docs"], st["n_toks"])

    def side(x):
        return sig.select(
            F.col("doc_id").alias(f"doc_{x}"),
            F.col("rare").alias(f"rare_{x}"),
            F.col("nt").alias(f"n{x}"),
            *[F.col(f"mask{s}").alias(f"m{x}{s}") for s in range(n_slots)],
        )

    popcnt = sum(
        F.bit_count(F.col(f"ma{s}").bitwiseAND(F.col(f"mb{s}")))
        for s in range(n_slots)
    )
    n_common = F.col("n_common").cast("double")
    value = {
        "jaccard": n_common / (F.col("na") + F.col("nb") - F.col("n_common")),
        "containment": n_common / F.col("na").cast("double"),
    }[metric]
    sa = hint_if(side("a").filter(F.col("na") >= min_na), sig_bytes)
    return (
        cand.join(sa, "doc_a")
        .join(hint_if(side("b"), sig_bytes), "doc_b")
        .withColumn(
            "n_common",
            (popcnt + F.size(F.array_intersect("rare_a", "rare_b"))).cast("int"),
        )
        .withColumn(metric, value)
        .filter(F.col(metric) >= tau)
        .select("doc_a", "doc_b", "n_common", metric)
    )


def _jaccard_pairs_exact(docs, toks_expr=None, stats_key: str | None = None):
    """EXACT Jaccard-similar pairs (J >= tau): prefix-filtered candidates,
    bitmask-hybrid rescore.  ``toks_expr`` selects the set representation
    (default: distinct lowercase word tokens; dedup_ngram_jaccard passes
    word-bigram shingles) — the whole prefix/mask pipeline is set-agnostic.

    Candidates — prefix filtering: with tokens in a canonical global order
    (ascending document frequency, then token), two sets with J >= tau must
    share a token within each one's prefix of length n - ceil(tau*n) + 1, so
    the candidate self-join shuffles on rare tokens only.  A length filter
    (J >= tau ⇒ tau·max(na,nb) <= min(na,nb)) prunes further at join time.

    Rescore (_sig_rescore) — frequent-token bitmask + rare-token array
    hybrid with ADAPTIVE width: the most frequent tokens map to bits of
    1..16 LONGs (width picked from the observed vocabulary size,
    AQE-style), so each pair's intersection is a few
    bit_count(maskA & maskB) ops plus an array_intersect over only the
    *rare* remainder; web-scale
    vocabularies keep the top-1024 hybrid, where Zipf keeps rare arrays
    short.

    Degenerate vocabulary (the whole vocabulary fits the 1024-bit mask:
    word tokens and shingles of a templated corpus): every token is
    frequent, so prefix filtering cannot prune and the candidate join
    would materialize near-all-pairs.  That regime takes the bitset GEMM
    kernel instead, the one dedup_containment and join_set_similarity
    use (blockkernel.bitset_gemm_pairs): staged and map-only within the
    driver budget, the bucket grid past it, each unordered pair emitted
    once (``sid < iid``).  The route reads _token_sigs' gate statistics,
    memoized under ``stats_key``.
    """
    if toks_expr is None:
        toks_expr = _TOKS()
    parts = _token_sigs(docs, toks_expr, stats_key=stats_key)
    if parts["stats"]["kvocab"] is not None:
        return _kernel_self_pairs(parts, "jaccard", _JACCARD_TAU, operator.lt)
    prefix = parts["ranked"].filter(
        F.col("r") <= F.col("nt") - F.ceil(_JACCARD_TAU * F.col("nt")) + 1
    ).select("doc_id", "nt", "r", "w")
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (lossless): tokens are ranked in one global
    # canonical order, so a pair matching token w at prefix positions
    # (ra, rb) can share at most min(na-ra, nb-rb)+1 tokens; J >= tau
    # needs overlap >= tau/(1+tau)*(na+nb).  For a qualifying pair the
    # bound holds at its first shared prefix token, so filtering each
    # match keeps every true pair while dropping candidates that only
    # touch deep in their prefixes.
    overlap_ub = (
        F.least(
            F.col("a.nt") - F.col("a.r"), F.col("b.nt") - F.col("b.r")
        )
        + 1
    )
    overlap_req = F.ceil(
        (_JACCARD_TAU / (1.0 + _JACCARD_TAU))
        * (F.col("a.nt") + F.col("b.nt"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.nt") * _JACCARD_TAU <= F.col("b.nt"))
            & (F.col("b.nt") * _JACCARD_TAU <= F.col("a.nt"))
            & (overlap_ub >= overlap_req),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _sig_rescore(parts, cand, "jaccard", _JACCARD_TAU)


_CONTAIN_TAU = 0.95
_CONTAIN_MIN_TOKENS = 10
# Replica collapse fires only when distinct token SETS are at most this
# fraction of the doc count: the re-expansion joins are output-bound, so
# at a mild replica ratio they cost more than the (1 - ratio^2) kernel
# reduction saves (measured sf0.1, ~0.8 ratio: collapse 2.78 s vs direct
# 1.89 s noop min-of-3) while at heavy replication the kernel shrinks
# quadratically.
_CONTAIN_COLLAPSE_RATIO = 0.5


@register(
    "dedup_containment",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), s AS (SELECT doc_id, toks, len(toks) AS n FROM d)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.toks, b.toks)) AS n_common,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / a.n
             AS containment
    FROM s a JOIN s b ON a.doc_id != b.doc_id
    WHERE a.n >= {_CONTAIN_MIN_TOKENS}
      AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / a.n
            >= {_CONTAIN_TAU}
    """,
)
def dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-duplicate detection: directional pairs (A → B) where
    B contains >= 95% of A's distinct tokens — the near-subset mode that
    symmetric Jaccard misses (a paragraph quoted inside a larger page has
    high containment but low Jaccard).  Standard LLM-corpus recipe: drop or
    down-weight the contained side.  A-side floor of 10 tokens kills
    trivially-contained stubs.

    Plan mirrors the Jaccard pipeline (same token signatures, same
    bitmask-hybrid rescore) with the ONE-SIDED prefix filter: tokens in
    canonical (global frequency, token) order; if C(A→B) >= tau, A's
    prefix of length na - ceil(tau*na) + 1 must share a token with B
    (anywhere in B — that's the asymmetry), and at the first shared token
    the positional bound min(na-ra, nb-rb) + 1 >= ceil(tau*na) holds
    (token ranks follow the same global order in both docs, so shared
    tokens are ordered consistently — the bound is lossless).  Candidate
    fan-out is governed by A-prefix (rare-token) posting lists; the
    nb >= ceil(tau*na) length filter prunes at join time.  When the
    WHOLE vocabulary fits the mask universe (≤1024 tokens — templated
    corpora, where every posting list is corpus-sized and prefix
    filtering cannot prune) the op routes to the bitset GEMM block
    kernel instead: the corpus ships as an N×|V| float32 incidence
    matrix, the A side streams through mapInPandas, and each pair's
    exact intersection is one integer-exact float32 GEMM cell
    (blockkernel.bitset_gemm_pairs; past the driver staging budget it
    runs on blockkernel.block_join's bucket grid instead).  The route and
    the kernel vocabulary come from _token_sigs' memoized statistics,
    the entry the word-token Jaccard pairs read too.
    n_common and na are exact ints; the single division then one
    compare is bit-deterministic in both engines.

    r14 REPLICA COLLAPSE (er_name_match's block_collapsed recipe, r13
    verdict item 3): containment depends ONLY on the distinct token
    SETS, so docs with identical sets are interchangeable — on
    replica-heavy corpora the pair OUTPUT is quadratic in replicas
    (measured 102× pairs for 10× perturbed input, SCALE.md §10y) and so
    was the rescore work.  When a memoized one-time stat shows
    n_distinct_sets <= _CONTAIN_COLLAPSE_RATIO * n_docs, the op pairs
    one representative per token-set group through the unchanged
    kernel/prefix pipeline (rescore work falls from corpus² to
    distinct-sets²), then re-expands to doc pairs by two equi-joins
    (cross-group: identical n_common / containment by construction)
    plus the intra-group self-join (set == set ⇒ containment exactly
    1.0, n_common = nt) — output-bound join arithmetic, nothing
    rescored twice.  The ratio gate exists because the expansion joins
    are output-bound: at the fixtures' mild ~20% replication they cost
    MORE than the kernel saves (sf0.1 noop min-of-3: collapse 2.78 s vs
    direct 1.89 s), so mildly-replicated corpora take the direct path
    with zero overhead beyond the memoized stat."""
    docs = load_table(spark, sf_dir, "documents")
    fp = table_fingerprint(sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "text",
        F.sha2(F.concat_ws("\x1f", F.sort_array(_TOKS())), 256).alias("k"),
        F.size(_TOKS()).alias("nt"),
    )
    st = stats_memo(
        f"contain_collapse_v1_{fp}",
        lambda: {
            "n_docs": keyed.count(),
            "n_sets": keyed.select("k").distinct().count(),
        },
    )
    if st["n_sets"] > _CONTAIN_COLLAPSE_RATIO * st["n_docs"]:
        return _containment_pairs(
            docs, stats_key=f"corpus_words_v2_{fp}"
        )
    return _containment_collapsed(
        keyed, stats_key=f"corpus_words_collapsed_v2_{fp}"
    )


def _containment_collapsed(keyed, stats_key: str | None = None):
    """Replica-collapsed containment: pair one representative per
    distinct-token-set group, then re-expand to doc-level pairs (see
    dedup_containment).  ``keyed`` must carry doc_id, text, k (token-set
    digest) and nt (distinct-token count).  Exact: returns the same pair
    set as _containment_pairs over the full corpus."""
    reps = keyed.groupBy("k").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
    )
    rep_pairs = _containment_pairs(
        reps.select("doc_id", "text"), stats_key=stats_key
    )
    members = keyed.select("k", "doc_id").join(
        reps.select("k", F.col("doc_id").alias("rep_id")), "k"
    )
    ma = members.select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("da")
    )
    mb = members.select(
        F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("db")
    )
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "n_common",
            "containment",
        )
    )
    ka = keyed.select(
        "k", F.col("doc_id").alias("doc_a"), F.col("nt").alias("nta")
    ).filter(F.col("nta") >= _CONTAIN_MIN_TOKENS)
    kb = keyed.select("k", F.col("doc_id").alias("doc_b"))
    intra = (
        ka.join(kb, "k")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("nta").cast("int").alias("n_common"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionAll(intra)


def _containment_pairs(docs, toks_expr=None, stats_key: str | None = None):
    """Directional containment pairs; see dedup_containment.

    The kernel-vs-prefix route is data-dependent (vocabulary size), so
    it reads _token_sigs' gate statistics: the first build over a given
    corpus file runs the stats jobs, and with ``stats_key`` set later
    builds plan job-free from the io.stats_memo catalog (r12 verdict
    item 5).  The staged kernel path still collects the gated-size
    corpus driver-side at build — that collect IS the broadcast
    operand's materialization (a BroadcastExchange by hand), bounded
    by the block-kernel staging budget, not a gate artifact."""
    if toks_expr is None:
        toks_expr = _TOKS()
    parts = _token_sigs(docs, toks_expr, stats_key=stats_key)
    tau, min_n = _CONTAIN_TAU, _CONTAIN_MIN_TOKENS
    if parts["stats"]["kvocab"] is not None:
        # Degenerate-vocabulary regime: the whole vocabulary fits the
        # mask universe, which means token posting lists are each a large
        # fraction of the corpus and the one-sided prefix join below
        # degenerates toward the quadratic candidate space (measured at
        # the perturbed sf1 campaign corpus: 147 s for ~55M true pairs —
        # >100× candidate waste).  Route to the bitset GEMM block kernel:
        # every pair's exact intersection is one float32 GEMM cell
        # (integer-exact; see bitset_gemm_pairs).
        return _kernel_self_pairs(
            parts, "containment", tau, operator.ne, min_nt=min_n
        )
    ranked = parts["ranked"]
    a_pref = ranked.filter(F.col("nt") >= min_n).filter(
        F.col("r") <= F.col("nt") - F.ceil(F.lit(tau) * F.col("nt")) + 1
    ).select(
        F.col("doc_id").alias("doc_a"),
        F.col("nt").alias("na"),
        F.col("r").alias("ra"),
        "w",
    )
    b_all = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("nt").alias("nb"),
        F.col("r").alias("rb"),
        "w",
    )
    overlap_req = F.ceil(F.lit(tau) * F.col("na"))
    overlap_ub = F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")) + 1
    cand = (
        a_pref.join(
            b_all,
            (a_pref.w == b_all.w)
            & (F.col("doc_a") != F.col("doc_b"))
            & (F.col("nb") >= overlap_req)
            & (overlap_ub >= overlap_req),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _sig_rescore(parts, cand, "containment", tau, min_na=min_n)


@register(
    "dedup_near_jaccard",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS n_common,
             CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
               AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, n_common, jaccard FROM pairs WHERE jaccard >= {_JACCARD_TAU}
    """,
)
def dedup_near_jaccard(spark, sf_dir):
    """Exact near-duplicate pairs with token-set Jaccard >= 0.8.

    Spark side (_jaccard_pairs_exact) never cross-joins: a web-scale
    vocabulary takes lossless prefix filtering, a degenerate one (≤1024
    tokens — the fixtures' 31 words) the bitset GEMM kernel shared with
    dedup_containment.  The DuckDB oracle does the quadratic join — the
    same result set.  The pair table is materialized once per corpus and
    shared with dedup_cluster."""
    return _word_pairs_cached(spark, sf_dir)


@register("dedup_near_minhash")  # rows-only: LSH banding is engine-specific
def dedup_near_minhash(spark, sf_dir):
    """Exact-collapse → MinHashLSH banding → rescore → pair re-expansion.

    The standard large-corpus composition: collapse byte-identical token
    sets to one representative FIRST (the fixture — like any real crawl —
    is densely duplicated: 5000 docs → 3935 distinct token sets at sf0.1,
    one set appearing 248×), run MinHash LSH over representatives only,
    then expand representative pairs back to document pairs with equi-joins
    on the signature.  LSH candidate work per duplicate cluster drops from
    O(k²·tables) to O(1); the only remaining output-sized stage is the
    expansion join, which is linear in the result.

    The 100 TB path: O(n_distinct · tables) hashing plus a bucket-key
    shuffle; a corpus where one exact-duplicate group has m members still
    emits m²/2 output pairs — that is the result's size, not avoidable
    work (real pipelines run dedup_exact first and would stop here).
    Recall vs the exact twin asserted in tests/test_ml_quality.py (≥0.98;
    identical-set pairs are emitted deterministically, so LSH randomness
    touches only cross-group pairs, P(miss) = (1-J)^4 ≤ 0.0016 at J≥0.8).

    Like every other pair table here, the result is materialized ONCE per
    corpus through _pairs_artifact and consumers read the parquet staging
    table (the fixture is ~9%-dense in near-dup pairs: 695k qualifying
    representative pairs from 3,935 reps at sf0.1, so the candidate join +
    pair expansion is tens of seconds of real, unavoidable work — measured
    22 s for the 1.39M-candidate LSH join alone — and recomputing it per
    consumer run is exactly what a production dedup pipeline never does).
    """
    state: dict = {}

    def build():
        return _near_minhash_pairs(spark, sf_dir, state)

    try:
        return _pairs_artifact(spark, sf_dir, "mllib_lsh", build)
    finally:
        if "vecs" in state:
            state["vecs"].unpersist()


def _near_minhash_pairs(spark, sf_dir, state):
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", _TOKS().alias("toks")
    ).withColumn("sig", F.md5(F.to_json(F.array_sort("toks"))))
    members = d.select("sig", "doc_id")
    # documents.parquet is a single file -> 1 input partition; spread the
    # representative set before the quadratic-ish LSH probe stage so the
    # bucket join parallelizes (single-task here is ~15 min at sf0.1).
    reps = (
        d.groupBy("sig").agg(F.min(F.struct("doc_id", "toks")).alias("r"))
        .select("sig", F.col("r.toks").alias("toks"))
        .repartition(32, "sig")
    )
    cv = CountVectorizer(inputCol="toks", outputCol="vec", binary=True).fit(reps)
    vecs = cv.transform(reps).cache()
    state["vecs"] = vecs
    lsh = MinHashLSH(inputCol="vec", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(vecs)
    # approxSimilarityJoin's cut is STRICT (<): nudge past 1-tau so boundary
    # pairs at exactly J == tau survive (verified: 4811/32191 fixture pairs
    # sit exactly on 0.8), then re-filter inclusively.  dist is the EXACT
    # Jaccard distance on the binary vectors, so no estimation error here.
    sig_pairs = (
        model.approxSimilarityJoin(vecs, vecs, 1.0 - _JACCARD_TAU + 1e-6, "dist")
        .filter(F.col("dist") <= 1.0 - _JACCARD_TAU)
        .select(
            F.col("datasetA.sig").alias("sig_a"),
            F.col("datasetB.sig").alias("sig_b"),
            (1.0 - F.col("dist")).alias("jaccard_est"),
        )
        .filter(F.col("sig_a") < F.col("sig_b"))
    )
    # Re-expansion is equi-joins on sig (shuffle-partitioned, never a
    # cartesian): within-group pairs are exact duplicates (J = 1 by
    # construction); cross-group pairs inherit the representatives' exact
    # Jaccard because members share the representative's token set.
    within = (
        members.alias("x")
        .join(members.alias("y"), "sig")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard_est"),
        )
    )
    cross = (
        sig_pairs.join(members.alias("ma"), F.col("sig_a") == F.col("ma.sig"))
        .join(members.alias("mb"), F.col("sig_b") == F.col("mb.sig"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("doc_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("doc_b"),
            "jaccard_est",
        )
    )
    # The caller unpersists the cached vectors (via ``state``) right after
    # the artifact write materializes — the shared long-lived session runs
    # ~200 queries back-to-back, and an un-unpersisted cache per run
    # accumulates in executor storage (ADVICE r2).
    return within.unionByName(cross)


_SIMHASH_BITS = 24


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_SQL_TOKS}) AS w FROM documents
    ), th AS (
      SELECT w,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, length(w)),
                   i -> CAST(ascii(substring(w, i, 1)) AS BIGINT))),
               (a, x) -> (a * 131 + x) % 2147483647) AS h
      FROM (SELECT DISTINCT w FROM tok)
    ), bits AS (
      SELECT t.doc_id, b.bit,
             SUM(CASE WHEN (th.h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM tok t JOIN th ON t.w = th.w
      CROSS JOIN (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS bit) b
      GROUP BY t.doc_id, b.bit
    ), sh AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: engine-neutral polynomial char hashes per distinct
    token → signed bit votes → 24-bit signature → Hamming<=3 pairs.

    Fully deterministic in both engines, so unlike typical simhash this one
    carries a value-hash oracle.  The pair step is the standard bit-block
    banding: each signature explodes into 4 six-bit (block, value) keys and
    candidates come from an EQUI-join on them — lossless by pigeonhole
    (3 differing bits can dirty at most 3 of the 4 blocks, so any
    Hamming<=3 pair agrees exactly on >=1 block), then candidate pairs are
    deduped (a pair can collide on several blocks) and rescored with the
    exact popcount.  Same candidate trick as the Jaccard prefix filter:
    the quadratic theta self-join becomes a hash-partitioned equi-join
    whose cost follows bucket occupancy, not corpus², and whose skew
    (a hot block value) is ordinary join skew that AQE splits."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_TOKS()).alias("w")).distinct()
    # substring with a dynamic (lambda-bound) index needs the SQL expr form
    th = tok.select("w").distinct().withColumn(
        "h",
        F.expr(
            "aggregate(sequence(1, length(w)), 0L, "
            "(a, i) -> pmod(a * 131 + CAST(ascii(substring(w, i, 1)) AS BIGINT), 2147483647L))"
        ),
    )
    votes = (
        # th is token-derived (unbounded vocab at web scale): hint gated
        # on corpus file bytes x decompression factor (io.hint_if rule)
        tok.join(hint_if(th, table_file_bytes(sf_dir, "documents") * 8), "w")
        # bit fan-out as a Generate (explode of a constant range), not a
        # 24-row broadcast cross join — same rows, one fewer join node
        .select(
            "doc_id",
            "h",
            F.explode(
                F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))
            ).alias("bit"),
        )
        .groupBy("doc_id", "bit")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(h, bit) & 1) = 1"), 1).otherwise(-1)
            ).alias("s")
        )
    )
    # materialize the signature table once — both join sides read it, and
    # without the checkpoint the whole token->vote->signature pipeline
    # runs twice (once per side).  One long per doc: at 100 TB this is
    # O(doc_count * 16 B), the cheapest artifact in the pipeline.
    sh = (
        votes.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(1L, bit)")).otherwise(0)
            ).alias("simhash")
        )
        # eager=False (repo convention for single-query multi-consumer
        # cuts): materializes at first action, so plan dumps / EXPLAIN
        # tooling can build this query without running the pipeline
        .localCheckpoint(eager=False)
    )
    return banded_hamming_pairs(sh)


def banded_hamming_pairs(sh, max_hamming: int = 3):
    """Hamming<=max_hamming pairs of (doc_id, simhash) rows via 4x6-bit
    block banding — the dedup_simhash pair step, exposed as a kernel so
    the losslessness claim is unit-testable against brute force
    (tests/test_r10_planted.py).

    Lossless by pigeonhole ONLY while max_hamming < n_blocks (differing
    bits can dirty at most max_hamming blocks, leaving >=1 clean block to
    agree on) — guarded explicitly, since a larger max_hamming would
    silently drop qualifying pairs that share no block.  Each pair is
    emitted EXACTLY once without a distinct shuffle: a pair colliding on
    several blocks is kept only where blk equals its FIRST matching block
    (xor block == 0) — pure codegen dedup, which matters because near-dup
    corpora match on most blocks (the distinct variant aggregated ~4x the
    result set: 2.6 s at sf0.1).

    Banding runs at SIGNATURE-CLASS level (r11): boilerplate-heavy
    corpora collapse many docs onto one signature (perturbed sf1
    campaign corpus: 50k docs → 19.8k distinct signatures), and banding
    distinct signatures instead of docs shrank the candidate join
    10× (535M → 53.7M rows) for the same output.  Same-class pairs
    (Hamming 0) come straight from a signature equi-self-join; the
    2.2M qualifying class pairs expand back to doc pairs through two
    signature-keyed equi-joins, so every post-banding stage is sized
    by classes or by output, never by docs².  On a diverse corpus
    classes ≈ docs and the collapse is one extra 16-byte-key
    aggregate — the no-regret default."""
    n_blocks = _SIMHASH_BITS // 6
    if max_hamming >= n_blocks:
        raise ValueError(
            f"banding over {n_blocks} blocks is only lossless for "
            f"max_hamming < {n_blocks}, got {max_hamming}"
        )
    blk_vals = F.array(
        *[
            F.shiftright("simhash", i * 6).bitwiseAND(F.lit(63))
            for i in range(n_blocks)
        ]
    )
    cls = sh.select("simhash").distinct()
    sigb = cls.select(
        "simhash", F.posexplode(blk_vals).alias("blk", "bval")
    )
    a = sigb.select(F.col("simhash").alias("sh_a"), "blk", "bval")
    b = sigb.select(F.col("simhash").alias("sh_b"), "blk", "bval")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    xr = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    # first matching block, derived for ALL n_blocks (a hardcoded chain
    # would cap at its last literal and lose pairs if the width grew)
    first_blk = F.when(xr.bitwiseAND(F.lit(63)) == 0, 0)
    for i in range(1, n_blocks - 1):
        first_blk = first_blk.when(
            F.shiftright(xr, i * 6).bitwiseAND(F.lit(63)) == 0, i
        )
    first_blk = first_blk.otherwise(n_blocks - 1)
    cpairs = (
        a.join(b, ["blk", "bval"])
        .filter((F.col("sh_a") < F.col("sh_b")) & (F.col("blk") == first_blk))
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("sh_a", "sh_b", "hamming")
    )
    da = sh.select(F.col("doc_id").alias("ida"), F.col("simhash").alias("sh_a"))
    db = sh.select(F.col("doc_id").alias("idb"), F.col("simhash").alias("sh_b"))
    cross = (
        cpairs.join(da, "sh_a")
        .join(db, "sh_b")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "hamming",
        )
    )
    same = (
        da.join(db, da.sh_a == db.sh_b)
        .filter(F.col("ida") < F.col("idb"))
        .select(
            F.col("ida").alias("doc_a"),
            F.col("idb").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(same)


_SQL_DOT = """
  list_reduce(
    list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, 64),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
    (x, y) -> x + y)
"""


@register(
    "dedup_embed_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_SQL_DOT} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_SQL_DOT} >= 0.4
    """,
)
def dedup_embed_cosine(spark, sf_dir):
    """Embedding near-dup pairs: cosine >= 0.4 (unit-norm ⇒ cosine = dot;
    threshold sized to the fixture's random-vector cosine distribution).

    Block matrix layout: the right side is a small N×64 candidate matrix
    shipped via ``sparkContext.broadcast`` — ONE torrent transfer per
    executor, shared read-only by all its tasks, instead of being pickled
    into every task closure (at 100 TB that side is the LSH/IVF-bucketed
    candidate set — sim_ann_lsh / sim_ivf_topk).  The left side streams
    through ``mapInPandas`` in Arrow batches, and each batch computes all
    its pairs as 64 vectorized outer-product accumulations.  The adds run
    in index order k=0..63 starting from 0.0, so every pair's double
    accumulation is bit-identical to the oracle's ``list_reduce`` left
    fold — same hash, ~20× less wall-clock than the per-pair Catalyst
    fold this replaces.

    The staged matrix is a DRIVER-RAM bound (N×64×8 bytes — see
    recommend_spark/blockkernel.py and SCALE.md §10d-bis); past it
    ``blockkernel.block_join`` runs the same scorer on each cell of a B×B
    bucket grid with nothing staged driver-side.  A pair (x < y) meets in
    exactly one cell, (x%B, y%B), so the output is hash-identical."""
    import numpy as np

    tau = 0.4
    path = f"{sf_dir}/embeddings.parquet"
    tile_budget = blockkernel.STREAM_TILE_BYTES

    def pairs_score(pdf, value):
        import pandas as pd

        b_ids, b_mat = value
        a_ids = pdf["vec_id"].to_numpy()
        a_mat = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
        # stream-axis tiles bound the per-task score block (r13 decade
        # triage — see blockkernel.STREAM_TILE_BYTES); each pair's fold
        # runs intact in one tile, so output is identical.
        for t_ids, t_mat in iter_stream_tiles(
            a_ids, a_mat, len(b_ids), tile_budget
        ):
            # left fold in index order, init 0.0 — bit-identical to the
            # scalar fold ((0+p0)+p1)+... in both Spark and DuckDB.
            acc = index_ordered_dot_block(t_mat, b_mat)
            ia, ib = np.nonzero(
                (t_ids[:, None] < b_ids[None, :]) & (acc >= tau)
            )
            yield pd.DataFrame(
                {
                    "vec_a": t_ids[ia],
                    "vec_b": b_ids[ib],
                    "cosine": acc[ia, ib],
                }
            )

    # single-file scan -> the staged path spreads the streamed side across
    # cores; the broadcast candidate matrix is unaffected.  The memo key
    # is file identity: one executor-resident copy shared with
    # sim_knn_join and across bench reps.
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return block_join(
        e,
        e,
        key="vec_id",
        need_bytes=candidate_matrix_bytes(path, dim=64),
        stage=lambda: staged_embeddings(path),
        from_rows=embeddings_from_rows,
        score=pairs_score,
        schema="vec_a long, vec_b long, cosine double",
    )


_SQL_SHINGLES = """
  list_distinct(
    list_transform(
      generate_series(1, len(string_split(lower(text), ' ')) - 1),
      i -> string_split(lower(text), ' ')[i] || ' '
           || string_split(lower(text), ' ')[i + 1]))
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_SHINGLES} AS toks FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS n_common,
             CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
               AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE len(a.toks) > 0 AND len(b.toks) > 0
    )
    SELECT doc_a, doc_b, n_common, jaccard FROM pairs WHERE jaccard >= {_JACCARD_TAU}
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """N-gram (word-bigram shingle) Jaccard near-dup pairs, J >= 0.8.

    Order-sensitive dedup: two docs with the same words in a different
    order share few bigrams, so this catches reorderings that token-set
    Jaccard (dedup_near_jaccard) over-matches.  Reuses the same
    prefix-filter + bitmask rescore pipeline over the shingle sets; the
    oracle does the quadratic join.  Like the word-token variant, the pair
    table is a once-per-corpus parquet artifact."""

    def build():
        docs = load_table(spark, sf_dir, "documents")
        # Materialize the token array BEFORE building shingles: an
        # element_at on the raw split() expression inside a transform
        # lambda re-evaluates the split per element (O(n^2) per document).
        # zip_with over two slices of the stored array is one O(n) pass.
        t = docs.select(
            "doc_id", F.split(F.lower(F.col("text")), " ").alias("t")
        )
        shingles = F.array_distinct(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        )
        return _jaccard_pairs_exact(
            t,
            toks_expr=shingles,
            stats_key=(
                f"corpus_bigrams_v2_{table_fingerprint(sf_dir, 'documents')}"
            ),
        )

    return _pairs_artifact(spark, sf_dir, "bigram", build)



def _cc_min_local(e):
    """Exact min-label connected components of a SMALL residual edge set
    in ONE task (vectorized min-label propagation) — the shrinking-frontier
    endgame shared with kcore_peel: after the first min-contraction
    collapses near-clique components (measured at sf0.1: 5.9M edges ->
    3,618), the remaining rounds each pay full checkpoint+shuffle fixed
    costs to move a few hundred rows; one mapInPandas partition finishes
    the closure exactly instead.  Returns v -> component-min mapping."""
    import pandas as pd

    def fix(it):
        # vectorized Shiloach-Vishkin-style min-label propagation: map
        # node ids to a contiguous range, then alternate edge relaxation
        # (np.minimum.at both ways) with pointer jumping (lab = lab[lab],
        # valid because min-relaxation keeps lab[v] <= v, so chains are
        # monotone decreasing into their component root).  O(E) work per
        # round, O(log n) rounds — at the 5M-edge residual ceiling the
        # working set is ~120 MB of int64 arrays, where the former
        # per-edge Python union-find loop held a multi-hundred-MB dict
        # and walked it one tuple at a time.
        import numpy as np

        frames = list(it)
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True)
        src = df["src"].to_numpy(dtype="int64")
        dst = df["dst"].to_numpy(dtype="int64")
        nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        s, d = inv[: len(src)], inv[len(src):]
        lab = np.arange(len(nodes), dtype="int64")
        while True:
            new = lab.copy()
            np.minimum.at(new, s, lab[d])
            np.minimum.at(new, d, lab[s])
            while True:  # full path compression between relaxations
                nn = new[new]
                if np.array_equal(nn, new):
                    break
                new = nn
            if np.array_equal(new, lab):
                break
            lab = new
        yield pd.DataFrame({"v": nodes, "m": nodes[lab]})

    return e.coalesce(1).mapInPandas(fix, schema="v long, m long")


#: Estimated bytes per row of the loop's node→label tables (two longs);
#: the ``io.hint_if`` bound of a map is its exact row count times this.
_CC_ROW_BYTES = 16
#: Target rows per partition for the contraction loop's checkpointed
#: tables (labels/edges are 2-3 longs/row; 2M rows ≈ tens of MB a task).
_CC_ROWS_PER_PARTITION = 2_000_000


def _cc_width(n_rows: int) -> int:
    """Checkpoint partition count sized to the table, not a constant: a
    pinned coalesce(4) is right for the fixture's post-contraction
    thousands of rows but serializes a billion-row round-1 map on 4
    tasks.  Clamped to [4, 256]."""
    return max(4, min(256, -(-n_rows // _CC_ROWS_PER_PARTITION)))


def _cc_round(e, rep, n_edges: int, rep_width: int):
    """One min-contraction round: relabel every node to min(self,
    neighbors), rewrite ``rep`` through the map, contract the edge set.

    The node→label map has one row per node of ``e`` (at most the node
    set of the pair graph, never its edge count) and joins through
    ``io.hint_if`` on that EXACT row count, which the map's checkpoint
    returns in the job that materializes it — no extra job.  Round 1 on a
    near-dup-dense 100 TB corpus has a map as big as the node set: an
    unconditional hint there OOMs the executors, and AQE will not
    override an explicit hint, so past the budget the joins run as plain
    equi-joins and AQE picks the strategy.  ``n_edges`` (the doubled
    edge count) only sizes the partition width.  ``rep=None`` means the
    identity map (round 1): every node appears as a src in the doubled
    edge set, so rep-after-round-1 IS mapv — skipping the identity relabel join AND the separate
    distinct() build of the initial rep (one shuffle of the full node
    set plus two eager checkpoints, measured 2.83 → 2.16 s at sf0.1,
    guide §2.4: remove shuffles outright).  Returns (rep', e') un-
    materialized; only mapv, which three joins read, is checkpointed
    here, so with ``rep=None`` rep' is a projection of that checkpoint."""
    width = _cc_width(n_edges)
    mapv = (
        e.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("v"),
            F.least(F.col("src"), F.col("mn")).alias("m"),
        )
        .coalesce(width)
    )
    mapv, n_map = checkpoint(mapv, reset_stats=True)
    map_bytes = n_map * _CC_ROW_BYTES
    if rep is None:
        # round 1: rep was the identity, so the rewrite is mapv itself
        rep2 = mapv.select(
            F.col("v").alias("orig"), F.col("m").alias("cur")
        )
    else:
        rep2 = (
            rep.join(hint_if(mapv, map_bytes), rep.cur == mapv.v, "left")
            .select("orig", F.coalesce("m", "cur").alias("cur"))
            .coalesce(rep_width)
        )
    ms = hint_if(
        mapv.select(F.col("v").alias("sv"), F.col("m").alias("sm")), map_bytes
    )
    md = hint_if(
        mapv.select(F.col("v").alias("dv"), F.col("m").alias("dm")), map_bytes
    )
    e2 = (
        e.join(ms, e.src == ms.sv)
        .join(md, e.dst == md.dv)
        .select(F.col("sm").alias("src"), F.col("dm").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .coalesce(width)
    )
    return rep2, e2


def _cc_star_pair(e, width: int):
    """One large-star + small-star rewiring round (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") over the DOUBLED
    residual edge set; returns the rewired set, still doubled.

    Why: plain min-contraction shrinks a PATH component by one node per
    round — O(diameter) rounds, which on a high-diameter 100 TB near-dup
    graph is the killer (the per-round cost is fine; the round COUNT is
    not).  Each star pair instead rewires every node toward its
    neighborhood minimum, collapsing component height geometrically:
    measured on planted chains, a 4096-node path needs 4095
    contraction-only rounds vs 12 with the pair interleaved, with
    identical labels (tools/scaleup_r15_cc.py at commit e0718c1).

    Both ops preserve component structure exactly (paper lemmas 1-2):
    large-star links every above-self neighbor v > u to
    m = min(N(u) ∪ {u}); small-star then links the below-self neighbors
    (and self) of each node to that node's minimum.  Every emitted edge
    points high→low, so each star's output is canonically oriented and
    self-loop-free by construction; the final union re-doubles it into
    the symmetric form _cc_round expects.  Each star costs one exchange
    (a window min over the grouping key) plus the distinct that bounds
    the edge set — emission is at most one edge per input edge, so the
    count never grows and the caller's edge count stays a valid bound for
    the partition width.  Checkpointed because the caller's
    next contraction round consumes it twice (mapv groupBy + relabel
    joins)."""
    w = W.partitionBy("src")
    # large-star over the doubled set: every neighbor above u links to
    # m = min(N(u) ∪ {u}); output rows all have src > dst (v > u >= m)
    ls = (
        e.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )
    # small-star over the canonical high→low set: group by the larger
    # endpoint u (= src); link u and each smaller neighbor to
    # m = min(N_below(u)); the (m → m) self-row the explode emits when
    # dst == m is dropped by the filter
    both = F.explode(
        F.array(
            F.struct(F.col("src").alias("s"), F.col("m").alias("d")),
            F.struct(F.col("dst").alias("s"), F.col("m").alias("d")),
        )
    )
    ss = (
        ls.withColumn("m", F.min("dst").over(w))
        .select(both.alias("e"))
        .select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    out = ss.union(ss.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return checkpoint(out.coalesce(width), reset_stats=True)[0]


def _cc_components(pairs):
    """Min-label connected components of an undirected pair graph
    (columns ``doc_a``, ``doc_b``), shared loop of ``dedup_cluster`` and
    the planted-graph tests.  Returns ``rep``, which maps every node that
    appears in a pair (``orig``) to its component's min id (``cur``), or
    ``None`` when the pair set is empty.  Every map join in the loop goes
    through ``io.hint_if`` on an exact row count: each round's map on the
    count its checkpoint returns (_cc_round), the local endgame's map on
    the residual edge count, which bounds its node count."""
    # no checkpoint here: edges re-derive from the parquet pair artifact in
    # one cheap scan wherever referenced (a checkpoint of the doubled edge
    # set would cost more to materialize than every re-scan combined)
    edges = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF(
        "src", "dst"
    )
    # One cheap count of the (cached) pair artifact seeds the loop's
    # partition widths; later rounds reuse the count the loop takes anyway.
    n = 2 * pairs.count()
    # rep: original node -> current contracted label (isolated docs never
    # enter; they are unioned back with their own id at the end).  rep
    # never contracts — one row per round-0 node forever — so its width
    # derives from the INITIAL edge count, not the shrinking residual.
    # r14: rep is NOT built as a separate distinct() pass — round 1's
    # node→min map already enumerates every node (each appears as a src
    # in the doubled edge set), so _cc_round(rep=None) returns mapv AS
    # the post-round-1 rep, saving one full-node-set shuffle plus two
    # eager checkpoints (2.83 → 2.16 s at sf0.1, identical labels).
    rep_width = _cc_width(n)
    rep = None
    # Post-contraction tables are a few thousand rows; AQE's partition
    # coalescing shrinks every loop shuffle to a handful of tasks on its
    # own, so no session-global shuffle.partitions mutation is needed
    # (the old set/restore raced under concurrent queries on one session).
    from ..io import LOCAL_ENDGAME_EDGES

    e = edges
    while n > 0:
        rep2, e = _cc_round(e, rep, n, rep_width)
        # round 1's rep2 projects the map _cc_round already checkpointed:
        # a second materialization buys nothing
        rep = rep2 if rep is None else checkpoint(rep2, reset_stats=True)[0]
        e, n = checkpoint(e, reset_stats=True)
        if n == 0:
            break
        if n <= LOCAL_ENDGAME_EDGES:
            # residual fits one task: finish the closure exactly with
            # union-find (min-id roots) instead of paying 3 checkpointed
            # jobs per remaining round (measured: rounds 2-4 moved 3,618
            # -> 90 -> 6 -> 0 edges at sf0.1, ~0.5 s of fixed cost each).
            # A residual above the threshold keeps contracting
            # distributed — the same contract as kcore_peel.  fm has one
            # row per residual node, at most n (every node is a src of
            # the doubled edge set), so n bounds its hint.
            fm = _cc_min_local(e)
            rep, _ = checkpoint(
                rep.join(hint_if(fm, n * _CC_ROW_BYTES), rep.cur == fm.v, "left")
                .select("orig", F.coalesce("m", "cur").alias("cur"))
                .coalesce(rep_width),
                reset_stats=True,
            )
            break
        # deep residual (never reached at fixture scale): crush component
        # height with one large-star/small-star pair before the next
        # contraction — min-contraction alone removes one node per round
        # on a path, so a high-diameter residual would otherwise pay
        # O(diameter) rounds (r14 VERDICT item 2; see _cc_star_pair)
        e = _cc_star_pair(e, _cc_width(n))
    return rep


@register(
    "dedup_cluster",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
            >= {_JACCARD_TAU}
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(doc_id, lab) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.doc_id
    )
    SELECT doc_id, min(lab) AS cluster_id,
           CAST(doc_id = min(lab) AS BOOLEAN) AS is_keeper
    FROM reach GROUP BY doc_id
    """,
)
def dedup_cluster(spark, sf_dir):
    """Duplicate-cluster assignment: connected components over the near-dup
    pair graph (token-set Jaccard >= 0.8), each doc labeled with the MIN
    doc_id of its component — the "keep one representative per duplicate
    cluster" primitive of corpus cleaning (pairs alone under-delete when
    A~B and B~C but A!~C).

    Spark side: MIN-CONTRACTION (star contraction to the minimum): per
    round every node relabels to min(self, neighbors), then the graph is
    contracted to the distinct label-label edges.  Near-dup components are
    near-cliques, so round one collapses almost everything (measured at
    sf0.1: 3M edges -> a few hundred) and later rounds run on the residue.
    A deep residual (above the local-endgame threshold) additionally gets
    one large-star/small-star rewiring pair per round (_cc_star_pair; the
    Kiveris et al. MapReduce-CC recipe), which bounds the round count
    polylogarithmically even on high-diameter components where plain
    min-contraction would pay O(diameter) rounds.  Each contraction round
    is a groupBy + two map joins + distinct.  Every map join goes through
    ``io.hint_if`` on an exact row count: round 1's map is as big as the
    node set of the pair graph (at most |documents|: 5,000 rows at sf0.1,
    where the doubled EDGE set has 5.9M), each map's count comes from the
    checkpoint that materializes it, and the final labeling join's
    ``rep`` is bounded by the documents table's footer row count (rep ⊆
    documents).  A 100× corpus past the 64 MiB hint budget falls back to
    AQE-planned equi-joins with partition widths derived from the edge
    count.  The component minimum never relabels, so the fixpoint labels
    every node with its component's min doc_id — unique, hence
    hash-stable.  io.checkpoint per round (not just persist): the plan
    would otherwise embed the similarity pipeline plus every prior round,
    and the driver OOMs just printing it.
    The DuckDB oracle computes the same closure with a recursive CTE."""
    pairs = _word_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    rep = _cc_components(pairs)
    docs = load_table(spark, sf_dir, "documents")
    if rep is None:
        # zero pairs: every doc is its own singleton cluster
        return docs.select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.lit(True).alias("is_keeper"),
        )
    # the final labeling join ships rep (|round-0 nodes| rows, a subset
    # of documents) to every doc partition: the footer row count bounds it
    lab = docs.select("doc_id").join(
        hint_if(rep, table_rows(sf_dir, "documents") * _CC_ROW_BYTES),
        docs.doc_id == rep.orig,
        "left",
    ).select("doc_id", F.coalesce("cur", "doc_id").alias("lab"))
    return lab.select(
        "doc_id",
        F.col("lab").alias("cluster_id"),
        (F.col("doc_id") == F.col("lab")).alias("is_keeper"),
    )


_MH_P = 2147483647
_MH_K = 16  # 8 bands x 2 rows: P(candidate | J=0.8) = 1-(1-0.8^2)^8 ~ 0.9997


@register(
    "dedup_minhash_banded",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_SQL_TOKS}) AS w FROM documents
    ), th AS (
      SELECT w,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, length(w)),
                   i -> CAST(ascii(substring(w, i, 1)) AS BIGINT))),
               (a, x) -> (a * 131 + x) % {_MH_P}) AS h
      FROM (SELECT DISTINCT w FROM tok)
    ), params AS (
      SELECT i, 1000003 * (i + 1) AS a, 777767 * i + 13 AS b
      FROM (SELECT unnest(generate_series(0, {_MH_K - 1})) AS i)
    ), mh AS (
      SELECT t.doc_id, p.i, min((p.a * th.h + p.b) % {_MH_P}) AS mh
      FROM tok t JOIN th USING (w) CROSS JOIN params p
      GROUP BY t.doc_id, p.i
    ), bands AS (
      SELECT doc_id, i // 2 AS band,
             SUM(CASE WHEN i % 2 = 0 THEN mh * {_MH_P} ELSE mh END) AS band_key
      FROM mh GROUP BY doc_id, i // 2
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ), d AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
             AS jaccard
    FROM cand c JOIN d a ON c.doc_a = a.doc_id JOIN d b ON c.doc_b = b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
          >= {_JACCARD_TAU}
    """,
)
def dedup_minhash_banded(spark, sf_dir):
    """MinHash + LSH banding with ENGINE-NEUTRAL hashes — the scalable
    dedup path, but (unlike ml.feature's MinHashLSH in dedup_near_minhash)
    fully deterministic in both engines, so it carries a value-hash oracle.

    Pipeline: distinct tokens -> polynomial char hash per token (the
    dedup_simhash base hash) -> k=16 universal hashes (a_i*h+b_i mod P,
    fixed literal params) -> per-doc minima (the MinHash signature) ->
    8 bands of 2 rows packed into one 64-bit key (mh_even * P + mh_odd,
    fits: P^2 < 2^63) -> equi-join on (band, band_key) for candidates ->
    exact Jaccard rescore, keep J >= 0.8.

    Scale: this is O(n_tokens * k) map-side hashing plus ONE shuffle on the
    band key — the banding join touches only colliding docs, never the n^2
    pair space.  Band-key hotspots (boilerplate-heavy corpora) are the skew
    risk; AQE splits them, and the standard production guard (drop band
    keys with > B members, deduping those via exact-hash instead) is noted
    for 100 TB.  Recall at the J=0.8 threshold is 1-(1-J^2)^8 = 0.9997,
    measured against dedup_near_jaccard in tests/test_ml_quality.py.

    Rescore shape: this corpus is boilerplate-heavy (true near-dup cliques
    of thousands of docs), so band buckets emit tens of millions of
    duplicated candidates at bench scale.  Rescoring joins the bitmask
    signatures (_token_sigs; broadcast-hinted through io.hint_if on the
    sig table's footprint, else plain joins under AQE) — a map-side
    popcount per candidate, no token arrays in flight — then filters to J >= tau BEFORE the
    distinct, so the only shuffle after banding carries true pairs (3M at
    sf0.1), not the 49M raw candidates.  Pairs are memoized per corpus via
    the shared parquet artifact, like the exact pipeline's."""

    def build():
        return _minhash_banded_pairs(spark, sf_dir)

    return _pairs_artifact(spark, sf_dir, "minhash_band", build)


def _minhash_banded_pairs(spark, sf_dir):
    # th below is token-derived (unbounded vocab at web scale): its hint
    # is gated on corpus file bytes x decompression factor (io.hint_if)
    return _minhash_banded_pairs_from(
        load_table(spark, sf_dir, "documents"),
        th_est_bytes=table_file_bytes(sf_dir, "documents") * 8,
        stats_key=f"corpus_words_v2_{table_fingerprint(sf_dir, 'documents')}",
    )


def _minhash_banded_pairs_from(
    docs, th_est_bytes: int = 0, stats_key: str | None = None
):
    spark = docs.sparkSession
    tok = docs.select("doc_id", F.explode(_TOKS()).alias("w")).distinct()
    th = tok.select("w").distinct().withColumn(
        "h",
        F.expr(
            "aggregate(sequence(1, length(w)), 0L, "
            f"(a, i) -> pmod(a * 131 + CAST(ascii(substring(w, i, 1)) AS BIGINT), {_MH_P}L))"
        ),
    )
    params = spark.range(_MH_K).select(
        F.col("id").alias("i"),
        (1000003 * (F.col("id") + 1)).alias("a"),
        (777767 * F.col("id") + 13).alias("b"),
    )
    mh = (
        tok.join(hint_if(th, th_est_bytes), "w")
        .crossJoin(F.broadcast(params))
        .groupBy("doc_id", "i")
        .agg(
            F.min(
                F.pmod(F.col("a") * F.col("h") + F.col("b"), F.lit(_MH_P))
            ).alias("mh")
        )
    )
    bands = mh.groupBy("doc_id", F.expr("i DIV 2").alias("band")).agg(
        F.sum(
            F.when(F.col("i") % 2 == 0, F.col("mh") * _MH_P).otherwise(
                F.col("mh")
            )
        ).alias("band_key")
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = x.join(
        y,
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.band_key") == F.col("y.band_key"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    # rescore against compact signatures (_sig_rescore, the exact
    # pipeline's rescore): no token arrays in flight, and the J >= tau
    # filter runs map-side BEFORE the one distinct shuffle, so only true
    # pairs (plus their <= 8x band duplication) ever shuffle.
    parts = _token_sigs(docs, _TOKS(), stats_key=stats_key)
    return (
        _sig_rescore(parts, cand, "jaccard", _JACCARD_TAU)
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )


@register(
    "dedup_incremental",
    oracle=f"""
    WITH base AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
         delta AS (SELECT * FROM documents WHERE doc_id % 10 >= 8),
         dh AS (
           SELECT doc_id, lang, n_chars, sha256(text) AS h,
                  row_number() OVER (
                    PARTITION BY sha256(text) ORDER BY doc_id) AS rn
           FROM delta),
         exact_ok AS (
           SELECT doc_id, lang, n_chars FROM dh
           WHERE rn = 1 AND h NOT IN (SELECT sha256(text) FROM base)),
         dt AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM delta),
         bt AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM base),
         near AS (
           SELECT DISTINCT d.doc_id
           FROM dt d JOIN bt b ON
             CAST(len(list_intersect(d.toks, b.toks)) AS DOUBLE)
               / (len(d.toks) + len(b.toks)
                  - len(list_intersect(d.toks, b.toks))) >= {_JACCARD_TAU})
    SELECT doc_id, lang, n_chars FROM exact_ok
    WHERE doc_id NOT IN (SELECT doc_id FROM near)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental corpus ingest: admit only NEW documents from a delta
    batch against an existing deduplicated base corpus.

    The continuous-training-data pattern: a crawler delivers a small delta
    (here doc_id % 10 >= 8 — ~20% of the fixture) against a large standing
    corpus (the other 80%).  A delta doc survives iff
      (a) its content hash is unseen — first-in-batch by doc_id AND absent
          from the base (LEFT ANTI join on sha256(text)), and
      (b) it is not a near-duplicate (token Jaccard >= 0.8) of any BASE
          doc.  Near-dups *within* the delta both survive by design —
          intra-batch near-dedup is the separate dedup_near_jaccard pass.

    The near check reuses the corpus pair artifact (_word_pairs_cached —
    prefix-filtered, never all-pairs) and keeps delta docs appearing in a
    pair whose other side is a base doc.

    100 TB design: the base's content-hash set and token signatures are
    standing bucketed artifacts (written once per corpus snapshot); the
    delta is orders of magnitude smaller, so both anti-joins broadcast the
    delta side and the near check probes the base's banded LSH index
    (dedup_minhash_banded's layout) instead of re-pairing the corpus —
    per-batch cost scales with |delta|, never |base|."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.pmod("doc_id", F.lit(10)) >= 8
    delta = docs.filter(is_delta)
    base = docs.filter(~is_delta)

    w = W.partitionBy("h").orderBy("doc_id")
    delta_h = delta.withColumn("h", F.sha2("text", 256)).withColumn(
        "rn", F.row_number().over(w)
    )
    base_h = base.select(F.sha2("text", 256).alias("h"))
    exact_ok = (
        delta_h.filter(F.col("rn") == 1)
        .join(base_h, "h", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )

    pairs = _word_pairs_cached(spark, sf_dir)
    delta_ids = delta.select("doc_id")
    base_ids = base.select(F.col("doc_id").alias("base_id"))
    near_a = (
        pairs.join(delta_ids, pairs.doc_a == delta_ids.doc_id)
        .join(base_ids, pairs.doc_b == base_ids.base_id)
        .select("doc_id")
    )
    near_b = (
        pairs.join(delta_ids, pairs.doc_b == delta_ids.doc_id)
        .join(base_ids, pairs.doc_a == base_ids.base_id)
        .select("doc_id")
    )
    near = near_a.unionByName(near_b).distinct()
    return exact_ok.join(near, "doc_id", "left_anti")


@register(
    "dedup_paragraph",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ), chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(tokens, i * 10 + 1, i * 10 + 10), ' ')) AS h
      FROM toks, UNNEST(range(0, CAST(ceil(len(tokens) / 10.0) AS BIGINT))) AS t(i)
    ), shared AS (
      SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY h
      ) WHERE nd >= 2
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac
    FROM chunks c LEFT JOIN shared s USING (h)
    GROUP BY c.doc_id
    """,
)
def dedup_paragraph(spark, sf_dir):
    """Sub-document (paragraph-level) exact dedup: flag text chunks shared
    across documents and score each doc by its duplicated-chunk fraction.

    Corpus-hygiene pipelines dedup below whole-document grain — boilerplate
    headers, license blocks, and templated paragraphs repeat across
    otherwise-distinct pages and a whole-doc hash never sees them.  The
    fixture text has no newlines, so the paragraph surrogate is fixed
    10-word chunks (documented substitution; the operator is splitter-
    agnostic — swap the chunker for split('\\n\\n') on real corpora).

    Plan at 100 TB: explode to chunks (map-side, ~n_tokens/10 rows per
    doc), ONE hash-shuffle on the 32-hex chunk hash to find cross-doc
    repeats, then the shared-hash set — which is small by construction
    (only repeated boilerplate survives the nd>=2 filter) — broadcasts
    back onto the chunk stream; the per-doc rollup reuses the doc_id
    grouping.  No pairwise comparison anywhere: cost is O(corpus tokens),
    the same recipe MassiveText/RefinedWeb use for line-level dedup."""
    d = load_table(spark, sf_dir, "documents")
    chunks = (
        d.select("doc_id", F.split("text", " ").alias("tokens"))
        .select(
            "doc_id",
            F.explode(
                F.expr("sequence(0, CAST(ceil(size(tokens) / 10.0) AS BIGINT) - 1)")
            ).alias("i"),
            F.col("tokens"),
        )
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.expr("slice(tokens, i * 10 + 1, 10)"), " ")
            ).alias("h"),
        )
    )
    shared = (
        chunks.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return (
        # shared chunk set is corpus-derived (boilerplate can be a large
        # corpus fraction): hint gated on corpus file bytes (io.hint_if)
        chunks.join(
            hint_if(
                shared.withColumn("is_dup", F.lit(1)),
                table_file_bytes(sf_dir, "documents") * 2,
            ),
            "h",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_chunks"),
            (
                F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("double")
                / F.count("*")
            ).alias("dup_frac"),
        )
    )


@register(
    "dedup_normalized",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT md5(norm) AS norm_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM n GROUP BY md5(norm)
    """,
)
def dedup_normalized(spark, sf_dir):
    """Canonicalizing exact dedup: lowercase, strip non-alphanumerics,
    collapse runs of spaces, THEN hash — catches trivially-reformatted
    copies (case, punctuation, whitespace) that byte-exact dedup_exact
    misses, at identical cost: the normalization is a narrow map and the
    only shuffle is the hash groupBy with min-doc_id keeper (same
    deterministic-keeper discipline as dedup_exact).

    Both engines apply the same two regexes (character class + space run —
    semantics identical between Java regex and RE2) and md5 is md5
    everywhere, so the group keys match bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        ).alias("norm"),
    )
    return norm.groupBy(F.md5("norm").alias("norm_hash")).agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_span_fraction",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS s
      FROM t, UNNEST(generate_series(1, len(w) - 4)) AS g(i)
      WHERE len(w) >= 5
    ), df AS (
      SELECT s, CASE WHEN min(doc_id) <> max(doc_id) THEN 1 ELSE 0 END AS dup
      FROM sh GROUP BY s
    )
    SELECT doc_id, count(*) AS n_shingles,
           CAST(SUM(dup) AS BIGINT) AS n_dup,
           CAST(SUM(dup) AS DOUBLE) / count(*) AS dup_frac
    FROM sh JOIN df USING (s)
    GROUP BY doc_id
    """,
)
def dedup_span_fraction(spark, sf_dir):
    """Duplicated-span fraction per document: the share of a document's
    5-word shingle POSITIONS whose shingle also occurs in at least one
    OTHER document — the substring-level duplication signal behind
    "Deduplicating Training Data Makes Language Models Better"-style
    corpus cleaning, complementing the whole-document near-dup family:
    a doc can be unique as a whole yet 60% boilerplate, and this is the
    metric that sees it (filter or down-weight above a threshold).

    Scale shape (r11 rewrite — the join-back is gone): (1) ONE
    shingle-keyed exchange, groupBy(shingle, doc) collapsing repeated
    positions to a count (partial map-side, so hot boilerplate shingles
    combine before the wire); (2) a window over the collapsed
    (shingle, doc) rows counts distinct docs per shingle — the dup test
    needs only "seen in ≥2 docs"; (3) a doc-keyed re-aggregate weighs
    each shingle by its position count.  The old shape re-joined the
    FULL position stream against the shingle roll-up — one more
    full-stream exchange plus a join whose probe side is the corpus'
    positions (measured 12.6 s → 7.7 s at the perturbed sf1 corpus;
    the position stream is also shingled in ONE branch now, so the
    single-file local fixture no longer tokenizes twice).  No
    vocabulary broadcast, no quadratic pair set.  The fraction is one
    long/long double division — hash-exact.

    Both exchanges key on the raw 5-gram STRING.  A 96-bit (xxhash64,
    crc32) two-long surrogate key moves 0.675x the shuffle bytes at 0.959x
    wall at sf1 (tools/surrogate_ab.py and tools/scaleup_r10_surrogate.json
    at commit e0718c1): the lever to pull once these exchanges cross a
    real network."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        # guard BEFORE sequence(): Spark's sequence(1, n) with n < 1
        # happily counts DOWNWARD and would fabricate shingles
        .filter(F.size("w") >= 5)
        # single local parquet file = one input split; spread the docs so
        # the shingling map (the expensive narrow stage) uses every core
        .repartition(32, "doc_id")
    )
    sh = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 4),"
                " i -> concat_ws(' ', slice(w, i, 5)))"
            )
        ).alias("s"),
    )
    collapsed = sh.groupBy("s", "doc_id").agg(F.count("*").alias("pc"))
    ndocs = F.count("*").over(W.partitionBy("s"))
    return (
        collapsed.withColumn("ndocs", ndocs)
        .groupBy("doc_id")
        .agg(
            F.sum("pc").cast("long").alias("n_shingles"),
            F.coalesce(
                F.sum(F.when(F.col("ndocs") >= 2, F.col("pc"))), F.lit(0)
            )
            .cast("long")
            .alias("n_dup"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup").cast("double") / F.col("n_shingles").cast("double"),
        )
    )
