"""§2.13 Corpus-assembly operators: sequence packing and token budgeting.

The last mile of an LLM training-data pipeline: after filtering, dedup and
splitting (text.py, sampling.py, dedup.py), the surviving documents must be
(a) packed into fixed-token-budget training sequences and (b) mixed under
per-language token budgets.  Both are pure-Catalyst window plans — no
Python in the hot path — and both follow the engine-neutral md5 determinism
discipline of sampling.py so the DuckDB oracle reproduces them bit-for-bit.

100 TB design: both operators shuffle the corpus exactly once, keyed on a
hash bucket (packing) or language (budgeting).  The per-partition window
sort is the only super-linear step; its input is bounded by bucket/language
size, and the bucket count is a knob that scales with the corpus (tokens /
target-shard-size), so no single executor ever sorts more than a shard.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from ..canon import md5_int
from ..io import load_table
from ..registry import register

#: tokens per packed training sequence (pack-and-chunk boundary)
_PACK_BUDGET = 2048
#: hash buckets for parallel packing (scale knob: tokens / shard size)
_PACK_BUCKETS = 32
#: per-language token budget for the mixture
_LANG_BUDGET = 60000

_SQL_NTOK = "len(string_split(lower(text), ' '))"


@register(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_SQL_NTOK} AS n_tok,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % {_PACK_BUCKETS} AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), p AS (
      SELECT bucket, n_tok,
             sum(n_tok) OVER (
               PARTITION BY bucket ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tok AS strt
      FROM t
    )
    SELECT bucket, CAST(strt // {_PACK_BUDGET} AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM p GROUP BY bucket, bin
    """,
)
def pipeline_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: documents are laid end-to-end in
    a deterministic hash-shuffled order and cut into {_PACK_BUDGET}-token
    training sequences; each document is attributed to the bin where it
    STARTS (the standard pack-then-chunk recipe — a straddling document
    contributes its tail to the next bin, so non-final bins are exactly
    full by construction).  Output: per (bucket, bin) document count and
    attributed token mass — the packing manifest a dataloader shards on.

    Determinism: the lay-down order is (md5(doc_id), doc_id) — engine-
    neutral, repartition-stable, and RNG-free (same trick as
    sample_hash_split); token counts and cumulative offsets are exact
    integers; the bin id is integer floor-division.  Plan: ONE shuffle
    keyed on the hash bucket feeds both the window (running token offset)
    and the groupBy (same key — exchange reuse), so the corpus moves over
    the wire once.  At 100 TB the bucket count scales with corpus size so
    each in-partition sort stays shard-sized; truly huge corpora swap the
    window for per-partition sequential packing (mapInPandas) with
    identical semantics."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.col("text")), " "))
    bucket = md5_int(F.col("doc_id"), 6) % _PACK_BUCKETS
    t = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        bucket.alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = t.withColumn("strt", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        p.withColumn("bin", F.expr(f"strt div {_PACK_BUDGET}"))
        .groupBy("bucket", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )


@register(
    "pipeline_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {_SQL_NTOK} AS n_tok,
             CAST(len(list_distinct(string_split(lower(text), ' ')))
                  AS DOUBLE) / {_SQL_NTOK} AS q
      FROM documents
    ), r AS (
      SELECT lang, n_tok, q,
             sum(n_tok) OVER (
               PARTITION BY lang ORDER BY q DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT lang, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           min(q) AS q_floor
    FROM r WHERE cum <= {_LANG_BUDGET}
    GROUP BY lang
    """,
)
def pipeline_token_budget(spark, sf_dir):
    """Quality-ranked token budgeting per language: within each language,
    take documents in descending quality order (type-token ratio, the
    text_quality signal) until the language's token budget is spent —
    the data-mixing primitive that turns "we can afford N tokens of
    language X" into a concrete reproducible document set.  Output per
    language: documents kept, tokens spent, and the quality cutoff that
    the budget implies (q_floor — the admission bar the budget bought).

    Determinism: q is one IEEE division of exact integers (bit-identical
    across engines, so the ORDER BY agrees), the running token spend is an
    exact integer window sum, ties break on doc_id.  Plan: one shuffle on
    lang feeds window + groupBy (exchange reuse).  At 100 TB a language is
    too big for one partition's sort — the scale recipe is a two-pass
    refinement: histogram q per language (tiny, broadcast), derive the
    approximate cutoff, then window-sort only the boundary stratum; the
    fixture-scale plan here is the exact single-pass version of the same
    contract."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_tok = F.size(toks)
    t = docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("q"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy(F.col("q").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    r = t.withColumn("cum", F.sum("n_tok").over(w))
    return (
        r.filter(F.col("cum") <= _LANG_BUDGET)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("q").alias("q_floor"),
        )
    )


@register(
    "pipeline_curriculum",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {_SQL_NTOK} AS n_tok,
             CAST(len(list_distinct(string_split(lower(text), ' ')))
                  AS DOUBLE) / {_SQL_NTOK} AS q
      FROM documents
    ), p AS (
      SELECT lang, n_tok, q,
             ntile(4) OVER (ORDER BY q, doc_id) AS phase
      FROM t
    )
    SELECT phase, lang, count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           min(q) AS q_min, max(q) AS q_max
    FROM p GROUP BY phase, lang
    """,
)
def pipeline_curriculum(spark, sf_dir):
    """Curriculum phase assignment: the corpus is split into 4 equal-count
    phases by ascending quality (type-token ratio) — the easy-to-hard
    schedule a curriculum-learning dataloader consumes — and each
    (phase, lang) cell reports its document count, token mass, and quality
    range.  ntile gives exactly balanced phases with a total tie-break
    (q, doc_id), so the assignment is reproducible run-to-run.

    Determinism: q is one IEEE division of exact integers (bit-identical
    ordering across engines), ntile is rank arithmetic, min/max of doubles
    are selections — q_min/q_max stay unrounded (canon.py: round() itself
    disagrees cross-engine).  The oracle casts the token sum to BIGINT:
    DuckDB sum(BIGINT) → HUGEINT renders as float64 on the driver's pandas
    path ('830.0' vs '830'), the probe-verified CORRECTNESS_r03 root
    cause.  Plan note: a global ntile is a single-partition sort
    — fine at fixture scale and plainly visible in the plan; the 100 TB
    recipe replaces it with the two-pass quantile split documented in
    pipeline_token_budget (broadcast a q-histogram, derive 3 cut points,
    assign phases map-only) with identical semantics away from cut-point
    ties."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_tok = F.size(toks)
    t = docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("q"),
    )
    p = t.withColumn(
        "phase", F.ntile(4).over(W.orderBy("q", "doc_id"))
    )
    return p.groupBy("phase", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("q").alias("q_min"),
        F.max("q").alias("q_max"),
    )


#: tokens per training chunk and stride (overlap = _CHUNK_SIZE - _CHUNK_STRIDE)
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24

_SQL_TOKS_F = "list_filter(string_split(lower(text), ' '), x -> x != '')"


@register(
    "pipeline_doc_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS_F} AS toks FROM documents
    ), d2 AS (
      SELECT doc_id, toks, len(toks) AS n_tok FROM d WHERE len(toks) > 0
    ), ex AS (
      SELECT doc_id, n_tok,
             unnest(generate_series(0, n_tok - 1, {_CHUNK_STRIDE})) AS start_pos,
             toks
      FROM d2
    )
    SELECT doc_id,
           start_pos // {_CHUNK_STRIDE} AS chunk_idx,
           start_pos,
           len(list_slice(toks, start_pos + 1, start_pos + {_CHUNK_SIZE})) AS n_tokens,
           array_to_string(list_slice(toks, start_pos + 1, start_pos + {_CHUNK_SIZE}), ' ')
             AS chunk_text
    FROM ex
    """,
)
def pipeline_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking — how long documents become
    fixed-size training examples without losing cross-boundary context:
    windows of 32 tokens advancing by 24 (overlap 8), last window ragged.
    Complements
    pipeline_pack_sequences (which concatenates SHORT docs up to a budget);
    chunking splits LONG docs down to one.

    Entirely map-side Catalyst: split → filter empties → sequence(0, n-1,
    stride) → posexplode → slice/concat_ws.  Zero shuffles, zero Python —
    at 100 TB this runs at scan speed and the output partitioning inherits
    the input's, ready for the pack/shuffle stage downstream.  The window
    start arithmetic is integer, so chunk identity is engine-exact; DuckDB
    twin uses generate_series/list_slice with the same 1-based slicing."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    d = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n_tok", F.size("toks")
    ).filter(F.col("n_tok") > 0)
    ex = d.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(
                F.lit(0), F.col("n_tok") - 1, F.lit(_CHUNK_STRIDE)
            )
        ).alias("chunk_idx", "start_pos"),
    )
    chunk = F.slice(F.col("toks"), F.col("start_pos") + 1, F.lit(_CHUNK_SIZE))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


@register(
    "pipeline_interleave_shards",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % 8 AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), p AS (
      SELECT doc_id, shard,
             row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
      FROM d
    ), sz AS (
      SELECT shard AS s2, count(*) AS n FROM p GROUP BY shard
    )
    SELECT p.doc_id, p.shard, p.pos,
           CAST(SUM(least(sz.n, p.pos - 1))
                + SUM(CASE WHEN sz.s2 < p.shard AND sz.n >= p.pos
                           THEN 1 ELSE 0 END) AS BIGINT) AS step
    FROM p CROSS JOIN sz
    GROUP BY p.doc_id, p.shard, p.pos
    """,
)
def pipeline_interleave_shards(spark, sf_dir):
    """Deterministic interleaved training order: documents are md5-hashed
    into 8 shards, shuffled WITHIN each shard by md5 (pos), and the global
    training step of every document under round-robin shard reading is
    computed ARITHMETICALLY — step = docs at earlier positions across all
    shards + earlier shards still alive at this position — instead of via
    a global ORDER BY.

    That is the point at 100 TB: a training-order manifest normally costs
    a single-partition global sort; here the only wide ops are the per-
    shard window (each sorts one shard, the standard packing bound) and a
    broadcast of the 8-row shard-size table, so the epoch permutation
    materializes shard-parallel and the round-robin property is exact even
    with unequal shard sizes (a shard drops out of the rotation once
    exhausted).  Everything derives from md5 — reproducible epoch order,
    no RNG (SURVEY §5.3)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return interleave_steps(docs)


def interleave_steps(docs, n_shards: int = 8):
    """The round-robin interleave kernel (see pipeline_interleave_shards):
    (doc_id) -> (doc_id, shard, pos, step) where step is the global
    round-robin training position, computed without a global sort.
    Exposed module-level so tests can drive it with planted id sets
    (tests/test_properties.py hypothesis case)."""
    d = docs.select(
        "doc_id",
        (md5_int(F.col("doc_id"), 6) % n_shards).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    p = d.select(
        "doc_id",
        "shard",
        F.row_number()
        .over(W.partitionBy("shard").orderBy("h", "doc_id"))
        .alias("pos"),
    )
    sz = p.groupBy(F.col("shard").alias("s2")).agg(F.count("*").alias("n"))
    return (
        p.crossJoin(F.broadcast(sz))
        .groupBy("doc_id", "shard", "pos")
        .agg(
            (
                F.sum(F.least(F.col("n"), F.col("pos") - 1))
                + F.sum(
                    F.when(
                        (F.col("s2") < F.col("shard"))
                        & (F.col("n") >= F.col("pos")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("step")
        )
    )


@register(
    "pipeline_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_NTOK} AS n_tok FROM documents
    ), b AS (
      SELECT doc_id, n_tok,
             least(CAST(n_tok // 64 AS BIGINT), 16) AS bucket
      FROM t
    )
    SELECT bucket, count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           min(n_tok) AS min_tok, max(n_tok) AS max_tok
    FROM b GROUP BY bucket
    """,
)
def pipeline_length_buckets(spark, sf_dir):
    """Sequence-length distribution report: documents histogrammed into
    64-token buckets (top-coded at bucket 16 = 1024+) with per-bucket doc
    counts, token mass, and range — the table every training-data team
    reads before choosing pack length and truncation policy
    (pipeline_pack_sequences' _PACK_BUDGET came from exactly this view).

    Integer token counts, integer bucketing, integer aggregates — nothing
    to canonicalize — and the whole thing is one map + one
    17-cardinality-keyed count aggregate: map-side partials reduce the
    shuffle to |buckets| rows per task at any corpus size.

    Token convention: the raw whitespace split WITHOUT empty-token
    filtering, i.e. exactly ``_SQL_NTOK`` — the same count
    pipeline_pack_sequences budgets with, so bucket boundaries and pack
    bins agree on every document (including ones with doubled/leading
    spaces; pinned by tests/test_packing.py::test_length_buckets_whitespace
    on a planted double-space doc)."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.lower(F.col("text")), " "))
    b = docs.select(
        F.least(
            F.floor(ntok / 64).cast("long"), F.lit(16).cast("long")
        ).alias("bucket"),
        ntok.cast("long").alias("n_tok"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
    )


@register(
    "pipeline_bpe_pairs",
    oracle="""
    WITH norm AS (
      SELECT trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS t
      FROM documents
    ), words AS (
      SELECT w.word, count(*) AS cnt
      FROM norm, unnest(string_split(t, ' ')) AS w(word)
      WHERE length(w.word) >= 2
      GROUP BY w.word
    ), pairs AS (
      SELECT substring(word, i.i, 2) AS pair, cnt, word
      FROM words, unnest(generate_series(1, length(word) - 1)) AS i(i)
    )
    SELECT pair,
           CAST(SUM(cnt) AS BIGINT) AS pair_count,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 20
    """,
)
def pipeline_bpe_pairs(spark, sf_dir):
    """Tokenizer-training statistic: the BPE merge-candidate table — the
    corpus-frequency of every adjacent CHARACTER pair inside words,
    weighted by word frequency, top-20.  This is exactly one iteration
    of byte-pair-encoding training (count pairs over the pre-tokenized
    word-frequency table, pick the most frequent merge); training loops
    this per merge with the chosen pair contracted, and each iteration
    is this same plan.  Pre-tokenization reuses the text_unicode_clean
    kernel (lower → non-alnum→space → collapse), then words dedup into a
    (word, count) table BEFORE pair expansion — the standard BPE trick
    that shrinks the explode input from corpus tokens to |vocab|.

    100 TB: two exchanges — corpus tokens → |vocab| word counts (the
    only data-scale shuffle), then the ≤(len−1)-per-word pair expansion
    over the VOCAB (corpus-size-free) → |alphabet|² pair counts; the
    top-20 is a total-ordered limit over that tiny table.  The pair
    stage's countDistinct(word) expands the word STRING into its
    distinct-state shuffle; a 16 B hash surrogate measured 1.0x the
    shuffle bytes at sf1 (the state collapses map-side at vocab scale),
    tools/scaleup_r10_surrogate.json at commit e0718c1."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    words = (
        d.select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = words.select(
        "word",
        "cnt",
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
    ).select(
        F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"),
        "cnt",
        "word",
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("cnt").cast("long").alias("pair_count"),
            F.countDistinct("word").cast("long").alias("n_words"),
        )
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(20)
    )
