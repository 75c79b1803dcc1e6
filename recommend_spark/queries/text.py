"""§2.9a Text-analysis operators (LLM-data-pipeline mandate).

All pure-Catalyst: explode/split/higher-order lambdas/windows — no Python in
the hot path.  At 100 TB these shapes scale because every step is either a
narrow map over documents or a shuffle keyed on token/doc_id with map-side
partial aggregation.

Determinism notes: token arrays keep document order (fingerprint) or are
explicitly sorted; ln() goes through DECIMAL(18,6) (cross-libm 1-ulp);
ratios are single IEEE divisions of exact integers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from ..io import (
    hint_if,
    load_table,
    spread_width,
    stats_memo,
    table_file_bytes,
    table_fingerprint,
    table_rows,
)
from ..registry import register

_SQL_TOKS = "string_split(lower(text), ' ')"


def _TOKS():
    """Lowercase whitespace tokenization (lazy: needs an active session)."""
    return F.split(F.lower(F.col("text")), " ")


def _tokens(docs):
    """(doc_id, pos, w) exploded token stream."""
    return docs.select(
        "doc_id", F.posexplode(_TOKS()).alias("pos", "w")
    ).filter(F.col("w") != "")


@register(
    "text_tokenize_wordcount",
    oracle=f"""
    SELECT w AS word, count(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
    WHERE w != '' GROUP BY w
    """,
)
def text_tokenize_wordcount(spark, sf_dir):
    """Corpus word frequency: lowercase → split → explode → count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _tokens(docs)
        .groupBy(F.col("w").alias("word"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "text_stats_per_lang",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           min(length(text)) AS min_chars,
           max(length(text)) AS max_chars,
           CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_stats_per_lang(spark, sf_dir):
    """Per-(lang, source) document count and char-length stats.

    Output discipline (CORRECTNESS_r03 root cause, probe-verified): DuckDB
    sum(BIGINT) is HUGEINT, which its pandas path renders as float64
    ('675.0' vs Spark's int64 '675') — the oracle casts the sum back to
    BIGINT.  avg_chars stays an UNROUNDED double: it is one IEEE division
    of exact integers, bit-identical across engines, and canon.py's
    verified finding is that round() itself is what disagrees."""
    docs = load_table(spark, sf_dir, "documents")
    ln = F.length("text")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ln).alias("total_chars"),
        F.min(ln).alias("min_chars"),
        F.max(ln).alias("max_chars"),
        (F.sum(ln).cast("double") / F.count("*")).alias("avg_chars"),
    )


@register(
    "text_ngram",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({_SQL_TOKS}) AS w,
             unnest(generate_series(1, len({_SQL_TOKS}))) AS pos
      FROM documents
    ), bi AS (
      SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nw FROM tok
    )
    SELECT concat(w, ' ', nw) AS bigram, count(*) AS cnt
    FROM bi WHERE nw IS NOT NULL GROUP BY 1
    """,
)
def text_ngram(spark, sf_dir):
    """Bigram counts via posexplode + lead() — the window formulation works
    identically for any n and never materializes per-doc n-gram arrays."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("doc_id").orderBy("pos")
    tok = _tokens(docs).withColumn("nw", F.lead("w").over(w))
    return (
        tok.filter(F.col("nw").isNotNull())
        .select(F.concat_ws(" ", "w", "nw").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "text_tfidf_sql",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents
    ), tf AS (
      SELECT doc_id, w, count(*) AS tf FROM tok WHERE w != '' GROUP BY doc_id, w
    ), df AS (
      SELECT w, count(*) AS df FROM tf GROUP BY w
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, tf.w AS term, tf,
           CAST(tf AS DOUBLE) *
             CAST(CAST(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
             AS score
    FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 5
    """,
)
def text_tfidf_sql(spark, sf_dir):
    """Exact TF-IDF, top-5 terms per doc: token explode → tf agg → df agg →
    broadcast-join idf → window top-k.  The scalable twin of text_tfidf_ml
    (closed-form, so it carries the value-hash oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs).drop("pos")
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    idf = F.log(F.col("n").cast("double") / F.col("df").cast("double"))
    scored = (
        # df is token-derived (unbounded vocab at web scale): hint
        # gated on corpus file bytes (io.hint_if rule)
        tf.join(hint_if(df, table_file_bytes(sf_dir, "documents") * 8), "w")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * idf.cast("decimal(18,6)").cast("double"),
        )
    )
    win = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("doc_id", F.col("w").alias("term"), "tf", "score")
    )


@register("text_tfidf_ml")  # rows-only: hash-bucketed by design
def text_tfidf_ml(spark, sf_dir):
    """HashingTF + IDF pipeline — the fixed-width hashed variant for 100 TB
    (no global vocabulary build).  Compared to text_tfidf_sql in
    tests/test_ml_quality.py; not oracle-matchable (hash buckets)."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    # documents.parquet is a single file -> 1 input partition; without an
    # explicit spread the whole tokenize -> hash -> IDF -> norm pipeline
    # runs as ONE task (5.6s -> 0.7s at sf0.1 with the spread).  On a
    # cluster this is the difference between one hot core and N.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.lower("text").alias("text"))
        .repartition(spread_width(spark))
    )
    tok = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    # localCheckpoint: the hashed-TF table is consumed TWICE (the IDF fit
    # pass and the transform pass); without a cut each one re-runs
    # tokenize+hash over the corpus (measured ~4s of the ~10s total at
    # sf0.1).  Checkpoint, not cache: no storage-level residue across the
    # ~200-query shared session, and the lineage cut also keeps the fit's
    # treeAggregate plan shallow.
    tf = HashingTF(
        inputCol="words", outputCol="tf", numFeatures=1 << 14
    ).transform(tok).localCheckpoint(eager=False)
    model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = model.transform(tf)
    # emit stable scalars (vector norms), not the raw vector type
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("tfidf"))
    return out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x > 0)).alias("nnz"),
        F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x).alias("sq_norm"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_SQL_TOKS},
                 w -> CAST(ascii(w) + length(w) AS BIGINT))),
             (a, x) -> (a * 131 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Order-sensitive document fingerprint: left-fold polynomial rolling
    hash over the token stream (mod 1e9+7, overflow-free in BIGINT)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.aggregate(
            _TOKS(),
            F.lit(0).cast("long"),
            lambda a, w: F.pmod(
                a * 131 + (F.ascii(w) + F.length(w)).cast("long"),
                F.lit(1000000007).cast("long"),
            ),
        ).alias("fingerprint"),
    )


_STOPWORDS = ("the", "a", "and", "of", "to")


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           len(list_filter(toks, w -> w IN ('the','a','and','of','to'))) AS n_stop,
           CAST(len(list_filter(toks, w -> w IN ('the','a','and','of','to'))) AS DOUBLE)
             / len(toks) AS stop_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
           CAST(length(text) AS DOUBLE) / len(toks) AS chars_per_token
    FROM t
    """,
)
def text_quality(spark, sf_dir):
    """Quality-scoring signals: token/char/BPE-ish counts, stopword ratio,
    type-token ratio, chars-per-token.  All single-pass narrow maps."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _TOKS()
    stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    n_tok = F.size(toks)
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpe_tokens"),
        stop.alias("n_stop"),
        (stop.cast("double") / n_tok).alias("stop_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("uniq_ratio"),
        (F.length("text").cast("double") / n_tok).alias("chars_per_token"),
    )


_LANG_MARKERS = {
    "de": ("der", "die", "das", "und"),
    "en": ("the", "a", "and"),
    "es": ("el", "la", "y"),
    "fr": ("le", "la", "et"),
}


def _marker_sql(lang):
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter({_SQL_TOKS}, w -> w IN ({words})))"


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           {_marker_sql('de')} AS s_de,
           {_marker_sql('en')} AS s_en,
           {_marker_sql('es')} AS s_es,
           {_marker_sql('fr')} AS s_fr,
           CASE WHEN {_marker_sql('de')} >= {_marker_sql('en')}
                 AND {_marker_sql('de')} >= {_marker_sql('es')}
                 AND {_marker_sql('de')} >= {_marker_sql('fr')} THEN 'de'
                WHEN {_marker_sql('en')} >= {_marker_sql('es')}
                 AND {_marker_sql('en')} >= {_marker_sql('fr')} THEN 'en'
                WHEN {_marker_sql('es')} >= {_marker_sql('fr')} THEN 'es'
                ELSE 'fr' END AS predicted
    FROM documents
    """,
)
def text_langid(spark, sf_dir):
    """Marker-token language-ID heuristic with a deterministic argmax
    (alphabetical tie-break).  The fixture corpus shares one vocabulary
    across langs, so this demonstrates the operator, not classifier skill."""
    docs = load_table(spark, sf_dir, "documents")
    scores = {
        lang: F.size(F.filter(_TOKS(), lambda w: w.isin(*words)))
        for lang, words in _LANG_MARKERS.items()
    }
    pred = (
        F.when(
            (scores["de"] >= scores["en"])
            & (scores["de"] >= scores["es"])
            & (scores["de"] >= scores["fr"]),
            "de",
        )
        .when((scores["en"] >= scores["es"]) & (scores["en"] >= scores["fr"]), "en")
        .when(scores["es"] >= scores["fr"], "es")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        "lang",
        scores["de"].alias("s_de"),
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["fr"].alias("s_fr"),
        pred.alias("predicted"),
    )


@register(
    "pipeline_corpus_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source,
             len(list_filter({_SQL_TOKS}, w -> w != '')) AS n_tok,
             length(text) AS n_chars,
             sha256(text) AS h
      FROM documents
    ), k AS (
      SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM t
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tok) AS chars_per_tok
    FROM k
    WHERE rn = 1 AND n_tok >= 10
    GROUP BY lang, source
    """,
)
def pipeline_corpus_stats(spark, sf_dir):
    """End-to-end corpus-cleaning pipeline (the LLM training-data prep
    composition): tokenize → quality gate (>= 10 tokens) → exact dedup
    keeping the min doc_id per content hash → per-(lang, source) corpus
    stats.  One narrow map + one 16-byte-hash window + one partial-agg
    shuffle — every stage is a shape that holds at 100 TB (the near-dup
    and multimodal stages are their own operators; this query is the
    relational spine they plug into)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(_TOKS(), lambda w: w != "")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).alias("n_tok"),
        F.length("text").alias("n_chars"),
        F.sha2("text", 256).alias("h"),
    )
    k = t.withColumn(
        "rn", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    )
    return (
        k.filter((F.col("rn") == 1) & (F.col("n_tok") >= 10))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (
                F.sum("n_chars").cast("double") / F.sum("n_tok")
            ).alias("chars_per_tok"),
        )
    )


@register(
    "pipeline_events_features",
    oracle="""
    WITH o AS (
      SELECT user_id, value, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS e,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS pe
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(CASE WHEN pe IS NULL OR e - pe > 1800 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           count(DISTINCT event_type) AS n_types
    FROM o GROUP BY user_id
    """,
)
def pipeline_events_features(spark, sf_dir):
    """Per-user feature extraction from the event stream — the behavioral
    half of a training-data pipeline: event counts, session counts
    (30-minute-gap sessionization via gaps-and-islands), exact value
    totals, event-type diversity.  One window shuffle on user_id reused by
    the aggregate (same key), decimal-summed values.  The streaming twin
    of the sessionization step is stream_session."""
    from pyspark.sql import Window as W

    from ..canon import epoch_s

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "value",
        "event_type",
        "ts",
        "event_id",
        epoch_s("ts", "e"),
    ).withColumn("pe", F.lag("e").over(w))
    return o.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(
                F.col("pe").isNull() | (F.col("e") - F.col("pe") > 1800), 1
            ).otherwise(0)
        ).alias("n_sessions"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "pipeline_training_corpus",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             len({_SQL_TOKS}) AS n_tok,
             len(list_distinct({_SQL_TOKS})) * 1.0 / len({_SQL_TOKS}) AS uniq_ratio
      FROM documents
    ), gated AS (
      SELECT * FROM t WHERE n_tok >= 12 AND uniq_ratio > 0.55
    ), keep AS (
      SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM gated
    ), split AS (
      SELECT lang, n_tok,
             CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM keep WHERE rn = 1
    )
    SELECT split, lang, count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tok) AS DOUBLE) / count(*) AS avg_tokens
    FROM split GROUP BY split, lang
    """,
)
def pipeline_training_corpus(spark, sf_dir):
    """End-to-end training-data preparation in ONE declarative plan:
    quality gate (length + type-token ratio) → exact dedup keeper →
    deterministic md5-bucket train/val/test split → per-(split, lang)
    token accounting.  This is the composed shape of the LLM-pipeline
    mandate: every stage is a narrow map or one keyed shuffle, no stage
    materializes the corpus twice, and the split is reproducible on any
    cluster (see sample_hash_split).  Token sums are exact integers; the
    average is one IEEE division — hash-stable with no rounding."""
    from .sampling import _bucket

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_tok = F.size(toks)
    gated = docs.select(
        "doc_id",
        "lang",
        "text",
        n_tok.alias("n_tok"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias("uniq_ratio"),
    ).filter((F.col("n_tok") >= 12) & (F.col("uniq_ratio") > 0.55))
    keep = (
        gated.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    b = _bucket("doc_id")
    split = keep.select(
        "lang",
        "n_tok",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )
    return split.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        (F.sum("n_tok").cast("double") / F.count("*")).alias("avg_tokens"),
    )


@register(
    "text_stopword_discovery",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(string_split(lower(text), ' '))) AS w
      FROM documents
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT w, count(*) AS df,
           CAST(count(*) AS DOUBLE) / any_value(n.n_docs) AS df_ratio
    FROM tok CROSS JOIN n
    GROUP BY w
    HAVING CAST(count(*) AS DOUBLE) / any_value(n.n_docs) > 0.5
    """,
)
def text_stopword_discovery(spark, sf_dir):
    """Corpus-driven stopword discovery: tokens present in more than half
    of all documents (document frequency ratio > 0.5).  Corpus-specific
    stopword lists beat fixed ones for cleaning scraped data — boilerplate
    tokens differ per source.  df counts are exact ints; the ratio is one
    IEEE division.  One explode + one aggregate; the doc count joins as a
    broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("w"),
    ).distinct()
    return (
        tok.crossJoin(F.broadcast(n))
        .groupBy("w")
        .agg(
            F.count("*").alias("df"),
            (F.count("*").cast("double") / F.first("n_docs")).alias(
                "df_ratio"
            ),
        )
        .filter(F.col("df_ratio") > 0.5)
    )


@register(
    "text_pii_scrub",
    oracle="""
    WITH raw AS (
      SELECT c_custkey,
             'Contact ' || c_name || ' at '
               || lower(replace(c_name, ' ', '.')) || '@example.com or +1-555-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS txt
      FROM customer
    )
    SELECT c_custkey,
           regexp_extract(txt, '([a-z0-9.#]+@[a-z0-9.-]+)', 1) AS email_found,
           regexp_extract(txt, '([+][0-9-]{4,})', 1) AS phone_found,
           regexp_replace(
             regexp_replace(txt, '[a-z0-9.#]+@[a-z0-9.-]+', '[EMAIL]', 'g'),
             '[+][0-9-]{4,}', '[PHONE]', 'g') AS scrubbed
    FROM raw
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction: find email/phone spans and replace them
    with type tags — the compliance pass every LLM training pipeline runs
    before tokenization.  The PII here is synthesized onto customer rows
    (fixtures carry none), which also makes the expected redactions exact.
    RE2-safe patterns shared verbatim with the oracle ('#' appears inside
    fixture customer names, hence its presence in the local-part class);
    map-only at any scale — this is the shape where Spark's codegen'd
    regexp_replace beats a Python UDF ~100x."""
    c = load_table(spark, sf_dir, "customer")
    txt = F.concat(
        F.lit("Contact "),
        F.col("c_name"),
        F.lit(" at "),
        F.lower(F.regexp_replace("c_name", " ", ".")),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    raw = c.select("c_custkey", txt.alias("txt"))
    return raw.select(
        "c_custkey",
        F.regexp_extract("txt", r"([a-z0-9.#]+@[a-z0-9.-]+)", 1).alias(
            "email_found"
        ),
        F.regexp_extract("txt", r"([+][0-9-]{4,})", 1).alias("phone_found"),
        F.regexp_replace(
            F.regexp_replace("txt", r"[a-z0-9.#]+@[a-z0-9.-]+", "[EMAIL]"),
            r"[+][0-9-]{4,}",
            "[PHONE]",
        ).alias("scrubbed"),
    )


@register(
    "er_name_match",
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def er_name_match(spark, sf_dir):
    """Entity-resolution fuzzy matching: duplicate-customer pairs by edit
    distance <= 2 within the same nation — the record-linkage primitive
    under customer/master-data dedup.

    COST-BASED candidate route (r12, prompted by the full-suite
    perturbed campaign): two lossless candidate generators exist, and
    which one is smaller depends on the NAME DISTRIBUTION, so the op
    counts both (two tiny aggregates over already-needed intermediates)
    and takes the smaller —

    - BLOCK path: equi-join on the nation blocking key, candidates
      Σ_nk C(n_nk, 2).  Wins on LOW-ENTROPY name spaces (the fixture's
      fixed-format "Customer#<digits>": only ~1k distinct 3-grams
      exist, so no gram is rare and prefix groups approach block
      sizes — measured 17.2M prefix candidates vs 4.5M block
      candidates at perturbed sf0.1).  With |nations| blocking keys a
      shuffle join caps at 25 tasks, so the probe side broadcasts
      (size-gated) and the outer side repartitions.
    - PREFIX path: Ed-Join positional q-gram prefix filter (Xiao et
      al., WWW 2008 — the edit-distance sibling of the Jaccard
      token-prefix filter): tau edits destroy at most tau*q positional
      q-grams, so two names within tau share a q-gram at positions
      within +-tau among each one's (tau*q + 1) RAREST grams under one
      global frequency order.  Wins on high-entropy names, where
      nation blocks grow quadratically with the corpus but rare-gram
      groups stay small.

    Both are LOSSLESS (verified against brute force with ins/del/sub
    edits in tests/test_properties.py; oracle-checked either way), and
    verification runs MAP-SIDE before the one distinct exchange, so
    only true pairs (x a bounded gram-collision duplication) shuffle.
    Names too short for a q-gram (< q chars) pair within nation
    against names of length <= q-1+tau — a bounded set — on the
    prefix path.  The route decision runs two small aggregate jobs on
    the FIRST build over a given customer file and plans job-free from
    the io.stats_memo catalog thereafter (r12 verdict item 5)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.length("c_name").alias("ln"),
    )
    return _er_name_pairs(
        c,
        freq_hint_bytes=table_file_bytes(sf_dir, "customer") * 8,
        stats_key=f"er_gate_v1_{table_fingerprint(sf_dir, 'customer')}",
    )


def _er_name_pairs(
    c,
    freq_hint_bytes: int = 0,
    force_path: str | None = None,
    stats_key: str | None = None,
):
    """er_name_match body over an explicit (cust, name, nk, ln) table;
    ``force_path`` ("block" | "block_collapsed" | "prefix") pins a route
    for tests.  ``stats_key`` (a content fingerprint of the input) lets
    the cost gate read its three candidate counts from the io.stats_memo
    catalog instead of re-running the gate aggregates on every build;
    direct test callers over synthetic frames pass None and stay eager.

    Three lossless routes, cost-gated (r12 verdict item 1):

    * ``prefix`` — Ed-Join positional rare-gram prefix filter; wins on
      high-entropy names.
    * ``block`` — within-nation pair join; wins when nation blocks are
      small.  Carries the FREE length band ``|ln_a − ln_b| ≤ tau``
      (edit distance ≥ length difference) so codegen short-circuits
      before the O(L²) levenshtein — the prune the prefix path always
      had.
    * ``block_collapsed`` — the degenerate LOW-entropy regime (replica-
      heavy name spaces, where both other routes go quadratic in ROWS):
      collapse identical names to one representative per (nation, name),
      run the banded levenshtein over DISTINCT names only (candidates
      become distinct-names², not rows²), then re-expand to id pairs by
      two equi-joins (each replica pair is emitted by join arithmetic,
      never scored again) plus the exact-duplicate pairs (edit 0) from a
      (nation, name) self-join that only duplicate groups survive.
    """
    TAU, Q = 2, 3
    PFX = TAU * Q + 1
    long_names = c.filter(F.col("ln") >= Q)
    grams = long_names.select(
        "cust",
        "name",
        "nk",
        "ln",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(name) - {Q - 1}),"
                f" p -> struct(p AS pos, substring(name, p, {Q}) AS gram))"
            )
        ).alias("g"),
    ).select("cust", "name", "nk", "ln", "g.pos", "g.gram")
    freq = grams.groupBy("gram").agg(F.count("*").alias("freq"))
    # q-gram vocab is corpus-derived: gated hint (io.hint_if rule)
    path = force_path
    if path is None:

        def _gate_stats() -> dict:
            # conservative proxy for the prefix path's candidate volume:
            # pairs over FULL gram posting lists, Σ_g C(freq_g, 2) —
            # needs only the freq aggregate (no window/self-join),
            # overestimates the prefix-restricted volume by a bounded
            # factor, so the gate errs toward the block path only near
            # the boundary; both routes are lossless, so the decision is
            # cost-only
            n_pfx = (
                freq.agg(
                    F.sum(F.col("freq") * (F.col("freq") - 1) / 2).alias("s")
                ).first()["s"]
                or 0
            )
            blk = (
                c.groupBy("nk")
                .agg(
                    F.count("*").alias("k"),
                    # the gate is cost-only (all three routes are
                    # lossless), so an HLL estimate of distinct names is
                    # enough — exact count_distinct would pay an expand
                    # + second shuffle in a job that exists only to pick
                    # a plan
                    F.approx_count_distinct("name").alias("d"),
                )
                .agg(
                    F.sum(F.col("k") * (F.col("k") - 1) / 2).alias("sk"),
                    # clamp: the HLL estimate can exceed the group's row
                    # count on near-unique groups; d > k would overstate
                    # the collapsed cost past the plain block cost it
                    # can never actually have
                    F.sum(
                        F.least("d", "k") * (F.least("d", "k") - 1) / 2
                    ).alias("sd"),
                )
                .first()
            )
            return {
                "n_prefix_cand": n_pfx,
                "n_block_cand": blk["sk"] or 0,
                "sum_distinct_pairs": blk["sd"] or 0,
            }

        gs = stats_memo(stats_key, _gate_stats) if stats_key else _gate_stats()
        n_prefix_cand = gs["n_prefix_cand"]
        n_block_cand = gs["n_block_cand"]
        # collapsed route scores DISTINCT-name pairs only; the ×2 charges
        # its two expansion equi-joins, so on duplicate-free inputs
        # (sd == sk) the plain block plan is kept bit-identical
        collapsed_cost = 2 * gs["sum_distinct_pairs"]
        if n_prefix_cand < min(n_block_cand, collapsed_cost):
            path = "prefix"
        elif n_block_cand <= collapsed_cost:
            path = "block"
        else:
            path = "block_collapsed"

    if path == "block":
        a = c.select(
            F.col("cust").alias("cust_a"),
            F.col("name").alias("name_a"),
            F.col("nk").alias("nk_a"),
            F.col("ln").alias("ln_a"),
        ).repartition(spread_width(c.sparkSession, 2))
        b = c.select(
            F.col("cust").alias("cust_b"),
            F.col("name").alias("name_b"),
            F.col("nk").alias("nk_b"),
            F.col("ln").alias("ln_b"),
        )
        return (
            a.join(
                hint_if(b, freq_hint_bytes),
                # the length band is FREE and lossless (edit distance >=
                # length difference): codegen evaluates it before the
                # O(L^2) levenshtein, so band-rejected pairs never pay it
                (F.col("nk_a") == F.col("nk_b"))
                & (F.col("cust_a") < F.col("cust_b"))
                & (F.abs(F.col("ln_a") - F.col("ln_b")) <= TAU),
            )
            .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("edit_dist") <= TAU)
            .select("cust_a", "cust_b", "edit_dist")
        )

    if path == "block_collapsed":
        dn = c.select("nk", "name", "ln").distinct()
        da = dn.select(
            F.col("nk").alias("nk_a"),
            F.col("name").alias("name_a"),
            F.col("ln").alias("ln_a"),
        ).repartition(spread_width(dn.sparkSession, 2))
        db = dn.select(
            F.col("nk").alias("nk_b"),
            F.col("name").alias("name_b"),
            F.col("ln").alias("ln_b"),
        )
        # levenshtein runs ONCE per distinct unordered name pair (ordered
        # lexically, so no post-hoc dedup); replicas never reach it
        name_pairs = (
            da.join(
                hint_if(db, freq_hint_bytes),
                (F.col("nk_a") == F.col("nk_b"))
                & (F.col("name_a") < F.col("name_b"))
                & (F.abs(F.col("ln_a") - F.col("ln_b")) <= TAU),
            )
            .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("edit_dist") <= TAU)
            .select(
                F.col("nk_a").alias("nk"), "name_a", "name_b", "edit_dist"
            )
        )
        ids = c.select("nk", "name", "cust")
        # expansion is join arithmetic: every (id of name_a) x (id of
        # name_b) replica pair materializes here, output-bound by
        # construction — the true-pair volume, nothing extra.  name_a !=
        # name_b guarantees distinct ids; orientation is re-fixed on id.
        expanded = (
            name_pairs.join(
                ids.select(
                    "nk",
                    F.col("name").alias("name_a"),
                    F.col("cust").alias("ca"),
                ),
                ["nk", "name_a"],
            )
            .join(
                ids.select(
                    "nk",
                    F.col("name").alias("name_b"),
                    F.col("cust").alias("cb"),
                ),
                ["nk", "name_b"],
            )
            .select(
                F.least("ca", "cb").alias("cust_a"),
                F.greatest("ca", "cb").alias("cust_b"),
                "edit_dist",
            )
        )
        # exact replicas (edit 0): the (nk, name) self-join matches only
        # within duplicate groups — unique names contribute zero pairs
        same = (
            ids.select(
                "nk", "name", F.col("cust").alias("ca")
            )
            .join(
                ids.select("nk", "name", F.col("cust").alias("cb")),
                ["nk", "name"],
            )
            .filter(F.col("ca") < F.col("cb"))
            .select(
                F.col("ca").alias("cust_a"),
                F.col("cb").alias("cust_b"),
                F.lit(0).cast("int").alias("edit_dist"),
            )
        )
        return expanded.unionByName(same)

    ranked = grams.join(hint_if(freq, freq_hint_bytes), "gram").withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("cust").orderBy("freq", "gram", "pos")
        ),
    )
    prefix = ranked.filter(F.col("r") <= PFX)
    pa = prefix.select(
        F.col("cust").alias("cust_a"),
        F.col("name").alias("name_a"),
        F.col("nk").alias("nk_a"),
        F.col("ln").alias("ln_a"),
        F.col("pos").alias("pos_a"),
        "gram",
    )
    pb = prefix.select(
        F.col("cust").alias("cust_b"),
        F.col("name").alias("name_b"),
        F.col("nk").alias("nk_b"),
        F.col("ln").alias("ln_b"),
        F.col("pos").alias("pos_b"),
        F.col("gram").alias("gram_b"),
    )
    # verify MAP-SIDE before any dedup shuffle: a pair can collide on up
    # to PFX grams, but shipping those duplicates into a distinct would
    # shuffle the full candidate volume — the exact anti-pattern the
    # minhash-banded rescore documents.
    cand = pa.join(
        pb,
        (F.col("gram") == F.col("gram_b"))
        & (F.col("nk_a") == F.col("nk_b"))
        & (F.col("cust_a") < F.col("cust_b"))
        & (F.abs(F.col("pos_a") - F.col("pos_b")) <= TAU)
        & (F.abs(F.col("ln_a") - F.col("ln_b")) <= TAU),
    ).select("cust_a", "name_a", "cust_b", "name_b")
    # names shorter than q: no q-grams to filter on — pair the (bounded)
    # short set within nation against names of length <= q-1+tau
    short = c.filter(F.col("ln") < Q)
    short_cand = (
        short.select(
            F.col("cust").alias("cust_x"),
            F.col("name").alias("name_x"),
            F.col("nk").alias("nk_x"),
        )
        .join(
            c.filter(F.col("ln") <= Q - 1 + TAU).select(
                F.col("cust").alias("cust_y"),
                F.col("name").alias("name_y"),
                F.col("nk").alias("nk_y"),
            ),
            (F.col("nk_x") == F.col("nk_y"))
            & (F.col("cust_x") != F.col("cust_y")),
        )
        # the short record may hold EITHER side of the ordered pair
        .select(
            F.least("cust_x", "cust_y").alias("cust_a"),
            F.when(F.col("cust_x") < F.col("cust_y"), F.col("name_x"))
            .otherwise(F.col("name_y"))
            .alias("name_a"),
            F.greatest("cust_x", "cust_y").alias("cust_b"),
            F.when(F.col("cust_x") < F.col("cust_y"), F.col("name_y"))
            .otherwise(F.col("name_x"))
            .alias("name_b"),
        )
    )
    return (
        cand.unionByName(short_cand)
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= TAU)
        .select("cust_a", "cust_b", "edit_dist")
        .distinct()
    )


@register("text_compression_ratio")  # rows-only: no zlib in the oracle
def text_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal: zlib-compressed size over raw
    size per document — the classic cheap filter for boilerplate and
    gibberish (highly repetitive text compresses far below natural
    language; random noise barely compresses).  Arrow-batched
    mapInPandas, deterministic (zlib level pinned), byte-exact gate vs
    the Python zlib in tests.  Map-only at any scale — this is the shape
    of every per-document scoring pass in a training-data pipeline."""
    import zlib

    import pandas as pd

    def score(batches):
        for pdf in batches:
            if len(pdf):
                raw = pdf["text"].str.encode("utf-8")
                comp = raw.map(lambda b: len(zlib.compress(b, 6)))
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_raw": raw.map(len),
                        "n_comp": comp,
                        "ratio": comp / raw.map(len),
                    }
                )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        score, "doc_id long, n_raw long, n_comp long, ratio double"
    )


@register(
    "text_unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ), tok2 AS (SELECT doc_id, w FROM tok WHERE w != ''),
    freq AS (
      SELECT w, count(*) AS c FROM tok2 GROUP BY w
    ), tot AS (SELECT sum(c) AS t FROM freq),
    surp AS (
      SELECT w, CAST(CAST(-ln(CAST(c AS DOUBLE) / t) AS DECIMAL(18,6))
                     AS DECIMAL(18,6)) AS s
      FROM freq CROSS JOIN tot
    )
    SELECT t2.doc_id,
           count(*) AS n_tokens,
           CAST(SUM(surp.s) AS DOUBLE) AS total_surprisal,
           CAST(SUM(surp.s) AS DOUBLE) / count(*) AS avg_surprisal
    FROM tok2 t2 JOIN surp ON t2.w = surp.w
    GROUP BY t2.doc_id
    """,
)
def text_unigram_surprisal(spark, sf_dir):
    """Unigram language-model surprisal per document: -ln p(w) summed over
    tokens — the cheap proxy for LM-based quality filtering (documents of
    very low average surprisal are repetitive boilerplate; very high are
    gibberish).  Determinism trick: ln() differs by 1 ulp across libm
    implementations, so each DISTINCT token's surprisal is rounded once
    through DECIMAL(18,6) (safe margin, same as fn_math's ln), and the
    per-document total is then an EXACT decimal sum — order-free, unlike
    summing raw doubles.  The surprisal table is vocabulary-sized and
    broadcasts; one token-explode shuffle does the rest."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs).drop("pos")
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    surp = (
        freq.crossJoin(F.broadcast(tot))
        .withColumn(
            "s",
            (-F.log(F.col("c").cast("double") / F.col("t")))
            .cast("decimal(18,6)"),
        )
        .select("w", "s")
    )
    return (
        tok.join(hint_if(surp, table_file_bytes(sf_dir, "documents") * 8), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("s").cast("double").alias("total_surprisal"),
            (F.sum("s").cast("double") / F.count("*")).alias("avg_surprisal"),
        )
    )


@register(
    "pipeline_decontam",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({_SQL_TOKS}) AS w,
             unnest(generate_series(1, len({_SQL_TOKS}))) AS pos
      FROM documents
    ), tokf AS (SELECT * FROM tok WHERE w != ''),
    sh AS (
      SELECT doc_id,
             concat_ws(' ', w,
                       lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                       lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos),
                       lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos)) AS g,
             lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w4
      FROM tokf
    ), grams AS (
      SELECT DISTINCT doc_id, g FROM sh WHERE w4 IS NOT NULL
    ), bench AS (SELECT * FROM grams WHERE doc_id % 41 = 0),
       train AS (SELECT * FROM grams WHERE doc_id % 41 != 0)
    SELECT t.doc_id,
           count(DISTINCT t.g) AS n_shingles_hit,
           count(DISTINCT b.doc_id) AS n_bench_docs
    FROM train t JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    """,
)
def pipeline_decontam(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any word
    4-gram with a held-out eval set (here: ``doc_id % 41 == 0`` as the
    deterministic stand-in benchmark) — the standard pre-training hygiene
    pass that keeps test questions out of the training corpus.

    Scale design: the benchmark side is SMALL by construction (eval suites
    are thousands-to-millions of shingles vs 10^10 training docs), so the
    candidate join is a **broadcast** equi-join on the shingle string — the
    10^10-row training side never shuffles.  Shingles are distinct-ed per
    doc before the join, so fan-out per training doc is bounded by its
    unique-shingle count, and the per-doc aggregate is a partial-agg
    count-distinct keyed on doc_id.  4-gram windows come from 3 ``lead()``s
    (the shingle width is the usual decontamination dial: real pipelines
    run 8-13-gram windows on natural text; 4 matches this fixture's
    ~30-word vocabulary so the op is selective but non-degenerate)
    over the token stream (same posexplode scan text_ngram uses) — no
    per-doc arrays are materialized."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("doc_id").orderBy("pos")
    sh = _tokens(docs).select(
        "doc_id",
        F.concat_ws(
            " ",
            "w",
            F.lead("w", 1).over(w),
            F.lead("w", 2).over(w),
            F.lead("w", 3).over(w),
        ).alias("g"),
        F.lead("w", 3).over(w).alias("w4"),
    )
    grams = sh.filter(F.col("w4").isNotNull()).select("doc_id", "g").distinct()
    bench = grams.filter(F.col("doc_id") % 41 == 0).withColumnRenamed(
        "doc_id", "bench_doc"
    )
    train = grams.filter(F.col("doc_id") % 41 != 0)
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shingles_hit"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({_SQL_TOKS}) AS w,
             unnest(generate_series(1, len({_SQL_TOKS}))) AS pos
      FROM documents
    ), tokf AS (SELECT * FROM tok WHERE w != ''),
    wc AS (
      SELECT doc_id, w, count(*) AS c FROM tokf GROUP BY doc_id, w
    ), words AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_cnt
      FROM wc GROUP BY doc_id
    ), bi AS (
      SELECT doc_id,
             concat(w, ' ', lead(w) OVER (PARTITION BY doc_id ORDER BY pos))
               AS g,
             lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nw
      FROM tokf
    ), bis AS (
      SELECT doc_id, count(*) AS total_bi, count(DISTINCT g) AS uniq_bi
      FROM bi WHERE nw IS NOT NULL GROUP BY doc_id
    )
    SELECT words.doc_id, n_tokens,
           CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS top_word_frac,
           CAST(total_bi - uniq_bi AS DOUBLE) / CAST(total_bi AS DOUBLE)
             AS dup_bigram_frac,
           (CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.2
            OR CAST(total_bi - uniq_bi AS DOUBLE) / CAST(total_bi AS DOUBLE)
               > 0.3) AS repetitive
    FROM words JOIN bis ON words.doc_id = bis.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals per document: most-frequent-word mass
    fraction and duplicated-bigram occurrence fraction, plus the boolean
    quality gate — the repetitive-boilerplate filter every pre-training
    cleaning recipe applies (Rae et al. 2021 §A.1.1 thresholds, adapted to
    the fixture's scale).

    Determinism: both fractions are ONE IEEE division of exact integers
    (counts), so the doubles — and the threshold booleans derived from them
    — are bit-identical across engines.  Plan: one token-explode scan feeds
    both signals; word counts shuffle on (doc_id, w) with map-side partial
    aggregation, bigrams ride the same per-doc window text_ngram uses, and
    the two per-doc profiles meet in a doc_id-keyed join (AQE coalesces;
    both sides are |docs|-sized, far below the token stream)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    wc = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    words = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.max("c").alias("top_cnt")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bi = tok.select(
        "doc_id",
        F.concat_ws(" ", "w", F.lead("w").over(w)).alias("g"),
        F.lead("w").over(w).alias("nw"),
    )
    bis = (
        bi.filter(F.col("nw").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_bi"),
            F.countDistinct("g").alias("uniq_bi"),
        )
    )
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens").cast("double")
    dup_frac = (F.col("total_bi") - F.col("uniq_bi")).cast("double") / F.col(
        "total_bi"
    ).cast("double")
    return words.join(bis, "doc_id").select(
        "doc_id",
        "n_tokens",
        top_frac.alias("top_word_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac > 0.2) | (dup_frac > 0.3)).alias("repetitive"),
    )


@register(
    "pipeline_mixture_weights",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks,
             COUNT(*) AS n_docs
      FROM documents GROUP BY source
    ), tot AS (
      SELECT COUNT(*) AS n_sources, CAST(SUM(toks) AS BIGINT) AS all_toks
      FROM tok
    )
    SELECT source, n_docs, toks,
           CAST(all_toks AS DOUBLE) / n_sources AS budget_tokens,
           LEAST(4.0, (CAST(all_toks AS DOUBLE) / n_sources) / toks) AS epochs,
           LEAST(4.0, (CAST(all_toks AS DOUBLE) / n_sources) / toks) * toks
             AS effective_tokens
    FROM tok CROSS JOIN tot
    """,
)
def pipeline_mixture_weights(spark, sf_dir):
    """Training-mixture planning: per-source epoch counts that equalize
    token contributions under an oversampling cap — the data-recipe step
    (Pile/LLaMA-style mixture tables) between corpus stats and sampling.

    Each source's budget is an equal share of the corpus total; a source
    smaller than its budget is up-sampled by repeating epochs, CAPPED at
    4 passes (published recipes bound repetition because loss degrades on
    many-epoch data), and a larger source is down-sampled (epochs < 1 —
    exactly the fraction `sample_temperature`-style Bernoulli sampling
    then realizes).  All inputs are exact integer token counts; the
    epoch/budget math is a fixed per-row float sequence over a handful of
    source rows — the heavy work is one partial-agg token count, map-only
    over the corpus at any scale."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks"),
        F.count("*").alias("n_docs"),
    )
    tot = tok.agg(
        F.count("*").alias("n_sources"), F.sum("toks").cast("long").alias("all_toks")
    )
    budget = F.col("all_toks").cast("double") / F.col("n_sources")
    epochs = F.least(F.lit(4.0), budget / F.col("toks"))
    return tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "toks",
        budget.alias("budget_tokens"),
        epochs.alias("epochs"),
        (epochs * F.col("toks")).alias("effective_tokens"),
    )


@register(
    "text_source_entropy",
    oracle="""
    WITH c AS (
      SELECT lang, source, count(*) AS c
      FROM documents GROUP BY lang, source
    ), e AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_sources,
             sum(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,6)) * c) AS s
      FROM c GROUP BY lang
    )
    SELECT lang, n_docs, n_sources,
           CAST(CAST(ln(CAST(n_docs AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
           - CAST(s AS DOUBLE) / n_docs AS entropy
    FROM e
    """,
)
def text_source_entropy(spark, sf_dir):
    """Shannon entropy of the source mix per language — the corpus-
    diversity gauge a data-mixing pipeline watches (entropy collapsing
    toward 0 means one source dominates a language; ln(n_sources) means a
    uniform mix).  Uses the one-pass identity
    H = ln(N) - (1/N) * SUM(c * ln c) so no per-source probability column
    (and no second shuffle or self-join) is ever materialized.

    Determinism: ln() differs by 1 ulp across libm implementations, so
    each count's ln goes through DECIMAL(18,6) once (the
    text_unigram_surprisal trick); c * ln(c) and its sum are then exact
    decimals, and the final expression is two IEEE ops on identical
    inputs.  Plan: partial-agg count per (lang, source), re-agg per lang —
    both map-side combinable; at 100 TB this moves one row per
    (lang, source) pair, never a document."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("c"))
    e = c.groupBy("lang").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_sources"),
        F.sum(
            F.log(F.col("c").cast("double")).cast("decimal(18,6)") * F.col("c")
        ).alias("s"),
    )
    return e.select(
        "lang",
        "n_docs",
        "n_sources",
        (
            F.log(F.col("n_docs").cast("double")).cast("decimal(18,6)").cast("double")
            - F.col("s").cast("double") / F.col("n_docs")
        ).alias("entropy"),
    )


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({_SQL_TOKS}) AS w,
             unnest(generate_series(1, len({_SQL_TOKS}))) AS pos
      FROM documents
    ), tok2 AS (SELECT doc_id, w, pos FROM tok WHERE w != ''),
    bi AS (
      SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok2
    ), big AS (
      SELECT w1, w2, count(*) AS c12 FROM bi WHERE w2 IS NOT NULL
      GROUP BY w1, w2
    ), uni AS (
      SELECT w, count(*) AS c FROM tok2 GROUP BY w
    ), tot AS (
      SELECT (SELECT sum(c) FROM uni) AS u, (SELECT sum(c12) FROM big) AS b
    )
    SELECT g.w1, g.w2, g.c12,
           CAST(CAST(ln(CAST(g.c12 AS DOUBLE)) AS DECIMAL(18,6))
                + 2 * CAST(ln(CAST(t.u AS DOUBLE)) AS DECIMAL(18,6))
                - CAST(ln(CAST(t.b AS DOUBLE)) AS DECIMAL(18,6))
                - CAST(ln(CAST(u1.c AS DOUBLE)) AS DECIMAL(18,6))
                - CAST(ln(CAST(u2.c AS DOUBLE)) AS DECIMAL(18,6))
                AS DOUBLE) AS pmi
    FROM big g
    JOIN uni u1 ON g.w1 = u1.w
    JOIN uni u2 ON g.w2 = u2.w
    CROSS JOIN tot t
    WHERE g.c12 >= 5
    """,
)
def text_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation mining: bigrams whose
    co-occurrence beats chance, PMI = ln(p12 / (p1 p2)) expanded to the
    all-integer form ln c12 + 2 ln U − ln B − ln c1 − ln c2 (U, B = total
    unigram/bigram mass).  The phrase-discovery primitive a tokenizer-
    training or stopword pipeline runs upstream of BPE.

    Determinism: every ln is rounded once through DECIMAL(18,6) (the
    surprisal trick), the five terms combine in exact decimal arithmetic,
    and one final cast emits the double — no float accumulation anywhere.
    Plan: one token-explode shuffle produces both the bigram and unigram
    counts; the unigram table is vocab-sized and joins back twice (w1, w2)
    as broadcasts; totals are 1-row broadcast scalars.  The c12 >= 5
    support floor bounds the output to genuinely recurring pairs, so at
    100 TB the only corpus-sized stage is the token explode itself."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("doc_id").orderBy("pos")
    tok = _tokens(docs)
    bi = tok.withColumn("w2", F.lead("w").over(w)).filter(
        F.col("w2").isNotNull()
    )
    big = bi.groupBy(F.col("w").alias("w1"), "w2").agg(
        F.count("*").alias("c12")
    ).filter(F.col("c12") >= 5)
    uni = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = uni.agg(F.sum("c").alias("u")).crossJoin(
        bi.groupBy().count().withColumnRenamed("count", "b")
    )

    def d6(col):
        return F.log(col.cast("double")).cast("decimal(18,6)")

    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(hint_if(u1, table_file_bytes(sf_dir, "documents") * 8), "w1")
        .join(hint_if(u2, table_file_bytes(sf_dir, "documents") * 8), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            (
                d6(F.col("c12"))
                + F.lit(2) * d6(F.col("u"))
                - d6(F.col("b"))
                - d6(F.col("c1"))
                - d6(F.col("c2"))
            )
            .cast("double")
            .alias("pmi"),
        )
    )


@register(
    "pipeline_quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                  AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks,
                  x -> x IN ('the','a','of','and','to','in','is')))
                  AS BIGINT) AS stop_cnt
      FROM t
    ), r AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words < 10 THEN 'too_short'
                  WHEN n_words > 5000 THEN 'too_long'
                  WHEN sum_len < 2 * n_words OR sum_len > 12 * n_words
                    THEN 'word_len'
                  WHEN stop_cnt * 50 < n_words THEN 'no_stopwords'
             END AS fail_reason
      FROM m
    )
    SELECT doc_id, n_words, fail_reason, fail_reason IS NULL AS keep
    FROM r
    """,
)
def pipeline_quality_filter(spark, sf_dir):
    """Gopher-style rule-based quality filter: per document, length bounds,
    mean-word-length band, and minimum stopword density, reported as a
    keep flag plus the FIRST failing rule (the audit trail a corpus
    curation pipeline keeps for filter-rate dashboards).

    Zero-shuffle by construction: every rule evaluates on the token array
    with Catalyst higher-order functions (filter/aggregate) — no explode,
    no groupBy, a pure narrow map over documents, which is exactly what a
    100 TB filter pass must be.  Determinism: all thresholds compare
    integers (mean-word-length bounds become ``2*n <= sum_len <= 12*n``,
    density becomes ``stop_cnt*50 >= n``), so no float ever reaches a
    predicate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(_TOKS(), lambda x: x != "")
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
        .cast("long")
        .alias("sum_len"),
        F.size(
            F.filter(
                toks,
                lambda x: x.isin("the", "a", "of", "and", "to", "in", "is"),
            )
        )
        .cast("long")
        .alias("stop_cnt"),
    )
    r = m.select(
        "doc_id",
        "n_words",
        F.when(F.col("n_words") < 10, "too_short")
        .when(F.col("n_words") > 5000, "too_long")
        .when(
            (F.col("sum_len") < 2 * F.col("n_words"))
            | (F.col("sum_len") > 12 * F.col("n_words")),
            "word_len",
        )
        .when(F.col("stop_cnt") * 50 < F.col("n_words"), "no_stopwords")
        .alias("fail_reason"),
    )
    return r.withColumn("keep", F.col("fail_reason").isNull())


@register(
    "text_bigram_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS w,
             unnest(generate_series(1, len({_SQL_TOKS}))) AS pos
      FROM documents
    ), tokf AS (SELECT * FROM tok WHERE w != ''),
    bg AS (
      SELECT doc_id,
             w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      FROM tokf
    ), bgf AS (SELECT doc_id, b FROM bg WHERE b IS NOT NULL),
    freq AS (SELECT b, count(*) AS c FROM bgf GROUP BY b),
    tot AS (SELECT sum(c) AS t FROM freq),
    surp AS (
      SELECT b, CAST(-ln(CAST(c AS DOUBLE) / t) AS DECIMAL(18,6)) AS s
      FROM freq CROSS JOIN tot
    )
    SELECT g.doc_id, count(*) AS n_bigrams,
           CAST(SUM(surp.s) AS DOUBLE) AS total_surprisal,
           CAST(SUM(surp.s) AS DOUBLE) / count(*) AS avg_surprisal
    FROM bgf g JOIN surp ON g.b = surp.b
    GROUP BY g.doc_id
    """,
)
def text_bigram_surprisal(spark, sf_dir):
    """Bigram language-model surprisal per document — the second-order
    upgrade of text_unigram_surprisal: -ln p(bigram) under corpus bigram
    frequencies, summed and averaged per document.  High average bigram
    surprisal flags incoherent word-order (gibberish that unigram stats
    miss); low flags boilerplate.

    Same determinism contract as the unigram op: each DISTINCT bigram's
    surprisal rounds once through DECIMAL(18,6) (ln differs by 1 ulp
    across libm builds), per-document totals are exact decimal sums.  One
    doc_id-keyed window shuffle forms bigrams, the frequency table is
    vocabulary²-bounded-by-corpus and broadcasts back onto the stream.
    The frequency aggregate keys on the raw bigram STRING: a 16 B hash
    surrogate measured 1.0x the shuffle bytes at sf1 (bigrams are ~13 B),
    tools/scaleup_r10_surrogate.json at commit e0718c1."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    wspec = W.partitionBy("doc_id").orderBy("pos")
    bgf = (
        tok.select(
            "doc_id",
            F.concat(F.col("w"), F.lit(" "), F.lead("w").over(wspec)).alias(
                "b"
            ),
        )
        .filter(F.col("b").isNotNull())
    )
    freq = bgf.groupBy("b").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    surp = (
        freq.crossJoin(F.broadcast(tot))
        .withColumn(
            "s",
            (-F.log(F.col("c").cast("double") / F.col("t")))
            .cast("decimal(18,6)"),
        )
        .select("b", "s")
    )
    return (
        bgf.join(hint_if(surp, table_file_bytes(sf_dir, "documents") * 8), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("s").cast("double").alias("total_surprisal"),
            (F.sum("s").cast("double") / F.count("*")).alias("avg_surprisal"),
        )
    )


@register(
    "text_unicode_clean",
    oracle="""
    WITH cleaned AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS c
      FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS orig_len,
           CAST(length(c) AS BIGINT) AS clean_len,
           CAST(length(text) - length(c) AS BIGINT) AS n_removed,
           CAST('0x' || substring(md5(c), 1, 12) AS BIGINT) AS clean_hash
    FROM cleaned
    """,
)
def text_unicode_clean(spark, sf_dir):
    """Text-normalization kernel: lowercase → map every non-[a-z0-9 ]
    byte to space → collapse space runs → trim, with change accounting
    (chars removed) and a content hash of the cleaned form — the
    canonicalization pass that fronts every dedup/tokenize stage of a
    training-data pipeline (dedup_normalized consumes exactly this kind
    of canon text; this op IS the kernel, exposed with its audit trail).
    Patterns stay inside the Java-regex ∩ RE2 common subset (explicit
    ASCII classes, no \\s, no POSIX classes) so Spark and the DuckDB
    oracle — which needs the 'g' flag for global replace — agree
    byte-for-byte; the hash is the md5-prefix integer canon (canon.py
    md5_int), so the driver compares VALUES of the cleaned text without
    hauling it.

    100 TB: zero shuffles — three regexp maps and a length projection,
    one whole-stage-codegen span over the scan; this is the shape where
    Catalyst's JVM string kernels beat a Python UDF ~50×, and the Arrow
    mapInPandas alternative only wins once the transform needs a real
    Unicode library (NFKC, confusables) — documented boundary, same
    plumbing as mm_image_pipeline."""
    from ..canon import md5_int

    d = load_table(spark, sf_dir, "documents")
    c = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("orig_len"),
        c.alias("c"),
    ).select(
        "doc_id",
        "orig_len",
        F.length("c").cast("long").alias("clean_len"),
        (F.col("orig_len") - F.length("c")).cast("long").alias("n_removed"),
        md5_int(F.col("c"), 12).alias("clean_hash"),
    )
