"""§2.1 Sources / sinks.

Reference parity: the reference ingests CSV via ``sc.textFile`` + header
filter + ``split(',')`` (upstream:engine.py § __init__, ~15 LoC) and creates
inline RDDs with ``sc.parallelize`` (§ add_ratings).  Ours are schema'd
DataSource reads — columnar, predicate-pushdown-capable, and identical on a
1000-executor cluster (file listing + splits are distributed).

Round-trip operators (scan_csv / scan_jsonl / scan_orc / sink_parquet)
materialize fixture data under ``.artifacts/`` inside the repo, re-read it
through the format under test, and oracle-check against the original parquet
views — proving the full write+read path, not just the read.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T

from ..canon import md5_int, r4, sql_md5_int
from ..io import ART_ROOT as ART, load_table, sf_key, stage
from ..registry import register


@register(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ship_epoch
    FROM lineitem
    """,
)
def scan_parquet(spark, sf_dir):
    """Full-table parquet scan with explicit schema binding.

    Timestamps are emitted as epoch seconds (canon rule Q3) so the hash is
    engine-neutral; everything else is the raw column set.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_shipdate").cast("timestamp").cast("double"))
        .cast("long")
        .alias("ship_epoch"),
    )


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@register("scan_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv(spark, sf_dir):
    """CSV round-trip: write nation as headered CSV, read with explicit schema.

    This is the reference's only ingest path (textFile + header skip + split)
    re-expressed as a schema'd reader: no inference job, header skipped by the
    datasource, splits distributed.
    """
    path = f"{ART}/scan_csv_nation"
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return spark.read.csv(path, header=True, schema=_NATION_SCHEMA)


_EVENTS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@register(
    "scan_jsonl",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
)
def scan_jsonl(spark, sf_dir):
    """JSON-lines round-trip with explicit schema (no inference pass)."""
    path = f"{ART}/scan_jsonl_events"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.mode("overwrite").json(path)
    df = spark.read.json(path, schema=_EVENTS_JSON_SCHEMA)
    return df.select("event_id", "user_id", "event_type", r4("value", "value"))


@register(
    "scan_orc",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    """,
)
def scan_orc(spark, sf_dir):
    """ORC round-trip (columnar sibling format; DuckDB oracle reads parquet)."""
    path = f"{ART}/scan_orc_orders"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "rows_inline",
    oracle="""
    SELECT * FROM (VALUES
      (1, 101, 4.5), (1, 102, 3.0), (2, 101, 5.0), (2, 103, 2.5), (3, 104, 4.0)
    ) AS t(user_id, item_id, rating)
    """,
)
def rows_inline(spark, sf_dir):
    """Inline literal rows — the reference's ``sc.parallelize(ratings)``
    (upstream:engine.py § add_ratings) as a typed createDataFrame."""
    schema = T.StructType(
        [
            T.StructField("user_id", T.IntegerType()),
            T.StructField("item_id", T.IntegerType()),
            T.StructField("rating", T.DoubleType()),
        ]
    )
    rows = [(1, 101, 4.5), (1, 102, 3.0), (2, 101, 5.0), (2, 103, 2.5), (3, 104, 4.0)]
    return spark.createDataFrame(rows, schema)


@register(
    "sink_parquet",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_parquet(spark, sf_dir):
    """Partitioned parquet sink + re-scan round-trip.

    Writes the aggregate partitioned by l_returnflag (hive-style layout —
    the 100 TB pattern: partition columns become directories, enabling
    partition pruning on read), then re-reads and returns the scan.
    """
    path = f"{ART}/sink_parquet_agg"
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        r4(F.sum("l_quantity"), "sum_qty"),
        F.count("*").alias("cnt"),
    )
    agg.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    df = spark.read.parquet(path)
    return df.select("l_returnflag", "l_linestatus", "sum_qty", "cnt")


@register(
    "scan_partitioned_prune",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def scan_partitioned_prune(spark, sf_dir):
    """Partition pruning end-to-end: write orders hive-partitioned by
    priority, read back with a partition predicate.  The filter resolves
    against directory names — pruned partitions are never opened (the
    100 TB layout: date/tenant partition columns cut scans by orders of
    magnitude before any row is read; plan assertion in tests/test_plans).
    """
    path = f"{ART}/orders_by_priority"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
    FROM orders
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema-evolution read: two parquet batches written with different
    column sets (the second adds o_orderpriority), unified by
    mergeSchema=true — rows from the old batch surface the new column as
    NULL.  This is the data-lake reality of any long-lived 100 TB table:
    schemas widen over time and the scan must reconcile footers per file,
    never rewrite history.  Batches are path-pinned per sf_dir and
    immutable once written."""

    def build(root):
        o = load_table(spark, sf_dir, "orders")
        # "old" batch: even keys, original narrow schema
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(str(root / "data" / "batch=0"))
        # "new" batch: odd keys, widened schema
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(str(root / "data" / "batch=1"))

    root = stage(f"schema_evo_{sf_key(sf_dir)}", build)
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(str(root / "data"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "sink_merge_upsert",
    oracle="""
    WITH incoming AS (
      SELECT * FROM (VALUES
        (1, 99999.99, 'UPSERTED'), (2, 88888.88, 'UPSERTED'),
        (900000001, 11111.11, 'INSERTED')
      ) AS t(o_orderkey, o_totalprice, o_orderstatus)
    ), merged AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM incoming
      UNION ALL
      SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus
      FROM orders o
      WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM incoming)
    )
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM merged
    """,
)
def sink_merge_upsert(spark, sf_dir):
    """Key-based MERGE (upsert) into a parquet-backed table, no Delta/
    Iceberg required: incoming rows replace base rows on o_orderkey,
    unmatched keys insert.  Plan shape = broadcast anti-join of the (small)
    incoming set against the base + union — the base table shuffles
    nothing.  The merged state is written and re-read (a genuine sink
    round-trip), and the oracle checks the post-merge table contents.
    At 100 TB the identical plan writes only the partitions whose keys
    appear in `incoming` (dynamic partition overwrite)."""
    from pathlib import Path

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    incoming = spark.createDataFrame(
        [
            (1, 99999.99, "UPSERTED"),
            (2, 88888.88, "UPSERTED"),
            (900000001, 11111.11, "INSERTED"),
        ],
        "o_orderkey long, o_totalprice double, o_orderstatus string",
    )
    merged = incoming.unionByName(
        base.join(F.broadcast(incoming.select("o_orderkey")), "o_orderkey", "left_anti")
    )
    out = Path(ART) / f"merge_upsert_{sf_key(sf_dir)}"
    merged.write.mode("overwrite").parquet(str(out))
    return spark.read.parquet(str(out))


@register("scan_csv_malformed")  # rows-only: corrupt-record policy is
def scan_csv_malformed(spark, sf_dir):  # engine-specific by design
    """Dirty-CSV ingest with PERMISSIVE corrupt-record capture: write a
    CSV of orders columns, append malformed lines (wrong arity, bad
    types), read with an explicit schema + _corrupt_record column, and
    report good/corrupt counts plus an exact sum over the clean rows.

    This is the ingest-robustness contract a 100 TB crawl load needs:
    PERMISSIVE quarantines bad rows into a column (auditable, re-parsable)
    instead of failing the job (FAILFAST) or silently dropping
    (DROPMALFORMED).  Counts are asserted in tests/test_properties.py."""
    from pyspark.sql import types as T

    def build(path):
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).coalesce(1).write.option("header", True).csv(str(path / "data"))
        # separate file (never append: hadoop's local-FS .crc checksum
        # would reject the modified part file); header=True strips line 1
        (path / "data" / "malformed.csv").write_text(
            "o_orderkey,o_custkey,o_totalprice\n"
            "9999999,not_a_number,123.45\n"  # bad type
            "1,2\n"  # wrong arity
            "x,y,z,extra,cols\n"  # wrong arity + bad types
        )

    path = stage(f"scan_csv_malformed_{sf_key(sf_dir)}", build)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = spark.read.csv(
        str(path / "data"),
        header=True,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()  # required: corrupt-record column cannot be queried alone
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.sum(
            F.when(~bad, F.col("o_totalprice").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("sum_good"),
    )


_Z_SQL_TERMS = "((xb >> 0) & 1) * 1 + ((yb >> 0) & 1) * 2 + ((xb >> 1) & 1) * 4 + ((yb >> 1) & 1) * 8 + ((xb >> 2) & 1) * 16 + ((yb >> 2) & 1) * 32 + ((xb >> 3) & 1) * 64 + ((yb >> 3) & 1) * 128 + ((xb >> 4) & 1) * 256 + ((yb >> 4) & 1) * 512 + ((xb >> 5) & 1) * 1024 + ((yb >> 5) & 1) * 2048 + ((xb >> 6) & 1) * 4096 + ((yb >> 6) & 1) * 8192 + ((xb >> 7) & 1) * 16384 + ((yb >> 7) & 1) * 32768 + ((xb >> 8) & 1) * 65536 + ((yb >> 8) & 1) * 131072 + ((xb >> 9) & 1) * 262144 + ((yb >> 9) & 1) * 524288"


@register(
    "layout_zorder",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey,
             CAST(o_custkey % 1024 AS BIGINT) AS xb,
             CAST(datediff('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) % 1024 AS BIGINT) AS yb
      FROM orders
    )
    SELECT o_orderkey, xb, yb, {_Z_SQL_TERMS} AS zval
    FROM b
    """,
)
def layout_zorder(spark, sf_dir):
    """Z-order (Morton) curve value per row: interleave 10 bits of the
    customer-key bucket with 10 bits of the order-date bucket — the
    multi-dimensional clustering key behind Delta/Iceberg OPTIMIZE ZORDER.
    Sorting/range-partitioning the sink by zval co-locates rows that are
    close in BOTH dimensions, so either a customer predicate or a date
    predicate prunes file-level min/max stats (a single-column sort only
    serves one of them).  The curve itself is 20 codegen'd bit ops —
    map-only, engine-neutral, and the write side is one
    repartitionByRange(zval) away.  Z-kept two-dimensional here; the same
    expression extends to any dimension count at 2 bits/term cost."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).cast("long").alias("xb"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            )
            % 1024
        ).cast("long").alias("yb"),
    )
    zval = (F.shiftright(F.col('xb'), 0).bitwiseAND(1) * 1) + (F.shiftright(F.col('yb'), 0).bitwiseAND(1) * 2) + (F.shiftright(F.col('xb'), 1).bitwiseAND(1) * 4) + (F.shiftright(F.col('yb'), 1).bitwiseAND(1) * 8) + (F.shiftright(F.col('xb'), 2).bitwiseAND(1) * 16) + (F.shiftright(F.col('yb'), 2).bitwiseAND(1) * 32) + (F.shiftright(F.col('xb'), 3).bitwiseAND(1) * 64) + (F.shiftright(F.col('yb'), 3).bitwiseAND(1) * 128) + (F.shiftright(F.col('xb'), 4).bitwiseAND(1) * 256) + (F.shiftright(F.col('yb'), 4).bitwiseAND(1) * 512) + (F.shiftright(F.col('xb'), 5).bitwiseAND(1) * 1024) + (F.shiftright(F.col('yb'), 5).bitwiseAND(1) * 2048) + (F.shiftright(F.col('xb'), 6).bitwiseAND(1) * 4096) + (F.shiftright(F.col('yb'), 6).bitwiseAND(1) * 8192) + (F.shiftright(F.col('xb'), 7).bitwiseAND(1) * 16384) + (F.shiftright(F.col('yb'), 7).bitwiseAND(1) * 32768) + (F.shiftright(F.col('xb'), 8).bitwiseAND(1) * 65536) + (F.shiftright(F.col('yb'), 8).bitwiseAND(1) * 131072) + (F.shiftright(F.col('xb'), 9).bitwiseAND(1) * 262144) + (F.shiftright(F.col('yb'), 9).bitwiseAND(1) * 524288)
    return b.select("o_orderkey", "xb", "yb", zval.alias("zval"))


@register(
    "sink_compact",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
)
def sink_compact(spark, sf_dir):
    """Small-files compaction: write orders fragmented into 64 splinter
    files (the nightly reality of streaming/micro-batch sinks), then
    compact to a handful of right-sized files and re-scan.  The oracle
    checks the round-trip is lossless; the file-count collapse is the
    tests' gate.  At 100 TB this is the table-maintenance job that keeps
    scan task counts sane: target 128-512 MB files via
    spark.sql.files.maxRecordsPerFile + coalesce, never a full shuffle
    (coalesce merges map-side)."""

    def build(root):
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).repartition(64).write.parquet(str(root / "frag"))
        spark.read.parquet(str(root / "frag")).coalesce(4).write.parquet(
            str(root / "compact")
        )

    root = stage(f"sink_compact_{sf_key(sf_dir)}", build)
    return spark.read.parquet(str(root / "compact"))


@register("scan_binary_files")  # rows-only: oracle SQL cannot parameterize
def scan_binary_files(spark, sf_dir):  # the directory per scale factor
    """Binary-file ingest via the binaryFile source: each file in the
    corpus directory becomes a row (path, length, raw bytes) — THE ingest
    path for image/audio/video directories feeding the multimodal
    pipeline (mm_image_pipeline et al. consume exactly this shape).
    Emits per-file md5 over the hex encoding (engine-neutral; DuckDB's
    read_blob twin is md5(lower(hex(content)))) — byte-identity is gated
    in tests against hashlib on the same files."""
    df = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    return df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
        F.col("length"),
        F.md5(F.lower(F.hex(F.col("content")))).alias("content_md5"),
    )


@register(
    "scan_text",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def scan_text(spark, sf_dir):
    """Raw text-lines round-trip: the log/dump ingest path.

    Writes supplier as pipe-delimited lines via the ``text`` datasource,
    reads it back as one ``value`` column (``spark.read.text`` — the
    format every raw crawl/log delivery starts as), and re-parses with
    split + casts.  Lossless: fixture strings contain no '|' or newline
    (verified), and double -> string -> double is exact under Spark's
    shortest-repr formatting.  At 100 TB this is the classic first hop —
    text splits are line-parallel, the parse is a narrow map, and the
    very next step is writing columnar (sink_parquet)."""
    path = f"{ART}/scan_text_supplier"
    sup = load_table(spark, sf_dir, "supplier")
    sup.select(
        F.concat_ws(
            "|",
            F.col("s_suppkey").cast("string"),
            "s_name",
            F.col("s_nationkey").cast("string"),
            F.col("s_acctbal").cast("string"),
        ).alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    p = F.split("value", "\\|")
    return lines.select(
        p.getItem(0).cast("long").alias("s_suppkey"),
        p.getItem(1).alias("s_name"),
        p.getItem(2).cast("int").alias("s_nationkey"),
        p.getItem(3).cast("double").alias("s_acctbal"),
    )


@register(
    "sink_table_catalog",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def sink_table_catalog(spark, sf_dir):
    """Catalog-managed table round trip: `saveAsTable` registers the
    aggregate in the session catalog (external parquet under the artifact
    tree), and the result is read back BY NAME via `spark.table` — the
    warehouse front door (catalog + table identity + schema-on-read)
    rather than the path-based sinks the other sink_* ops exercise.

    On a real deployment this is the Hive-metastore/Unity-catalog path:
    the table's schema, format and location live in the catalog, writers
    `saveAsTable`, readers `spark.table(name)` with no path coupling.
    The table name is suffixed per corpus so sf dirs never collide; the
    decimal-exact aggregate makes the round trip hash-stable."""
    from pathlib import Path

    suffix = sf_key(sf_dir).replace(".", "_")
    name = f"cat_priority_summary_{suffix}"
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )
    agg.write.mode("overwrite").format("parquet").option(
        "path", f"{ART}/catalog/{name}"
    ).saveAsTable(name)
    return spark.table(name)


@register(
    "scan_range",
    oracle="""
    SELECT CAST(range AS BIGINT) % 97 AS bucket,
           count(*) AS n,
           CAST(SUM(CAST(range AS BIGINT)) AS BIGINT) AS total
    FROM range(0, 1000000)
    GROUP BY CAST(range AS BIGINT) % 97
    """,
)
def scan_range(spark, sf_dir):
    """The range source: `spark.range` generates rows ON the executors
    with zero input I/O — the standard synthetic-data / scale-test source
    (a billion-row stress table is one line, split evenly across tasks).
    DuckDB's `range()` table function is the oracle twin.

    One partial+final aggregate over 1M generated rows; the source itself
    is embarrassingly parallel (each task materializes its own id range),
    which is why it is the canonical way to drive shuffle/agg benchmarks
    without parquet in the loop."""
    return (
        spark.range(0, 1_000_000)
        .groupBy((F.col("id") % 97).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("id").cast("long").alias("total"),
        )
    )


@register(
    "meta_cache_table",
    oracle="""
    SELECT n_nationkey, n_name, count(*) AS n_customers
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    """,
)
def meta_cache_table(spark, sf_dir):
    """Session cache control: `spark.catalog.cacheTable` pins a dimension
    as an in-memory columnar relation, and the query's scan side becomes
    InMemoryTableScan (asserted in tests/test_plans.py) — the explicit
    caching surface (CACHE TABLE in SQL) that interactive/BI sessions use
    for hot dims.  Caching is semantically transparent, so the oracle is
    the plain join-aggregate; the table is uncached... NOT here — the
    handle must stay valid while the returned DataFrame executes, and
    cacheTable is idempotent per session, so repeat runs reuse the one
    entry (bounded: one small dim)."""
    n = load_table(spark, sf_dir, "nation")
    n.createOrReplaceTempView("cached_nation")
    spark.catalog.cacheTable("cached_nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        spark.table("cached_nation")
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "sink_jsonl_shards",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def sink_jsonl_shards(spark, sf_dir):
    """Sharded JSONL export + re-ingest round-trip — the interchange format
    every LLM training stack consumes (one JSON object per line, fixed
    shard count so downstream loaders can assign shards to workers).
    Writes the corpus as 4 JSONL shards, reads them back with an explicit
    schema (schema inference on JSON is a full extra pass — never at
    100 TB), and returns the re-read rows; the oracle is the source table
    itself, so the hash check proves the round-trip lossless byte-for-byte
    (doc text escaping/unescaping included).

    Scale shape: map-only write (repartition to the shard count is the
    only exchange), map-only read.  At 100 TB the shard count comes from a
    target shard SIZE (total/512MB), not a constant, and the write adds
    compression (.zst) — both config, not plan, changes."""
    from pathlib import Path

    path = f"{ART}/sink_jsonl_docs_{sf_key(sf_dir)}"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    docs.repartition(4).write.mode("overwrite").json(path)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return spark.read.schema(schema).json(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "pipeline_shard_manifest",
    oracle=f"""
    SELECT {sql_md5_int("CAST(doc_id AS VARCHAR)", 6)} % 8 AS shard,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def pipeline_shard_manifest(spark, sf_dir):
    """Shard the corpus by the engine-neutral md5(doc_id) bucket, write one
    parquet directory per shard, re-read the written files, and emit the
    manifest a training data-loader consumes: per-shard row count, byte
    proxy (total chars), and doc-id range.  The manifest is computed from
    the FILES READ BACK, not the source frame, so the hash check proves
    write+read lossless *and* that every row landed in its assigned shard.

    100 TB: bucketing is map-only (hash of the key); partitionBy('shard')
    writes each bucket as its own directory without a pre-shuffle (each
    task streams rows to per-shard files); the manifest agg is a
    |shards|-row groupBy.  Shard count scales as corpus_bytes /
    target_shard_bytes — a constant here, a conf at scale.  DuckDB twin
    aggregates the same bucket expression straight off the source table
    (CAST AS BIGINT kills the HUGEINT SUM class per FIXTURES.md)."""
    from pathlib import Path

    path = f"{ART}/shard_manifest_docs_{sf_key(sf_dir)}"
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "shard", md5_int(F.col("doc_id"), 6) % 8
    )
    docs.write.mode("overwrite").partitionBy("shard").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "scan_file_prune_proof",
    oracle="""
    WITH m AS (SELECT month(o_orderdate) AS m FROM orders)
    SELECT CAST(count(DISTINCT m) AS BIGINT) AS files_total,
           CAST(count(DISTINCT m) FILTER (m = 3) AS BIGINT) AS files_read,
           CAST(count(*) FILTER (m = 3) AS BIGINT) AS n_rows
    FROM m
    """,
)
def scan_file_prune_proof(spark, sf_dir):
    """Data-skipping PROOF, not just a plan string: orders written one
    file per order-month (repartition on the partition column puts each
    month in exactly one task, so each hive directory holds exactly one
    file), then a single-month read is EXECUTED and the scan's runtime
    ``numFiles`` metric is read back from the physical plan.  The output
    row states (files the layout holds, files the pruned scan actually
    opened, rows returned); the oracle derives all three from the data —
    so if pruning ever silently stops engaging, files_read becomes 12
    and the driver hash-check goes red.  scan_partitioned_prune asserts
    the PartitionFilters plan shape; this op measures the effect.

    100 TB: the measured quantity IS the scale story — a month-
    partitioned layout turns a month query from a full-corpus scan into
    1/|months| of the files, before any row is read."""

    def build(root):
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.month("o_orderdate").alias("m")
        )
        # one task per month value -> exactly one file per hive dir
        o.repartition(F.col("m")).write.partitionBy("m").parquet(
            str(root / "data")
        )

    root = stage(f"prune_proof_{sf_key(sf_dir)}", build)

    def scan_num_files(df):
        """Execute df and read the scan's runtime numFiles metric."""
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        for i in range(leaves.length()):
            node = leaves.apply(i)
            if "FileSourceScan" in node.getClass().getSimpleName():
                return node.metrics().apply("numFiles").value()
        raise RuntimeError("no FileSourceScanExec leaf found")

    full = spark.read.parquet(str(root / "data"))
    pruned = full.filter(F.col("m") == 3)
    files_total = scan_num_files(full.select("m"))
    files_read = scan_num_files(pruned.select("m"))
    n_rows = pruned.count()
    return spark.createDataFrame(
        [(int(files_total), int(files_read), int(n_rows))],
        "files_total long, files_read long, n_rows long",
    )


@register(
    "pipeline_ivm_upsert",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0)
    GROUP BY o_custkey
    """,
)
def pipeline_ivm_upsert(spark, sf_dir):
    """Incremental view maintenance: a per-customer (count, revenue)
    aggregate view is maintained under a delta batch of INSERTS and
    DELETES by merging sign-weighted delta partials into the stored
    view — never re-reading the base table — and the oracle recomputes
    the same view from scratch over the final multiset, so the driver
    hash-check IS the IVM correctness proof (delta-applied == full
    recompute, bit-for-bit).

    Scenario: base = orders with o_orderkey % 10 != 0; the delta batch
    inserts the % 10 == 0 rows (+1) and retracts base rows with
    o_orderkey % 7 == 0 (-1).  Both count and DECIMAL revenue are
    self-maintainable aggregates (commutative group ops), so the merge
    is one |delta-keys|-sized full-outer join onto the view; groups
    whose maintained count reaches 0 drop out, exactly as a recompute
    would drop them.

    100 TB: this is the nightly-ingest pattern — the view updates at
    O(|delta| + |touched keys|) cost instead of O(|base|); the decimal
    (not double) revenue column is what makes the maintained sum exact
    under any arrival order, including retractions."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    view = base.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.sum("price").alias("rev")
    )
    # delta with retraction signs: inserts +1, deletes -1
    inserts = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "sign", F.lit(1)
    )
    deletes = (
        base.filter(F.col("o_orderkey") % 7 == 0).withColumn("sign", F.lit(-1))
    )
    delta = inserts.unionByName(deletes).groupBy("o_custkey").agg(
        F.sum("sign").alias("dn"),
        F.sum(F.col("sign") * F.col("price")).alias("drev"),
    )
    maintained = (
        view.join(delta, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (
                F.coalesce(F.col("n_orders"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("rev"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("drev"), F.lit(0).cast("decimal(18,2)"))
            ).alias("rev"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return maintained.select(
        "o_custkey",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
    )


@register(
    "scan_time_travel",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS snapshot_v, o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders GROUP BY 1, 2
    UNION ALL
    SELECT CAST(3 AS BIGINT), o_orderpriority, count(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 4 = 3 GROUP BY 1, 2
    """,
)
def scan_time_travel(spark, sf_dir):
    """Transaction-log time travel over a plain-parquet table: a
    Delta/Iceberg-style commit log (versioned JSON actions adding and
    removing DATA FILES, never rewriting them) is replayed to the live
    file set AS OF each requested version, and the snapshot is read as
    exactly those files.  v1 adds file A (keys %4∈{0,1,2}), v2 adds
    file B (%4==3), v3 removes A — so snapshot@v2 is the full table and
    snapshot@v3 is B alone; the op reads both snapshots and reports the
    per-priority rollup under a snapshot_v column, which the oracle
    re-expresses logically over the base table.

    100 TB: time travel costs ZERO data movement — the log replay is a
    driver-side scan of |commits| tiny JSON actions (Delta's exact
    design; at thousands of commits you checkpoint the action set, same
    replay contract), and the snapshot read plans only the live files,
    so pruning/pushdown apply per-file as in any parquet scan.  The
    staged table is path-pinned per sf_dir and immutable once published
    (FIXTURES.md discipline)."""
    import json

    def build(root):
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        o.filter(F.col("o_orderkey") % 4 != 3).write.parquet(
            str(root / "data" / "A")
        )
        o.filter(F.col("o_orderkey") % 4 == 3).write.parquet(
            str(root / "data" / "B")
        )
        log = root / "_log"
        log.mkdir()
        (log / "1.json").write_text(json.dumps({"add": ["data/A"]}))
        (log / "2.json").write_text(json.dumps({"add": ["data/B"]}))
        (log / "3.json").write_text(json.dumps({"remove": ["data/A"]}))

    root = stage(f"time_travel_{sf_key(sf_dir)}", build)

    def live_files(version: int) -> list[str]:
        live: list[str] = []
        for v in range(1, version + 1):
            action = json.loads((root / "_log" / f"{v}.json").read_text())
            for p in action.get("add", ()):
                live.append(p)
            for p in action.get("remove", ()):
                live.remove(p)
        return [str(root / p) for p in live]

    def snapshot(version: int):
        return (
            spark.read.parquet(*live_files(version))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_price"),
            )
            .select(
                F.lit(version).cast("long").alias("snapshot_v"),
                "o_orderpriority",
                "n_orders",
                "sum_price",
            )
        )

    return snapshot(2).unionByName(snapshot(3))


@register(
    "pipeline_compaction_planner",
    oracle="""
    WITH files AS (
      SELECT source, doc_id % 50 AS file_id,
             CAST(SUM(n_chars) AS BIGINT) AS bytes,
             count(*) AS n_docs
      FROM documents GROUP BY 1, 2
    ), planned AS (
      SELECT source, file_id, bytes, n_docs,
             (CAST(SUM(bytes) OVER (
                PARTITION BY source ORDER BY file_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS BIGINT) - bytes) // 100000 AS bin
      FROM files
    )
    SELECT source, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(min(file_id) AS BIGINT) AS file_lo,
           CAST(max(file_id) AS BIGINT) AS file_hi
    FROM planned GROUP BY 1, 2
    """,
)
def pipeline_compaction_planner(spark, sf_dir):
    """Small-file compaction planning (the OPTIMIZE/rewrite-planner of
    any lakehouse table): roll a file manifest into target-sized merge
    groups — files ordered within their partition, assigned to bin
    ⌊exclusive-prefix-bytes / target⌋, so each bin accumulates ~100 KB
    before the next opens, and every bin is a contiguous file range
    (file_lo..file_hi) a rewrite task can execute independently.  The
    manifest is derived deterministically from documents (doc_id%50 as
    file_id, byte size = Σ n_chars per file).  Prefix-sum binning is
    the deterministic, oracle-able formulation of greedy first-fit —
    the variant real planners use when they want stable plans across
    retries.

    100 TB: the plan runs over METADATA (|files| rows, typically 1e5-1e7
    — the manifest, not the data); one partition-keyed window does the
    prefix sum, and the data files themselves are untouched until the
    rewrite tasks consume the plan.  This op plans; sink_compact is the
    executor shape it feeds."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    files = d.groupBy(
        "source", (F.col("doc_id") % 50).alias("file_id")
    ).agg(
        F.sum("n_chars").cast("long").alias("bytes"),
        F.count("*").alias("n_docs"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    planned = files.withColumn(
        "cum", F.sum("bytes").over(w).cast("long")
    ).withColumn("bin", F.expr("(cum - bytes) DIV 100000"))
    return planned.groupBy("source", F.col("bin").cast("long").alias("bin")).agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.min("file_id").cast("long").alias("file_lo"),
        F.max("file_id").cast("long").alias("file_hi"),
    )


@register(
    "layout_sorted_runs",
    oracle="""
    WITH f AS (
      SELECT o_orderkey % 4 AS run,
             datediff('day', TIMESTAMP '1995-01-01 00:00:00',
                      o_orderdate) // 90 AS band,
             o_orderdate AS d
      FROM orders
    ), m AS (
      SELECT run, band, min(d) AS lo, max(d) AS hi FROM f GROUP BY 1, 2
    )
    SELECT CAST((SELECT count(*) FROM m) AS BIGINT) AS files_total,
           CAST((SELECT count(*) FROM m
                 WHERE lo <  TIMESTAMP '1995-05-01 00:00:00'
                   AND hi >= TIMESTAMP '1995-04-01 00:00:00') AS BIGINT)
             AS files_read,
           CAST((SELECT count(*) FROM f
                 WHERE d >= TIMESTAMP '1995-04-01 00:00:00'
                   AND d <  TIMESTAMP '1995-05-01 00:00:00') AS BIGINT)
             AS n_rows
    """,
)
def layout_sorted_runs(spark, sf_dir):
    """Write-path sorted-run clustering + MANIFEST-driven min/max data
    skipping — the Iceberg/Delta file-pruning design, measured: orders
    arrive as 4 ingest batches (runs); each run is written date-sorted
    and split at fixed 90-day bands, so every data file covers a tight,
    known date range; a per-file (min,max,rows) manifest is then the
    skipping index.  A date-range query consults ONLY the manifest,
    reads only intersecting files, and the op reports (files the layout
    holds, files the pruned read actually opened via the runtime
    numFiles metric, rows returned).  The demonstration that
    scan_file_prune_proof cannot make: the predicate is on a plain DATA
    column — Catalyst partition pruning never engages (the hive keys are
    run/band, not the date) — yet the manifest converts it into file
    skipping anyway.  If the manifest selection over- or under-prunes,
    or the one-file-per-band write invariant breaks, the measured
    numFiles / residual row count diverge from the oracle and the driver
    hash-check goes red.

    100 TB: this IS the lakehouse scan path — the manifest is
    |files|-sized metadata (collected driver-side exactly like a table
    format's planning step), the write clustering is one map-side
    repartition + in-partition sort, and a range query opens
    |intersecting bands|/|bands| of the corpus regardless of table
    size.  The dual of layout_zorder: zorder picks the clustering KEY,
    this op builds the clustered layout and proves the skip."""

    def build(root):
        day0 = F.lit("1995-01-01").cast("date")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderdate",
            (F.col("o_orderkey") % 4).cast("long").alias("run"),
            (
                F.datediff(F.col("o_orderdate").cast("date"), day0)
                .cast("long")
                / F.lit(90)
            )
            .cast("long")
            .alias("band"),
        )
        # one task per (run, band) -> exactly one date-sorted file per
        # hive dir; the in-file sort tightens parquet row-group stats too
        (
            o.repartition(F.col("run"), F.col("band"))
            .sortWithinPartitions("o_orderdate")
            .write.partitionBy("run", "band")
            .parquet(str(root / "data"))
        )

    root = stage(f"sorted_runs_{sf_key(sf_dir)}", build)
    full = spark.read.parquet(str(root / "data"))
    manifest = (
        full.groupBy("run", "band")
        .agg(
            F.min("o_orderdate").alias("lo"),
            F.max("o_orderdate").alias("hi"),
        )
        .collect()  # |files|-bounded: this is the table-format planning step
    )
    q_lo, q_hi = "1995-04-01", "1995-05-01"
    import datetime

    lo_ts = datetime.datetime(1995, 4, 1)
    hi_ts = datetime.datetime(1995, 5, 1)
    picked = [
        str(root / "data" / f"run={r['run']}" / f"band={r['band']}")
        for r in manifest
        if r["lo"] < hi_ts and r["hi"] >= lo_ts
    ]

    def scan_num_files(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        for i in range(leaves.length()):
            node = leaves.apply(i)
            if "FileSourceScan" in node.getClass().getSimpleName():
                return node.metrics().apply("numFiles").value()
        raise RuntimeError("no FileSourceScanExec leaf found")

    pruned = spark.read.parquet(*sorted(picked)).filter(
        (F.col("o_orderdate") >= q_lo) & (F.col("o_orderdate") < q_hi)
    )
    files_read = scan_num_files(pruned.select("o_orderdate"))
    n_rows = pruned.count()
    return spark.createDataFrame(
        [(len(manifest), int(files_read), int(n_rows))],
        "files_total long, files_read long, n_rows long",
    )
