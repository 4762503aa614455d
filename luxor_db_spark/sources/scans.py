"""§2.1 Scans / sources / sinks (SURVEY.md).

Reference status: absent — the reference tree has no I/O code at all
(reference ``src/main/java/nl/hh/Main.java:1-7`` is its only source file).
This module defines the target surface Spark-first.

Scale notes: all scans are plain DataFrame reads so Catalyst pushes
projections and predicates into the Parquet reader (verify with
``.explain``: ``ReadSchema`` / ``PushedFilters``). Sinks write through the
distributed committer — no driver-side materialization anywhere.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from luxor_db_spark.catalog import load_table, parquet_schema, table_path
from luxor_db_spark.registry import query


def _tmpdir(tag: str) -> str:
    base = os.path.join(tempfile.gettempdir(), "luxor_db_spark_sinks")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=base)


@query("scan_parquet", oracle="SELECT * FROM customer")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Parquet table scan (vectorized columnar reader)."""
    return load_table(spark, sf_dir, "customer")


@query(
    "scan_projected",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: ReadSchema contains only the 3 selected columns."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "scan_filtered",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 45.0
    """,
)
def scan_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown scan: filter lands in PushedFilters."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "scan_union_dirs",
    oracle="SELECT * FROM supplier UNION ALL SELECT * FROM supplier",
)
def scan_union_dirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-path scan: one reader over several files/dirs (same schema)."""
    p = table_path(sf_dir, "supplier")
    return spark.read.schema(parquet_schema(spark, p)).parquet(p, p)


@query(
    "sink_parquet",
    oracle="SELECT * FROM lineitem WHERE l_quantity > 45.0",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink: distributed write, then re-read the committed snapshot.

    Oracle-checked round-trip: Parquet is lossless for every lineitem type
    (DECIMAL/DATE/STRING), so the re-read must equal the filtered source
    bit-for-bit — the write path's correctness contract, not just a smoke
    run."""
    df = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45.0)
    out = _tmpdir("sink_parquet")
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "sink_partitioned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write; re-read prunes by partition column.
    Oracle-checked: the pruned re-read must equal the source filter (the
    partition column survives the directory-encoding round-trip).

    At 100 TB this layout is what makes ``WHERE l_returnflag='R'`` a
    partition-pruned scan instead of a full read.
    """
    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    out = _tmpdir("sink_partitioned")
    df.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # Partition-pruned re-read: only the 'R' directory is listed/scanned.
    # Schema passed explicitly: an empty source writes no part files and
    # a schema-less read would fail UNABLE_TO_INFER_SCHEMA.
    return (
        spark.read.schema(df.schema)
        .parquet(out)
        .filter(F.col("l_returnflag") == "R")
    )


@query(
    "scan_csv_json",
    oracle="""
    SELECT event_id AS row_id, event_type AS tag FROM events
    WHERE event_id < 1000
    UNION ALL
    SELECT p_partkey AS row_id, p_type AS tag FROM part
    """,
)
def scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON ingest round-trip with explicit schemas. The projected
    id/tag columns are text-format-lossless (integers + strings), so the
    round-trip is oracle-checked against the sources directly.

    Events → JSON lines → read back with a declared schema (schema inference
    is a scale anti-pattern: it triggers an extra full pass).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    out_json = _tmpdir("scan_json")
    ev.write.mode("overwrite").json(out_json)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back_json = spark.read.schema(schema).json(out_json)

    # CSV leg: part (no timestamps) with header, explicit schema on read.
    pt = load_table(spark, sf_dir, "part")
    out_csv = _tmpdir("scan_csv")
    pt.write.mode("overwrite").option("header", True).csv(out_csv)
    csv_schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    back_csv = spark.read.schema(csv_schema).option("header", True).csv(out_csv)

    return back_json.select(
        F.col("event_id").alias("row_id"),
        F.col("event_type").alias("tag"),
    ).unionByName(
        back_csv.select(
            F.col("p_partkey").alias("row_id"), F.col("p_type").alias("tag")
        )
    )


@query(
    "sink_bucketed",
    oracle="""
    SELECT l_orderkey, l_quantity, o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed sink + co-located join: both sides pre-hashed into 8 buckets
    on the join key, so the re-read join plans with ZERO Exchange — the
    shuffle happened once at write time and is amortized over every later
    join. At 100 TB this is the difference between re-shuffling the fact
    table per query and never shuffling it again (verified by
    tests/test_plans.py: no Exchange in this plan).

    Uses external-table paths (`option("path", ...)`) so the static
    warehouse dir of a driver-built session is irrelevant.
    """
    base = _tmpdir("sink_bucketed")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for name, df, key in (
        ("luxor_b_lineitem", li, "l_orderkey"),
        ("luxor_b_orders", o, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, name))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    a = spark.table("luxor_b_lineitem")
    b = spark.table("luxor_b_orders")
    return a.join(b.hint("merge"), a.l_orderkey == b.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_orderpriority"
    )


def _register_calendar_source(spark: SparkSession) -> bool:
    """Register the Python DataSource (Spark 4 API); False if unsupported."""
    try:
        from pyspark.sql.datasource import (
            DataSource,
            DataSourceReader,
            InputPartition,
        )
    except ImportError:
        return False

    class _CalendarReader(DataSourceReader):
        """Generates a date spine in N parallel partitions — each executor
        materializes only its own slice (the pattern any generator/API
        source must follow to scale: partition the keyspace, not the
        driver)."""

        def __init__(self, options):
            import datetime

            self.start = datetime.date.fromisoformat(
                options.get("start", "1995-01-01")
            )
            self.days = int(options.get("days", "365"))
            self.n_parts = int(options.get("partitions", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            import datetime

            per = -(-self.days // self.n_parts)  # ceil
            lo = partition.value * per
            hi = min(self.days, lo + per)
            for off in range(lo, hi):
                d = self.start + datetime.timedelta(days=off)
                yield (d, d.year, d.month, d.isoweekday())

    class _CalendarSource(DataSource):
        @classmethod
        def name(cls):
            return "luxor_calendar"

        def schema(self):
            return "d date, y int, m int, isodow int"

        def reader(self, schema):
            return _CalendarReader(self.options)

    spark.dataSource.register(_CalendarSource)
    return True


@query(
    "source_python_ds",
    oracle="""
    SELECT CAST(d AS DATE) AS d,
           CAST(EXTRACT(year FROM d) AS INT) AS y,
           CAST(EXTRACT(month FROM d) AS INT) AS m,
           CAST(isodow(d) AS INT) AS isodow
    FROM (SELECT unnest(generate_series(DATE '1995-01-01',
                                        DATE '1995-12-31',
                                        INTERVAL 1 DAY)) AS d)
    """,
)
def source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source via the Spark 4 Python DataSource API: a
    partition-parallel calendar/date-spine generator (the dimension every
    warehouse needs and no fixture ships). Each of the 4 input partitions
    yields only its own slice — generator sources scale by partitioning
    the keyspace, never by materializing on the driver."""
    if not _register_calendar_source(spark):
        raise RuntimeError("Python DataSource API unavailable")
    return (
        spark.read.format("luxor_calendar")
        .option("start", "1995-01-01")
        .option("days", "365")
        .load()
    )


_VALUES_SQL = """
SELECT t.tier, t.lo, t.hi FROM (VALUES
  ('bronze', 0, 1000), ('silver', 1000, 5000), ('gold', 5000, 100000)
) AS t(tier, lo, hi)
"""


@query("scan_values", oracle=_VALUES_SQL)
def scan_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES relation (shared Spark/DuckDB syntax) — the constant
    relation that seeds broadcast lookup tables without any file I/O."""
    return spark.sql(_VALUES_SQL)


@query(
    "sink_merge_upsert",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey < 100 THEN o_totalprice * 1.1
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey < 100 THEN 'updated' ELSE 'kept' END AS merge_op
    FROM orders
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert over immutable Parquet: the anti-join ∪ updates rewrite
    (matched rows replaced, unmatched kept), written and re-read as a new
    snapshot — copy-on-write table maintenance without a transaction log.

    Scale shape: one equi-anti-join on the key + a union — both sides
    prunable by partition when the base table is key-partitioned, so an
    upsert touching 1% of partitions rewrites 1% of the data. (Format-level
    MERGE — Delta/Iceberg — replaces the file rewrite, not the plan shape.)
    """
    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    updates = (
        base.filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            F.lit("updated").alias("merge_op"),
        )
    )
    kept = base.join(updates.select("o_orderkey"), "o_orderkey", "left_anti").select(
        "o_orderkey", "o_totalprice", F.lit("kept").alias("merge_op")
    )
    merged = kept.unionByName(updates)
    out = _tmpdir("sink_merge")
    merged.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "scan_cached",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 0
    """,
)
def scan_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached scan: persist() pins the deserialized columnar batches in
    executor memory (MEMORY_AND_DISK), so every query after the first reads
    InMemoryTableScan instead of Parquet — the pattern for a dimension or
    working set queried hundreds of times per session. The cache is
    cluster-wide (block manager), not driver-side."""
    df = load_table(spark, sf_dir, "customer").persist()
    df.count()  # materialize the cache
    return df.filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "scan_sample_stratified",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_total, TRUE AS rate_ok
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (sampleBy): different Bernoulli fractions per
    stratum — e.g. keep 10% of common 'O' orders but 80% of rare statuses
    to balance a training set. Per-row decisions, no shuffle.

    The sampled ROWS are seeded-RNG-internal (not cross-engine checkable),
    so the registered output is the per-stratum audit: exact stratum
    totals plus a rate_ok flag asserting the realized sampling rate sits
    within 5σ of its target fraction — a Bernoulli sampler that fails this
    is broken, and the oracle pins exactly that contract."""
    fracs = {"O": 0.1, "F": 0.1, "P": 0.8}
    o = load_table(spark, sf_dir, "orders")
    sampled = o.sampleBy("o_orderstatus", fracs, seed=42)
    n_s = sampled.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    n_t = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_total"))
    p = F.element_at(
        F.create_map(
            *[x for kv in fracs.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
        ),
        F.col("o_orderstatus"),
    )
    tol = 5 * F.sqrt(p * (1 - p) / F.col("n_total")) + 1 / F.col("n_total")
    return (
        n_t.join(F.broadcast(n_s), "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_total",
            (
                F.abs(
                    F.coalesce(F.col("n_sampled"), F.lit(0)) / F.col("n_total")
                    - p
                )
                <= tol
            ).alias("rate_ok"),
        )
    )


@query(
    "fn_row_id",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(*) AS n_distinct_ids,
           TRUE AS ids_nonneg
    FROM documents
    """,
)
def fn_row_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed unique id assignment: monotonically_increasing_id packs
    (partition_id << 33 | row_in_partition) — unique with zero
    coordination, but NOT dense and NOT stable across repartitioning
    (document ids for ingest should prefer a content hash; this is the
    ephemeral-id tool).

    The id VALUES are partition-layout-dependent, so the registered output
    is the tool's contract as an audit: every row got an id, all ids are
    distinct (n_distinct_ids must equal n_rows — the oracle emits COUNT(*)
    for both) and non-negative."""
    d = load_table(spark, sf_dir, "documents")
    df = d.select("doc_id", F.monotonically_increasing_id().alias("row_id"))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("row_id")).alias("n_distinct_ids"),
        (F.min("row_id") >= 0).alias("ids_nonneg"),
    )


@query(
    "scan_schema_merge",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey <= 2000
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two Parquet file generations with different
    columns read as one table via mergeSchema — the footer union becomes
    the read schema and missing columns null-fill per file. The ingest
    pattern that lets a 100 TB table gain columns without rewriting
    history (pay the footer-merge cost only when schemas actually drift).

    Generations take a deterministic key slice (not LIMIT, whose row choice
    is scheduler-dependent) so the merged read is oracle-checkable: gen-1
    rows must surface with a NULL for the column they predate."""
    base = _tmpdir("schema_merge")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    o.select("o_orderkey", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(f"{base}/gen=1")
    o.select("o_orderkey", "o_totalprice", "o_orderpriority").write.mode(
        "overwrite"
    ).parquet(f"{base}/gen=2")
    return spark.read.option("mergeSchema", "true").parquet(
        f"{base}/gen=1", f"{base}/gen=2"
    )


@query(
    "scan_file_metadata",
    oracle="""
    SELECT 'orders.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance scan via Spark's hidden ``_metadata`` struct — the
    lineage primitive every large ingest needs (which file produced this
    row? which files hold a key range? what to reprocess after a bad
    delivery?). Aggregates per-file row counts and key ranges.

    The ``_metadata.file_name`` column is constant per split, so Catalyst
    evaluates it without touching row data. Oracle note: the fixture is
    one Parquet file per table, so the expected provenance aggregate is
    predictable from the plain view ('orders.parquet', full-table
    count/min/max) — the Spark side still genuinely reads ``_metadata``;
    a multi-file layout would group the same way per file.

    Scale shape: one map-combinable aggregate keyed on file name —
    perfect partial aggregation (each task sees one or few files).
    """
    path = table_path(sf_dir, "orders")
    o = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return (
        o.select(F.col("_metadata.file_name").alias("file_name"), "o_orderkey")
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )


@query("sink_zorder")  # rows-only: a sink write, audited by re-read
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered layout write — the OPTIMIZE ZORDER pattern: compute the
    Morton key over (customer, order-day), range-partition + sort the
    write by it, so each output file owns a contiguous z-range and
    min/max file stats prune scans on EITHER dimension.

    Returns the per-bucket clustering audit (zbucket, rows, zmin, zmax)
    read back from the written layout: a correct z-ordered layout has
    NON-OVERLAPPING per-bucket z-ranges (asserted in
    tests/test_edge_cases), which is exactly the property that makes
    row-group and partition pruning effective.

    Determinism (r6, caught by the registry-wide invariance sweep, then
    tightened by review): the original `repartitionByRange(8, zval)`
    draws its bounds from a RANDOM sample, so per-file counts and
    min/max differed on every run — invisible to the driver's rows-only
    check, fatal to the run-twice doctrine (SURVEY §5b.6). A first fix
    used `percentile_approx` cut points, but merged Greenwald-Khanna
    summaries are shuffle-arrival-order-sensitive once they compress
    (>10k rows/partition), so the bounds could still move at exactly the
    scales that matter. The buckets are now EQUAL-WIDTH Z-TILES over the
    exact [min, max] z-range — min/max aggregation is order-independent,
    so the layout is bit-reproducible at every scale, and fixed z-space
    tiles are the canonical z-order file layout anyway (each directory
    owns a static quadrant of the interleaved key space, which is what
    makes min/max pruning composable across writes). `z` is persisted
    across its two actions (bounds + write) so the Morton pipeline runs
    once, and an empty input returns an empty audit frame instead of
    iterating a NULL aggregate.
    """
    from luxor_db_spark.registry import QUERIES

    z = QUERIES["fn_zorder"](spark, sf_dir).persist()
    try:
        bounds = z.agg(
            F.min("zval").alias("lo"), F.max("zval").alias("hi")
        ).first()
        if bounds["lo"] is None:
            return spark.createDataFrame(
                [], "zbucket int, n_rows bigint, zmin bigint, zmax bigint"
            )
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        width = max((hi - lo + 8) // 8, 1)
        # integer `div`, not `/`: float division of wide Morton keys
        # would round above 2^53 and mis-tile the extremes.
        zb = z.withColumn(
            "zbucket",
            F.least(
                F.expr(f"(zval - {lo}) div {width}").cast("int"), F.lit(7)
            ),
        )
        out = _tmpdir("sink_zorder")
        (
            zb.repartition("zbucket")
            .sortWithinPartitions("zbucket", "zval")
            .write.mode("overwrite")
            .partitionBy("zbucket")
            .parquet(out)
        )
    finally:
        z.unpersist()
    back = spark.read.parquet(out)
    return back.groupBy(F.col("zbucket").cast("int").alias("zbucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("zval").alias("zmin"),
        F.max("zval").alias("zmax"),
    )


def incremental_audit(
    spark: SparkSession,
    paths: list[str],
    prev_marker: str,
    *,
    manifest_isin_cap: int = 10_000,
) -> DataFrame:
    """Classify every file under ``paths`` as already-processed or fresh
    against the high-water mark of the files whose path contains
    ``prev_marker`` (the previous run's delivery), returning the
    (is_new, n_rows) audit. A FIRST run (no file matches the marker) has
    no watermark: everything is fresh (r8 ADVICE — previously the NULL
    watermark made every comparison NULL and the audit emitted one
    confusing ``is_new=NULL`` group).

    Robust to COARSE MTIME GRANULARITY (r7 verdict ask #7): a strictly-
    greater mtime comparison alone misclassifies a new file that lands
    within the same filesystem timestamp tick as the watermark. The
    classic fix is kept here: alongside the max-mtime watermark, keep the
    MANIFEST of processed file paths AT the watermark tick (only the
    boundary tick needs remembering — earlier files are strictly older),
    and call a file fresh iff its mtime is strictly newer OR it sits on
    the boundary tick without being in the manifest. The manifest is
    bounded by files AT the tick — usually a handful, but a burst-written
    delivery commonly lands its WHOLE file set in one tick (r8 ADVICE),
    so above ``manifest_isin_cap`` paths the manifest stays a DISTRIBUTED
    frame joined on file path instead of being collected into a giant
    ``isin`` plan literal (driver-memory / plan-size hazard).
    """
    all_files = spark.read.parquet(*paths)
    mt = F.col("_metadata.file_modification_time")
    fpath = F.col("_metadata.file_path")
    prev = fpath.contains(prev_marker)
    hwm = all_files.select(
        F.max(F.when(prev, mt)).alias("hwm")
    ).collect()[0].hwm  # one scalar: the last-successful-run watermark
    counted = F.count(F.lit(1)).cast("bigint").alias("n_rows")
    if hwm is None:
        return (
            all_files.select(F.lit(True).alias("is_new"))
            .groupBy("is_new")
            .agg(counted)
        )
    # processed-manifest at the boundary tick: one row per FILE (cheap —
    # file_path is constant per split, so the distinct collapses map-side)
    boundary_df = (
        all_files.filter(prev & (mt == F.lit(hwm)))
        .select(fpath.alias("_bp"))
        .distinct()
    )
    boundary = [
        r._bp for r in boundary_df.limit(manifest_isin_cap + 1).collect()
    ]
    if len(boundary) <= manifest_isin_cap:
        fresh = (mt > F.lit(hwm)) | (
            (mt == F.lit(hwm)) & ~fpath.isin(boundary)
        )
        flagged = all_files.select(fresh.alias("is_new"))
    else:
        # Burst-written boundary tick: keep the manifest distributed.
        # Un-hinted left join on file path — AQE broadcasts while the
        # manifest is small and degrades to a shuffle join when the
        # previous delivery's file count outgrows the threshold.
        flagged = (
            all_files.select(mt.alias("_mt"), fpath.alias("_p"))
            .join(
                boundary_df.withColumn("_seen", F.lit(True)),
                F.col("_p") == F.col("_bp"),
                "left",
            )
            .select(
                (
                    (F.col("_mt") > F.lit(hwm))
                    | (
                        (F.col("_mt") == F.lit(hwm))
                        & F.col("_seen").isNull()
                    )
                ).alias("is_new")
            )
        )
    return flagged.groupBy("is_new").agg(counted)


@query(
    "scan_incremental_files",
    oracle="""
    SELECT FALSE AS is_new, CAST(200 AS BIGINT) AS n_rows
    UNION ALL
    SELECT TRUE AS is_new, CAST(400 AS BIGINT) AS n_rows
    """,
)
def scan_incremental_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level incremental batch processing: write a two-delivery
    landing dir, then process ONLY files newer than the first delivery's
    high-water mark, using the `_metadata.file_modification_time` hidden
    column plus a boundary-tick path manifest (see
    :func:`incremental_audit`) — the batch complement to streaming's
    checkpoint log (reprocessing window = files newer than the last
    successful run). r8: the manifest tie-break replaced the old
    ``time.sleep(1.1)`` mtime-separation hack, so the audit is correct
    even when both deliveries land within one filesystem timestamp tick.

    Returns the delivery-grain audit (is_new, n_rows) — is_new=true only
    for the second delivery's rows — asserting the watermark actually
    filters. Delivery row counts are deterministic (200 then 400), so the
    audit is oracle-checked; per-file detail stays internal because part
    file names and mtimes are environment-dependent.

    Scale shape: the mtime predicate is evaluated on FILE metadata before
    row decoding (constant per split), so old deliveries cost directory
    listing only, not I/O.
    """
    o = load_table(spark, sf_dir, "orders").limit(400)
    out = _tmpdir("scan_incremental")
    o.limit(200).write.mode("overwrite").parquet(f"{out}/d1")
    o.write.mode("append").parquet(f"{out}/d2")
    return incremental_audit(spark, [f"{out}/d1", f"{out}/d2"], "/d1/")
