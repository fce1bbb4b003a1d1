"""§2.A Staging surface — the reference's own pipeline re-expressed.

The reference (andresmaopal/data-lake-staging-engine, per the driver's
characterization in BASELINE.json — the checkout itself is empty,
SURVEY.md §0) is an S3 event-driven micro-batch ETL: object lands →
read CSV/JSON → normalize columns → cast types → derive date partitions
→ write snappy Parquet partitioned → sync Glue catalog. Each query here
is one stage of that pipeline as a first-class, oracle-verified Spark
operator; a13 (streaming/) composes them end-to-end.

Self-containment: ingest queries write their own CSV/JSON landing copies
to a temp dir first (from fixture tables), then ingest them — so the
oracle can verify against the original fixture table.

Scale posture: every stage is a narrow map transform except the
explicit shuffles (dedup window, compaction repartition); partitioned
sinks produce Hive-style layouts that give downstream readers static
partition pruning for free.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from data_lake_staging_engine_spark.catalog import SessionCatalogSync, drop_managed_table
from data_lake_staging_engine_spark.functions.determinism import (
    as_long,
    dec_sum,
    duck_round,
)
from data_lake_staging_engine_spark.registry import query
from data_lake_staging_engine_spark.sources import load
from data_lake_staging_engine_spark.sources.incremental import IncrementalLoader


def _tmpdir(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"dlse_{tag}_")


def normalize_name(name: str) -> str:
    """Staging column hygiene: lower snake-case, specials to underscore
    (the reference normalizes incoming headers the same way [PK])."""
    s = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip().lower())
    return re.sub(r"_+", "_", s).strip("_")


def normalize_columns(df: DataFrame) -> DataFrame:
    return df.toDF(*[normalize_name(c) for c in df.columns])


def derive_date_partitions(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive the year/month/day partition columns from the event time —
    the reference's date-partitioned staging prefix layout."""
    return (
        df.withColumn("year", as_long(F.year(ts_col)))
        .withColumn("month", as_long(F.month(ts_col)))
        .withColumn("day", as_long(F.dayofmonth(ts_col)))
    )


# Finite-measure ingest guard — now packaged with the other three
# input contracts in contracts.py (VERDICT r09 #3); re-exported here
# for the existing operator/test call sites.
from data_lake_staging_engine_spark.contracts import (  # noqa: E402,F401
    quarantine_nonfinite,
)


@query("a01_scan_parquet", oracle="SELECT * FROM lineitem")
def a01_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem")


@query("a02_scan_csv", oracle="SELECT * FROM region")
def a02_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest round-trip: fixture -> CSV landing copy -> schema-pinned
    ingest (header on, explicit types — the inferred-then-pinned model)."""
    out = _tmpdir("csv")
    load(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(out)
    schema = StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    )
    return spark.read.option("header", True).schema(schema).csv(out)


@query("a03_scan_json", oracle="SELECT * FROM nation")
def a03_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-JSON ingest round-trip with pinned schema."""
    out = _tmpdir("json")
    load(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").json(out)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    return spark.read.schema(schema).json(out)


@query("a04_normalize_columns", oracle="SELECT r_regionkey, r_name FROM region")
def a04_normalize_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy incoming headers -> canonical snake_case."""
    messy = load(spark, sf_dir, "region").toDF("R RegionKey", "  r  Name ")
    return normalize_columns(messy)


@query(
    "a05_apply_schema_cast",
    oracle="SELECT event_id, ts, user_id, value FROM events",
)
def a05_apply_schema_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema application on string-typed ingest: stringify then cast
    back to target types — lossless round-trip proves the cast layer."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("string").alias("ts_s"),
        F.col("user_id").cast("string").alias("user_id_s"),
        F.col("value").cast("string").alias("value_s"),
    )
    return e.select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.col("user_id_s").cast("long").alias("user_id"),
        F.col("value_s").cast("double").alias("value"),
    )


@query(
    "a06_partition_derive",
    oracle="""
    SELECT event_id, year(ts) AS year, month(ts) AS month, day(ts) AS day
    FROM events
    """,
)
def a06_partition_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("event_id", "ts")
    return derive_date_partitions(e).drop("ts")


@query(
    "a07_dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id, event_type, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def a07_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key upsert semantics: latest record per key wins (staging
    micro-batch dedup). One shuffle on the key; at 100 TB this is the
    standard CDC-compaction shape."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        load(spark, sf_dir, "events")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@query(
    "a08_quality_nullcounts",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(event_id) AS nulls_event_id,
           COUNT(*) - COUNT(ts) AS nulls_ts,
           COUNT(*) - COUNT(user_id) AS nulls_user_id,
           COUNT(*) - COUNT(event_type) AS nulls_event_type,
           COUNT(*) - COUNT(value) AS nulls_value,
           COUNT(*) - COUNT(props) AS nulls_props
    FROM events
    """,
)
def a08_quality_nullcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality report — the staging validation gate."""
    e = load(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in e.columns
    ]
    return e.agg(*aggs)


@query(
    "a09_sink_parquet_partitioned",
    oracle="""
    SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day, COUNT(*) AS n
    FROM events GROUP BY 1, 2, 3
    """,
)
def a09_sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the date-partitioned staging layout, then read it back and
    count per partition — verifies the physical sink + partition
    discovery. Partition values come back as directory-derived ints.

    The pre-write ``repartition(partition_cols)`` co-locates each
    output partition in one task: one file per (y,m,d) dir instead of
    tasks x dirs small files — at 100 TB the difference between a
    healthy layout and a file-count explosion (pair with a10
    compaction for size targets)."""
    staged = _tmpdir("staged")
    e = derive_date_partitions(load(spark, sf_dir, "events"))
    (
        e.repartition("year", "month", "day")
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .parquet(staged)
    )
    # explicit schema: a zero-row write leaves no files to infer from
    # (empty landing partition — round-9 empty-input audit)
    back = spark.read.schema(e.schema).parquet(staged)
    return back.groupBy(
        as_long(F.col("year")).alias("year"),
        as_long(F.col("month")).alias("month"),
        as_long(F.col("day")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query("a10_compaction", oracle="SELECT event_id, user_id, value FROM events")
def a10_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: rewrite to N right-sized files, rows
    preserved. At 100 TB: target ~128MB-1GB files; repartition count =
    input_bytes / target; this is the anti-small-files maintenance job
    every event-driven staging layout needs."""
    out = _tmpdir("compact")
    load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).repartition(4).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query("a11_catalog_sync", oracle="SELECT * FROM region")
def a11_catalog_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage + catalog-register + read-back-by-name round trip
    (catalog.SessionCatalogSync; Glue wiring notes there)."""
    cat = SessionCatalogSync()
    cat.sync_table(load(spark, sf_dir, "region"), "staged_region")
    return cat.read_table(spark, "staged_region")


@query(
    "a12_incremental_ingest",
    oracle="SELECT event_id, user_id, value FROM events",
)
def a12_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch incremental load with a processed-files manifest:
    batch 1 lands and is processed; batch 2 lands; the second pass picks
    up ONLY batch 2 (verified: union of the two passes equals the full
    table, and pass 2 re-reads nothing from pass 1)."""
    landing = _tmpdir("landing")
    manifest = os.path.join(_tmpdir("manifest"), "manifest.json")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    split = e.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    e.filter(F.col("event_id") <= split).coalesce(1).write.mode("append").parquet(landing)
    loader = IncrementalLoader(landing, manifest)
    first = loader.process_new(spark)
    n_first_files = len(loader._seen())
    e.filter(F.col("event_id") > split).coalesce(1).write.mode("append").parquet(landing)
    second = loader.process_new(spark)
    assert second is not None and n_first_files < len(loader._seen())
    assert loader.process_new(spark) is None  # third pass: nothing new
    return first.unionByName(second)


@query(
    "a13_stream_ingest_foreachbatch",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           year(ts) AS year, month(ts) AS month, day(ts) AS day
    FROM events
    """,
)
def a13_stream_ingest_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline end-to-end (SURVEY.md §3.2 EP1):

    landing dir -> readStream file source -> normalize + derive date
    partitions -> foreachBatch: write date-partitioned parquet + sync
    session catalog -> AvailableNow trigger drains deterministically ->
    read the staged table back by catalog name.

    This is the Spark-native equivalent of the reference's
    S3-event->Lambda->Parquet->Glue loop: the file-source checkpoint
    replaces S3 notifications, foreachBatch replaces the Lambda body,
    saveAsTable/Glue-catalog replaces the Glue sync call. The pipeline
    object itself is the public ``pipeline.StagingPipeline``; this query
    drives it end-to-end under the oracle check."""
    from data_lake_staging_engine_spark.pipeline import StagingPipeline
    from data_lake_staging_engine_spark.streaming.runner import landing_copy

    landing, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=_tmpdir("staged13"),
        checkpoint_dir=_tmpdir("ckpt13"),
        table="staged_events_stream",
        schema=schema,
    )
    back = pipe.run_available_now(timeout_s=120)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        as_long(F.col("year")).alias("year"),
        as_long(F.col("month")).alias("month"),
        as_long(F.col("day")).alias("day"),
    )


@query(
    "a15_bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_price
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def a15_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written with
    ``bucketBy(8, join_key)`` so the join needs NO shuffle exchange —
    bucket files are already hash-partitioned identically on disk.

    At 100 TB this is THE lever for repeated fact-dim joins on the same
    key: pay the shuffle once at staging time, never at query time
    (`tests/test_plans.py` asserts the exchange-free plan). The merge
    hint pins SortMergeJoin so the demonstration doesn't degenerate to
    a broadcast at test scale."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    for df, table, key in (
        (cust, "bkt_customer", "c_custkey"),
        (orders, "bkt_orders", "o_custkey"),
    ):
        drop_managed_table(spark, table)
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(table)
        )
    c = spark.table("bkt_customer").hint("merge")
    o = spark.table("bkt_orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "a16_partition_pruned_scan",
    oracle="""
    SELECT day(ts) AS day, COUNT(*) AS n
    FROM events
    WHERE day(ts) <= 7
    GROUP BY 1
    """,
)
def a16_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning over the staged layout: a day filter on the
    date-partitioned sink must touch only matching directories — the
    scan's PartitionFilters prune ~3/4 of the fixture's 30 day-dirs
    before any file is opened (`tests/test_plans.py` asserts it). This
    is why the staging layout derives date partitions at ingest: at
    100 TB a one-week query reads one week, not the lake."""
    staged = _tmpdir("staged16")
    e = derive_date_partitions(load(spark, sf_dir, "events"))
    (
        e.repartition("year", "month", "day")
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .parquet(staged)
    )
    # explicit schema: zero-row write => no files => inference throws
    back = spark.read.schema(e.schema).parquet(staged)
    return (
        back.filter(F.col("day") <= 7)
        .groupBy(as_long(F.col("day")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "a17_dynamic_partition_overwrite",
    oracle="""
    SELECT day(ts) AS day, COUNT(*) AS n
    FROM events
    WHERE NOT (day(ts) = 5 AND event_type = 'click')
    GROUP BY 1
    """,
)
def a17_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reprocess one partition in place: dynamic partition overwrite
    replaces ONLY the partitions present in the incoming write, leaving
    the rest of the table untouched.

    Scenario: the staged layout holds a month of day-partitioned
    events; a quality fix (drop 'click' rows) must be re-applied to
    day 5 only. With ``partitionOverwriteMode=dynamic`` the corrected
    day-5 frame overwrites exactly the day=5 directory — the idempotent
    backfill/reprocess primitive every event-driven lake needs (static
    overwrite mode would wipe the other 29 days)."""
    staged = _tmpdir("staged17")
    e = derive_date_partitions(load(spark, sf_dir, "events"))
    e.write.mode("overwrite").partitionBy("year", "month", "day").parquet(staged)
    fixed_day5 = e.filter((F.col("day") == 5) & (F.col("event_type") != "click"))
    (
        fixed_day5.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month", "day")
        .parquet(staged)
    )
    # explicit schema: zero-row write => no files => inference throws
    back = spark.read.schema(e.schema).parquet(staged)
    return back.groupBy(as_long(F.col("day")).alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "a18_python_datasource",
    oracle="""
    WITH feed AS (SELECT i AS txn_id, CAST(i % 10 AS INT) AS bucket,
                         (i * 7919 % 10000) / 100.0 AS amount
                  FROM generate_series(0, 9999) t(i))
    SELECT bucket, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_amount
    FROM feed GROUP BY bucket
    """,
)
def a18_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API
    (sources/custom.py): a deterministic synthetic ledger feed planned
    as 8 executor-side partitions, aggregated per bucket. The generator
    is seeded integer arithmetic, so DuckDB reproduces the identical
    rows from generate_series and the full connector path (partition
    planning -> per-partition read -> Arrow batches -> agg) is
    hash-verified."""
    from data_lake_staging_engine_spark.sources.custom import (
        build_synthetic_ledger_datasource,
    )

    try:
        spark.dataSource.register(build_synthetic_ledger_datasource())
    except Exception:
        pass  # already registered in this session
    feed = (
        spark.read.format("synthetic_ledger")
        .option("rows", "10000")
        .option("partitions", "8")
        .load()
    )
    return feed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("amount").alias("total_amount"),
    )


def make_keyed_upsert(
    spark: SparkSession,
    state_dir: str,
    key_cols: tuple[str, ...] = ("user_id",),
    order_cols: tuple[str, ...] = ("ts", "event_id"),
):
    """foreachBatch callable maintaining a keep-latest state table via
    read-merge-ATOMIC-SWAP — the production body behind a19, exported
    so the kill/restart recovery tests exercise THIS code rather than
    a copy that could silently drift (round-11 review finding).

    Crash recovery: a kill between the two renames of a previous
    attempt of the SAME batch leaves no 'current' but an intact
    pre-batch snapshot under old{batch_id} — restore it and recompute
    (the merge is deterministic, so the replay converges).  Every
    other interruption point is already safe: mid-write kills leave a
    partial v{batch_id} that the replay overwrites, and a kill after
    the final rename replays onto the post-state, where keep-latest is
    idempotent."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        current_path = os.path.join(state_dir, "current")
        tmp_old = os.path.join(state_dir, f"old{batch_id}")
        if not os.path.isdir(current_path) and os.path.isdir(tmp_old):
            os.rename(tmp_old, current_path)
        if os.path.isdir(current_path):
            current = spark.read.schema(batch_df.schema).parquet(current_path)
            merged = (
                current.unionByName(batch_latest)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            merged = batch_latest
        next_path = os.path.join(state_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(next_path)
        # atomic-swap the 'current' pointer (rename is atomic per-dir);
        # clear any leftover old{batch_id} from a replayed attempt
        # first — rename onto an existing dir raises.
        shutil.rmtree(tmp_old, ignore_errors=True)
        if os.path.isdir(current_path):
            os.rename(current_path, tmp_old)
        os.rename(next_path, current_path)
        shutil.rmtree(tmp_old, ignore_errors=True)

    return upsert


@query(
    "a19_stream_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def a19_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed upsert (CDC-style merge) via foreachBatch: a
    multi-batch replay maintains a 'current state per user' table —
    each micro-batch's latest row per key replaces that key's previous
    state (read current + union batch + keep-latest + atomic swap).

    Equals the batch keep-latest dedup (a07 semantics) regardless of
    how files were split into micro-batches — the exactly-once upsert
    argument. At warehouse scale the read-modify-write swap is what
    MERGE INTO does on a transactional table format (Delta/Iceberg);
    on plain parquet the atomic-directory-swap here is the idempotent
    equivalent. Tie-break (ts, event_id) keeps replays deterministic."""
    from data_lake_staging_engine_spark.streaming.runner import drain, landing_copy

    landing_dir, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    state_dir = _tmpdir("upsert_state")
    checkpoint = _tmpdir("ckpt19")
    upsert = make_keyed_upsert(spark, state_dir)
    try:
        drain(
            spark,
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing_dir)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", checkpoint),
            180,
        )
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    final = spark.read.schema(schema).parquet(os.path.join(state_dir, "current"))
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


@query(
    "a20_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(value) AS BIGINT) AS null_values,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM events
    """,
)
def a20_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via the Observation API: the
    ingest scan carries observe() accumulators (row count, null count,
    decimal total), collected as a side effect of the pass the pipeline
    already makes — no second scan. This is how a staging flow emits
    per-batch quality telemetry at 100 TB without re-reading; the same
    observe() attaches to StagingPipeline micro-batches."""
    from pyspark.sql import Observation

    obs = Observation("ingest_quality")
    e = load(spark, sf_dir, "events")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        duck_round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the ingest pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["null_values"], m["total_value"])],
        "n_rows bigint, null_values bigint, total_value double",
    )


@query(
    "a21_schema_evolution",
    oracle="""
    SELECT event_id, user_id, value,
           CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type
    FROM events
    """,
)
def a21_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the staged layout: an old batch written
    WITHOUT a column and a new batch written WITH it are read back as
    one table via ``mergeSchema`` — the old rows surface NULL for the
    added column. This is the additive-evolution contract a staging
    layer must honor when upstream feeds grow fields (the
    inferred-then-pinned model of SURVEY §1.1: new columns append to
    the pinned schema; they never rewrite history)."""
    staged = _tmpdir("staged21")
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    old_batch = e.filter(F.col("event_id") % 2 == 0).drop("event_type")
    new_batch = e.filter(F.col("event_id") % 2 == 1)
    old_batch.write.mode("append").parquet(staged)
    new_batch.write.mode("append").parquet(staged)
    back = spark.read.option("mergeSchema", "true").parquet(staged)
    return back.select("event_id", "user_id", "value", "event_type")


@query(
    "a14_bad_records",
    oracle="""
    WITH r AS (SELECT n_nationkey FROM nation),
    good AS (SELECT n_nationkey FROM r WHERE n_nationkey % 5 <> 0)
    SELECT (SELECT COUNT(*) FROM good) AS n_good,
           (SELECT COUNT(*) FROM r WHERE n_nationkey % 5 = 0) AS n_bad,
           md5(COALESCE(
             (SELECT string_agg(CAST(n_nationkey AS VARCHAR), ','
                                ORDER BY n_nationkey) FROM good),
             '')) AS good_digest
    """,
)
def a14_bad_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine, hash tier (VERDICT r15 #5 — f08b's
    pattern applied to JSON ingest): rows where ``n_nationkey % 5 ==
    0`` are deterministically mangled in flight (closing brace dropped,
    so the line is unparseable JSON), the landing is read back
    PERMISSIVE with ``_corrupt_record``, and the result carries
    (n_good, n_bad, md5 digest of the surviving keys).  The oracle
    recomputes WHICH rows corrupt from the same key rule — DuckDB
    never parses the bad JSON, yet the hash compare proves the
    quarantine caught exactly the mangled subset and nothing else.
    The reference genre routes such rows to a dead-letter prefix;
    here they are countable, filterable, and attributable in one
    pass."""
    out = _tmpdir("badjson")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    line = F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey"))
    mangled = F.when(
        F.col("n_nationkey") % 5 == 0,
        F.expr("substring(line, 1, length(line) - 1)"),
    ).otherwise(F.col("line"))
    n.withColumn("line", line).select(mangled.alias("value")).write.mode(
        "overwrite"
    ).text(out)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    ).cache()
    ok = F.col("_corrupt_record").isNull()
    # sort numerically THEN stringify: lexicographic "10" < "2" would
    # diverge from the oracle's ORDER BY n_nationkey
    good_keys = F.sort_array(
        F.collect_list(F.when(ok, F.col("n_nationkey")))
    )
    return df.agg(
        F.sum(ok.cast("long")).alias("n_good"),
        F.sum((~ok).cast("long")).alias("n_bad"),
        F.md5(
            F.concat_ws(
                ",", F.transform(good_keys, lambda k: k.cast("string"))
            )
        ).alias("good_digest"),
    )


@query(
    "a22_versioned_snapshot",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE day(ts) <= 15
    """,
)
def a22_versioned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned staging (time travel lite): each publish
    writes an immutable version directory and flips a manifest pointer;
    readers resolve a version (or 'latest') through the manifest, so an
    in-progress publish can never be half-read and old versions stay
    queryable — the core isolation idea of table formats
    (Delta/Iceberg), reduced to a manifest file over plain Parquet.

    The query publishes v1 (first half of the month) then v2 (full
    month), reads v1 BACK through the manifest, and the oracle proves
    the old snapshot is intact after the v2 publish.  Round 12
    promoted the inline manifest machinery to the reusable
    ``versioning.VersionedTable`` (which adds the ``vacuum`` retention
    lifecycle — tests/test_versioning.py); this query now drives that
    surface."""
    from data_lake_staging_engine_spark.versioning import VersionedTable

    table = VersionedTable(_tmpdir("versioned"))
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")

    assert table.publish(e.filter(F.dayofmonth("ts") <= 15)) == 1
    assert table.publish(e) == 2
    assert table.read(spark).count() == e.count()  # latest == v2
    return table.read(spark, 1).select("event_id", "user_id", "value")


# ---------------------------------------------------------------------------
# a23: non-additive schema evolution — explicit type-widening read.
#
# Parquet mergeSchema handles the ADDITIVE case only (a21); batches whose
# shared columns changed PHYSICAL TYPE (int32 -> int64, float -> double —
# what upstream feeds do when ids outgrow int or metrics gain precision)
# make mergeSchema throw. The staging answer is an explicit, auditable
# widening policy applied on read: never rewrite history, never guess.

# Lossless widening lattice. Integrals widen among themselves; float
# widens to double; an integral meets a floating type at double ONLY if
# the integral is <= 32 bits (int32 -> double is exact; long -> double
# silently loses precision past 2^53, so it is REFUSED — callers must
# stage an explicit transform if they want that).
_INT_RANK = {ByteType(): 1, ShortType(): 2, IntegerType(): 3, LongType(): 4}
_FLOAT_RANK = {FloatType(): 1, DoubleType(): 2}


def widen_type(a: DataType, b: DataType) -> DataType:
    """Least lossless common type of two batch field types, or raise."""
    if a == b:
        return a
    if a in _INT_RANK and b in _INT_RANK:
        return a if _INT_RANK[a] >= _INT_RANK[b] else b
    if a in _FLOAT_RANK and b in _FLOAT_RANK:
        return a if _FLOAT_RANK[a] >= _FLOAT_RANK[b] else b
    int_rank = _INT_RANK.get(a) or _INT_RANK.get(b)
    float_rank = _FLOAT_RANK.get(a) or _FLOAT_RANK.get(b)
    if int_rank and float_rank and int_rank <= _INT_RANK[IntegerType()]:
        return DoubleType()
    raise TypeError(
        f"incompatible schema evolution: no lossless widening from "
        f"{a.simpleString()} to {b.simpleString()}"
    )


def widen_schemas(schemas: list[StructType]) -> StructType:
    """Field-by-name union of batch schemas under ``widen_type``.

    Field order is first-seen across batches; a field absent from some
    batches stays nullable (the additive case folds in for free)."""
    out: dict[str, DataType] = {}
    for schema in schemas:
        for f in schema.fields:
            out[f.name] = (
                widen_type(out[f.name], f.dataType) if f.name in out else f.dataType
            )
    return StructType([StructField(n, t, True) for n, t in out.items()])


def read_widened(spark: SparkSession, batch_dirs: list[str]) -> DataFrame:
    """Read heterogeneous-schema parquet batches as ONE widened table.

    Each batch is scanned with its own footer schema, cast column-wise
    to the widened target (missing columns become typed NULLs), and the
    casts union by name. Scale posture: schema inference touches only
    footers; the casts are per-batch narrow projections fused into each
    scan (no shuffle, no common-ancestor rewrite), so at 100 TB this
    costs exactly one pass like any plain read. Partition-count scaling
    (VERDICT r03 #7): the unionByName concatenates each batch's input
    splits, so task count = sum of per-batch splits — governed by
    ``spark.sql.files.maxPartitionBytes`` exactly like a single-schema
    scan; a widened read of B batches never collapses onto one batch's
    parallelism and never re-partitions."""
    if not batch_dirs:
        raise ValueError("read_widened requires at least one batch dir")
    parts = [spark.read.parquet(d) for d in batch_dirs]
    target = widen_schemas([p.schema for p in parts])
    casted = [
        p.select(
            *[
                (
                    F.col(f.name) if f.name in p.columns else F.lit(None)
                ).cast(f.dataType).alias(f.name)
                for f in target.fields
            ]
        )
        for p in parts
    ]
    out = casted[0]
    for c in casted[1:]:
        out = out.unionByName(c)
    return out


@query(
    "a23_schema_widening",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN event_id % 2 = 0
                THEN CAST(CAST(value AS REAL) AS DOUBLE)
                ELSE value END AS value,
           CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type
    FROM events
    """,
)
def a23_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-additive schema evolution: an old batch staged with narrow
    types (user_id int32, value float32, no event_type column) and a new
    batch with the widened feed (int64/double + the added column) read
    back as one table via the explicit widening policy — old ids/values
    upcast losslessly, old rows surface NULL for the added column. The
    float->double upcast is bit-exact in both engines (IEEE round-trip),
    so this stays hash tier."""
    staged = _tmpdir("staged23")
    old_dir, new_dir = os.path.join(staged, "b0"), os.path.join(staged, "b1")
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    # The narrow write runs with ANSI off, where an int cast silently
    # wraps past int32 — guard in-pass (distributed, same scan) so a
    # fixture whose user_id domain grows fails loudly instead of
    # diverging from the oracle (ADVICE r03).
    uid_int32 = F.when(
        F.assert_true(
            F.col("user_id") < (1 << 31),
            "a23: user_id exceeds int32; narrow staging write would wrap",
        ).isNull(),
        F.col("user_id"),
    ).cast("int")
    # Same loud-failure posture for the narrow FLOAT leg: Spark's
    # non-ANSI double->float cast saturates an out-of-float32-range
    # value to +-Infinity (silent corruption of the staged feed), and
    # DuckDB refuses the same cast outright — the round-13 hostile
    # matrix caught the divergence on the numeric-hostile corpus's
    # -1e300 class.  Guard in-pass (distributed, same scan); NULLs and
    # already-infinite feed values pass through untouched.
    val_float32 = F.when(
        F.assert_true(
            F.col("value").isNull()
            | F.isnan("value")
            | F.col("value").isin(float("inf"), float("-inf"))
            | (F.abs(F.col("value")) <= F.lit(3.4028234663852886e38)),
            "a23: value exceeds float32 range; narrow staging write "
            "would saturate to Infinity",
        ).isNull(),
        F.col("value"),
    ).cast("float")
    (
        e.filter(F.col("event_id") % 2 == 0)
        .select(
            "event_id",
            uid_int32.alias("user_id"),
            val_float32.alias("value"),
        )
        .write.parquet(old_dir)
    )
    e.filter(F.col("event_id") % 2 == 1).write.parquet(new_dir)
    back = read_widened(spark, [old_dir, new_dir])
    assert [f.dataType for f in back.schema.fields if f.name in ("user_id", "value")] \
        == [LongType(), DoubleType()]
    return back.select("event_id", "user_id", "value", "event_type")


@query(
    "a24_sink_orc",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders",
)
def a24_sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/scan round-trip — the second columnar format a staging
    layer meets (some downstream warehouses are ORC-native). Write the
    projected table as ORC, read it back: proves the format adapter
    preserves types/values exactly like the parquet path (a01). Narrow
    projection on both sides; the ORC reader keeps predicate pushdown
    and column pruning just like parquet, so the staging posture is
    format-independent. 100 TB posture (VERDICT r03 #7): the write is
    shuffle-free (task count = input splits; one ORC file per task), so
    sizing follows the same levers as parquet — maxPartitionBytes on
    the read side, a10-style compaction to 128 MB–1 GB stripes on the
    layout side; ORC stripe statistics then give the same
    row-group-skipping scan the parquet path gets for free."""
    out = _tmpdir("orc")
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .orc(out)
    )
    return spark.read.orc(out)


@query(
    "a25_scan_xml",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def a25_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest round-trip via Spark 4's NATIVE xml data source
    (spark-xml was folded into core in 4.0 — no external jar): fixture
    -> row-tagged XML landing copy -> schema-pinned read (same
    inferred-then-pinned model as a02/a03). 100 TB posture: XML is not
    byte-splittable on the rowTag, so read parallelism = landing-file
    count — exactly the many-small-objects shape the event-driven
    upstream produces; a10-style compaction then re-lands the payload
    columnar, so XML only ever exists at the ingest edge."""
    out = _tmpdir("xml")
    (
        load(spark, sf_dir, "nation")
        .coalesce(1)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(out)
    )
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "a26_scan_binaryfile",
    oracle="""
    SELECT r_name || '.bin' AS file_name,
           CAST(strlen(r_name) AS BIGINT) AS length,
           md5(r_name) AS content_md5
    FROM region
    """,
)
def a26_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingest via the built-in ``binaryFile`` source —
    the entry point of the multimodal path (g09/f08 consume the same
    (path, length, content) shape): land raw objects, read them whole,
    emit identity + integrity metadata (basename, byte length, content
    md5) without decoding. The fixture blobs are written driver-side
    from the 5-row region DIMENSION (bounded by dim cardinality, never
    fact scale — at 100 TB the blobs already exist in object storage
    and this loop disappears; the operator itself is a map-only scan).
    binaryFile streams each object as one row, so partitioning follows
    the file listing: one task per object up to maxPartitionBytes
    packing, which is the right unit for whole-file codecs.

    ZERO-BYTE objects are silently absent from the scan — Spark's file
    sources drop 0-length files at split planning (pinned by the
    round-13 binary-hostile axis, tests/test_binary_hostile.py).  When
    a zero-byte object means upstream failure, reconcile the raw file
    LISTING count against the scanned row count; the scan alone cannot
    see them.  >=256 MB objects round-trip whole (same test)."""
    out = _tmpdir("bin")
    names = [
        r.r_name
        for r in load(spark, sf_dir, "region").select("r_name").collect()
    ]
    for name in names:  # 5-row dimension fixture write, not the operator
        with open(os.path.join(out, f"{name}.bin"), "wb") as fh:
            fh.write(name.encode("utf-8"))
    return (
        spark.read.format("binaryFile")
        .load(out)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length"),
            F.md5("content").alias("content_md5"),
        )
    )


@query(
    "a30_landing_reconcile",
    oracle="""
    SELECT doc_id || '.bin' AS file_name,
           CAST(coalesce(strlen(text), 0) AS BIGINT) AS listed_bytes,
           CAST(CASE WHEN coalesce(strlen(text), 0) > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS scanned
    FROM documents
    WHERE doc_id < 64
    """,
)
def a30_landing_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing-vs-scan reconciliation — productizes the round-13
    binary-hostile axis finding (tests/test_binary_hostile.py): Spark's
    file sources drop 0-length objects at split planning, so a failed
    upload is silently INVISIBLE to the a26 binaryFile scan.  This
    operator joins the raw file LISTING (metadata: name + byte length,
    via the fs backend — POSIX locally, Hadoop listStatus on
    hdfs://s3a://, or an object-store inventory feed at 100 TB)
    against the scan, emitting one row per LISTED object with
    ``scanned`` = whether the scan can see it — the guard a pipeline
    runs when zero-byte objects mean upstream failure.

    The listing is a metadata-scale input (names+sizes, not content) —
    parallelized into a DataFrame and joined distributed; the scan side
    projects file identity only, so the content bytes never move for
    the reconcile.  Fixture: one blob per document of a CONSTANT
    64-doc slice (utf-8 text; empty/NULL texts land zero-byte objects
    — the failure class under reconciliation).  The slice keeps the
    fixture write bounded like a26's dimension loop — at 100 TB the
    landing already exists in object storage and this loop disappears;
    the OPERATOR is the listing + scan + distributed join."""
    from data_lake_staging_engine_spark.fs import filesystem_for

    out = _tmpdir("reconcile")
    rows = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 64)
        .collect()
    )  # constant-bounded fixture landing write (see docstring)
    for r in rows:
        with open(os.path.join(out, f"{r.doc_id}.bin"), "wb") as fh:
            fh.write((r.text or "").encode("utf-8"))
    fs = filesystem_for(out, spark)
    listing = spark.createDataFrame(
        [
            (name, fs.size(os.path.join(out, name)))
            for name in fs.listdir(out)
        ],
        "file_name string, listed_bytes long",
    )
    scanned = (
        spark.read.format("binaryFile")
        .load(out)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.lit(1).cast("long").alias("scanned"),
        )
    )
    return listing.join(scanned, "file_name", "left").select(
        "file_name",
        "listed_bytes",
        F.coalesce("scanned", F.lit(0).cast("long")).alias("scanned"),
    )


@query(
    "a31_versioned_compaction",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           year(ts) AS year, month(ts) AS month, day(ts) AS day
    FROM events
    """,
)
def a31_versioned_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged table's compaction loop end-to-end
    (pipeline.compact_staged):

    drain part of the landing -> fold the committed leaves into a
    VersionedTable snapshot (write v1, flip manifest, DELETE covered
    leaves — no directory rename, so object stores pay no copy)
    -> a LATE file lands and drains on top of the snapshot -> the
    staged read resolves snapshot UNION fresh live leaves through the
    manifest.  The oracle is the full events identity, so the
    hash-match proves no row is lost or doubled across the
    compact-then-append boundary — the exact invariant the
    crash-window tests (tests/test_versioned_compaction.py) pin under
    kills.  a13 is the same pipeline without compaction; a10 is the
    plain repartition rewrite of a static table."""
    from data_lake_staging_engine_spark.pipeline import StagingPipeline
    from data_lake_staging_engine_spark.streaming.runner import landing_copy

    src, schema = landing_copy(spark, sf_dir, "events", n_files=3)
    parts = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
    # A zero-row corpus writes fewer part files than requested
    # (round-9 empty-input axis): stage whatever exists, holding the
    # last file back as the post-compaction late arrival when there
    # is more than one.
    first, late = (
        (parts[:-1], parts[-1:]) if len(parts) > 1 else (parts, [])
    )
    landing = _tmpdir("landing31")
    for name in first:
        shutil.copyfile(
            os.path.join(src, name), os.path.join(landing, name)
        )
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=_tmpdir("staged31"),
        checkpoint_dir=_tmpdir("ckpt31"),
        table="staged_events_versioned",
        schema=schema,
        reader_options={"maxFilesPerTrigger": 1},
    )
    pipe.run_available_now(timeout_s=120)
    pipe.compact_staged()
    for name in late:
        shutil.copyfile(
            os.path.join(src, name), os.path.join(landing, name)
        )
    back = pipe.run_available_now(timeout_s=120)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        as_long(F.col("year")).alias("year"),
        as_long(F.col("month")).alias("month"),
        as_long(F.col("day")).alias("day"),
    )


@query(
    "a27_scan_text",
    oracle="SELECT doc_id, text FROM documents",
)
def a27_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text ingest (``spark.read.text``) — completing the
    built-in source matrix (parquet/csv/json/orc/xml/binaryFile/text):
    fixture -> one tab-delimited line per document -> read back as raw
    lines -> split on the FIRST tab (split limit 2, so payload tabs
    would stay in the text column; the fixture corpus is verified
    tab/newline-free). The line reader is the cheapest possible scan —
    newline-splittable, so read parallelism is byte-range based like
    CSV, and the parse is one codegen split per line. 100 TB posture:
    this is the WET-/log-file entry point; parse-and-reland columnar
    (a09) immediately after, exactly like the CSV path."""
    out = _tmpdir("text")
    (
        load(spark, sf_dir, "documents")
        .select(F.concat_ws("\t", F.col("doc_id"), F.col("text")))
        .write.mode("overwrite")
        .text(out)
    )
    parts = F.split(F.col("value"), "\t", 2)
    # F.get, not .getItem: a landing line with no tab yields a 1-element
    # split, and ANSI mode would THROW on index 1 instead of NULLing —
    # the a14 philosophy (bad records happen) applies at every text
    # ingest site.
    return spark.read.text(out).select(
        F.get(parts, 0).cast("long").alias("doc_id"),
        F.get(parts, 1).alias("text"),
    )


@query(
    "a28_multi_format_union",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def a28_multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-landing union: one logical table arriving as THREE
    physical formats (CSV / JSON / Parquet batches, split by key mod 3),
    each read with the pinned target schema and unioned by name — the
    mixed-feed reality of a staging layer mid-migration, where upstream
    producers switch formats at different times. Doubles survive both
    text formats exactly (writers emit shortest-round-trip decimal
    strings; readers parse back to the identical IEEE value). 100 TB:
    each format's batch is its own scan with its own splitability
    (parquet/CSV byte-ranged, JSON line-split); the union is plan-level
    only — no shuffle, no repartition — so cost is the sum of the scans
    and downstream ops see one DataFrame."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    o = load(spark, sf_dir, "orders").select(*cols)
    base = _tmpdir("multifmt")
    csv_dir, json_dir, pq_dir = (os.path.join(base, d) for d in ("c", "j", "p"))
    key = F.col("o_orderkey") % 3
    o.filter(key == 0).write.mode("overwrite").option("header", True).csv(csv_dir)
    o.filter(key == 1).write.mode("overwrite").json(json_dir)
    o.filter(key == 2).write.mode("overwrite").parquet(pq_dir)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    return (
        spark.read.option("header", True).schema(schema).csv(csv_dir)
        .unionByName(spark.read.schema(schema).json(json_dir))
        .unionByName(spark.read.schema(schema).parquet(pq_dir))
    )


@query(
    "a29_scd2_dimension",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_type, ts, event_id
      FROM (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
      )
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           event_type AS status,
           ts AS effective_from,
           lead(ts) OVER w AS effective_to,
           CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_current
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def a29_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from a change feed: treat
    each user's event stream as attribute changes, collapse consecutive
    same-status rows (change detection via lag), then derive validity
    intervals — effective_from = change ts, effective_to = next change
    ts (exclusive; NULL + is_current=1 for the open row). This is the
    versioned-dimension table a warehouse maintains next to the a07
    keep-latest current view and the a19 streaming upsert. Both windows
    share the (user_id) partitioning and (ts, event_id) ordering, so
    the whole build is ONE shuffle + two in-partition passes at any
    scale; the output is append-only re-derivable (growth-stable) from
    the immutable staged feed."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return ch.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )
