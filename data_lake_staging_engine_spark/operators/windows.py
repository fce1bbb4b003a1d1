"""§2.C Window functions — ranking, lag/lead, running/moving/range frames.

Determinism discipline: every window ORDER BY carries a unique tie-break
key (event_id / o_orderkey); frames are always explicit (default frames
differ between engines for last_value — SURVEY.md §5.4 item 4); frame
sums use the decimal cast so in-frame accumulation is order-independent.

Scale: a window = one shuffle on the partition key + per-partition sort.
All partitions here (user_id, o_custkey) are high-cardinality, so the
shuffle is balanced; AQE splits stragglers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.functions.determinism import (
    as_long,
    dec_sum,
    duck_round,
)
from data_lake_staging_engine_spark.registry import query
from data_lake_staging_engine_spark.sources import load


@query(
    "c01_win_ranking",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist()    OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def c01_win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        as_long(F.row_number().over(w)).alias("rn"),
        as_long(F.rank().over(w)).alias("rnk"),
        as_long(F.dense_rank().over(w)).alias("drnk"),
        as_long(F.ntile(4).over(w)).alias("quartile"),
        duck_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        duck_round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "c02_win_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           lag(event_id)  OVER w AS prev_event_id,
           lead(event_id) OVER w AS next_event_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS micros_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def c02_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = load(spark, sf_dir, "events")
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "micros_since_prev"
        ),
    )


@query(
    "c03_win_running_sum",
    oracle="""
    SELECT user_id, event_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS running_value
    FROM events
    """,
)
def c03_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = load(spark, sf_dir, "events")
    return e.select(
        "user_id",
        "event_id",
        duck_round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"), 2
        ).alias("running_value"),
    )


@query(
    "c04_win_moving_rows",
    oracle="""
    SELECT user_id, event_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 4) AS moving_avg5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
    """,
)
def c04_win_moving_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 2)
    e = load(spark, sf_dir, "events")
    frame_sum = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    frame_n = F.count(F.lit(1)).over(w)
    return e.select(
        "user_id",
        "event_id",
        duck_round(frame_sum / frame_n, 4).alias("moving_avg5"),
    )


@query(
    "c05_win_range_interval",
    oracle="""
    SELECT user_id, event_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS trailing_1h
    FROM events
    """,
)
def c05_win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range frame (trailing 1 hour). Spark RANGE frames need a
    numeric sort key, so both engines order by TRUNCATED epoch-seconds
    (`div` / `//` both truncate toward zero, including pre-1970
    negatives with fractional seconds) — identical frame boundaries by
    construction, pinned by tests/test_negative_values.py (§2 c05)."""
    e = load(spark, sf_dir, "events").withColumn(
        "_sec", F.expr("unix_micros(ts) div 1000000")
    )
    w = Window.partitionBy("user_id").orderBy("_sec").rangeBetween(-3600, 0)
    return e.select(
        "user_id",
        "event_id",
        duck_round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"), 2
        ).alias("trailing_1h"),
    )


@query(
    "c06_win_first_last",
    oracle="""
    SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date,
           first_value(event_type) OVER w AS first_et,
           last_value(event_type)  OVER w AS last_et
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def c06_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts").cast("timestamp")
    )
    w = (
        Window.partitionBy("user_id", "event_date")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        "event_date",
        F.first("event_type").over(w).alias("first_et"),
        F.last("event_type").over(w).alias("last_et"),
    ).distinct()


def _dense_hour_grid(e: DataFrame) -> DataFrame:
    """Dense hourly timestamp grid over the hour-truncated global
    [min, max] span of ``e.ts`` — DISTRIBUTED generation.

    The naive shape (one ``sequence(lo, hi, 1 hour)`` on the bounds row,
    exploded) materializes the whole grid as ONE array in ONE task —
    grid size is proportional to the DATA'S TIME SPAN, not to the row
    count, so a single out-of-range timestamp blows it up: the round-9
    time-hostile corpus (events from 1500 to 2260) turns the grid into
    a 6.7M-element single-task array, and the downstream
    ``F.broadcast(grid)`` into a ~40M-row broadcast. That is exactly
    the kind of hidden driver/SPOF dependence that dies at 100 TB.

    This helper generates the same set of hours in two explode levels:
    year sequence (≤ 10 000 elements — bounded by the timestamp type's
    year domain, independent of data volume) exploded on the bounds
    row, hash-repartitioned so each year lands on its own task, then a
    per-year hour sequence (≤ 8 784 elements per task). Max per-task
    array size is constant; generation parallelism scales with the
    span. Callers join the grid to aggregated observations WITHOUT a
    grid-side broadcast hint — AQE picks the strategy from runtime
    sizes (at fixture scale it broadcasts the small agg side)."""
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    years = bounds.select(
        "lo", "hi", F.explode(F.sequence(F.year("lo"), F.year("hi"))).alias("y")
    ).repartition(F.col("y"))
    zero = F.lit(0)
    return years.select(
        F.explode(
            F.sequence(
                F.greatest(
                    F.make_timestamp(F.col("y"), F.lit(1), F.lit(1), zero, zero, zero),
                    F.col("lo"),
                ),
                F.least(
                    F.make_timestamp(
                        F.col("y"), F.lit(12), F.lit(31), F.lit(23), zero, zero
                    ),
                    F.col("hi"),
                ),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h")
    )


@query(
    "c07_gapfill",
    oracle="""
    WITH bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                           date_trunc('hour', MAX(ts)) AS hi FROM events),
         hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                   FROM bounds),
         types AS (SELECT DISTINCT event_type FROM events),
         grid AS (SELECT h, event_type FROM hours CROSS JOIN types),
         agg AS (SELECT date_trunc('hour', ts) AS h, event_type,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM events GROUP BY 1, 2)
    SELECT h, event_type, COALESCE(n, 0) AS n
    FROM grid LEFT JOIN agg USING (h, event_type)
    """,
)
def c07_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: the dense (hour x event_type) grid with
    zero-filled empty buckets (215 of 3600 cells at sf0.01) — the
    resample step dashboards and training-data time features need,
    since a plain groupBy silently drops empty buckets.

    Grid construction is the distributed two-level explode of
    ``_dense_hour_grid`` (span-proportional grids must not be a single
    task or a broadcast — see the helper docstring) cross-joined with
    the broadcast distinct keys, then a left join back to the
    aggregated counts with the strategy left to AQE — the only
    big-data pass is the original aggregation."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    types = e.select("event_type").distinct()
    grid = _dense_hour_grid(e).crossJoin(F.broadcast(types))
    return grid.join(agg, ["h", "event_type"], "left").select(
        "h", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


@query(
    "c08_win_forward_fill",
    oracle="""
    WITH bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                           date_trunc('hour', MAX(ts)) AS hi FROM events),
         hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                   FROM bounds),
         types AS (SELECT DISTINCT event_type FROM events),
         grid AS (SELECT h, event_type FROM hours CROSS JOIN types),
         agg AS (SELECT date_trunc('hour', ts) AS h, event_type,
                        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                          AS hour_sum
                 FROM events GROUP BY 1, 2)
    SELECT h, event_type, hour_sum,
           last_value(hour_sum IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING) AS filled_sum
    FROM grid LEFT JOIN agg USING (h, event_type)
    """,
)
def c08_win_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill over the dense time grid: empty (hour, type) cells
    carry the last observed hourly sum forward — the fill step after
    c07's gap detection, and the standard treatment for sensor/metric
    series before feature extraction. Leading cells before any
    observation stay NULL on both engines.

    TWO-PHASE decomposition (round 10; the round-9 residual was that a
    single ``PARTITION BY event_type`` running fill puts each type's
    whole dense series through ONE window task — a few-types,
    multi-century grid serializes on it):

    1. *Local phase*: running ``last IGNORE NULLS`` per (event_type,
       YEAR) block — parallelism scales with span (one task per
       type-year, ≤ 8 784 rows each), the same block unit as
       ``_dense_hour_grid``'s generation.
    2. *Boundary phase*: per block, the last OBSERVED value — computed
       from the small aggregated observations table, NOT the dense
       grid, so the heavy grid+window subtree is built exactly once
       (the first cut aggregated block-lasts from phase 1's output and
       Spark planned the whole grid window TWICE, once per branch) —
       then the carry-in for each block = last non-NULL block-last
       among strictly earlier blocks, over the full span's year x type
       block roster.  This window IS per-type single-task, but over
       #blocks = types x years rows (hundreds), not types x hours
       (millions).
    3. ``filled = coalesce(local_fill, carry_in)`` after broadcasting
       the tiny carry table back onto the blocks.

    Equivalent to the global window for every cell (a cell's nearest
    earlier observation is either inside its own block — local phase —
    or the latest observation of an earlier block — carry); pinned
    flat across a 150-year span in tests/test_time_hostile.py::
    test_forward_fill_two_phase_wide_span and hash-green vs the
    single-window oracle on the fixtures."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        dec_sum("value").alias("hour_sum")
    )
    types = e.select("event_type").distinct()
    grid = _dense_hour_grid(e).crossJoin(F.broadcast(types))
    sparse = grid.join(agg, ["h", "event_type"], "left")
    # Phase 1: per-(type, year) local running fill.
    w_local = (
        Window.partitionBy("event_type", "_blk")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sparse.withColumn("_blk", F.year("h")).withColumn(
        "_local_fill", F.last("hour_sum", ignorenulls=True).over(w_local)
    )
    # Phase 2: carry the last observation across year-block boundaries.
    # Block roster = full year span x types (so carries chain across
    # observation-free years); block last = the newest NON-NULL
    # observed sum in the block (an all-NULL-value hour must not reset
    # the carry — same IGNORE NULLS semantics as the fill window).
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ybounds = e.agg(
        F.year(F.min("ts")).alias("ylo"), F.year(F.max("ts")).alias("yhi")
    )
    blocks = ybounds.select(
        F.explode(F.sequence("ylo", "yhi")).alias("_blk")
    ).crossJoin(F.broadcast(types))
    obs_last = (
        agg.filter(F.col("hour_sum").isNotNull())
        .withColumn("_blk", F.year("h"))
        .groupBy("event_type", "_blk")
        .agg(F.max_by("hour_sum", "h").alias("_blk_last"))
    )
    carries = (
        blocks.join(obs_last, ["event_type", "_blk"], "left")
        .withColumn(
            "_carry", F.last("_blk_last", ignorenulls=True).over(w_carry)
        )
        .select("event_type", "_blk", "_carry")
    )
    # LEFT join (ADVICE r10): a NULL event_type forms its own grid rows
    # on both engines, but equi-joins never match NULL, so the oracle
    # leaves those cells hour_sum=NULL with NULL fill throughout.  An
    # inner join here would DROP them instead; left + the coalesce
    # below reproduces the oracle's keep-with-NULL-fill semantics.
    return local.join(
        F.broadcast(carries), ["event_type", "_blk"], "left"
    ).select(
        "h",
        "event_type",
        "hour_sum",
        F.coalesce("_local_fill", "_carry").alias("filled_sum"),
    )


@query(
    "c09_win_nth_trailing",
    oracle="""
    SELECT user_id, event_id,
           nth_value(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_type,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 4) AS trailing3_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    """,
)
def c09_win_nth_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value + a trailing-EXCLUSIVE frame (3 PRECEDING..1
    PRECEDING): the 'previous three, not me' window a feature pipeline
    uses for leak-free trailing aggregates (current row excluded so the
    feature never sees its own label row). Empty frame on each
    partition's first row => NULL on both engines. nth_value gets the
    explicit UNBOUNDED/UNBOUNDED frame (the §5.4 item 4 default-frame
    trap also bites nth_value); the trailing average is the c04
    decimal-sum/count construction, exact at any parallelism. One
    shuffle on user_id serves both window specs."""
    e = load(spark, sf_dir, "events")
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_trail = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, -1)
    )
    frame_sum = F.sum(F.col("value").cast("decimal(18,2)")).over(w_trail).cast(
        "double"
    )
    frame_n = F.count(F.lit(1)).over(w_trail)
    return e.select(
        "user_id",
        "event_id",
        F.nth_value("event_type", 2).over(w_full).alias("second_type"),
        duck_round(frame_sum / frame_n, 4).alias("trailing3_avg"),
    )


@query(
    "c10_win_sessionize",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) // 1000000
               - CASE WHEN epoch_us(ts) % 1000000 < 0 THEN 1 ELSE 0 END
               AS sec
      FROM events
    ),
    g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN sec - lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_seq
    FROM g
    """,
)
def c10_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization (the e03 streaming session windows, as the
    offline twin): a gap > 30 min since the previous event starts a new
    session; session id = running count of session starts per user —
    the lag-flag-cumsum idiom. All integer epoch-second arithmetic, so
    the result is exact on both engines: the micros->seconds bucketing
    is FLOOR division on BOTH sides — (m - pmod(m, 1e6)) div 1e6 (pure
    int64) here, trunc-minus-carry (// with a negative-remainder CASE,
    also pure int64 — double division would lose exactness past
    |epoch_us| = 2^53) in the oracle. Floor is the time-bucketing
    convention (date_trunc semantics) and holds for any representable
    timestamp including pre-1970 fractional seconds; note the ADVICE
    r05 premise was inverted — DuckDB's integer `//` TRUNCATES like
    Spark's `div` (verified: -3 // 2 = -1), so the naive fix of
    flooring only the engine side would itself diverge.
    Both the benign-domain parity and a pre-1970 session-boundary-flip
    corpus are pinned in tests/test_negative_values.py. One
    user_id shuffle serves both window specs (lag and the running sum
    share partitioning and ordering); at 100 TB this is a single
    exchange + two in-partition passes, the cheapest sessionization
    there is."""
    e = load(spark, sf_dir, "events").withColumn(
        "_sec",
        F.expr("(unix_micros(ts) - pmod(unix_micros(ts), 1000000)) div 1000000"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("_sec") - F.lag("_sec").over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "user_id",
        "event_id",
        F.sum(is_new).over(w_run).cast("long").alias("session_seq"),
    )
