"""§2.E Streaming surface — windowed aggs, watermarks, dedup, custom state.

Each query builds a real ``readStream`` pipeline over a landing copy and
drains it with ``Trigger.AvailableNow`` (runner.py), so results are
batch-deterministic and oracle-checkable; the micro-batch machinery
(file-source checkpointing, state store, output modes) is fully
exercised. e07 (late-data accounting) is rows-only by design — watermark
drops depend on batch boundaries (SURVEY.md §7 hard-list #4).

Scale posture: these exact pipelines run unchanged against a real
landing bucket with a processing-time or AvailableNow trigger; state
stores (window aggs, dedup, custom state) are per-key and shuffle on the
grouping key, the standard Structured Streaming scaling model. The
rows-only/watermark behaviors get dedicated pytest coverage in
tests/test_streaming_behavior.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.functions.determinism import dec_sum, make_cents
from data_lake_staging_engine_spark.registry import query
from data_lake_staging_engine_spark.streaming.runner import (
    drain,
    landing_copy,
    run_to_memory,
    scaled_state_partitions,
)


def _events_stream(spark: SparkSession, sf_dir: str, n_files: int = 1, copies: int = 1):
    """A stream over the events landing copy, with the copy's
    input-sized state partition count (see ``scaled_state_partitions``)."""
    landing, schema = landing_copy(spark, sf_dir, "events", n_files, copies)
    stream = spark.readStream.schema(schema).parquet(landing)
    return stream, scaled_state_partitions(spark, landing)


def _make_spend_fold():
    """Return ``(fold, frame)``, the one per-user spend fold of e06,
    e10 and e10_batch_twin.

    ``fold(state, frames)`` adds the frames' ``value`` column to an
    ``(n, cents, m)`` state: ``n`` counts every row, ``cents`` sums the
    non-NULL values as the oracle's DECIMAL(18,2) cast does and ``m``
    counts them (SQL SUM skips NULLs).  ``frame(key, state)`` is the
    user's output row; an all-NULL user (``m == 0``) totals NULL, as
    SQL SUM does.  A factory, so both closures pickle by value (see
    functions.determinism)."""
    import pandas as pd

    cents = make_cents()

    def fold(state, frames):
        n, c, m = state
        for pdf in frames:
            n += len(pdf)
            for v in pdf["value"]:
                if pd.notna(v):
                    m += 1
                    c += cents(v)
        return n, c, m

    def frame(key, state):
        n, c, m = state
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_spend": pd.Series([c / 100.0 if m else None], dtype=object),
            }
        )

    return fold, frame


_DEC_SUM_ORACLE = "ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)"

# --------------------------------------------------------------------------
# Event-time validity gate for the WATERMARK-CONSUMING stream-stream
# joins (e08/e12). Two engine realities make an explicit validity
# window part of the operator contract, not an optional cleanup:
#
# 1. Structured Streaming's watermark starts at epoch 0 and rows with
#    event time at-or-before it are born late — the round-9 time-hostile
#    sweep showed every epoch-adjacent pair silently missing from e08
#    (spark=47 vs oracle=75; all 28 absent pairs carried a
#    1969-12-31 23:59:59.999999 or 1970-01-01 00:00:00 timestamp).
# 2. One corrupt far-future clock (a 2260 event) drags the watermark
#    centuries ahead, so every subsequent sane row in a later
#    micro-batch is dropped as late — the classic silent-kill of a
#    100 TB streaming pipeline.
#
# The gate filters BELOW the watermark operator (declared before
# ``withWatermark`` in the DataFrame chain, so EventTimeWatermark's
# child only ever sees gated rows) and the identical predicate appears
# in the DuckDB oracle. The batch aggregations (e01-e07, e09-e11) are
# NOT gated: they run complete-mode over whatever arrives and drop
# nothing, so a gate would change their answer for no robustness gain.
#
# Round 10 (ADVICE r09): the bounds are module-level configuration in
# contracts.py (EVENT_TIME_VALID_LO/HI) shared with the packaged
# validate_ingest checkpoint, the Spark predicate and the DuckDB
# oracle text derive from the SAME constants, and the gate attaches an
# observe() metrics node so gated-out rows are counted per micro-batch
# (StreamingQueryProgress.observedMetrics["<query>_gate"]) instead of
# silently discarded.
from data_lake_staging_engine_spark.contracts import (  # noqa: E402
    EVENT_TIME_VALID_HI,
    EVENT_TIME_VALID_LO,
    event_time_validity_sql,
    gate_event_time,
)

# Snapshot the bounds ONCE, at import, and feed the SAME snapshot to
# both engines: the oracle f-strings below are necessarily frozen at
# decoration time, so the Spark gate must freeze too — resolving the
# contracts-module constants at call time instead (the round-10 form)
# let a post-import retune move the Spark gate while the oracle text
# stayed put, de-synchronizing exactly what contracts.py promises
# cannot de-synchronize (ADVICE r10). Retuning now requires setting
# the constants BEFORE importing this module, which re-freezes both
# sides together.
_TS_LO, _TS_HI = EVENT_TIME_VALID_LO, EVENT_TIME_VALID_HI
_TS_VALID_ORACLE = event_time_validity_sql("ts", _TS_LO, _TS_HI)


def _gate_event_time(df, observe_name=None):
    """Apply the event-time validity window (import-time snapshot of
    the contracts.py bounds — see the freeze note above)."""
    return gate_event_time(df, "ts", _TS_LO, _TS_HI, observe_name=observe_name)


@query(
    "e01_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS ws, event_type,
           COUNT(*) AS n, {_DEC_SUM_ORACLE} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def e01_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation, complete mode."""
    s, parts = _events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        dec_sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )
    return run_to_memory(
        agg.select(
            F.col("window.start").alias("ws"), "event_type", "n", "sum_value"
        ),
        spark,
        "complete",
        state_partitions=parts,
    )


@query(
    "e02_stream_sliding",
    oracle=f"""
    WITH slot AS (
        SELECT epoch_us(ts) // 1800000000
                 - CASE WHEN epoch_us(ts) % 1800000000 < 0 THEN 1 ELSE 0 END
                 AS k,
               event_type, value
        FROM events
    ),
    assigned AS (
        SELECT make_timestamp(k * 1800000000) AS ws, event_type, value
        FROM slot
        UNION ALL
        SELECT make_timestamp((k - 1) * 1800000000) AS ws, event_type, value
        FROM slot
    )
    SELECT ws, event_type, COUNT(*) AS n, {_DEC_SUM_ORACLE} AS sum_value
    FROM assigned GROUP BY 1, 2
    """,
)
def e02_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h length, 30m slide): every event lands in two
    windows; oracle assigns the two window starts arithmetically with
    exact-integer FLOOR (trunc-minus-carry on the negative remainder —
    the c10 construction, exact for any representable timestamp where
    double division would round past |epoch_us| = 2^53). Spark's
    window() floors to the slide boundary for any timestamp domain
    (verified pre-1970: 23:59:58.5 lands in the 23:00/23:30 windows)
    while DuckDB's integer // truncates toward zero, the latent class
    the c10 edge suite caught (the r06 review discovery;
    tests/test_negative_values.py pins this query on the pre-1970
    corpus too)."""
    s, parts = _events_stream(spark, sf_dir)
    agg = s.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type").agg(
        dec_sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )
    return run_to_memory(
        agg.select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value"),
        spark,
        "complete",
        state_partitions=parts,
    )


@query(
    "e03_stream_session",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n,
           {_DEC_SUM_ORACLE} AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def e03_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap.

    Spark semantics: a session extends to last_ts + gap and an event at
    EXACTLY last_ts + 30min MERGES into it — the merge iterator treats
    end == next start as overlap, even though the reported window end is
    exclusive for membership of the aggregate. Empirically pinned round
    9 (tests/test_time_hostile.py::test_session_window_exact_gap
    _merges): events at t0 / t0+1800s / t0+3600s form ONE session;
    t0+1800.000001s splits. Hence the oracle's STRICT ``>`` gap flag
    (gaps-and-islands rewrite; SURVEY.md §7 hard-list #3 warned on this
    boundary, and the round-9 time-hostile corpus caught the pre-fix
    ``>=`` emitting 634 vs Spark's 535 sessions — same merge rule as
    c10's `> 1800` sessionizer)."""
    s, parts = _events_stream(spark, sf_dir)
    agg = s.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        dec_sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )
    return run_to_memory(
        agg.select(
            "user_id", F.col("session_window.start").alias("session_start"), "n", "sum_value"
        ),
        spark,
        "complete",
        state_partitions=parts,
    )


@query(
    "e04_stream_watermark",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS ws, event_type,
           COUNT(*) AS n, {_DEC_SUM_ORACLE} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def e04_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withWatermark + tumbling agg. Under AvailableNow over a bounded
    landing dir nothing is ever later than the final watermark, so the
    result equals e01 — the hash-checkable half of watermark semantics.
    The drop-behavior half (late rows across micro-batches) is
    covered rows-only in tests/test_streaming_behavior.py."""
    s, parts = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            dec_sum("value").alias("sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return run_to_memory(
        agg.select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value"),
        spark,
        "complete",
        state_partitions=parts,
    )


@query(
    "e05_stream_dedup",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def e05_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the landing dir carries every event TWICE
    (duplicate delivery — the at-least-once reality of event buses);
    ``dropDuplicates`` on the key emits each exactly once. Production
    note: use dropDuplicatesWithinWatermark to bound state at 100 TB.

    Identity contract (round-9 duplicate-key probe): keyed dedup is
    oracle-expressible only while duplicate ids carry IDENTICAL
    payloads (redelivery). Duplicate ids with DIFFERING payloads make
    the survivor arrival-order-dependent on any engine — that input is
    an upstream defect to normalize with a07_dedup_keep_latest."""
    s, parts = _events_stream(spark, sf_dir, n_files=2, copies=2)
    dedup = s.select("event_id", "user_id", "event_type", "value").dropDuplicates(
        ["event_id"]
    )
    return run_to_memory(
        dedup,
        spark,
        "append",
        state_partitions=parts,
    )


@query(
    "e06_stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spend
    FROM events GROUP BY user_id
    """,
)
def e06_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (event_count, total_spend) state, emitting the updated state
    each micro-batch. Exact-money determinism: spend accumulates in
    integer cents inside the state (mirrors the engine's decimal-sum
    rule). Single-file landing => one batch => final states only."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_spend", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("cents", LongType()),
            # non-null count: distinguishes an exactly-zero spend from
            # an all-NULL-valued user (SQL SUM is NULL for the latter)
            StructField("m", LongType()),
        ]
    )
    fold, frame = _make_spend_fold()

    def track_user(key, pdf_iter, state: GroupState):
        total = fold(state.get if state.exists else (0, 0, 0), pdf_iter)
        state.update(total)
        yield frame(key, total)

    s, parts = _events_stream(spark, sf_dir, n_files=1)
    # Prune to the two columns the fold reads BEFORE the pandas
    # boundary: applyInPandasWithState's input deserializer still casts
    # timestamps to Arrow timestamp[ns] (unlike the us-preserving batch
    # pandas paths), so an out-of-ns-range ts (year 1500 / 9999 — the
    # round-9 time-hostile corpus) would crash the worker even though
    # the fold never touches ts. Column pruning is also simply the
    # right 100 TB shape for a two-column aggregate.
    s = s.select("user_id", "value")
    stateful = s.groupBy("user_id").applyInPandasWithState(
        track_user,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(stateful, spark, "update", state_partitions=parts)


@query(
    "e07_stream_late_data",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    """,
)
def e07_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting: multi-batch replay (maxFilesPerTrigger=1
    over 4 files) with a 1-hour watermark; foreachBatch records each
    micro-batch's row count.

    WHICH rows are late depends on nondeterministic file->batch
    assignment, but the EMITTED result is (n_batches, n_rows), and both
    are deterministic:
    maxFilesPerTrigger=1 over the 4-file landing gives exactly 4 data
    batches (this passthrough plan has no stateful operator, so no
    trailing no-data batch fires foreachBatch), and row conservation
    makes n_rows the table count. Probed 4x at two SFs (round 7, stable
    both), so the query carries a hash oracle — the 4 literal is the
    landing_copy n_files below. The late-tagging internals stay covered
    behaviorally in tests/test_streaming_behavior.py."""
    import shutil
    import tempfile

    landing, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    batch_rows = []  # foreachBatch runs in the driver process

    def account(batch_df: DataFrame, batch_id: int) -> None:
        batch_rows.append(batch_df.count())

    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    flagged = s.withWatermark("ts", "1 hour")
    checkpoint = tempfile.mkdtemp(prefix="dlse_ckpt_e07_")
    try:
        drain(
            spark,
            flagged.writeStream.foreachBatch(account).option(
                "checkpointLocation", checkpoint
            ),
            180,
        )
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.createDataFrame(
        [(len(batch_rows), sum(batch_rows))], "n_batches bigint, n_rows bigint"
    )


@query(
    "e08_stream_stream_join",
    oracle=f"""
    SELECT e1.event_id AS signup_id, e1.user_id,
           e2.event_id AS follow_id, e2.event_type AS follow_type
    FROM (SELECT * FROM events WHERE {_TS_VALID_ORACLE}) e1
    JOIN (SELECT * FROM events WHERE {_TS_VALID_ORACLE}) e2
      ON e1.user_id = e2.user_id
     AND e1.event_type = 'signup'
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    """,
)
def e08_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks + a time-range bound —
    the b17 interval-join semantics incrementalized.

    Both sides carry a watermark and the join condition bounds e2.ts to
    (e1.ts, e1.ts+10min], so Spark can expire buffered state: each
    side's join state holds at most watermark+10min of data per user —
    the property that makes an unbounded two-stream join runnable
    forever at scale. AvailableNow drain => equals the batch/oracle
    result. Both stream readers share one landing copy (two
    independent readStream sources over the same dir, as production
    dual-readers of one bucket would).

    Both sides pass the event-time validity gate (_gate_event_time,
    mirrored in the oracle) BEFORE the watermark: epoch-adjacent rows
    are born late against the initial epoch-0 watermark and a corrupt
    far-future clock would poison it — see the gate comment above.

    The drain skips the no-data micro-batch that would only evict
    expired state (``no_data_batches=False``): an inner join emits on
    match, never on eviction, and the state is discarded with the
    checkpoint anyway (measured: that batch removed 119,924 of 120,102
    state rows for 1.0-1.4 s and 4 MB written per call).  e12's outer
    join keeps it, because its unmatched rows come from it."""
    landing, schema = landing_copy(spark, sf_dir, "events")
    s1 = _gate_event_time(
        spark.readStream.schema(schema).parquet(landing), "e08_gate_left"
    )
    s2 = _gate_event_time(
        spark.readStream.schema(schema).parquet(landing), "e08_gate_right"
    )
    e1 = (
        s1.filter(F.col("event_type") == "signup")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("ts1"),
        )
    )
    e2 = s2.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("user_id2"),
        F.col("event_type").alias("follow_type"),
        F.col("ts").alias("ts2"),
    )
    joined = e1.join(
        e2,
        (F.col("user_id") == F.col("user_id2"))
        & (F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("signup_id", "user_id", "follow_id", "follow_type")
    return run_to_memory(
        joined,
        spark,
        "append",
        state_partitions=scaled_state_partitions(spark, landing),
        no_data_batches=False,
    )


@query(
    "e09_stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment, COUNT(*) AS n, {_DEC_SUM_ORACLE} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def e09_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static (stream-to-dimension) join + aggregation: the
    enrich-then-aggregate shape of a production staging flow. The
    static dim is broadcast into every micro-batch — no streaming state
    for the join itself, only for the aggregation."""
    from data_lake_staging_engine_spark.sources import load

    s, parts = _events_stream(spark, sf_dir)
    dim = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        s.join(dim, s["user_id"] == dim["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("sum_value"),
        )
    )
    return run_to_memory(agg, spark, "complete", state_partitions=parts)


def _tws_supported() -> bool:
    """Spark 4's transformWithStateInPandas runs a driver-side state
    server whose Python worker imports google.protobuf; in environments
    without protobuf the worker crashes at startup
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE — reproduced here).
    Gate the query registration on the dependency so ``queries()`` only
    declares what the runtime can actually execute; e06 carries the
    custom-stateful-operator coverage either way."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def _e10_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e06's semantics on Spark 4's transformWithStateInPandas — the
    successor stateful API: named state variables on a handle
    (ValueState here; List/MapState and timers available), RocksDB-
    backed per key at scale. Spend accumulates in integer cents inside
    the state, so the emitted total is exact and equals the decimal-sum
    oracle."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    fold, frame = _make_spend_fold()

    class SpendTracker(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "spend", "n BIGINT, cents BIGINT, m BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            total = fold(
                self._state.get() if self._state.exists() else (0, 0, 0), rows
            )
            self._state.update(total)
            yield frame(key, total)

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store (the default
    # HDFS-backed provider is unsupported for this operator)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        s, parts = _events_stream(spark, sf_dir, n_files=1)
        out = s.groupBy("user_id").transformWithStateInPandas(
            SpendTracker(),
            outputStructType="user_id BIGINT, n_events BIGINT, total_spend DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
        return run_to_memory(out, spark, "update", state_partitions=parts)
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


@query(
    "e10_batch_twin",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spend
    FROM events GROUP BY user_id
    """,
)
def e10_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-batch twin of e10's state logic (VERDICT r01 next-round #7):
    the identical per-user (n_events, integer-cents spend) fold that
    ``SpendTracker.handleInputRows`` performs per micro-batch, driven by
    ``applyInPandas`` over the batch table — so the state-transition
    *semantics* are hash-verified against the decimal-sum oracle even in
    environments where the transformWithStateInPandas runtime path is
    dependency-gated off (google.protobuf absent). Where the gate opens,
    e10_transform_with_state must equal this query by construction
    (AvailableNow over a bounded landing = one batch = one fold)."""
    from data_lake_staging_engine_spark.sources import load

    fold, frame = _make_spend_fold()

    def fold_user(key, pdf):
        return frame(key, fold((0, 0, 0), [pdf]))  # (0, 0, 0): the ValueState init

    e = load(spark, sf_dir, "events").select("user_id", "value")
    return e.groupBy("user_id").applyInPandas(
        fold_user, "user_id bigint, n_events bigint, total_spend double"
    )


if _tws_supported():  # pragma: no cover - env-dependent registration
    query(
        "e10_transform_with_state",
        oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spend
        FROM events GROUP BY user_id
        """,
    )(_e10_transform_with_state)


@query(
    "e11_stream_dedup_then_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS ws, event_type,
           COUNT(*) AS n, {_DEC_SUM_ORACLE} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def e11_stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming: exactly-once dedup state feeding a
    windowed aggregation state in ONE streaming query. The landing copy
    duplicates every event (copies=2); dropDuplicates on the event key
    collapses them back before the tumbling aggregation, so the result
    equals e01 over the clean table — proving the dedup stage actually
    ran. This is the at-least-once-source => exactly-once-sink shape of
    a production ingest topology; both stages keep per-key state, which
    is why dedup needs the key (and at scale a watermark via
    dropDuplicatesWithinWatermark, exercised in e05) to stay bounded.
    Same identity contract as e05: duplicate ids must carry identical
    payloads (see e05's docstring / BASELINE.md duplicate-key probe)."""
    s, parts = _events_stream(spark, sf_dir, n_files=2, copies=2)
    deduped = s.dropDuplicates(["event_id"])
    agg = deduped.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        dec_sum("value").alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )
    return run_to_memory(
        agg.select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value"),
        spark,
        "complete",
        state_partitions=parts,
    )


@query(
    "e12_stream_outer_join",
    oracle=f"""
    SELECT e1.event_id AS signup_id, e1.user_id,
           e2.event_id AS follow_id, e2.event_type AS follow_type
    FROM (SELECT * FROM events WHERE {_TS_VALID_ORACLE}) e1
    LEFT JOIN (SELECT * FROM events WHERE {_TS_VALID_ORACLE}) e2
      ON e1.user_id = e2.user_id
     AND e2.event_type = 'purchase'
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    WHERE e1.event_type = 'signup'
      AND e1.ts <= (SELECT LEAST(
                        max(ts) FILTER (WHERE event_type = 'signup'),
                        max(ts) FILTER (WHERE event_type = 'purchase'))
                      - INTERVAL 130 MINUTE
                    FROM events WHERE {_TS_VALID_ORACLE})
    """,
)
def e12_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks — e08's interval
    join plus the null-padded-emission semantics: a signup with no
    purchase inside its 10-minute window is still emitted (with NULL
    follow columns) once the watermark proves no match can arrive.

    Outer emission is WATERMARK-DRIVEN: an unmatched left row flushes
    only once the global watermark passes ts1 + 10min, so rows inside
    the final watermark horizon are never emitted by a terminating
    drain — inherent to the semantics, not a defect. Both engine and
    oracle therefore bound the left side to the provably-flushed
    region, making the query hash-tier where a naive formulation could
    only be rows-only.

    What the final watermark provably is: although ``withWatermark`` is
    declared on the raw streams, Catalyst's PushPredicateThroughNonJoin
    pushes any deterministic conjunct NOT referencing the event-time
    column through the EventTimeWatermark operator — so each side's
    watermark node physically sees only its own event_type subset and
    tracks max(ts of that type) - 1h, NOT max(ts) - 1h. (Declaring the
    watermark "before the filter" does not defend against this; the
    optimizer reorders them. Caught by the round-7 cross-SF parity
    sweep at sf0.001, where the last signup trails the corpus max ts by
    ~4.7 h — far beyond the 60-min safety that happened to cover the
    28-min gap at sf0.01 — and the two tail signups never flushed.)
    The provable global watermark under either plan shape is
    LEAST(max signup ts, max purchase ts) - 1h, so the flushed-region
    cutoff is that LEAST minus 130min (horizon 60 + range 10 + safety
    60) — the identical expression on both engines. The cutoff scalar
    comes from a one-row static aggregate over the same landing fixture
    (the a12 fixture-setup pattern; at scale it's a pipeline constant),
    carried as EPOCH MICROS (an absolute instant) rather than a naive
    datetime literal, so the collect and re-literal legs cannot skew if
    either ever changes timezone handling (ADVICE r06).

    State stays bounded exactly as in e08: watermark + range condition
    => each side buffers at most watermark+10min per user.

    Both stream sides AND the cutoff pre-aggregate pass the event-time
    validity gate (_gate_event_time, mirrored in the oracle's
    subqueries) — epoch-adjacent rows are born late against the
    initial epoch-0 watermark, and an ungated far-future row would
    both poison the watermark and inflate the flushed-region cutoff
    (see the gate comment above)."""
    landing, schema = landing_copy(spark, sf_dir, "events")
    cutoff_micros = (
        _gate_event_time(spark.read.schema(schema).parquet(landing))
        .agg(
            F.unix_micros(
                F.least(
                    F.max(F.when(F.col("event_type") == "signup", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                )
                - F.expr("INTERVAL 130 MINUTES")
            ).alias("c")
        )
        .collect()[0]
        .c
    )
    s1 = _gate_event_time(
        spark.readStream.schema(schema).parquet(landing), "e12_gate_left"
    )
    s2 = _gate_event_time(
        spark.readStream.schema(schema).parquet(landing), "e12_gate_right"
    )
    # The global watermark is the min over every watermark node of
    # (max event time seen - delay). Declaration order relative to the
    # filters is COSMETIC: the optimizer pushes the event_type conjunct
    # below the EventTimeWatermark operator either way (see docstring),
    # so each node tracks its own type's max ts. The cutoff above is
    # derived from exactly those per-type maxima, so the bounded region
    # is provably flushed regardless of event-type density or plan
    # shape.
    e1 = (
        s1.withWatermark("ts", "1 hour")
        .filter(
            (F.col("event_type") == "signup")
            & (F.col("ts") <= F.timestamp_micros(F.lit(cutoff_micros)))
        )
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("ts1"),
        )
    )
    e2 = (
        s2.withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("follow_id"),
            F.col("user_id").alias("user_id2"),
            F.col("event_type").alias("follow_type"),
            F.col("ts").alias("ts2"),
        )
    )
    joined = e1.join(
        e2,
        (F.col("user_id") == F.col("user_id2"))
        & (F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select("signup_id", "user_id", "follow_id", "follow_type")
    return run_to_memory(
        joined,
        spark,
        "append",
        state_partitions=scaled_state_partitions(spark, landing),
    )
